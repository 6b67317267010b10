package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused equivalence specs for the r19 optimization round's custom
  * kernels: each fold/expression must be BIT-IDENTICAL to the
  * declarative pipeline it replaced (the replaced expressions are
  * reconstructed inline here, so a drift in either direction fails). */
class FoldKernelsSpec extends AnyFunSuite {

  import SparkTestSession.spark

  private val Grid: Seq[Long] = Seq(3600000000L, 7200000000L, 9000000000L,
    13000000000L)

  test("BlsCellFold equals the explode + conditional-sum aggregate bit for bit") {
    import spark.implicits._
    val nb = 16
    // deterministic pseudo-random series: 7 objects, ~200 rows each,
    // negative fluxes included
    val rows = for (u <- 1L to 7L; i <- 1L to 200L) yield {
      val t = (u * 7919L + i * 104729L) % 14000000000L
      val x = ((u * 31L + i * 17L) % 4001L) - 2000L
      (u, t, x)
    }
    val ser = rows.toDF("user_id", "tus", "xc")
    val aggCols = Seq(
      count(lit(1)).as("n"), sum($"xc").as("sx"),
      sum($"xc" * $"xc").as("sxx")) ++
      (0 until nb).flatMap(i => Seq(
        sum(when($"b" === i, 1L).otherwise(0L)).as(s"nb$i"),
        sum(when($"b" === i, $"xc").otherwise(0L)).as(s"sb$i")))
    val old = ser
      .withColumn("p_us", explode(typedLit(Grid)))
      .withColumn("b", expr(s"((tus % p_us) * $nb) DIV p_us").cast("int"))
      .groupBy($"user_id", $"p_us")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val neu = ser.groupBy($"user_id")
      .agg(graft.functions.BlsFold.blsCellFold($"tus", $"xc", Grid, nb)
        .as("cs"))
      .select($"user_id", explode($"cs").as("c"))
      .select(Seq($"user_id", $"c.p_us", $"c.n", $"c.sx", $"c.sxx") ++
        (0 until nb).flatMap(i => Seq($"c.nbs".getItem(i),
          $"c.sbs".getItem(i))): _*)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(neu.keySet == old.keySet, "cell key sets differ")
    for ((k, v) <- old) assert(neu(k) == v, s"cells at $k differ")
  }

  test("GlsSufFold equals the explode + trig-lookup aggregate bit for bit") {
    import spark.implicits._
    val q = queries.TimeSeries
    val rows = for (u <- 1L to 5L; i <- 1L to 150L) yield {
      val t = (u * 6007L + i * 900001L) % 14000000000L
      val x = ((u * 13L + i * 29L) % 3001L) - 1500L
      (u, t, x)
    }
    val ser = rows.toDF("user_id", "tus", "xc")
    val nb = q.LsBins
    val old = ser
      .withColumn("p_us", explode(typedLit(q.PeriodGridUs)))
      .withColumn("b", expr(s"((tus % p_us) * $nb) DIV p_us").cast("int"))
      .withColumn("c", element_at(typedLit(q.LsCosTab), $"b" + 1))
      .withColumn("si", element_at(typedLit(q.LsSinTab), $"b" + 1))
      .groupBy($"user_id", $"p_us")
      .agg(count(lit(1)).as("n"),
        sum($"xc").as("sx"), sum($"xc" * $"xc").as("sxx"),
        sum($"c").as("sc"), sum($"si").as("ss"),
        sum($"xc" * $"c").as("sxc"), sum($"xc" * $"si").as("sxs"),
        sum($"c" * $"c").as("scc"), sum($"si" * $"si").as("sss"),
        sum($"c" * $"si").as("scs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val neu = ser.groupBy($"user_id")
      .agg(graft.functions.BlsFold.glsSufFold($"tus", $"xc",
        q.PeriodGridUs, nb, q.LsCosTab, q.LsSinTab).as("cs"))
      .select($"user_id", explode($"cs").as("c"))
      .select($"user_id", $"c.p_us", $"c.n", $"c.sx", $"c.sxx", $"c.sc",
        $"c.ss", $"c.sxc", $"c.sxs", $"c.scc", $"c.sss", $"c.scs")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(neu.keySet == old.keySet)
    for ((k, v) <- old) assert(neu(k) == v, s"GLS sums at $k differ")
  }

  test("CeCellFold equals the cell aggregate + n_i window chain, incl. the beyond-table null") {
    import spark.implicits._
    val grid = Seq(3600000000L, 9000000000L)
    val pb = 4
    val mb = 3
    // a SHORT log table (max count 5) so the beyond-table term-null
    // path is exercised: bins holding >5 rows must null their term —
    // the NULL-on-out-of-bounds semantics pinned by the DuckDB
    // oracle's list_extract (try_element_at here; plain element_at
    // THROWS past the array end under Spark 4's ANSI default)
    val tab: Seq[Long] = (1 to 5).map(k => math.round(math.log(k) * 1e6))
    // per-user row counts 8..32: small users keep every phase bin at
    // ni <= 5 (valid terms), large ones push ni past the short table
    // (null terms) — both paths exercised
    val rows = for (u <- 1L to 4L; i <- 1L to 8L * u) yield {
      // the step must be of the period grid's ORDER (0.7e9 vs periods
      // 3.6e9/9e9) so rows actually spread across phase bins: small
      // users then hold every bin at ni <= 5 (valid terms) while
      // 32-row users still push single bins past the short table
      val t = (u * 11003L + i * 700000001L) % 12000000000L
      val m = (u + i) % mb
      (u, t, m)
    }
    val ser = rows.toDF("user_id", "tus", "mbin")
    val cells = ser
      .withColumn("p_us", explode(typedLit(grid)))
      .withColumn("pbin", expr(s"((tus % p_us) * $pb) DIV p_us"))
      .groupBy($"user_id", $"p_us", $"pbin", $"mbin")
      .agg(count(lit(1)).as("nij"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"p_us", $"pbin")
    val old = cells
      .withColumn("ni", sum($"nij").over(wp))
      .groupBy($"user_id", $"p_us")
      .agg(sum($"nij").as("n"),
        sum($"nij" * (try_element_at(typedLit(tab), $"nij".cast("int")) -
          try_element_at(typedLit(tab), $"ni".cast("int")))).as("num"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)))).toMap
    val neu = ser.groupBy($"user_id")
      .agg(graft.functions.BlsFold.ceCellFold($"tus", $"mbin",
        grid, pb, mb, tab).as("cs"))
      .select($"user_id", explode($"cs").as("c"))
      .select($"user_id", $"c.p_us", $"c.n", $"c.num")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)))).toMap
    assert(neu.keySet == old.keySet)
    for ((k, v) <- old) assert(neu(k) == v, s"CE cells at $k differ")
    // non-vacuous: the short table must actually null at least one num
    assert(old.values.exists(_._2.isEmpty),
      "fixture never hit the beyond-table null path")
    assert(old.values.exists(_._2.nonEmpty),
      "fixture never produced a valid num")
  }

  test("wordGramHashes / charGramHashes equal the declarative gram pipelines") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  b c d"),              // double space -> empty token kept
      (3L, "one two"),               // <3 words -> no word grams
      (4L, "repeat repeat repeat repeat"),
      (5L, "trailing space "),       // trailing empty token
      (6L, "naïve café über — mixed ünïcode bytes test here"),
      (7L, "short"),                 // <8 chars -> no char grams
      (8L, "exactly8"),
      (9L, "x y " + ("abcdefgh" * 10)))
      .toDF("doc_id", "text")
    val oldWord = docs
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> xxhash64(concat_ws(' ', w[i], w[i+1], w[i+2])))")))
        .as("gram"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val newWord = docs
      .select($"doc_id",
        explode(graft.functions.TextFunctions.wordGramHashes($"text", 3))
          .as("gram"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(newWord == oldWord, "word gram hash sets differ")
    val oldChar = docs
      .filter(length($"text") >= 8)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, length(text) - 7), " +
          "i -> xxhash64(substring(text, i, 8)))"))).as("gram"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val newChar = docs
      .select($"doc_id",
        explode(graft.functions.TextFunctions.charGramHashes($"text", 8))
          .as("gram"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(newChar == oldChar, "char gram hash sets differ")
  }

  test("CountBelow equals the aggregate() fold for long and double cells") {
    import spark.implicits._
    import org.apache.spark.sql.graftx.ColumnBridge
    val dfL = Seq((Seq(10L, 20L, 30L), 5L), (Seq(10L, 20L, 30L), 10L),
      (Seq(10L, 20L, 30L), 11L), (Seq(10L, 20L, 30L), 35L),
      (Seq.empty[Long], 7L)).toDF("sps", "v")
    val gotL = dfL.select(ColumnBridge.column(graft.functions.CountBelow(
      ColumnBridge.expression($"sps"), ColumnBridge.expression($"v"))),
      expr("aggregate(sps, 0, (acc, b) -> acc + IF(v > b, 1, 0))"))
      .collect()
    assert(gotL.forall(r => r.getInt(0) == r.getInt(1)),
      s"long count_below mismatch: ${gotL.mkString(",")}")
    val dfD = Seq((Seq(1.5, 2.5), 2.5), (Seq(1.5, 2.5), 2.6),
      (Seq(1.5, 2.5), 0.0)).toDF("sps", "v")
    val gotD = dfD.select(ColumnBridge.column(graft.functions.CountBelow(
      ColumnBridge.expression($"sps"), ColumnBridge.expression($"v"))),
      expr("aggregate(sps, 0, (acc, b) -> acc + IF(v > b, 1, 0))"))
      .collect()
    assert(gotD.forall(r => r.getInt(0) == r.getInt(1)),
      s"double count_below mismatch: ${gotD.mkString(",")}")
  }
}
