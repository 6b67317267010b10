package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AreaSpec, BlsFold, TextFunctions, VectorOps}
import graft.operators.{BloomJoin, RankSplit}

/** Layer probes of a traced run: each times one public constructor of
  * `graft.functions`, `graft.operators` or `graft.plans` over an input
  * the probe pins first, so only the layer's own work is timed. */
object Probes {
  /** Timed executions per probe, after one untimed warm-up. */
  private val Reps = 3

  private def median(xs: Seq[Double]): Double = PerfBench.median(xs)

  private def pinned(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  private def timeNoop(build: () => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    median(Seq.fill(Reps)(once()))
  }

  /** Input rows per second of each `graft.functions` constructor. */
  def functions(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    val (docs, nDocs) = pinned(spark.read.parquet(s"$dataDir/documents.parquet")
      .select($"text").crossJoin(spark.range(8)).drop("id"))
    val (vecs, nVecs) = pinned(spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(VectorOps.intVec("embedding").as("v")).crossJoin(spark.range(40))
      .select($"v", transform(sequence(lit(0), lit(7)),
        i => pmod($"id" + i * 7, lit(8L)).cast("int")).as("codes")))
    val lut = typedLit((0 until 8).map(m => (0 until 8).map(k => (m * 8 + k).toLong)))
    val (pts, nPts) = pinned(spark.range(400000).select(
      (($"id" * 137) % 36000 / 100.0).as("ra"),
      (($"id" * 97) % 17000 / 100.0 - 85.0).as("decl")))
    val (ser, nSer) = pinned(graft.Tables.events(spark, dataDir)
      .filter($"user_id".isNotNull)
      .crossJoin(spark.range(4))
      .select(($"user_id" * 4 + $"id").as("user_id"), expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc")))
    val periods = (0 until 16).map(i => (3600.0 * 1e6 * (1.5 + 0.75 * i)).toLong)
    val bins = 64
    val cosTab = (0 until bins).map(b => math.round(math.cos(2 * math.Pi * b / bins) * 1e6))
    val sinTab = (0 until bins).map(b => math.round(math.sin(2 * math.Pi * b / bins) * 1e6))
    val out = Seq(
      "functions.minhash_sig_rows_s" -> nDocs / timeNoop(() =>
        docs.select(TextFunctions.minhashSig($"text").as("m"))),
      "functions.winnow_rows_s" -> nDocs / timeNoop(() =>
        docs.select(TextFunctions.winnowFingerprints($"text").as("w"))),
      "functions.rep_stats_rows_s" -> nDocs / timeNoop(() =>
        docs.select(TextFunctions.repStats($"text").as("r"))),
      "functions.int_vec_dot_rows_s" -> nVecs / timeNoop(() =>
        vecs.select(VectorOps.dotC($"v", $"v").as("d"))),
      "functions.pq_adc_rows_s" -> nVecs / timeNoop(() =>
        vecs.withColumn("lut", lut).select(expr("pq_adc(lut, codes)").as("a"))),
      "functions.areaspec_circle_rows_s" -> nPts / timeNoop(() =>
        pts.filter(AreaSpec.circle($"ra", $"decl", lit(180.0), lit(20.0), lit(25.0)))),
      "functions.bls_cell_fold_rows_s" -> nSer / timeNoop(() =>
        ser.groupBy($"user_id").agg(BlsFold.blsCellFold($"tus", $"xc", periods, 8).as("c"))),
      "functions.gls_suf_fold_rows_s" -> nSer / timeNoop(() =>
        ser.groupBy($"user_id").agg(
          BlsFold.glsSufFold($"tus", $"xc", periods, bins, cosTab, sinTab).as("c"))))
    Seq(docs, vecs, pts, ser).foreach(_.unpersist(true))
    out
  }

  /** Seconds of one `graft.operators` / `graft.plans` operation over
    * the catalog's lineitem table (build and execute both timed: the
    * operators run jobs while they construct their frame). */
  def operators(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    import spark.implicits._
    val (li, _) = pinned(graft.Tables.lineitem(spark, dataDir))
    val orders = graft.Tables.orders(spark, dataDir)
    val urgent = orders.filter($"o_orderpriority" === "1-URGENT")
    val topk = Window.partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val out = Seq(
      "operators.rank_split_s" -> timeNoop(() => RankSplit.rank(li, Seq("l_returnflag"),
        "l_extendedprice", Seq("l_extendedprice", "l_orderkey", "l_linenumber"))),
      "operators.bloom_semi_s" -> timeNoop(() =>
        BloomJoin.semi(li, urgent, "l_orderkey", "o_orderkey", 4096L)),
      "plans.topk_per_key_s" -> timeNoop(() =>
        li.withColumn("rn", row_number().over(topk)).filter($"rn" <= 5)))
    li.unpersist(true)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    out
  }
}
