package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a result: its sorted,
  * lower-cased column names, its row count, and the sum over rows of a
  * row hash taken after every value is brought to one canonical type
  * per kind (integers → bigint, other numbers → double, dates →
  * text, timestamps → epoch micros). Two results with equal rows in
  * any order, from either engine, fingerprint equal. */
final case class Fingerprint(columns: String, rows: Long, hash: Long) {
  def line(name: String): String = s"$name\t$columns\t$rows\t$hash"
}

object Fingerprint {
  private val Modulus = 2147483647L

  private def canon(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case d: DecimalType if d.scale == 0 => c.cast(LongType)
    case FloatType | DoubleType | _: DecimalType => c.cast(DoubleType) + lit(0.0)
    case DateType => c.cast(StringType)
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case StringType | BooleanType | BinaryType => c
    case _ => c.cast(StringType)
  }

  private def sortedFields(df: DataFrame): Seq[StructField] =
    df.schema.fields.toSeq.sortBy(_.name.toLowerCase(java.util.Locale.ROOT))

  private def names(df: DataFrame): String =
    sortedFields(df).map(_.name.toLowerCase(java.util.Locale.ROOT)).mkString(",")

  private def aggs(df: DataFrame): (Column, Column) = {
    val cols = sortedFields(df).map(f =>
      canon(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    (count(lit(1)).as("n"),
      sum(pmod(xxhash64(cols: _*), lit(Modulus))).as("h"))
  }

  private def fromValues(cols: String, n: Any, h: Any): Fingerprint =
    Fingerprint(cols, n.asInstanceOf[Long], Option(h).map(_.asInstanceOf[Long]).getOrElse(0L))

  /** `df` with the fingerprint folded into its own execution; read it
    * with [[observed]] once the action that runs `df` has finished. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val (n, h) = aggs(df)
    df.observe(obs, n, h)
  }

  def observed(df: DataFrame, obs: Observation): Fingerprint = {
    val m = obs.get
    fromValues(names(df), m("n"), m("h"))
  }

  /** Fingerprint of a materialized result (the oracle's answer). */
  def of(df: DataFrame): Fingerprint = {
    val (n, h) = aggs(df)
    val r = df.agg(n, h).head()
    fromValues(names(df), r.get(0), r.get(1))
  }

  def parse(line: String): (String, Fingerprint) = line.split("\t", -1) match {
    case Array(name, cols, rows, hash) => name -> Fingerprint(cols, rows.toLong, hash.toLong)
    case _ => throw new IllegalArgumentException(s"malformed fingerprint line: $line")
  }
}
