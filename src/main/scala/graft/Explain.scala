package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted plans (pushdown, pruning, join strategies,
  * codegen spans) for the named queries, or for every query in bench
  * order, under the session config the bench times. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    // SPARK_GRAFT_EXPLAIN_EXECUTE=1: materialize first, then print the
    // FINAL adaptive plan (AQE join selection, stage/exchange reuse,
    // skew splits are only visible post-execution).
    val execute = sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTE").contains("1")
    for (n <- names) {
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // drive df's OWN QueryExecution (a noop write would execute a
      // separate one and leave this plan initial), without collecting
      // any rows to the driver
      if (execute) df.queryExecution.toRdd.foreachPartition(_ => ())
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
