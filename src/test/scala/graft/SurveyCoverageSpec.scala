package graft

import org.scalatest.funsuite.AnyFunSuite

/** Coverage cross-check: SURVEY.md §2's declared query keys, the
  * [[SparkEntry.queries]] registry and the [[SparkEntry.oracleSql]]
  * twins are one set. The bench order is derived from the registry, so
  * this is the both-direction check that keeps every declared query
  * registered, benched and oracle-compared. */
class SurveyCoverageSpec extends AnyFunSuite {

  private lazy val surveyKeys: Set[String] = {
    val row = """\| `(q[^`]+)`""".r
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    try {
      var inS2 = false
      src.getLines().flatMap { line =>
        if (line.startsWith("## ")) inS2 = line.startsWith("## §2")
        if (inS2) row.findPrefixMatchOf(line).map(_.group(1)) else None
      }.toSet
    } finally src.close()
  }

  private def diff(a: Set[String], b: Set[String]): String =
    s"missing: ${(a -- b).toSeq.sorted.mkString(",")}; " +
      s"extra: ${(b -- a).toSeq.sorted.mkString(",")}"

  test("SURVEY.md §2 keys equal the registered query keys") {
    assert(surveyKeys.nonEmpty, "no query keys parsed from SURVEY.md §2")
    val queries = SparkEntry.queries.keySet
    assert(queries == surveyKeys, diff(surveyKeys, queries))
  }

  test("every registered query has an oracle twin and no oracle is orphaned") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles == queries, diff(queries, oracles))
  }

  test("the bench runs headline10 first, then every other registered query once") {
    val order = Bench.headline
    assert(order.take(Bench.headline10.size) == Bench.headline10)
    assert(order.distinct == order)
    assert(order.toSet == SparkEntry.queries.keySet)
  }
}
