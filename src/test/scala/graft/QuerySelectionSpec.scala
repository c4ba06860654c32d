package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.selectQueries`, the `SPARK_GRAFT_ONLY` parser Bench,
  * Verify and ShuffleProbe share: a typo'd or empty filter fails
  * loudly instead of running a silently partial or empty suite. */
class QuerySelectionSpec extends AnyFunSuite {

  test("an unknown query name throws, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries("q1_lineitem_agg,q_no_such_query"))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("a list naming no queries throws") {
    for (only <- Seq("", ",", " , ")) intercept[IllegalArgumentException](
      SparkEntry.selectQueries(only))
  }

  test("a list selects exactly the named queries, blanks trimmed") {
    assert(SparkEntry.selectQueries("q1_lineitem_agg, q3_shipping").keySet ===
      Set("q1_lineitem_agg", "q3_shipping"))
  }
}
