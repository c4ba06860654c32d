package graft

class SparkEntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    // collect(), not count(): count() lets Catalyst prune every column
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every query runs and returns rows on sf0.001") {
    CatalogBuilds.all(spark, sf).foreach { b =>
      assert(b.nonEmpty, s"query ${b.name} returned 0 rows")
    }
  }

  test("query column names match oracle aliases (sorted-column hash contract)") {
    // no unaliased aggregate names like sum(value): the oracle compare
    // hashes sorted columns by name
    CatalogBuilds.all(spark, sf).foreach { b =>
      b.columns.foreach { c =>
        assert(!c.contains("("), s"${b.name} column '$c' looks unaliased")
      }
    }
  }
}
