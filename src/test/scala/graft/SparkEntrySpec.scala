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

  // one build per query, shared by the two tests below: the alias check
  // reads the built frame's columns, and collect() (not count()) exhausts
  // every output column, so Catalyst cannot prune a column under test
  private lazy val built: Seq[(String, Array[String], Boolean)] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val df = fn(spark, sf)
      (name, df.columns, df.collect().nonEmpty)
    }

  test("every query runs and returns rows on sf0.001") {
    built.foreach { case (name, _, nonEmpty) =>
      assert(nonEmpty, s"query $name returned 0 rows")
    }
  }

  test("query column names match oracle aliases (sorted-column hash contract)") {
    // no unaliased aggregate names like sum(value): the oracle compare
    // hashes sorted columns by name
    built.foreach { case (name, cols, _) =>
      cols.foreach { c =>
        assert(!c.contains("("), s"$name column '$c' looks unaliased")
      }
    }
  }
}
