package perfbench

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.JdbcUpsert

class BenchLogicSpec extends AnyFunSuite {

  // ---------------------------------------------------------- generator

  test("the same seed renders byte-identical files; another seed does not") {
    val dir = Files.createTempDirectory("perfbench-gen")
    def bytes(seed: Long, name: String) = {
      val p = dir.resolve(name)
      new Gen.Renderer(Gen.Ref, seed).writeFile(p, 100L, 500)
      Files.readAllBytes(p).toSeq
    }
    assert(bytes(7, "a") == bytes(7, "b"))
    assert(bytes(7, "a") != bytes(8, "c"))
  }

  test("rendering is independent of how events are split into files") {
    val r = new Gen.Renderer(Gen.Wide, 3)
    val dir = Files.createTempDirectory("perfbench-split")
    val whole = Gen.render(r, dir.resolve("whole"), "e", 0L, 1, 400)
    val split = Gen.render(r, dir.resolve("split"), "e", 0L, 4, 100)
    val joined = split.flatMap(s => Files.readAllBytes(s.path).toSeq)
    assert(Files.readAllBytes(whole.head.path).toSeq == joined)
  }

  test("reference shape: 6 categories, 90 days over 3 months") {
    val r = new Gen.Renderer(Gen.Ref, 11)
    val ids = 0L until 20000L
    assert(ids.map(r.categoryOf).toSet.size == 6)
    val days = ids.map(r.dayOf).toSet
    assert(days.size == 90)
    assert(days.map(d => (d.getYear, d.getMonthValue)).size == 3)
  }

  test("wide shape: Zipf categories over ~100k values, dates over 30 years") {
    val r = new Gen.Renderer(Gen.Wide, 11)
    val ids = 0L until 200000L
    val cats = ids.groupBy(r.categoryOf).view.mapValues(_.size).toMap
    assert(cats.size > 20000 && cats.size <= 100000)
    // the head of a Zipf(1) law over 100k ranks holds ~8% of the mass
    val top = cats.values.max.toDouble / ids.size
    assert(top > 0.05 && top < 0.12, s"top category share $top")
    val years = ids.map(r.dayOf(_).getYear).toSet
    assert(years.min == 1994 && years.max == 2023)
  }

  test("transaction ids round-trip through their numeric form") {
    assert(Gen.idNumber(Gen.idOf(123456789L)) == 123456789L)
    assert(Gen.idNumber("t42") == -1L)
    assert(Gen.idNumber(null) == -1L)
  }

  // ------------------------------------------------------------ statistics

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("quantiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile((0 to 100).map(_.toDouble), 0.95) == 95.0)
  }

  test("freshness: a file is fresh when the last query finishes the trigger holding it") {
    // three files of 10 events, due at 1000, 1100, 1200
    val due = Vector(1000L, 1100L, 1200L)
    val events = Vector(10L, 10L, 10L)
    val q1 = Seq(Stats.Trigger(1050, 100, 10), Stats.Trigger(1250, 50, 20))
    // q2 reads file 0 and half of file 1 first: file 1 ends with its second trigger
    val q2 = Seq(Stats.Trigger(1020, 30, 15), Stats.Trigger(1200, 200, 15))
    // q3 has an empty trigger first
    val q3 = Seq(Stats.Trigger(1000, 0, 0), Stats.Trigger(1010, 90, 10), Stats.Trigger(1210, 40, 20))
    val f = Stats.freshnessMs(due, events, Seq(q1, q2, q3))
    assert(f == Vector(150.0, 300.0, 200.0))
  }

  test("freshness: files no query has finished get no sample") {
    val f = Stats.freshnessMs(Vector(0L, 10L), Vector(5L, 5L),
      Seq(Seq(Stats.Trigger(20, 5, 10)), Seq(Stats.Trigger(20, 5, 5))))
    assert(f == Vector(25.0))
  }

  test("source lag: events landed by each trigger's end minus events committed") {
    val landed = (t: Long) => t / 10 // one event every 10 ms
    val lags = Stats.lagEvents(landed, Seq(Stats.Trigger(0, 100, 5), Stats.Trigger(100, 100, 10)), 0L)
    assert(lags == Vector(5.0, 5.0))
  }

  test("a run repeats its work until its seconds pass, within its bounds") {
    var n = 0
    assert(Host.repeatFor(0, 3) { n += 1; n } == Vector(1, 2, 3))
    assert(Host.repeatFor(60, 1, 2)(0).size == 2)
  }

  // ------------------------------------------------------------ catalog

  test("catalog sample: equal-count strata by cold time, each giving its median query") {
    import CatalogBench.Profiled
    val plain = (0 until 20).map(i => Profiled(s"p$i", i.toDouble, 0))
    val deriving = (0 until 4).map(i => Profiled(s"d$i", 10.0 + i, 1))
    val s = CatalogBench.stratifiedSample(plain ++ deriving, 6)
    // 4 of 24 queries derive: one slot; the other five cut 20 plain queries
    // into strata of four; the sample runs in catalog order
    assert(s.map(_.query.name) == Vector("d1", "p1", "p13", "p17", "p5", "p9"))
    assert(s.map(_.stratumSize).sum == 24)
  }

  test("catalog sample of the recorded profile: every query has expected values") {
    val data = java.nio.file.Path.of("data")
    val profile = CatalogBench.readProfile(data.resolve("catalog_profile.tsv"))
    val s = CatalogBench.stratifiedSample(profile, CatalogBench.SampleSize)
    assert(s.map(_.query.name).distinct.size == CatalogBench.SampleSize)
    assert(s.exists(_.query.derived > 0))
    val expected = CatalogBench.readExpected(data.resolve("catalog_expected.tsv"))
    assert(s.forall(x => expected.contains(x.query.name)))
  }

  // -------------------------------------------------------------- trace

  test("self time: a parent keeps the time no child covers, overlaps counted once") {
    def span(id: Long, name: String, a: Double, b: Double, cause: Long) =
      Trace.Span(id, name, a, b, cause, "r")
    val spans = Seq(span(1, "a.p", 0, 100, 0), span(2, "b.x", 10, 50, 1),
      span(3, "b.x", 30, 60, 1), span(4, "c.y", 80, 90, 1), span(5, "c.y", 90, 120, 1))
    val self = Trace.selfSecondsByLayer(spans)
    // children cover 10..60 and 80..100 (the last one clipped to its parent)
    assert(math.abs(self("a") - 0.030) < 1e-12)
    assert(math.abs(self("b") - 0.070) < 1e-12)
    assert(math.abs(self("c") - 0.040) < 1e-12)
  }

  test("a Spark job's description names its cause: a described span or a micro-batch's trigger") {
    Trace.enabled = true
    try {
      val batch = "raw_transactions\nid = 1f2e\nrunId = 9a8b-7c6d\nbatch = 7"
      val t = Trace.causeOfJob(batch)
      assert(t != Trace.NoCause && t == Trace.keyedId(Trace.triggerKey("9a8b-7c6d", 7)))
      Trace.describe("q_x", 42L)
      assert(Trace.causeOfJob("q_x") == 42L)
      assert(Trace.causeOfJob("something else") == Trace.NoCause)
    } finally Trace.enabled = false
  }

  // --------------------------------------------------- stand-in database

  private def withDb[T](f: java.sql.Connection => T): T = {
    StandInDb.register()
    StandInDb.reset()
    StandInDb.Counters.reset()
    val c = DriverManager.getConnection(StandInDb.url("spec"), "u", "p")
    try f(c) finally c.close()
  }

  private def upsert(c: java.sql.Connection, table: String, cols: Seq[String],
      keys: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    val ps = c.prepareStatement(JdbcUpsert.upsertSql(table, cols, keys))
    rows.foreach { r =>
      r.zipWithIndex.foreach {
        case (null, i) => ps.setNull(i + 1, java.sql.Types.VARCHAR)
        case (s: String, i) => ps.setString(i + 1, s)
        case (d: Double, i) => ps.setDouble(i + 1, d)
        case (n: Int, i) => ps.setInt(i + 1, n)
        case (o, i) => ps.setObject(i + 1, o)
      }
      ps.addBatch()
    }
    ps.executeBatch()
    ps.close()
  }

  private def rowsOf(table: String): Map[Vector[Any], Vector[Any]] = {
    import scala.jdk.CollectionConverters._
    StandInDb.current.tables.get(table).map { t =>
      t.rows.asScala.map { case (k, v) => k -> v.toVector }.toMap
    }.getOrElse(Map.empty)
  }

  test("stand-in: DO UPDATE replaces non-key columns of an existing key") {
    withDb { c =>
      val cols = Seq("year", "month", "total_sales")
      upsert(c, "sales_per_month", cols, Seq("year", "month"), Seq(Seq(2024, 9, 1.0), Seq(2024, 10, 2.0)))
      c.commit()
      upsert(c, "sales_per_month", cols, Seq("year", "month"), Seq(Seq(2024, 9, 5.0)))
      c.commit()
      assert(rowsOf("sales_per_month") == Map(
        Vector(2024, 9) -> Vector(2024, 9, 5.0), Vector(2024, 10) -> Vector(2024, 10, 2.0)))
    }
  }

  test("stand-in: DO NOTHING keeps the first row of a key") {
    withDb { c =>
      upsert(c, "seen", Seq("k"), Seq("k"), Seq(Seq("a")))
      c.commit()
      val sql = JdbcUpsert.upsertSql("seen", Seq("k"), Seq("k"))
      assert(sql.endsWith("DO NOTHING"))
      upsert(c, "seen", Seq("k"), Seq("k"), Seq(Seq("a"), Seq("b")))
      c.commit()
      assert(rowsOf("seen").keySet == Set(Vector("a"), Vector("b")))
    }
  }

  test("stand-in: rows publish on commit only; rollback drops them") {
    withDb { c =>
      val cols = Seq("transaction_date", "total_sales")
      upsert(c, "sales_per_day", cols, Seq("transaction_date"), Seq(Seq("2024-09-01", 1.0)))
      assert(rowsOf("sales_per_day").isEmpty)
      c.rollback()
      c.commit()
      assert(rowsOf("sales_per_day").isEmpty)
      upsert(c, "sales_per_day", cols, Seq("transaction_date"), Seq(Seq("2024-09-02", 2.0)))
      c.commit()
      assert(rowsOf("sales_per_day").keySet == Set(Vector("2024-09-02")))
      val k = StandInDb.Counters
      assert((k.connections.get, k.executeBatches.get, k.rows.get, k.commits.get, k.rollbacks.get)
        == ((1L, 2L, 2L, 2L, 1L)))
    }
  }

  test("stand-in: the raw table is a multiset of transaction ids") {
    withDb { c =>
      val cols = Seq("transaction_id", "total_amount")
      val keys = Seq("transaction_id")
      upsert(c, "transactions", cols, keys, Seq(Seq(Gen.idOf(0), 1.0), Seq(Gen.idOf(2), 1.0)))
      upsert(c, "transactions", cols, keys, Seq(Seq(Gen.idOf(2), 1.0), Seq("other", 1.0)))
      c.commit()
      val db = StandInDb.current
      assert(db.rawCounts.take(3).toSeq == Seq(1, 0, 2))
      assert(db.badIds == 1)
    }
  }

  test("stand-in: calls the writer does not make are refused") {
    withDb { c =>
      intercept[UnsupportedOperationException](c.getMetaData)
      intercept[java.sql.SQLException](c.prepareStatement("DELETE FROM transactions"))
    }
  }
}

class BenchmarkFileSpec extends AnyFunSuite {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  private val bench = parse(new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Path.of("..", "BENCHMARK.json")), "UTF-8"))

  private def metrics(key: String): Seq[(String, String)] = (bench \ key) match {
    case JArray(ms) => ms.map(m => ((m \ "name"), (m \ "unit")) match {
      case (JString(n), JString(u)) => n -> u
      case other => fail(s"malformed metric $other")
    })
    case other => fail(s"no $key in BENCHMARK.json: $other")
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run prints") {
    assert(metrics("per_layer") == Main.perLayerNames.map(n => n -> Main.unitOf(n)))
  }

  test("BENCHMARK.json names only workloads the benchmark runs") {
    val JArray(ws) = bench \ "workloads": @unchecked
    val names = ws.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }
}
