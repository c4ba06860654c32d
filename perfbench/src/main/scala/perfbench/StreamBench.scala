package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ecommerce
import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** The stream workloads: the production entry point
  * `EcommerceStreamJob.startAll` reading the job's own `fileSource` and
  * writing through the real `JdbcUpsert` into the stand-in database.
  *
  * The benchmark applies deployment settings only: the RocksDB state store
  * and the source's files per trigger. Everything else is the program's. */
object StreamBench {

  /** A stream workload: up to `rounds` batches of `filesPerRound` files of
    * `perFile` events each, all rendered before anything is timed; a run
    * lands rounds until its seconds have passed, at least `minRounds`.
    * `tickMs` set = paced (one file per tick, open loop, one round); unset =
    * drain (each round lands at once, after the previous one has been
    * committed). */
  final case class Workload(name: String, shape: Gen.Shape, warmupEvents: Int,
      minRounds: Int, rounds: Int, filesPerRound: Int, perFile: Int,
      filesPerTrigger: Option[Int], tickMs: Option[Long])

  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The four queries `startAll` starts, in its order. */
  val QueryNames: Seq[String] = EcommerceStreamJob.pipelines.map(_._1)

  /** Drain rounds a run measures at least, and renders (at most). */
  val MinDrainRounds = 5
  val MaxDrainRounds = 7

  def workload(name: String, seconds: Int): Workload = name match {
    // rounds of 80k events, one 80k-event trigger per query each
    case "drain_ref" => Workload(name, Gen.Ref, 2000, MinDrainRounds, MaxDrainRounds, 8, 10000, Some(8), None)
    case "drain_wide_keys" => Workload(name, Gen.Wide, 2000, MinDrainRounds, MaxDrainRounds, 8, 10000, Some(8), None)
    case "paced_ref" =>
      // 1,000 events/s: one 50-event file every 50 ms
      Workload(name, Gen.Ref, 2000, 1, 1, seconds * 20, 50, None, Some(50L))
  }

  /** One started topology: its input directory and its four queries. */
  final class Topology(val input: Path, val queries: Seq[StreamingQuery]) {
    def runId(q: StreamingQuery): String = q.runId.toString
    def stop(): Unit = queries.foreach { q => q.stop(); q.awaitTermination(60000) }
  }

  /** One round: when its files were due and landed, and the triggers
    * (with input) each query ran for it. */
  final case class Window(t0Ms: Long, endMs: Long, events: Long,
      byQuery: Map[String, Vector[ProgressLog.Entry]], lander: Gen.Lander,
      dueMs: Vector[Long]) {
    def triggers: Vector[ProgressLog.Entry] = byQuery.values.flatten.toVector
    def seconds: Double = (endMs - t0Ms) / 1000.0
  }

  /** All rounds of one measurement, with what the JVM and the stand-in
    * database saw over them. */
  final case class Measured(windows: Vector[Window], jvmGcS: Double, heapPeakMb: Double,
      sinkCounts: Map[String, Double], connMs: Vector[Double]) {
    def triggers: Vector[ProgressLog.Entry] = windows.flatMap(_.triggers)
    def byQuery(n: String): Vector[ProgressLog.Entry] = windows.flatMap(_.byQuery(n))
    def events: Long = windows.map(_.events).sum
  }

  final class Runner(w: Workload, seed: Long, work: Path, progress: ProgressLog) {
    private val renderer = new Gen.Renderer(w.shape, seed)
    private var round = 0

    /** Start a fresh topology (new input, checkpoints and stand-in tables)
      * whose input already holds the warmup slice; return once all four
      * queries have committed it. */
    def start(spark: SparkSession): Topology = {
      round += 1
      val input = Files.createDirectories(work.resolve(s"input-$round"))
      renderer.writeFile(input.resolve("warmup.json"), 0L, w.warmupEvents)
      StandInDb.reset()
      StandInDb.register()
      val opts = w.filesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap
      val cfg = JobConfig(checkpointRoot = work.resolve(s"ckpt-$round").toString,
        db = StandInDb.config)
      val queries = EcommerceStreamJob.startAll(spark, cfg,
        Some(EcommerceStreamJob.fileSource(spark, input.toString, opts)))
      queries.foreach(_.processAllAvailable())
      new Topology(input, queries)
    }

    /** Pre-render every round's files into staging directory `tag`. */
    def stage(tag: String): Vector[Vector[Gen.Staged]] =
      Gen.render(renderer, work.resolve(s"staging-$tag"), "e",
        w.warmupEvents.toLong, w.rounds * w.filesPerRound, w.perFile)
        .grouped(w.filesPerRound).toVector

    /** Land rounds into the running topology until `seconds` have passed
      * (at least the workload's fewest) and measure. */
    def measure(t: Topology, rounds: Vector[Vector[Gen.Staged]], seconds: Int): Measured = {
      StandInDb.Counters.reset()
      val gc0 = Host.gcSeconds
      Host.resetHeapPeak()
      val next = rounds.iterator
      val windows = Host.repeatFor(seconds, w.minRounds, rounds.size)(window(t, next.next()))
      val c = StandInDb.Counters
      Measured(windows, Host.gcSeconds - gc0, Host.heapPeakMb,
        Map("sinks.connections" -> c.connections.get.toDouble,
          "sinks.execute_batches" -> c.executeBatches.get.toDouble,
          "sinks.rows" -> c.rows.get.toDouble, "sinks.commits" -> c.commits.get.toDouble,
          "sinks.rollbacks" -> c.rollbacks.get.toDouble),
        c.connDurationsMs)
    }

    private def window(t: Topology, staged: Vector[Gen.Staged]): Window = {
      val before = t.queries.map(q => q.name -> q.lastProgress.batchId).toMap
      val t0 = System.currentTimeMillis() + 100
      val due = w.tickMs match {
        case Some(tick) => staged.indices.map(i => t0 + i * tick).toVector
        case None => Vector.fill(staged.size)(t0)
      }
      val lander = new Gen.Lander(staged, t.input, due)
      lander.start()
      lander.join()
      t.queries.foreach(_.processAllAvailable())
      val byQuery = t.queries.map { q =>
        progress.awaitBatch(q.name, t.runId(q), q.lastProgress.batchId)
        q.name -> progress.entries(q.name, t.runId(q))
          .filter(e => e.batchId > before(q.name) && e.rows > 0)
      }.toMap
      val endMs = byQuery.values.flatten.map(_.trigger.endMs).max
      Window(t0, endMs, staged.map(_.events.toLong).sum, byQuery, lander, due)
    }
  }

  /** Freshness of every file of a paced round, in ms. */
  def freshness(win: Window): Vector[Double] =
    Stats.freshnessMs(win.dueMs, Vector.fill(win.dueMs.size)(win.events / win.dueMs.size),
      QueryNames.map(n => win.byQuery(n).map(_.trigger)))

  /** End-to-end figures: throughput and the latency samples. Drains:
    * events/s (median over rounds, each from landing to the last query's
    * commit) and commit latency (per round and query, from landing to that
    * query's commit of the round); paced: events over due-to-committed
    * time, and file freshness. */
  final case class Figures(throughput: Double, latencyMs: Vector[Double]) {
    def p50: Double = Stats.median(latencyMs)
  }

  /** Per round and query: landing to the end of the query's last trigger of
    * the round, in ms. */
  def commitMs(m: Measured): Vector[Double] =
    m.windows.flatMap(win => QueryNames.map(n => (win.byQuery(n).map(_.trigger.endMs).max - win.t0Ms).toDouble))

  def endToEnd(w: Workload, m: Measured): Figures = w.tickMs match {
    case Some(_) =>
      val win = m.windows.head
      val f = freshness(win)
      require(f.size == win.dueMs.size, s"${win.dueMs.size - f.size} files never committed")
      Figures(win.events / ((win.endMs - win.dueMs.head) / 1000.0), f)
    case None =>
      Figures(Stats.median(m.windows.map(x => x.events / x.seconds)), commitMs(m))
  }

  /** Compare the stand-in database with a batch recomputation over the
    * landed files. Returns (rows expected, rows missing or wrong). */
  def check(spark: SparkSession, input: Path, totalEvents: Long): (Long, Long) = {
    val tx = EcommerceStreamJob.parse(spark.read.text(input.toString).select(col("value"))).persist()
    def collect[K](df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Row => K) =
      df.collect().map(r => key(r) -> r.getAs[Double]("total_sales")).toMap
    val expCat = collect(Ecommerce.salesPerCategory(tx, "productCategory", "totalAmount"),
      _.getAs[String]("category"))
    val expDay = collect(Ecommerce.salesPerDay(tx, "transactionDate", "totalAmount"),
      _.getAs[java.sql.Date]("transaction_date").toLocalDate.toString)
    val expMonth = collect(Ecommerce.salesPerMonthOfYear(tx, "transactionDate", "totalAmount"),
      _.getAs[Int]("month").toString)
    tx.unpersist()
    val db = StandInDb.current
    db.synchronized {
      var failed = 0L
      // raw copy: every id present exactly once, nothing else
      val counts = db.rawCounts
      var id = 0
      while (id < counts.length) {
        val c = counts(id)
        if (id < totalEvents) { if (c != 1) failed += 1 }
        else if (c != 0) failed += 1
        id += 1
      }
      if (counts.length < totalEvents) failed += totalEvents - counts.length
      failed += db.badIds
      // agg tables: one row per key, total equal to the batch recomputation
      def aggFailures(table: String, keyCol: String, render: Any => String,
          exp: Map[String, Double]): Long = {
        val t = db.tables.get(table)
        val rows = t.map { tb =>
          val k = tb.columns.indexOf(keyCol)
          val v = tb.columns.indexOf("total_sales")
          import scala.jdk.CollectionConverters._
          tb.rows.values.asScala.toVector.map(r => render(r(k)) -> r(v).asInstanceOf[Double])
        }.getOrElse(Vector.empty)
        val got = rows.groupBy(_._1)
        val wrong = exp.count { case (k, e) =>
          got.get(k) match {
            case Some(Vector((_, v))) => math.abs(v - e) > 1e-9 * math.max(1.0, math.abs(e))
            case _ => true
          }
        }
        val extra = got.count { case (k, vs) => !exp.contains(k) || vs.size > 1 }
        wrong + extra
      }
      failed += aggFailures("sales_per_category", "category", _.toString, expCat)
      failed += aggFailures("sales_per_day", "transaction_date",
        d => d.asInstanceOf[java.sql.Date].toLocalDate.toString, expDay)
      failed += aggFailures("sales_per_month", "month", _.toString, expMonth)
      (totalEvents + expCat.size + expDay.size + expMonth.size, failed)
    }
  }

  /** Per-layer figures of one measurement. */
  def layers(w: Workload, m: Measured): mutable.LinkedHashMap[String, Double] = {
    val d = mutable.LinkedHashMap[String, Double]()
    val trig = m.triggers
    def p50(f: ProgressLog.Entry => Double) = Stats.median(trig.map(f))
    d("engine.triggers") = trig.size
    d("engine.trigger_ms_p50") = p50(_.phase("triggerExecution").toDouble)
    d("engine.trigger_ms_p95") = Stats.quantile(trig.map(_.phase("triggerExecution").toDouble), 0.95)
    Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
      "queryPlanning" -> "planning", "addBatch" -> "add_batch",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets").foreach {
      case (k, n) => d(s"engine.${n}_ms_p50") = p50(_.phase(k).toDouble)
    }
    if (w.tickMs.isDefined) {
      val win = m.windows.head
      val lags = QueryNames.flatMap(n => Stats.lagEvents(win.lander.eventsLandedBy,
        win.byQuery(n).map(_.trigger), 0L))
      d("source.lag_events_p95") = Stats.quantile(lags, 0.95)
      val lastDue = win.dueMs.last
      d("source.lag_events_end") = QueryNames.map { n =>
        val committed = win.byQuery(n).filter(_.trigger.endMs <= lastDue).map(_.rows).sum
        (win.lander.eventsLandedBy(lastDue) - committed).toDouble
      }.max
      val late = win.lander.lateMs
      d("gen.late_ms_p99") = Stats.quantile(late, 0.99)
      d("gen.late_ms_max") = late.max
    }
    val statefulNames = QueryNames.drop(1)
    val stateful = statefulNames.flatMap(m.byQuery)
    d("state.rows_total") = statefulNames.map(n => m.byQuery(n).last.stateRowsTotal).sum.toDouble
    d("state.rows_updated_per_trigger") = Stats.median(stateful.map(_.stateRowsUpdated.toDouble))
    d("state.update_ms_p50") = Stats.median(stateful.map(_.stateUpdateMs.toDouble))
    d("state.commit_ms_p50") = Stats.median(stateful.map(_.stateCommitMs.toDouble))
    d("state.memory_bytes") = statefulNames.map(n => m.byQuery(n).last.stateMemoryBytes).sum.toDouble
    d ++= m.sinkCounts
    d("sinks.conn_ms_p50") = if (m.connMs.isEmpty) 0.0 else Stats.median(m.connMs)
    d("sinks.conn_ms_p95") = if (m.connMs.isEmpty) 0.0 else Stats.quantile(m.connMs, 0.95)
    d("jvm.gc_pause_s") = m.jvmGcS
    d("jvm.heap_peak_mb") = m.heapPeakMb
    d
  }

  /** Record each round as a span with one child span per query trigger;
    * the Spark jobs of a micro-batch already name its trigger's span. */
  def traceRounds(m: Measured): Unit = m.windows.foreach { win =>
    val ws = Trace.newId()
    Trace.record(ws, "bench.round", win.t0Ms.toDouble, win.endMs.toDouble, Trace.NoCause)
    win.triggers.foreach(e => Trace.record(Trace.keyedId(Trace.triggerKey(e.runId, e.batchId)),
      "engine.trigger", e.startMs.toDouble, e.trigger.endMs.toDouble, ws))
  }

  /** Layer probes: exhaust `parse` over the landed files, then the three
    * agg builders over the parsed events in batch. */
  def probes(spark: SparkSession, input: Path, events: Long): Map[String, Double] = {
    val raw = spark.read.text(input.toString).select(col("value"))
    def timed(reps: Int)(f: => Unit): Double =
      Stats.median((1 to reps).map { _ => val t0 = Host.nowS; f; Host.nowS - t0 })
    val sc = spark.sparkContext
    val s1 = Trace.start("ingest.probe", Trace.NoCause)
    Trace.describe("ingest.probe", s1)
    sc.setJobDescription("ingest.probe")
    val parseS = timed(3)(Host.exhaust(EcommerceStreamJob.parse(raw)))
    sc.setJobDescription(null)
    Trace.end(s1)
    val lines = raw.count()
    val valid = EcommerceStreamJob.parse(raw).count()
    val tx = EcommerceStreamJob.parse(raw).persist()
    tx.count()
    val s2 = Trace.start("operators.probe", Trace.NoCause)
    Trace.describe("operators.probe", s2)
    sc.setJobDescription("operators.probe")
    val aggS = timed(3) {
      Host.exhaust(EcommerceStreamJob.categoryAgg(tx))
      Host.exhaust(EcommerceStreamJob.dayAgg(tx))
      Host.exhaust(EcommerceStreamJob.monthAgg(tx))
    }
    sc.setJobDescription(null)
    Trace.end(s2)
    tx.unpersist()
    Map("ingest.parse_us_per_event" -> parseS * 1e6 / lines,
      "ingest.valid_ratio" -> valid.toDouble / lines,
      "operators.agg_us_per_event" -> aggS * 1e6 / events)
  }
}
