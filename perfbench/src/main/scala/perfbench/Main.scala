package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.PairGraph

/** One benchmark run of one workload.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --data <dir> --out <file>
  *
  * Writes the result line (`correct`, `attempted`, `failed`, `metrics`) to
  * `--out`, the workload's own named figures and the host facts to
  * `<out>.detail.json`, and in a traced run the spans to `<out>.spans.jsonl`.
  * With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
  * the per-layer ones of a traced repetition of the same workload. */
object Main {

  val Workloads: Seq[String] = Seq("drain_wide_keys", "catalog_cold", "drain_ref", "paced_ref")

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: Path, out: Path)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")).toAbsolutePath, Path.of(need("data")).toAbsolutePath,
      Path.of(need("out")).toAbsolutePath)
  }

  /** What a run reports: the result line's fields, plus named figures and
    * per-layer metrics for the detail file. */
  final case class Outcome(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], detail: mutable.LinkedHashMap[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val o = if (a.workload == "catalog_cold") catalog(a) else stream(a)
    val metrics = o.metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val line = Json.obj(Seq("correct" -> (o.failed == 0).toString,
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics)))
    write(a.out, line + "\n")
    write(Path.of(a.out.toString + ".detail.json"),
      Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "trace" -> (if (a.trace) "1" else "0")) ++
        o.detail.toSeq.map { case (k, v) => k -> Json.num(v) }) + "\n")
    if (a.trace) write(Path.of(a.out.toString + ".spans.jsonl"), Trace.toJsonLines(Trace.spans))
    // stop any lingering non-daemon threads of the session
    sys.exit(0)
  }

  /** A timing as its median, the highest percentile with at least ten
    * samples beyond it (when there is one above the median), and the
    * sample count. */
  private def timing(d: mutable.LinkedHashMap[String, Double], name: String,
      xs: Seq[Double]): Unit = {
    d(s"${name}_p50") = Stats.median(xs)
    Stats.tailPercentile(xs.size).filter(_ > 50).foreach { p =>
      d(s"${name}_p${Json.num(p)}") = Stats.quantile(xs, p / 100)
    }
    d(s"${name}_samples") = xs.size
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---------------------------------------------------------------- stream

  def stream(a: Args): Outcome = {
    val w = StreamBench.workload(a.workload, a.seconds)
    val progress = new ProgressLog
    val runner = new StreamBench.Runner(w, a.seed, a.work, progress)
    val staged = runner.stage("measured") // before anything is timed
    var spark: SparkSession = null
    var topo: StreamBench.Topology = null
    val setups = (1 to Setups).map { _ =>
      if (topo != null) { topo.stop(); stopSession(spark) }
      val t0 = Host.nowS
      spark = Host.session()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", StreamBench.RocksDb)
      spark.streams.addListener(progress)
      topo = runner.start(spark)
      Host.nowS - t0
    }
    val tWin = Host.nowS
    val m = runner.measure(topo, staged, a.seconds)
    val fig = StreamBench.endToEnd(w, m)
    val tCheck = Host.nowS
    var (attempted, failed) = StreamBench.check(spark, topo.input, w.warmupEvents + m.events)
    StandInDb.reset()
    val heap = Host.liveHeapMb()
    topo.stop()
    val d = mutable.LinkedHashMap[String, Double]()
    d("setup_s") = Stats.median(setups)
    w.tickMs match {
      case Some(_) =>
        d("committed_events_per_s") = fig.throughput
        timing(d, "fresh_ms", fig.latencyMs)
      case None =>
        d("drain_events_per_s") = fig.throughput
        timing(d, "commit_ms", fig.latencyMs)
        timing(d, "round_ms", m.windows.map(_.seconds * 1000))
    }
    d("live_heap_mb") = heap
    d("fail_ratio") = failed.toDouble / attempted
    d("run.rounds") = m.windows.size
    d("run.setups_s") = setups.sum
    d("run.measure_s") = tCheck - tWin
    d("host.nproc") = Host.cpus
    d("host.mem_gb") = Host.memoryGb
    val e2e = Seq(("setup_s", Stats.median(setups), "s"), ("throughput_per_s", fig.throughput, "1/s"),
      ("latency_ms_p50", fig.p50, "ms"), ("live_heap_mb", heap, "MB"))
    if (!a.trace) return Outcome(attempted, failed, e2e, d)

    // traced repetition: a fresh topology in the same session, traced from
    // its first measured round to the end of the layer probes
    val staged2 = runner.stage("traced")
    val topo2 = runner.start(spark)
    startTrace(a, spark, d)
    val m2 = runner.measure(topo2, staged2, a.seconds)
    StreamBench.traceRounds(m2)
    val fig2 = StreamBench.endToEnd(w, m2)
    sparkTotals(d)
    d ++= StreamBench.layers(w, m2)
    d ++= StreamBench.probes(spark, topo2.input, w.warmupEvents + m2.events)
    endTrace(d)
    val (att2, failed2) = StreamBench.check(spark, topo2.input, w.warmupEvents + m2.events)
    attempted += att2; failed += failed2
    topo2.stop()
    // traced result over untraced: drain time per event, or freshness
    d("trace.overhead_ratio") =
      if (w.tickMs.isDefined) fig2.p50 / fig.p50 else fig.throughput / fig2.throughput
    Outcome(attempted, failed, perLayer(d), d)
  }

  // --------------------------------------------------------------- catalog

  /** Fewest registry-cold passes a run measures; `catalog_s` is their median. */
  val MinCatalogPasses = 2

  def catalog(a: Args): Outcome = {
    val dir = a.data.resolve("sf0.01").toString
    val queries = CatalogBench.sample(a.data.resolve("catalog_profile.tsv"))
    val unknown = (CatalogBench.WarmupQuery +: queries)
      .filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(", ")}")
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) stopSession(spark)
      val t0 = Host.nowS
      spark = Host.session()
      Host.exhaust(graft.SparkEntry.queries(CatalogBench.WarmupQuery)(spark, dir))
      Host.nowS - t0
    }
    // the checked pass also warms the queries' code paths; the registry is
    // cleared before it and again before each measured pass
    PairGraph.clear()
    val tCheck = Host.nowS
    var (attempted, failed) = CatalogBench.check(spark, dir, queries,
      CatalogBench.readExpected(a.data.resolve("catalog_expected.tsv")))
    val tPass = Host.nowS
    val passes = Host.repeatFor(a.seconds, MinCatalogPasses) {
      PairGraph.clear()
      CatalogBench.pass(spark, dir, queries)
    }
    val tEnd = Host.nowS
    val catalogS = Stats.median(passes.map(_.map(_.totalS).sum))
    val times = passes.flatten.map(_.totalS)
    val p50 = Stats.median(times)
    val heap = Host.liveHeapMb()
    val d = mutable.LinkedHashMap[String, Double]()
    d("setup_s") = Stats.median(setups)
    d("catalog_s") = catalogS
    timing(d, "query_s", times)
    d("live_heap_mb") = heap
    d("fail_ratio") = failed.toDouble / attempted
    d("run.setups_s") = setups.sum
    d("run.check_s") = tPass - tCheck
    d("run.measure_s") = tEnd - tPass
    d("host.nproc") = Host.cpus
    d("host.mem_gb") = Host.memoryGb
    d("run.passes") = passes.size
    queries.indices.foreach { i =>
      d(s"query_s.${queries(i)}") = Stats.median(passes.map(_(i).totalS))
    }
    val e2e = Seq(("setup_s", Stats.median(setups), "s"),
      ("throughput_per_s", queries.size / catalogS, "1/s"),
      ("latency_ms_p50", p50 * 1000, "ms"), ("live_heap_mb", heap, "MB"))
    if (!a.trace) return Outcome(attempted, failed, e2e, d)

    // traced repetition: one more registry-cold pass
    startTrace(a, spark, d)
    PairGraph.clear()
    val gc0 = Host.gcSeconds
    Host.resetHeapPeak()
    val ts = CatalogBench.pass(spark, dir, queries)
    d("catalog.build_s") = ts.map(_.buildS).sum
    d("catalog.exec_s") = ts.map(_.execS).sum
    d("registry.entries") = PairGraph.size
    d("registry.deriving_queries") = ts.count(_.derived > 0)
    d("registry.derive_build_s") = ts.filter(_.derived > 0).map(_.buildS).sum
    d("jvm.gc_pause_s") = Host.gcSeconds - gc0
    d("jvm.heap_peak_mb") = Host.heapPeakMb
    d("trace.overhead_ratio") = ts.map(_.totalS).sum / catalogS
    sparkTotals(d)
    endTrace(d)
    Outcome(attempted, failed, perLayer(d), d)
  }

  // ---------------------------------------------------------------- tracing

  private var sparkStats: SparkStats = _

  /** Turn tracing on for the traced repetition, with the host calibration
    * taken first so it stays out of the spans. */
  private def startTrace(a: Args, spark: SparkSession, d: mutable.LinkedHashMap[String, Double]): Unit = {
    d("host.calib_par_s") = Host.calibParS(spark)
    Trace.runId = s"${a.workload}-${a.seed}"
    Trace.enabled = true
    sparkStats = new SparkStats
    spark.sparkContext.addSparkListener(sparkStats)
  }

  /** Add the Spark listener totals so far. */
  private def sparkTotals(d: mutable.LinkedHashMap[String, Double]): Unit = {
    val s = sparkStats
    d("spark.jobs") = s.jobs
    d("spark.stages") = s.stages
    d("spark.tasks") = s.tasks
    d("spark.task_run_s") = s.runMs / 1000.0
    d("spark.task_cpu_s") = s.cpuNs / 1e9
    d("spark.gc_s") = s.gcMs / 1000.0
    d("spark.shuffle_read_bytes") = s.shuffleRead
    d("spark.shuffle_write_bytes") = s.shuffleWrite
    d("spark.spill_bytes") = s.spill
    d("spark.task_skew") = s.taskSkew
  }

  /** Turn tracing off and add each layer's self time. */
  private def endTrace(d: mutable.LinkedHashMap[String, Double]): Unit = {
    Trace.enabled = false
    Trace.selfSecondsByLayer(Trace.spans).foreach { case (layer, t) => d(s"self_s.$layer") = t }
  }

  // ------------------------------------------------------------ per layer

  /** The per-layer metrics of a traced run, in the order BENCHMARK.json
    * lists them; one the workload does not produce reads 0. */
  val streamLayers: Seq[String] = Seq("ingest.parse_us_per_event", "ingest.valid_ratio",
    "operators.agg_us_per_event", "engine.triggers", "engine.trigger_ms_p50",
    "engine.trigger_ms_p95", "engine.latest_offset_ms_p50", "engine.get_batch_ms_p50",
    "engine.planning_ms_p50", "engine.add_batch_ms_p50", "engine.wal_commit_ms_p50",
    "engine.commit_offsets_ms_p50",
    "state.rows_total", "state.rows_updated_per_trigger", "state.update_ms_p50",
    "state.commit_ms_p50", "state.memory_bytes", "sinks.connections", "sinks.execute_batches",
    "sinks.rows", "sinks.commits", "sinks.rollbacks", "sinks.conn_ms_p50", "sinks.conn_ms_p95")
  val catalogLayers: Seq[String] = Seq("catalog.build_s", "catalog.exec_s",
    "registry.entries", "registry.deriving_queries", "registry.derive_build_s")
  val commonLayers: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_skew", "jvm.gc_pause_s",
    "jvm.heap_peak_mb", "trace.overhead_ratio", "host.nproc", "host.mem_gb", "host.calib_par_s")
  val Layers: Seq[String] = Seq("bench", "engine", "sinks", "spark", "ingest", "operators", "catalog")
  val perLayerNames: Seq[String] =
    streamLayers ++ catalogLayers ++ commonLayers ++ Layers.map(l => s"self_s.$l")

  private def perLayer(d: mutable.LinkedHashMap[String, Double]): Seq[(String, Double, String)] =
    perLayerNames.map(n => (n, d.getOrElse(n, 0.0), unitOf(n)))

  def unitOf(n: String): String =
    if (n.endsWith("_ms_p50") || n.endsWith("_ms_p95") || n.endsWith("_ms_p99") || n.endsWith("_ms_max")) "ms"
    else if (n.endsWith("_us_per_event")) "us"
    else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_s") || n.startsWith("self_s.")) "s"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_gb")) "GB"
    else if (n.endsWith("ratio") || n.endsWith("skew")) "ratio"
    else if (n.endsWith("_per_trigger")) "rows"
    else "count"
}
