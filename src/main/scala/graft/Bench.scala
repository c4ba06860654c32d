package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Force FULL evaluation of every output column: a `count()` lets
    * Catalyst prune projections and sorts entirely (a projection-only
    * query would benchmark a bare row count), while the noop sink
    * materializes each row. */
  private def exhaust(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("graft-bench", cpus)
    // warmup: exercise codegen/JIT + file listing once so the first
    // measured query doesn't absorb JVM startup (~3 s of noise)
    try exhaust(SparkEntry.queries("q1_lineitem_agg")(spark, sfDir))
    catch { case _: Throwable => () }
    // N full passes (default 3), min per query: the host this runs on
    // drifts ±25% with ambient load (BASELINE.md documents identical
    // code measuring 30-48 s across one day), and a single hot pass must
    // not be able to eat the 2×-of-baseline margin on its own. Per-query
    // minima across passes are the stable signal BASELINE.md tracks, and
    // the reported total is the sum of those minima. Failures are loud
    // (stderr) and recorded as -1, never as a tiny elapsed-to-failure
    // time that would shrink the total.
    def time(name: String, fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { exhaust(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      }
    }
    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b times a subset.
    // The driver never sets it, so official artifacts always cover the
    // full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = only.map(SparkEntry.selectQueries).getOrElse(SparkEntry.queries)
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    def once(): Map[String, Double] =
      selected.map { case (name, fn) => name -> time(name, fn) }
    // fixed single-thread CPU calibration (deterministic integer mix,
    // no allocation): the host drifts far more than ±25% across a day,
    // and a total is only interpretable next to the machine speed it
    // was measured at. Reported as the min of before/after-pass probes —
    // BASELINE.md records the calibrated reference value.
    def calibMs(): Double = {
      var acc = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 50000000L) { acc ^= (i * 0x9E3779B97F4A7C15L) >>> 23; i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6
      if (acc == 42L) System.err.println("") // keep acc alive
      ms
    }
    // parallel calibration: a fixed all-core codegen aggregation over an
    // in-memory range (no IO, one job). The suite's drift lives in the
    // parallel path (single-thread calib stays flat while totals move
    // ±30%), so this is the number a total should be read against.
    def calibParS(): Double = {
      // max, not sum: ANSI mode (Spark 4 default) throws on the long
      // overflow a 2^30-row sum of hashes guarantees
      import org.apache.spark.sql.functions.{max => fmax, xxhash64 => fxx, col => fcol}
      val t0 = System.nanoTime()
      spark.range(0, 1L << 30, 1, 64).select(fmax(fxx(fcol("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // per-query floor: the fixed cost EVERY suite entry pays before any
    // operator work — job scheduling, parquet footer/listing, noop-sink
    // commit — measured as the min of 3 timings of a minimal
    // read-project-write query over the smallest table. The full-suite
    // total grows by ~this × query count as coverage widens (37 → 100+
    // queries since the round-1 baseline), so the artifact now carries
    // the number that converts a total into a per-query work figure.
    def floorS(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        exhaust(spark.read.parquet(s"$sfDir/region.parquet").select("r_name"))
        (System.nanoTime() - t0) / 1e9
      }
      try { one(); (1 to 3).map(_ => one()).min }
      catch { case _: Throwable => -1.0 }
    }
    val calibBefore = calibMs()
    val calibParBefore = calibParS()
    val runs = (1 to passes).map(_ => once())
    val calib = math.min(calibBefore, calibMs())
    val calibPar = math.min(calibParBefore, calibParS())
    val floor = floorS()
    // registry-COLD pass (r16): PairGraph artifacts are write-once per
    // session, so with min-over-passes the derivation cost paid on
    // pass 1 appears in NO query's reported minimum — the `queries`
    // entry of a query that reads a shared artifact times a
    // materialized-leaf read of it. This ONE extra pass clears the registry first (JIT/codegen stay warm, the
    // registry does not) and reports the honest fresh-derivation figure
    // per query as `queries_cold`. Within the pass, a shared artifact
    // is re-derived by whichever consumer runs first and read warm by
    // the rest — the session's real cost profile, priced once. The
    // official `queries` minima and their methodology are UNCHANGED;
    // this is additions-only next to them.
    graft.operators.PairGraph.clear()
    val coldRun = once()
    // a query that failed in ANY pass reports -1: flakiness must surface
    // as a failure, not hide behind a lucky pass's timing
    val results = selected.keys.map { name =>
      val ts = runs.map(_(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val coldQs = coldRun.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failures inflate the cold total too (same 600 s rule as `total`)
    val coldTotal = coldRun.values.map(v => if (v < 0) 600.0 else v).sum
    // failures stay visible as -1 per query but must INFLATE the total,
    // not subtract from it — a broken query shrinking the total could
    // mask a real regression in the driver's 2×-of-baseline comparison
    val total = results.values.map(v => if (v < 0) 600.0 else v).sum
    // like-for-like vs BASELINE.md: the suite has grown 37 → 100+
    // queries since the round-1 baseline total was recorded, so the
    // full-suite total is not comparable to it — each new capability
    // adds its own cost. This field is the same-37-query total
    // (round-1 suite, BENCH_r01.json), measured in this run: the only
    // apples-to-apples regression signal against the 32.3 s baseline.
    val baseline37 = Set(
      "q1_lineitem_agg", "q3_shipping", "q5_region_revenue",
      "q6_forecast_revenue", "q_ann_lsh_topk", "q_asof_last_order",
      "q_corpus_stats", "q_custkeys_1995_not_1996", "q_custkeys_both_years",
      "q_dedup_exact", "q_distinct_users_per_type", "q_embedding_neardup",
      "q_embedding_topk", "q_events_within_minute", "q_fingerprint",
      "q_ivf_topk", "q_jaccard_neardup", "q_json_extract",
      "q_label_centroids", "q_lang_id", "q_latest_event_per_user",
      "q_media_features", "q_minhash_neardup", "q_mod_sample",
      "q_neardup_components", "q_raw_events", "q_rollup_lineitem",
      "q_sales_per_category", "q_sales_per_category_day", "q_sales_per_day",
      "q_sales_per_month", "q_sales_per_month_of_year",
      "q_salted_category_sales", "q_simhash_neardup", "q_text_quality",
      "q_text_stats", "q_top_orders_per_cust")
    val b37 = results.collect {
      case (name, v) if baseline37(name) => if (v < 0) 600.0 else v
    }
    val b37Json =
      if (b37.isEmpty) ""
      else s""","baseline37_total":${b37.sum},"baseline37_n":${b37.size}"""
    // subset runs self-identify so a filtered artifact can never be
    // mistaken for a full-suite measurement
    val subset = if (only.isDefined) ""","subset":true""" else ""
    // per-query detail first (a 139-entry map — the line the driver's
    // stdout-tail capture may truncate) …
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_cold":$coldQs,"cold_total_s":$coldTotal,"passes":$passes,"calib_ms":$calib,"calib_par_s":$calibPar,"floor_s":$floor$b37Json$subset,"sf":"$sfDir"}""")
    // … the FULL per-query minima map also lands as a FILE (the
    // driver's stdout tail truncates ~250 of 300 entries), so
    // round-over-round regression checks diff two artifacts instead of
    // reconstructing from BASELINE.md prose. Overwritten per run;
    // subset runs write a suffixed file so they never shadow a
    // full-suite artifact.
    // resolved against an EXPLICIT base (env var, falling back to the
    // launch dir), never the bare process CWD — in cluster/container
    // deployments the driver's CWD is a scratch dir and the artifact
    // would land somewhere unexpected; the absolute path is echoed so
    // a misplaced artifact is at least findable
    val artifactBase = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
        sys.props.getOrElse("user.dir", ".")))
    val perQueryPath = artifactBase.resolve(
      if (only.isDefined) "bench_perquery_subset.json"
      else "bench_perquery.json")
    try {
      java.nio.file.Files.write(perQueryPath,
        s"""{"queries":$qs,"queries_cold":$coldQs,"cold_total_s":$coldTotal,"passes":$passes,"calib_ms":$calib,"calib_par_s":$calibPar,"floor_s":$floor$b37Json$subset,"sf":"$sfDir"}
""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(
        s"[bench] per-query artifact: ${perQueryPath.toAbsolutePath}")
    } catch { case e: Exception =>
      System.err.println(
        s"[bench] per-query artifact write failed (${perQueryPath.toAbsolutePath}): $e") }
    // … then a COMPACT summary as the LAST stdout line, so the headline
    // numbers always survive tail truncation (BENCH_r04.json lost its
    // parsed total exactly this way)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"cold_total_s":$coldTotal,"passes":$passes,"calib_ms":$calib,"calib_par_s":$calibPar,"floor_s":$floor$b37Json$subset,"sf":"$sfDir"}""")
    spark.stop()
  }
}
