package graft

import org.apache.spark.sql.functions._

import graft.operators.PairGraph
import graft.Reuse.ReuseOps

/** The mode-selectable materialization primitive (round-6 verdict #2):
  * `local` (executor-pinned checkpoint) or `reliable` (checkpoint dir,
  * survives executor loss). In BOTH modes consumers must share one
  * derivation, and results must be identical.
  */
class ReuseSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withMode[A](m: String)(f: => A): A = withConf(Reuse.ModeKey -> m)(f)

  for (m <- Seq("local", "reliable")) {
    test(s"mode=$m: materialize is eager and consumers share one derivation") {
      withMode(m) {
        // an accumulator (NOT a captured AtomicInteger — task closures
        // are serialized even in local mode) counts derivation rows
        val n = spark.sparkContext.longAccumulator(s"reuse-derivations-$m")
        val counting = udf { (x: Long) => n.add(1); x }
        val df = spark.range(100).select(counting(col("id")).as("id"))
        val mat = Reuse.materialize(df)
        val after = n.value
        assert(after >= 100, s"materialize must be eager (ran $after rows)")
        // two consumers: no re-derivation beyond the materialization pass
        assert(mat.agg(sum("id")).collect().head.getLong(0) === 4950L)
        assert(mat.filter(col("id") < 10).count() === 10L)
        assert(n.value === after, "consumers re-derived the frame")
      }
    }
  }

  test("mode=reliable writes to the configured checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reuse-ckpt")
    spark.conf.set(Reuse.DirKey, dir.toString)
    try withMode("reliable") {
      val mat = Reuse.materialize(spark.range(10).toDF("id"))
      assert(mat.count() === 10L)
      assert(Reuse.materialize(spark.range(5).toDF("id")).count() === 5L)
      // RDD checkpoint files landed under the configured dir
      val walked = java.nio.file.Files.walk(dir)
      val n = try walked.count() finally walked.close()
      assert(n > 1, s"no checkpoint files under $dir")
      // … and BOTH materializations share one <dir>/<uuid>: the
      // configured (plain) path must be recognized in the qualified form
      // SparkContext stores, not re-set per call
      val listed = java.nio.file.Files.list(dir)
      val subdirs = try listed.filter(java.nio.file.Files.isDirectory(_))
        .count() finally listed.close()
      assert(subdirs === 1L, s"checkpoint dir re-set per materialize under $dir")
    } finally spark.conf.unset(Reuse.DirKey)
  }

  test("mode=local keeps a repartition(col) frame's hash partitioning: one exchange in the join") {
    // the iterative rank/HITS operators repartition their edge frame by
    // key once, materialize it and join it every round — only the other
    // side may shuffle. AQE and broadcast off so the planned exchanges
    // are the ones EnsureRequirements inserts
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        Reuse.ModeKey -> "local") {
      val edges = spark.range(200).select(col("id"), (col("id") % 7).as("v"))
        .repartition(col("id")).materialized
      val other = spark.range(200).select(col("id"), (col("id") * 2).as("w"))
      val plan = edges.join(other, "id").queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size === 1, s"expected one exchange:\n$plan")
    }
  }

  test("unknown mode fails loudly") {
    // `persist` was a mode once: a stale setting must not fall through
    for (m <- Seq("cloud9", "persist")) withMode(m) {
      intercept[IllegalArgumentException](
        Reuse.materialize(spark.range(1).toDF("id")))
    }
  }

  test("PairGraph + components pipeline agree across both modes") {
    // representative consumer stack: jaccard pair graph -> components.
    // Same docs, one run per mode; results must be IDENTICAL (the mode
    // changes durability, never values).
    val docs = Tables.documents(spark, sf)
    def run(m: String): (Set[(Long, Long)], Set[(Long, Long)]) = withMode(m) {
      PairGraph.clear()
      val pairs = PairGraph.of(spark, s"reusespec:$m") {
        operators.Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.6)
      }
      val comps = operators.Dedup.nearDupComponents(docs, "doc_id", pairs)
      val out = (
        pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet,
        comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      PairGraph.clear()
      out
    }
    val local = run("local")
    assert(local._1.nonEmpty)
    assert(run("reliable") === local)
  }
}
