package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Measured shuffle-volume evidence for the flagship scale claims
  * ("embeddings never shuffle whole", "digests shuffle, not text"):
  * runs named registry queries with a stage-metrics listener and prints
  * one line per query —
  *   SHUFPROBE q=<name> input=<MB> shuffle_write=<MB> shuffle_read=<MB>
  * so BASELINE.md carries numbers, not just plan-shape assertions. The
  * claims' test: shuffled bytes ≪ bytes scanned for the queries whose
  * design promises digest/id-only shuffles.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_ONLY=q_a,q_b
  *        sbt "runMain graft.tools.ShuffleProbe"
  * (unset SPARK_GRAFT_ONLY = the default flagship set). Execution
  * mirrors Bench's noop-sink exhaust so plans are the benchmarked
  * plans, not count()-pruned ones. */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("shuffleprobe", cpus)
    val defaults = Seq("q_knn_graph", "q_knn_components", "q_ivf_topk_bigk",
      "q_simhash_neardup_wide", "q_boilerplate_lines", "q_curated_corpus_v5",
      "q_minhash_neardup", "q_sequence_packing")
    val selected = graft.SparkEntry.selectQueries(
      sys.env.getOrElse("SPARK_GRAFT_ONLY", defaults.mkString(",")))
    val in = new AtomicLong
    val sw = new AtomicLong
    val sr = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          in.addAndGet(m.inputMetrics.bytesRead)
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup so the first probe doesn't absorb JIT/file-listing noise
    try graft.SparkEntry.queries("q1_lineitem_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    selected.foreach { case (name, fn) =>
      in.set(0); sw.set(0); sr.set(0)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        // listener events are async — drain before reading the counters
        org.apache.spark.graftglue.ListenerBridge.drain(spark.sparkContext)
        val secs = (System.nanoTime() - t0) / 1e9
        def mb(v: Long): String = f"${v / 1048576.0}%.1f"
        println(s"SHUFPROBE q=$name input_mb=${mb(in.get)} " +
          s"shuffle_write_mb=${mb(sw.get)} shuffle_read_mb=${mb(sr.get)} " +
          f"secs=$secs%.1f")
      } catch { case e: Throwable =>
        System.err.println(s"[shufprobe] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
