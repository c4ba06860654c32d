package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** Streaming DURABILITY evidence — the half of the streaming story the
  * in-memory state provider cannot show: the full topology under the
  * RocksDB state store, STOPPED MID-RUN and restarted from its
  * checkpoint. Asserts (1) the restarted run resumes the running sums
  * (state restored, not recomputed from zero), (2) the final sink
  * end-state is EXACTLY the batch aggregates over all events — the
  * at-least-once + idempotent-upsert convergence contract the
  * reference relies on (`DataStreamJob.java:100-104`'s retries +
  * `ON CONFLICT` upserts) — and prints one `STREAMDURABILITY {...}`
  * line with events/s and the recovery time, recorded in BASELINE.md.
  *
  * Mid-run means mid-stream, not between-phases: the stop fires as
  * soon as ANY pipeline has committed a first main batch, so the two
  * pipelines are interrupted at different offsets and the restart
  * exercises per-query offset recovery, state reload, and replay of
  * possibly-half-applied foreachBatch upserts (idempotent by key, so
  * replay converges rather than double-counts).
  *
  * Volume: smoke default 50k; BASELINE recording runs use
  * `-Dgraft.streamBench.events=1000000` (the throughput spec's knob).
  */
class StreamDurabilitySpec extends SparkSpec {

  private val Events: Int =
    sys.props.get("graft.streamBench.events").map(_.toInt).getOrElse(50000)
  private val FilesN = 40

  test(s"RocksDB $Events-event topology: mid-run restart resumes state, end-state == batch") {
    val dir = Files.createTempDirectory("graft-streamdur-src")
    val ckpt = Files.createTempDirectory("graft-streamdur-ckpt")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    val prevMpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.files.maxPartitionBytes", 1024 * 1024)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      graft.sinks.FakeDb.register()
      val db = graft.sinks.FakeDb.fresh("streamdur")
      val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L,
        db = graft.sinks.FakeDb.cfg("streamdur"))
      def source() = EcommerceStreamJob.fileSource(spark, dir.toString,
        Map("maxFilesPerTrigger" -> "4"))

      // all events land before the first run starts, so the stop below
      // interrupts genuine in-flight catch-up work
      StreamEventFixture.writeEvents(dir, fromId = 0, count = Events,
        files = FilesN, prefix = "events")

      // ---- run 1: start, let it get mid-stream, stop ----
      val t0 = System.nanoTime()
      val run1 = EcommerceStreamJob.startAll(spark, cfg, Some(source()))
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def committedBatches: Int = run1.map(_.recentProgress.count(_.numInputRows > 0)).sum
      while (committedBatches < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(committedBatches >= 1, "no pipeline committed a batch before the stop")
      run1.foreach(_.stop())
      val run1S = (System.nanoTime() - t0) / 1e9
      val rowsAtStop = db.rowsOf("transactions").size
      assert(rowsAtStop < Events,
        s"stop was not mid-run: $rowsAtStop of $Events rows already landed")

      // ---- run 2: restart from the same checkpoint ----
      val t1 = System.nanoTime()
      val run2 = EcommerceStreamJob.startAll(spark, cfg, Some(source()))
      val (recoverS, catchupS, stateRows) =
        try {
          // recovery = restart until the first post-restart batch commits
          // (offset log + RocksDB state reload for three stateful queries)
          val dl2 = System.nanoTime() + 120L * 1000 * 1000 * 1000
          def firstBatch: Boolean =
            run2.exists(_.recentProgress.exists(_.numInputRows > 0))
          while (!firstBatch && System.nanoTime() < dl2) Thread.sleep(20)
          val rec = (System.nanoTime() - t1) / 1e9
          run2.foreach(_.processAllAvailable())
          val cu = (System.nanoTime() - t1) / 1e9
          val st = run2.map(_.recentProgress.lastOption
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)).sum
          (rec, cu, st)
        } finally run2.foreach(_.stop())

      println(f"""STREAMDURABILITY {"events":$Events,"provider":"rocksdb",""" +
        f""""run1_s":$run1S%.1f,"rows_at_stop":$rowsAtStop,""" +
        f""""recovery_s":$recoverS%.2f,"catchup_s":$catchupS%.1f,""" +
        f""""events_per_sec":${(Events / (run1S + catchupS)).toLong},""" +
        f""""state_rows":$stateRows}""")

      // ---- exact convergence with batch aggregates over ALL events ----
      val batchTx = EcommerceStreamJob.parse(
        spark.read.text(dir.toString).select(col("value")))
      def toMapBy[K](df: DataFrame, key: String, value: String): Map[K, Double] =
        df.collect().map(r => r.getAs[K](key) -> r.getAs[Double](value)).toMap
      def assertTotals[K](got: Map[K, Double], exp: Map[K, Double], what: String): Unit = {
        assert(got.keySet === exp.keySet, s"$what keys")
        got.foreach { case (k, v) =>
          assert(math.abs(v - exp(k)) <= 1e-9 * math.max(1.0, math.abs(exp(k))),
            s"$what[$k]: streaming $v vs batch ${exp(k)}")
        }
      }
      assertTotals(db.rowsOf("sales_per_category")
        .map(r => r("category").asInstanceOf[String] ->
          r("total_sales").asInstanceOf[Double]).toMap,
        toMapBy[String](graft.operators.Ecommerce
          .salesPerCategory(batchTx, "productCategory", "totalAmount"),
          "category", "total_sales"), "category")
      assertTotals(db.rowsOf("sales_per_day")
        .map(r => r("transaction_date").asInstanceOf[java.sql.Date] ->
          r("total_sales").asInstanceOf[Double]).toMap,
        toMapBy[java.sql.Date](graft.operators.Ecommerce
          .salesPerDay(batchTx, "transactionDate", "totalAmount"),
          "transaction_date", "total_sales"), "day")
      assertTotals(db.rowsOf("sales_per_month")
        .map(r => r("month").asInstanceOf[Int] ->
          r("total_sales").asInstanceOf[Double]).toMap,
        toMapBy[Int](graft.operators.Ecommerce
          .salesPerMonthOfYear(batchTx, "transactionDate", "totalAmount"),
          "month", "total_sales"), "month")
      // raw copy: every id exactly once despite the replayed batches
      assert(db.rowsOf("transactions").size === Events)
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMpb)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      StreamEventFixture.deleteRecursively(dir)
      StreamEventFixture.deleteRecursively(ckpt)
    }
  }
}
