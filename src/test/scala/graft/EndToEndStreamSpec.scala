package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** Full-topology end-to-end test: JSON-lines files → fileSource → parse
  * → both pipelines → captured upsert sink (four tables). Mirrors
  * exactly what the JDBC deployment does, with the sink seam capturing
  * batches in-memory and applying last-write-wins per key (the ON
  * CONFLICT semantics). */
class EndToEndStreamSpec extends SparkSpec {

  private def jsonTx(id: String, cat: String, amt: Double, ts: String): String =
    s"""{"transactionId":"$id","productId":"p1","productName":"laptop",
       |"productCategory":"$cat","productPrice":$amt,"productQuantity":1,
       |"productBrand":"apple","totalAmount":$amt,"currency":"USD",
       |"customerId":"c1","transactionDate":"$ts",
       |"paymentMethod":"credit_card"}""".stripMargin.replaceAll("\n", "")

  /** captured "database": table -> key -> row (last write wins = upsert). */
  private type Db = TrieMap[String, TrieMap[Seq[Any], Seq[Any]]]

  /** Runs the two-query topology through the captured sink, landing
    * each element of `batches` as one file and draining all queries
    * before the next lands, so each file is its own micro-batch.
    * `onWrite(table, batchId)` sees every call of the sink seam. */
  private def runCaptured(batches: Seq[Seq[String]],
      onWrite: (String, Long) => Unit = (_, _) => ()): Db = {
    val dir: Path = Files.createTempDirectory("graft-e2e-src")
    val ckpt: Path = Files.createTempDirectory("graft-e2e-ckpt")
    val stage: Path = Files.createTempDirectory("graft-e2e-stage")
    val db: Db = TrieMap.empty
    val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L)
    val source = EcommerceStreamJob.fileSource(spark, dir.toString)

    val queries = EcommerceStreamJob.startAllWithSink(spark, cfg, source) {
      (table, keys) => (batch, batchId) =>
        onWrite(table, batchId)
        val cols = batch.columns.toSeq
        val keyIdx = keys.map(cols.indexOf)
        val t = db.getOrElseUpdate(table, TrieMap.empty)
        batch.collect().foreach { row =>
          val vals = cols.indices.map(row.get)
          t.put(keyIdx.map(row.get), vals)
        }
    }
    try {
      batches.zipWithIndex.foreach { case (lines, i) =>
        // write beside the watched dir, then move in whole: the source
        // never lists a half-written file
        val tmp = Files.writeString(stage.resolve(s"batch$i.json"), lines.mkString("\n"))
        Files.move(tmp, dir.resolve(s"batch$i.json"), StandardCopyOption.ATOMIC_MOVE)
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())
    db
  }

  test("file source drives all four pipelines into upsert end-state") {
    val db = runCaptured(Seq(Seq(
      jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
      jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
      jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000"),
      jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000") // replay
    )))

    // raw copy: replayed t1 upserts to a single row (PK transaction_id)
    assert(db("transactions").size === 3)
    // category running totals incl. the double-counted replay — exactly
    // what the reference's at-least-once + keyed reduce would produce
    val cat = db("sales_per_category").map { case (k, v) => k.last -> v.last }
    assert(cat("electronic") === 22.5) // 10 + 10(replay) + 2.5
    assert(cat("fashion") === 4.0)
    assert(db("sales_per_day").size === 2)
    val month = db("sales_per_month")
    assert(month.size === 1) // all Nov-2024
    assert(month.head._2.last === 26.5)
  }

  test("running totals carry across micro-batches: first-seen keys pinned, replay collapses") {
    // every category sees ONE distinct date per batch, so the first-seen
    // date is deterministic (within-batch first() order depends on
    // parallelism). Batch 2 re-keys electronic under a LATER date, adds
    // a fresh category and a December row (new month bucket), and
    // replays t1 (the raw upsert collapses it).
    val db = runCaptured(Seq(
      Seq(
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
        jsonTx("t3", "electronic", 2.5, "2024-11-08T12:00:00.000000")),
      Seq(
        jsonTx("t4", "electronic", 5.0, "2024-11-09T09:00:00.000000"),
        jsonTx("t5", "grocery", 1.5, "2024-12-01T08:00:00.000000"),
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"))))

    // category key is (transaction_date, category): the first-seen date
    // stays pinned when a later batch sees the category under a new date
    val cat = db("sales_per_category")
      .map { case (k, v) => (k(1), (k.head.toString, v.last)) }
    assert(cat === Map(
      "electronic" -> (("2024-11-08", 27.5)), // 10 + 2.5 + 5 + 10 (replay)
      "fashion" -> (("2024-11-08", 4.0)),
      "grocery" -> (("2024-12-01", 1.5))))
    assert(db("transactions").size === 5) // replayed t1 collapsed
    // month key is (year, month): December opens its own bucket with
    // its first-seen year
    val month = db("sales_per_month")
      .map { case (k, v) => k(1) -> (k.head, v.last) }
    assert(month === Map(
      11 -> ((2024, 31.5)), // 16.5 (batch 1) + 5 + 10 (batch 2 incl. replay)
      12 -> ((2024, 1.5))))
  }

  test("running_sums writes each table once per micro-batch and leaves no batch cached") {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    runCaptured(Seq(
      Seq(jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000")),
      Seq(jsonTx("t2", "fashion", 4.0, "2024-11-09T11:00:00.000000"))),
      (table, batchId) => writes.add((table, batchId)))
    import scala.jdk.CollectionConverters._
    val sums = writes.asScala.toSeq.filter(_._1 != "transactions")
    val batchIds = sums.map(_._2).distinct
    assert(batchIds.size === 2, s"one micro-batch per landed file: $sums")
    assert(sums.sorted === (for {
      id <- batchIds
      t <- Seq("sales_per_category", "sales_per_day", "sales_per_month")
    } yield (t, id)).sorted)
    // the persisted batch is released in the same trigger
    assert(spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore === Set.empty)
  }

  test("a checkpoint root of the retired one-query-per-sum layout is refused") {
    val before = spark.streams.active.map(_.id).toSet
    val ckpt = Files.createTempDirectory("graft-e2e-retired-ckpt")
    Files.createDirectories(ckpt.resolve("sales_per_category"))
    Files.createDirectories(ckpt.resolve("sales_per_month"))
    val dir = Files.createTempDirectory("graft-e2e-retired-src")
    val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L)
    val e = intercept[IllegalStateException] {
      EcommerceStreamJob.startAllWithSink(spark, cfg,
        EcommerceStreamJob.fileSource(spark, dir.toString))((_, _) => (_, _) => ())
    }
    assert(e.getMessage.contains("sales_per_category, sales_per_month"), e.getMessage)
    assert(e.getMessage.contains("no running_sums"), e.getMessage)
    assert(spark.streams.active.map(_.id).toSet === before)
  }

  test("a failed start stops the queries it already started") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val before = spark.streams.active.map(_.id).toSet
    // an active query already holds the second pipeline's name, so that
    // pipeline's start() is rejected after the first has started
    val holder = MemoryStream[Int].toDF().writeStream
      .format("noop").queryName("running_sums").start()
    try {
      val dir = Files.createTempDirectory("graft-e2e-clash-src")
      val ckpt = Files.createTempDirectory("graft-e2e-clash-ckpt")
      val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L)
      intercept[IllegalArgumentException] {
        EcommerceStreamJob.startAllWithSink(spark, cfg,
          EcommerceStreamJob.fileSource(spark, dir.toString))((_, _) => (_, _) => ())
      }
      assert(spark.streams.active.map(_.id).toSet === before + holder.id)
    } finally holder.stop()
  }

  test("startAll executes the WHOLE job against a (fake) database: DDL + real JDBC writer") {
    // The no-seam composition (round-4 verdict: the writer body had
    // never run inside the topology): startAll → runDdl once → two
    // streaming queries → foreachBatch → JdbcUpsert.upsert → real
    // PreparedStatement bind/batch/commit against the recording fake
    // driver. Same input as the captured-sink test, so the expected end
    // states are the same numbers.
    graft.sinks.FakeDb.register()
    val db = graft.sinks.FakeDb.fresh("e2e-topology")
    val dir: Path = Files.createTempDirectory("graft-e2e-jdbc-src")
    val ckpt: Path = Files.createTempDirectory("graft-e2e-jdbc-ckpt")
    Files.writeString(dir.resolve("batch1.json"), Seq(
      jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
      jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
      jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000"),
      jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000") // replay
    ).mkString("\n"))
    val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 50L,
      db = graft.sinks.FakeDb.cfg("e2e-topology"))
    val source = EcommerceStreamJob.fileSource(spark, dir.toString)

    val queries = EcommerceStreamJob.startAll(spark, cfg, Some(source))
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    // W1–W4: the four reference DDLs ran exactly once, at startup
    assert(db.eventLog.filter(_.startsWith("ddl:")) === Vector(
      "ddl:transactions", "ddl:sales_per_category",
      "ddl:sales_per_day", "ddl:sales_per_month"))
    // W5: raw copy — the replayed t1 collapses on PK transaction_id
    assert(db.rowsOf("transactions").size === 3)
    // W6: category totals incl. the double-counted replay line
    val cat = db.rowsOf("sales_per_category")
      .map(r => r("category") -> r("total_sales")).toMap
    assert(cat === Map("electronic" -> 22.5, "fashion" -> 4.0))
    // W7/W8: day and month end states
    assert(db.rowsOf("sales_per_day").size === 2)
    val month = db.rowsOf("sales_per_month")
    assert(month.size === 1 && month.head("total_sales") === 26.5)
    assert(month.head("year") === 2024 && month.head("month") === 11)
    // writer hygiene across both concurrent queries: every batch
    // flush committed, every connection closed
    val log = db.eventLog
    assert(log.count(_.startsWith("executeBatch:")) > 0)
    assert(log.count(_ == "commit") === log.count(_.startsWith("executeBatch:")))
    assert(log.count(_ == "connect") === log.count(_ == "close"))
  }
}
