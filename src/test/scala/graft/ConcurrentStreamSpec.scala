package graft

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EcommerceStreamJob
import graft.streaming.EcommerceStreamJob.JobConfig

/** Multi-query concurrency over ONE shared source: both pipelines of
  * the job read the same `MemoryStream` simultaneously (the exact
  * topology the Kafka deployment runs — two consumers of one topic),
  * with data arriving in interleaved rounds while the queries are
  * already live. What this pins down beyond EndToEndStreamSpec's
  * file-source run:
  *  - the queries keep INDEPENDENT offsets on the shared source — no
  *    query steals or truncates another's unread batches (each has its
  *    own checkpoint dir under `cfg.checkpointRoot/<name>`);
  *  - feeding new data AFTER some queries have already processed the
  *    previous round loses nothing anywhere;
  *  - the captured upsert end-state is batch truth for every table at
  *    once, not per-pipeline in isolation. */
class ConcurrentStreamSpec extends SparkSpec {
  import spark.implicits._

  private def jsonTx(id: String, cat: String, amt: Double, ts: String): String =
    s"""{"transactionId":"$id","productId":"p1","productName":"laptop",
       |"productCategory":"$cat","productPrice":$amt,"productQuantity":1,
       |"productBrand":"apple","totalAmount":$amt,"currency":"USD",
       |"customerId":"c1","transactionDate":"$ts",
       |"paymentMethod":"credit_card"}""".stripMargin.replaceAll("\n", "")

  test("the concurrent queries over one MemoryStream all see every round") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val ckpt = Files.createTempDirectory("graft-conc-ckpt")

    // captured "database": table -> key -> row (last write wins = upsert)
    val db = TrieMap.empty[String, TrieMap[Seq[Any], Seq[Any]]]
    val cfg = JobConfig(checkpointRoot = ckpt.toString, triggerMs = 10L)
    val queries = EcommerceStreamJob.startAllWithSink(spark, cfg, input.toDF()) {
      (table, keys) => (batch, _) =>
        val cols = batch.columns.toSeq
        val keyIdx = keys.map(cols.indexOf)
        val t = db.getOrElseUpdate(table, TrieMap.empty)
        batch.collect().foreach { row =>
          t.put(keyIdx.map(row.get), cols.indices.map(row.get))
        }
    }
    try {
      // round 1: two categories, one day
      input.addData(
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"))
      queries.foreach(_.processAllAvailable())
      // round 2 lands AFTER every query has fully processed round 1;
      // two separate adds make the unprocessed backlog multi-batch
      input.addData(jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000"))
      input.addData(
        jsonTx("t4", "grocery", 6.0, "2024-12-01T08:00:00.000000"),
        jsonTx("t5", "electronic", 1.0, "2024-12-02T12:00:00.000000"))
      queries.foreach(_.processAllAvailable())

      // raw append sink: every query saw every round — all five ids
      assert(db("transactions").keySet.map(_.head) ===
        Set("t1", "t2", "t3", "t4", "t5"))
      // category running totals across both rounds
      val cat = db("sales_per_category").map { case (k, v) => k.last -> v.last }
      assert(cat === Map("electronic" -> 13.5, "fashion" -> 4.0, "grocery" -> 6.0))
      // per-day totals: four distinct days
      val day = db("sales_per_day").map { case (k, v) => k.head.toString -> v.last }
      assert(day === Map("2024-11-08" -> 14.0, "2024-11-09" -> 2.5,
        "2024-12-01" -> 6.0, "2024-12-02" -> 1.0))
      // per-month totals: Nov and Dec 2024
      val month = db("sales_per_month").map { case (k, v) => k.last -> v.last }
      assert(month === Map(11 -> 16.5, 12 -> 7.0))
    } finally queries.foreach(_.stop())
  }
}
