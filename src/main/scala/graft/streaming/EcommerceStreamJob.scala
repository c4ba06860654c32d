package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.Json
import graft.operators.Ecommerce
import graft.sinks.JdbcUpsert
import graft.sinks.JdbcUpsert.ConnConfig

/** The end-to-end streaming job: the Spark-native counterpart of the
  * reference's single Flink dataflow (`DataStreamJob.java:84-170`).
  *
  * Topology decision (vs SURVEY.md §3's "single read + foreachBatch
  * fan-out" sketch): the three aggregations are RUNNING totals — state
  * since job start — so they must live in Structured Streaming state
  * stores (`groupBy().agg()` + `outputMode("update")`), and Spark allows
  * one streaming aggregation per query. We therefore run FOUR queries
  * over the same topic (raw copy + three aggs), each with its own
  * checkpoint. This preserves the two properties the reference relies on:
  *   - convergence: update-mode emits the full running total for every
  *     changed key each micro-batch, so the `ON CONFLICT … SET total_sales
  *     = EXCLUDED.total_sales` replace-upsert converges to the same DB
  *     end-state as Flink's per-record emission;
  *   - idempotency: replays re-write the same totals (at-least-once safe),
  *     unlike a per-batch delta + additive upsert, which double-counts.
  * Kafka serves multiple consumers from the page cache; the extra reads
  * are projection-pruned to the few columns each pipeline needs. State is
  * unwindowed, exactly like the reference (no watermark,
  * `DataStreamJob.java:98`), so it grows with key cardinality: one entry
  * per category, per day and per month ever seen, which for a wide
  * category space over years of dates is far from small. For unbounded
  * keys use the watermarked variants in `Windows` instead.
  */
object EcommerceStreamJob {

  /** Config surface mirroring the reference's parameters
    * (`DataStreamJob.java:71-78`: kafka servers, topic, group, db url/user/
    * password — note the reference swaps user/password keys at `:108-109`;
    * we do not reproduce that bug).
    *
    * `checkpointRoot` is deliberately required (no default): the
    * running totals live in the checkpointed state store, and a
    * non-durable location (e.g. /tmp) means a host restart resets the
    * totals and the replace-upserts then overwrite the accumulated DB
    * values with small restarted ones.
    *
    * `groupId` empty ⇒ let Spark generate a UNIQUE consumer group per
    * query. The four concurrent queries of this job must NOT share one
    * group id — the Spark Kafka integration warns that concurrent
    * queries in the same group interfere and each read only part of the
    * topic. Set it only for broker-side ACL requirements, and then run
    * a single query per job instance. */
  final case class JobConfig(
      checkpointRoot: String,
      kafkaServers: String = "broker:29092",
      topic: String = "financial_transactions",
      groupId: String = "",
      startingOffsets: String = "latest",
      triggerMs: Long = 200L, // reference JDBC flush cadence (DataStreamJob.java:102)
      db: ConnConfig = ConnConfig("jdbc:postgresql://localhost:5432/postgres",
        "postgres", "postgres"))

  /** The exact reader options `kafkaSource` passes to the connector —
    * split out as a pure function so the wiring contract is testable
    * without a broker or the connector jar (KafkaIntegrationSpec). What
    * remains unverified offline is only the connector's own behavior
    * (broker I/O, offset tracking), not our option plumbing. */
  def kafkaSourceOptions(cfg: JobConfig): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> cfg.kafkaServers,
      "subscribe" -> cfg.topic,
      "startingOffsets" -> cfg.startingOffsets)
    if (cfg.groupId.nonEmpty) base + ("kafka.group.id" -> cfg.groupId) else base
  }

  /** S1: Kafka source (`DataStreamJob.java:89-95`). Value-only consumption,
    * latest offsets — matching `OffsetsInitializer.latest()`.
    *
    * NOTE: requires the `spark-sql-kafka-0-10` connector on the runtime
    * classpath (standard on any Spark distribution with Kafka support;
    * NOT a dependency of this build, so tests drive the same pipelines
    * through MemoryStream / `fileSource`). */
  def kafkaSource(spark: SparkSession, cfg: JobConfig): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(cfg))
      .load()

  /** Connector-free source for local/offline runs: a directory of JSON
    * lines, one transaction per line — same `value: string` contract as
    * the Kafka source, so every downstream pipeline is source-agnostic. */
  def fileSource(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .format("text")
      .options(options) // e.g. maxFilesPerTrigger to bound micro-batch size
      .load(dir)
      .select(col("value"))

  // ---- pure pipeline builders (source-agnostic: batch, Memory, Kafka) ----

  /** D1: bytes → typed transactions, invalid records dropped. */
  def parse(raw: DataFrame): DataFrame =
    Json.validTransactions(Json.parseTransactions(raw))

  /** Pipeline B: running sales per category (M1/K1/R1 semantics incl. the
    * first-seen-date quirk). */
  def categoryAgg(tx: DataFrame): DataFrame =
    Ecommerce.salesPerCategoryFaithful(tx, "transactionDate",
      "productCategory", "totalAmount")

  /** Pipeline C/day. */
  def dayAgg(tx: DataFrame): DataFrame =
    Ecommerce.salesPerDay(tx, "transactionDate", "totalAmount")

  /** Pipeline C/month (faithful month-only key, first-seen year). */
  def monthAgg(tx: DataFrame): DataFrame =
    Ecommerce.salesPerMonthFaithful(tx, "transactionDate", "totalAmount")

  /** Raw transactions projected to the DB column names
    * (`DataStreamJob.java:318-331`). */
  def rawForDb(tx: DataFrame): DataFrame =
    tx.select(
      col("transactionId").as("transaction_id"),
      col("productId").as("product_id"),
      col("productName").as("product_name"),
      col("productCategory").as("product_category"),
      col("productPrice").as("product_price"),
      col("productQuantity").as("product_quantity"),
      col("productBrand").as("product_brand"),
      col("totalAmount").as("total_amount"),
      col("currency").as("currency"),
      col("customerId").as("customer_id"),
      col("transactionDate").as("transaction_date"),
      col("paymentMethod").as("payment_method"))

  // ---- wiring ----

  /** The four pipelines of the job as (queryName, transform, outputMode,
    * targetTable, upsertKeys) — the single topology description both
    * `startAll` (JDBC) and tests (captured sinks) wire up.
    * Conflict targets = the table PKs (`DataStreamJob.java:280,293,307`);
    * the faithful aggs pin date/year per key, so the full-PK conflict
    * target hits the same row every update. */
  val pipelines: Seq[(String, DataFrame => DataFrame, String, String, Seq[String])] = Seq(
    ("raw_transactions", rawForDb _, "append", "transactions", Seq("transaction_id")),
    ("sales_per_category", categoryAgg _, "update", "sales_per_category",
      Seq("transaction_date", "category")),
    ("sales_per_day", dayAgg _, "update", "sales_per_day", Seq("transaction_date")),
    ("sales_per_month", monthAgg _, "update", "sales_per_month", Seq("year", "month"))
  )

  /** Start the full topology with a custom per-batch sink — the test
    * seam. `sink(table, keys)(batchDf, batchId)` is invoked per
    * micro-batch of each pipeline. All or nothing: if any `start()`
    * throws, the queries already started are stopped before the error
    * propagates, so a failed start leaves no query running. */
  def startAllWithSink(spark: SparkSession, cfg: JobConfig, source: DataFrame)(
      sink: (String, Seq[String]) => (DataFrame, Long) => Unit): Seq[StreamingQuery] = {
    val tx = parse(source)
    val started = ArrayBuffer.empty[StreamingQuery]
    try {
      pipelines.foreach { case (name, transform, mode, table, keys) =>
        started += transform(tx).writeStream
          .queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", s"${cfg.checkpointRoot}/$name")
          .trigger(Trigger.ProcessingTime(cfg.triggerMs))
          .foreachBatch(sink(table, keys))
          .start()
      }
      started.toSeq
    } catch {
      case NonFatal(e) =>
        started.foreach { q =>
          try q.stop() catch { case NonFatal(s) => e.addSuppressed(s) }
        }
        throw e
    }
  }

  /** Start the full job: DDL once at startup (replacing the reference's
    * no-op DDL "sinks" W1–W4), then four streaming queries upserting
    * into Postgres. */
  def startAll(spark: SparkSession, cfg: JobConfig,
      source: Option[DataFrame] = None): Seq[StreamingQuery] = {
    JdbcUpsert.runDdl(cfg.db)
    startAllWithSink(spark, cfg, source.getOrElse(kafkaSource(spark, cfg))) {
      (table, keys) => (batch, _) => JdbcUpsert.upsert(batch, table, keys, cfg.db)
    }
  }
}
