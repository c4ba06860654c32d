package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Model

/** JSON → Transaction binding: the Spark analogue of the reference's
  * Jackson deserializer (`JSONValueDeserializationSchema.java:21-23`).
  *
  * Everything is `from_json` against the declared schema — no UDF, no
  * driver-side parsing. `from_json` is interpreted, not codegen'd
  * (`JsonToStructs` is a `CodegenFallback`), so each evaluation is a
  * full Jackson parse of the record. Malformed records become NULL
  * structs (PERMISSIVE mode), mirroring Jackson's exception-per-record
  * being the only failure path in the reference.
  */
object Json {

  /** The reference generator's timestamp shape:
    * `utcnow().strftime('%Y-%m-%dT%H:%M:%S.%f%z')` with empty `%z`
    * (naive UTC), e.g. `2024-11-08T12:34:56.789012`
    * (`sale-transaction-generator/main.py:24`). Spark's default lenient
    * parser accepts it, but we pin the format so behavior can't drift
    * with Spark versions.
    */
  val generatorTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  private val parseOptions = Map(
    "timestampFormat" -> generatorTimestampFormat,
    "mode" -> "PERMISSIVE")

  /** Parse a column of JSON strings into the full transaction struct and
    * flatten. Input: any DataFrame with a string column `jsonCol`.
    * Output columns = Model.transactionSchema fields, one row per input
    * row (a null or malformed record yields an all-null row).
    *
    * The flatten is a generator (`inline` of a one-element array), not
    * `select("t.*")`: with a projection, the optimizer pushes a filter
    * on the parsed fields (`validTransactions`) below it by copying
    * `from_json` into the filter, so every record is parsed twice. A
    * filter is pushed through a `Generate` only where it reads the
    * generator's child, so here it stays above the one parse. */
  def parseTransactions(df: DataFrame, jsonCol: String = "value"): DataFrame =
    df.select(inline(array(
      from_json(col(jsonCol).cast("string"), Model.transactionSchema,
        parseOptions))))

  /** Drop records Jackson would have thrown on (all-null struct ⇒
    * unparseable, or missing the PK) AND records without a parseable
    * event time: a null transactionDate would otherwise flow into the
    * date-keyed aggregations as a NULL grouping key and then into a
    * NOT NULL Postgres PK column — a poison-pill record that crash-loops
    * the sink on every checkpoint replay. Kept separate so callers
    * choose dead-letter handling instead of silent drops. */
  def validTransactions(parsed: DataFrame): DataFrame =
    parsed.filter(
      col("transactionId").isNotNull && col("transactionDate").isNotNull)

  /** JSONL file source with corrupt-record quarantine — the batch/file
    * twin of the Kafka JSON path, hardened for what a 100 TB crawl
    * actually contains: truncated lines, encoding damage, schema drift.
    * PERMISSIVE parsing binds good rows to `schema`; any line Jackson
    * would throw on lands with its RAW text preserved in
    * `_corrupt_record` and all schema fields null. The returned frame
    * carries `is_corrupt` so callers can split good/dead-letter with
    * two filters of ONE scan — no second pass over the files, and the
    * quarantined raw lines keep the replay/debug story (silently
    * dropping them would destroy the only copy of the evidence).
    *
    * The explicit schema is REQUIRED, not inferred: schema inference is
    * a full extra pass over 100 TB before the real one, and it turns
    * schema drift into silent column-type changes instead of quarantined
    * rows.
    *
    * Spark restriction to know: a downstream plan whose referenced
    * columns are ONLY `_corrupt_record` is rejected by the JSON source
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — project
    * at least one data column alongside (a dead-letter writer keeps
    * the whole row anyway), or cache first. */
  def readJsonlFiles(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "the data schema must not declare _corrupt_record; it is added here")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType, nullable = true)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("timestampFormat", generatorTimestampFormat)
      .json(path)
      .withColumn("is_corrupt", col("_corrupt_record").isNotNull)
  }
}
