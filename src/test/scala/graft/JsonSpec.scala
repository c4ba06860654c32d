package graft

import org.apache.spark.sql.functions._

import graft.ingest.Json

/** D1 parity: JSON → Transaction binding, incl. the generator's exact
  * timestamp shape (reference `JSONValueDeserializationSchema.java:21-23`,
  * `sale-transaction-generator/main.py:24`). */
class JsonSpec extends SparkSpec {
  import spark.implicits._

  private val generatorRecord =
    """{"transactionId":"7e57d004-2b97-4c7a-9d3e-000000000001",
      |"productId":"product3","productName":"tablet",
      |"productCategory":"electronic","productPrice":499.99,
      |"productQuantity":2,"productBrand":"samsung",
      |"totalAmount":999.98,"currency":"USD","customerId":"jsmith",
      |"transactionDate":"2024-11-08T12:34:56.789012",
      |"paymentMethod":"credit_card"}""".stripMargin.replaceAll("\n", "")

  test("parses the generator's record shape incl. naive-UTC micros timestamp") {
    val parsed = Json.parseTransactions(Seq(generatorRecord).toDF("value"))
    val row = parsed.collect().head
    assert(row.getAs[String]("transactionId")
      === "7e57d004-2b97-4c7a-9d3e-000000000001")
    assert(row.getAs[Double]("productPrice") === 499.99)
    assert(row.getAs[Int]("productQuantity") === 2)
    assert(row.getAs[Double]("totalAmount") === 999.98)
    // session TZ is UTC, so the naive timestamp binds verbatim
    assert(row.getAs[java.sql.Timestamp]("transactionDate").toString
      === "2024-11-08 12:34:56.789012")
  }

  test("typed binding yields a Dataset[Transaction]") {
    val ds = Json.parseTransactions(Seq(generatorRecord).toDF("value"))
      .as[Transaction]
    val t = ds.collect().head
    assert(t.productCategory === "electronic")
    assert(t.totalAmount === 999.98)
  }

  test("malformed, key-less, and date-less records are dropped by validTransactions") {
    val rows = Seq(
      generatorRecord,
      """{"productId":"product1"}""", // parseable, no PK
      // parseable with PK but no event time: would become a NULL
      // grouping key -> NULL PK in the sink (poison pill)
      """{"transactionId":"t-no-date","totalAmount":1.0}""",
      "not json at all")
    val valid = Json.validTransactions(
      Json.parseTransactions(rows.toDF("value")))
    assert(valid.count() === 1L)
  }

  test("parseTransactions keeps one row per record; null and malformed records are all-null rows") {
    val rows = Seq(
      Some(generatorRecord),
      None,
      Some("not json"),
      Some("""{"productId":"product1"}"""),
      Some("""{"transactionId":"t-no-date","totalAmount":1.0}"""))
    val parsed = Json.parseTransactions(rows.toDF("value"))
    assert(parsed.columns.toSeq === graft.Model.transactionSchema.fieldNames.toSeq)
    val out = parsed.collect()
    assert(out.length === 5)
    // the null and the malformed input: every field null
    assert(out.count(r => (0 until r.length).forall(r.isNullAt)) === 2)
    assert(out.exists(r => r.getAs[String]("productId") == "product1" &&
      r.getAs[String]("transactionId") == null))
    assert(out.exists(r => r.getAs[String]("transactionId") == "t-no-date" &&
      r.getAs[java.sql.Timestamp]("transactionDate") == null))
    // validTransactions drops all four dead-letter rows
    assert(Json.validTransactions(parsed).collect().map(_.getAs[String]("transactionId"))
      .toSeq === Seq("7e57d004-2b97-4c7a-9d3e-000000000001"))
  }

  test("readJsonlFiles quarantines corrupt lines with their raw text preserved") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile
    val f = new java.io.File(dir, "part-0.jsonl")
    val pw = new java.io.PrintWriter(f, "UTF-8")
    pw.println("""{"id": 1, "text": "good row"}""")
    pw.println("""{"id": 2, "text": "also good"}""")
    pw.println("""{"id": 3, "text": "truncated""") // unterminated string
    pw.println("""totally not json""")
    pw.close()
    val schema = new StructType()
      .add("id", LongType).add("text", StringType)
    val out = Json.readJsonlFiles(spark, f.getAbsolutePath, schema)
    val good = out.filter(!col("is_corrupt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(good === Map(1L -> "good row", 2L -> "also good"))
    // the dead-letter rows carry their RAW lines for replay/debugging.
    // (a data column rides along: Spark disallows plans that reference
    // ONLY the internal corrupt column — see the operator's doc note)
    val bad = out.filter(col("is_corrupt"))
      .select("_corrupt_record", "id").collect().map(_.getString(0)).toSet
    assert(bad === Set("""{"id": 3, "text": "truncated""", "totally not json"))
    // declaring _corrupt_record in the data schema is a contract error
    intercept[IllegalArgumentException] {
      Json.readJsonlFiles(spark, f.getAbsolutePath,
        new StructType().add("_corrupt_record", StringType))
    }
  }
}
