package graft

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EcommerceStreamJob

/** R1–R3 streaming parity: the running aggregations in update mode must
  * converge to the same end-state as Flink's per-record keyed reduce
  * (`DataStreamJob.java:133-163`), regardless of micro-batch boundaries. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def jsonTx(id: String, cat: String, amt: Double, ts: String): String =
    s"""{"transactionId":"$id","productId":"p1","productName":"laptop",
       |"productCategory":"$cat","productPrice":$amt,"productQuantity":1,
       |"productBrand":"apple","totalAmount":$amt,"currency":"USD",
       |"customerId":"c1","transactionDate":"$ts",
       |"paymentMethod":"credit_card"}""".stripMargin.replaceAll("\n", "")

  test("category running totals converge across micro-batches (update mode)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val tx = EcommerceStreamJob.parse(input.toDF().withColumnRenamed("value", "value"))
    val agg = EcommerceStreamJob.categoryAgg(tx)

    val query = agg.writeStream
      .format("memory")
      .queryName("cat_totals")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: two categories
      input.addData(
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"))
      query.processAllAvailable()
      // batch 2: electronic grows — update mode re-emits the full total
      input.addData(jsonTx("t3", "electronic", 2.5, "2024-11-09T09:00:00.000000"))
      query.processAllAvailable()

      // upsert end-state = latest emission per key (exactly what the
      // ON CONFLICT ... SET total_sales = EXCLUDED.total_sales sink does)
      val endState = spark.table("cat_totals")
        .groupBy($"category")
        .agg(org.apache.spark.sql.functions.max($"total_sales").as("total_sales"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(endState === Map("electronic" -> 12.5, "fashion" -> 4.0))
      // first-seen date sticks per key (reference quirk #2: keyed by
      // category only, date carried from first record)
      val dates = spark.table("cat_totals")
        .filter($"category" === "electronic")
        .select($"transaction_date").distinct()
        .collect().map(_.getDate(0).toString).toSet
      assert(dates === Set("2024-11-08"))
    } finally query.stop()
  }

  test("day and month aggs run in update mode and converge") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val tx = EcommerceStreamJob.parse(input.toDF())
    val day = EcommerceStreamJob.dayAgg(tx).writeStream
      .format("memory").queryName("day_totals")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
        jsonTx("t2", "fashion", 4.0, "2024-11-08T11:00:00.000000"),
        jsonTx("t3", "grocery", 6.0, "2024-11-09T09:00:00.000000"))
      day.processAllAvailable()
      val out = spark.table("day_totals")
        .collect().map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
      assert(out === Map("2024-11-08" -> 14.0, "2024-11-09" -> 6.0))
    } finally day.stop()
  }

  test("faithful month agg (quirk #3): cross-year months share one accumulator, year first-seen") {
    // The ONE context where the faithful variants' first() is
    // deterministic — streaming update mode, where aggregation state
    // merges keep the existing first — so the Flink-parity claim
    // (reference DataStreamJob.java:160-163: keyBy(month) only, year
    // carried from the first record into PK (year, month)) is executed
    // here, not narrated. One row per micro-batch pins arrival order.
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val agg = EcommerceStreamJob.monthAgg(EcommerceStreamJob.parse(input.toDF()))
    val q = agg.writeStream.format("memory").queryName("month_totals_faithful")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(jsonTx("t1", "electronic", 100.0, "2023-01-15T10:00:00.000000"))
      q.processAllAvailable()
      // January of a DIFFERENT year: same month-only key
      input.addData(jsonTx("t2", "fashion", 50.0, "2024-01-10T09:00:00.000000"))
      q.processAllAvailable()
      input.addData(jsonTx("t3", "grocery", 7.0, "2024-02-01T08:00:00.000000"))
      q.processAllAvailable()

      val rows = spark.table("month_totals_faithful").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      // running emissions for month 1: (2023, 1, 100) then (2023, 1, 150)
      // — the 2024 arrival adds to the JANUARY accumulator but can never
      // flip the first-seen year
      assert(rows.filter(_._2 == 1).map(_._1).toSet === Set(2023),
        s"year must stay first-seen, got $rows")
      val endState = rows.groupBy(_._2).map { case (m, v) => m -> v.maxBy(_._3) }
      assert(endState(1) === ((2023, 1, 150.0))) // shared cross-year accumulator
      assert(endState(2) === ((2024, 2, 7.0)))
    } finally q.stop()
  }

  test("faithful category agg: a later-dated arrival can never flip the first-seen date") {
    // complements the convergence test above: date pinning asserted
    // against an ADVERSARIAL arrival (earlier AND later dates after the
    // first), one row per micro-batch
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val agg = EcommerceStreamJob.categoryAgg(EcommerceStreamJob.parse(input.toDF()))
    val q = agg.writeStream.format("memory").queryName("cat_totals_faithful")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(jsonTx("t1", "toy", 1.0, "2024-06-15T10:00:00.000000"))
      q.processAllAvailable()
      input.addData(jsonTx("t2", "toy", 2.0, "2024-06-20T10:00:00.000000")) // later date
      q.processAllAvailable()
      input.addData(jsonTx("t3", "toy", 4.0, "2024-06-01T10:00:00.000000")) // earlier date
      q.processAllAvailable()
      val dates = spark.table("cat_totals_faithful").filter($"category" === "toy")
        .select($"transaction_date").collect().map(_.getDate(0).toString).toSet
      assert(dates === Set("2024-06-15")) // every emission carries batch-1's date
      val total = spark.table("cat_totals_faithful").filter($"category" === "toy")
        .agg(org.apache.spark.sql.functions.max($"total_sales")).head.getDouble(0)
      assert(total === 7.0)
    } finally q.stop()
  }

  test("rawForDb projects to the reference's Postgres column names") {
    val tx = Json_fixture()
    val cols = EcommerceStreamJob.rawForDb(tx).columns.toSeq
    assert(cols === Seq("transaction_id", "product_id", "product_name",
      "product_category", "product_price", "product_quantity",
      "product_brand", "total_amount", "currency", "customer_id",
      "transaction_date", "payment_method"))
  }

  test("every pipeline parses each record once: one from_json in the optimized plan") {
    // a file scan, like the job's source: a local or literal input would
    // let the optimizer evaluate the parse at planning time
    val dir = java.nio.file.Files.createTempDirectory("plan-pin")
    try {
      java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
        java.util.List.of(jsonTx("t1", "electronic", 1.0, "2024-11-08T10:00:00.000000")))
      val raw = spark.read.text(dir.toString)
      EcommerceStreamJob.pipelines.foreach { case (name, transform, _, _) =>
        val plan = transform(EcommerceStreamJob.parse(raw)).queryExecution.optimizedPlan
        val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
        assert(parses.size === 1, s"$name parses ${parses.size} times:\n$plan")
      }
    } finally StreamEventFixture.deleteRecursively(dir)
  }

  test("running_sums slices equal the three aggregations they replace") {
    // one date per category and one year per month: first() then has a
    // single candidate per key, so batch results are deterministic
    val tx = EcommerceStreamJob.parse(Seq(
      jsonTx("t1", "electronic", 10.0, "2024-11-08T10:00:00.000000"),
      jsonTx("t2", "fashion", 4.0, "2024-11-09T11:00:00.000000"),
      jsonTx("t3", "electronic", 2.5, "2024-11-08T12:00:00.000000"),
      jsonTx("t4", "grocery", 6.0, "2024-12-01T08:00:00.000000"),
      jsonTx("t5", "toy", 1.5, "2024-11-09T09:00:00.000000")).toDF("value"))
    val Seq(_, (_, sums, _, tables)) = EcommerceStreamJob.pipelines
    val out = sums(tx)
    val expected = Map(
      "sales_per_category" -> EcommerceStreamJob.categoryAgg(tx),
      "sales_per_day" -> EcommerceStreamJob.dayAgg(tx),
      "sales_per_month" -> EcommerceStreamJob.monthAgg(tx))
    assert(tables.map(_._1).toSet === expected.keySet)
    tables.foreach { case (table, _, project) =>
      val got = project(out)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        expected(table).schema.map(f => f.name -> f.dataType), table)
      assert(got.collect().toSet === expected(table).collect().toSet, table)
    }
  }

  private def Json_fixture() = {
    val raw = Seq(jsonTx("t1", "electronic", 1.0, "2024-11-08T10:00:00.000000"))
      .toDF("value")
    EcommerceStreamJob.parse(raw)
  }
}
