package graft

import org.apache.spark.sql.types._

/** Data model of the engine.
  *
  * Mirrors the reference's fixed, code-declared input schema (see
  * SURVEY.md §1.2): the record `TransactionDTO` (reference
  * `src/main/java/me/vuhoang/de/flink/sample/dto/TransactionDTO.java:8-21`).
  * The reference's three aggregate DTOs have no typed mirror here: the
  * pipelines are DataFrame transforms (`operators/Ecommerce`) whose
  * snake_case column schemas the JdbcUpsert DDL pins.
  *
  * Money is deliberately `Double`, not `BigDecimal`: the reference uses
  * `double` end-to-end (`TransactionDTO.java:13,16`, Postgres
  * `DOUBLE PRECISION`), and bit-parity with it requires `DoubleType`.
  */
final case class Transaction(
    transactionId: String,
    productId: String,
    productName: String,
    productCategory: String,
    productPrice: Double,
    productQuantity: Int,
    productBrand: String,
    totalAmount: Double,
    currency: String,
    customerId: String,
    transactionDate: java.sql.Timestamp,
    paymentMethod: String
)

object Model {

  /** Explicit input schema for JSON binding — the Spark analogue of the
    * reference's Jackson binding (`JSONValueDeserializationSchema.java:21-23`).
    * Declared, not inferred: schema inference over a stream is both slow and
    * non-deterministic at 100 TB scale.
    */
  val transactionSchema: StructType = StructType(Seq(
    StructField("transactionId", StringType),
    StructField("productId", StringType),
    StructField("productName", StringType),
    StructField("productCategory", StringType),
    StructField("productPrice", DoubleType),
    StructField("productQuantity", IntegerType),
    StructField("productBrand", StringType),
    StructField("totalAmount", DoubleType),
    StructField("currency", StringType),
    StructField("customerId", StringType),
    StructField("transactionDate", TimestampType),
    StructField("paymentMethod", StringType)
  ))
}
