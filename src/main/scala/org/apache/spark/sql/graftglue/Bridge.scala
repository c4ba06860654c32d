package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved the Column ⇄ Expression bridge behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim lives in
  * an `org.apache.spark.sql` subpackage solely to re-export the two
  * conversions graft's custom Catalyst expressions need. No other
  * internal API is touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
