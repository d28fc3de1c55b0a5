package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst expression, for graft expressions that carry a
  * constructor constant (a model matrix) and so cannot be reached by
  * name through `call_function`. Same `private[sql]` seam as
  * [[StreamingBridge]]; keep it to these two calls. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
