package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources

/** Column ↔ Catalyst expression, for graft expressions that carry a
  * constructor constant (a model matrix) and so cannot be reached by
  * name through `call_function`; and a resolved predicate → data-source
  * filter, by the translation Spark's own filter pushdown applies (what
  * DML file pruning feeds the DSv2 scan's rule). Same `private[sql]`
  * seam as [[StreamingBridge]]; keep it to these three calls. */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def sourceFilter(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)
}
