package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Columns built straight from a Catalyst expression, so graft's native
  * expressions need no function-registry entry in the session. Lives under
  * `org.apache.spark.sql` because `ExpressionUtils` is `private[sql]`.
  */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
