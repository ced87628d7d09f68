package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion, needed to
  * expose custom Catalyst expressions (e.g.
  * [[graft.functions.CosineFold]]) through the public Column
  * API. Lives under `org.apache.spark.sql` purely for access; contains
  * no Spark code. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
