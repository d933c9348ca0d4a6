package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Lives inside the org.apache.spark.sql namespace to reach the
  * private[sql] Column <-> Expression converters (Spark 4 removed the
  * public constructors). graft builds its custom aggregates and every
  * `Functions.dsl` kernel call through it; only the `graft_*` SQL names
  * go through the FunctionRegistry.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
