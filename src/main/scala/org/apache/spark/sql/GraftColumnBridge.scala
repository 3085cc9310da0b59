package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ↔ Expression converters that
  * Spark 4 moved behind `org.apache.spark.sql.classic.ExpressionUtils`
  * when the Column API was re-based on ColumnNode. Graft's custom
  * Catalyst expressions ([[graft.functions.DecimalFloorDiv]], the
  * [[org.apache.spark.sql.graft.VectorExpressions]] constructors) need
  * a Column face; this is the narrowest opening — two delegating
  * one-liners, no state. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
