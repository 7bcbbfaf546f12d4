package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters
  * and type collections, so
  * graft can expose native Catalyst expressions as user-facing Columns
  * (Spark 4 moved Column construction behind ColumnNode). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** An input type accepting any of `types` (for ExpectsInputTypes). */
  def anyOf(types: AbstractDataType*): AbstractDataType = TypeCollection(types: _*)
}
