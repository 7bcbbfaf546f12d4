package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters
  * and type collections, so
  * graft can expose native Catalyst expressions as user-facing Columns
  * (Spark 4 moved Column construction behind ColumnNode), to the
  * DataFrame of a logical plan, and to the `private[spark]` block
  * release under `RDD.unpersist`. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** An input type accepting any of `types` (for ExpectsInputTypes). */
  def anyOf(types: AbstractDataType*): AbstractDataType = TypeCollection(types: _*)
  /** Drop `rdd`'s stored blocks and its entry in the context's
    * persistent set, without the WARN `RDD.unpersist` logs for a
    * locally checkpointed RDD. Unlike `RDD.unpersist` it does NOT reset
    * the RDD's storage level: `rdd.getStorageLevel` still reports the
    * level the blocks had. So the RDD must never be persisted or
    * scanned again; only a checkpoint nothing will read qualifies. */
  def freeBlocks(rdd: org.apache.spark.rdd.RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
