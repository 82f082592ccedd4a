package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion and
  * `private[spark]` schema helpers (Spark 4 moved
  * the Expression constructor of Column behind classic.ExpressionUtils).
  * Lives in the org.apache.spark.sql package solely for access; no Spark
  * internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `StructType.asNullable` (`private[spark]`): what a file source applies
    * to every table schema. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable
}
