package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge, plus parquet schema merging. Spark 4
  * made `Column.expr`, `ExpressionUtils` and `StructType.merge`
  * private[sql]; third-party code reaches them through a shim in the sql
  * package namespace (the established pattern of Sedona/Frameless-style
  * extension libraries). This is the ONLY file outside the `graft`
  * namespace.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The merge `mergeSchema` inference applies to two files' schemas. */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
