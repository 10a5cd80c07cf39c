package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Column ↔ catalyst Expression bridge for graft's native expressions,
  * plus the internal-row DataFrame constructor of the ordered kernel.
  *
  * Spark 4 made `ExpressionUtils` (the only conversion between the
  * public `Column` and catalyst `Expression`) and
  * `internalCreateDataFrame` `private[sql]`; extension libraries
  * conventionally reach them from inside the package. Only these three
  * entry points are exposed — no other internals.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `rows` as a DataFrame of `schema`, with no per-row conversion: the
    * rows must already be laid out as `schema`.
    */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)
}
