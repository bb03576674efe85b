package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Column ⟷ Catalyst expression conversion for graft's fused kernels, and
  * the Catalyst-row DataFrame factory behind `graft.util.Rank`.
  * `classic.ExpressionUtils` is `private[sql]`; this object lives in the
  * same package so library code can build a kernel Column straight from its
  * case class — `column(PiiScrub(expression(text)))` — in any session,
  * whether or not `spark.sql.extensions` registered the SQL-string names.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over Catalyst rows that already match `schema` — no
    * external `Row` conversion (`internalCreateDataFrame` is `private[sql]`). */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                        schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
