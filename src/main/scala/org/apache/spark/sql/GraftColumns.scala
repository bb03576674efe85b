package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⟷ Catalyst expression conversion for graft's fused kernels.
  * `classic.ExpressionUtils` is `private[sql]`; this object lives in the
  * same package so library code can build a kernel Column straight from its
  * case class — `column(PiiScrub(expression(text)))` — in any session,
  * whether or not `spark.sql.extensions` registered the SQL-string names.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
