package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The earlier as-of formulation, whose left payload struct carried every
  * left column, the keys included. The union then lost the inputs' key
  * partitioning and planned one more exchange. Parity twin of
  * [[Enrich.asOfJoin]]. */
object EnrichTwins {

  def asOfJoinKeysInPayload(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                            tsCol: String, valueCols: Seq[String]): DataFrame = {
    val keyC = keyCols.map(col)
    val leftCols = left.columns.toSeq
    val l = left.select(keyC :+ col(tsCol).as("__ts") :+
      struct(leftCols.map(col): _*).as("__lrow") :+ lit(1).as("__side"): _*)
    val r = right.select(keyC :+ col(tsCol).as("__ts") :+
      struct(valueCols.map(col): _*).as("__val") :+ lit(0).as("__side"): _*)
    val valsOrderable = valueCols.forall { c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType)
    }
    val valTie =
      if (valsOrderable) col("__val").asc_nulls_first
      else xxhash64(to_json(col("__val"))).asc_nulls_first
    val w = Window.partitionBy(keyC: _*)
      .orderBy(col("__ts").asc, col("__side").asc, valTie)
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__asof", last(col("__val"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(c => col(s"__lrow.$c").as(c)) ++
        valueCols.map(c => col(s"__asof.$c").as(c)): _*)
  }
}
