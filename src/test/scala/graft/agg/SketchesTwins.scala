package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Sketches.cmsBucket

/** The composed form of the CMS aggregate — CmsSpec's parity oracle. */
object SketchesTwins {

  /** Composed sparse twin of [[Sketches.cmsSketchBy]]+[[Sketches.cmsCells]]:
    * explode the d row hashes per occurrence and count — bit-identical
    * cells, but the aggregation state is O(distinct non-empty cells) per
    * group and the exploded stream is d× the input. Parity is spec-pinned
    * (CmsSpec).
    */
  def cmsCellsComposed(df: DataFrame, groupCols: Seq[String], c: String,
                       d: Int, w: Int): DataFrame =
    df.filter(col(c).isNotNull)
      .select(groupCols.map(col) :+
        posexplode(array((0 until d).map(r => cmsBucket(col(c), r, w)): _*))
          .as(Seq("r", "__j")): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("r").cast("int").as("r"),
        col("__j").cast("int").as("j")): _*)
      .agg(count(lit(1)).as("cnt"))
}
