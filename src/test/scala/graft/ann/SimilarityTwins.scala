package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed form of the fused LSH bucket kernel. */
object SimilarityTwins {

  /** One table's LSH sign-bucket id: `nPlanes` sign bits of `graft_dot`
    * projections onto the seeded hyperplanes, packed into a long — the
    * composed per-table form ExprSpec pins
    * [[Similarity.hyperplaneBucketsAll]] against.
    */
  def hyperplaneBuckets(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val m = Similarity.planeMatrix(nPlanes, dim, seed)
    val bits = (0 until nPlanes).map { p =>
      val proj = graft.expr.VectorFunctions.dot(vec, typedlit(m(p).toSeq))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }
}
