package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed form of the fused LSH bucket kernel, and the earlier
  * quantizer trainer that reshaped its centroid means in the plan. */
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

  /** [[Similarity.trainCodebooks]] as it reshaped the means in the plan: a
    * second `groupBy(m, code)` gathers each centroid's
    * `sort_array(collect_list(struct(dim, mean)))`, and the driver receives
    * finished arrays. The parity twin of the driver-side placement (one
    * exchange per iteration instead of two). */
  def trainCodebooksTwoExchanges(trainSet: DataFrame, numSub: Int, ds: Int,
                                 numCodes: Int, iters: Int,
                                 initRows: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val quantScale = 4294967296.0 // 2^32
    def sub(mm: Int): Column = slice(col("v"), mm * ds + 1, ds)
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(numSub)(mm =>
        initRows.take(numCodes).map(v => java.util.Arrays.copyOfRange(v, mm * ds, (mm + 1) * ds)))
    (1 to iters).foreach { _ =>
      val perM = (0 until numSub).map { mm =>
        struct(lit(mm).as("m"),
          Similarity.nearestExpr(codebooks(mm))(sub(mm)).as("code"),
          sub(mm).as("sv"))
      }
      val next = trainSet.select(explode(array(perM: _*)).as("e"))
        .select(col("e.m").as("m"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("dim", "x")))
        .groupBy("m", "code", "dim")
        .agg(((sum(floor(col("x") * lit(quantScale))).cast("double") / lit(quantScale))
          / count(lit(1)).cast("double")).as("mean"))
        .groupBy("m", "code")
        .agg(sort_array(collect_list(struct(col("dim"), col("mean")))).as("s"))
        .select(col("m"), col("code"), expr("transform(s, p -> p.mean)").as("c"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
        .toMap
      codebooks = Array.tabulate(numSub)(mm =>
        codebooks(mm).zipWithIndex.map { case (old, j) =>
          next.getOrElse((mm, j), old)
        })
    }
    codebooks
  }
}
