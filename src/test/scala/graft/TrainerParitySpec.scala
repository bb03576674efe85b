package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Similarity, SimilarityTwins}

/** The quantizer trainer places its per-(subspace, code, dim) means on the
  * driver. Its codebooks equal, bit for bit, those of the twin that
  * reshaped the means in the plan with a second exchange — the coarse
  * quantizer (numSub = 1), PQ codebooks (numSub = 4), and a code that gets
  * no rows and keeps its previous centroid.
  */
class TrainerParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The sf0.001 embeddings (500 × 64 floats) as the `(id, v)` train set;
    * left uncached, since a cached copy would stand in for the same plan in
    * other specs' quantizer train sets. */
  lazy val trainSet = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))

  def bits(cb: Array[Array[Array[Double]]]): Seq[Seq[Seq[Long]]] =
    cb.toSeq.map(_.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)))

  def assertParity(numSub: Int, numCodes: Int, init: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val ds = 64 / numSub
    val got = Similarity.trainCodebooks(trainSet, numSub, ds, numCodes, 2, init)
    val twin = SimilarityTwins.trainCodebooksTwoExchanges(trainSet, numSub, ds, numCodes, 2, init)
    assert(got.length === numSub && got.forall(_.length === numCodes))
    assert(got.forall(_.forall(_.length === ds)))
    assert(bits(got) === bits(twin))
    got
  }

  test("numSub = 1, 8 codes: bit-equal to the two-exchange twin") {
    assertParity(1, 8, Similarity.collectInitRows(trainSet, 8, 42L))
  }

  test("numSub = 4, 16 codes: bit-equal to the two-exchange twin") {
    assertParity(4, 16, Similarity.collectInitRows(trainSet, 16, 42L))
  }

  test("a code with no rows keeps its previous centroid, bit-equal to the twin") {
    // the last init row sits far outside the corpus: no train row is ever
    // nearest to it, so its centroid never moves
    val outlier = Array.fill(64)(1000.0)
    val init = Similarity.collectInitRows(trainSet, 7, 42L) :+ outlier
    Seq(1, 4).foreach { numSub =>
      val got = assertParity(numSub, 8, init)
      val ds = 64 / numSub
      got.foreach(cb => assert(cb(7).toSeq === outlier.take(ds).toSeq))
      // every other code moved off its init row, so the fixture trains
      assert(got(0)(0).toSeq !== init(0).take(ds).toSeq)
    }
  }
}
