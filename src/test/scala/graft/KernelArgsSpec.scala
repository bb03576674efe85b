package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** A fused kernel's literal argument outside the values the kernel handles
  * fails analysis with a message naming the function and the argument; it
  * never reaches a task. A null literal keeps its null result.
  */
class KernelArgsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Two-row text frame computed in a task (a range is not folded into a local relation). */
  private def texts: DataFrame =
    spark.range(2).selectExpr("concat('one two three ', cast(id AS string)) AS text")

  private def rejects(fn: String, arg: String)(df: => DataFrame): Unit = {
    val e = intercept[AnalysisException](df.collect())
    assert(e.getMessage.contains(s"$fn: argument $arg must be a literal"), e.getMessage)
  }

  test("graft_shingles rejects n < 1 and a non-literal n") {
    rejects("graft_shingles", "n")(texts.selectExpr("graft_shingles(text, 0)"))
    rejects("graft_shingles", "n")(texts.selectExpr("graft_shingles(text, length(text))"))
  }

  test("graft_ngrams rejects n < 1 and a null n (the kernel is never-null)") {
    rejects("graft_ngrams", "n")(texts.selectExpr("graft_ngrams(text, 0)"))
    rejects("graft_ngrams", "n")(texts.selectExpr("graft_ngrams(text, CAST(NULL AS INT))"))
  }

  test("graft_reflow rejects perLine = 0") {
    rejects("graft_reflow", "perLine")(texts.selectExpr("graft_reflow(text, 0)"))
  }

  test("graft_hyperplane_buckets rejects planesPerTable < 1") {
    rejects("graft_hyperplane_buckets", "planesPerTable")(spark.range(2)
      .selectExpr("graft_hyperplane_buckets(array(cast(id AS double), 1D), " +
        "array(array(1D, 0D), array(0D, 1D)), 0)"))
  }

  test("graft_minhash rejects numHashes < 0 (incl. on an empty shingle array)") {
    rejects("graft_minhash", "numHashes")(
      Seq(Seq.empty[String]).toDF("sh").select(
        org.apache.spark.sql.functions.call_function("graft_minhash", col("sh"), lit(-1))))
  }

  test("graft_kmv rejects k < 2 and graft_cms a w that is not a power of two") {
    val hashes = spark.range(10).selectExpr("xxhash64(id) AS h")
    rejects("graft_kmv", "k")(hashes.selectExpr("graft_kmv(h, 1)"))
    rejects("graft_cms", "w")(hashes.selectExpr("graft_cms(h, 4, 48)"))
  }

  test("a null literal argument keeps the null result") {
    val out = texts.selectExpr(
      "graft_shingles(text, CAST(NULL AS INT)) AS s",
      "graft_reflow(text, CAST(NULL AS INT)) AS r",
      "graft_trigram_topk(text, CAST(NULL AS INT)) AS t").collect()
    out.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r))
  }
}
