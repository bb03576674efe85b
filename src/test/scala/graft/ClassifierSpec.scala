package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.Classifier

/** Hashed linear classifier: feature multiplicity, the pinned weight
  * formula, empty-doc dropout, and a driver-side recombination parity check
  * (distinct-gram hashes collected once, the per-doc sum re-derived in plain
  * Scala — independent of the explode+aggregate plan under test).
  */
class ClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def score(texts: Seq[String]) = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Classifier.hashedLinearScore(df, "doc_id", "text")
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
  }

  test("feature counts: unigrams with multiplicity + bigrams; empty docs drop") {
    val m = score(Seq("a a", "x", "", "   "))
    assert(m(0L)._2 === 3L) // "a","a" + bigram "a a"
    assert(m(1L)._2 === 1L) // one unigram, no bigram
    assert(!m.contains(2L) && !m.contains(3L))
  }

  test("weight formula lands in [-1000, 1000] and matches the pinned scramble") {
    val buckets = spark.range(Classifier.numBuckets).toDF("b")
    val w = buckets.select(Classifier.weightOf(col("b")).as("w")).as[Long].collect()
    assert(w.forall(x => x >= -1000 && x <= 1000))
    val expected = (0 until Classifier.numBuckets).map(b =>
      b.toLong * Classifier.weightMul % Classifier.weightMod - 1000L)
    assert(w.toSeq === expected)
  }

  test("per-doc sums match a driver-side recombination over hashed grams") {
    val texts = Seq("the cat sat on the mat", "cat mat cat", "one two three four")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // independent gram generation in plain Scala
    def grams(t: String): Seq[String] = {
      val toks = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val allGrams = texts.flatMap(grams).distinct
    val hashes = allGrams.toDF("g")
      .select(col("g"), xxhash64(col("g")).as("h"))
      .as[(String, Long)].collect().toMap
    def w(g: String): Long = {
      val b = hashes(g) & (Classifier.numBuckets - 1).toLong
      b * Classifier.weightMul % Classifier.weightMod - 1000L
    }
    val expected = texts.zipWithIndex.map { case (t, i) =>
      val gs = grams(t)
      (i.toLong, gs.size.toLong, gs.map(w).sum)
    }.map(r => r._1 -> r).toMap
    val got = Classifier.hashedLinearScore(df, "doc_id", "text")
      .as[(Long, Long, Long, Int)].collect()
    assert(got.length === 3)
    got.foreach { case (id, n, s, label) =>
      assert((id, n, s) === expected(id))
      assert(label === (if (s > 0) 1 else 0))
    }
  }

  test("fused kernel == composed explode+aggregate (parity incl. whitespace/unicode edges)") {
    val texts = Seq(
      "the cat sat", "a a", "x", "", "   ", "\tlead tab", "trail ",
      " multi   space word ", "unicode h\u00e9llo w\u00f6rld gram",
      "a\u000bvtab split", "\u000b", "\t", " \t ",
      null.asInstanceOf[String])
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    val fused    = rows(Classifier.hashedLinearScore(df, "doc_id", "text"))
    val composed = rows(graft.text.ClassifierTwins.hashedLinearScoreComposed(df, "doc_id", "text"))
    assert(fused === composed)
    // the fused path is map-only: no Exchange anywhere below the test sort
    val plan = Classifier.hashedLinearScore(df, "doc_id", "text")
      .queryExecution.analyzed.toString
    assert(plan.contains("graft_hash_features"), s"fused kernel not planned:\n$plan")
  }
}
