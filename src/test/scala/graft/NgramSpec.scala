package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** N-gram count tables + train/test contamination overlap. */
class NgramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ngramsWithMultiplicity: order, multiplicity, short-text edge") {
    val got = Seq("a b a b a", "a b", "  x   y z  ", "solo")
      .toDF("text")
      .select(TextAnalysis.ngramsWithMultiplicity(col("text"), 2).as("g"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("a b", "b a", "a b", "b a")) // duplicates kept, in order
    assert(got(1) === Seq("a b"))
    assert(got(2) === Seq("x y", "y z"))               // multi-space + trim
    assert(got(3) === Seq.empty)                       // fewer than n tokens
  }

  test("ngramsWithMultiplicity n=1: unigrams in order; empty/whitespace text yields NO empty gram") {
    val got = Seq("a b a", "", "   ", "solo")
      .toDF("text")
      .select(TextAnalysis.ngramsWithMultiplicity(col("text"), 1).as("g"))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("a", "b", "a"))
    assert(got(1) === Seq.empty) // split("") = [""] must not leak a "" unigram
    assert(got(2) === Seq.empty)
    assert(got(3) === Seq("solo"))
  }

  test("ngramCounts: hand-computed counts with minCount pruning") {
    val df = Seq("the cat sat", "the cat ran", "a cat sat").toDF("text")
    val got = TextAnalysis.ngramCounts(df, "text", n = 2, minCount = 2L)
      .as[(String, Long)].collect().toMap
    assert(got === Map("the cat" -> 2L, "cat sat" -> 2L))
    val all = TextAnalysis.ngramCounts(df, "text", n = 2, minCount = 1L)
      .as[(String, Long)].collect().toMap
    assert(all("cat ran") === 1L && all("a cat") === 1L && all.size === 4)
  }

  test("ngramContamination: full, zero, and partial overlap, hand-computed") {
    val corpus = Seq("the cat sat on the mat", "dogs bark loudly").toDF("text")
    val test = Seq(
      (1L, "the cat sat"),          // both 2-grams in corpus -> 1.0
      (2L, "purple monkey dishes"), // none -> 0.0
      (3L, "cat sat quietly"),      // "cat sat" yes, "sat quietly" no -> 0.5
      (4L, "solo"))                 // no 2-grams -> absent from output
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramContamination(test, corpus, "doc_id", "text", n = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, 1.0)))
    assert(got(2L) === ((2L, 2L, 0L, 0.0)))
    assert(got(3L) === ((3L, 2L, 1L, 0.5)))
    assert(!got.contains(4L))
  }

  test("ngramContamination plan: equi-join only, never nested-loop/cartesian") {
    val corpus = Seq("a b c").toDF("text")
    val test = Seq((1L, "a b")).toDF("doc_id", "text")
    val plan = TextAnalysis.ngramContamination(test, corpus, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("bloom decontamination: hit-superset of exact (no false negatives), fp rate bounded, join-free plan") {
    val rng = new scala.util.Random(31)
    val corpus = (0 until 400).map(i =>
      s"corpus token ${rng.nextInt(500)} word ${rng.nextInt(500)}").toDF("text")
    val test = (0 until 120).map { i =>
      val t = if (i % 3 == 0) s"corpus token ${rng.nextInt(500)}" // likely overlap
              else s"novel gram ${i} never seen ${i * 7}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val exact = TextAnalysis.ngramContamination(test, corpus, "doc_id", "text", 2)
      .select("doc_id", "n_grams", "n_hit").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val bloomDf = TextAnalysis.ngramContaminationBloom(
      test, corpus, "doc_id", "text", n = 2, expectedItems = 5000L, fpp = 0.01)
    val bloom = bloomDf.select("doc_id", "n_grams", "n_hit").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(bloom.keySet === exact.keySet)
    var extraHits = 0L; var totalGrams = 0L
    exact.foreach { case (id, (_, ng, hitEx)) =>
      val (_, ngB, hitB) = bloom(id)
      assert(ngB === ng, s"doc $id gram counts differ")
      assert(hitB >= hitEx, s"doc $id: bloom missed a contaminated gram (false negative)")
      extraHits += hitB - hitEx; totalGrams += ng
    }
    // fp rate across all probed grams stays within ~5x the configured 1%
    assert(extraHits.toDouble / totalGrams < 0.05,
      s"fp rate ${extraHits.toDouble / totalGrams} too high")
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bloom path must be join-free:\n$plan")
    // the probe is the codegen'd expression, never a Scala UDF
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("udf("),
      s"bloom probe planned a UDF:\n$plan")
    assert(plan.contains("graft_bloom_contains"),
      s"expected the graft_bloom_contains expression in the plan:\n$plan")
  }

  test("graft_bloom_contains: bit-identical to mightContainString, null-safe, codegen and interpreted") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.GraftColumns.{column, expression}
    val sc = spark.sparkContext
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0 until 300).foreach(i => bloom.putString(s"gram $i é$i")) // non-ASCII too
    val bc = sc.broadcast(bloom)
    val probes = (0 until 600).map(i => s"gram $i é$i") :+ null
    val got = probes.toDF("s")
      .select(col("s"),
        column(graft.expr.BloomMightContain(expression(col("s")), bc)).as("hit"))
      .collect().map(r => Option(r.getString(0)) -> (if (r.isNullAt(1)) null else r.getBoolean(1)))
      .toMap
    probes.foreach { p =>
      val expected = if (p == null) null else bloom.mightContainString(p)
      assert(got(Option(p)) === expected, s"probe '$p'")
    }
    // every inserted gram must hit (no false negatives by construction)
    (0 until 300).foreach(i => assert(got(Some(s"gram $i é$i")) === true))
    // interpreted eval path (no codegen) agrees
    val expr = graft.expr.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("gram 5 é5")), bc)
    assert(expr.eval(null) === true)
    bc.destroy()
  }

  test("ngramCounts plan: map-side partial aggregation (word-count shape)") {
    val df = Seq("a b c", "b c d").toDF("text").repartition(4)
    val plan = TextAnalysis.ngramCounts(df, "text", 2, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
  }

  test("ngramsWithMultiplicity: fused kernel == composed HOF chain (parity)") {
    val texts = Seq(
      "a b a b a", "a b", "  x   y z  ", "solo", "", "   ",
      "\tlead tab pair", "trail \t", "a\u000bvtab b c",
      null.asInstanceOf[String])
    val df = texts.toDF("text")
    Seq(1, 2, 3, 5).foreach { n =>
      val fused = df.select(
        TextAnalysis.ngramsWithMultiplicity(col("text"), n)).collect().toSeq
      val composed = df.select(
        graft.text.TextAnalysisTwins.ngramsWithMultiplicityComposed(col("text"), n)).collect().toSeq
      assert(fused === composed, s"n=$n")
    }
  }

  test("nonEmptyTokenCount: fused kernel == composed filter form (parity)") {
    val texts = Seq(
      "a b  c", "", "   ", "\tx", "x\t", "one", " lead", "trail ",
      null.asInstanceOf[String])
    val df = texts.toDF("text")
    val fused = df.select(
      TextAnalysis.nonEmptyTokenCount(col("text"))).collect().toSeq
    val composed = df.select(
      graft.text.TextAnalysisTwins.nonEmptyTokenCountComposed(col("text"))).collect().toSeq
    assert(fused === composed)
  }
}
