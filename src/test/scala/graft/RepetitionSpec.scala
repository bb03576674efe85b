package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Gopher §A1.1 n-gram repetition family: hand-computed numerators, the
  * cap-at-1 edge, fused == composed parity on degenerate/unicode/tie
  * fixtures, map-only fused plan, threshold flag.
  */
class RepetitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def feats(rows: Seq[(Long, String)]) =
    TextAnalysis.repetitionFeatures(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

  test("hand-computed: 'a a a' tops out and caps at 1.0") {
    // tokens [a,a,a], total chars = len("a a a") = 5
    // n=2: "a a" x2 -> top2num = 2*3 = 6 -> least(6/5, 1) = 1.0
    // n=3: "a a a" x1 -> not repetition -> 0
    val out = feats(Seq(1L -> "a a a", 2L -> "b c"))
    val r1 = out(1L)
    assert(r1.getAs[Double]("top_2gram_frac") === 1.0)
    assert(r1.getAs[Double]("top_3gram_frac") === 0.0)
    assert(r1.getAs[Double]("dup_5gram_frac") === 0.0)
    assert(r1.getAs[Boolean]("rep_pass") === false)
    val r2 = out(2L)
    assert(r2.getAs[Double]("top_2gram_frac") === 0.0)
    assert(r2.getAs[Boolean]("rep_pass") === true)
  }

  test("hand-computed: planted period-12 phrase lights up all nine features") {
    val p = " pack my box with five dozen liquid jugs again and again now"
    val out = feats(Seq(1L -> ("intro text" + p + p + p)))
    val r = out(1L)
    // 3 copies of a 12-word phrase: every n<=24 has repeated grams
    (Seq("top_2gram_frac", "top_3gram_frac", "top_4gram_frac") ++
      (5 to 10).map(n => s"dup_${n}gram_frac")).foreach { c =>
      assert(r.getAs[Double](c) > 0.0, s"$c should be positive")
    }
    assert(r.getAs[Boolean]("rep_pass") === false)
  }

  test("top-gram count ties break by gram ascending (affects numerator length)") {
    // n=2 counts: "xx y" x2 (len 4), "z w" x2 (len 3), singles otherwise.
    // Tie on count -> "xx y" wins (binary asc) -> numerator 8, not 6.
    // total = len("xx y xx y z w z w") = 17; 8/17 = 0.4706
    val out = feats(Seq(1L -> "xx y xx y z w z w"))
    assert(out(1L).getAs[Double]("top_2gram_frac") === 0.4706)
  }

  test("fused == composed on degenerate, unicode, and whitespace-edge fixtures") {
    val docs = Seq(
      1L -> "",                          // empty: all zero
      2L -> "   \t  ",                   // whitespace-only
      3L -> "word",                      // single token: no n-grams
      4L -> "a a a a a a a a a a a a",   // one token repeated: every n repeats
      5L -> "é é é über über",           // non-ASCII code points
      6L -> "a b\t",                     // trailing tab: trailing empty token kept
      7L -> "\tlead tab",                // leading empty token
      8L -> "xx y xx y z w z w",         // count tie
      9L -> ("s " * 50).trim,            // long repeat, caps
      // count tie where UTF-16 char order and code-point (UTF-8 byte)
      // order DISAGREE: tokens A="\uD834\uDD1E" (U+1D11E, a surrogate
      // pair) and C="\uE000"; 2-grams "A b" and "C b" both occur twice
      // (the "x" separator keeps the crossing grams at count 1). Raw
      // UTF-16 sorts A(D834..) < C(E000) but code points sort
      // C(E000) < A(1D11E) -- the kernel must match the composed form's
      // UTF8String (code-point) order: top 2-gram "C b", charlen 3.
      10L -> "\uD834\uDD1E b \uD834\uDD1E b x \uE000 b \uE000 b"
    ).toDF("doc_id", "text")
    val composed = graft.text.TextAnalysisTwins.repetitionNumsComposed(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kernel = docs.select(col("doc_id"),
        call_function("graft_repetition", col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // composed drops gram-less docs (1: one empty token; 3: one word — no
    // n>=2 grams); kernel emits zeros for them — repetitionFeatures
    // coalesces. Doc 2 space-trims to "\t" -> TWO empty tokens -> one
    // single-space 2-gram, so it IS present (zero numerators) on both.
    composed.foreach { case (id, nums) =>
      assert(kernel(id) === nums, s"doc $id fused != composed")
    }
    (kernel.keySet -- composed.keySet).foreach { id =>
      assert(kernel(id).forall(_ == 0L), s"doc $id should be all-zero")
    }
    assert(composed.keySet === Set(2L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    // doc 10 hand check: code-point order picks " b" (charlen 3),
    // topnum 2*3 = 6 — the UTF-16 winner "𝄞 b" would read 2*4 = 8.
    assert(kernel(10L).head === 6L)
  }

  test("fused path is one map-only projection (no exchange, no join)") {
    val docs = spark.range(8).select(col("id").as("doc_id"),
      concat(lit("some text to score "), col("id")).as("text"))
    val plan = TextAnalysis.repetitionFeatures(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_repetition"), s"kernel missing:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }
}
