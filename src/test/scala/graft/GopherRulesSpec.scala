package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Gopher quality rules: hand-computed features on adversarial fixtures the
  * synthetic corpus never exercises (bullets, ellipses, symbols, duplicate
  * lines), threshold boundary inclusivity, and the reflow helper.
  */
class GopherRulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rules(texts: Seq[String], minWords: Int = 50) = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    TextAnalysis.gopherQualityRules(df, "text", minWords = minWords)
      .select("id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "dup_line_frac", "gopher_pass")
      .as[(Long, Int, Double, Double, Double, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
  }

  test("reflowLines: 7-token lines, remainder tail, single short line") {
    val df = Seq("a b c d e f g h i j", "x y").toDF("text")
      .select(TextAnalysis.reflowLines(col("text"), 7).as("l")).as[String].collect()
    assert(df(0) === "a b c d e f g\nh i j")
    assert(df(1) === "x y")
  }

  test("bullet / ellipsis / duplicate-line features are exact") {
    val doc = Seq(
      "- bullet one",
      "* bullet two",
      "plain line ending in dots...",
      "plain line",
      "plain line" // duplicate
    ).mkString("\n")
    val r = rules(Seq(doc), minWords = 1)(0L)
    assert(r._5 === 0.4)  // 2/5 bullet lines
    assert(r._6 === 0.2)  // 1/5 ellipsis lines
    assert(r._8 === 0.2)  // 1 - 4/5 duplicate-line fraction
  }

  test("symbol ratio counts hashes and ellipses; non-alpha words counted") {
    // 4 words, one '#', one '...' -> (1 + 1)/4 = 0.5; '123' has no alpha -> 3/4
    val r = rules(Seq("alpha# beta... 123 gamma"), minWords = 1)(0L)
    assert(r._4 === 0.5)
    assert(r._7 === 0.75)
    assert(!r._9) // alpha_word_frac 0.75 < 0.8 fails the rule
  }

  test("mean word length bounds are inclusive at 3.0 and 10.0") {
    val threes = Seq.fill(60)("abc").mkString(" ")  // mean exactly 3.0
    val tens   = Seq.fill(60)("abcdefghij").mkString(" ") // mean exactly 10.0
    val elevens = Seq.fill(60)("abcdefghijk").mkString(" ") // 11.0 -> fail
    val m = rules(Seq(threes, tens, elevens))
    assert(m(0L)._9 && m(1L)._9 && !m(2L)._9)
    assert(m(0L)._3 === 3.0 && m(1L)._3 === 10.0 && m(2L)._3 === 11.0)
  }

  test("word-count window: below minWords fails, inside passes") {
    val short = Seq.fill(49)("word").mkString(" ")
    val ok    = Seq.fill(50)("word").mkString(" ")
    val m = rules(Seq(short, ok))
    assert(!m(0L)._9 && m(1L)._9)
  }

  test("heavy duplication fails the dup-line rule") {
    val doc = (Seq.fill(7)("same line of words") :+ "a different closing line")
      .mkString("\n")
    val r = rules(Seq(doc), minWords = 1)(0L)
    assert(r._8 === 0.75 && !r._9)
  }

  test("reflowLines: fused kernel == composed HOF chain (parity incl. edges)") {
    import org.apache.spark.sql.functions.col
    val texts = Seq(
      "one two three four five six seven eight", "single", "", "   ",
      "\ttab lead and trail\t", "a  b   c", "exact four word line",
      null.asInstanceOf[String])
    val df = texts.toDF("t")
    Seq(1, 2, 4, 7).foreach { per =>
      val fused = df.select(
        graft.text.TextAnalysis.reflowLines(col("t"), per)).collect().toSeq
      val composed = df.select(
        graft.text.TextAnalysisTwins.reflowLinesComposed(col("t"), per)).collect().toSeq
      assert(fused === composed, s"perLine=$per")
    }
  }

  test("gopherQualityRules: fused kernel == composed chain (parity incl. edges)") {
    import org.apache.spark.sql.functions.col
    val base = Seq(
      "- bullet line\n* star line\nplain line",
      "end with dots...\nanother...\nclean",
      "# symbols # here ### and ...",
      "dup\ndup\ndup\nuniq",
      "", "   ", "\tword other\tthing",
      (1 to 60).map(i => s"word$i").mkString(" "),
      "s h o r t w o r d s " * 5,
      null.asInstanceOf[String])
    val df = base.toDF("t")
    val cols = Seq("t", "n_words", "mean_word_len", "symbol_word_ratio",
      "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
      "dup_line_frac", "gopher_pass")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select(cols.head, cols.tail: _*).collect().toSeq.map(_.toSeq)
    assert(rows(graft.text.TextAnalysis.gopherQualityRules(df, "t"))
      === rows(graft.text.TextAnalysisTwins.gopherQualityRulesComposed(df, "t")))
    // tight thresholds exercise the pass flag on both paths
    assert(rows(graft.text.TextAnalysis.gopherQualityRules(df, "t", minWords = 2, maxWords = 9))
      === rows(graft.text.TextAnalysisTwins.gopherQualityRulesComposed(df, "t", minWords = 2, maxWords = 9)))
  }
}
