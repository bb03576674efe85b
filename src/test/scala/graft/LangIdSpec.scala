package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.{LangId, TextAnalysis}

/** Cavnar-Trenkle language ID: profile derivation, classification on
  * marker-pure texts, deterministic tie-break, degenerate-doc drop,
  * partition invariance.
  */
class LangIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("profileOf: rank = (count desc, gram asc), from 1") {
    // ' ab ' -> grams ' ab', 'ab ' each once; ties break by gram ascending
    assert(LangId.profileOf("ab") === Seq((" ab", 1), ("ab ", 2)))
    // repetition outranks: 'aaa' in ' aaa aaa ' -> 'aa ' x2? count them:
    // norm ' aaa aaa ' grams: ' aa','aaa','aa ','a a',' aa','aaa','aa '
    assert(LangId.profileOf("aaa aaa").take(2) === Seq((" aa", 1), ("aa ", 2)))
  }

  test("profiles fixture: every pinned language present, ranks contiguous") {
    val langs = LangId.profiles.map(_._1).distinct.sorted
    assert(langs === TextAnalysis.markers.keys.toSeq.sorted)
    langs.foreach { l =>
      val ranks = LangId.profiles.filter(_._1 == l).map(_._3).sorted
      assert(ranks === (1 to ranks.max), s"ranks not contiguous for $l")
    }
  }

  private def classify(rows: Seq[(Long, String)], parts: Int = 1) =
    LangId.classify(rows.toDF("doc_id", "text").repartition(parts), "doc_id", "text")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("marker-pure texts classify to their language") {
    val out = classify(Seq(
      1L -> TextAnalysis.markers("en").mkString(" "),
      2L -> TextAnalysis.markers("de").mkString(" "),
      3L -> TextAnalysis.markers("fr").mkString(" "),
      4L -> TextAnalysis.markers("es").mkString(" ")))
    assert(out(1L)._1 === "en")
    assert(out(2L)._1 === "de")
    assert(out(3L)._1 === "fr")
    assert(out(4L)._1 === "es")
    // a perfect profile match has distance 0 iff doc ranks == profile ranks;
    // marker-pure text reproduces the profile's own training text exactly
    assert(out(1L)._2 === 0L)
  }

  test("no shared grams -> full penalty for every language, tie breaks to 'de'") {
    val out = classify(Seq(9L -> "zzz zzz"))
    val (lang, dist) = out(9L)
    assert(lang === "de") // all-equal distances, language code ascending wins
    // doc has 5 distinct grams (' zz','a'? compute: ' zzz zzz ' -> 'z z',' zz','zz ','zzz')
    // 4 distinct grams x penalty 20
    assert(dist === 4L * LangId.penalty)
  }

  test("documents shorter than one trigram are dropped") {
    // "a" normalizes to " a " (3 chars, one gram) and survives; whitespace-only
    // text normalizes to "  " (2 chars, no gram) and drops
    val out = classify(Seq(1L -> "a", 2L -> " ", 3L -> "the the the"))
    assert(out.keySet === Set(1L, 3L))
  }

  test("partition invariance: 1 vs 16 partitions") {
    val rng = new scala.util.Random(5)
    val langs = TextAnalysis.markers.keys.toVector.sorted
    val rows = (0L until 200L).map { i =>
      val ws = TextAnalysis.markers(langs(rng.nextInt(langs.size)))
      (i, (0 until (3 + rng.nextInt(10))).map(_ => ws(rng.nextInt(ws.size))).mkString(" "))
    }
    assert(classify(rows, 1) === classify(rows, 16))
  }

  test("fused graft_trigram_topk profile == composed, incl. edges and ties") {
    val docs = Seq(
      1L -> "The quick brown Fox  jumps",
      2L -> "",                       // sub-trigram: drops out
      3L -> "   \t ",                 // whitespace-only: drops out
      4L -> "ab",                     // norm ' ab ' (4 cps): 2 grams
      5L -> "aaa bbb aaa aaa ccc",    // repeated-count ties -> gram order
      6L -> "über naïve café über",   // non-ASCII code points
      7L -> ("xy " * 40).trim,        // > profileSize distinct grams? ties galore
      // supplementary code points (U+1D11E, surrogate PAIRS in UTF-16)
      // mixed with U+E000 -- count ties here are decided differently by raw
      // UTF-16 char order vs the pinned code-point order; parity vs the
      // composed Spark-SQL chain pins the packed-key ranking on non-BMP text
      8L -> "\uD834\uDD1Ea\uE000 \uD834\uDD1Ea\uE000 \uE000a\uD834\uDD1E \uE000a\uD834\uDD1E"
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Int)].collect().toSeq.sorted
    assert(rows(graft.text.LangIdTwins.fusedTop(docs, "doc_id", "text")) ===
      rows(graft.text.LangIdTwins.composedTop(docs, "doc_id", "text")))
    assert(rows(graft.text.LangIdTwins.fusedTop(docs, "doc_id", "text")).nonEmpty)
  }

  test("fused profile stage is map-only (the composed path's gram shuffle is gone)") {
    val docs = Seq(1L -> "some text here to profile").toDF("doc_id", "text")
    val plan = graft.text.LangIdTwins.fusedTop(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(plan.contains("graft_trigram_topk"), s"kernel missing:\n$plan")
  }

  test("classify: fused in-row kernel == composed join/aggregate chain (parity)") {
    import org.apache.spark.sql.functions.col
    val texts = Seq(
      "the cat and the dog is a fine pair of the best",
      "der hund und die katze ist nicht das problem",
      "le chat et la mer est une belle chose",
      "el gato y la mesa que es los mejores",
      "xy", "", "   ", "de de de shi shi le bu wo zai",
      "\u000b", "\t\t", " \u000b ",
      "\uD834\uDD1E der \uE000 und \uD834\uDD1E die \uE000",
      null.asInstanceOf[String])
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(rows(graft.text.LangId.classify(df, "doc_id", "text"))
      === rows(graft.text.LangIdTwins.classifyComposed(df, "doc_id", "text")))
  }

  test("graft_trigram_topk with a non-positive k returns an empty profile") {
    val docs = Seq("the quick brown fox", "ab", "").toDF("text")
    Seq(0, -1, -7).foreach { k =>
      val local = docs.selectExpr(s"graft_trigram_topk(text, $k) AS p")
        .as[Seq[String]].collect()
      assert(local.forall(_.isEmpty), s"k = $k")
      // generated code path (a range scan is not folded into a local relation)
      val generated = spark.range(3)
        .selectExpr(s"graft_trigram_topk(concat('text ', cast(id AS string)), $k) AS p")
        .as[Seq[String]].collect()
      assert(generated.forall(_.isEmpty), s"k = $k")
    }
    assert(spark.range(1).selectExpr("graft_trigram_topk('text 0', 2) AS p")
      .as[Seq[String]].head().size === 2)
  }

  test("tableCapacity: smallest power of two >= 2x the keys, fails loudly past 2^30") {
    import graft.expr.TextKernel.tableCapacity
    assert(tableCapacity(0) === 8)
    assert(tableCapacity(4) === 8)
    assert(tableCapacity(5) === 16)
    assert(tableCapacity(1000) === 2048)
    assert(tableCapacity(1 << 29) === (1 << 30))
    Seq((1 << 29) + 1, 1 << 30, Int.MaxValue).foreach { n =>
      val e = intercept[IllegalArgumentException](tableCapacity(n))
      assert(e.getMessage.contains("2^30"), e.getMessage)
    }
  }
}
