package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** PII scrub and within-doc line dedup: hand-computed redactions/keeps,
  * tier ordering, and the degenerate edges (empty text, no duplicates,
  * all-duplicate, IP-inside-longer-number non-match).
  */
class TextCleanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scrub(texts: String*): Seq[(String, Int, Int, Int)] =
    TextAnalysis.piiScrub(texts.toDF("t"), "t")
      .select("text_scrubbed", "n_emails", "n_ips", "n_ids")
      .as[(String, Int, Int, Int)].collect().toSeq

  test("piiScrub: emails, IPs, long ids — hand-computed") {
    val out = scrub(
      "mail a.b-c%d@sub.example.org now",
      "host 10.0.255.7 and 1.2.3.4 up",
      "ref 12345678 ok 999999 short",
      "mixed bob@x.io at 192.168.0.1 id 76543210")
    assert(out(0) === (("mail <EMAIL> now", 1, 0, 0)))
    assert(out(1) === (("host <IP> and <IP> up", 0, 2, 0)))
    // 999999 is 6 digits — below the 7-digit floor
    assert(out(2) === (("ref <ID> ok 999999 short", 0, 0, 1)))
    assert(out(3) === (("mixed <EMAIL> at <IP> id <ID>", 1, 1, 1)))
  }

  test("piiScrub: tier order — an IP inside an email domain is consumed by the email tier") {
    val out = scrub("x user@1.2.3.4.com y")
    assert(out.head === (("x <EMAIL> y", 1, 0, 0)))
  }

  test("piiScrub: \\b guards — no IP match inside longer dotted numbers") {
    val out = scrub("v 1234.5.6.7 w", "")
    assert(out(0) === (("v 1234.5.6.7 w", 0, 0, 0)))
    assert(out(1) === (("", 0, 0, 0)))
  }

  private def dedup(texts: String*): Seq[(Int, Int, String)] =
    TextAnalysis.dedupLines(texts.toDF("t"), "t")
      .select("n_lines", "n_kept", "text_dedup")
      .as[(Int, Int, String)].collect().toSeq

  test("dedupLines: first occurrence kept, order preserved") {
    assert(dedup("a\nb\na\nc\nb").head === ((5, 3, "a\nb\nc")))
    assert(dedup("a\nb\nc").head === ((3, 3, "a\nb\nc")))        // no dups
    assert(dedup("x\nx\nx").head === ((3, 1, "x")))              // all dups
    assert(dedup("").head === ((1, 1, "")))                      // empty text
  }

  test("piiScrub: fused kernel == composed six-pass chain (parity, incl. nulls)") {
    val texts = Seq(
      "mail a.b-c%d@sub.example.org now",
      "host 10.0.255.7 and 1.2.3.4 up",
      "ref 12345678 ok 999999 short",
      "mixed bob@x.io at 192.168.0.1 id 76543210",
      "x user@1.2.3.4.com y", "v 1234.5.6.7 w", "", "   ",
      "a@b.co c@d.io e@f.gg back-to-back 1111111 2222222",
      "12345678901234567890",
      "adjacent9999999@x.io10.0.0.1",
      null.asInstanceOf[String])
    val df = texts.toDF("t")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .select("t", "n_emails", "n_ips", "n_ids", "text_scrubbed")
      .collect().toSeq.map(_.toSeq)
    val fused    = rows(TextAnalysis.piiScrub(df, "t"))
    val composed = rows(graft.text.TextAnalysisTwins.piiScrubComposed(df, "t"))
    assert(fused === composed)
    // the fused path really is the kernel (one node), not six regex nodes —
    // checked on the analyzed plan (a local Seq input constant-folds the
    // whole executed plan into a LocalTableScan)
    val plan = TextAnalysis.piiScrub(df, "t").queryExecution.analyzed.toString
    assert(plan.contains("graft_pii_scrub"), s"fused kernel not planned:\n$plan")
  }

  test("dedupLines/piiScrub plans: map-only projections, no shuffle, no UDF") {
    val df = Seq("a\nb\na", "c").toDF("t")
    Seq(TextAnalysis.dedupLines(df, "t"), TextAnalysis.piiScrub(df, "t")).foreach { out =>
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(!plan.contains("ScalaUDF"), s"unexpected UDF:\n$plan")
    }
  }

  test("dedupLines: fused kernel == composed HOF chain (parity incl. edges)") {
    val texts = Seq(
      "a\nb\na\nc\nb", "a\nb\nc", "x\nx\nx", "", "one",
      "\n", "a\n\nb\n\n", "trail\n", "  spaced  \n  spaced  ",
      null.asInstanceOf[String])
    val df = texts.toDF("t")
    def rows(out: org.apache.spark.sql.DataFrame) = out
      .select("t", "n_lines", "n_kept", "text_dedup").collect().toSeq.map(_.toSeq)
    assert(rows(TextAnalysis.dedupLines(df, "t"))
      === rows(graft.text.TextAnalysisTwins.dedupLinesComposed(df, "t")))
  }
}
