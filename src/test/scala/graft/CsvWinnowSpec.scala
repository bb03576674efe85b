package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.CsvArtifacts
import graft.text.TextAnalysis
import java.nio.file.Files

/** CSV artifact parity (reference *_structured.csv / *_templates.csv /
  * anomaly_label.csv shapes) and true-winnowing fingerprints.
  */
class CsvWinnowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-csvspec").toString

  test("templates CSV round-trip: digit-only ids stay strings, counts stay longs") {
    val dict = Seq(
      ("00123456", "user <*> clicked element <*>", 42L),
      ("deadbeef", "error <*> for user <*>, at stage <*>", 7L) // embedded comma
    ).toDF("event_id", "event_template", "occurrences")
    val dir = tmp()
    CsvArtifacts.writeTemplatesCsv(dict, dir)
    val back = CsvArtifacts.readTemplatesCsv(spark, dir)
      .as[(String, String, Long)].collect().toSet
    assert(back === Set(
      ("00123456", "user <*> clicked element <*>", 42L),
      ("deadbeef", "error <*> for user <*>, at stage <*>", 7L)))
    // header present in the files (reference shape)
    val firstFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val header = scala.io.Source.fromFile(firstFile).getLines().next()
    assert(header === "EventId,EventTemplate,Occurrences")
  }

  test("anomaly_label CSV: Anomaly/Normal enum maps to 1/0 both directions") {
    val labels = Seq(("c1", 1), ("c2", 0), ("c3", 1)).toDF("conv_id", "label")
    val dir = tmp()
    CsvArtifacts.writeAnomalyLabelCsv(labels, dir)
    val back = CsvArtifacts.readAnomalyLabelCsv(spark, dir)
      .as[(String, Int)].collect().toMap
    assert(back === Map("c1" -> 1, "c2" -> 0, "c3" -> 1))
    val raw = spark.read.option("header", "true").schema("BlockId STRING, Label STRING")
      .csv(dir).as[(String, String)].collect().toMap
    assert(raw === Map("c1" -> "Anomaly", "c2" -> "Normal", "c3" -> "Anomaly"))
  }

  test("structured CSV round-trip with quoting-hostile content") {
    val df = Seq(
      ("c1", 0, "ab12cd34", """tmpl with "quotes", commas, and
newline"""),
      ("c2", 1, "00000000", "plain template")
    ).toDF("ConvId", "TurnIdx", "EventId", "EventTemplate")
    val dir = tmp()
    CsvArtifacts.writeStructuredCsv(df, dir)
    // multiLine: quoted embedded newlines span physical lines
    val back = CsvArtifacts.readStructuredCsv(spark, dir,
        "ConvId STRING, TurnIdx INT, EventId STRING, EventTemplate STRING",
        multiLine = true)
      .as[(String, Int, String, String)].collect().toSet
    assert(back === df.as[(String, Int, String, String)].collect().toSet)
  }

  test("winnowing guarantee: shared substring of length >= w+k-1 shares a fingerprint") {
    val rng = new scala.util.Random(11)
    def rand(n: Int) = (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(11) // t = w + k - 1 = 4 + 8 - 1 = 11
    val docs = (0 until 20).map { i =>
      (i.toLong, rand(rng.nextInt(40) + 5) + shared + rand(rng.nextInt(40) + 5))
    } :+ (100L, shared) // the bare match too
    val fps = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .as[(Long, Seq[String])].collect().toMap
    // every pair of documents shares >= 1 fingerprint through the planted substring
    val all = fps.values.toSeq
    val common = all.map(_.toSet).reduce(_ intersect _)
    assert(common.nonEmpty, "planted 11-char substring did not yield a shared fingerprint")
  }

  test("winnowing matches a single-threaded reference implementation") {
    def reference(text: String, k: Int, w: Int): Set[String] = {
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      def md5hex(s: String) = {
        val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        d.map(b => f"${b & 0xff}%02x").mkString
      }
      if (norm.length < k) Set(md5hex(norm))
      else {
        val hs = (0 to norm.length - k).map(i => md5hex(norm.substring(i, i + k)))
        val nWin = math.max(hs.size - (w - 1), 1)
        (0 until nWin).map(j => hs.slice(j, j + w).min).toSet
      }
    }
    val rng = new scala.util.Random(23)
    val texts = (0 until 30).map { i =>
      val words = (0 until rng.nextInt(12) + 1)
        .map(_ => ('a' + rng.nextInt(4)).toChar.toString * (rng.nextInt(5) + 1))
      (i.toLong, words.mkString(" "))
    } :+ (99L, "ab") // shorter than k
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .as[(Long, Seq[String])].collect().toMap
    texts.foreach { case (id, t) =>
      assert(got(id).toSet === reference(t, 8, 4), s"doc $id: '$t'")
    }
  }

  test("fingerprint: fused kernel == composed md5(normalize) (parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val texts = Seq("A  B\tC", "  mixed CASE  ", "", "   ", "one",
      "tab\tand\nnewline", "unicode H\u00c9LLO", null.asInstanceOf[String])
    val df = texts.toDF("t")
    val fused = df.select(graft.text.TextAnalysis.fingerprint(col("t"))).collect().toSeq
    val composed = df.select(graft.text.TextAnalysisTwins.fingerprintComposed(col("t"))).collect().toSeq
    assert(fused === composed)
  }
}
