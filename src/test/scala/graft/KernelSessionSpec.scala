package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The library builds every fused kernel straight from its Catalyst
  * expression, so a session that never registered the `graft_*` SQL names
  * plans and answers exactly like one that did.
  */
class KernelSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** A session over the same SparkContext with every `graft_*` name dropped
    * from its own function registry.
    */
  lazy val bare: SparkSession = {
    val s = spark.newSession()
    val names = s.catalog.listFunctions().collect().map(_.name).filter(_.startsWith("graft_"))
    assert(names.nonEmpty, "newSession() should inherit the extension's names")
    names.foreach(n => s.sql(s"DROP TEMPORARY FUNCTION $n"))
    s
  }

  private val queries = Seq(
    // PlanSpec: LSH/minhash/winnow kernels
    "q_minhash_lsh", "q_embed_dedup_lsh", "q_winnow",
    // PlanSpec: round-7 kernels and the id-only / struct Drain match
    "q_pii_scrub", "q_quality_classifier", "q_dedup_lines", "q_quality_rules",
    "q_langid_profiles", "q_lm_score", "q_curation", "q_sft_budget",
    "q_session_seq", "q_fixed_window", "q_history", "q_tfidf",
    "q_count_vector", "q_route_counts", "q_parse_structured",
    // the two sketch aggregates
    "q_kmv_grouped", "q_cms_cells")

  private def query(s: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(s, dir)

  private def kernels(df: DataFrame): Set[String] =
    "graft_[a-z_]+".r.findAllIn(df.queryExecution.analyzed.toString).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a session without the graft_* SQL names plans the same fused kernels") {
    assert(!graft.expr.VectorFunctions.available(bare))
    assert(graft.expr.VectorFunctions.available(spark))
    queries.foreach { q =>
      val expected = kernels(query(spark, q))
      assert(expected.nonEmpty, s"$q plans no graft kernel")
      assert(kernels(query(bare, q)) === expected, q)
    }
  }

  test("a session without the graft_* SQL names returns the same rows") {
    Seq("q_pii_scrub", "q_tfidf", "q_kmv_grouped").foreach { q =>
      assert(rows(query(bare, q)) === rows(query(spark, q)), q)
    }
  }
}
