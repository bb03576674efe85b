package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.Drain
import graft.queries.QueryScaffold
import graft.sources.Transcripts
import graft.tools.ShuffleReport
import graft.util.BenchSupport.rmrf

/** `Transcripts.fromEvents` numbers turns inside the `conv_id` partition, so
  * conv-keyed queries reuse that one exchange. The numbering itself equals
  * the `partitionBy(user_id)` twin below, row for row, nulls included.
  * `parsedIds` matches Drain ids before numbering, so that exchange carries
  * the id, not `text`; it equals matching after numbering (the twin below).
  */
class TranscriptsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dir = "/root/testdata/sf0.001"

  /** The numbering partitioned by the source column `conv_id` is built from,
    * with `Transcripts.oracleCte`'s null semantics: DuckDB's `concat` skips
    * a null and its `ORDER BY` puts nulls last. */
  def userIdNumbering(events: DataFrame): DataFrame = {
    val et = col("event_type")
    events.select(
      concat_ws("", lit("c"), col("user_id").cast("string")).as("conv_id"),
      (row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)) - 1)
        .cast("int").as("turn_idx"),
      col("ts"),
      when(et === "signup", "system").when(et === "purchase", "assistant")
        .when(et === "error", "tool").otherwise("user").as("role"))
  }

  def assertSameRows(got: DataFrame, twin: DataFrame): Unit = {
    assert(got.columns.toSeq === twin.columns.toSeq)
    assert(got.count() === twin.count())
    assert(got.exceptAll(twin).isEmpty, "rows only in the frame under test")
    assert(twin.exceptAll(got).isEmpty, "rows only in the twin")
  }

  def assertSameNumbering(sfDir: String): Unit =
    assertSameRows(Transcripts.fromEvents(spark, sfDir).select("conv_id", "turn_idx", "ts", "role"),
      userIdNumbering(spark.read.parquet(s"$sfDir/events.parquet")))

  /** `parsedIds`' twin: the Drain match over the numbered transcripts. */
  def matchAfterNumbering(sfDir: String): DataFrame =
    Drain.parseIds(Transcripts.fromEvents(spark, sfDir), "text", QueryScaffold.drainCfg)._1

  def assertSameParsedIds(sfDir: String): Unit =
    assertSameRows(QueryScaffold.parsedIds(spark, sfDir), matchAfterNumbering(sfDir))

  /** An 8-row `events.parquet` with null `user_id`s, a null `ts`, tied `ts`
    * values and users 1/10, in a temp dir removed after `body`. */
  def withNullFixture(body: String => Unit): Unit = {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:05")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // tied ts within a user differ in event type, so a swapped tie-break
    // shows in `role`; users 1 and 10 check that 'c1' and 'c10' stay apart
    val rows = Seq(
      Row(5L, t0, 1L, "click", 1.5, "{\"k\": 7}"),
      Row(2L, t0, 1L, "purchase", 9.0, "{\"k\": 8}"),
      Row(9L, t1, 1L, "error", 2.0, "{\"k\": 9}"),
      Row(1L, t1, 10L, "view", 3.0, "{\"k\": 1}"),
      Row(7L, t0, null, "signup", 0.0, "{\"k\": 2}"),
      Row(3L, t0, null, "view", 4.0, "{\"k\": 3}"),
      Row(4L, null, null, "error", 5.0, "{\"k\": 4}"),
      Row(8L, t1, 2L, "click", 6.0, "{\"k\": 5}"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-transcripts").toString
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
        .write.parquet(s"$tmp/events.parquet")
      body(tmp)
    } finally rmrf(tmp)
  }

  test("conv_id numbering == user_id numbering at sf0.001") {
    assertSameNumbering(dir)
  }

  test("conv_id numbering == user_id numbering with a null user_id and tied ts") {
    withNullFixture { tmp =>
      assertSameNumbering(tmp)
      // Transcripts.oracleCte in DuckDB gives the same rows: conv 'c', the
      // null ts last, and a null user_id rendered as an empty string
      val nulls = Transcripts.fromEvents(spark, tmp).filter(col("conv_id") === "c")
        .orderBy("turn_idx").select("turn_idx", "role", "text").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      assert(nulls.toSeq === Seq(
        (0, "user", "user  viewed page 3 for 4 seconds"),
        (1, "system", "new signup from user  region 2"),
        (2, "tool", "error 4 for user  at stage 5 retry limit")))
    }
  }

  test("parsedIds == Drain match after numbering at sf0.001") {
    assertSameParsedIds(dir)
  }

  test("parsedIds == Drain match after numbering with a null user_id and tied ts") {
    withNullFixture(assertSameParsedIds)
  }

  // the queries whose conv-keyed operators share the turn-numbering exchange;
  // numbering by user_id instead adds one exchange to each (two to q_topk)
  val exchanges: Seq[(String, Int)] = Seq(
    "q_anchor_sessions" -> 1, "q_asof_enrich" -> 2, "q_chunk" -> 1,
    "q_chunk_by_size" -> 1, "q_dedup_seq" -> 2, "q_deltat" -> 1,
    "q_distinct_seq" -> 2, "q_fixed_window" -> 1, "q_history" -> 1,
    "q_leadtime" -> 1, "q_min_length" -> 1, "q_pad_truncate" -> 1,
    "q_range_join" -> 1, "q_reconcile" -> 2, "q_session_seq" -> 1,
    "q_session_tail" -> 1, "q_sft_budget" -> 1, "q_sft_pairs" -> 1,
    "q_sft_render" -> 1, "q_threshold_sweep" -> 2, "q_time_window" -> 1,
    "q_topk" -> 3)

  test("conv-keyed queries reuse the turn-numbering exchange (initial plans at sf0.001)") {
    val got = exchanges.map { case (name, _) =>
      name -> ShuffleReport.initialExchanges(
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
    }
    assert(got === exchanges)
  }

  // the id-only queries whose turn-numbering exchange carries the Drain id,
  // not `text`; q_session_extract reads `text` after the match
  val textFree: Seq[String] = Seq(
    "q_chunk", "q_dedup_seq", "q_distinct_seq", "q_fixed_window", "q_history",
    "q_min_length", "q_pad_truncate", "q_reconcile", "q_session_seq",
    "q_session_tail", "q_time_window", "q_topk")

  test("id-only queries shuffle the Drain id, not text (initial plans at sf0.001)") {
    def shufflesText(p: SparkPlan): Boolean = p.collectWithSubqueries {
      case e: ShuffleExchangeExec => e.child.output.exists(_.name == "text")
      case a: AdaptiveSparkPlanExec => shufflesText(a.executedPlan)
    }.contains(true)
    val got = (textFree :+ "q_session_extract").map { name =>
      name -> shufflesText(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
    }
    assert(got === textFree.map(_ -> false) :+ ("q_session_extract" -> true))
  }
}
