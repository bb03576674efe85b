package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.FirstDigitRun

/** The `transcripts` source (BASELINE.json:input_hint).
  *
  * Two providers:
  *   1. [[fromEvents]] — a deterministic derivation of a transcripts-shaped
  *      table from the driver's `events.parquet` (TESTDATA.md). The SAME
  *      derivation is expressed as an ANSI-SQL CTE ([[oracleCte]]) so the
  *      driver's DuckDB oracle sees bit-identical inputs.
  *   2. [[synthetic]] — a seeded in-process generator with heavy-tailed
  *      conversation lengths and hot-template skew (FIXTURES.md §1), used by
  *      ScalaTest suites and the scaling bench.
  *
  * Stable turn ordering (SURVEY.md §4.2): every consumer orders by
  * (conv_id, turn_idx); we never rely on file order
  * (cf. /root/reference/logadempirical/logparser/Drain.py:315-316 where
  * 1-based file order is load-bearing).
  */
object Transcripts {

  /** Spark-side transcripts derivation from `events.parquet`:
    * `numberTurns(rows(spark, sfDir))`.
    *
    * Row identity: conv_id = 'c' + user_id; turn_idx = dense 0-based rank of
    * (ts, event_id) within the conversation (event_id is unique → total order).
    * `text` is a log-line rendering of the event with numeric parameter slots;
    * the five event types render with five DISTINCT token counts (5,7,8,9,10)
    * so Drain's length-partitioned prefix tree keeps them in separate clusters.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame =
    numberTurns(rows(spark, sfDir))

  /** Name under which [[rows]] carries the source `event_id`: Drain's
    * `event_id` output column would replace a column of that name. */
  private val SourceId = "__source_event_id"

  /** The unnumbered derivation: (`conv_id`, `role`, `text`, `tool`, `ts`)
    * plus the source event id under an internal name, one row per event, no
    * exchange. Row-wise work that narrows a row (the Drain id replacing
    * `text`) goes between this and [[numberTurns]], so it runs map-side and
    * the turn-numbering exchange carries only the narrow column.
    *
    * Nulls follow [[oracleCte]]: DuckDB's `concat` skips a null argument, so
    * `conv_id` and `text` use `concat_ws("", …)` (a null `user_id` gives
    * conv `'c'`, not a null conv).
    */
  def rows(spark: SparkSession, sfDir: String): DataFrame = {
    val e   = spark.read.parquet(s"$sfDir/events.parquet")
    val uid = col("user_id").cast("string")
    // graft_digits == regexp_extract(props, "[0-9]+", 0) bit-exactly
    // (ExprSpec parity; the oracleCte twin keeps regexp_extract) — the byte
    // scan replaces a per-row regex engine walk on EVERY transcript query
    val k   = column(FirstDigitRun(expression(col("props"))))
    val v   = floor(col("value")).cast("long").cast("string")
    val et  = col("event_type")
    def cat(parts: Column*): Column = concat_ws("", parts: _*)

    val text = when(et === "click",
        cat(lit("user "), uid, lit(" clicked element "), k))
      .when(et === "view",
        cat(lit("user "), uid, lit(" viewed page "), k, lit(" for "), v, lit(" seconds")))
      .when(et === "signup",
        cat(lit("new signup from user "), uid, lit(" region "), k))
      .when(et === "purchase",
        cat(lit("user "), uid, lit(" purchased item "), k, lit(" at price "), v, lit(" credits")))
      .otherwise(
        cat(lit("error "), k, lit(" for user "), uid, lit(" at stage "), v, lit(" retry limit")))

    val role = when(et === "signup", lit("system"))
      .when(et === "purchase", lit("assistant"))
      .when(et === "error", lit("tool"))
      .otherwise(lit("user"))

    val tool = when(et === "error", lit("diagnostics"))
      .when(et === "purchase", lit("checkout"))
      .otherwise(lit(null).cast("string"))

    e.select(
      cat(lit("c"), uid).as("conv_id"),
      role.as("role"),
      text.as("text"),
      tool.as("tool"),
      col("ts"),
      col("event_id").as(SourceId)
    )
  }

  /** Appends `turn_idx` to a frame of [[rows]] (any columns added since
    * ride along): `row_number()` over `partitionBy(conv_id)` ordered by
    * (ts, source event id), nulls last as in [[oracleCte]]'s DuckDB
    * `ORDER BY`. Output: `conv_id`, `turn_idx`, then the other columns in
    * their order, without the internal source id. The conv-keyed consumers
    * (windows, `sessionGroup`, `groupBy(conv_id, …)`, the as-of window)
    * cluster on `conv_id` too, so they reuse this one exchange; a `user_id`
    * key holds the same rows, but Spark cannot match it to `conv_id` and
    * shuffles again.
    */
  def numberTurns(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts").asc_nulls_last, col(SourceId).asc_nulls_last)
    val rest = df.columns.filterNot(c => c == "conv_id" || c == SourceId).map(col)
    df.select(col("conv_id") +: (row_number().over(w) - 1).cast("int").as("turn_idx") +: rest: _*)
  }

  /** Typed facade over [[fromEvents]] (input_hint: typed Dataset at API
    * boundaries). Timestamps normalized to TIMESTAMP (UTC session).
    */
  def typed(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[graft.model.Turn] = {
    import spark.implicits._
    fromEvents(spark, sfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .as[graft.model.Turn]
  }

  /** DuckDB CTE computing the identical derivation. Composable: does NOT
    * include the leading `WITH`, so callers can chain further CTEs.
    */
  val oracleCte: String =
    """transcripts AS (
      |  SELECT concat('c', user_id) AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |         CASE event_type WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'assistant'
      |              WHEN 'error' THEN 'tool' ELSE 'user' END AS role,
      |         CASE event_type
      |           WHEN 'click' THEN concat('user ', user_id, ' clicked element ', regexp_extract(props, '[0-9]+'))
      |           WHEN 'view' THEN concat('user ', user_id, ' viewed page ', regexp_extract(props, '[0-9]+'), ' for ', CAST(floor(value) AS BIGINT), ' seconds')
      |           WHEN 'signup' THEN concat('new signup from user ', user_id, ' region ', regexp_extract(props, '[0-9]+'))
      |           WHEN 'purchase' THEN concat('user ', user_id, ' purchased item ', regexp_extract(props, '[0-9]+'), ' at price ', CAST(floor(value) AS BIGINT), ' credits')
      |           ELSE concat('error ', regexp_extract(props, '[0-9]+'), ' for user ', user_id, ' at stage ', CAST(floor(value) AS BIGINT), ' retry limit')
      |         END AS text,
      |         CASE event_type WHEN 'error' THEN 'diagnostics' WHEN 'purchase' THEN 'checkout' ELSE NULL END AS tool,
      |         ts
      |  FROM events
      |)""".stripMargin

  /** Seeded synthetic transcripts (FIXTURES.md §1): `nConv` conversations with
    * heavy-tailed lengths (a few are 100×+ longer — skew coverage) and
    * hot-template skew (template 0 gets ~50% of turns). Generated distributed:
    * conversations are the parallel unit, rows materialized executor-side.
    */
  def synthetic(spark: SparkSession, nConv: Int, seed: Long = 42L,
                partitions: Int = 32): DataFrame = {
    import spark.implicits._
    val templates: IndexedSeq[Int => (String, String, String)] = IndexedSeq(
      i => (s"request $i handled in ${i % 997} ms", "user", null),
      i => (s"tool ${i % 13} returned status ${i % 7}", "tool", "search"),
      i => (s"instruction ${i % 31} failed after ${i % 5} retries", "tool", "executor"),
      i => (s"assistant produced ${i % 211} tokens for prompt $i", "assistant", null),
      i => (s"user rated turn $i score ${i % 11}", "user", null),
      i => (s"checkpoint ${i % 17} saved at offset ${i * 7 % 9973}", "system", "ckpt"),
      i => (s"cache ${i % 3} hit ratio ${i % 101} percent", "system", null),
      i => (s"stream ${i % 23} flushed ${i % 4093} bytes downstream", "system", "io")
    )
    spark.range(0, nConv.toLong, 1, partitions).mapPartitions { it =>
      it.flatMap { cBoxed =>
        val c: Long = cBoxed
        val rng = new scala.util.Random(seed * 1000003L + c)
        // heavy tail: 1% of conversations are ~100x longer
        val len = if (rng.nextInt(100) == 0) 300 + rng.nextInt(700) else 3 + rng.nextInt(18)
        var ts  = 1704067200000000L + c * 1000000L // 2024-01-01 UTC, micros
        (0 until len).map { t =>
          // hot-template skew: template 0 gets ~half of all turns
          val tIdx = if (rng.nextInt(2) == 0) 0 else 1 + rng.nextInt(templates.size - 1)
          val (text, role, tool) = templates(tIdx)(rng.nextInt(100000))
          ts += (rng.nextInt(120) + 1) * 1000000L
          (s"conv$c", t, role, text, Option(tool), new java.sql.Timestamp(ts / 1000))
        }
      }
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }
}
