package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lookup-enrich stage (SURVEY.md §2.4). Every reference join is a dict
  * lookup over a small side → broadcast hash joins, never sort-merge.
  */
object Enrich {

  /** J1 — session-label join: conv_id → {0,1}
    * (dataset/data_process.py:129-136). Left-outer with default mirrors the
    * reference's `.get(x)` null-on-miss (hdfs_data_process.py:67).
    *
    * `broadcastDim=true` fits the reference's file-sized label dicts. For a
    * PER-CONVERSATION label dim at 10^12-turn scale (≈10^9 conversations) a
    * forced broadcast would be wrong — pass false and let AQE pick
    * broadcast-vs-shuffle from runtime stats; the shuffle side co-partitions
    * with every downstream conv_id exchange anyway.
    */
  def convLabels(df: DataFrame, labels: DataFrame, default: Int = 0,
                 broadcastDim: Boolean = true): DataFrame = {
    val dim = if (broadcastDim) broadcast(labels) else labels
    df.join(dim, Seq("conv_id"), "left")
      .withColumn("label", coalesce(col("label"), lit(default)))
  }

  /** J2 — template-dictionary join: event_id → template text/metadata
    * (PLELog/data/DataLoader.py:287-302).
    */
  def templates(df: DataFrame, dict: DataFrame): DataFrame =
    df.join(broadcast(dict), Seq("event_id"), "left")

  /** Role/tool metadata enrich (the transcripts analog of the reference's
    * label-dict lookups — BASELINE.json north_star: "attaches template-ID,
    * role, and tool lookup metadata").
    */
  def roleToolMeta(df: DataFrame, meta: DataFrame): DataFrame =
    df.join(broadcast(meta), Seq("role", "tool"), "left")

  /** J3 — event → embedding-vector join with default on miss
    * (logdeep/dataset/sample.py:106-108: padding → [-1]*dim).
    */
  def embeddings(df: DataFrame, vectors: DataFrame, dim: Int,
                 eventCol: String = "event_id"): DataFrame =
    df.join(broadcast(vectors), Seq(eventCol), "left")
      .withColumn("vector",
        coalesce(col("vector"), array_repeat(lit(-1.0f), dim)))

  /** J5 — event → dense int id (frequency-ranked), unknown → 0
    * (dataset/hdfs_data_process.py:24-30).
    */
  def denseIds(df: DataFrame, vocab: DataFrame, eventCol: String = "event_id"): DataFrame =
    df.join(broadcast(vocab.select(col(eventCol), col("vocab_id"))), Seq(eventCol), "left")
      .withColumn("vocab_id", coalesce(col("vocab_id"), lit(0)))

  /** AS-OF join — beyond the reference's dict lookups: attach to every left
    * row the LATEST right-side value with `right.tsCol <= left.tsCol` per
    * key (the telemetry-standard "most recent config/state at event time").
    *
    * Spark-first formulation: there is NO join operator in the plan at all.
    * Both sides union into one stream tagged by side, and a per-key running
    * `last(value, ignoreNulls)` over (ts, side) order carries each update
    * forward onto the left rows that follow it. The window plans no
    * exchange when both inputs are already partitioned on the key (the
    * union keeps that partitioning), else one hash exchange above the
    * union. At 10^12 rows this beats every join formulation: a plain
    * inequality join is O(n·m) per key, and a windowed self-join shuffles
    * both sides TWICE; this is at most one exchange + one sort, the same
    * cost as any per-key window already in the pipeline. Per-key data
    * volume is bounded by the same conversation-size guards as the session
    * windows.
    *
    * Semantics pinned for cross-engine equality (q_asof_enrich re-derives
    * this with DuckDB's native ASOF LEFT JOIN):
    *  - ties on ts: the update at ts == left ts IS visible (<=) — updates
    *    sort before events at equal ts;
    *  - multiple updates on one (key, ts) resolve DETERMINISTICALLY to the
    *    maximum `valueCols` struct (field-order lexicographic) — pinned by
    *    ordering the running window on the value struct as the final key, so
    *    the result is partition- and shuffle-order-invariant. Unorderable
    *    value types (maps) tie-break on `xxhash64(to_json(value struct))`
    *    instead — still a pure function of the value, so equally
    *    deterministic (AsofSketchSpec pins both cases). DuckDB's native
    *    ASOF is ambiguous on such ties (which is why the q_asof_enrich oracle
    *    pre-aggregates to unique (key, ts)); AsofSketchSpec pins the
    *    duplicate-update case against a hand-computed expectation instead;
    *  - left rows before any update get NULL values (left-outer shape).
    *
    * @param valueCols right-side columns to carry onto the left rows
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               tsCol: String, valueCols: Seq[String]): DataFrame = {
    val keyC = keyCols.map(col)
    // one unified schema: left payload and right values ride in structs so
    // unionByName never collides with user column names. The keys ride ONLY
    // at top level: a key inside __lrow too would be pruned out as a second
    // key projection, and a union child with two partitionings loses its
    // key partitioning (one more exchange, carrying the key twice)
    val leftCols = left.columns.toSeq
    val l = left.select(keyC :+ col(tsCol).as("__ts") :+
      struct(leftCols.filterNot(keyCols.contains).map(col): _*).as("__lrow") :+
      lit(1).as("__side"): _*)
    val r = right.select(keyC :+ col(tsCol).as("__ts") :+
      struct(valueCols.map(col): _*).as("__val") :+ lit(0).as("__side"): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // __val as the FINAL sort key (asc, nulls first — left rows carry null):
    // among duplicate updates at one (key, ts) the running `last` then picks
    // the maximum value struct — the deterministic tie-break documented
    // above. Unorderable value types (maps) cannot participate in an ORDER
    // BY at all, so for those the tie-break orders by xxhash64(to_json(__val))
    // instead — a canonical serialization hash, a pure function of each row's
    // value, so the winner is still partition- and shuffle-order-invariant
    // (which struct wins is arbitrary-but-PINNED rather than max; the
    // orderable path keeps the semantically meaningful max tie-break).
    val valsOrderable = valueCols.forall { c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType)
    }
    val valTie =
      if (valsOrderable) col("__val").asc_nulls_first
      else xxhash64(to_json(col("__val"))).asc_nulls_first
    val orderCols = Seq(col("__ts").asc, col("__side").asc, valTie)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyC: _*)
      .orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    unioned
      .withColumn("__asof", last(col("__val"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      // a key reads back at the left's type: a no-op cast when the sides
      // agree, an exact one when the union widened it (int → long)
      .select(leftCols.map(c =>
        if (keyCols.contains(c)) col(c).cast(left.schema(c).dataType).as(c)
        else col(s"__lrow.$c").as(c)) ++
        valueCols.map(c => col(s"__asof.$c").as(c)): _*)
  }
}
