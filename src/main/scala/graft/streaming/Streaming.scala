package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.parse.{Drain, DrainConfig, TemplateEntry}

/** Structured Streaming re-expression of the windowing stages (SURVEY.md
  * §2.10). The reference is pure batch; the engine's window logic is written
  * so the SAME transforms run under `readStream` — this module is that
  * claim, made real and tested:
  *
  *  - [[windowedEventCounts]]: the W2 time-sliding count aggregate as a
  *    watermarked streaming window (late data beyond the watermark dropped —
  *    a semantics the batch reference never had to define).
  *  - [[anchorSessionIds]]: the W5 anchor-based sessionization as
  *    `flatMapGroupsWithState` — per-conversation state is just
  *    (anchor_ts, session_idx), O(1) per key.
  *
  * The template dictionary is mined in batch (phase a) and broadcast to the
  * stream (phase b) — template mining itself is not incremental, matching
  * the reference's parse-then-process staging.
  *
  * The mergeable sketches need no streaming variant at all: the SAME
  * [[graft.agg.Sketches.kmvSketchBy]] / [[graft.agg.Sketches.cmsSketchBy]]
  * transforms run under `readStream`, with streaming-aggregation state per
  * group being exactly the bounded buffer (k longs / d·w longs), never the
  * stream history — StreamingSketchSpec proves batch ≡ stream across sliced
  * micro-batches and asserts state rows == groups.
  */
object Streaming {

  /** Phase-b match + watermarked sliding-window counts per event. */
  def windowedEventCounts(turns: DataFrame, dict: Seq[TemplateEntry],
                          cfg: DrainConfig, windowSize: String, slide: String,
                          watermark: String): DataFrame =
    Drain.matchTemplates(turns, "text", dict, cfg)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowSize, slide), col("event_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("event_id"), col("cnt"))

  /** S8/S9 under streaming: per-micro-batch router fan-out via
    * `foreachBatch`. Each batch writes to its OWN batch-scoped partition
    * directory (`data/batch=<id>`) in overwrite mode, so a replayed
    * micro-batch (failure/restart re-delivery) REPLACES its previous output
    * instead of appending duplicates — data and the per-batch metrics
    * sidecar stay idempotent together, which is what keeps the routed-row
    * accounting exact across recoveries. Readers of `$outDir/data` see
    * `batch` as an extra partition column.
    */
  def routedSink(df: DataFrame, routeKey: String, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeRoutedBatch(batch, routeKey, outDir, batchId)
    }

  /** One micro-batch of the routed sink — exposed so replay idempotency is
    * directly testable: calling this twice with the same `batchId` must leave
    * the same bytes (overwrite of the batch-scoped directory + sidecar).
    */
  def writeRoutedBatch(batch: DataFrame, routeKey: String, outDir: String,
                       batchId: Long): Unit = {
    batch.write
      .mode("overwrite")
      .partitionBy(routeKey)
      .parquet(s"$outDir/data/batch=$batchId")
    val counts = batch.groupBy(col(routeKey)).agg(count(lit(1)).as("rows"))
      .collect()
      .map(r => s"""{"route":"${r.get(0)}","rows":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_metrics_batch_$batchId.json"), counts)
    ()
  }

  /** Streaming exact dedup: the streaming form of [[graft.dedup.Dedup.exact]]'s
    * digest key — repeated content digests are dropped, with state BOUNDED by
    * the event-time watermark (`dropDuplicatesWithinWatermark`): a digest
    * older than the watermark is evicted from state, so memory is
    * O(distinct digests per watermark window), never O(stream history).
    */
  def dedupStream(df: DataFrame, textCol: String, watermark: String): DataFrame =
    df.withColumn("text_md5", md5(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  final case class TurnEvent(conv_id: String, turn_idx: Int, ts_us: Long)
  final case class SessionAssign(conv_id: String, turn_idx: Int, session_idx: Int)
  final case class AnchorState(anchorUs: Long, sessionIdx: Int)

  /** W5 under streaming: anchor-based sub-sessions per conversation. Within
    * each micro-batch a conversation's rows are processed in turn order;
    * state carries the running anchor across batches.
    *
    * Memory bound: the DataStream API gives `flatMapGroupsWithState` an
    * UNORDERED group iterator, so turn-ordering requires buffering the
    * conversation's rows OF THIS MICRO-BATCH (the batch twin,
    * `Windows.anchorSessions`, is O(1) via a partition secondary sort —
    * streaming groups cannot be secondary-sorted). The buffer holds only
    * primitive arrays (turn_idx, ts_us, a packed sort key — ~20 bytes/turn,
    * never the row objects, no boxed sort), and is bounded by ONE
    * conversation's rows per micro-batch, not by stream history: size
    * micro-batches (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`) so a
    * pathological conversation's per-batch slice fits an executor:
    * {{{
    * // file feeds: bound a trigger to one file (StreamingSpec runs this
    * // adversarially — a conversation sliced across ~10 micro-batches)
    * spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(in)
    * // kafka feeds: bound a trigger by records instead
    * //   .option("maxOffsetsPerTrigger", 500000)
    * }}}
    * Both bounding modes are tested: file-bounded (maxFilesPerTrigger=1,
    * one conversation sliced across ~10 batches) and record-bounded
    * (rate-micro-batch rowsPerBatch — the deterministic
    * maxOffsetsPerTrigger analog, conversations cut mid-batch at arbitrary
    * record boundaries) — StreamingSpec.
    * Input contract: a source may split a conversation across any number of
    * micro-batches, but must deliver its turns in order ACROSS batches
    * (within a batch any order is fine — the primitive sort handles it);
    * that is the natural arrival order of append-only logs and per-key
    * Kafka partitions. State itself stays O(1) per conversation
    * (anchor_ts, session_idx). Output
    * assignments stream lazily from the sorted arrays; nothing per-row is
    * materialized beyond them (state is finalized BEFORE the iterator is
    * returned, as the flatMapGroupsWithState contract requires).
    */
  def anchorSessionIds(turns: Dataset[TurnEvent], gapSec: Long): Dataset[SessionAssign] = {
    import turns.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[AnchorState, SessionAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (conv: String, it: Iterator[TurnEvent], state: GroupState[AnchorState]) =>
          val init = state.getOption.getOrElse(AnchorState(Long.MinValue, -1))
          val idxB = scala.collection.mutable.ArrayBuilder.make[Int]
          val tsB  = scala.collection.mutable.ArrayBuilder.make[Long]
          it.foreach { e => idxB += e.turn_idx; tsB += e.ts_us }
          val idx = idxB.result()
          val ts  = tsB.result()
          val n   = idx.length
          // primitive sort by turn_idx: pack (turn_idx, position) into a Long.
          // Correct for NEGATIVE turn indices too: `toLong` sign-extends, so
          // x < 0 packs to a negative long and the signed Arrays.sort places
          // it before every x >= 0 key; positions (always >= 0) occupy the
          // low 32 bits without crossing into the index word. (A sign-bit
          // flip before the shift would discard the sign extension and sort
          // negatives AFTER positives — verified by test, do not "fix".)
          val order = new Array[Long](n)
          var i = 0
          while (i < n) { order(i) = (idx(i).toLong << 32) | i.toLong; i += 1 }
          java.util.Arrays.sort(order)
          // finalize state in one primitive pass (must happen before return)
          var st = init
          i = 0
          while (i < n) {
            val us = ts((order(i) & 0xffffffffL).toInt)
            if (st.anchorUs == Long.MinValue || us >= st.anchorUs + gapUs)
              st = AnchorState(us, st.sessionIdx + 1)
            i += 1
          }
          state.update(st)
          // lazy output: re-derive assignments from the pre-batch state
          var cur = init
          Iterator.tabulate(n) { j =>
            val p  = (order(j) & 0xffffffffL).toInt
            val us = ts(p)
            if (cur.anchorUs == Long.MinValue || us >= cur.anchorUs + gapUs)
              cur = AnchorState(us, cur.sessionIdx + 1)
            SessionAssign(conv, idx(p), cur.sessionIdx)
          }
      }
  }
}
