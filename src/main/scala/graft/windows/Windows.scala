package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Session grouping & window building (SURVEY.md §2.5 G1-G3, §2.6 W1-W8).
  *
  * All operators take the parsed transcripts shape
  * (conv_id, turn_idx, ts, event_id, ...) and preserve the stable-turn-order
  * invariant: ordering is always an explicit (conv_id, turn_idx) sort inside
  * the conversation partition — never file/partition order
  * (cf. /root/reference/logadempirical/logparser/Drain.py:315-316).
  *
  * Scale notes: every window here partitions by conv_id (or a row-bucket),
  * so the only shuffle is the conv_id hash exchange, which AQE coalesces;
  * there is no global sort anywhere (SURVEY.md §7.3.3).
  */
object Windows {

  private def convW = W.partitionBy(col("conv_id")).orderBy(col("turn_idx"))

  /** Epoch micros of ts; tolerant of TIMESTAMP_NTZ parquet reads (session TZ
    * is pinned to UTC, so the NTZ→TZ cast is the identity).
    */
  private def tsMicros = unix_micros(col("ts").cast("timestamp"))

  /** G2 — session grouping by conversation: ordered event sequence + labels.
    * (logdeep/dataset/session.py:38-58). `sort_array(collect_list(struct))`
    * makes the collected order deterministic regardless of shuffle order.
    */
  def sessionGroup(df: DataFrame, eventCol: String = "event_id",
                   labelCol: Option[String] = None): DataFrame = {
    val lbl = labelCol.map(col).getOrElse(lit(0))
    df.groupBy(col("conv_id"))
      .agg(
        sort_array(collect_list(struct(col("turn_idx"), col(eventCol).as("e"), lbl.as("l"))))
          .as("__s"))
      .select(
        col("conv_id"),
        expr("transform(__s, x -> x.e)").as("events"),
        expr("transform(__s, x -> x.l)").as("labels"),
        size(col("__s")).as("n_turns"))
  }

  /** G1 — session grouping by EXTRACTED id (logdeep/dataset/session.py:10-35):
    * regex-find-all session ids in the text, de-dup per row (U4,
    * session.py:16), explode — a row mentioning k distinct ids lands in k
    * sessions — then group with deterministic (turn order) sequences.
    */
  def sessionsByExtractedId(df: DataFrame, idRegex: String,
                            eventCol: String = "event_id"): DataFrame =
    df.select(col("turn_idx"), col(eventCol),
        explode(array_distinct(regexp_extract_all(col("text"), lit(idRegex), lit(0))))
          .as("session_id"))
      .groupBy(col("session_id"))
      .agg(
        sort_array(collect_list(struct(col("turn_idx"), col(eventCol).as("e")))).as("__s"),
        count(lit(1)).as("n_rows"))
      .select(col("session_id"),
        expr("transform(__s, x -> x.e)").as("events"), col("n_rows"))

  /** G3 — session tail truncation: keep only the LAST `n` events of long
    * sessions (session.py:29-32).
    */
  def sessionTail(grouped: DataFrame, n: Int): DataFrame =
    grouped
      .withColumn("events", expr(s"slice(events, -least(size(events), $n), least(size(events), $n))"))
      .withColumn("labels", expr(s"slice(labels, -least(size(labels), $n), least(size(labels), $n))"))

  /** W1 — fixed (entry-count) windows of `size` rows advancing by `step` rows
    * within each conversation (session.py:132-171). Deterministic window ids =
    * start row number (SURVEY.md §7.3.2 replaces the reference's Python-set
    * iteration ids). Overlapping windows (step < size) are produced by
    * exploding each row into the windows that cover it — shuffle-free blowup
    * of ceil(size/step), then one conv_id-partitioned aggregation.
    */
  def fixedWindows(df: DataFrame, size: Int, step: Int,
                   eventCol: String = "event_id"): DataFrame = {
    require(size > 0 && step > 0)
    val nCover = (size + step - 1) / step
    val rn     = row_number().over(convW) - 1 // 0-based position in conv
    df.withColumn("__rn", rn)
      .withColumn("__k", explode(sequence(lit(0), lit(nCover - 1))))
      .withColumn("win_start", (floor(col("__rn") / step) - col("__k")) * step)
      .filter(col("win_start") >= 0 && col("__rn") < col("win_start") + size)
      .groupBy(col("conv_id"), col("win_start"))
      .agg(
        sort_array(collect_list(struct(col("turn_idx"), col(eventCol).as("e")))).as("__s"),
        count(lit(1)).as("n"))
      .select(col("conv_id"), col("win_start").cast("long").as("win_start"),
        expr("transform(__s, x -> x.e)").as("events"), col("n"))
  }

  /** W2 — time-based sliding windows (seconds) within a conversation
    * (session.py:62-129). Window id = epoch-anchored bucket start; a row at
    * time t belongs to buckets floor((t - size)/step)+1 .. floor(t/step) —
    * expressed as an explode over the ceil(size/step) covering slides.
    * Empty windows are naturally absent (reference skips them, :108-110).
    */
  def timeWindows(df: DataFrame, sizeSec: Long, stepSec: Long,
                  eventCol: String = "event_id"): DataFrame = {
    require(sizeSec > 0 && stepSec > 0)
    val nCover = ((sizeSec + stepSec - 1) / stepSec).toInt
    val tsSec  = (tsMicros / 1000000L).cast("long")
    df.withColumn("__sec", tsSec)
      .withColumn("__k", explode(sequence(lit(0), lit(nCover - 1))))
      .withColumn("win_start", (floor(col("__sec") / stepSec) - col("__k")) * stepSec)
      .filter(col("__sec") >= col("win_start") && col("__sec") < col("win_start") + sizeSec)
      .groupBy(col("conv_id"), col("win_start"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("turn_idx"), col(eventCol).as("e")))).as("__s"))
      .select(col("conv_id"), col("win_start"),
        expr("transform(__s, x -> x.e)").as("events"), col("n"))
  }

  /** W2(b) — GLOBAL time sliding windows: the whole-log variant with no
    * session key (loglizer/dataloader.py:193-247's hour windows over BGL-style
    * corpora that have no conversation/block id). The time bucket itself is
    * the shuffle key — `win_start` alone partitions the aggregate, so the
    * plan is one hash exchange on the bucket, the same shape as the
    * per-conversation form.
    *
    * Output is the per-window COUNT-VECTOR form (win_start, event, cnt) —
    * collecting a whole global window's event list would buffer an unbounded
    * row set per window; the count-matrix is what the reference builds from
    * these windows anyway (dataloader.py:237-247).
    */
  def timeWindowsGlobal(df: DataFrame, sizeSec: Long, stepSec: Long,
                        eventCol: String = "event_id"): DataFrame = {
    require(sizeSec > 0 && stepSec > 0)
    val nCover = ((sizeSec + stepSec - 1) / stepSec).toInt
    val tsSec  = (tsMicros / 1000000L).cast("long")
    df.withColumn("__sec", tsSec)
      .withColumn("__k", explode(sequence(lit(0), lit(nCover - 1))))
      .withColumn("win_start", (floor(col("__sec") / stepSec) - col("__k")) * stepSec)
      .filter(col("__sec") >= col("win_start") && col("__sec") < col("win_start") + sizeSec)
      .groupBy(col("win_start"), col(eventCol))
      .agg(count(lit(1)).as("cnt"))
  }

  /** W3 — history sliding window over the event sequence (model-input shape,
    * logdeep/dataset/sample.py:117-151): for each position, the trailing
    * `h`-event window plus the next event as label. Pure window-frame ops —
    * one conv_id exchange, no explode.
    */
  def historyWindows(df: DataFrame, h: Int, eventCol: String = "event_id"): DataFrame = {
    val frame = convW.rowsBetween(-(h - 1), 0)
    df.select(
        col("conv_id"), col("turn_idx"),
        collect_list(col(eventCol)).over(frame).as("history"),
        lead(col(eventCol), 1).over(convW).as("next_event"))
      .filter(size(col("history")) === h && col("next_event").isNotNull)
  }

  /** Chat SFT pair mining — the transcripts-native training-data extract:
    * one (context, response) pair per `responseRole` turn, where context =
    * the up-to-`h` immediately preceding turns rendered `role: text` and
    * newline-joined oldest-first, and response = the turn's own text. Pairs
    * with an EMPTY context are dropped (a response with no prompt teaches
    * nothing). Deterministic: the frame order is the conversation's pinned
    * (conv_id, turn_idx) order, never arrival order.
    *
    * Scale shape: pure window-frame ops inside the conv_id partition — one
    * conv exchange, no explode, no join; conversations bound the frame (the
    * same argument as every W-family operator here).
    */
  def sftPairs(df: DataFrame, h: Int,
               responseRole: String = "assistant"): DataFrame = {
    require(h >= 1, "sftPairs needs h >= 1 context turns")
    val frame = convW.rowsBetween(-h, -1)
    df.withColumn("context",
        array_join(collect_list(
          concat(col("role"), lit(": "), col("text"))).over(frame), "\n"))
      .filter(col("role") === responseRole && length(col("context")) > 0)
      .select(col("conv_id"), col("turn_idx"), col("context"),
        col("text").as("response"))
  }

  /** [[sftPairs]] under a CONTEXT TOKEN BUDGET — the constraint every SFT
    * pipeline actually trains under: keep the MAXIMAL contiguous suffix of
    * the h-frame context turns (most recent first) whose total token count
    * fits `budget`, where a turn's tokens = NONEMPTY whitespace tokens of
    * its rendered `role: text` string (the q_concat_chunks counting rule).
    * Suffix sums are monotone, so "greedy from the end with a stop flag"
    * (the in-row fold here) and "all positions whose end-anchored running
    * sum fits" (the oracle's DESC window cumsum) are the same set. Pairs
    * whose budget fits not even the latest turn drop (empty context teaches
    * nothing — same rule as [[sftPairs]]).
    *
    * Scale shape: one conv exchange for the frame, then everything is
    * IN-ROW over the ≤h-element turn array (fold + slice) — no explode, no
    * second shuffle. Output adds `ctx_turns` / `ctx_tokens` for auditing.
    */
  def sftPairsBudget(df: DataFrame, h: Int, budget: Long,
                     responseRole: String = "assistant"): DataFrame = {
    require(h >= 1, "sftPairsBudget needs h >= 1 context turns")
    require(budget >= 1, "sftPairsBudget needs a positive token budget")
    val turn = concat(col("role"), lit(": "), col("text"))
    // round-7: fused nonempty-token count (same value, no interpreted HOF)
    val tcnt = graft.text.TextAnalysis.nonEmptyTokenCount(turn)
    val frame = convW.rowsBetween(-h, -1)
    val withTurns = df
      .withColumn("__turns",
        collect_list(struct(tcnt.as("c"), turn.as("t"))).over(frame))
      .filter(col("role") === responseRole && size(col("__turns")) > 0)
    val fold = aggregate(
      reverse(col("__turns.c")),
      struct(lit(0L).as("s"), lit(0).as("m"), lit(false).as("stop")),
      (acc, c) => when(acc("stop") || acc("s") + c > budget,
          struct(acc("s").as("s"), acc("m").as("m"), lit(true).as("stop")))
        .otherwise(struct((acc("s") + c).as("s"), (acc("m") + 1).as("m"),
          lit(false).as("stop"))))
    withTurns.withColumn("__agg", fold)
      .withColumn("ctx_turns", col("__agg.m"))
      .withColumn("ctx_tokens", col("__agg.s"))
      .filter(col("ctx_turns") > 0)
      .select(col("conv_id"), col("turn_idx"),
        array_join(slice(col("__turns.t"),
          size(col("__turns")) - col("ctx_turns") + 1, col("ctx_turns")),
          "\n").as("context"),
        col("text").as("response"), col("ctx_turns"), col("ctx_tokens"))
  }

  /** Loss-mask rendering of [[sftPairs]] output — the train-on-response-only
    * annotation every SFT pipeline needs: one training document per pair,
    * `rendered = context \n role: response`, plus the 1-based character span
    * of the response within it (`mask_start`, `mask_len`) so the trainer can
    * zero the loss on everything before it. Pure projections — map-only,
    * exact on both engines (the corpus is printable ASCII, where JVM UTF-16
    * length == SQL char length).
    */
  def sftRender(pairs: DataFrame,
                responseRole: String = "assistant"): DataFrame =
    pairs.select(col("conv_id"), col("turn_idx"),
      concat(col("context"), lit("\n"), lit(s"$responseRole: "),
        col("response")).as("rendered"),
      (length(col("context")) + lit(responseRole.length + 4)).cast("long")
        .as("mask_start"), // +1 newline +2 ": " +1 one-based
      length(col("response")).cast("long").as("mask_len"))

  /** W7 — deltaT: seconds between consecutive turns, first of conversation
    * forced 0 (dataset/data_process.py:97-98). Exact integer microseconds.
    */
  def deltaT(df: DataFrame): DataFrame =
    df.withColumn("delta_us",
      coalesce(tsMicros - lag(tsMicros, 1).over(convW), lit(0L)))

  /** W6 — fixed-length chunking by position (PLELog fixLength,
    * PLELog/data/DataLoader.py:221-284): chunk id = floor(pos / n).
    */
  def chunkBySize(df: DataFrame, n: Int): DataFrame =
    df.withColumn("chunk_id", floor((row_number().over(convW) - 1) / n))

  /** W5 — anchor-based sessionization (dataset/data_loader.py:173-207): a
    * sub-session starts at the current row and extends while
    * ts < anchor_ts + gap. NOT gap-based `session_window` — the anchor only
    * advances when the bound is crossed, so this is a running scan per
    * conversation: `mapGroups` over conv-ordered rows (documented semantic,
    * SURVEY.md §2.6 W5). One shuffle on conv_id; state is O(1) per group.
    */
  def anchorSessions(df: DataFrame, gapSec: Long): DataFrame = {
    import df.sparkSession.implicits._
    // secondary sort: repartition on conv_id, sort (conv_id, turn_idx) inside
    // each partition, then a STREAMING scan with group-boundary detection —
    // O(1) state per task, so a pathological million-turn conversation never
    // buffers in memory (the round-1 `groupByKey.flatMapGroups` form did
    // `it.toArray` per conversation)
    val slim = df.select(col("conv_id"), col("turn_idx"), tsMicros.as("us"))
      .repartition(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .as[(String, Int, Long)]
    slim.mapPartitions { it =>
      var cur: String = null
      var anchor      = Long.MinValue
      var session     = -1
      it.map { case (conv, idx, us) =>
        if (conv != cur) { cur = conv; anchor = Long.MinValue; session = -1 }
        if (anchor == Long.MinValue || us >= anchor + gapSec * 1000000L) {
          anchor = us; session += 1
        }
        (conv, idx, session)
      }
    }.toDF("conv_id", "turn_idx", "session_idx")
  }

  /** P6 — min-length filter: drop sessions/windows shorter than `n` events
    * (PLELog/data/DataLoader.py:254-256 skips too-short sequences).
    */
  def minLength(grouped: DataFrame, n: Int, seqCol: String = "events"): DataFrame =
    grouped.filter(size(col(seqCol)) >= n)

  /** O9 — positional train/test split over the stable global order
    * (dataset/data_process.py:99): rank rows by (conv_id, turn_idx) and cut
    * at fraction `trainFrac`.
    *
    * Uses [[graft.util.Rank.globalRowNumber]] (the two-phase distributed
    * rank; see its Scaladoc for why, and for the determinism argument).
    * `persistSorted = false`: this runs over the FULL table — caching 10^12
    * rows between the count pass and the assign pass is impossible, and the
    * sorted form recomputes deterministically, so the split pays one extra
    * scan instead of a full-table materialization.
    */
  def positionalSplit(df: DataFrame, trainFrac: Double): DataFrame = {
    val (ranked, total) = graft.util.Rank.globalRowNumber(
      df, Seq(col("conv_id").asc, col("turn_idx").asc), "__rn",
      persistSorted = false)
    val cut = math.floor(total * trainFrac).toLong
    ranked
      .withColumn("split", when(col("__rn") <= cut, "train").otherwise("test"))
      .drop("__rn")
  }

  /** RANGE (interval-containment) join — beyond the reference's operators:
    * pair every event with every interval of the same key satisfying
    * `t0 <= ts <= t1`. Spark plans a naive inequality join as
    * BroadcastNestedLoopJoin (O(events × intervals) per key — a scale
    * killer); this is the standard BINNED formulation instead: time is cut
    * into `binSec` buckets, each interval explodes onto the buckets it
    * overlaps, each event belongs to exactly ONE bucket, so candidates come
    * from a plain equi-join on (key, bin) and the exact `[t0, t1]` predicate
    * filters them. Every (event, interval) pair meets at most once (the
    * event's single bin), so no post-join dedup is needed.
    *
    * `binSec` tuning: per-interval fan-out = span/binSec + 1 rows, per-bin
    * candidate work = events·intervals co-resident in a bin — pick binSec
    * near the typical interval length (PlanSpec asserts the equi-join plan;
    * a span much larger than binSec only grows the small interval side).
    *
    * `maxBinsPerInterval` is the scale guard: the per-interval explode is
    * otherwise UNBOUNDED in the interval length — one year-long interval at
    * `binSec=60` fans out into ~526k rows, and a corpus of such intervals
    * silently re-creates the blow-up this operator exists to avoid. An
    * interval spanning more bins FAILS LOUDLY (task error naming the guard)
    * rather than clamping — clamping would silently drop matches. Raise the
    * cap (or binSec) deliberately if long intervals are expected.
    *
    * Output: the event columns + `valueCols` from the matching interval,
    * one row per (event, matching interval).
    */
  def rangeJoinBinned(events: DataFrame, intervals: DataFrame,
                      keyCols: Seq[String], tsCol: String,
                      startCol: String, endCol: String,
                      valueCols: Seq[String], binSec: Long,
                      maxBinsPerInterval: Long = 10000L): DataFrame = {
    require(binSec > 0, "binSec must be positive")
    require(maxBinsPerInterval > 0, "maxBinsPerInterval must be positive")
    val binUs = binSec * 1000000L
    val keyC  = keyCols.map(col)
    val b0 = floor(col("__t0") / binUs)
    val b1 = floor(col("__t1") / binUs)
    // the guard lives INSIDE the sequence bound so column pruning can never
    // optimize it away: pathological intervals fail the task loudly
    val b1Guarded = when(b1 - b0 < maxBinsPerInterval, b1).otherwise(
      raise_error(concat(
        lit(s"rangeJoinBinned: interval [$startCol, $endCol] spans "),
        (b1 - b0 + 1).cast("string"),
        lit(s" bins of $binSec s > maxBinsPerInterval=$maxBinsPerInterval — " +
          "raise binSec or the cap for long-interval corpora"))).cast("long"))
    // cast handles TIMESTAMP_NTZ columns too (session TZ is pinned UTC)
    val ivals = intervals.select(
        keyC ++ Seq(unix_micros(col(startCol).cast("timestamp")).as("__t0"),
          unix_micros(col(endCol).cast("timestamp")).as("__t1")) ++ valueCols.map(col): _*)
      .filter(col("__t0") <= col("__t1"))
      .withColumn("__bin", explode(sequence(b0, b1Guarded)))
    val evs = events
      .withColumn("__ts", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("__bin", floor(col("__ts") / binUs))
    evs.join(ivals, keyCols :+ "__bin")
      .filter(col("__ts") >= col("__t0") && col("__ts") <= col("__t1"))
      .select(events.columns.map(col) ++ valueCols.map(col): _*)
  }
}
