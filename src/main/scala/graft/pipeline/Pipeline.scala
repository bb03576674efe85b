package graft.pipeline

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.parse.{Drain, DrainConfig}
import graft.windows.Windows
import graft.agg.Features
import graft.enrich.Enrich
import graft.route.Router

/** The end-to-end parse → enrich → route → window → aggregate job
  * (BASELINE.json north_rule), checkpoint-resumable with per-partition
  * lineage + row-count metrics.
  *
  * Stage graph. Parse, labels, route, windows and count_vectors are
  * checkpoints (`Router.stage*`/`fanOut*`); restart skips complete stages, so
  * a kill at any cut resumes without recomputation. Branches (`‖` below)
  * run side by side: neither reads the other's output.
  *
  * {{{
  *   input ─┬─ parse: Drain mine ─┬─ dict write
  *          │                     └─ match write ─┐
  *          └─ labels ────────────────────────────┴─ route ─┬─ windows
  *                                                          ├─ count_vectors
  *                                                          └─ salted count
  * }}}
  *
  *   1. parse ‖ labels
  *      - parse  — Drain mine (partition trees + canonical merge), then the
  *                 template dictionary write ‖ the match write. Writes the
  *                 SLIM event stream (conv_id, turn_idx, role, tool, ts,
  *                 event_id). The template TEXT is never materialized per
  *                 row — the dict join reconstructs it; at 10^12 rows the
  *                 per-row template string would dominate every downstream
  *                 byte count.
  *      - labels — the conversation-label dim (conv_id → 0/1): a small
  *                 broadcast-side table, not a full-table rewrite. Computed
  *                 from the INPUT's conv_id/role: the match keeps every row
  *                 and copies those columns unchanged, so the dim is the
  *                 same as one computed from the parsed stream.
  *   2. route   — single-pass fan-out `partitionBy(event_id)` of the parsed
  *                stream enriched with the broadcast label dim; per-sink
  *                counts in `_metrics.json`. This is the ONE routed
  *                materialization; windows/aggregates read it back rather
  *                than materializing a second enriched copy.
  *   3. aggregate — session windows ‖ count vectors + TF-IDF ‖ the salted
  *                two-level hot-template count (SURVEY.md §4.2); all three
  *                read only the route table.
  *
  * Side-by-side stages run on a two-thread pool owned by the run, under the
  * caller's job group and active session; `run` returns or throws only once
  * every stage it started has finished. With `GRAFT_TIMING` set, each stage
  * prints its wall time to stderr; the times of side-by-side stages overlap.
  *
  * Each `Router.stageWithCount` checkpoint records its read schema in a
  * `_schema.json` sidecar, so neither a fresh nor a resumed read-back runs a
  * schema-inference job.
  *
  * Scale design: all joins broadcast; no global sort; full-table
  * materializations: exactly two (parse, route), both with the slim schema.
  * The route write is BUCKETED by conv_id (catalog bucket spec — the parquet
  * stand-in for a bucketed Iceberg table), so the conv_id partitioning
  * SURVIVES the stage materialization: the window and count-vector stages
  * aggregate exchange-free (PlanSpec-asserted), and the pipeline's only
  * full-table exchange is the one inside the route write itself.
  */
object Pipeline {

  final case class Result(
      turns: Long,
      templates: Int,
      routes: Seq[Router.SinkMetrics],
      windows: Long,
      countVectorRows: Long)

  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a  = f
    if (sys.env.contains("GRAFT_TIMING"))
      System.err.println(f"[pipeline] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    a
  }

  /** @param mineFraction fraction of rows the template miner reads. At
    *        10^12-row scale mining every row is pointless — the dictionary
    *        converges after a tiny sample; 1.0 (default) mines everything,
    *        which correctness tests use. Unmatched rows (template outside the
    *        sampled dictionary) deterministically fall back to their own
    *        digit-masked template (Drain.Matcher), so routing remains total.
    */
  /** Scale knobs (defaults = single-node bench shape; flip at 10^12 scale):
    *  - `mineFraction`: sample the template miner's input (<1.0 at scale).
    *  - `broadcastLabels`: true broadcasts the conversation-label dim (right
    *    while it fits an executor; measured 2× faster here than the SMJ AQE
    *    picks above the broadcast threshold). At ~10^9 conversations set
    *    false → shuffle join co-partitioned with the conv_id exchanges.
    *  - `maxSessionTurns`: G3 tail bound applied BEFORE collect_list
    *    (session.py:29-32) so no aggregation buffer scales with the worst
    *    conversation; costs one extra conv_id window sort, so it is opt-in.
    *  - `convBuckets`: bucket count of the conv_id-bucketed route table
    *    (0 = the session's default parallelism). Size to the cluster at
    *    scale; a bucketed write cannot AQE-split a skewed bucket.
    */
  def run(spark: SparkSession, transcripts: DataFrame, workDir: String,
          cfg: DrainConfig = DrainConfig(depth = 4, st = 0.4),
          mineFraction: Double = 1.0,
          broadcastLabels: Boolean = true,
          maxSessionTurns: Int = Int.MaxValue,
          convBuckets: Int = 0,
          bucketRoute: Boolean = true): Result = {
    val sides = new SideBySide(spark)
    try {
      // -- stage 1: parse ‖ labels ---------------------------------------------
      // the label dim reads only conv_id/role, which matchEventIds copies
      // unchanged into every parsed row, so it is computed from the input
      // beside the parse stage rather than after it
      val labelsRun = sides.fork(timed("labels")(Router.stage(spark, s"$workDir/labels") {
        transcripts.groupBy(col("conv_id"))
          .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      }))
      var minedDictSize: Option[Int] = None
      val (parsedDf, nTurns) = sides.join(timed("parse")(Router.stageWithCount(spark, s"$workDir/parse") {
        val mineInput =
          if (mineFraction >= 1.0) transcripts
          else transcripts.sample(withReplacement = false, mineFraction, seed = 42L)
        val dict = Drain.mine(mineInput, "text", cfg)
        minedDictSize = Some(dict.length)
        val dictDf = spark.createDataFrame(dict)
        sides.fork(dictDf.write.mode("overwrite").parquet(s"$workDir/dict")) // ‖ the match write
        Drain.matchEventIds(transcripts, "text", dict, cfg)
          .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id")
      }))
      val labels = labelsRun.join()
      // the dict is driver-resident when the stage just ran — the parquet
      // count job only pays off on RESUME, where the closure was skipped
      // (round-7: one job fewer per fresh run)
      val templates = minedDictSize.getOrElse(
        spark.read.parquet(s"$workDir/dict").count().toInt)

      // -- stage 2: route (the one fan-out materialization) ----------------------
      // BUCKETED by conv_id (parquet stand-in for a bucketed Iceberg table):
      // the route write pays one shuffle on conv_id and every downstream
      // conv-keyed stage (windows, count vectors, any session aggregate) reads
      // the catalog bucket spec and aggregates EXCHANGE-FREE — this is the
      // "the route write is the place to bucket" design from the class doc.
      // The declared-schema/catalog read also pins event_id (a partition
      // column) as string — digit-only hex ids would otherwise be inferred
      // as integers.
      val enrichedPlan = Enrich.convLabels(parsedDf, labels, broadcastDim = broadcastLabels)
      val buckets = if (convBuckets > 0) convBuckets else spark.sparkContext.defaultParallelism
      val routeTable = "graft_route_" + graft.parse.Drain.md5_8(workDir)
      val writeTasks = spark.sparkContext.defaultParallelism
      val routes =
        if (Router.isComplete(s"$workDir/route")) {
          // resume: the bucket spec comes from the stage's _lineage.json (the
          // count the files were WRITTEN with), not from this session's
          // parallelism; an explicit convBuckets is validated against it
          if (bucketRoute)
            Router.ensureBucketedTable(spark, routeTable, enrichedPlan.schema,
              "event_id", "conv_id", s"$workDir/route",
              expectedBuckets = if (convBuckets > 0) Some(convBuckets) else None)
          Router.readMetrics(s"$workDir/route")
        } else if (bucketRoute)
          timed("route")(Router.fanOutBucketed(enrichedPlan, "event_id", "conv_id",
            buckets, s"$workDir/route", routeTable))
        else
          timed("route")(Router.fanOut(enrichedPlan, "event_id", s"$workDir/route",
            colocate = templates > writeTasks * 4))
      val enriched =
        if (bucketRoute) spark.table(routeTable)
        else spark.read.schema(enrichedPlan.schema).parquet(s"$workDir/route/data")

      // -- stage 3: aggregate: windows ‖ count vectors ‖ salted count -----------
      val cvRun = sides.fork(timed("count_vectors")(Router.stageWithCount(spark, s"$workDir/count_vectors") {
        val counts = Features.countVectors(enriched, Seq("conv_id"))
        Features.tfidf(counts, Seq("conv_id"))
      })._2)
      // salted hot-template aggregate (north rule) — tiny output, not a stage
      sides.fork(timed("salted_count")(Features.saltedCount(enriched, "event_id").collect()))
      val nWindows = sides.join(timed("windows")(Router.stageWithCount(spark, s"$workDir/windows") {
        val bounded =
          if (maxSessionTurns == Int.MaxValue) enriched
          else Windows.lastNTurns(enriched, maxSessionTurns)
        Windows.sessionGroup(bounded, labelCol = Some("label"))
          .withColumn("label", element_at(col("labels"), 1))
          .drop("labels")
      })._2)

      // turn/row counts come from the stage metrics sidecars — no extra jobs
      Result(nTurns, templates, routes, nWindows, cvRun.join())
    } finally sides.close()
  }

  /** Stages of one [[run]] that run side by side: each forked task runs on a
    * small pool owned by the run, under the caller's job group, local
    * properties and active session ([[SQLExecution.withThreadLocalCaptured]]),
    * so its jobs are attributed like the caller's own. Two threads cover the
    * widest fan-out (the windows stage runs on the calling thread beside two
    * forks). Forks are only made from the calling thread.
    */
  private final class SideBySide(spark: SparkSession) {
    private val pool = Executors.newFixedThreadPool(2, { (r: Runnable) =>
      val t = new Thread(r, "graft-pipeline-stage")
      t.setDaemon(true)
      t
    })
    private val forked = ArrayBuffer.empty[CompletableFuture[_]]

    /** Starts `body` on the pool; [[join]] waits for it. */
    def fork[A](body: => A): CompletableFuture[A] = {
      val f = SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(body)
      forked += f
      f
    }

    /** Runs `main` on the calling thread, then waits for every forked task.
      * A failure — `main`'s first, then the forks' in start order — is
      * rethrown only once all of them finished, so no job of this run is
      * still writing into the work directory when `run` returns or throws.
      */
    def join[A](main: => A): A = {
      val result = try Right(main) catch { case t: Throwable => Left(t) }
      val failures = result.swap.toSeq ++ forked.toSeq.flatMap { f =>
        try { f.join(); None } catch {
          case e: CompletionException if e.getCause != null => Some(e.getCause)
          case t: Throwable => Some(t)
        }
      }
      forked.clear()
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      result.toOption.get
    }

    /** Shuts the pool down. Every fork is joined on the normal path; one
      * still pending here means an exception is already propagating, so it
      * is waited for and its own outcome dropped.
      */
    def close(): Unit =
      try forked.foreach(f => scala.util.Try(f.join())) finally pool.shutdown()
  }
}
