package graft.pipeline

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.parse.{Drain, DrainConfig, TemplateEntry}
import graft.windows.Windows
import graft.agg.Features
import graft.enrich.Enrich
import graft.route.Router

/** The end-to-end parse → enrich → route → window → aggregate job
  * (BASELINE.json north_rule), checkpoint-resumable with per-partition
  * lineage + row-count metrics.
  *
  * Stage graph. Parse, route, windows and count_vectors are checkpoints
  * (`Router.stage*`/`fanOut*`); restart skips complete stages, so a kill at
  * any cut resumes without recomputation. Branches (`‖` below) run side by
  * side: neither reads the other's output.
  *
  * {{{
  *   input ─┬─ parse: Drain mine → dict ─┐
  *          └────────────────────────────┴─ route: match + label ─┬─ windows
  *                                                                ├─ count_vectors
  *                                                                └─ salted count
  * }}}
  *
  *   1. parse   — Drain mine (partition trees + canonical merge). The stage
  *                checkpoint IS the template dictionary (event_id,
  *                event_template, occurrences), so its `_metrics.json` row
  *                count is the template count.
  *   2. route   — the frozen-dictionary match (one narrow projection), the
  *                conversation label (1 iff the conversation has a tool turn)
  *                and the fan-out `partitionBy(event_id)` in ONE write of the
  *                slim stream (conv_id, turn_idx, role, tool, ts, event_id,
  *                label); per-sink counts in `_metrics.json` sum to the turn
  *                count. The template TEXT is never materialized per row —
  *                the dict join reconstructs it.
  *   3. aggregate — session windows ‖ count vectors + TF-IDF ‖ the salted
  *                two-level hot-template count (SURVEY.md §4.2), checked
  *                against the route's per-sink counts; all three read only
  *                the route table.
  *
  * Side-by-side stages run on a two-thread pool owned by the run, under the
  * caller's job group and active session; `run` returns or throws only once
  * every stage it started has finished. With `GRAFT_TIMING` set, each stage
  * prints its wall time to stderr; the times of side-by-side stages overlap.
  *
  * Scale design: no global sort; one full-table materialization (route),
  * with the slim schema. The route write is BUCKETED by conv_id (catalog
  * bucket spec — the parquet stand-in for a bucketed Iceberg table), so the
  * conv_id partitioning SURVIVES the stage materialization: the window and
  * count-vector stages aggregate exchange-free (PlanSpec-asserted), and the
  * pipeline's only full-table exchange is the one inside the route write
  * itself. The match runs below that exchange, which therefore carries the
  * 8-char event_id, not the text; the label is a window above it, so no
  * per-conversation table is built, broadcast or shuffled. The plain
  * (`bucketRoute = false`) layout joins a broadcast label aggregate instead.
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
    * @param bucketRoute true writes the route table bucketed by conv_id into
    *        the session's default parallelism; false writes the plain
    *        fan-out (the `graft.Bench` route-layout control).
    */
  def run(spark: SparkSession, transcripts: DataFrame, workDir: String,
          cfg: DrainConfig = DrainConfig(depth = 4, st = 0.4),
          mineFraction: Double = 1.0,
          bucketRoute: Boolean = true): Result = {
    val sides = new SideBySide(spark)
    try {
      // -- stage 1: parse --------------------------------------------------------
      val parseDir = s"$workDir/parse"
      // mined when the parse stage runs; on resume it is read back from the
      // checkpoint only if the route still has to be written. The read-back
      // is re-sorted into mergePartials' order: the frozen tree's tie-breaks
      // follow insertion order, which a parquet read does not keep.
      lazy val dict: Vector[TemplateEntry] =
        if (Router.isComplete(parseDir))
          spark.read.schema(Encoders.product[TemplateEntry].schema).parquet(s"$parseDir/data")
            .as(Encoders.product[TemplateEntry]).collect().toVector.sorted(Drain.dictOrder)
        else {
          val mineInput =
            if (mineFraction >= 1.0) transcripts
            else transcripts.sample(withReplacement = false, mineFraction, seed = 42L)
          Drain.mine(mineInput, "text", cfg)
        }
      val (_, templates) = timed("parse")(
        Router.stageWithCount(spark, parseDir)(spark.createDataFrame(dict)))

      // -- stage 2: route (the one full-table materialization) -----------------
      // match → label → bucketed write in one plan. Bucketed by conv_id
      // (parquet stand-in for a bucketed Iceberg table): the route write pays
      // one shuffle on conv_id and every downstream conv-keyed stage reads the
      // catalog bucket spec and aggregates EXCHANGE-FREE. The label is a
      // window over that same exchange's conv_id partitions, so fanOutBucketed's
      // own repartition is satisfied and dropped. The declared-schema/catalog
      // read also pins event_id (a partition column) as string — digit-only
      // hex ids would otherwise be inferred as integers.
      val routeDir = s"$workDir/route"
      val routeDone = Router.isComplete(routeDir)
      val parallelism = spark.sparkContext.defaultParallelism
      // a completed route needs only the plan's schema, not the dictionary
      val matched = Drain.matchEventIds(transcripts, "text", if (routeDone) Nil else dict, cfg)
        .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id")
      // a conversation is anomalous iff it has a tool turn; a null conv_id
      // belongs to no conversation and is labelled 0
      val label = max(when(col("role") === "tool" && col("conv_id").isNotNull, 1).otherwise(0))
      val routePlan =
        if (bucketRoute)
          matched.repartition(parallelism, col("conv_id"))
            .withColumn("label", label.over(Window.partitionBy("conv_id")))
        else
          Enrich.convLabels(matched, transcripts.groupBy(col("conv_id")).agg(label.as("label")))
      val routeTable = "graft_route_" + Drain.md5_8(workDir)
      val routes =
        if (routeDone) {
          // resume: the bucket spec comes from the stage's _lineage.json (the
          // count the files were WRITTEN with), not from this session
          if (bucketRoute)
            Router.ensureBucketedTable(spark, routeTable, routePlan.schema,
              "event_id", "conv_id", routeDir)
          Router.readMetrics(routeDir)
        } else if (bucketRoute)
          timed("route")(Router.fanOutBucketed(routePlan, "event_id", "conv_id",
            parallelism, routeDir, routeTable))
        else
          timed("route")(Router.fanOut(routePlan, "event_id", routeDir,
            colocate = templates > parallelism * 4))
      val enriched =
        if (bucketRoute) spark.table(routeTable)
        else spark.read.schema(routePlan.schema).parquet(s"$routeDir/data")

      // -- stage 3: aggregate: windows ‖ count vectors ‖ salted count -----------
      val cvRun = sides.fork(timed("count_vectors")(Router.stageWithCount(spark, s"$workDir/count_vectors") {
        val counts = Features.countVectors(enriched, Seq("conv_id"))
        Features.tfidf(counts, Seq("conv_id"))
      })._2)
      // salted hot-template aggregate (north rule) — tiny output, not a stage.
      // The sinks are partitioned by event_id, so its per-template totals
      // must equal the route's per-sink counts.
      sides.fork(timed("salted_count") {
        val salted = Features.saltedCount(enriched, "event_id").collect().toSeq
          .map(r => Router.SinkMetrics(Option(r.getString(0)).getOrElse("null"), r.getLong(1)))
        if (salted.sortBy(_.route) != routes) throw new IllegalStateException(s"salted count " +
          s"${salted.diff(routes).mkString(", ")} != route sink count ${routes.diff(salted).mkString(", ")}")
      })
      val nWindows = sides.join(timed("windows")(Router.stageWithCount(spark, s"$workDir/windows") {
        Windows.sessionGroup(enriched, labelCol = Some("label"))
          .withColumn("label", element_at(col("labels"), 1))
          .drop("labels")
      })._2)

      // turn/row counts come from the stage metrics sidecars — no extra jobs
      Result(routes.map(_.rows).sum, templates.toInt, routes, nWindows, cvRun.join())
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
