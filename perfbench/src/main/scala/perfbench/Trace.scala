package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.agg.Features
import graft.enrich.Enrich
import graft.parse.{Drain, DrainConfig, TemplateEntry}
import graft.pipeline.Pipeline
import graft.route.Router
import graft.windows.Windows

/** A span around one layer call, recorded in memory. Spans of one
  * operation share `op`.
  */
final case class Span(op: String, name: String, parent: Option[String],
                      startNs: Long, endNs: Long)

/** What one layer did during a traced operation. */
final case class Layer(selfS: Double, tasks: TaskTotals, plans: PlanPrint, rowsOut: Long)

/** Records spans around calls into the program's layers. Each span runs
  * under its own job group, so its task totals exclude nested spans'.
  */
final class Tracer(s: Session) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[String] = Nil

  def span[A](op: String, name: String)(f: => A): Measured[A] = {
    val parent = stack.headOption
    stack = name :: stack
    val m = try s.measured(s"trace:$op:$name")(f) finally stack = stack.tail
    spans += Span(op, name, parent, m.startNs, m.startNs + (m.wallS * 1e9).toLong)
    m
  }

  def json: String = spans.map { sp =>
    s"""{"op":"${sp.op}","name":"${sp.name}","parent":${sp.parent.fold("null")("\"" + _ + "\"")},""" +
      s""""start_ns":${sp.startNs},"end_ns":${sp.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {

  /** Stages the seeded input as set-up does, in the sources span. */
  def sources(t: Tracer, s: Session, dir: String, nConv: Int, seed: Long): (Workloads.Input, Layer) = {
    val m = t.span("sources", "sources")(Workloads.generate(s, dir, nConv, seed))
    (m.value, Layer(m.wallS, m.tasks, m.plans, m.value.turns))
  }

  /** `Pipeline.run`'s stage sequence with its default arguments, replayed
    * through the public layer functions with a span around each layer.
    * Returns the replay's result, the per-layer numbers, the mine span's
    * wall time and the route layer's written data files.
    */
  def replay(t: Tracer, s: Session, op: String, inputDir: String, dir: String)
      : (Pipeline.Result, Map[String, Layer], Double, Long) = {
    val spark = s.spark
    val cfg = DrainConfig(depth = 4, st = 0.4)
    val transcripts = spark.read.parquet(inputDir)

    var dict: Vector[TemplateEntry] = Vector.empty
    var mine: Measured[Unit] = null
    val parse = t.span(op, "parse") {
      Router.stageWithCount(spark, s"$dir/parse") {
        mine = t.span(op, "parse.mine") {
          dict = Drain.mine(transcripts, "text", cfg)
          spark.createDataFrame(dict).write.mode("overwrite").parquet(s"$dir/dict")
        }
        Drain.matchEventIds(transcripts, "text", dict, cfg)
          .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id")
      }
    }
    val (parsedDf, nTurns) = parse.value

    val enrich = t.span(op, "enrich") {
      val labels = Router.stage(spark, s"$dir/labels") {
        parsedDf.groupBy(col("conv_id"))
          .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      }
      Enrich.convLabels(parsedDf, labels, broadcastDim = true)
    }

    val table = "graft_route_" + Drain.md5_8(dir)
    val route = t.span(op, "route") {
      Router.fanOutBucketed(enrich.value, "event_id", "conv_id",
        spark.sparkContext.defaultParallelism, s"$dir/route", table)
    }
    val enriched = spark.table(table)

    val windows = t.span(op, "windows") {
      Router.stageWithCount(spark, s"$dir/windows") {
        Windows.sessionGroup(enriched, labelCol = Some("label"))
          .withColumn("label", element_at(col("labels"), 1))
          .drop("labels")
      }._2
    }
    val agg = t.span(op, "agg") {
      val n = Router.stageWithCount(spark, s"$dir/count_vectors") {
        Features.tfidf(Features.countVectors(enriched, Seq("conv_id")), Seq("conv_id"))
      }._2
      Features.saltedCount(enriched, "event_id").collect()
      n
    }

    val result = Pipeline.Result(nTurns, dict.length, route.value, windows.value, agg.value)
    val labelRows = Router.readMetrics(s"$dir/labels").map(_.rows).sum
    val layers = Map(
      "parse" -> Layer(parse.wallS - mine.wallS, parse.tasks + mine.tasks,
        parse.plans + mine.plans, nTurns),
      "enrich" -> Layer(enrich.wallS, enrich.tasks, enrich.plans, labelRows),
      "route" -> Layer(route.wallS, route.tasks, route.plans, route.value.map(_.rows).sum),
      "windows" -> Layer(windows.wallS, windows.tasks, windows.plans, windows.value),
      "agg" -> Layer(agg.wallS, agg.tasks, agg.plans, agg.value))
    (result, layers, mine.wallS, Dirs.dataFiles(s"$dir/route/data"))
  }
}
