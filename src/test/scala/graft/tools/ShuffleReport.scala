package graft.tools

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, TestSpark}
import graft.pipeline.Pipeline
import graft.sources.Transcripts
import graft.util.BenchSupport

/** Per-query shuffle report: for each query, the shuffle-write bytes and
  * records of every task it ran, the shuffle exchanges of every plan it
  * executed (its driver-side training collects included), and the
  * exchanges of its initial result plan.
  *
  * {{{
  * sbt "Test/runMain graft.tools.ShuffleReport /path/to/sf0.01 [query…]"
  * }}}
  *
  * With no query names it runs all of `SparkEntry.queries`, in name order.
  * Each query's result is forced through the `noop` sink. The session is
  * `local[4]` with shuffle partitions = cores, so bytes are comparable
  * between two checkouts on one host. Output is one tab-separated line per
  * query, then a `total` line.
  *
  * {{{
  * sbt "Test/runMain graft.tools.ShuffleReport --pipeline <nConv> <seed>"
  * }}}
  *
  * The pipeline mode runs `Pipeline.run` twice over
  * `Transcripts.synthetic(nConv, seed, partitions = 2 × cores)`, each into a
  * fresh work directory, and reports the second (warm) run: one line per job
  * (its id, the call site of its last stage, shuffle-write bytes and
  * records), then a `total` line with the job count and the sums.
  */
object ShuffleReport {

  /** Shuffle-write bytes and records summed over every finished task. */
  private final class ShuffleWrites extends SparkListener {
    private var bytes, records = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        bytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        records += e.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
    /** Returns and resets the sums. */
    def take(): (Long, Long) = synchronized {
      val r = (bytes, records); bytes = 0L; records = 0L; r
    }
  }

  /** Shuffle-write bytes and records per job, in job-start order. A task
    * counts towards the first job that listed its stage. A job is named by
    * the call site of the SQL execution that ran it (adaptive stages run on
    * a pool thread, so their own call site names no caller), else of its
    * last stage. */
  private final class JobShuffleWrites extends SparkListener {
    private val executions = mutable.Map.empty[String, String]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executions(s.executionId.toString) = s.description
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(executions.get).getOrElse(e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = (site, 0L, 0L)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        stageJob.get(e.stageId).foreach { j =>
          val (site, bytes, records) = jobs(j)
          jobs(j) = (site, bytes + e.taskMetrics.shuffleWriteMetrics.bytesWritten,
            records + e.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
      }
    /** The per-job rows: job id, call site, bytes, records. */
    def rows: Seq[(Int, String, Long, Long)] = synchronized {
      jobs.toSeq.map { case (j, (site, b, n)) => (j, site, b, n) }
    }
  }

  /** The query executions that finished, in completion order. */
  private final class Executions extends QueryExecutionListener {
    private val done = ArrayBuffer.empty[QueryExecution]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { done += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Seq[QueryExecution] = synchronized { val r = done.toList; done.clear(); r }
  }

  /** Shuffle exchanges that ran in an executed plan: adaptive plans
    * contribute their final plan, a reused exchange ran elsewhere. */
  def executedExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => executedExchanges(a.executedPlan)
    case s: QueryStageExec        => executedExchanges(s.plan)
    case _: ReusedExchangeExec    => 0
    case other =>
      (if (other.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        (other.children ++ other.subqueries).map(executedExchanges).sum
  }

  /** Shuffle exchanges in the initial (pre-execution) adaptive plan,
    * subquery plans included. */
  def initialExchanges(p: SparkPlan): Int = p.collectWithSubqueries {
    case _: ShuffleExchangeLike => 1
    case a: AdaptiveSparkPlanExec => initialExchanges(a.executedPlan)
  }.sum

  def pipelineReport(nConv: Int, seed: Long): Unit = {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toLong)
    val t = Transcripts.synthetic(spark, nConv, seed, partitions = 2 * sc.defaultParallelism)
    val work = java.nio.file.Files.createTempDirectory("graft-shuffle-report").toString
    try {
      Pipeline.run(spark, t, s"$work/warm")
      val writes = new JobShuffleWrites
      TestListenerBus.drain(sc)
      sc.addSparkListener(writes)
      Pipeline.run(spark, t, s"$work/run")
      TestListenerBus.drain(sc)
      sc.removeSparkListener(writes)
      val jobs = writes.rows
      println("job\tcall_site\tshuffle_bytes\tshuffle_records")
      jobs.foreach { case (j, site, b, n) => println(s"$j\t$site\t$b\t$n") }
      println(s"total\t${jobs.size} jobs\t${jobs.map(_._3).sum}\t${jobs.map(_._4).sum}")
    } finally BenchSupport.rmrf(work)
    spark.stop()
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--pipeline")) {
      require(args.length == 3, "usage: ShuffleReport --pipeline <nConv> <seed>")
      pipelineReport(args(1).toInt, args(2).toLong)
    } else queryReport(args)

  def queryReport(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ShuffleReport <sfDir> [query…] | --pipeline <nConv> <seed>")
    val dir = args(0)
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toLong)
    val writes = new ShuffleWrites
    val executions = new Executions
    sc.addSparkListener(writes)
    spark.listenerManager.register(executions)

    println("query\tshuffle_bytes\tshuffle_records\texchanges\tinitial_exchanges")
    val rows = names.map { name =>
      TestListenerBus.drain(sc)
      writes.take(); executions.take()
      val df = SparkEntry.queries(name)(spark, dir)
      val initial = initialExchanges(df.queryExecution.executedPlan)
      df.write.format("noop").mode("overwrite").save()
      TestListenerBus.drain(sc)
      val (bytes, records) = writes.take()
      val ran = executions.take().map(qe => executedExchanges(qe.executedPlan)).sum
      println(s"$name\t$bytes\t$records\t$ran\t$initial")
      (bytes, records, ran, initial)
    }
    println(Seq("total", rows.map(_._1).sum, rows.map(_._2).sum,
      rows.map(_._3).sum, rows.map(_._4).sum).mkString("\t"))
    spark.stop()
  }
}
