package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, TestSpark}

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

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ShuffleReport <sfDir> [query…]")
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
