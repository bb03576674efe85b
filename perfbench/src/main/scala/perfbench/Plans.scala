package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Exact counts read from executed physical plans, taken from outside the
  * program: shuffle exchanges, and calls of the Drain id-match kernel.
  */
final case class PlanPrint(exchanges: Int, matchIdCalls: Int) {
  def +(o: PlanPrint): PlanPrint =
    PlanPrint(exchanges + o.exchanges, matchIdCalls + o.matchIdCalls)
}

/** Collects the query executions that finished, in completion order. */
final class PlanCapture extends QueryExecutionListener {
  private val done = ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { done += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  /** Removes and returns the executions finished so far. */
  def take(): Seq[QueryExecution] = synchronized { val r = done.toList; done.clear(); r }
}

object Plans {

  /** Every node of an executed plan: adaptive plans contribute their final
    * plan, query stages the plan they ran; a reused exchange is one node
    * (its subtree ran once, elsewhere in the plan).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Kernel calls count where rows are computed: a scan lists its pushed
    * filters too, but a filter the source cannot evaluate runs in the Filter
    * node above it, which is counted.
    */
  def print(qes: Seq[QueryExecution]): PlanPrint = {
    val ns = qes.flatMap(qe => nodes(qe.executedPlan))
    PlanPrint(
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      matchIdCalls = ns.filterNot(_.isInstanceOf[DataSourceScanExec]).map(_.expressions.map(
        _.collect { case e if e.prettyName == "graft_drain_match_id" => e }.size).sum).sum)
  }
}
