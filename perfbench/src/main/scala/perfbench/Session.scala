package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** A call's result, wall time, and the task totals and plan counts of the
  * jobs it ran.
  */
final case class Measured[A](value: A, startNs: Long, wallS: Double,
                             tasks: TaskTotals, plans: PlanPrint)

/** One Spark session in the benchmark's shape: `local[cpus]`, shuffle
  * partitions = cpus, AQE on, the graft SQL extensions registered, and
  * every local and warehouse directory under `work`.
  */
final class Session(work: String, val cpus: Int) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.expr.GraftExtensions")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("graft.workdir", s"$work/graft-work")
    .getOrCreate()
  private val sc = spark.sparkContext
  sc.setLogLevel("ERROR")
  // the library falls back to composed expressions when its kernels are
  // not registered; measuring that fallback would measure another program
  require(graft.expr.VectorFunctions.available(spark),
    "graft SQL extensions did not register; refusing to measure the fallback path")

  val tasks = new TaskMetricsListener
  val plans = new PlanCapture
  sc.addSparkListener(tasks)
  spark.listenerManager.register(plans)

  /** Runs `f` under job group `group`. Nested calls restore the outer group,
    * so an outer call's totals exclude its nested calls' jobs.
    */
  def measured[A](group: String)(f: => A): Measured[A] = {
    PerfbenchBus.drain(sc)
    plans.take() // executions finished before this call belong to no group
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val a =
      try f
      finally if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(sc)
    Measured(a, t0, wall, tasks.take(group), Plans.print(plans.take()))
  }

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Dirs {
  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(path).iterator().asScala.toList
      all.reverse.foreach((q: Path) => Files.deleteIfExists(q))
    }
  }

  /** Data files (not `_`/`.`-prefixed sidecars) under `p`. */
  def dataFiles(p: String): Long = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(p)).iterator().asScala.count { q =>
      val n = q.getFileName.toString
      Files.isRegularFile(q) && !n.startsWith("_") && !n.startsWith(".")
    }.toLong
  }
}
