package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Scaffolding shared by the measurement mains (Bench, BenchExtra,
  * ScalingBench, JvmScalingBench). [[rmrf]] is also the one recursive
  * delete of Verify, Main's warm-up and the query scaffolding's CSV
  * work-dir shutdown hook.
  */
object BenchSupport {

  /** Deletes `p` and everything under it; a missing path is a no-op. */
  def rmrf(p: String): Unit = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      // the walk holds its directories open until the stream is closed
      val walk = java.nio.file.Files.walk(path)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** A fresh work dir named `prefix…`: on tmpfs (/dev/shm) when the host has
    * one, so a stall on a shared disk can't masquerade as compute, else in
    * the default temp dir. The caller removes it ([[rmrf]]).
    */
  def workDir(prefix: String): String =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), prefix).toString
    else java.nio.file.Files.createTempDirectory(prefix).toString

  /** The session [[graft.Bench]] and [[graft.BenchExtra]] measure in:
    * `local[cpus]` with as many shuffle partitions, AQE on, the kernels'
    * SQL names registered, and the Spark local dir and the q_csv_* round-trip
    * artifacts (`graft.workdir`) under the work dir `work`.
    */
  def benchSession(cpus: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("graft.workdir", s"$work/csv-work")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Sums the executor CPU time of every task that ends while registered. */
  final class CpuListener extends SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  }
}
