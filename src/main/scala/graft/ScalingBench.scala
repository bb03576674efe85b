package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Transcripts
import graft.pipeline.Pipeline
import graft.util.BenchSupport.{CpuListener, rmrf, workDir}

/** Scaling-efficiency evidence (BASELINE.json: ≥0.8 from N to 4N executors;
  * sandbox proxy per the driver note: the SAME job on the SAME input at
  * local[8] vs local[32]).
  *
  * Three confounders of this sandbox are handled explicitly (all measured —
  * see BASELINE.md "Scaling measurement"):
  *
  *  1. '''Host CPU overcommit.''' A pure-CPU calibration (fixed total work,
  *     8 vs 32 spin threads) shows this VM delivers only ~2.2× more
  *     throughput from 8→32 threads — the hardware ceiling for ANY job's
  *     wall-clock efficiency here is ~0.55, below the 0.8 target by
  *     construction. The calibration runs in-band and the report includes
  *     both raw and hardware-normalized efficiency.
  *  2. '''Single shared disk.''' Data + shuffle run on tmpfs so the compute
  *     path is what is measured (a real cluster's storage scales with
  *     executors).
  *  3. '''Noise.''' 3-5× round-to-round interference → interleaved reps,
  *     per-level minimum.
  *
  * The job-inherent scaling signal reported alongside wall clock: total
  * executor CPU time per turn at each level. A flat cpu/turn means the job
  * adds no coordination/contention overhead as parallelism quadruples — on a
  * real N→4N cluster (where cores deliver 4×) that is what ≥0.8 wall-clock
  * efficiency requires.
  */
object ScalingBench {

  private var localDir: String = _

  private def session(cpus: Int, tag: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$tag")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Pure-CPU calibration: seconds to finish a FIXED amount of arithmetic
    * split over `nThreads` spin threads. No allocation, no locks, no I/O —
    * an upper bound on what any parallel job can get from these vCPUs.
    */
  // one shared spin workload across all three benches — a tweak to the
  // calibration must move ScalingBench, JvmScalingBench and HwCalibrate
  // together or their normalizations silently diverge
  private def spinSeconds(nThreads: Int): Double = HwCalibrate.spinSeconds(nThreads)

  def main(args: Array[String]): Unit = {
    val base = workDir("graft-scaling")
    localDir = s"$base/spark-local"
    // same finally-cleanup discipline as JvmScalingBench: the base dir holds
    // a multi-hundred-MB RAM-backed input; leaking it eats shared memory
    try { run(base) } finally { rmrf(base) }
  }

  private def run(base: String): Unit = {
    val nConv = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONVS", "100000").toInt
    val tmp   = base
    val input = s"$tmp/transcripts"

    // hardware ceiling calibration (interleaved with nothing else running)
    val spin8  = spinSeconds(8)
    val spin32 = spinSeconds(32)
    val hwSpeedup = spin8 / spin32 // ideal = 4.0 on truly dedicated 32 cores
    System.err.println(f"[scaling] hw calibration: spin8=$spin8%.2fs spin32=$spin32%.2fs speedup=$hwSpeedup%.2f (ideal 4.0)")

    // generate once (32 cores — generation is not part of the measurement)
    locally {
      val s = session(32, "gen")
      Transcripts.synthetic(s, nConv, seed = 42L, partitions = 64)
        .write.mode("overwrite").parquet(input)
      s.stop()
    }
    // small warmup input: steady-state throughput, not first-run JIT/codegen
    val warm = s"$tmp/warm"
    locally {
      val s = session(32, "warmgen")
      Transcripts.synthetic(s, 20000, seed = 7L, partitions = 32)
        .write.mode("overwrite").parquet(warm)
      s.stop()
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt

    def runOnce(cpus: Int, rep: Int): (Long, Double, Double) = {
      val s = session(cpus, s"run${cpus}_$rep")
      Pipeline.run(s, s.read.parquet(warm), s"$tmp/warmup${cpus}_$rep") // JIT warmup
      val listener = new CpuListener
      s.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val res = Pipeline.run(s, s.read.parquet(input), s"$tmp/work${cpus}_$rep")
      val dt = (System.nanoTime() - t0) / 1e9
      s.sparkContext.removeSparkListener(listener)
      // routed-row conservation must hold at every parallelism level
      require(res.routes.map(_.rows).sum == res.turns,
        s"router conservation violated at local[$cpus]")
      s.stop()
      rmrf(s"$tmp/work${cpus}_$rep") // bound tmpfs usage across reps
      rmrf(s"$tmp/warmup${cpus}_$rep")
      val cpuSec = listener.cpuNs.get / 1e9
      System.err.println(f"[scaling] local[$cpus] rep $rep: wall=$dt%.2fs cpu=$cpuSec%.1fs")
      (res.turns, dt, cpuSec)
    }

    val runs = (1 to reps).flatMap(r => Seq(8 -> r, 32 -> r)).map {
      case (cpus, r) => (cpus, runOnce(cpus, r))
    }
    val turns = runs.collect { case (8, (n, _, _)) => n }.head
    require(runs.collect { case (32, (n, _, _)) => n }.head == turns,
      "same input must yield same turn count")
    val t8     = runs.collect { case (8, (_, t, _)) => t }.min
    val t32    = runs.collect { case (32, (_, t, _)) => t }.min
    val cpu8   = runs.collect { case (8, (_, _, c)) => c }.min
    val cpu32  = runs.collect { case (32, (_, _, c)) => c }.min
    val tput8  = turns / t8
    val tput32 = turns / t32
    val effRaw  = (tput32 / tput8) / 4.0
    val effNorm = (tput32 / tput8) / hwSpeedup
    val cpuPerM8  = cpu8 / (turns / 1e6)
    val cpuPerM32 = cpu32 / (turns / 1e6)
    println(
      f"""{"metric":"scaling_efficiency","value":$effRaw%.3f,"unit":"ratio","turns":$turns,""" +
      f""""local8":{"sec":$t8%.2f,"turns_per_sec":$tput8%.1f,"cpu_sec_per_1m_turns":$cpuPerM8%.1f},""" +
      f""""local32":{"sec":$t32%.2f,"turns_per_sec":$tput32%.1f,"cpu_sec_per_1m_turns":$cpuPerM32%.1f},""" +
      f""""hw_cpu_speedup_8_to_32":$hwSpeedup%.2f,"hw_ceiling_efficiency":${hwSpeedup / 4.0}%.3f,""" +
      f""""efficiency_normalized_to_hw":$effNorm%.3f,"cpu_per_turn_ratio_32_vs_8":${cpuPerM32 / cpuPerM8}%.3f}""")
  }
}
