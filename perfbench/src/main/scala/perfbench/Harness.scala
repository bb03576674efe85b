package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** The benchmark harness. One process, one closed-loop caller.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --work <dir> --data <dir> --expected <file> [--spans <file>]
  *
  * `--trace 0` starts a session and stages the workload's input several
  * times, runs one untimed warm-up operation, then times an odd number of
  * operations (at least the workload's minimum) for at least `--seconds` and
  * prints the end-to-end metrics. `--trace 1` prints the
  * per-layer metrics of a traced replay of the pipeline and of a traced
  * query sweep instead.
  *
  * `--record <dir>` prints the digests of the sweep query outputs dumped
  * under `<dir>` (the layout `graft.Verify` writes); `--selftest` shows that
  * corrupted outputs are counted as failed.
  *
  * The last stdout line is the result JSON. A failed output check is
  * reported on stderr and makes the exit code 1.
  */
object Harness {

  val SetupReps = 3
  val TraceReps = 2

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Operations whose output check failed. */
  def failedCount(checks: Seq[Seq[String]]): Int = checks.count(_.nonEmpty)

  private def guarded(run: => Seq[String]): Seq[String] =
    try run catch { case e: Exception => Seq(s"raised $e") }

  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    java.lang.Double.toString(v)
  }

  private def resultJson(correct: Boolean, attempted: Int, failed: Int,
                         metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val data = opt("data")
    lazy val expected = Checks.readExpected(opt("expected"))

    val code =
      if (opts.contains("record")) record(opts("record"), work, data, cpus)
      else if (opts.contains("selftest")) selfTest(work, data, cpus, expected)
      else {
        val workload = opt("workload")
        require(Workloads.Names.contains(workload),
          s"unknown workload $workload; one of ${Workloads.Names.mkString(", ")}")
        val seed = opt("seed").toLong
        val seconds = opt("seconds").toDouble
        if (opt("trace") == "1") traced(workload, seed, work, data, cpus, expected, opts.get("spans"))
        else untraced(workload, seed, seconds, work, data, cpus, expected)
      }
    sys.exit(code)
  }

  private def shape(cpus: Int): String =
    s"session=local[$cpus] shuffle.partitions=$cpus aqe=on nproc=$cpus"

  private def report(failures: Seq[Seq[String]], what: String): Unit =
    failures.zipWithIndex.foreach { case (fs, i) =>
      fs.foreach(f => System.err.println(s"CHECK FAILED [$what $i]: $f"))
    }

  def untraced(workload: String, seed: Long, seconds: Double, work: String, data: String,
               cpus: Int, expected: => Map[String, Checks.Digest]): Int = {
    // set-up = session start with extension registration, input staging and
    // one warm-up operation; the first two repeat in fresh sessions and
    // their median joins the warm-up's time
    val stagings = ArrayBuffer.empty[Double]
    var session: Session = null
    var staged: Option[Workloads.Input] = None
    (0 until SetupReps).foreach { rep =>
      if (session != null) {
        session.stop()
        Dirs.rmrf(s"$work/s${rep - 1}")
      }
      val t0 = System.nanoTime()
      session = new Session(s"$work/s$rep", cpus)
      staged = Workloads.stage(workload, session, s"$work/s$rep", seed)
      stagings += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val w = Workloads.warmedUp(session, staged, s"$work/s${SetupReps - 1}", data, seed, expected)
    val warmUp = (System.nanoTime() - t0) / 1e9
    val setup = median(stagings.toSeq) + warmUp

    // the count of operations is odd, so the median is one measured
    // operation, never the mean of the first one (still JIT-compiling) and a
    // warm one
    val ops = ArrayBuffer.empty[Measured[Seq[String]]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      w.reset()
      ops += session.measured(s"op:${ops.size}")(guarded(w.run()))
    } while (System.nanoTime() < deadline || ops.size % 2 == 0 || ops.size < w.minOps)
    session.stop()

    val checks = ops.map(_.value).toSeq
    report(checks, s"$workload op")
    val failed = failedCount(checks)
    val wall = median(ops.map(_.wallS).toSeq)
    val metrics = Seq(
      ("setup_s", setup, "s"),
      ("wall_s", wall, "s"),
      ("turns_per_s", w.turns / wall, "1/s"),
      ("cpu_s", median(ops.map(_.tasks.cpuNs / 1e9).toSeq), "s"),
      ("shuffle_mb", median(ops.map(_.tasks.shuffleWriteBytes / 1e6).toSeq), "MB"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    println(s"# perfbench workload=$workload seed=$seed ${shape(cpus)} closed-loop clients=1 " +
      s"setups=$SetupReps ops=${ops.size} turns_per_op=${w.turns} " +
      s"failed_frac=${failed.toDouble / ops.size}")
    println("# per-op wall_s " + ops.map(o => f"${o.wallS}%.3f").mkString(" ") +
      " cpu_s " + ops.map(o => f"${o.tasks.cpuNs / 1e9}%.3f").mkString(" "))
    val basis = Map(
      "setup_s" -> s"median of $SetupReps session starts with staging, plus the warm-up",
      "peak_rss_mb" -> "process VmHWM")
    metrics.foreach { case (n, v, u) =>
      println(f"# $n%-12s $v%14.4f $u%-4s (${basis.getOrElse(n, s"median of ${ops.size} ops")})")
    }
    println(resultJson(failed == 0, ops.size, failed, metrics))
    if (failed == 0) 0 else 1
  }

  private val LayerFields: Seq[(String, String)] = Seq(
    "self_s" -> "s", "cpu_s" -> "s", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
    "spill_mb" -> "MB", "rows_out" -> "count", "tasks" -> "count", "task_wait_s" -> "s")

  private def layerMetrics(name: String, l: Layer): Seq[(String, Double, String)] = {
    val t = l.tasks
    Seq(l.selfS, t.cpuNs / 1e9, t.shuffleWriteBytes / 1e6, t.shuffleReadBytes / 1e6,
      t.spillBytes / 1e6, l.rowsOut.toDouble, t.tasks.toDouble, t.waitMs / 1e3)
      .zip(LayerFields).map { case (v, (f, u)) => (s"$name.$f", v, u) }
  }

  def traced(workload: String, seed: Long, work: String, data: String, cpus: Int,
             expected: => Map[String, Checks.Digest], spansOut: Option[String]): Int = {
    val session = new Session(s"$work/s0", cpus)
    val tracer = new Tracer(session)
    val failures = ArrayBuffer.empty[Seq[String]]

    // pipeline: untraced Pipeline.run versus the traced replay of its stages
    val (in, sourcesLayer) =
      Trace.sources(tracer, session, s"$work/s0/input", Workloads.SkewedConvs, seed)
    val fresh = new FreshPipeline(session, in, s"$work/s0/run")
    // a second warm-up: the JIT is still compiling through the first runs,
    // which would bias whichever side of the comparison ran first
    fresh.reset()
    failures += guarded(fresh.run())
    // untraced and traced runs alternate, and which goes first alternates
    // too, so drift in the host or the JIT does not land on one side of the
    // overhead
    val pairs = (0 until TraceReps).map { i =>
      def plainRun(): Double = {
        fresh.reset()
        val m = session.measured(s"op:$i")(guarded(fresh.run()))
        failures += m.value
        m.wallS
      }
      val plainFirst = if (i % 2 == 0) Some(plainRun()) else None
      fresh.reset()
      val t0 = System.nanoTime()
      val (r, layers, mineS, files) =
        Trace.replay(tracer, session, s"replay$i", in.dir, s"$work/s0/run")
      val wall = (System.nanoTime() - t0) / 1e9
      val plain = plainFirst.getOrElse(plainRun())
      failures += Checks.pipeline(r, fresh.expect) ++
        Checks.sameResult(r, fresh.reference).map("replay differs from Pipeline.run: " + _)
      val values = layerMetrics("sources", sourcesLayer) ++
        Seq("parse", "enrich", "route", "windows", "agg").flatMap(l => layerMetrics(l, layers(l))) ++
        Seq(
          ("parse.mine_s", mineS, "s"),
          ("parse.match_s", layers("parse").selfS, "s"),
          ("parse.templates", r.templates.toDouble, "count"),
          ("route.bytes_written_mb", layers("route").tasks.outputBytes / 1e6, "MB"),
          ("route.files_written", files.toDouble, "count"),
          ("windows.exchanges", layers("windows").plans.exchanges.toDouble, "count"),
          ("agg.exchanges", layers("agg").plans.exchanges.toDouble, "count"))
      (plain, wall, values)
    }
    val plain = pairs.map(_._1)
    val replays = pairs.map(p => (p._2, p._3))
    // each per-layer number is the median over the replays
    val pipelineMetrics = replays.head._2.indices.map { i =>
      val (n, _, u) = replays.head._2(i)
      (n, median(replays.map(_._2(i)._2)), u)
    }

    // query sweep: one warm-up pass, then one pass with a span per query
    val sweep = new QuerySweep(session, data, expected,
      new scala.util.Random(seed).shuffle(Workloads.SweepQueries))
    val perQuery = sweep.order.map { q =>
      val m = tracer.span("sweep", q)(guarded(sweep.runQuery(q)))
      failures += m.value
      q -> m
    }.toMap
    session.stop()

    val overhead = median(replays.map(_._1)) - median(plain)
    val windowRecords = Workloads.WindowQueries.map(perQuery(_).tasks.shuffleWriteRecords).sum
    val metrics: Seq[(String, Double, String)] = pipelineMetrics ++
      Seq(
        ("windows.amplification",
          windowRecords.toDouble / (Workloads.WindowQueries.size * sweep.eventRows), "ratio"),
        ("expr.match_id_calls",
          Workloads.TfidfFamily.map(perQuery(_).plans.matchIdCalls).sum.toDouble, "count")) ++
      Workloads.SweepQueries.flatMap { q =>
        val m = perQuery(q)
        Seq((s"query.$q.wall_s", m.wallS, "s"), (s"query.$q.cpu_s", m.tasks.cpuNs / 1e9, "s"),
          (s"query.$q.exchanges", m.plans.exchanges.toDouble, "count"))
      } :+ ("trace.overhead_s", overhead, "s")

    spansOut.foreach(p => Files.writeString(Paths.get(p), tracer.json))
    report(failures.toSeq, s"$workload traced op")
    val failed = failedCount(failures.toSeq)
    println(s"# perfbench traced workload=$workload seed=$seed ${shape(cpus)} " +
      s"untraced_pipeline_s=${median(plain)} traced_replay_s=${median(replays.map(_._1))} " +
      s"tracing_overhead_s=$overhead spans=${tracer.spans.size}")
    Workloads.SweepQueries.foreach { q =>
      val m = perQuery(q)
      println(s"# fingerprint $q exchanges=${m.plans.exchanges} match_id_calls=${m.plans.matchIdCalls} " +
        s"shuffle_write_records=${m.tasks.shuffleWriteRecords}")
    }
    println(resultJson(failed == 0, failures.size, failed, metrics))
    if (failed == 0) 0 else 1
  }

  /** Prints `name<TAB>rows<TAB>checksum` for each sweep query dumped under
    * `dumpDir`, after checking that the live, observed digest agrees.
    */
  def record(dumpDir: String, work: String, data: String, cpus: Int): Int = {
    val session = new Session(s"$work/s0", cpus)
    val lines = Workloads.SweepQueries.map { q =>
      val dumped = Checks.digest(session.spark.read.parquet(s"$dumpDir/$q"))
      val (df, live) = Checks.observed(graft.SparkEntry.queries(q)(session.spark, data), q)
      df.write.format("noop").mode("overwrite").save()
      if (live() != dumped) System.err.println(s"CHECK FAILED [record $q]: live ${live()} != dumped $dumped")
      (live() == dumped, s"$q\t${dumped.rows}\t${dumped.checksum}")
    }
    session.stop()
    lines.foreach(l => println(l._2))
    if (lines.forall(_._1)) 0 else 1
  }

  /** Shows that the output checks count corrupted results as failed. */
  def selfTest(work: String, data: String, cpus: Int,
               expected: Map[String, Checks.Digest]): Int = {
    val session = new Session(s"$work/s0", cpus)
    val in = Workloads.generate(session, s"$work/s0/input", 500, 1L)
    val fresh = new FreshPipeline(session, in, s"$work/s0/run")
    val r = fresh.reference
    val sink = r.routes.head
    val q = "q_kmv_grouped"
    val sweep = new QuerySweep(session, data, expected, Seq(q))
    val cases: Seq[(String, Boolean, Seq[String])] = Seq(
      ("pipeline result as run", false, Checks.pipeline(r, fresh.expect)),
      ("pipeline result, one turn dropped", true, Checks.pipeline(r.copy(turns = r.turns - 1), fresh.expect)),
      ("pipeline result, one routed row dropped", true,
        Checks.pipeline(r.copy(routes = r.routes.updated(0, sink.copy(rows = sink.rows - 1))), fresh.expect)),
      ("pipeline result, one window dropped", true, Checks.pipeline(r.copy(windows = r.windows - 1), fresh.expect)),
      (s"$q as run", false, sweep.runQuery(q)),
      (s"$q, one row dropped", true, sweep.runQuery(q, df => df.limit(expected(q).rows.toInt - 1))))
    session.stop()
    val counted = failedCount(cases.map(_._3))
    val ok = cases.forall { case (name, corrupt, fs) =>
      val good = fs.nonEmpty == corrupt
      println(s"# selftest ${if (good) "ok  " else "FAIL"} $name: ${if (fs.isEmpty) "passes" else fs.mkString("; ")}")
      good
    } && counted == cases.count(_._2)
    println(s"# selftest: ${cases.size} cases, $counted counted as failed, " +
      s"${cases.count(_._2)} corrupted: ${if (ok) "ok" else "FAIL"}")
    if (ok) 0 else 1
  }
}
