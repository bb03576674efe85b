package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.parse.{Drain, TemplateEntry}
import graft.pipeline.PipelineTwins
import graft.route.Router
import graft.route.Router.SinkMetrics
import graft.sources.Transcripts
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def rmrf(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("end-to-end pipeline: conservation invariants hold") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val t = Transcripts.synthetic(spark, 500, seed = 42L, partitions = 8)
    val res = Pipeline.run(spark, t, dir)
    val total = t.count()
    assert(res.turns === total)
    // router conservation: union of per-sink counts == input count
    assert(res.routes.map(_.rows).sum === total)
    assert(res.templates === 8)
    assert(res.windows === 500L) // one session per conversation
    // metrics sidecars written per stage
    Seq("parse", "route", "windows", "count_vectors").foreach { s =>
      assert(Files.exists(Paths.get(s"$dir/$s/_metrics.json")), s"missing metrics for $s")
    }
  }

  test("pipeline on EMPTY input completes with zero counts (no crash on degenerate data)") {
    val dir = Files.createTempDirectory("graft-pipe-empty").toString
    val empty = Transcripts.synthetic(spark, 5, seed = 1L, partitions = 2)
      .filter(col("conv_id") === "no-such-conv")
    val res = Pipeline.run(spark, empty, dir)
    assert(res.turns === 0L)
    assert(res.routes.map(_.rows).sum === 0L)
    assert(res.windows === 0L && res.countVectorRows === 0L)
  }

  // the bucketed route (the default) and the plain fan-out layout
  val layouts = Seq(true -> "", false -> " (plain route layout)")

  layouts.foreach { case (bucketRoute, layout) =>
    test(s"checkpoint resume: restart after killing a late stage is byte-identical$layout") {
      val dir = Files.createTempDirectory("graft-pipe-resume").toString
      val t = Transcripts.synthetic(spark, 300, seed = 43L, partitions = 8)
      val first = Pipeline.run(spark, t, dir, bucketRoute = bucketRoute)
      val routeFiles = spark.read.parquet(s"$dir/route/data")
        .orderBy("conv_id", "turn_idx").collect()
      val parseMtime = Files.getLastModifiedTime(Paths.get(s"$dir/parse/_metrics.json"))

      // simulate a crash between 'windows' and 'count_vectors'
      rmrf(Paths.get(s"$dir/count_vectors"))
      val second = Pipeline.run(spark, t, dir, bucketRoute = bucketRoute)

      assert(second === first) // identical result record incl. per-sink counts
      // earlier stages were NOT recomputed (metrics file untouched)
      assert(Files.getLastModifiedTime(Paths.get(s"$dir/parse/_metrics.json")) === parseMtime)
      // routed rows byte-identical
      val routeFiles2 = spark.read.parquet(s"$dir/route/data")
        .orderBy("conv_id", "turn_idx").collect()
      assert(routeFiles2 === routeFiles)
    }
  }

  test("a fresh run writes one per-turn dataset (route); parse/data is the template dictionary") {
    val dir = Files.createTempDirectory("graft-pipe-one-write").toString
    val t = Transcripts.synthetic(spark, 300, seed = 47L, partitions = 8)
    val res = Pipeline.run(spark, t, dir)
    assert(res.turns === t.count())
    assert(!Files.exists(Paths.get(s"$dir/dict")))
    val dict = spark.read.parquet(s"$dir/parse/data")
    assert(dict.columns.toSeq === Seq("event_id", "event_template", "occurrences"))
    assert(dict.count() === res.templates.toLong)
    // every dataset the run wrote: the directories holding a _SUCCESS marker
    val datasets = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString == "_SUCCESS").map(_.getParent).toSeq
    assert(datasets.size === 4)
    val perTurn = datasets.filter(d => spark.read.parquet(d.toString).count() == res.turns)
    assert(perTurn === Seq(Paths.get(s"$dir/route/data")))
  }

  test("resume from the dictionary checkpoint: route reruns without re-mining, as a clean run") {
    val sess = spark
    import sess.implicits._
    // "x <*> b" and "x aaaa <*>" tie on the text "x aaaa b" (two of three
    // tokens, one parameter each), so the frozen tree returns whichever was
    // inserted first. The dictionary lists the more frequent "x <*> b" first,
    // but its checkpoint file is the smaller one and a parquet read lists
    // larger files first: the read-back must be re-sorted.
    val texts = Seq("x r b", "x s b", "x t b", "x u b", "x v b", "x aaaa p", "x aaaa q", "x aaaa b")
    val t = (for (c <- 0 until 20; (text, i) <- texts.zipWithIndex) yield
      (s"conv$c", i, if (i == 2) "tool" else "user", text, Option.empty[String],
        new java.sql.Timestamp(1704067200000L + c * 60000L + i * 1000L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val dir = Files.createTempDirectory("graft-pipe-dict-resume").toString
    val first = Pipeline.run(spark, t, dir)
    assert(first.templates === 2)
    def metricsTime(s: String) = Files.getLastModifiedTime(Paths.get(s"$dir/$s/_metrics.json"))
    val before = Seq("parse").map(metricsTime)
    Seq("route", "windows", "count_vectors").foreach(s => rmrf(Paths.get(s"$dir/$s")))
    val resumed = Pipeline.run(spark, t, dir)
    assert(Seq("parse").map(metricsTime) === before, "parse was recomputed")

    val cleanDir = Files.createTempDirectory("graft-pipe-dict-clean").toString
    val clean = Pipeline.run(spark, t, cleanDir)
    assert(resumed === clean)
    assert(first === clean)
    def routed(d: String) = spark.read.parquet(s"$d/route/data")
      .orderBy("conv_id", "turn_idx").collect()
    assert(routed(dir) === routed(cleanDir))
  }

  test("pipeline output matches at different parallelism (repartition invariance)") {
    val dirA = Files.createTempDirectory("graft-pipe-a").toString
    val dirB = Files.createTempDirectory("graft-pipe-b").toString
    val tA = Transcripts.synthetic(spark, 200, seed = 44L, partitions = 3)
    val tB = Transcripts.synthetic(spark, 200, seed = 44L, partitions = 17)
    val a = Pipeline.run(spark, tA, dirA)
    val b = Pipeline.run(spark, tB, dirB)
    assert(a.turns === b.turns)
    assert(a.routes === b.routes) // per-sink counts identical
    val cvA = spark.read.parquet(s"$dirA/count_vectors/data")
      .select("conv_id", "event_id", "cnt").orderBy("conv_id", "event_id").collect()
    val cvB = spark.read.parquet(s"$dirB/count_vectors/data")
      .select("conv_id", "event_id", "cnt").orderBy("conv_id", "event_id").collect()
    assert(cvA === cvB)
  }

  /** Runs `f` with `listener` registered, every event before and during it
    * delivered.
    */
  def listening[A](listener: SparkListener)(f: => A): A = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try f finally {
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  test("every job Pipeline.run starts, on any thread, carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val dir = Files.createTempDirectory("graft-pipe-group").toString
    val t = Transcripts.synthetic(spark, 200, seed = 45L, partitions = 4)
    listening(listener) {
      sc.setJobGroup("pipeline-spec", "Pipeline.run under a caller's job group")
      try {
        Pipeline.run(spark, t, dir)
        assert(sc.getLocalProperty("spark.jobGroup.id") === "pipeline-spec")
      } finally sc.clearJobGroup()
    }
    val seen = groups.asScala.toSeq
    assert(seen.size > 10, s"only ${seen.size} jobs seen")
    assert(seen.forall(_ == "pipeline-spec"), seen.groupBy(identity).map { case (g, js) => g -> js.size })
  }

  // windows runs on the calling thread, count_vectors on the run's pool
  for ((bucketRoute, layout) <- layouts; failing <- Seq("windows", "count_vectors")) {
    test(s"a failing $failing stage: run throws once the stages beside it finished; a rerun resumes$layout") {
      val dir = Files.createTempDirectory("graft-pipe-fail").toString
      val t = Transcripts.synthetic(spark, 300, seed = 46L, partitions = 8)
      // the stage's output path is taken by a regular file: its write fails
      // at once while the other aggregate stages run beside it
      Files.writeString(Paths.get(s"$dir/$failing"), "not a directory")
      val jobEnds = new ConcurrentLinkedQueue[java.lang.Long]()
      val listener = new SparkListener {
        override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.time)
      }
      var thrownAt = 0L
      listening(listener) {
        intercept[Exception](Pipeline.run(spark, t, dir, bucketRoute = bucketRoute))
        thrownAt = System.currentTimeMillis()
      }
      assert(!jobEnds.isEmpty)
      assert(jobEnds.asScala.forall(_ <= thrownAt), "a job of the failed run ended after run threw")
      val done = Seq("parse", "route", "windows", "count_vectors").filter(_ != failing)
      done.foreach(s => assert(Router.isComplete(s"$dir/$s"), s"$s did not complete"))
      assert(!Router.isComplete(s"$dir/$failing"))

      def metricsTime(s: String) = Files.getLastModifiedTime(Paths.get(s"$dir/$s/_metrics.json"))
      val before = done.map(metricsTime)
      Files.delete(Paths.get(s"$dir/$failing"))
      val resumed = Pipeline.run(spark, t, dir, bucketRoute = bucketRoute)
      assert(done.map(metricsTime) === before, "a completed stage was recomputed")
      val clean = Pipeline.run(spark, t, Files.createTempDirectory("graft-pipe-clean").toString,
        bucketRoute = bucketRoute)
      assert(resumed === clean)
    }
  }

  /** The route rows `Pipeline.run` wrote into `dir`, columns in the twin's order. */
  def routedRows(dir: String, twin: DataFrame): DataFrame =
    spark.read.schema(twin.schema).parquet(s"$dir/route/data").select(twin.columns.map(col): _*)

  /** The route of a run over `t` holds exactly the rows of the broadcast
    * label twin, labels included, on both route layouts. */
  def assertRouteParity(t: DataFrame, name: String): Unit = layouts.foreach { case (bucketRoute, _) =>
    val dir = Files.createTempDirectory(s"graft-pipe-parity-$name").toString
    Pipeline.run(spark, t, dir, bucketRoute = bucketRoute)
    // the dictionary as a resumed run reads it back from the parse checkpoint
    val dict = spark.read.schema(Encoders.product[TemplateEntry].schema)
      .parquet(s"$dir/parse/data").as(Encoders.product[TemplateEntry])
      .collect().toVector.sorted(Drain.dictOrder)
    val twin = PipelineTwins.routeBroadcastLabels(t, dict)
    val routed = routedRows(dir, twin)
    assert(routed.exceptAll(twin).isEmpty, s"$name, bucketRoute=$bucketRoute: rows not in the twin")
    assert(twin.exceptAll(routed).isEmpty, s"$name, bucketRoute=$bucketRoute: twin rows not routed")
  }

  test("route rows equal the broadcast-label twin's (synthetic 8000 conversations)") {
    assertRouteParity(Transcripts.synthetic(spark, 8000, seed = 1L, partitions = 8), "synthetic")
  }

  test("route labels: null conv_id rows get 0 even beside a tool turn, as the twin's left join") {
    val sess = spark
    import sess.implicits._
    val ts = (i: Int) => new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = Seq(
      (Option("c1"), 0, "user", "open file a", Option.empty[String], ts(0)),
      (Option("c1"), 1, "tool", "read file b", Option("fs"), ts(1)),
      (Option("c2"), 0, "user", "open file c", Option.empty[String], ts(2)),
      (Option.empty[String], 0, "user", "open file d", Option.empty[String], ts(3)),
      (Option.empty[String], 1, "tool", "read file e", Option("fs"), ts(4)),
      (Option.empty[String], 2, "assistant", "read file f", Option.empty[String], ts(5)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assertRouteParity(t, "nulls")
    val dir = Files.createTempDirectory("graft-pipe-null-labels").toString
    Pipeline.run(spark, t, dir)
    val labels = spark.read.parquet(s"$dir/route/data")
      .select(col("conv_id"), col("turn_idx"), col("label")).as[(Option[String], Int, Int)]
      .collect().toSet
    assert(labels === Set((Some("c1"), 0, 1), (Some("c1"), 1, 1), (Some("c2"), 0, 0),
      (None, 0, 0), (None, 1, 0), (None, 2, 0)))
  }

  test("a salted count that disagrees with the route sink counts fails the run, naming both") {
    val dir = Files.createTempDirectory("graft-pipe-salted").toString
    val t = Transcripts.synthetic(spark, 200, seed = 49L, partitions = 4)
    Pipeline.run(spark, t, dir)
    // a route sidecar that no longer matches the files it describes
    val sinks = Router.readMetrics(s"$dir/route")
    val SinkMetrics(id, rows) = sinks.head
    Router.writeMetrics(s"$dir/route", SinkMetrics(id, rows + 1) +: sinks.tail)
    val e = intercept[IllegalStateException](Pipeline.run(spark, t, dir))
    assert(e.getMessage ===
      s"salted count SinkMetrics($id,$rows) != route sink count SinkMetrics($id,${rows + 1})")
  }
}
