package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.agg.Features
import graft.enrich.Enrich
import graft.parse.{Drain, DrainConfig}
import graft.route.Router
import graft.sources.Transcripts
import graft.windows.Windows
import java.nio.file.{Files, Paths}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{ArrayType, StringType}

class RouterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-router").toString

  test("fanOut: union of per-sink counts == input count (router conservation)") {
    val df = (0 until 300).map(i => (s"r${i % 4}", i)).toDF("route", "v")
    val dir = tmp()
    val metrics = Router.fanOut(df, "route", dir)
    assert(metrics.map(_.rows).sum === 300L)
    assert(metrics.map(_.route).sorted === Seq("r0", "r1", "r2", "r3"))
    // routed-row equality: rows land in their route's partition directory
    val back = spark.read.parquet(s"$dir/data")
    assert(back.filter(col("route") =!= substring(col("route"), 1, 2)).count() === 0L)
    assert(back.count() === 300L)
  }

  test("fanOut with train dedup dedups only the requested columns") {
    val df = Seq(("t", "a b"), ("t", "a b"), ("t", "c"), ("u", "a b"), ("u", "a b"))
      .toDF("route", "seq")
    val dir = tmp()
    // dedup applies to the whole frame pre-routing (train semantics,
    // dataset/data_process.py:163-176): distinct (route, seq)
    val metrics = Router.fanOut(df, "route", dir, train = true, dedupCols = Seq("route", "seq"))
    assert(metrics.map(m => m.route -> m.rows).toMap === Map("t" -> 2L, "u" -> 1L))
  }

  test("fanOut handles high-cardinality routing (500 sinks) with conservation + lineage") {
    val df = (0 until 5000).map(i => (s"r${i % 500}", i)).toDF("route", "v")
    val dir = tmp()
    val metrics = Router.fanOut(df, "route", dir)
    assert(metrics.size === 500)
    assert(metrics.map(_.rows).sum === 5000L)
    assert(metrics.forall(_.rows == 10L))
    val lineage = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_lineage.json")))
    assert(lineage.contains("\"input_digest\""))
    assert("\"files\":".r.findAllIn(lineage).size === 500)
  }

  test("fanOut co-locates routes: one file per route, not one per task per route") {
    // 8 input partitions × 4 routes would be up to 32 files without the
    // pre-write rebalance; with it each route lands in exactly one task
    val df = (0 until 800).map(i => (s"r${i % 4}", i)).toDF("route", "v").repartition(8)
    val dir = tmp()
    Router.fanOut(df, "route", dir)
    (0 until 4).foreach { r =>
      val files = new java.io.File(s"$dir/data/route=r$r")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"route r$r fanned out to $files files")
    }
  }

  test("fanOut colocate=false (low-cardinality): no rebalance shuffle, bounded files, conservation") {
    val df = (0 until 800).map(i => (s"r${i % 3}", i)).toDF("route", "v").repartition(6)
    val dir = tmp()
    val metrics = Router.fanOut(df, "route", dir, colocate = false)
    assert(metrics.map(_.rows).sum === 800L)
    assert(metrics.map(_.route).sorted === Seq("r0", "r1", "r2"))
    (0 until 3).foreach { r =>
      val files = new java.io.File(s"$dir/data/route=r$r")
        .listFiles().count(_.getName.endsWith(".parquet"))
      // bounded by the 6 input tasks — parallel write, no per-task explosion
      assert(files >= 1 && files <= 6, s"route r$r written as $files files")
    }
  }

  test("fanOut counts: metadata-only read-back, digit-only routes stay strings") {
    val df = (0 until 90).map(i => (f"00${i % 3}%d", i)).toDF("route", "v")
    val dir = tmp()
    val metrics = Router.fanOut(df, "route", dir)
    // leading zeros survive: partition values are NOT inferred as integers
    assert(metrics.map(_.route).sorted === Seq("000", "001", "002"))
    // the per-sink count aggregate needs zero data columns — partition
    // values come from directory names, row counts from parquet footers
    val written = spark.read.schema(df.schema).parquet(s"$dir/data")
    val counts = written.groupBy(col("route")).count()
    counts.collect()
    val scan = counts.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<>"), s"counts scan reads data pages:\n$scan")
  }

  test("fanOutBucketed: conservation, exchange-free conv aggregate, restart re-registration") {
    val df = (0 until 600).map(i => (s"conv${i % 37}", i, s"e${i % 4}"))
      .toDF("conv_id", "v", "event_id").repartition(7)
    val dir = tmp()
    val table = "graft_route_testbkt"
    val metrics = Router.fanOutBucketed(df, "event_id", "conv_id", 8, dir, table)
    assert(metrics.map(_.rows).sum === 600L)
    assert(metrics.map(_.route).sorted === Seq("e0", "e1", "e2", "e3"))

    // the catalog bucket spec makes a conv_id aggregate exchange-free
    val agg = spark.table(table).groupBy(col("conv_id")).count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed read still shuffles:\n$plan")

    // restart: a fresh session has no catalog entry — re-register + recover.
    // The bucket count is NOT passed in: it must come from _lineage.json (a
    // resumed session with different parallelism would otherwise declare a
    // wrong CLUSTERED BY spec).
    spark.sql(s"DROP TABLE $table")
    assert(Router.lineageBuckets(dir) === Some(8))
    val registered =
      Router.ensureBucketedTable(spark, table, df.schema, "event_id", "conv_id", dir)
    assert(registered === 8)
    val back = spark.table(table)
    assert(back.count() === 600L)
    assert(back.schema("event_id").dataType === org.apache.spark.sql.types.StringType)
    val agg2 = back.groupBy(col("conv_id")).count()
    agg2.collect()
    assert(!agg2.queryExecution.executedPlan.toString.contains("Exchange"),
      "re-registered table lost the bucket spec")

    // a pinned count that disagrees with the written layout must error, not
    // silently re-declare
    spark.sql(s"DROP TABLE $table")
    val mismatch = intercept[IllegalStateException] {
      Router.ensureBucketedTable(spark, table, df.schema, "event_id", "conv_id",
        dir, expectedBuckets = Some(16))
    }
    assert(mismatch.getMessage.contains("written with 8 buckets"))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("ensureBucketedTable refuses a non-bucketed prior layout") {
    val df = (0 until 60).map(i => (s"conv${i % 5}", i, s"e${i % 2}"))
      .toDF("conv_id", "v", "event_id")
    val dir = tmp()
    Router.fanOut(df, "event_id", dir) // PLAIN layout — no bucket spec
    assert(Router.lineageBuckets(dir) === None)
    val err = intercept[IllegalStateException] {
      Router.ensureBucketedTable(spark, "graft_route_plainbkt", df.schema,
        "event_id", "conv_id", dir)
    }
    assert(err.getMessage.contains("not written as a bucketed route store"))
  }

  test("stage: checkpoint-resume skips completed stages, outputs identical") {
    val dir = tmp()
    var computed = 0
    def run() = Router.stage(spark, dir) {
      computed += 1
      (0 until 50).map(i => (i, i * 2)).toDF("a", "b")
    }
    val first  = run().orderBy("a").collect()
    val second = run().orderBy("a").collect() // must not recompute
    assert(computed === 1)
    assert(first === second)
    assert(Router.isComplete(dir))
  }

  test("stageWithCount: each pipeline stage reads back with the schema parquet inference gives") {
    val dir = tmp()
    val cfg = DrainConfig(depth = 4, st = 0.4)
    val t = Transcripts.synthetic(spark, 80, seed = 5L, partitions = 4)
    val dict = Drain.mine(t, "text", cfg)
    // the four stage outputs of Pipeline.run, built through the same layers
    val (parsed, _) = Router.stageWithCount(spark, s"$dir/parse") {
      Drain.matchEventIds(t, "text", dict, cfg)
        .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id")
    }
    val (labels, _) = Router.stageWithCount(spark, s"$dir/labels") {
      t.groupBy(col("conv_id"))
        .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
    }
    val enriched = Enrich.convLabels(parsed, labels)
    val (windows, _) = Router.stageWithCount(spark, s"$dir/windows") {
      Windows.sessionGroup(enriched, labelCol = Some("label"))
        .withColumn("label", element_at(col("labels"), 1))
        .drop("labels")
    }
    val (cv, _) = Router.stageWithCount(spark, s"$dir/count_vectors") {
      Features.tfidf(Features.countVectors(enriched, Seq("conv_id")), Seq("conv_id"))
    }
    assert(windows.schema("events").dataType.isInstanceOf[ArrayType])
    assert(windows.schema("events").dataType.asInstanceOf[ArrayType].elementType === StringType)
    Seq("parse" -> parsed, "labels" -> labels, "windows" -> windows, "count_vectors" -> cv)
      .foreach { case (stage, fresh) =>
        val inferred = spark.read.parquet(s"$dir/$stage/data").schema
        assert(fresh.schema === inferred, stage)
        val (resumed, _) = Router.stageWithCount(spark, s"$dir/$stage")(fail(s"$stage recomputed"))
        assert(resumed.schema === inferred, stage)
      }
  }

  test("stageWithCount: no schema-inference job, fresh or resumed with _schema.json") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(f: => Any): Int = {
      TestListenerBus.drain(sc)
      jobs.set(0)
      f
      TestListenerBus.drain(sc)
      jobs.get
    }
    val df = (0 until 100).map(i => (s"c${i % 7}", i)).toDF("conv_id", "v").repartition(3)
    val (dir, other) = (tmp(), tmp())
    sc.addSparkListener(listener)
    try {
      // the jobs of the write plus a count over a declared-schema read
      val writeAndCount = jobsOf {
        df.write.parquet(s"$other/data")
        spark.read.schema(Router.readSchema(df.schema)).parquet(s"$other/data").count()
      }
      assert(jobsOf(Router.stageWithCount(spark, dir)(df)) === writeAndCount)
      def resume() = Router.stageWithCount(spark, dir)(fail("completed stage recomputed"))
      assert(jobsOf(resume()) === 0)
      Files.delete(Paths.get(s"$dir/_schema.json"))
      assert(jobsOf(resume()) >= 1) // without the sidecar the read infers
    } finally sc.removeSparkListener(listener)
  }

  test("stageWithCount: a resumed stage reads the same rows with and without _schema.json") {
    val dir = tmp()
    val (fresh, n) = Router.stageWithCount(spark, dir) {
      (0 until 40).map(i => (s"c${i % 5}", i.toLong, Seq(s"e$i", "007"), f"${i % 3}%03d"))
        .toDF("conv_id", "n", "seq", "code")
    }
    assert(n === 40L)
    val rows = fresh.orderBy("n").collect()
    def resumed() = Router.stageWithCount(spark, dir)(fail("completed stage recomputed"))
    val (withSidecar, n1) = resumed()
    Files.delete(Paths.get(s"$dir/_schema.json")) // the layout before the sidecar existed
    val (inferred, n2) = resumed()
    assert(n1 === 40L && n2 === 40L)
    assert(withSidecar.schema === inferred.schema)
    assert(withSidecar.orderBy("n").collect() === rows)
    assert(inferred.orderBy("n").collect() === rows)
  }
}
