package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.agg.Sketches

/** Count-Min sketch: fused-vs-composed cell parity, partition invariance
  * (drives the TypedImperativeAggregate serialize/merge path), the merge law
  * at the DataFrame level (element-wise add of shard sketches == one-pass
  * sketch), the point-estimate upper bound, and the plan shape (bounded
  * partial aggregation, never the unbounded composed form).
  */
class CmsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val D = 4
  private val W = 32

  private def fixture = {
    val rng = new scala.util.Random(23)
    // skewed vocab with duplicates and some nulls
    (0 until 4000).map { i =>
      (s"g${i % 5}",
        if (i % 53 == 0) null
        else s"w${(rng.nextGaussian().abs * 60).toInt}")
    }.toDF("g", "v")
  }

  private def cellSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Int, Int, Long)].collect().toSet

  test("fused graft_cms cells == composed explode/count twin (nulls skipped)") {
    val df = fixture
    val fused = cellSet(Sketches.cmsCells(
      Sketches.cmsSketchBy(df, Seq("g"), "v", D, W), Seq("g"), D, W))
    val composed = cellSet(graft.agg.SketchesTwins.cmsCellsComposed(df, Seq("g"), "v", D, W))
    assert(fused === composed)
    assert(fused.nonEmpty)
  }

  test("partition invariance: 1 vs 13 partitions (serialize + merge of partial grids)") {
    val df = fixture
    def run(n: Int) = cellSet(Sketches.cmsCells(
      Sketches.cmsSketchBy(df.repartition(n), Seq("g"), "v", D, W), Seq("g"), D, W))
    assert(run(1) === run(13))
  }

  test("merge law: element-wise add of shard sketches == one-pass sketch, incl. one-sided groups") {
    val df = fixture.filter(col("v").isNotNull)
      .withColumn("half", xxhash64(col("v")) % 2 === 0)
    val a = df.filter(col("half")).drop("half")
      .union(Seq(("g_only", "solo1"), ("g_only", "solo2")).toDF("g", "v"))
    val b = df.filter(!col("half")).drop("half")
    val merged = cellSet(Sketches.cmsCells(
      Sketches.cmsMergeSketches(
        Sketches.cmsSketchBy(a, Seq("g"), "v", D, W)
          .union(Sketches.cmsSketchBy(b, Seq("g"), "v", D, W)),
        Seq("g"), D, W),
      Seq("g"), D, W))
    val direct = cellSet(Sketches.cmsCells(
      Sketches.cmsSketchBy(a.union(b), Seq("g"), "v", D, W), Seq("g"), D, W))
    assert(merged === direct)
    assert(merged.exists(_._1 == "g_only"))
  }

  test("point estimate never undercounts; exact when a probe's cells are collision-free") {
    // tiny vocab << W so most probes are collision-free in at least one row
    val df = Seq.tabulate(300)(i => ("g0", s"t${i % 6}")).toDF("g", "v")
    val sk = Sketches.cmsSketchBy(df, Seq("g"), "v", D, W)
    val probes = Seq("t0", "t3", "absent").toDF("p")
    val est = Sketches.cmsEstimate(sk, Seq("g"), probes, "p", D, W)
      .as[(String, String, Long)].collect().map(r => r._2 -> r._3).toMap
    val exact = df.groupBy("v").count().as[(String, Long)].collect().toMap
    assert(est("t0") >= exact("t0"))
    assert(est("t3") >= exact("t3"))
    assert(est("absent") >= 0L)
    // 6 distinct tokens into 4x32 cells: expect exactness here (collisions
    // would need two of 6 tokens agreeing in EVERY row)
    assert(est("t0") === exact("t0") && est("t3") === exact("t3"))
  }

  test("seeded fuzz: fused == composed across random d, w, group counts, null rates") {
    val rng = new scala.util.Random(1717)
    (1 to 3).foreach { round =>
      val d = 1 + rng.nextInt(5)
      val w = 1 << (1 + rng.nextInt(6))
      val nGroups = 1 + rng.nextInt(6)
      val nullPct = rng.nextInt(25)
      val rows = (0 until 1200).map { _ =>
        (s"g${rng.nextInt(nGroups)}",
          if (rng.nextInt(100) < nullPct) null
          else s"w${(rng.nextGaussian().abs * 80).toInt}")
      }
      val df = rows.toDF("g", "v").repartition(1 + rng.nextInt(7))
      val fused = cellSet(Sketches.cmsCells(
        Sketches.cmsSketchBy(df, Seq("g"), "v", d, w), Seq("g"), d, w))
      val composed = cellSet(graft.agg.SketchesTwins.cmsCellsComposed(df, Seq("g"), "v", d, w))
      assert(fused === composed, s"round=$round d=$d w=$w groups=$nGroups nulls=$nullPct%")
    }
  }

  test("rejects non-power-of-two w and non-literal params") {
    val df = fixture
    intercept[IllegalArgumentException] {
      Sketches.cmsSketchBy(df, Seq("g"), "v", d = 4, w = 48)
    }
    intercept[IllegalArgumentException] {
      Sketches.cmsSketchBy(df, Seq("g"), "v", d = 0, w = 32)
    }
  }

  test("plan: bounded partial aggregation ships d*w longs per group, no fallback") {
    val plan = Sketches.cmsSketchBy(fixture, Seq("g"), "v", D, W)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_cms"), s"expected the fused aggregate:\n$plan")
    assert(plan.contains("partial_graft_cms"), s"no map-side partial agg:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(!plan.contains("posexplode"), s"composed twin crept in:\n$plan")
  }
}
