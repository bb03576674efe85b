package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.agg.Sketches

/** Grouped/mergeable KMV: fused-vs-composed parity, per-group exactness
  * below k, partition invariance (which exercises the TypedImperativeAggregate
  * serialize/merge path through real partial aggregation), and the merge law
  * sketch(A ∪ B) == merge(sketch(A), sketch(B)).
  */
class KmvGroupedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def composed(h: Column, k: Int): Column =
    transform(
      slice(sort_array(collect_set(h.bitwiseXOR(lit(Long.MinValue)))), 1, k),
      x => x.bitwiseXOR(lit(Long.MinValue)))

  private def fixture = {
    val rng = new scala.util.Random(17)
    // duplicates on purpose; group sizes straddle k in the tests below
    (0 until 3000).map { i =>
      (s"g${i % 7}", if (i % 41 == 0) null else s"v${rng.nextInt(400)}")
    }.toDF("g", "v")
  }

  test("fused graft_kmv == composed collect_set fallback (duplicates + null hashes)") {
    val df = fixture
    val h = when(col("v").isNotNull, xxhash64(col("v"))) // null hash for null v
    val fused = df.groupBy("g")
      .agg(Sketches.bottomKHashes(h, 16).as("s"))
      .as[(String, Seq[Long])].collect().toMap
    val fall = df.groupBy("g")
      .agg(composed(h, 16).as("s"))
      .as[(String, Seq[Long])].collect().toMap
    assert(fused === fall)
    assert(fused.values.forall(_.nonEmpty))
  }

  test("kmvDistinctBy is exact below k and matches kmvDistinct on a single group") {
    val small = (0 until 50).flatMap(i => Seq(("a", s"x$i"), ("b", s"y${i % 20}")))
      .toDF("g", "v")
    val got = Sketches.kmvDistinctBy(small, Seq("g"), "v", k = 64)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("a")._2 === 50L && got("a")._4 === 50.0)
    assert(got("b")._2 === 20L && got("b")._4 === 20.0)

    val docs = (0 until 5000).map(i => s"value-$i").toDF("text")
    val global = Sketches.kmvDistinct(docs, "text", k = 64).collect()(0)
    val viaGroup = Sketches.kmvDistinctBy(
        docs.withColumn("g", lit("all")), Seq("g"), "text", k = 64).collect()(0)
    assert(viaGroup.getLong(1) === global.getLong(0))
    assert(viaGroup.getLong(2) === global.getLong(1))
    assert(viaGroup.getDouble(3) === global.getDouble(2))
  }

  test("partition invariance: 1 vs 13 partitions (drives serialize + merge of partial buffers)") {
    val df = fixture
    def run(n: Int) = Sketches.kmvDistinctBy(df.repartition(n), Seq("g"), "v", k = 32)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(run(1) === run(13))
  }

  test("merge law: merge(sketch(A), sketch(B)) == sketch(A union B), incl. groups only in one side") {
    val df = fixture.filter(col("v").isNotNull)
      .withColumn("half", xxhash64(col("v")) % 2 === 0)
    val a = df.filter(col("half")).drop("half")
    val b = df.filter(!col("half")).drop("half")
    // group g_only lives exclusively in A
    val aPlus = a.union(Seq(("g_only", "solo1"), ("g_only", "solo2")).toDF("g", "v"))
    val k = 24
    val merged = Sketches.kmvMergeSketches(
        Sketches.kmvSketchBy(aPlus, Seq("g"), "v", k)
          .union(Sketches.kmvSketchBy(b, Seq("g"), "v", k)),
        Seq("g"), "kmv_sketch", k)
      .as[(String, Seq[Long])].collect().toMap
    val direct = Sketches.kmvSketchBy(aPlus.union(b), Seq("g"), "v", k)
      .as[(String, Seq[Long])].collect().toMap
    assert(merged === direct)
    assert(merged("g_only") === direct("g_only"))
  }

  test("seeded fuzz: fused == fallback across random k, group counts, skew, null rates") {
    val rng = new scala.util.Random(4242)
    (1 to 4).foreach { round =>
      val k = 2 + rng.nextInt(40)
      val nGroups = 1 + rng.nextInt(9)
      val card = 1 + rng.nextInt(300)
      val nullPct = rng.nextInt(30)
      val rows = (0 until 1500).map { _ =>
        (s"g${rng.nextInt(nGroups)}",
          if (rng.nextInt(100) < nullPct) null
          else s"v${(rng.nextGaussian().abs * card).toInt}") // skewed values
      }
      val df = rows.toDF("g", "v").repartition(1 + rng.nextInt(7))
      val h = when(col("v").isNotNull, xxhash64(col("v")))
      val fused = df.groupBy("g").agg(call_function("graft_kmv", h, lit(k)).as("s"))
        .as[(String, Seq[Long])].collect().toMap
      val fall = df.groupBy("g").agg(composed(h, k).as("s"))
        .as[(String, Seq[Long])].collect().toMap
      assert(fused === fall, s"round=$round k=$k groups=$nGroups card=$card nulls=$nullPct%")
    }
  }

  test("sketch shuffle stays narrow: plan carries the k-bounded aggregate, not the values") {
    val df = fixture
    val plan = Sketches.kmvSketchBy(df, Seq("g"), "v", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_kmv"), s"expected the fused aggregate in the plan:\n$plan")
    assert(!plan.contains("collect_set"), s"the unbounded collect_set form was planned:\n$plan")
    // map-side partial aggregation: the pre-shuffle side must carry the
    // k-bounded buffer (partial_graft_kmv), so the exchange ships k longs
    // per (task, group), never the input hashes
    assert(plan.contains("partial_graft_kmv"), s"no map-side partial agg:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
  }

  test("kmvJaccardPairs: exact below k, identical/disjoint/overlap groups") {
    // below k the sketch IS the value set, so the combine is exact Jaccard
    val df = (
      (0 until 30).map(i => ("a", s"v$i")) ++          // a = {0..29}
      (0 until 30).map(i => ("b", s"v$i")) ++          // b == a
      (30 until 60).map(i => ("c", s"v$i")) ++         // c disjoint from a/b
      (15 until 45).map(i => ("d", s"v$i"))            // d overlaps both halves
    ).toDF("g", "v")
    val got = Sketches.kmvJaccardPairs(
        Sketches.kmvSketchBy(df, Seq("g"), "v", 64), "g", "kmv_sketch", 64)
      .select("g1", "g2", "j_num", "j_den", "jacc", "est_union")
      .as[(String, String, Long, Long, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.size === 6)
    val ab = got(("a", "b")); val ac = got(("a", "c")); val ad = got(("a", "d"))
    assert((ab._3, ab._4, ab._5, ab._6) === ((30L, 30L, 1.0, 30.0)))
    assert((ac._3, ac._4, ac._5, ac._6) === ((0L, 60L, 0.0, 60.0)))
    // |a ∩ d| = 15, |a ∪ d| = 45 → 1/3
    assert((ad._3, ad._4, ad._6) === ((15L, 45L, 45.0)))
    assert(math.abs(ad._5 - 0.333333) < 1e-9)
  }

  test("kmvJaccardPairs plan: pair join is broadcast over GROUP rows, sketch agg stays bounded") {
    val df = (0 until 600).map(i => (s"g${i % 5}", s"v${i % 97}")).toDF("g", "v")
    val plan = Sketches.kmvJaccardPairs(
        Sketches.kmvSketchBy(df, Seq("g"), "v", 16), "g", "kmv_sketch", 16)
      .queryExecution.executedPlan.toString
    // the only acceptable nested-loop is over the one-row-per-GROUP sketch
    // side (g1 < g2 is a non-equi pair join by design) — and it must be
    // broadcast, never a shuffled cartesian over row-level data
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast pair join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"shuffled cartesian crept in:\n$plan")
    assert(plan.contains("graft_kmv"), s"bounded sketch aggregate missing:\n$plan")
  }

  test("kmvJaccardPairs above k: j_den capped at k, estimator tracks true union") {
    val df = (
      (0 until 400).map(i => ("x", s"v$i")) ++
      (200 until 600).map(i => ("y", s"v$i"))          // true J = 200/600
    ).toDF("g", "v")
    val k = 64
    val r = Sketches.kmvJaccardPairs(
        Sketches.kmvSketchBy(df, Seq("g"), "v", k), "g", "kmv_sketch", k)
      .select("g1", "g2", "j_num", "j_den", "jacc", "est_union")
      .as[(String, String, Long, Long, Double, Double)].collect()
    assert(r.length === 1)
    val (_, _, num, den, jacc, est) = r.head
    assert(den === k.toLong)
    assert(num > 0 && num < den)
    assert(jacc === math.rint(num.toDouble / den * 1e6) / 1e6 ||
      math.abs(jacc - num.toDouble / den) < 1e-6)
    assert(est > 400 && est < 900, s"union estimate $est far from 600")
  }
}
