package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** SemDeDup (cluster-bounded semantic dedup): the pinned tie-free semantics
  * on hand-computable inputs, the rule checked generically against a brute
  * recomputation, partition invariance, the loud cluster-size guard, and the
  * no-all-pairs plan shape.
  */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("single cluster: dup iff an earlier-(cent_cos,id) member is within tau; " +
       "the farthest-from-centroid member of a dup pair is kept") {
    // one tight blob (nLists=1 → everything in cluster 0); v0/v1 are a
    // near-identical pair, v2 sits apart (cos < tau to both)
    val vs = Seq(
      (0L, Seq(1.0f, 0.00f, 0.2f)),
      (1L, Seq(1.0f, 0.01f, 0.2f)),
      (2L, Seq(0.2f, 1.00f, 0.2f)))
    val out = Dedup.semDedup(vs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = 0.99, nLists = 1, iters = 2,
        quantizerSampleMod = 1L)
      .select("id", "cluster", "cent_cos", "is_dup")
      .as[(Long, Int, Double, Boolean)].collect().sortBy(_._1)
    assert(out.length === 3)
    assert(out.forall(_._2 == 0))
    val byId = out.map(r => r._1 -> r).toMap
    // exactly one of the near-dup pair is dropped, and it is the one RANKED
    // LATER by (cent_cos asc, id asc) — i.e. the one closer to the centroid
    val (kept, dropped) =
      if (byId(0L)._4) (byId(1L), byId(0L)) else (byId(0L), byId(1L))
    assert(!kept._4 && dropped._4)
    assert(kept._3 < dropped._3 || (kept._3 == dropped._3 && kept._1 < dropped._1),
      s"keeper must rank earlier: kept=$kept dropped=$dropped")
    assert(!byId(2L)._4, "the distinct vector must survive")
  }

  test("pinned rule holds generically: is_dup == exists earlier-ranked " +
       "same-cluster member within tau (brute recomputation)") {
    val rng = new scala.util.Random(11)
    val base = Array.fill(4)(Array.fill(8)(rng.nextGaussian()))
    val docs = (0L until 60L).map { i =>
      val c = base(rng.nextInt(4))
      (i, c.zipWithIndex.map { case (x, _) => (x + rng.nextGaussian() * 0.35).toFloat }.toSeq)
    }
    val tau = 0.9
    val out = Dedup.semDedup(docs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = tau, nLists = 4, iters = 2,
        quantizerSampleMod = 1L)
      .as[(Long, Int, Double, Boolean)].collect()
    assert(out.length === docs.length, "one output row per input")
    val vecs = docs.map { case (i, v) => i -> v.map(_.toDouble).toArray }.toMap
    out.groupBy(_._2).foreach { case (_, members) =>
      val ordered = members.sortBy(r => (r._3, r._1))
      ordered.zipWithIndex.foreach { case ((id, _, _, isDup), idx) =>
        val expected = ordered.take(idx).exists { case (aid, _, _, _) =>
          cos(vecs(aid), vecs(id)) >= tau
        }
        assert(isDup === expected, s"id=$id expected is_dup=$expected")
      }
    }
    assert(out.exists(_._4) && out.exists(!_._4),
      "fixture must exercise both verdicts")
  }

  test("partition invariance: 1 vs 16 input partitions") {
    val rng = new scala.util.Random(23)
    val docs = (0L until 80L).map(i =>
      (i, Array.fill(8)((rng.nextGaussian()).toFloat).toSeq))
    def run(parts: Int) =
      Dedup.semDedup(docs.toDF("vec_id", "embedding").repartition(parts),
          "vec_id", "embedding", tau = 0.5, nLists = 4, iters = 2,
          quantizerSampleMod = 1L)
        .as[(Long, Int, Double, Boolean)].collect().sortBy(_._1).toVector
    assert(run(1) === run(16))
  }

  test("oversized cluster fails LOUDLY (maxClusterSize guard fires on any " +
       "row-computing action)") {
    val docs = (0L until 6L).map(i => (i, Seq(1.0f, 0.1f * i)))
    // collect(), not count(): a bare count prunes the dup join entirely
    // (no output column is computed), and the guard rides the rank that
    // feeds is_dup — any action that computes actual rows evaluates it
    val ex = intercept[Exception] {
      Dedup.semDedup(docs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = 0.99, nLists = 1, iters = 1,
        quantizerSampleMod = 1L, maxClusterSize = 3L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("semDedup: cluster")),
      s"unexpected failure: $ex")
  }

  test("plan shape: within-cluster equi-join only — no cartesian / nested loop") {
    val docs = (0L until 40L).map(i => (i, Seq(i.toFloat, (i % 7).toFloat)))
    val plan = Dedup.semDedup(docs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = 0.9, nLists = 4, iters = 1,
        quantizerSampleMod = 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("plan shape: the cluster exchange carries the source array<float>, not the double cast") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val docs = (0L until 40L).map(i => (i, Seq(i.toFloat, (i % 7).toFloat)))
    val plan = Dedup.semDedup(docs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = 0.9, nLists = 4, iters = 1,
        quantizerSampleMod = 1L)
      .queryExecution.executedPlan
    def onCluster(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collectWithSubqueries {
      case e @ ShuffleExchangeExec(HashPartitioning(Seq(a: Attribute), _), _, _, _)
          if a.name == "cluster" => Seq(e)
      case a: AdaptiveSparkPlanExec => onCluster(a.executedPlan)
    }.flatten
    val exchanges = onCluster(plan)
    assert(exchanges.nonEmpty, s"no exchange on cluster:\n$plan")
    exchanges.foreach { e =>
      val elems = e.child.output.map(_.dataType).collect { case ArrayType(t, _) => t }
      assert(elems.contains(FloatType) && !elems.contains(DoubleType),
        s"the vector should cross at float width:\n$e")
    }
  }
}
