package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.{Classifier, Dsir}

/** DSIR hashed importance selection: exact parity with a driver-side
  * recomputation of the add-1 smoothed log-ratio weights, rank/kept
  * semantics, partition independence, and the broadcast-only scoring plan.
  */
class DsirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val target = Seq("alpha alpha beta", "alpha gamma").toDF("text")
  private val pool = Seq(
    (1L, "alpha alpha alpha"), // target-like -> best weight
    (2L, "alpha zeta"),
    (3L, "zeta zeta zeta zeta"), // pool-only token -> worst weight
    (4L, "beta gamma"),
    (5L, "")                     // no tokens -> drops out
  ).toDF("doc_id", "text")

  test("weights match a driver-side recomputation; rank and kept are exact") {
    val B = Classifier.numBuckets
    def toks(t: String) = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val allToks = (Seq("alpha alpha beta", "alpha gamma") ++
      pool.select("text").as[String].collect()).flatMap(toks).distinct
    val bucket = allToks.toDF("g")
      .select(col("g"), xxhash64(col("g")).bitwiseAND(lit((B - 1).toLong)).as("b"))
      .as[(String, Long)].collect().toMap
    val tCnt = Seq("alpha alpha beta", "alpha gamma").flatMap(toks)
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val poolTexts = pool.as[(Long, String)].collect().toSeq
    val rCnt = poolTexts.flatMap(t => toks(t._2))
      .groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val tt = tCnt.values.sum; val rt = rCnt.values.sum
    def weight(text: String): (Long, Long) = {
      val ts = toks(text)
      val s = ts.map { w =>
        val b = bucket(w)
        val num = (tCnt.getOrElse(b, 0L) + 1) * (rt + B)
        val den = (rCnt.getOrElse(b, 0L) + 1) * (tt + B)
        math.round(math.log10(num.toDouble / den.toDouble) * 1e6)
      }.sum
      (ts.size.toLong, s)
    }
    val expected = poolTexts.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => id -> weight(t) }.toMap

    val got = Dsir.select(pool, target, "doc_id", "text", k = 2L)
      .select("doc_id", "n_feats", "weight_micro", "sel_rank", "kept")
      .as[(Long, Long, Long, Long, Int)].collect()
    assert(got.length === 4) // doc 5 dropped
    got.foreach { case (id, n, w, _, _) => assert((n, w) === expected(id)) }
    // rank = (weight desc, id asc) permutation; kept = rank <= 2
    val byRank = got.sortBy(_._4)
    assert(byRank.map(_._4).toSeq === Seq(1L, 2L, 3L, 4L))
    val ordered = expected.toSeq.sortBy { case (id, (_, w)) => (-w, id) }.map(_._1)
    assert(byRank.map(_._1).toSeq === ordered)
    assert(got.forall { case (_, _, _, r, kept) => kept === (if (r <= 2) 1 else 0) })
    // the target-heavy doc beats the pool-only doc
    assert(expected(1L)._2 > expected(3L)._2)
  }

  test("partition-independent; scoring joins broadcast; no window, no sort-merge join") {
    def run(p: org.apache.spark.sql.DataFrame) =
      Dsir.select(p, target, "doc_id", "text", k = 2L)
    val a = run(pool.repartition(1)).select("doc_id", "weight_micro", "sel_rank")
      .as[(Long, Long, Long)].collect().toSet
    val b = run(pool.repartition(13, col("doc_id")))
      .select("doc_id", "weight_micro", "sel_rank").as[(Long, Long, Long)].collect().toSet
    assert(a === b)
    // the scoring stage (pre-rank) is where the joins live — the rank stage
    // is RDD-backed by construction (Rank.globalRowNumber)
    val plan = Dsir.importanceWeights(pool, target, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast scoring joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
  }

  test("a LongType product past 2^63 fails loudly instead of wrapping") {
    val ops = Seq((3L, 5L), (Long.MaxValue / 2, 4L), (3L, Long.MaxValue), (3L, -1L))
      .toDF("c", "t").withColumn("t", when(col("t") === -1L, lit(null)).otherwise(col("t")))
    def product(df: org.apache.spark.sql.DataFrame) =
      df.select(Dsir.exactProduct(col("c"), col("t"), 4096L, "(c+1)·(t+B)"))
    // in range: the exact product; a null total stays null
    val ok = product(ops.filter(col("c") === 3L && (col("t") === 5L || col("t").isNull)))
      .as[Option[Long]].collect().toSet
    assert(ok === Set(Some(4L * 4101L), None))
    for (bad <- Seq(col("c") === Long.MaxValue / 2, col("t") === Long.MaxValue)) {
      val e = intercept[Exception](product(ops.filter(bad)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("dsir: (c+1)·(t+B) overflows LongType")), e)
    }
  }
}
