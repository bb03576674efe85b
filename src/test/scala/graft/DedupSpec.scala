package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Similarity

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Synthetic near-dup corpus: base docs + mutated copies. */
  def corpus = {
    val rng  = new scala.util.Random(5)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val bases = (0 until 30).map(i =>
      (0 until 30).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val toks = b.split(" ")
      // near-dup: mutate one token
      val mutated = toks.updated(rng.nextInt(toks.length), "OMEGA").mkString(" ")
      Seq((i.toLong * 3, b), (i.toLong * 3 + 1, b), (i.toLong * 3 + 2, mutated))
    }
    rows.toDF("doc_id", "text")
  }

  test("exact dedup: one row per distinct text, multiplicities conserved") {
    val e = Dedup.exact(corpus, "doc_id", "text")
    assert(e.count() === 60L) // 30 distinct bases (x2 copies) + 30 mutated
    assert(e.agg(sum("n_copies")).as[Long].head() === 90L)
    assert(e.filter(col("n_copies") === 2).count() === 30L)
  }

  test("minhash LSH finds every exact-duplicate pair and most near-dups") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.7,
      maxShingleDf = None)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3,
      numHashes = 24, bands = 12, tau = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // LSH verifies candidates with exact Jaccard → precision 1 by construction
    assert(lsh.subsetOf(exact))
    // identical pairs (jaccard 1.0) are always found (identical signatures)
    val identical = exact.filter { case (a, b) => b == a + 1 && a % 3 == 0 }
    assert(identical.subsetOf(lsh))
    // overall recall reasonable on this corpus
    assert(lsh.size.toDouble / exact.size >= 0.8,
      s"LSH recall ${lsh.size}/${exact.size}")
  }

  test("simhash: identical texts identical, near-dups within small hamming distance") {
    val df = corpus.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    (0 until 30).foreach { i =>
      assert(m(i * 3L) === m(i * 3L + 1)) // exact copies
      val hd = java.lang.Long.bitCount(m(i * 3L) ^ m(i * 3L + 2))
      assert(hd <= 16, s"near-dup hamming $hd too large") // 1-token mutation
    }
  }

  test("embedding cosine pairs: finds planted near-duplicate vectors") {
    val rng = new scala.util.Random(9)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    // plant near-dups: id+100 = slightly perturbed copy
    val rows = base ++ base.map { case (i, v) =>
      (i + 100, v.map(x => x + 0.01f * rng.nextFloat()))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 20).foreach(i => assert(pairs.contains((i.toLong, i + 100L))))
  }

  test("embedding LSH pairs: planted near-dups found, precision 1 vs brute force, exact cosines") {
    val rng = new scala.util.Random(9)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    val rows = base ++ base.map { case (i, v) =>
      (i + 100, v.map(x => x + 0.01f * rng.nextFloat()))
    }
    val df = rows.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingCosinePairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Dedup.embeddingLshPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // precision 1: every LSH pair is a true pair, with the EXACT cosine
    lsh.foreach { case (pair, c) =>
      assert(brute.contains(pair), s"false positive $pair")
      assert(brute(pair) === c, s"cosine mismatch for $pair")
    }
    // all planted near-dups (cos ≈ 1) recalled
    (0 until 20).foreach(i =>
      assert(lsh.contains((i.toLong, i + 100L)), s"planted near-dup $i missed"))
    assert(lsh.size.toDouble / brute.size >= 0.9, s"recall ${lsh.size}/${brute.size}")
  }

  test("simhash banded pairs: EXACTLY the brute-force hamming<=k pair set") {
    val k  = 10
    val fps = corpus.select(col("doc_id"), Dedup.simhash64(col("text")).as("fp"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      hd = java.lang.Long.bitCount(fa ^ fb) if hd <= k
    } yield (ia, ib, hd)).toSet
    val banded = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = k)
      .as[(Long, Long, Int)].collect().toSet
    assert(brute.nonEmpty, "corpus has no near-dup fingerprints — test is vacuous")
    assert(banded === brute) // complete by pigeonhole, no cap
  }

  test("ngram Jaccard with hot-shingle cap: jaccard stays exact, exact-dup pairs survive") {
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.7,
      maxShingleDf = None)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.7,
        maxShingleDf = Some(10))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // capping prunes CANDIDATES only; any surviving pair's jaccard is exact
    capped.foreach { case (pair, j) =>
      assert(uncapped.contains(pair) && uncapped(pair) === j)
    }
    // exact duplicates share every shingle → always meet on a sub-cap one
    val identical = uncapped.keySet.filter { case (a, b) => b == a + 1 && a % 3 == 0 }
    assert(identical.nonEmpty && identical.subsetOf(capped.keySet))
  }

  test("connectedComponents: min-id reps on chains, disjoint components, convergence") {
    // component A: chain 1-2-3-...-8 (diameter forces several rounds);
    // component B: triangle 20-21-22; singleton pairs 30-31
    val pairs = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 8L).foreach(i => assert(cc(i) === 1L, s"node $i"))
    Seq(20L, 21L, 22L).foreach(i => assert(cc(i) === 20L))
    assert(cc(30L) === 30L && cc(31L) === 30L)
    assert(cc.size === 13)
  }

  test("connectedComponents surfaces non-convergence instead of silently splitting groups") {
    // chain of diameter 9 with maxIter=2: min-id propagation cannot finish —
    // must throw, never return split groups that diverge from the transitive
    // closure oracle
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 2).collect()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("empty corpus: LSH dedup and ANN return empty results, not a crash") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingLshPairs(empty, "vec_id", "embedding", tau = 0.5).count() === 0L)
    val topk = Similarity.lshTopK(empty, "vec_id", "embedding", Seq(0L), 5)
    assert(topk.count() === 0L)
    assert(topk.columns === Array("qid", "rank", "neighbor_id", "cosine"))
    assert(Dedup.embeddingCosinePairs(empty, "vec_id", "embedding", 0.5).count() === 0L)
    val ivf = Similarity.ivfTopK(empty, "vec_id", "embedding", Seq(0L), 5)
    assert(ivf.count() === 0L)
    assert(ivf.columns === Array("qid", "rank", "neighbor_id", "cosine"))
    val sem = Dedup.semDedup(empty, "vec_id", "embedding", tau = 0.9)
    assert(sem.count() === 0L)
    assert(sem.columns === Array("id", "cluster", "cent_cos", "is_dup"))
  }

  test("ivfTopK: a sample mod that leaves a non-empty corpus no train row fails loudly") {
    val df = (0 until 20).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, "vec_id", "embedding", Seq(0L), 5,
        quantizerSampleMod = 1L << 62)
    }
    assert(err.getMessage.contains("quantizer train set is empty"))
  }

  test("keepRepresentatives: one survivor per group, uniques untouched") {
    val pairs  = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val groups = Dedup.connectedComponents(pairs)
    val docs   = (1L to 12L).toDF("doc_id")
    val kept = Dedup.keepRepresentatives(docs, groups, "doc_id")
      .as[Long].collect().toSet
    // group {1,2,3} → 1; group {10,11} → 10; 4..9, 12 unique → kept
    assert(kept === Set(1L, 10L) ++ (4L to 9L) + 12L)
  }

  test("ANN LSH: planted nearest neighbors always found; decent recall on random tail") {
    val rng = new scala.util.Random(13)
    def vec() = Array.fill(32)(rng.nextFloat() * 2 - 1)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    // plant a true near-neighbor (cos ≈ 1) for each query id 0..4
    val planted = (0 until 5).map { i =>
      val v = base(i)._2
      (500L + i, v.map(x => x + 0.001f))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val qids = (0L until 5L)
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", qids, 10,
      nPlanes = 4, tables = 12)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    // the planted twin is rank 1 for its query in both paths
    (0 until 5).foreach { i =>
      assert(brute.contains((i.toLong, 500L + i)))
      assert(lsh.contains((i.toLong, 500L + i)), s"planted NN missed for q$i")
    }
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"ANN recall $recall")
  }

  test("IVF ANN: planted nearest neighbors found; decent recall; deterministic") {
    val rng = new scala.util.Random(21)
    def vec() = Array.fill(16)(rng.nextFloat() * 2 - 1)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    val planted = (0 until 5).map { i => (500L + i, base(i)._2.map(_ + 0.001f)) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val qids = (0L until 5L)
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 10)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    def ivf() = Similarity.ivfTopK(df, "vec_id", "embedding", qids, 10,
      nLists = 8, nProbe = 4, iters = 2)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = ivf()
    // the planted twin lands in the same list as its query → always found
    (0 until 5).foreach(i => assert(a.contains((i.toLong, 500L + i)), s"planted NN missed q$i"))
    assert((brute intersect a).size.toDouble / brute.size >= 0.5)
    assert(ivf() === a) // deterministic across runs
  }

  test("ivfTopK with nProbe = nLists (all lists probed) is EXACTLY bruteForceTopK") {
    val rng = new scala.util.Random(34)
    val df = (0 until 240).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qids = (0L until 6L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val brute = rows(Similarity.bruteForceTopK(df, "vec_id", "embedding", qids, 7))
    val ivf = rows(Similarity.ivfTopK(df, "vec_id", "embedding", qids, 7,
      nLists = 8, nProbe = 8, iters = 2))
    assert(brute.size === 6 * 7)
    assert(ivf === brute)
  }

  test("snapshotDiff: added/removed/changed exact, unchanged dropped, equi-join plan") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c CHANGED"), (4L, "d")).toDF("id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "removed"), (3L, "changed"), (4L, "added")))
    val plan = Dedup.snapshotDiff(oldSnap, newSnap, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join shape:\n$plan")
  }
}
