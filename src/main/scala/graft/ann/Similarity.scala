package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{HyperplaneBucketsAll, NearestCentroid}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k (correctness oracle).
  * Scale path: LSH sign-bucket candidate generation — deterministic
  * pseudo-random hyperplanes derived from a seed (no RNG at plan time),
  * bucket equi-join instead of the full cross product.
  */
object Similarity {

  /** The `(id, v)` frame: vector cast from float to double. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))

  /** [[vectors]] + its L2 norm: the `(id, v, norm)` frame of every cosine path. */
  private[graft] def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors(df, idCol, vecCol)
      .withColumn("norm", graft.expr.VectorFunctions.norm(col("v")))

  def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    graft.expr.VectorFunctions.dot(va, vb) / (na * nb)

  /** The empty-corpus result: no rows, the contract schema
    * `(qid, rank, neighbor_id, scoreCol)`. */
  private def emptyTopK(base: DataFrame, scoreCol: String): DataFrame =
    base.select(col("id").as("qid"), lit(1).as("rank"),
      col("id").as("neighbor_id"), lit(0.0).as(scoreCol)).limit(0)

  /** The per-query tail every top-k path shares: rank the scored candidates
    * of each `qid` by (`order`, id asc), keep rank <= k. */
  private def topK(scored: DataFrame, order: Column, k: Int,
                   scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(order, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"), col(scoreCol))
  }

  /** Exact brute-force cosine top-k: for each query vector (ids in
    * `queryIds`), the k nearest corpus vectors (self excluded), ranked by
    * (rounded cosine desc, id asc) — rounding pins the float tie-break.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val base    = withNorm(df, idCol, vecCol)
    val queries = base.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = base.join(broadcast(queries), col("id") =!= col("qid"))
      .withColumn("cosine", round(cosine(col("qv"), col("v"), col("qnorm"), col("norm")), 4))
    topK(scored, col("cosine").desc, k, "cosine")
  }

  /** Deterministic pseudo-random hyperplane matrix (nPlanes × dim), values
    * in [-1, 1) from a splitmix64-style mix of (seed, plane, dim) — computed
    * ONCE driver-side and embedded as array literals. The per-row bucket work
    * is then pure multiply-adds; the previous formulation evaluated a hash
    * EXPRESSION per (plane × element × row) inside nested higher-order
    * functions, which dominated the whole LSH-dedup query (measured ~4× the
    * verify join at sf0.1).
    */
  private[graft] def planeMatrix(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      var z = seed + p * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      z.toDouble / Long.MaxValue.toDouble
    }

  /** DuckDB CTE computing EXACTLY [[planeMatrix]]'s weights for every
    * (table, plane, dim) triple — the cross-engine oracle for the LSH paths.
    * Keep in lockstep with [[planeMatrix]]: same splitmix64 constants, same
    * signed-to-double conversion.
    *
    * DuckDB has no wrapping 64-bit multiply (BIGINT overflow errors), so the
    * arithmetic runs in HUGEINT mod 2^64 with a 32-bit-split mulmod; XOR and
    * shifts route through UBIGINT. The final HUGEINT→DOUBLE cast goes via
    * BIGINT because DuckDB's direct HUGEINT→DOUBLE conversion is NOT
    * correctly rounded (measured: 9/3072 values off by one ulp), while
    * BIGINT→DOUBLE matches the JVM's round-to-nearest Long.toDouble.
    * 9.223372036854775808e18 is Long.MaxValue.toDouble (2^63 — MaxValue
    * itself is not representable).
    *
    * Emits `<name> AS (SELECT t, p, plane ...)` with `plane` a dim-length
    * DOUBLE list ordered by dimension, for tables t in [0, tables) seeded
    * `seed + t * 7919` (the table seeding both LSH call sites use).
    */
  def planeWeightsSqlCte(name: String, tables: Int, nPlanes: Int, dim: Int,
                         seed: Long = 42L): String = {
    val M = "18446744073709551616" // 2^64
    val A = "11400714819323198485" // 0x9E3779B97F4A7C15
    val B = "13787848793156543929" // 0xBF58476D1CE4E5B9
    val C = "10723151780598845931" // 0x94D049BB133111EB
    def mulmod(a: String, b: String) =
      s"((($a) % 4294967296) * $b + (((($a) // 4294967296) * ($b % 4294967296)) % 4294967296) * 4294967296) % $M"
    def xorShift(a: String, k: Int) =
      s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($a) // ${1L << k} AS UBIGINT)) AS HUGEINT)"
    s"""$name AS (
       |  SELECT t, p, list(w ORDER BY d) AS plane FROM (
       |    SELECT t, p, d,
       |      (CAST($seed + t*7919 AS HUGEINT) + p*$A + d*$B) % $M AS z0,
       |      ${mulmod(xorShift("z0", 30), B)} AS z1,
       |      ${mulmod(xorShift("z1", 27), C)} AS z2,
       |      ${xorShift("z2", 31)} AS z3,
       |      CAST(CAST(CASE WHEN z3 >= 9223372036854775808 THEN z3 - $M ELSE z3 END AS BIGINT) AS DOUBLE)
       |        / 9.223372036854775808e18 AS w
       |    FROM range(0,$tables) tt(t), range(0,$nPlanes) pp(p), range(0,$dim) dd(d))
       |  GROUP BY t, p)""".stripMargin
  }

  /** All `tables` LSH sign-bucket ids at once as `array<long>`: per table,
    * `nPlanes` sign bits of projections onto the seeded hyperplanes
    * (table-seeded `seed + t*7919` like every LSH call site), packed into a
    * long; vectors in the same bucket are near-duplicate candidates. `dim`
    * fixes the hyperplane matrix at plan time (callers detect it from the
    * first row — vectors are fixed-width). Bit-identical to
    * `array(tables × hyperplaneBuckets)` (the composed test twin) but ONE
    * plan node instead of a tables·nPlanes·dim-literal forest: whole-stage
    * codegen over the composed form dominated both LSH queries (~3 s/run
    * regenerating the giant stage; see [[graft.expr.HyperplaneBucketsAll]];
    * ExprSpec pins the parity).
    */
  def hyperplaneBucketsAll(vec: Column, nPlanes: Int, tables: Int, dim: Int,
                           seed: Long = 42L): Column = {
    val flat: Seq[Seq[Double]] = (0 until tables).flatMap(t =>
      planeMatrix(nPlanes, dim, seed + t * 7919L).toSeq.map(_.toSeq))
    column(HyperplaneBucketsAll(expression(vec), expression(typedlit(flat)),
      expression(lit(nPlanes))))
  }

  /** Fixed vector width of `vecCol`, read from the first row (one tiny job);
    * None on an empty corpus (callers short-circuit to an empty result
    * instead of crashing — the brute-force paths already return empty).
    */
  private[graft] def detectDim(df: DataFrame, vecCol: String): Option[Int] =
    df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0))

  /** Quantizer train set bound used by the auto sampling mode (~256k rows —
    * plenty for a coarse quantizer of ≤ thousands of lists, small enough to
    * cache on one executor's worth of memory). */
  val IvfAutoTrainTarget: Long = 1L << 18

  /** AUTO quantizer sampling: order-of-magnitude row estimate from planner
    * stats (NO job runs). rowCount is present under CBO / for exact sources;
    * otherwise estimate from sizeInBytes at ~256 B/row (a 64-float embedding
    * row) — being 4x off either way still lands the train set in a safe
    * [64k, 1M] band, and tiny corpora resolve to mod=1 (full-corpus
    * training, identical to the pinned oracle semantics). */
  private[graft] def autoSampleMod(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    // Sources with NO size estimate (RDD-backed frames, some non-file
    // sources) report the defaultSizeInBytes sentinel (Long.MaxValue) — and
    // plan nodes ABOVE such a source report sentinel-DERIVED values (e.g. a
    // Project scales the sentinel by the column-size ratio), so an equality
    // check misses them. Anything beyond 2^60 bytes (an exabyte — no real
    // corpus) is sentinel arithmetic, not a measurement: treat as unknown =
    // train on the full corpus (mod=1, the pinned-oracle semantics);
    // callers with a known-huge statless source must pass an explicit
    // quantizerSampleMod.
    val estRows: Long = stats.rowCount.map(_.toLong).getOrElse {
      if (stats.sizeInBytes >= BigInt(1L << 60)) 1L
      else (stats.sizeInBytes / 256).toLong max 1L
    }
    math.max(1L, estRows / IvfAutoTrainTarget)
  }

  /** IVF (inverted-file) ANN — the second scale path: a deterministic
    * k-means-lite coarse quantizer (seeded hash-ranked init, fixed
    * iterations; [[trainCodebooks]] at numSub=1), cluster assignment via
    * broadcast centroids, search probes the `nProbe` nearest lists and
    * re-ranks exactly inside them. Centroids are tiny (nLists × dim) → every
    * per-row step is a broadcast lookup; training plans one exchange per
    * iteration (the centroid averages).
    *
    * FULLY deterministic, including across engines: [[trainCodebooks]]'s
    * floor(x·2^32) mean and first-minimum assignment, then fixed-order
    * double arithmetic, which is why `tools/check_oracle.py` can recompute
    * q_ann_ivf EXACTLY (supp_ann_ivf — keep in lockstep: same centroid
    * quantization, same first-minimum tie-break, same HALF_UP 4-dp
    * rounding). An empty corpus returns an empty result with the contract
    * schema.
    *
    * @param quantizerSampleMod hash-predicate quantizer sampling: the train
    *        set keeps rows with `xxhash64(id, seed) % mod == 0` — roughly a
    *        1/mod sample with NO count job and NO full-corpus cache (the
    *        round-2 form cached + counted the whole corpus just to size a
    *        fraction — a full-table materialization at 10^12 rows).
    *        Default 0 = AUTO (scale-safe): mod is derived from the planner's
    *        size estimate so the train set is bounded at ~[[IvfAutoTrainTarget]]
    *        rows — no job runs, and a 10^12-row corpus can NEVER be fed to
    *        the per-iteration posexplode shuffle by omission. Pass `1` to
    *        explicitly opt IN to full-corpus training (the q_ann_ivf oracle
    *        path pins it — on the bounded test corpus auto resolves to the
    *        same thing); pass >1 to pin an exact sampling rate. A mod that
    *        leaves a non-empty corpus with no train row fails loudly.
    *        The train set is always cached during the (eager, driver-side)
    *        centroid training and unpersisted before the search plan is
    *        built, so the search pass streams the corpus uncached.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, nLists: Int = 16, nProbe: Int = 4,
              iters: Int = 3, seed: Long = 42L,
              quantizerSampleMod: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val base  = withNorm(df, idCol, vecCol)
    detectDim(df, vecCol) match {
      case None => emptyTopK(base, "cosine")
      case Some(dim) =>
        val trainSet = sampledTrainSet(df, base, seed, quantizerSampleMod).cache()
        val cents = trainCodebooks(trainSet, 1, dim, nLists, iters,
          collectInitRows(trainSet, nLists, seed)).head
        trainSet.unpersist(false)

        val assigned = base.withColumn("cluster", nearestExpr(cents)(col("v")))
        // the collected query rows feed both the probes and the query side
        // (one collect job, no second corpus scan)
        val qRows = queryVectors(base, queryIds)
        import spark.implicits._
        val probeDf = nearestLists(qRows, cents, nProbe).toDF("qid", "cluster")
        val queries = qRows.toSeq.toDF("qid", "qv")
          .withColumn("qnorm", graft.expr.VectorFunctions.norm(col("qv")))
        topK(assigned.join(broadcast(probeDf), Seq("cluster"))
          .join(broadcast(queries), Seq("qid"))
          .filter(col("id") =!= col("qid"))
          .withColumn("cosine", round(cosine(col("qv"), col("v"), col("qnorm"), col("norm")), 4)),
          col("cosine").desc, k, "cosine")
    }
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search" — the FAISS `IndexPQ` shape): the vector is
    * split into `numSub` contiguous subspaces of `dim/numSub` dims; each
    * subspace gets its own `numCodes`-centroid codebook (the same
    * deterministic k-means-lite as [[ivfTopK]]: hash-ranked init rows shared
    * across subspaces, `iters` iterations, floor(x·2^32) order-independent
    * means, strict first-minimum assignment). The corpus is then ENCODED as
    * `numSub` small ints — at real scale that is the point: a 64-float
    * vector becomes 4 bytes-ish of codes, and the candidate stream ships
    * codes only, never vectors.
    *
    * Search is classic ADC (asymmetric distance computation): per query a
    * (numSub × numCodes) table of exact subspace distances to every
    * centroid is computed driver-side and broadcast; a candidate's
    * approximate distance is the sum of `numSub` table lookups — pure
    * codegen'd arithmetic per row (no lambda, no UDF). Ranked by
    * (rounded adc asc, id asc); `adc` is a squared-L2 estimate, NOT cosine
    * (PQ's native metric), which is why the output column is `adc`.
    *
    * FULLY deterministic across engines, same discipline as [[ivfTopK]]:
    * every float step has a pinned op order (subspace distance = ascending-
    * dim fold; adc = ascending-subspace fold; HALF_UP 4-dp rounding), so
    * the q_ann_pq DuckDB oracle (`HashOracleSql.qAnnPqSql`) and the
    * `supp_ann_pq` Python port recompute the EXACT output. Keep all three
    * in lockstep.
    *
    * Composition note: this is the in-list re-rank half of IVF-PQ; compose
    * with [[ivfTopK]]'s coarse lists (filter to probed clusters first) when
    * a linear codes scan per query is still too much. The codes scan itself
    * is map-only + one per-query top-k.
    *
    * @param quantizerSampleMod same contract as [[ivfTopK]]: 0 = AUTO
    *        planner-stats bound, 1 = full-corpus training (the oracle pin),
    *        >1 = explicit hash-predicate sample rate.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], k: Int, numSub: Int = 4,
             numCodes: Int = 16, iters: Int = 2, seed: Long = 42L,
             quantizerSampleMod: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val base = vectors(df, idCol, vecCol)
    detectDim(df, vecCol) match {
      case None => emptyTopK(base, "adc")
      case Some(dim) =>
        require(dim % numSub == 0,
          s"pqTopK: dim $dim not divisible into $numSub subspaces")
        val ds = dim / numSub
        val trainSet = sampledTrainSet(df, base, seed, quantizerSampleMod).cache()
        val codebooks = trainCodebooks(trainSet, numSub, ds, numCodes, iters,
          collectInitRows(trainSet, numCodes, seed))
        trainSet.unpersist(false)

        // encode: the candidate stream is (id, codes) — vectors never leave
        // the scan
        val encoded = base
          .withColumn("codes", codesColumn(codebooks, ds))
          .select("id", "codes")
        val qdf = adcTables(spark, queryVectors(base, queryIds), codebooks, ds, numCodes)
        topK(encoded.join(broadcast(qdf), col("id") =!= col("qid"))
          .withColumn("adc", round(adcLookupSum(numSub, numCodes), 4)),
          col("adc").asc, k, "adc")
    }
  }

  /** IVF-PQ ANN — the composition of both scale paths, and the shape a real
    * billion-row deployment runs (FAISS `IndexIVFPQ` with
    * `by_residual=false`): the coarse quantizer prunes the corpus to the
    * query's `nProbe` nearest inverted lists (exactly [[ivfTopK]]'s
    * machinery — the coarse k-means IS [[trainCodebooks]] at numSub=1), and
    * the surviving candidates are ranked by PQ ADC over broadcast distance
    * tables (exactly [[pqTopK]]'s machinery) — so the search never touches a
    * vector: the candidate stream is (id, cluster, codes), the probe filter
    * is a broadcast equi-join on cluster, and the ADC is a codegen'd lookup
    * sum. Deterministic across engines like its two halves; the q_ann_ivfpq
    * DuckDB oracle (`HashOracleSql.qAnnIvfPqSql`) and the `supp_ann_ivfpq`
    * python port recompute the exact output. Keep all three in lockstep.
    *
    * Recall < 1 two ways by construction (pruned lists + quantized
    * distances) — PqSpec ties it to its halves instead of to brute force.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int, nLists: Int = 8, nProbe: Int = 4,
                coarseIters: Int = 2, numSub: Int = 4, numCodes: Int = 16,
                pqIters: Int = 2, seed: Long = 42L,
                quantizerSampleMod: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val base = vectors(df, idCol, vecCol)
    detectDim(df, vecCol) match {
      case None => emptyTopK(base, "adc")
      case Some(dim) =>
        require(dim % numSub == 0,
          s"ivfPqTopK: dim $dim not divisible into $numSub subspaces")
        val ds = dim / numSub
        val trainSet = sampledTrainSet(df, base, seed, quantizerSampleMod).cache()
        // ONE init collect feeds both trainings (see collectInitRows): the
        // coarse quantizer slices the first nLists rows, the PQ codebooks
        // the first numCodes — identical to two separate limit() jobs
        val initShared = collectInitRows(trainSet,
          math.max(nLists, numCodes), seed)
        val coarse = trainCodebooks(trainSet, 1, dim, nLists,
          coarseIters, initShared).head
        val codebooks = trainCodebooks(trainSet, numSub, ds, numCodes,
          pqIters, initShared)
        trainSet.unpersist(false)

        val encoded = base
          .withColumn("cluster", nearestExpr(coarse)(col("v")))
          .withColumn("codes", codesColumn(codebooks, ds))
          .select("id", "cluster", "codes")

        // the collected query vectors feed both the probes and the ADC
        // tables (one collect job instead of two identical ones)
        val qRows = queryVectors(base, queryIds)
        import spark.implicits._
        val probeDf = nearestLists(qRows, coarse, nProbe).toDF("qid", "cluster")
        val qdf = adcTables(spark, qRows, codebooks, ds, numCodes)
        topK(encoded.join(broadcast(probeDf), Seq("cluster"))
          .join(broadcast(qdf), Seq("qid"))
          .filter(col("id") =!= col("qid"))
          .withColumn("adc", round(adcLookupSum(numSub, numCodes), 4)),
          col("adc").asc, k, "adc")
    }
  }

  /** Hash-predicate quantizer train set `(id, v)` of `base` (the
    * [[ivfTopK]] contract: mod 0 = AUTO planner-stats bound, 1 = full
    * corpus, >1 = explicit rate). Caller caches/unpersists. */
  private[graft] def sampledTrainSet(df: DataFrame, base: DataFrame, seed: Long,
                                     quantizerSampleMod: Long): DataFrame = {
    val effectiveMod: Long =
      if (quantizerSampleMod >= 1L) quantizerSampleMod else autoSampleMod(df)
    (if (effectiveMod <= 1L) base
     else base.filter(pmod(xxhash64(col("id"), lit(seed)), lit(effectiveMod)) === 0))
      .select("id", "v")
  }

  /** Strict first-minimum nearest-centroid index — the fused
    * `graft_nearest_centroid` expression over the literal matrix. */
  private[graft] def nearestExpr(cents: Array[Array[Double]])(sv: Column): Column =
    column(NearestCentroid(expression(sv), expression(typedlit(cents.map(_.toSeq).toSeq))))

  /** The deterministic init-row prefix: the `n` train vectors with smallest
    * (hash(id, seed), id). A total order with unique ids, so the first
    * `nLists` of a `max(nLists, numCodes)`-row collect equal a direct
    * `limit(nLists)` — [[ivfPqTopK]] collects ONCE and both trainings slice
    * their prefix (round-7: one job instead of two identical sort-limit
    * jobs over the train set).
    */
  private[graft] def collectInitRows(trainSet: DataFrame, n: Int,
                                     seed: Long): Array[Array[Double]] =
    trainSet
      .withColumn("__h", xxhash64(col("id"), lit(seed)))
      .orderBy(col("__h"), col("id")).limit(n)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** The one quantizer trainer: deterministic per-subspace k-means over
    * `trainSet` (columns id, v). The first `numCodes` of `initRows`
    * ([[collectInitRows]]) seed it, row j seeding code j of EVERY subspace
    * codebook; then `iters` iterations where ONE pass assigns every subspace
    * (explode over mm) with the strict first-minimum [[nearestExpr]], and
    * each mean sums `floor(x·2^32)` longs — order-independent integer
    * addition (the 2^32 scaling is a power of two, so `x·2^32` is exact)
    * followed by one fixed ((sum/2^32)/n) double chain, so the centroids are
    * bit-stable under any shuffle order, where a float `avg` is not. One
    * exchange per iteration: the per-(subspace, code, dim) means are
    * collected as rows and placed into the centroid arrays on the driver. A code
    * no row is assigned to keeps its previous centroid. Quantizing to 2^-32
    * (~2.3e-10) is far below any assignment boundary that matters; the long
    * sums overflow only past ~2^29 train rows per code — at that scale
    * `quantizerSampleMod` must bound the train set anyway. numSub=1, ds=dim
    * is the full-vector coarse quantizer of [[ivfTopK]], [[ivfPqTopK]] and
    * [[graft.dedup.Dedup.semDedup]]. Returns codebooks(mm)(j) = centroid j
    * of subspace mm; fails loudly on an empty train set. */
  private[graft] def trainCodebooks(trainSet: DataFrame, numSub: Int, ds: Int,
                                    numCodes: Int, iters: Int,
                                    initRows: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val quantScale = 4294967296.0 // 2^32
    def sub(mm: Int): Column = slice(col("v"), mm * ds + 1, ds)
    require(initRows.nonEmpty,
      "trainCodebooks: quantizer train set is empty (over-aggressive " +
        "quantizerSampleMod over an empty/undersized corpus) — pass an " +
        "explicit quantizerSampleMod sized to the source")
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(numSub)(mm =>
        initRows.take(numCodes).map(v => java.util.Arrays.copyOfRange(v, mm * ds, (mm + 1) * ds)))
    (1 to iters).foreach { _ =>
      val perM = (0 until numSub).map { mm =>
        struct(lit(mm).as("m"),
          nearestExpr(codebooks(mm))(sub(mm)).as("code"),
          sub(mm).as("sv"))
      }
      val means = trainSet.select(explode(array(perM: _*)).as("e"))
        .select(col("e.m").as("m"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("dim", "x")))
        .groupBy("m", "code", "dim")
        .agg(((sum(floor(col("x") * lit(quantScale))).cast("double") / lit(quantScale))
          / count(lit(1)).cast("double")).as("mean"))
        .collect()
      // the means are final: place them on the driver (a code that got rows
      // got every dim of them — a short slice fails in nearestExpr)
      val next = Array.fill(numSub, numCodes)(null: Array[Double])
      means.foreach { r =>
        val (mm, j) = (r.getInt(0), r.getInt(1))
        if (next(mm)(j) == null) next(mm)(j) = new Array[Double](ds)
        next(mm)(j)(r.getInt(2)) = r.getDouble(3)
      }
      codebooks = Array.tabulate(numSub)(mm =>
        codebooks(mm).zipWithIndex.map { case (old, j) =>
          Option(next(mm)(j)).getOrElse(old)
        })
    }
    codebooks
  }

  /** The PQ encode column: array of per-subspace nearest-codebook indices. */
  private def codesColumn(codebooks: Array[Array[Array[Double]]], ds: Int): Column =
    array(codebooks.indices.map(mm =>
      nearestExpr(codebooks(mm))(slice(col("v"), mm * ds + 1, ds))): _*)

  /** The query rows `(id, v)`, collected driver-side — queries are an
    * explicit tiny list by contract. */
  private def queryVectors(base: DataFrame,
                           queryIds: Seq[Long]): Array[(Long, Array[Double])] =
    base.filter(col("id").isInCollection(queryIds))
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Squared L2 distance from `q(off until off + c.length)` to `c`, folded
    * in ascending-dim order (the order the DuckDB and Python oracles
    * replay). */
  private def sqDist(q: Array[Double], off: Int, c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val x = q(off + i) - c(i); d += x * x; i += 1 }
    d
  }

  /** Each query's `nProbe` nearest centroid lists as (qid, cluster),
    * driver-side, in stable (distance, cid) order. */
  private def nearestLists(qRows: Array[(Long, Array[Double])],
                           cents: Array[Array[Double]],
                           nProbe: Int): Seq[(Long, Int)] =
    qRows.toSeq.flatMap { case (qid, qv) =>
      cents.indices.map(cid => (cid, sqDist(qv, 0, cents(cid))))
        .sortBy(_._2).take(nProbe).map(t => (qid, t._1))
    }

  /** Per-query flattened ADC tables (qid, dt) — numSub × numCodes exact
    * subspace distances ([[sqDist]]); lookup is
    * element_at(dt, m*numCodes + code + 1). */
  private def adcTables(spark: org.apache.spark.sql.SparkSession,
                        qRows: Array[(Long, Array[Double])],
                        codebooks: Array[Array[Array[Double]]],
                        ds: Int, numCodes: Int): DataFrame = {
    val dts: Seq[(Long, Seq[Double])] = qRows.toSeq.map { case (qid, qv) =>
      val dt = new Array[Double](codebooks.length * numCodes)
      for (mm <- codebooks.indices; j <- codebooks(mm).indices)
        dt(mm * numCodes + j) = sqDist(qv, mm * ds, codebooks(mm)(j))
      (qid, dt.toSeq)
    }
    import spark.implicits._
    dts.toDF("qid", "dt")
  }

  /** adc = ascending-subspace left fold of table lookups — a composed `+`
    * chain, NO higher-order function (ArrayAggregate lambdas are
    * CodegenFallback; this stays inside whole-stage codegen). */
  private def adcLookupSum(numSub: Int, numCodes: Int): Column =
    (0 until numSub).map(mm =>
      element_at(col("dt"),
        lit(mm * numCodes) + element_at(col("codes"), lit(mm + 1)) + lit(1)))
      .reduce(_ + _)

  /** ANN top-k via LSH buckets: candidates share at least one of the
    * `tables` bucket signatures (multi-probe by table, classic OR-construction
    * over AND-buckets); exact cosine re-rank within candidates.
    * Recall < 1 by construction — tested against [[bruteForceTopK]].
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, nPlanes: Int = 12,
              tables: Int = 6, seed: Long = 42L): DataFrame = {
    val base = withNorm(df, idCol, vecCol)
    detectDim(df, vecCol) match {
      case None => emptyTopK(base, "cosine")
      case Some(dim) =>
        // bucket rows are NARROW (id, table, bucket) — the candidate explode
        // and (qid, id) dedup shuffle no vectors; v/norm join back by id only
        // for the |candidates| rows that survive (the same narrowing
        // Dedup.embeddingLshPairs measured at 2× on the whole query)
        val bucketed = base.select(col("id"),
          posexplode(hyperplaneBucketsAll(col("v"), nPlanes, tables, dim, seed))
            .as(Seq("table", "bucket")))
        val q2 = bucketed.filter(col("id").isInCollection(queryIds))
          .select(col("id").as("qid"), col("table"), col("bucket"))
        val cand = bucketed.join(broadcast(q2), Seq("table", "bucket"))
          .filter(col("id") =!= col("qid"))
          .select("qid", "id")
          .dropDuplicates("qid", "id")
        val qv = base.filter(col("id").isInCollection(queryIds))
          .select(col("id").as("qid"), col("v").as("qv"), col("norm").as("qnorm"))
        topK(cand
          .join(base, Seq("id"))
          .join(broadcast(qv), Seq("qid"))
          .withColumn("cosine", round(cosine(col("qv"), col("v"), col("qnorm"), col("norm")), 4)),
          col("cosine").desc, k, "cosine")
    }
  }
}
