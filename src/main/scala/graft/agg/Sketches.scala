package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.{CmsSketch, KmvBottomK}

/** Sketch operators for corpus-scale statistics. Unlike Spark's builtin
  * `approx_count_distinct` (HyperLogLog++, whose register layout no other
  * engine reproduces bit-for-bit), these sketches are DETERMINISTIC
  * functions of the data, so the driver's DuckDB gate checks them exactly —
  * the same design rule as the LSH/minhash stack: approximate in accuracy,
  * exact in definition.
  */
object Sketches {

  /** KMV (k-minimum-values) distinct-count sketch over `c`:
    * hash every value with xxhash64 (seed 42), keep the k smallest DISTINCT
    * hashes in UNSIGNED order; with h_k the k-th smallest as a fraction of
    * the hash space, E[distinct] ≈ (k-1) / (h_k / 2^64) — the classic
    * bottom-k estimator (Bar-Yossef et al.), standard error ~ 1/sqrt(k-2).
    *
    * Scale shape: one narrow shuffle — `distinct` on the 8-byte hash (never
    * the value itself) with map-side partial aggregation — then a
    * TakeOrdered(k) (per-partition top-k + driver merge, NO global sort;
    * PlanSpec asserts the plan). Fewer than k distinct values → the sketch
    * IS the exact count and reports it.
    *
    * Output (one row): `n_kept` (min(k, distinct)), `kth_hash` (the k-th
    * smallest hash, signed bits — the sketch's mergeable state), `est`
    * (rounded to 2 dp). Cross-engine exact: the q_kmv_distinct oracle
    * recomputes XXH64 and the same double arithmetic in DuckDB SQL
    * ([[graft.oracle.HashOracleSql.qKmvDistinctSql]] — lockstep twin).
    */
  def kmvDistinct(df: DataFrame, c: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hashes = df.filter(col(c).isNotNull)
      .select(xxhash64(col(c)).as("h")).distinct()
    // unsigned order via the sign-flip trick: unsigned(h) = signed(h ^ MinValue)
    val topk = hashes
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)).asc)
      .limit(k)
    topk.agg(
        count(lit(1)).as("n_kept"),
        // max in unsigned order = the k-th smallest = last kept
        expr(s"max(h ^ ${Long.MinValue}L)").bitwiseXOR(lit(Long.MinValue)).as("kth_hash"))
      .select(col("n_kept"), col("kth_hash"),
        estExpr(col("n_kept"), col("kth_hash"), k).as("est"))
  }

  private val Two64 = 1.8446744073709552e19 // 2^64, exactly representable

  /** THE estimate chain — one copy shared by the corpus-global and grouped
    * sketches (it is oracle-critical: the DuckDB twins recompute this exact
    * double arithmetic — [[graft.oracle.HashOracleSql.qKmvDistinctSql]] /
    * `qKmvGroupedSql`): exact count below k, else (k-1)·2^64 / unsigned(kth),
    * rounded 2 dp.
    */
  private def estExpr(nKept: Column, kth: Column, k: Int): Column =
    round(
      when(nKept < k, nKept.cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(Two64) /
          (kth.cast("double") +
            when(kth < 0, lit(Two64)).otherwise(lit(0.0)))),
      2)

  /** Bottom-k distinct-hash aggregate COLUMN (the KMV sketch state): the
    * fused [[graft.expr.KmvBottomK]] aggregate — bounded k-value buffer per
    * group, map-side partial aggregation. Emits the k smallest distinct
    * hashes in unsigned ascending order as `array<long>`, exactly the
    * composed `collect_set` form KmvGroupedSpec pins it against (whose
    * buffer holds EVERY distinct hash of a group — unbounded at scale).
    */
  def bottomKHashes(h: Column, k: Int): Column =
    column(KmvBottomK(expression(h), expression(lit(k))).toAggregateExpression())

  /** Estimate columns from a sketch array (`n_kept`, `kth_hash`, `est` —
    * the same arithmetic as [[kmvDistinct]], and the same DuckDB-exact
    * double chain). Callers guarantee the sketch is non-empty (every group
    * has at least one non-null hashed row by construction).
    */
  private def estimateCols(sketch: Column, k: Int): Seq[Column] = {
    val nKept = size(sketch).cast("long")
    val kth   = element_at(sketch, size(sketch))
    Seq(nKept.as("n_kept"), kth.as("kth_hash"),
      estExpr(nKept, kth, k).as("est"))
  }

  /** Per-group KMV sketch STATE: one row per group with `kmv_sketch`
    * (`array<long>`, the k smallest distinct hashes of `c` in unsigned
    * order — the mergeable representation). Persist this per shard/day and
    * combine later with [[kmvMergeSketches]]; the merge law
    * `sketch(A ∪ B) = merge(sketch(A), sketch(B))` is exact
    * (KmvGroupedSpec pins it).
    *
    * Scale shape: ONE hash-partial aggregation on the group keys — each map
    * task carries at most k longs per group, so the shuffle is k·groups
    * longs regardless of corpus size.
    */
  def kmvSketchBy(df: DataFrame, groupCols: Seq[String], c: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    require(groupCols.nonEmpty, "use kmvDistinct for the corpus-global sketch")
    df.filter(col(c).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(bottomKHashes(xxhash64(col(c)), k).as("kmv_sketch"))
  }

  /** Combine partial per-group sketches (e.g. one per day/shard): union the
    * hash sets, keep the k smallest — exactly the aggregate's own merge, so
    * re-sketching merged state equals sketching the union.
    */
  def kmvMergeSketches(df: DataFrame, groupCols: Seq[String],
                       sketchCol: String, k: Int): DataFrame =
    df.select(groupCols.map(col) :+ explode(col(sketchCol)).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(bottomKHashes(col("__h"), k).as("kmv_sketch"))

  /** Per-group distinct-count estimate — the 100 TB use case (distinct users
    * per template, distinct templates per tool): one row per group with
    * `n_kept`, `kth_hash`, `est`, same estimator and cross-engine-exact
    * arithmetic as the corpus-global [[kmvDistinct]] (oracle:
    * [[graft.oracle.HashOracleSql.qKmvGroupedSql]]).
    */
  def kmvDistinctBy(df: DataFrame, groupCols: Seq[String], c: String, k: Int): DataFrame =
    kmvSketchBy(df, groupCols, c, k)
      .select(groupCols.map(col) ++ estimateCols(col("kmv_sketch"), k): _*)

  /** Pairwise SET-OPERATION estimates between per-group KMV sketches — the
    * reason KMV beats HLL for corpus bookkeeping: the bottom-k sets compose.
    * For each group pair (g1 < g2) the standard combine (Beyer et al.,
    * "On synopses for distinct-value estimation under multiset operations",
    * SIGMOD'07 — public): U = the k smallest hashes of sketch(A) ∪ sketch(B)
    * (itself the exact KMV sketch of A ∪ B), Jaccard ≈ |U ∩ A ∩ B| / |U|,
    * and |A ∪ B| from the same (k-1)·2^64/h_k estimator as [[kmvDistinct]].
    * `j_num`/`j_den` are EXACT integers given the sketches — which is why a
    * DuckDB oracle exists ([[graft.oracle.HashOracleSql.qKmvJaccardSql]]
    * replays the bottom-k sets and this combine verbatim); `jacc` is the one
    * rounded double both engines derive from them identically.
    *
    * Scale shape: the input is ALREADY reduced to one k-long row per group
    * (the expensive pass is [[kmvSketchBy]]); the pair join is a broadcast
    * nested-loop over GROUPS — #groups² pairs is the requested output, and
    * per-pair work is O(k·log k) array ops on ≤2k elements. Never feed this
    * row-level data.
    */
  def kmvJaccardPairs(sketches: DataFrame, groupCol: String,
                      sketchCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    // folded domain (x ^ MinValue): signed order == unsigned hash order
    val fold = (c: Column) => transform(c, x => x.bitwiseXOR(lit(Long.MinValue)))
    val a = sketches.select(col(groupCol).as("g1"), fold(col(sketchCol)).as("f1"))
    val b = sketches.select(col(groupCol).as("g2"), fold(col(sketchCol)).as("f2"))
    val paired = a.join(broadcast(b), col("g1") < col("g2"))
      .withColumn("u", slice(array_sort(array_union(col("f1"), col("f2"))), 1, k))
    val jNum = size(filter(col("u"),
      x => array_contains(col("f1"), x) && array_contains(col("f2"), x))).cast("long")
    val jDen = size(col("u")).cast("long")
    val kth = element_at(col("u"), size(col("u"))).bitwiseXOR(lit(Long.MinValue))
    paired.select(col("g1"), col("g2"),
      jNum.as("j_num"), jDen.as("j_den"),
      round(jNum.cast("double") / jDen.cast("double"), 6).as("jacc"),
      estExpr(jDen, kth, k).as("est_union"))
  }

  // ---------------------------------------------------------------- CMS ---

  /** Row-r bucket of a base hash: `xxhash64(value, lit(r)) & (w-1)` — the
    * seed-chained row hash the fused aggregate computes internally (see
    * [[graft.expr.CmsSketch]]; `h` must be `xxhash64(value)`).
    */
  private[graft] def cmsBucket(value: Column, r: Int, w: Int): Column =
    xxhash64(value, lit(r.toLong)).bitwiseAND(lit((w - 1).toLong))

  /** Per-group Count-Min sketch STATE: one row per group with `cms_sketch`
    * (`array<long>`, the dense row-major d×w counter grid — the mergeable
    * representation; element-wise add combines shard/day partials and the
    * merge law is exact because cells are sums).
    *
    * The [[graft.expr.CmsSketch]] aggregate has no bounded composed form (a
    * `collect_list`-style one would buffer the whole group, defeating the
    * sketch); the sparse explode/count twin CmsSpec pins against this
    * yields the same cells.
    *
    * Scale shape: ONE hash-partial aggregation on the group keys; each map
    * task carries d·w longs per group, so the shuffle is d·w·groups longs
    * regardless of occurrence count — the bounded replacement for a
    * per-group exact count table (O(distinct keys) memory).
    */
  def cmsSketchBy(df: DataFrame, groupCols: Seq[String], c: String,
                  d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2 && (w & (w - 1)) == 0,
      "CMS needs d >= 1 and w a power of two >= 2")
    require(groupCols.nonEmpty, "group the corpus-global sketch by a constant")
    df.filter(col(c).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(column(CmsSketch(expression(xxhash64(col(c))), expression(lit(d)),
        expression(lit(w))).toAggregateExpression()).as("cms_sketch"))
  }

  /** Sparse (group, r, j, cnt) cells from a dense sketch — the exchange
    * format the q_cms_cells oracle compares (cnt > 0 cells only).
    */
  def cmsCells(sketch: DataFrame, groupCols: Seq[String], d: Int, w: Int): DataFrame =
    sketch
      .select(groupCols.map(col) :+
        posexplode(col("cms_sketch")).as(Seq("__pos", "cnt")): _*)
      .filter(col("cnt") > 0)
      .withColumn("r", (col("__pos") / w).cast("int"))
      .withColumn("j", pmod(col("__pos"), lit(w)).cast("int"))
      .select(groupCols.map(col) ++ Seq(col("r"), col("j"), col("cnt")): _*)

  /** Merge per-shard/per-day CMS sketch rows into one grid per group:
    * element-wise sum, which is EXACT (cells are sums) — the operational
    * point of the sketch: combine bounded daily states instead of
    * re-scanning the stream. Grid length d·w is a plan constant, so the
    * per-group collect_list is bounded by construction.
    */
  def cmsMergeSketches(sketches: DataFrame, groupCols: Seq[String],
                       d: Int, w: Int): DataFrame =
    sketches
      .select(groupCols.map(col) :+
        posexplode(col("cms_sketch")).as(Seq("__pos", "__c")): _*)
      .groupBy(groupCols.map(col) :+ col("__pos"): _*)
      .agg(sum("__c").as("__s"))
      .groupBy(groupCols.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__s")))),
        x => x.getField("__s")).as("cms_sketch"))

  /** Point-estimate occurrences of `probe` values against per-group dense
    * sketches: est = min over rows r of cell (r, h_r(probe)) — the classic
    * CMS upper bound (never undercounts). One broadcast of the tiny probe
    * table; the lookup is a pure projection over the sketch rows.
    */
  def cmsEstimate(sketch: DataFrame, groupCols: Seq[String],
                  probes: DataFrame, probeCol: String,
                  d: Int, w: Int): DataFrame = {
    val cells = (0 until d).map(r =>
      element_at(col("cms_sketch"),
        (lit(r.toLong * w) + cmsBucket(col(probeCol), r, w) + 1L).cast("int")))
    sketch.crossJoin(broadcast(probes.select(col(probeCol))))
      .withColumn("est", least(cells: _*))
      .select(groupCols.map(col) ++ Seq(col(probeCol), col("est")): _*)
  }
}
