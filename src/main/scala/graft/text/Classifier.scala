package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.HashedFeatures

/** Hashed linear text classifier — the APPLICATION side of the
  * fastText-style quality classifiers real curation pipelines run over every
  * document (CCNet / LLaMA "quality classifier" stage; feature hashing per
  * Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
  * Learning"). The model is a weight vector over 2^b hashed bag-of-n-gram
  * buckets; scoring a document is:
  *
  *   score(d) = Σ_{g ∈ unigrams(d) ∪ bigrams(d)}  w[ h(g) & (B-1) ]
  *
  * with multiplicity (each occurrence contributes). The weight table here is
  * a PINNED deterministic fixture (the repo's merges-table pattern — no
  * trained artifact can ship in-sandbox): integer micro-units
  * `w[i] = ((i * 2654435761) mod 2001) - 1000`, i.e. a Knuth multiplicative
  * scramble into [-1000, 1000]. Swapping in trained weights = replacing the
  * [[weightOf]] projection with a 2^b-entry broadcast lookup; every other
  * line (the hot path) is unchanged.
  *
  * PINNED cross-engine semantics (q_quality_classifier replays them in
  * DuckDB through the XXH64 CTE):
  *  - tokens: whitespace split of trimmed text; empty tokens dropped;
  *    bigrams via [[TextAnalysis.ngramsWithMultiplicity]] (n=2, space-joined);
  *    docs with zero features drop out of the result;
  *  - h(g) = Spark `xxhash64(g)` (seed 42); bucket = low `log2(B)` bits —
  *    identical on the signed JVM long and DuckDB's unsigned HUGEINT;
  *  - all-integer score: weights are BIGINT micro-units summed as BIGINT, so
  *    the aggregate is order-independent and exact across engines;
  *  - label = 1 iff score_micro > 0 (the zero-bias decision rule).
  *
  * Scale shape: MAP-ONLY feature extraction (explode unigrams+bigrams, hash,
  * weight — all codegen'd column arithmetic, no dictionary join because the
  * fixture is a formula) followed by ONE per-doc partial-aggregated sum.
  * Nothing wider than (id, 8-byte weight) shuffles; with trained weights the
  * lookup becomes one broadcast-hash join against a B-row dim table.
  */
object Classifier {

  /** Feature space size — a power of two so the bucket is a bit-mask. */
  val numBuckets: Int = 4096

  /** Pinned weight fixture in integer micro-units (see object doc). */
  val weightMul: Long = 2654435761L
  val weightMod: Long = 2001L

  /** w[bucket] for a non-negative bucket column (bucket < 4096 so the
    * product stays far below 2^63 — exact in both engines).
    */
  def weightOf(bucket: Column): Column =
    (bucket * lit(weightMul)) % lit(weightMod) - lit(1000L)

  /** Per-doc (idCol, n_feats, score_micro, label).
    *
    * Fused (round-7, guide §2.4): `graft_hash_features` computes the
    * exact (n_feats, score_micro) pair IN-ROW, so the classifier is a
    * map-only projection with NO explode and NO exchange — the composed
    * form shuffled one row per unigram/bigram occurrence into a per-doc
    * aggregate. Zero-feature docs drop in both forms (explode of an empty
    * array ⟷ the n_feats > 0 filter). The coalesce on n_feats only pins
    * the non-nullable schema the aggregate form produced.
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // pre-filter on the CHEAP equivalent of n_feats > 0 (n_feats = 0 iff the
    // 0x20-trimmed text is empty: a nonempty trim yields either a nonempty
    // unigram or, for all-\s text, a nonempty " " bigram), so predicate
    // pushdown cannot re-inline the kernel into a Filter and evaluate it
    // twice per row (guide §4.4's duplication, observed in the round-7 plan
    // dumps)
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        column(HashedFeatures(expression(col(textCol)))).as("__f"))
      .select(col(idCol),
        coalesce(col("__f.n_feats"), lit(0L)).as("n_feats"),
        col("__f.score_micro").as("score_micro"))
      .withColumn("label",
        when(col("score_micro") > 0, lit(1)).otherwise(lit(0)))
}
