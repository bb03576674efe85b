package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Rank

/** DSIR-style data selection via hashed importance weights (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" — the
  * public method behind targeted pretraining-corpus selection): score every
  * pool document by the log-likelihood ratio of two hashed bag-of-words
  * unigram models — one fit on a small TARGET corpus (the distribution you
  * want more of), one fit on the raw pool — then keep the top-k.
  *
  *   w(d) = Σ_{tok ∈ d}  log10 p_target(b(tok)) − log10 p_raw(b(tok))
  *   p(b) = (count(b) + 1) / (total + B)        (add-1 over B buckets)
  *
  * with b(tok) = the [[Classifier]] bucket (xxhash64 low bits, B = 4096).
  * Deterministic selection: the paper samples ∝ exp(w); the pinned variant
  * here is exact top-k by (weight DESC, id ASC) — reproducible and
  * cross-engine checkable.
  *
  * PINNED cross-engine semantics (q_dsir_select replays them in DuckDB
  * through the XXH64 CTE):
  *  - tokens: whitespace split of trimmed text, empties dropped; docs with
  *    zero tokens drop out;
  *  - per-occurrence score quantized on the integer micro-log grid as ONE
  *    log10 of an exact-integer ratio:
  *    `round(log10(((ct+1)·(Tr+B)) / ((cr+1)·(Tt+B))) * 1e6)` — both
  *    products are exact in doubles at test scale (< 2^53), summed as
  *    BIGINT so the per-doc weight is order-independent;
  *  - rank over (weight_micro DESC, id ASC); kept = rank <= k.
  *
  * Scale shape: both models are O(B) = 4096 rows — they BROADCAST, so
  * scoring is map-only (explode, hash, two broadcast lookups, one arithmetic
  * projection) followed by one per-doc partial-aggregated sum; the totals
  * ride single-row broadcast cross joins. The final top-k rank uses
  * [[Rank.globalRowNumber]] (distributed range sort), never a global-order
  * window. At 100 TB the only wide exchange is the per-doc aggregate's
  * (id, 8-byte sum) shuffle.
  */
object Dsir {

  private def unigrams(textCol: Column): Column =
    filter(TextAnalysis.tokens(textCol), w => w =!= lit(""))

  private def bucketOf(g: Column): Column =
    xxhash64(g).bitwiseAND(lit((Classifier.numBuckets - 1).toLong))

  /** Hashed-unigram bucket counts of a corpus: (bucket, cnt), ≤ B rows. */
  private def bucketCounts(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(explode(unigrams(col(textCol))).as("__g"))
      .select(bucketOf(col("__g")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))

  /** Per-pool-doc (idCol, n_feats, weight_micro) — the map-only scoring
    * stage (see object doc for the exact pinned arithmetic).
    */
  def importanceWeights(pool: DataFrame, target: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val bl = Classifier.numBuckets.toLong
    val tc = bucketCounts(target, textCol)
    val rc = bucketCounts(pool, textCol)
    val tt = tc.agg(sum(col("__c")).cast("long").as("__tt"))
    val rt = rc.agg(sum(col("__c")).cast("long").as("__rt"))

    val occ = pool.select(col(idCol), explode(unigrams(col(textCol))).as("__g"))
      .withColumn("__b", bucketOf(col("__g")))
    val joined = occ
      .join(broadcast(tc.select(col("__b"), col("__c").as("__ct"))), Seq("__b"), "left")
      .join(broadcast(rc.select(col("__b"), col("__c").as("__cr"))), Seq("__b"), "left")
      .crossJoin(broadcast(tt))
      .crossJoin(broadcast(rt))
    // Pinned one-log form: the LongType products must stay exact BEFORE the
    // single double cast (splitting into two logs changes rounding and
    // breaks the q_dsir_select oracle). num = (ct+1)·(Tr+B) and
    // den = (cr+1)·(Tt+B) pass 2^63 only when (hottest bucket count + 1) ×
    // (other side's token total + 4096) ≥ 9.2e18, e.g. a 10^9-token target
    // model against a 10^10-token pool; [[exactProduct]] fails the task
    // there instead of wrapping. Weights are per-row functions of the two
    // ≤B-row models, so sharding the pool is exact.
    val num = exactProduct(coalesce(col("__ct"), lit(0L)), col("__rt"), bl, "(ct+1)·(Tr+B)")
    val den = exactProduct(coalesce(col("__cr"), lit(0L)), col("__tt"), bl, "(cr+1)·(Tt+B)")
    joined
      .withColumn("__s",
        round(log10(num.cast("double") / den.cast("double")) * lit(1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("__s")).as("weight_micro"))
  }

  /** `(count + 1) · (total + b)` in LongType, raising an error that names
    * `what` when an add or the product overflows, where plain `+`/`*` would
    * wrap silently in non-ANSI Spark. A null operand (an empty model's
    * total) still gives null, as the plain product does.
    */
  private[graft] def exactProduct(count: Column, total: Column, b: Long, what: String): Column =
    coalesce(
      try_multiply(try_add(count, lit(1L)), try_add(total, lit(b))),
      when(count.isNotNull && total.isNotNull,
        raise_error(lit(s"dsir: $what overflows LongType; shard the pool"))))

  /** Per-pool-doc (idCol, n_feats, weight_micro, sel_rank, kept). */
  def select(pool: DataFrame, target: DataFrame, idCol: String,
             textCol: String, k: Long): DataFrame = {
    val weights = importanceWeights(pool, target, idCol, textCol)
    val (ranked, _) = Rank.globalRowNumber(weights,
      Seq(col("weight_micro").desc, col(idCol)), "sel_rank")
    ranked.withColumn("kept",
      when(col("sel_rank") <= k, lit(1)).otherwise(lit(0)))
  }
}
