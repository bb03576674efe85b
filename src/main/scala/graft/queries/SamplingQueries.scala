package graft.queries

import org.apache.spark.sql.functions._

import graft.agg.{Features, Preprocessing}
import graft.windows.Windows

import QueryScaffold._

/** Deterministic samplers and train/val/test splits. */
private[graft] object SamplingQueries {

  /** Pinned split weights — ONE source of truth for q_split_assign's Spark
    * call AND its HashOracleSql.qSplitAssignSql oracle twin (both inject the
    * identical Preprocessing.splitBounds longs).
    */
  private val splitSpec: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  val all: Seq[Query] = Seq(
    // deterministic train/val/test assignment: content-stable where Spark's
    // randomSplit is partition-order-dependent; map-only (no shuffle). The
    // split weights are the shared splitSpec fixture — both engines consume
    // the same driver-computed Preprocessing.splitBounds longs.
    Query("q_split_assign", { (s, dir) =>
      graft.agg.Preprocessing.splitByHash(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id"),
          "doc_id", splitSpec)
        .select("doc_id", "split")
    }, graft.oracle.HashOracleSql.qSplitAssignSql(
      "documents", "doc_id", splitSpec)),

    // O9 — positional train/test split over the stable global order.
    Query("q_positional_split", { (s, dir) =>
      Windows.positionalSplit(transcripts(s, dir).select("conv_id", "turn_idx"), 0.8)
    }, withT(
      """, n AS (SELECT count(*) AS total FROM transcripts)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN row_number() OVER (ORDER BY conv_id, turn_idx) <=
        |            CAST(floor((SELECT total FROM n) * 0.8) AS BIGINT)
        |       THEN 'train' ELSE 'test' END AS split
        |FROM transcripts""".stripMargin)),

    // P5 — normal-only train filter.
    Query("q_normal_only", { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("label", when(col("role") === "tool", 1).otherwise(0))
      Features.normalOnly(t).select("conv_id", "turn_idx", "label")
    }, withT(
      """SELECT conv_id, turn_idx, CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS label
        |FROM transcripts WHERE role <> 'tool'""".stripMargin)),

    // O7 — seeded deterministic shuffle (md5-ranked → EXACT DuckDB oracle;
    // permutation/determinism properties additionally ScalaTest-verified).
    Query("q_seeded_shuffle", { (s, dir) =>
      Preprocessing.seededShuffle(
        transcripts(s, dir).select("conv_id", "turn_idx"),
        Seq("conv_id", "turn_idx"))
    },
    // chr(1) = the  key delimiter Preprocessing.seededShuffle uses;
    // '88' = the default seed rendered as a string (Spark casts the long).
    withT(
      """SELECT conv_id, turn_idx,
        |       row_number() OVER (
        |         ORDER BY md5(conv_id || chr(1) || CAST(turn_idx AS VARCHAR) || chr(1) || '88') ASC,
        |                  conv_id ASC, turn_idx ASC) AS shuffle_pos
        |FROM transcripts""".stripMargin)),

    // S10 — head-N sampler in stable order.
    Query("q_head_sample", { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("label", when(col("role") === "tool", 1).otherwise(0))
      Preprocessing.headSample(t, 500, Seq("conv_id", "turn_idx"), "label")._1
        .select("conv_id", "turn_idx", "label")
    }, withT(
      """SELECT conv_id, turn_idx, CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS label
        |FROM transcripts ORDER BY conv_id, turn_idx LIMIT 500""".stripMargin)),

    // deterministic domain-mixture sampling (Pile/LLaMA-style corpus
    // mixing): per-source char budgets with one over-weighted domain that
    // caps at keep-all; keep decisions replayed in DuckDB through the XXH64
    // hashLong chain (HashOracleSql.qDomainMixSql — weights/budget mirrored
    // at the oracleSql call site).
    Query("q_domain_mix", { (s, dir) =>
      Preprocessing.mixtureSample(
          s.read.parquet(s"$dir/documents.parquet"),
          idCol = "doc_id", domainCol = "source", tokenCol = "n_chars",
          weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2,
            "src3" -> 5.0),
          budget = 4000L)
        .select("doc_id", "source", "n_chars")
    }, graft.oracle.HashOracleSql.qDomainMixSql(
      "documents", "doc_id", "source", "n_chars",
      Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 5.0),
      budget = 4000L)),

    // per-row-rate deterministic sampling (soft quality filtering): keep
    // probability = min-max-normalized classifier score, decided by the
    // content-stable hash gate — every rate operand is an exact integer so
    // the whole selection is cross-engine exact. Classifier constants
    // mirrored at the qWeightedSampleSql call site.
    Query("q_weighted_sample", { (s, dir) =>
      val scored = graft.text.Classifier.hashedLinearScore(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select("doc_id", "score_micro")
      val stats = scored.agg(min("score_micro").as("__mn"),
        max("score_micro").as("__mx"))
      val rated = scored.crossJoin(broadcast(stats))
        .withColumn("__rate",
          when(col("__mx") > col("__mn"),
            (col("score_micro") - col("__mn")).cast("double") /
              (col("__mx") - col("__mn")).cast("double"))
            .otherwise(lit(1.0)))
      Preprocessing.weightedSample(rated, "doc_id", "__rate")
        .select("doc_id", "score_micro")
    }, graft.oracle.HashOracleSql.qWeightedSampleSql(
      "documents", "doc_id", "text",
      numBuckets = graft.text.Classifier.numBuckets,
      weightMul = graft.text.Classifier.weightMul,
      weightMod = graft.text.Classifier.weightMod)),

    // deterministic ring negative sampling for contrastive training: k
    // hash-ring-following corpus negatives per anchor — reproducible and
    // join-shaped where ORDER BY rand() is neither. k mirrored at the
    // HashOracleSql.qNegativeSampleSql call site.
    Query("q_negative_sample", { (s, dir) =>
      Preprocessing.negativeSample(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id"),
        "doc_id", k = 5)
    }, graft.oracle.HashOracleSql.qNegativeSampleSql(
      "documents", "doc_id", k = 5)),

    // epoch-aware deterministic upsampling (the uncapped half of the mixing
    // law): scarce high-weight domains repeat floor(rate) times plus a
    // hash-gated fractional epoch. Weights/budget mirrored at the
    // HashOracleSql.qMixtureUpsampleSql call site; budget=500000 keeps every
    // domain's epoch count in single-to-double digits at all three SFs.
    Query("q_mixture_epochs", { (s, dir) =>
      Preprocessing.mixtureUpsample(
          s.read.parquet(s"$dir/documents.parquet"),
          idCol = "doc_id", domainCol = "source", tokenCol = "n_chars",
          weights = Map("src3" -> 0.5, "src7" -> 0.3, "src1" -> 0.05),
          budget = 500000L)
        .select("doc_id", "source", "n_chars", "epoch")
    }, graft.oracle.HashOracleSql.qMixtureUpsampleSql(
      "documents", "doc_id", "source", "n_chars",
      Seq("src3" -> 0.5, "src7" -> 0.3, "src1" -> 0.05), budget = 500000L)),

    // deterministic class-balanced sampling: exactly min(n, |group|) docs
    // per source by the seeded-hash prefix order — re-runnable and
    // partition-independent where sampleBy is neither; rank via the
    // distributed global rank. n mirrored at the
    // HashOracleSql.qStratifiedSampleSql call site.
    Query("q_stratified_sample", { (s, dir) =>
      graft.agg.Preprocessing.stratifiedExactN(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source"),
          "source", "doc_id", n = 20L)
        .select("source", "doc_id", "smp_rank")
    }, graft.oracle.HashOracleSql.qStratifiedSampleSql(
      "documents", "doc_id", "source", n = 20L)),

    // deterministic k-fold assignment (cross-validation folds): exactly
    // uniform over the hash domain (no modulo bias), content-stable like
    // splitByHash. k mirrored at the qKfoldSql call site.
    Query("q_kfold", { (s, dir) =>
      graft.agg.Preprocessing.kFoldByHash(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id"),
          "doc_id", k = 5)
        .select("doc_id", "fold")
    }, graft.oracle.HashOracleSql.qKfoldSql(
      "documents", "doc_id", k = 5)),

    // DSIR-style targeted data selection: hashed-unigram importance weights
    // (target = src0 documents, pool = the rest), exact top-k by weight.
    // Both models are <=4096-row broadcasts; scoring is map-only. Parameters
    // mirrored at the HashOracleSql.qDsirSelectSql call site.
    Query("q_dsir_select", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.Dsir.select(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", k = 100L)
    }, graft.oracle.HashOracleSql.qDsirSelectSql(
      "documents", "doc_id", "text", targetPred = "source = 'src0'",
      numBuckets = graft.text.Classifier.numBuckets, k = 100L)),

    // U2 — anti-membership filter: drop turns of flagged conversations.
    Query("q_anti_filter", { (s, dir) =>
      val t = transcripts(s, dir)
      val deny = t.filter(col("role") === "tool").select("conv_id")
      Preprocessing.antiFilter(t.select("conv_id", "turn_idx"), deny, Seq("conv_id"))
    }, withT(
      """SELECT conv_id, turn_idx FROM transcripts
        |WHERE conv_id NOT IN (SELECT DISTINCT conv_id FROM transcripts WHERE role = 'tool')""".stripMargin))
  )
}
