package graft

import org.apache.spark.sql.DataFrame

import graft.sources.Transcripts
import graft.pipeline.Pipeline
import graft.util.BenchSupport.{benchSession, rmrf, workDir}

/** Per-round benchmark main (driver contract): headline queries on
  * SPARK_GRAFT_SF_DIR, ONE JSON line on stdout.
  *
  * "pipeline" is the end-to-end parse→enrich→route→window→aggregate job
  * (the north-rule metric); the remaining entries time individual operators
  * (forced through a noop sink so column pruning can't skip work).
  *
  * Methodology (visible in the JSON as the per-entry `"best_of"` object):
  * EVERY timed entry — including the large-pipeline throughput run — is the
  * minimum of two executions (three for the entries with a measured history
  * of 2×+ steal-noise swings). This host shows 2-7× CPU-steal storms; a single
  * sample can triple with zero code change (round 2 recorded exactly that on
  * the one entry that was then measured once). Work dir + shuffle dir live
  * on tmpfs (/dev/shm) so a shared-disk stall can't masquerade as compute,
  * same placement as ScalingBench. The large run is also A/B'd against the
  * plain (non-bucketed) route layout in the same interleaving —
  * `"ab_route"` in the JSON — so a bucketing cost can never hide as noise.
  */
object Bench {

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // individual operators: (JSON key, SparkEntry query, reps). Default best-of-2;
  // lang_quality and minhash_lsh showed 2.2× cross-round swings at
  // best-of-2 (rounds 3-4, both times confirmed as host steal, both ~1 s)
  // — best-of-3 there so phantom regressions stop flapping the bench.
  val singles: Seq[(String, String, Int)] = Seq(
    ("parse_structured",  "q_parse_structured",    2),
    ("session_seq",       "q_session_seq",         2),
    ("fixed_window",      "q_fixed_window",        2),
    ("history_window",    "q_history",             2),
    ("tfidf",             "q_tfidf",               2),
    ("deltat",            "q_deltat",              2),
    ("dedup_exact",       "q_dedup_exact",         2),
    ("minhash_lsh",       "q_minhash_lsh",         3),
    ("embed_dedup_lsh",   "q_embed_dedup_lsh",     2),
    ("ann_brute",         "q_ann_brute",           2),
    ("lang_quality",      "q_lang_quality",        3),
    ("q1_agg",            "q1_agg",                2),
    // round-4 beyond-reference operators (baselines started round 4)
    ("asof_enrich",       "q_asof_enrich",         2),
    ("range_join",        "q_range_join",          2),
    ("kmv_distinct",      "q_kmv_distinct",        2),
    // round-5 operators (baselines start this round)
    ("kmv_grouped",       "q_kmv_grouped",         2),
    ("image_headers",     "q_image_headers",       2),
    ("ngram_counts",      "q_ngram_counts",        2),
    ("ngram_overlap",     "q_ngram_overlap",       2),
    ("pack_budget",       "q_pack_budget",         2),
    // round-6 operators (baselines start this round)
    ("span_dedup",        "q_span_dedup",          2),
    ("bpe_tokens",        "q_bpe_tokens",          2),
    ("langid_profiles",   "q_langid_profiles",     2),
    ("quality_rules",     "q_quality_rules",       2),
    ("pii_scrub",         "q_pii_scrub",           2),
    ("dedup_lines",       "q_dedup_lines",         2),
    ("lm_score",          "q_lm_score",            2),
    ("domain_mix",        "q_domain_mix",          2),
    ("curation",          "q_curation",            2),
    ("repetition",        "q_repetition",          2),
    ("ann_pq",            "q_ann_pq",              2),
    ("ann_ivfpq",         "q_ann_ivfpq",           2),
    ("boilerplate",       "q_boilerplate",         2),
    ("semdedup",          "q_semdedup",            2),
    ("bpe_train",         "q_bpe_train",           2),
    ("quality_classifier", "q_quality_classifier", 2),
    ("ppl_buckets",       "q_ppl_buckets",         2),
    ("dsir_select",       "q_dsir_select",         2),
    ("concat_chunks",     "q_concat_chunks",       2),
    ("cms_cells",         "q_cms_cells",           2),
    ("bm25_topk",         "q_bm25_topk",           2),
    ("exact_quantiles",   "q_exact_quantiles",     2),
    // late-round-6 operators (baselines start this round)
    ("kmv_jaccard",       "q_kmv_jaccard",         2),
    ("stratified_sample", "q_stratified_sample",   2),
    ("split_assign",      "q_split_assign",        2),
    ("mixture_epochs",    "q_mixture_epochs",      2),
    ("negative_sample",   "q_negative_sample",     2),
    ("weighted_sample",   "q_weighted_sample",     2),
    ("sft_pairs",         "q_sft_pairs",           2),
    ("sft_budget",        "q_sft_budget",          2),
    ("text_chunks",       "q_text_chunks",         2),
    ("snapshot_diff",     "q_snapshot_diff",       2)
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // tmpfs work dir: measure compute, not the sandbox's single shared disk
    // (a real cluster's storage scales with executors; ScalingBench has used
    // this placement since round 2)
    val work = workDir("graft-bench")
    val spark = benchSession(cpus, work)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    var turns = 0L

    // JIT/codegen warmup on the smallest SF so measured numbers are
    // steady-state (first-run codegen at high thread counts is ~10× slower)
    Pipeline.run(spark, Transcripts.fromEvents(spark, "/root/testdata/sf0.001"),
      s"$work/warmup")

    // end-to-end pipeline (includes routed sink writes + metrics):
    // best-of-2 like everything else; each rep gets a fresh stage dir (a
    // reused dir would resume completed stages and time nothing)
    val pipeReps = (1 to 2).map { r =>
      val (res, t) = timed {
        Pipeline.run(spark, Transcripts.fromEvents(spark, sfDir), s"$work/pipe$r")
      }
      rmrf(s"$work/pipe$r")
      turns = res.turns
      t
    }
    results += "pipeline" -> pipeReps.min

    // best-of-N minimum = the least-interfered estimate on a host with 2-3×
    // CPU-steal storms (see BASELINE.md methodology)
    singles.foreach { case (name, q, reps) =>
      val fn = SparkEntry.queries(q)
      val t = (1 to reps).map(_ => timed(force(fn(spark, sfDir)))._2).min
      results += name -> t
    }
    val bestOfJson = ("\"default\":2" +: singles.collect {
      case (name, _, reps) if reps != 2 => "\"" + name + s"\":$reps"
    }).mkString("{", ",", "}")

    // throughput-representative run: the sf-dir pipeline is dominated by
    // fixed per-stage overhead at 10^5 rows; a ~3M-turn synthetic input
    // (generation excluded from timing) measures sustained turns/sec.
    // Interleaved bucketed/plain best-of-2 (b1, p1, b2, p2): the headline is
    // min(bucketed); min(plain) is the A/B control for the route layout.
    val largeIn = s"$work/large_in"
    Transcripts.synthetic(spark, 150000, seed = 42L, partitions = 64)
      .write.mode("overwrite").parquet(largeIn)
    var largeTurns = 0L
    def largeRun(tag: String, bucketed: Boolean): Double = {
      val dir = s"$work/large_$tag"
      val (res, t) = timed {
        Pipeline.run(spark, spark.read.parquet(largeIn), dir,
          bucketRoute = bucketed)
      }
      rmrf(dir) // bound tmpfs usage across reps
      largeTurns = res.turns
      t
    }
    val largeB = Array.ofDim[Double](2)
    val largeP = Array.ofDim[Double](2)
    (0 until 2).foreach { r =>
      largeB(r) = largeRun(s"b$r", bucketed = true)
      largeP(r) = largeRun(s"p$r", bucketed = false)
    }
    val tLarge = largeB.min
    results += "pipeline_3m_turns" -> tLarge

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val tput  = turns / results("pipeline")
    val tputL = largeTurns / tLarge
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","turns":$turns,"pipeline_turns_per_sec":$tput%.1f,"large_turns":$largeTurns,"pipeline_large_turns_per_sec":$tputL%.1f,"best_of":$bestOfJson,"ab_route":{"bucketed_sec":${f"$tLarge%.3f"},"plain_sec":${f"${largeP.min}%.3f"},"bucketed_reps":[${largeB.map(t => f"$t%.3f").mkString(",")}],"plain_reps":[${largeP.map(t => f"$t%.3f").mkString(",")}]}}"""
    // stdout (unprefixed — build.sbt sets run/outputStrategy := StdoutOutput)
    // AND a file, so the driver can parse the metrics either way
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), line + "\n")
    spark.stop()
    rmrf(work)
  }
}
