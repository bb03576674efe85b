package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Rank

/** Stupid-backoff bigram language-model scoring (Brants et al. 2007, "Large
  * Language Models in Machine Translation" — the public web-scale LM score
  * CCNet-style quality filtering is built on): score each document by its
  * average per-bigram log10 score against count tables mined from a corpus.
  *
  *   S(w2 | w1) = c(w1 w2) / c(w1)            when the bigram was seen
  *              = alpha * (c(w2) / N)          otherwise (backoff; alpha=0.4)
  *
  * PINNED cross-engine semantics (q_lm_score replays them in DuckDB):
  *  - tokens: whitespace split of trimmed text (the repo-wide convention);
  *    docs with < 2 tokens emit no bigram and drop out of the result;
  *  - unseen w2 backs off with c(w2) := 1 (the add-one floor, so the score
  *    is always positive and log-able); a SEEN bigram always has c(w1) > 0
  *    (c(w1) >= c(w1 w2) by construction);
  *  - per-occurrence scores are quantized to an integer micro-log grid —
  *    `CAST(round(log10(s) * 1e6) AS BIGINT)` — and summed as BIGINT, so
  *    the aggregate is ORDER-INDEPENDENT and exact across engines (the
  *    ivfTopK floor-scaled-long trick; a raw double sum over shuffled
  *    partitions is nondeterministic in its low bits);
  *  - `avg_logprob` = round((sum / 1e6) / n_bigrams, 4).
  *
  * Scale shape: two count tables via the canonical word-count plan (explode
  * + two-level hash agg with map-side combine), then THREE equi-joins whose
  * build sides are unique-keyed count tables (no fan-out; AQE broadcasts
  * them when small) and one per-doc aggregate. The corpus total N rides a
  * broadcast single-row cross join. Nothing wider than (doc, bigram) ever
  * shuffles.
  */
object LmScore {

  val alpha: Double = 0.4

  /** Per-doc (idCol, n_bigrams, n_backoff, avg_logprob 4dp). */
  def stupidBackoff(docs: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val uni = corpus
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val bi = TextAnalysis.ngramCounts(corpus, textCol, n = 2, minCount = 1L)
    val total = uni.agg(sum(col("cnt")).cast("long").as("__n"))

    val occ = docs.select(col(idCol),
        explode(TextAnalysis.ngramsWithMultiplicity(col(textCol), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))

    val joined = occ
      .join(bi.withColumnRenamed("ngram", "g").withColumnRenamed("cnt", "c2"), Seq("g"), "left")
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1w1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cnt").as("c1w2")), Seq("w2"), "left")
      .crossJoin(broadcast(total))

    val s = when(col("c2").isNotNull, col("c2") / col("c1w1"))
      .otherwise(lit(alpha) * (coalesce(col("c1w2"), lit(1L)) / col("__n")))
    joined
      .withColumn("__sc", round(log10(s) * lit(1e6)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("c2").isNull, lit(1))).as("n_backoff"),
        sum(col("__sc")).as("__sum"))
      .withColumn("avg_logprob",
        round(col("__sum").cast("double") / lit(1e6) / col("n_bigrams"), 4))
      .drop("__sum")
  }

  /** CCNet-style per-language perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): score every document with [[stupidBackoff]], then split each
    * language's documents into head / middle / tail TERCILES by exact rank
    * (best avg_logprob first; ties broken by id ascending, so the buckets
    * are deterministic across engines).
    *
    * Bucket rule over the 1-based within-language rank r of n docs:
    * head iff 3r <= n, middle iff 3r <= 2n, else tail — the exact-integer
    * form of "first third / second third / last third".
    *
    * Scale shape: the naive formulation is
    * `row_number().over(Window.partitionBy(lang).orderBy(...))` — ONE TASK
    * PER LANGUAGE, a scale-killer when one language dominates the crawl
    * (English is ~45% of Common Crawl). Instead the rank is
    * [[Rank.groupRowNumber]] over (-score, id) within each language.
    */
  def pplBuckets(docs: DataFrame, corpus: DataFrame,
                 idCol: String, textCol: String, langCol: String): DataFrame = {
    val scored = stupidBackoff(docs, corpus, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    Rank.groupRowNumber(scored, langCol,
        Seq(col("avg_logprob").desc, col(idCol)), "lang_rank", "__n")
      .withColumn("bucket",
        when(col("lang_rank") * 3 <= col("__n"), lit("head"))
          .when(col("lang_rank") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("n_bigrams"), col("avg_logprob"),
        col("lang_rank"), col("bucket"))
  }
}
