package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Rank

/** BM25 lexical retrieval (Robertson et al., Okapi at TREC-3; the idf form
  * is the always-positive Lucene variant) — the inverted-index complement to
  * the embedding ANN stack: exact top-k documents per query by term overlap.
  *
  *   score(d, q) = sum over distinct query terms t present in d of
  *     ln((N - df + 0.5) / (df + 0.5) + 1.0)
  *       * (tf * (k1+1)) / (tf + k1 * ((1-b) + b * dl/avgdl))
  *
  * PINNED cross-engine semantics ([[topKSql]] replays them in DuckDB):
  *  - tokens: whitespace split of trimmed text, empty tokens dropped (the
  *    repo-wide convention); query terms are the DISTINCT token set (query
  *    term multiplicity is ignored — classic BM25);
  *  - N = total input documents (empty docs count toward N and avgdl);
  *    dl = the doc's nonempty token count; avgdl = sum(dl) / N as DOUBLE;
  *  - per-term scores are quantized to the integer micro grid
  *    `CAST(round((idf * tfpart) * 1e6) AS BIGINT)` and summed as BIGINT,
  *    so the per-doc aggregate is ORDER-INDEPENDENT and exact across
  *    engines (the LmScore pattern; both factors are strictly positive);
  *    the double op ORDER inside each factor is pinned — change either
  *    engine's parenthesization and the grid values drift;
  *  - only docs sharing >= 1 term with the query appear (inverted-index
  *    semantics); rank = (score_micro DESC, doc id ASC), kept iff rank <= k.
  *
  * Scale shape: tf/df/dl are canonical word-count aggregates (map-side
  * combined); the query-term table is a few-row BROADCAST so candidate
  * generation is a map-only probe of the posting rows; the per-query top-k
  * rank is [[Rank.groupRowNumber]] over (-score, id) — never a
  * one-task-per-query window (one hot query would otherwise serialize its
  * whole candidate set into one task).
  */
object Bm25 {

  val k1: Double = 1.2
  val b: Double = 0.75

  /** All scored (query, doc) candidates:
    * (query_id, idCol, n_terms_matched, score_micro, rk, kept).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: Seq[(String, String)], k: Long): DataFrame = {
    require(queries.nonEmpty, "BM25 needs at least one query")
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = docs.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
    val tf = toks.groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val df = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // dl and the corpus token total DERIVE FROM tf (Σ tf per doc / overall)
    // rather than re-aggregating `toks` (round-7, guide §2.4): every branch
    // then shares tf's (id, term) exchange via ReuseExchange, so the
    // tokenize+explode scan runs ONCE per query instead of three times.
    // Values are identical — tf partitions the occurrence stream, so the
    // sums equal the occurrence counts, and empty docs appear in neither
    // formulation.
    val dl = tf.groupBy(col(idCol)).agg(sum(col("__tf")).as("__dl"))
    // N counts ALL docs (empty ones too); avgdl divides by the same N
    val stats = docs.agg(count(lit(1)).cast("long").as("__n"))
      .crossJoin(tf.agg(sum(col("__tf")).cast("long").as("__toktot")))
      .select(col("__n"),
        (col("__toktot").cast("double") / col("__n").cast("double"))
          .as("__avgdl"))

    val qterms = queries
      .flatMap { case (qid, q) =>
        q.trim.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t))
      }
      .toDF("query_id", "__t")

    val idf = log(
      ((col("__n") - col("__df")).cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)) + lit(1.0))
    val norm = lit(1.0 - b) + lit(b) *
      (col("__dl").cast("double") / col("__avgdl"))
    val tfpart = (col("__tf").cast("double") * lit(k1 + 1.0)) /
      (col("__tf").cast("double") + lit(k1) * norm)

    val scored = tf
      .join(broadcast(qterms), Seq("__t"))
      .join(df, Seq("__t"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("__s", round(idf * tfpart * lit(1e6)).cast("long"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("__s")).as("score_micro"))

    Rank.groupRowNumber(scored, "query_id",
        Seq(col("score_micro").desc, col(idCol)), "rk", "__n")
      .withColumn("kept", when(col("rk") <= k, lit(1)).otherwise(lit(0)))
      .select(col("query_id"), col(idCol), col("n_terms_matched"),
        col("score_micro"), col("rk"), col("kept"))
  }

  /** DuckDB twin of [[topK]] — same tokenization, the same pinned double op
    * order inside each factor, the same micro-grid quantization, and the
    * same (score DESC, id ASC) rank (the single-task window is the oracle's
    * prerogative). Query terms are re-derived HERE from the same `queries`
    * fixture, so both engines consume one source of truth.
    */
  def topKSql(table: String, idCol: String, textCol: String,
              queries: Seq[(String, String)], k: Long): String = {
    // Fixture strings are interpolated into SQL literals unescaped; a
    // future fixture with an apostrophe would emit invalid/wrong oracle
    // SQL — fail loudly at generation time instead.
    require(queries.forall { case (qid, q) =>
      !qid.contains("'") && !q.contains("'")
    }, "bm25 query fixtures must not contain single quotes (unescaped SQL literals)")
    val qvals = queries
      .flatMap { case (qid, q) =>
        q.trim.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid', '$t')")
      }
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         unnest(regexp_split_to_array(trim($textCol), '\\s+')) AS t
       |  FROM $table),
       |occ AS (SELECT id, t FROM toks WHERE t <> ''),
       |tf AS (SELECT id, t, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY id, t),
       |dfr AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
       |dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM occ GROUP BY id),
       |st AS (
       |  SELECT CAST((SELECT count(*) FROM $table) AS BIGINT) AS n,
       |         CAST(count(*) AS DOUBLE) /
       |           CAST((SELECT count(*) FROM $table) AS DOUBLE) AS avgdl
       |  FROM occ),
       |qt AS (SELECT * FROM (VALUES $qvals) q(query_id, t)),
       |sc AS (
       |  SELECT qt.query_id, tf.id,
       |    CAST(round((
       |      ln((CAST(st.n - dfr.df AS DOUBLE) + 0.5) /
       |          (CAST(dfr.df AS DOUBLE) + 0.5) + 1.0) *
       |      ((CAST(tf.tf AS DOUBLE) * ${k1 + 1.0}) /
       |       (CAST(tf.tf AS DOUBLE) + $k1 *
       |        (${1.0 - b} + $b * (CAST(dl.dl AS DOUBLE) / st.avgdl))))
       |      ) * 1e6) AS BIGINT) AS s
       |  FROM tf JOIN qt ON tf.t = qt.t
       |          JOIN dfr ON tf.t = dfr.t
       |          JOIN dl ON tf.id = dl.id
       |          CROSS JOIN st),
       |agg AS (
       |  SELECT query_id, id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       |         CAST(sum(s) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY query_id, id),
       |rk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, id) AS BIGINT) AS rk
       |  FROM agg)
       |SELECT query_id, id AS $idCol, n_terms_matched, score_micro, rk,
       |       CAST(CASE WHEN rk <= $k THEN 1 ELSE 0 END AS INT) AS kept
       |FROM rk""".stripMargin
  }
}
