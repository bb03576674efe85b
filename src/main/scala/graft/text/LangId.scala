package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.LangIdClassify

/** Cavnar–Trenkle rank-order language identification ("N-Gram-Based Text
  * Categorization", SDAIR'94 — public): a language profile is the top-K
  * character n-grams of its training text ranked by frequency; a document
  * is scored against each profile by the sum of rank displacements of its
  * own top-M grams (out-of-profile grams pay a fixed penalty); the language
  * with the smallest distance wins. The real upgrade over the marker-word
  * heuristic [[TextAnalysis.langId]] (kept as the cheap tier).
  *
  * PINNED semantics (every choice is cross-engine replayed by the
  * q_langid_profiles DuckDB oracle):
  *  - grams: TRIGRAMS of `' ' + lower(whitespace-normalized text) + ' '`;
  *    documents whose normalized text has no trigram (< 3 chars) drop out;
  *  - profiles: derived AT INIT from the pinned marker-word table
  *    ([[TextAnalysis.markers]], words joined by single spaces) by the same
  *    trigram procedure — rank = position under (count DESC, gram ASC),
  *    top [[profileSize]]; the SQL VALUES are generated from the SAME
  *    computed profiles ([[profilesSqlValues]] — lockstep fixture);
  *  - distance: over the doc's top-[[profileSize]] grams,
  *    Σ |doc_rank − profile_rank|, absent grams contribute [[penalty]];
  *  - winner: min distance, ties broken by language code ascending
  *    (a lexicographic min over (dist, lang) structs).
  *
  * Scale shape: [[classify]] runs the whole per-doc trigram count, rank
  * and profile distance IN-ROW (`graft_langid`) — one map-only
  * projection. The composed test twins (a `graft_trigram_topk` top-K or a
  * position-explode count agg, then a broadcast profile join and two
  * aggregates) are what LangIdSpec pins it against, including unicode and
  * tie edges.
  */
object LangId {

  val nGram: Int       = 3
  val profileSize: Int = 20
  val penalty: Int     = 20

  /** Trigram rank profile of a training text: (gram, rank) with rank from 1,
    * ordered by (count DESC, gram ASC), truncated to [[profileSize]].
    */
  def profileOf(text: String): Seq[(String, Int)] = {
    val norm  = " " + text.trim.toLowerCase.replaceAll("\\s+", " ") + " "
    val grams = (0 to norm.length - nGram).map(i => norm.substring(i, i + nGram))
    grams.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (g, c) => (-c, g) }
      .take(profileSize).zipWithIndex
      .map { case ((g, _), i) => (g, i + 1) }
  }

  /** (lang, gram, rank) rows for every pinned language. */
  val profiles: Seq[(String, String, Int)] =
    TextAnalysis.markers.toSeq.sortBy(_._1).flatMap { case (lang, ws) =>
      profileOf(ws.mkString(" ")).map { case (g, r) => (lang, g, r) }
    }

  /** The profile table as a SQL VALUES body — the DuckDB twin of
    * [[profiles]] (lockstep: both derive from the same marker fixture).
    */
  def profilesSqlValues: String =
    profiles.map { case (l, g, r) => s"('$l', '${g.replace("'", "''")}', $r)" }
      .mkString(", ")

  /** Classify each document: (idCol, lang_ct, dist).
    *
    * Fused (round-7, guide §2.4): `graft_langid` computes the
    * winning (lang, distance) IN-ROW against the pinned broadcast-free
    * profile constants, so the whole operator is one map-only projection —
    * the composed chain explodes the per-doc top-K grams, cross-joins the
    * language list and runs two aggregates. LangIdSpec pins parity.
    */
  def classify(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // pre-filter on the CHEAP equivalent of "kernel returns null": the
    // kernel is null iff normalize(text) is EMPTY, and normalize (a \s+
    // -> single-space replaceAll over the 0x20-trimmed text) yields ""
    // iff the trim does - non-0x20 whitespace normalizes to a space,
    // which is >= 1 char and pads to a valid trigram. Filtering here
    // keeps predicate pushdown from re-inlining the kernel into a Filter
    // and running it twice per row (guide 4.4, round-7 plan audit).
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        column(LangIdClassify(expression(col(textCol)))).as("__l"))
      .select(col(idCol), col("__l.lang_ct").as("lang_ct"),
        col("__l.dist").as("dist"))
}
