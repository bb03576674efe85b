package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.{BloomMightContain, DedupLines, GopherRules, NgramsWithMultiplicity,
  NormalizedFingerprint, PiiScrub, ReflowLines, RepetitionNums, RollingMinFingerprint,
  WinnowFingerprints, WsTokenCount}

/** Text analysis for training-data pipelines: language-ID heuristic,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd) — no UDF anywhere.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** NONEMPTY whitespace token count (the q_concat_chunks counting rule) —
    * the fused [[graft.expr.WsTokenCount]] kernel (round-7). INT like the
    * composed `size(filter(...))` twin NgramSpec pins it against.
    */
  def nonEmptyTokenCount(text: Column): Column = column(WsTokenCount(expression(text)))

  /** Java regex `\s` as a literal character set — for `translate`-based
    * char counting (round-7): `length(translate(t, WS, ""))` equals
    * `length(regexp_replace(t, "\\s+", ""))` exactly (both drop every
    * [ \t\n\x0B\f\r] code point) with a single codegen'd pass instead of a
    * regex engine scan.
    */
  private val WS = " \t\n\u000B\f\r"

  /** Count of non-whitespace code points — the `translate` form of
    * `length(regexp_replace(t, "\\s+", ""))` (bit-identical, no regex).
    */
  private[graft] def nonWsChars(t: Column): Column = length(translate(t, WS, ""))

  /** Count of ASCII-alpha code points — the `translate` form of
    * `length(regexp_replace(t, "[^A-Za-z]", ""))` (bit-identical, no
    * regex): total length minus the length with every letter deleted.
    */
  private val Alpha =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private def alphaChars(t: Column): Column =
    length(t) - length(translate(t, Alpha, ""))

  /** BPE-ish token count: alpha runs, digit runs, and single other symbols —
    * the standard cheap proxy for subword token counts.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Marker-word language-ID: score per language = #tokens in that
    * language's marker set; winner = max score, ties broken by language code
    * ascending (deterministic). An n-gram heuristic in the character-free
    * limit — adequate for pipeline plumbing; swap the marker table for real
    * profiles in production.
    */
  val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "los", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai")
  )

  def langScores(text: Column): Seq[(String, Column)] =
    markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      // codegen'd set-membership count (graft_count_in) — a filter-HOF form
      // would run an interpreted lambda per token
      lang -> graft.expr.VectorFunctions.countIn(tokens(text), ws)
    }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    // argmax with lang-asc tie-break: fold keeping (bestScore, bestLang)
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestS, bestL), (lang, s)) =>
        (when(s > bestS, s).otherwise(bestS),
         when(s > bestS, lit(lang)).otherwise(bestL))
    }._2
  }

  /** Quality features + a deterministic composite score in [0, 1]:
    * length, token stats, stopword ratio, alpha ratio. Formula is arbitrary
    * but pinned; the point is the single-pass column-expression shape.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t    = col(textCol)
    val toks = tokens(t)
    val stop = markers("en")
    df.withColumn("n_chars", length(t))
      .withColumn("n_tokens", size(toks))
      // round-7: translate-based char counts (values identical, no regex
      // engine — see nonWsChars/alphaChars)
      .withColumn("avg_token_len",
        round(nonWsChars(t).cast("double") /
          greatest(size(toks), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(graft.expr.VectorFunctions.countIn(toks, stop).cast("double") /
          greatest(size(toks), lit(1)), 4))
      .withColumn("alpha_ratio",
        round(alphaChars(t).cast("double") /
          greatest(length(t), lit(1)), 4))
      .withColumn("quality_score",
        round(least(lit(1.0),
          (least(col("n_tokens"), lit(200)) / lit(200.0)) * lit(0.4) +
            col("alpha_ratio") * lit(0.4) +
            least(col("stopword_ratio") * lit(4.0), lit(1.0)) * lit(0.2)), 4))
  }

  /** Reflow text into fixed-token lines: tokens chunked `perLine` at a time,
    * chunks joined by newline. Deterministic layout for line-based quality
    * rules over single-line corpora (and a test fixture generator for
    * [[gopherQualityRules]]); the last line keeps the remainder.
    */
  def reflowLines(text: Column, perLine: Int): Column = {
    require(perLine >= 1, s"perLine must be >= 1, got $perLine")
    // fused kernel ([[graft.expr.ReflowLines]]) — the composed form runs
    // interpreted ArrayTransform lambdas per line per row (round-7)
    column(ReflowLines(expression(text), expression(lit(perLine))))
  }

  /** Gopher-style repetition/format quality rules (Rae et al. 2021, §A1.1 —
    * public): per document, the rule features and a composite pass flag.
    * All PURE column expressions (one codegen'd projection, embarrassingly
    * parallel — the 100 TB shape for per-doc filters).
    *
    * Features (ratios rounded 4dp, the repo's cross-engine float pin):
    *  - `n_words`, `mean_word_len` — whitespace words over ALL lines;
    *  - `symbol_word_ratio` — ('#' count + '...' count) / words;
    *  - `bullet_line_frac` / `ellipsis_line_frac` — lines starting '- '/'* '
    *    resp. ending '...';
    *  - `alpha_word_frac` — words containing an alphabetic char;
    *  - `dup_line_frac` — 1 − distinct/total lines (exact in-row repetition).
    *
    * `gopher_pass` = words ∈ [minWords, maxWords] ∧ mean_word_len ∈ [3, 10]
    * ∧ symbol_word_ratio < 0.1 ∧ bullet < 0.9 ∧ ellipsis < 0.3 ∧ alpha ≥ 0.8
    * ∧ dup_line_frac < 0.3 — the published thresholds (doc-level subset; the
    * n-gram repetition family lives in [[ngramCounts]]/[[graft.dedup.Dedup.spanDedup]]).
    */
  def gopherQualityRules(df: DataFrame, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    // fused kernel ([[graft.expr.GopherRules]]): one pass per row — the
    // composed chain runs two regex splits plus three interpreted
    // ArrayFilter lambdas per row (round-7); GopherRulesSpec pins parity
    val g = column(GopherRules(expression(col(textCol)),
      expression(lit(minWords)), expression(lit(maxWords))))
    df.withColumn("__g", g)
      .withColumn("n_words", col("__g.n_words"))
      .withColumn("mean_word_len", col("__g.mean_word_len"))
      .withColumn("symbol_word_ratio", col("__g.symbol_word_ratio"))
      .withColumn("bullet_line_frac", col("__g.bullet_line_frac"))
      .withColumn("ellipsis_line_frac", col("__g.ellipsis_line_frac"))
      .withColumn("alpha_word_frac", col("__g.alpha_word_frac"))
      .withColumn("dup_line_frac", col("__g.dup_line_frac"))
      .withColumn("gopher_pass", col("__g.gopher_pass"))
      .drop("__g")
  }

  /** Gopher §A1.1's WITHIN-DOC n-gram repetition family (Rae et al. 2021 —
    * public; the half of the published rule set [[gopherQualityRules]]
    * doesn't cover): per document, over word n-grams of the
    * whitespace-split tokens,
    *  - `top_{2,3,4}gram_frac` — fraction of characters covered by all
    *    occurrences of the MOST FREQUENT n-gram (count DESC, gram ASC in
    *    binary string order; 0 unless it occurs ≥ 2 times — a gram seen
    *    once is not repetition);
    *  - `dup_{5..10}gram_frac` — fraction of characters covered by all
    *    occurrences of n-grams occurring ≥ 2 times.
    * Characters = CODE POINTS of the gram (token chars + joining spaces) ×
    * occurrence count, over the single-spaced normalized text's length —
    * overlapping occurrences may overcount, so fractions CAP at 1.0; all
    * rounded 4dp (the repo's cross-engine float pin, integer numerators
    * divided once). `rep_pass` applies the published thresholds to the
    * ROUNDED fractions: top < 0.20/0.18/0.16, dup < 0.15/0.14/0.13/0.12/
    * 0.11/0.10.
    *
    * Scale shape: all nine numerators compute IN-ROW via `graft_repetition`
    * — a map-only projection, no shuffle at all (the 100 TB shape for
    * per-doc filters). The composed test twin (nine n-gram explodes unioned
    * into one (doc, n, gram) count aggregate) is what RepetitionSpec pins
    * parity against; the q_repetition DuckDB oracle replays the same counts
    * via SQL window rank.
    */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val allNs = Seq(2, 3, 4, 5, 6, 7, 8, 9, 10)
    def name(n: Int): String =
      if (n <= 4) s"top_${n}gram_frac" else s"dup_${n}gram_frac"
    val thresholds = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16,
      5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
    val total = greatest(
      length(array_join(split(trim(col(textCol)), "\\s+"), " ")), lit(1))
      .cast("double")
    // numerators inline — the whole operator is ONE projection
    var out = df.select(col(idCol), col(textCol))
      .withColumn("__n9", column(RepetitionNums(expression(col(textCol)))))
    allNs.zipWithIndex.foreach { case (n, i) =>
      out = out.withColumn(name(n),
        round(least(element_at(col("__n9"), i + 1).cast("double") / total,
          lit(1.0)), 4))
    }
    out
      .withColumn("rep_pass",
        allNs.map(n => col(name(n)) < thresholds(n)).reduce(_ && _))
      .drop("__n9", textCol)
  }

  /** PII scrub patterns (C4/CCNet-style redaction — Raffel et al. 2020).
    * Deliberately ASCII-only and backreference-free so Java regex (Spark)
    * and RE2 (DuckDB oracle) accept the same language: emails, dotted-quad
    * IPs, and long (>= 7 digit) identifier runs.
    */
  val piiEmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpRe: String    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiIdRe: String    = "\\d{7,}"

  /** PII redaction: emails → `<EMAIL>`, then IPs → `<IP>`, then long digit
    * runs → `<ID>` — IN THAT ORDER (each tier counts and rewrites the text
    * as left by the previous tier, so an address inside an email never
    * double-counts). Adds `n_emails`/`n_ips`/`n_ids` (INT) and
    * `text_scrubbed`. Pure regexp projection — codegen'd, no shuffle, no
    * UDF; the q_pii_scrub DuckDB oracle replays the identical pattern chain
    * (`regexp_replace(..., 'g')` + `len(regexp_extract_all(...))`).
    */
  def piiScrub(df: DataFrame, textCol: String): DataFrame =
    // fused kernel ([[graft.expr.PiiScrub]]): counts and rewrites each tier
    // in ONE regex pass — 3 passes/doc instead of the composed chain's 6
    // (round-7); whole-stage codegen's subexpression elimination evaluates
    // the struct once per row across the four field extractions (the
    // Drain.matchTemplates pattern)
    df.withColumn("__pii", column(PiiScrub(expression(col(textCol)))))
      .withColumn("n_emails", col("__pii.n_emails"))
      .withColumn("n_ips", col("__pii.n_ips"))
      .withColumn("n_ids", col("__pii.n_ids"))
      .withColumn("text_scrubbed", col("__pii.text_scrubbed"))
      .drop("__pii")

  /** WITHIN-document repeated-line removal (the in-doc complement of the
    * cross-document [[graft.dedup.Dedup.spanDedup]]): keeps the FIRST
    * occurrence of each line, preserves order, and reports `n_lines` /
    * `n_kept` (INT). A line survives iff its 1-based position equals
    * `array_position` of its first occurrence (the composed twin
    * TextCleanSpec pins). Map-only projection; the q_dedup_lines oracle
    * replays it with DuckDB's indexed `list_filter`.
    */
  def dedupLines(df: DataFrame, textCol: String): DataFrame =
    // fused kernel ([[graft.expr.DedupLines]]): one compiled pass with a
    // hash set — the composed filter's `array_position` scan is
    // interpreted and O(lines²) per row (round-7)
    df.withColumn("__dl", column(DedupLines(expression(col(textCol)))))
      .withColumn("n_lines", col("__dl.n_lines"))
      .withColumn("text_dedup", col("__dl.text_dedup"))
      .withColumn("n_kept", col("__dl.n_kept"))
      .drop("__dl")

  /** CROSS-document boilerplate-line removal (the CCNet/C4-style group
    * frequency filter — Wenzek et al. 2020 deduplicate repeated lines
    * corpus-wide before LM training; site headers/footers/nav are the
    * canonical case): a line is boilerplate WITHIN a group (e.g. a source
    * domain) iff it appears in at least `minDf` of the group's documents AND
    * in at least `fracNum/fracDen` of them — an ALL-INTEGER threshold
    * (`df·fracDen ≥ docs·fracNum`), so both engines compare exactly. Every
    * occurrence of a boilerplate line is removed from every doc in the
    * group; line order is preserved; `n_lines`/`n_kept` report the cut.
    * A doc counts once per distinct line (in-doc repeats don't inflate df).
    *
    * Scale shape: the line-df aggregate runs over per-doc DISTINCT lines
    * (the only exchange, two-level hash agg on (group, line)); group doc
    * counts are |groups| rows; the per-group boilerplate ARRAYS are tiny by
    * construction (only high-df lines survive the threshold), so the
    * removal is one broadcast equi-join on the group plus a map-only HOF
    * filter — the lambda tests membership against the JOINED attribute, not
    * a recomputed subtree (the documented O(n²) pitfall does not apply).
    */
  def boilerplateLines(df: DataFrame, idCol: String, groupCol: String,
                       textCol: String, minDf: Long = 2L,
                       fracNum: Int = 1, fracDen: Int = 2): DataFrame = {
    require(fracNum >= 0 && fracDen > 0, "boilerplateLines: bad fraction")
    val lineDf = df.select(col(groupCol).as("__g"),
        explode(array_distinct(split(col(textCol), "\n"))).as("__line"))
      .groupBy("__g", "__line").agg(count(lit(1)).as("__df"))
    val groupDocs = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__docs"))
    val boiler = lineDf.join(broadcast(groupDocs), Seq("__g"))
      .filter(col("__df") >= minDf &&
        col("__df") * lit(fracDen.toLong) >= col("__docs") * lit(fracNum.toLong))
      .groupBy("__g").agg(sort_array(collect_list(col("__line"))).as("__bl"))
    df.join(broadcast(boiler), col(groupCol) === col("__g"), "left")
      .withColumn("__blc", coalesce(col("__bl"), typedlit(Seq.empty[String])))
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept",
        filter(col("__lines"), l => !array_contains(col("__blc"), l)))
      .withColumn("n_lines", size(col("__lines")).cast("int"))
      .withColumn("n_kept", size(col("__kept")).cast("int"))
      .withColumn("text_clean", array_join(col("__kept"), "\n"))
      .drop("__g", "__bl", "__blc", "__lines", "__kept")
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text —
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    // fused kernel ([[graft.expr.NormalizedFingerprint]]) — same regex, same
    // md5, one expression node (round-7); CsvWinnowSpec-family tests and
    // the q_fingerprint/q_curation oracles pin the values
    column(NormalizedFingerprint(expression(text)))

  /** Winnowing-style rolling fingerprint: the minimum md5 over all `w`-char
    * windows of the normalized text (a 1-fingerprint winnow — enough to
    * catch large overlapping chunks; [[winnowFingerprints]] is the real
    * per-window-minima winnow).
    */
  def rollingMinFingerprint(text: Column, w: Int = 16): Column =
    // fused kernel ([[graft.expr.RollingMinFingerprint]]) — the composed
    // form runs one INTERPRETED md5 per window position per row
    column(RollingMinFingerprint(expression(text), expression(lit(w))))

  /** TRUE winnowing (Schleimer, Wilkerson & Aiken, SIGMOD'03 — public
    * algorithm): md5 hashes of all `k`-char grams of the whitespace-normalized
    * lowercase text; from every window of `w` consecutive gram hashes select
    * the MINIMUM; the fingerprint set is the distinct selected hashes. The
    * winnowing guarantee: any shared substring of length ≥ t = w + k - 1
    * yields at least one shared fingerprint (a full window of shared grams
    * exists inside the match, and both sides select its minimum).
    *
    * Texts shorter than `k` fingerprint as a single whole-text hash (so every
    * document carries ≥ 1 fingerprint). Pure column expression: the gram-hash
    * array is let-bound (computed once per row — see [[graft.dedup.Dedup.shingles]]
    * for why) and the window minima re-slice it, O(len · w) per row — w is a
    * small constant (4-16), and per-row cost is what scales embarrassingly.
    *
    * Ties inside a window (md5 collisions between different grams) are
    * irrelevant to the SET semantics: the min VALUE is selected whichever
    * position carries it.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    // fused kernel ([[graft.expr.WinnowFingerprints]]) — the composed form
    // runs one INTERPRETED md5 per k-gram per row
    column(WinnowFingerprints(expression(text), expression(lit(k)), expression(lit(w))))

  /** Word n-grams WITH multiplicity, in document order — the LM-count-table
    * cousin of [[graft.dedup.Dedup.shingles]] (which dedups, Jaccard
    * semantics). Joined by single spaces. The outer `element_at(transform(
    * array(...)))` let-binds the token array so the per-position lambdas
    * don't re-split the text per n-gram (the documented O(n²) HOF pitfall).
    * Fewer than n tokens → empty array. Empty/whitespace-only text → empty
    * array for EVERY n, including n=1: `split("")` yields `[""]`, which
    * would otherwise emit one empty-string unigram into count tables — the
    * empty-gram filter drops it (real tokens from a `\s+` split are never
    * empty, so the filter is a no-op on non-degenerate input).
    */
  def ngramsWithMultiplicity(text: Column, n: Int): Column =
    // fused kernel ([[graft.expr.NgramsWithMultiplicity]]) — the composed
    // per-position lambdas evaluate interpreted per row (round-7);
    // NgramSpec pins parity
    column(NgramsWithMultiplicity(expression(text), expression(lit(n))))

  /** N-gram COUNT TABLE over a corpus (language-model counts, contamination
    * indexes): one row per n-gram with total occurrence count, pruned at
    * `minCount` (the standard LM count-table cutoff).
    *
    * Scale shape: explode + a two-level hash aggregate with map-side partial
    * combine — the canonical word-count plan; hot n-grams collapse per task
    * before the single count shuffle, and the minCount filter runs after the
    * final aggregate (it cannot be pushed below it). Cross-engine exact for
    * printable-ASCII text (Java `\s+` vs RE2 — same caveat as every text
    * oracle in this repo).
    */
  def ngramCounts(df: DataFrame, textCol: String, n: Int,
                  minCount: Long = 1L): DataFrame =
    df.select(explode(ngramsWithMultiplicity(col(textCol), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Train/test CONTAMINATION overlap — the decontamination primitive: for
    * each test document, the fraction of its distinct n-grams that appear
    * anywhere in the training corpus. Output: (id, n_grams, n_hit, overlap
    * rounded 4dp), one row per test doc that has at least one n-gram.
    *
    * Scale shape: corpus grams deduped once (map-side partial distinct),
    * then ONE equi-join on the n-gram key — corpus-side keys unique so the
    * join never fans out — and a per-doc count aggregate. Test sets are
    * usually tiny next to the corpus; AQE broadcasts the test side when it
    * fits, and the shuffle join co-partitions on the gram key otherwise.
    */
  def ngramContamination(test: DataFrame, corpus: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val cGrams = corpus
      .select(explode(ngramsWithMultiplicity(col(textCol), n)).as("ngram"))
      .distinct()
      .withColumn("__hit", lit(1))
    val tGrams = test.select(col(idCol),
        explode(array_distinct(ngramsWithMultiplicity(col(textCol), n))).as("ngram"))
    tGrams.join(cGrams, Seq("ngram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).cast("long").as("n_hit"))
      .withColumn("overlap", col("n_hit") / col("n_grams"))
  }

  /** Decontamination SCALE path: the corpus n-gram set folded into a BLOOM
    * FILTER (one aggregation pass — `DataFrameStatFunctions.bloomFilter`,
    * an order-independent OR of hash bits, so the bitmap is deterministic
    * for a given (expectedItems, fpp)), broadcast once, probed map-only on
    * the test side. NO shuffle join at all — where [[ngramContamination]]
    * shuffles the full corpus gram table on the gram key, this ships a
    * bitmap sized by fpp (~1.2 GB at 10^9 grams / 1% fpp) and the test
    * pass never exchanges.
    *
    * Semantics: NO false negatives ever (a contaminated gram is never
    * missed — the guarantee decontamination actually needs); `n_hit` is
    * biased UP by at most ~fpp·n_grams, so `overlap` upper-bounds the exact
    * value. Not oracle-able (the bitmap layout is Spark's sketch impl);
    * NgramSpec pins hit-superset vs the exact join and the fp-rate bound
    * instead.
    *
    * The probe is the codegen'd [[graft.expr.BloomMightContain]] expression
    * (broadcast handle in the plan, `bc.value` once per task, zero per-row
    * `String` allocation, stays inside whole-stage codegen); it probes the
    * same UTF-8-byte hash as `mightContainString` — NgramSpec pins parity
    * and the no-ScalaUDF plan shape.
    */
  def ngramContaminationBloom(test: DataFrame, corpus: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              expectedItems: Long, fpp: Double): DataFrame = {
    val cGrams = corpus
      .select(explode(ngramsWithMultiplicity(col(textCol), n)).as("ngram"))
    val bloom = cGrams.stat.bloomFilter("ngram", expectedItems, fpp)
    val bloomBc = test.sparkSession.sparkContext.broadcast(bloom)
    val probed = column(BloomMightContain(expression(col("ngram")), bloomBc))
    test.select(col(idCol),
        explode(array_distinct(ngramsWithMultiplicity(col(textCol), n))).as("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(probed.cast("long")).as("n_hit"))
      .withColumn("overlap", col("n_hit") / col("n_grams"))
  }
}
