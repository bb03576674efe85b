package graft.queries

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

import QueryScaffold._

/** Text curation (language id, quality rules, PII, repetition, line dedup),
  * n-gram / LM scoring, BPE, retrieval and packing queries over `documents`.
  */
private[graft] object TextQueries {

  /** Pinned BM25 query fixture — ONE source of truth consumed by both the
    * q_bm25_topk Spark call AND its Bm25.topKSql oracle twin (q3's first
    * term is absent from the corpus on purpose: partial-match path).
    */
  private val bm25Queries: Seq[(String, String)] = Seq(
    "q0" -> "scan merge window",
    "q1" -> "vector join",
    "q2" -> "customer slow filter",
    "q3" -> "zeppelin scan")

  val all: Seq[Query] = Seq(
    // BM25 lexical top-k retrieval (Okapi; Lucene always-positive idf):
    // exact inverted-index scoring of the pinned query fixture, per-term
    // scores on the integer micro grid (order-independent per-doc sum),
    // per-query rank via the distributed global rank — never a
    // one-task-per-query window. Fixture + k shared with the oracle twin
    // (Bm25.topKSql consumes the same Seq).
    Query("q_bm25_topk", { (s, dir) =>
      graft.text.Bm25.topK(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", bm25Queries, k = 10L)
    }, graft.text.Bm25.topKSql(
      "documents", "doc_id", "text", bm25Queries, k = 10L)),

    // RAG-style per-doc sliding token chunks (size 32, stride 24 → 8-token
    // overlap): map-only bounded explode. Params mirrored in the oracle.
    Query("q_text_chunks", { (s, dir) =>
      graft.agg.Packing.slidingTextChunks(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
        "doc_id", "text", chunkSize = 32, stride = 24)
    },
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text),
        |    '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |ch AS (SELECT doc_id, t, n,
        |         CAST(unnest(range(0, ((n - 1) // 24) + 1)) AS INT) AS chunk_idx
        |       FROM nz)
        |SELECT doc_id, chunk_idx,
        |       array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32],
        |         ' ') AS chunk,
        |       CAST(least(n - chunk_idx * 24, 32) AS BIGINT) AS chunk_tokens
        |FROM ch""".stripMargin),

    // language-ID + quality scoring.
    Query("q_lang_quality", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.qualityFeatures(d, "text")
        .withColumn("lang_id", TextAnalysis.langId(col("text")))
        .select("doc_id", "lang_id", "n_chars", "n_tokens", "avg_token_len",
          "stopword_ratio", "alpha_ratio", "quality_score")
    },
      """WITH f AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(length(text) AS INT) AS n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','of','and','is','to'], x))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['el','la','los','que','y','es'], x))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['le','la','les','et','est','une'], x))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['de','shi','le','bu','wo','zai'], x))) AS s_zh,
        |    round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0 /
        |          greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 4) AS avg_token_len,
        |    round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |          x -> list_contains(['the','a','of','and','is','to'], x))) * 1.0 /
        |          greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 4) AS stopword_ratio,
        |    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1), 4) AS alpha_ratio
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_id,
        |  n_chars, n_tokens, avg_token_len, stopword_ratio, alpha_ratio,
        |  round(least(1.0, (least(n_tokens, 200) / 200.0) * 0.4 + alpha_ratio * 0.4 +
        |        least(stopword_ratio * 4.0, 1.0) * 0.2), 4) AS quality_score
        |FROM f""".stripMargin),

    // Cavnar-Trenkle rank-order language ID: char-trigram profiles derived
    // from the pinned marker fixture, rank-displacement distance, argmin.
    Query("q_langid_profiles", { (s, dir) =>
      graft.text.LangId.classify(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    },
    // Cavnar-Trenkle: DuckDB re-derives doc trigram top-20 ranks and scores
    // them against the SAME profile table (LangId.profilesSqlValues is
    // generated from the Scala fixture — lockstep).
      s"""WITH prof(lang, gram, rl) AS (VALUES ${graft.text.LangId.profilesSqlValues}),
         |langs AS (SELECT DISTINCT lang FROM prof),
         |n AS (SELECT doc_id, ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS s
         |      FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, length(s) - 1),
         |        i -> substr(s, CAST(i AS INT), 3))) AS gram FROM n),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
         |top AS (SELECT doc_id, gram, rd FROM (
         |  SELECT doc_id, gram, CAST(row_number() OVER (
         |           PARTITION BY doc_id ORDER BY cnt DESC, gram) AS INT) AS rd
         |  FROM c) WHERE rd <= ${graft.text.LangId.profileSize}),
         |d AS (SELECT t.doc_id, l.lang,
         |        CAST(sum(coalesce(abs(t.rd - p.rl), ${graft.text.LangId.penalty})) AS BIGINT) AS dist
         |      FROM top t CROSS JOIN langs l
         |      LEFT JOIN prof p ON p.lang = l.lang AND p.gram = t.gram
         |      GROUP BY t.doc_id, l.lang)
         |SELECT doc_id, lang AS lang_ct, dist FROM (
         |  SELECT doc_id, lang, dist,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
         |  FROM d) WHERE rn = 1""".stripMargin),

    // Gopher-style quality rule set (Rae et al. 2021) over a deterministic
    // 7-token-per-line reflow of the single-line corpus (so the line-based
    // rules are non-degenerate); one codegen'd projection.
    Query("q_quality_rules", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("lined", TextAnalysis.reflowLines(col("text"), 7))
      TextAnalysis.gopherQualityRules(d, "lined")
        .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
          "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
          "dup_line_frac", "gopher_pass")
    },
    // Gopher rules: DuckDB rebuilds the identical 7-token reflow, then the
    // same feature chain (rounded 4dp with the same op order) and the same
    // threshold conjunction over the ROUNDED features.
      """WITH lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(0, (len(t) + 6) // 7),
        |      i -> array_to_string(t[i*7+1:i*7+7], ' ')), chr(10)) AS lx
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(lx), '\s+')) AS INT) AS n_words,
        |    round(length(regexp_replace(lx, '\s+', '', 'g')) * 1.0 /
        |          greatest(len(regexp_split_to_array(trim(lx), '\s+')), 1), 4) AS mean_word_len,
        |    round(((length(lx) - length(replace(lx, '#', ''))) +
        |           (length(lx) - length(replace(lx, '...', ''))) / 3.0) /
        |          greatest(len(regexp_split_to_array(trim(lx), '\s+')), 1), 4) AS symbol_word_ratio,
        |    round(len(list_filter(string_split(lx, chr(10)),
        |          l -> substr(l, 1, 2) = '- ' OR substr(l, 1, 2) = '* ')) * 1.0 /
        |          greatest(len(string_split(lx, chr(10))), 1), 4) AS bullet_line_frac,
        |    round(len(list_filter(string_split(lx, chr(10)), l -> l LIKE '%...')) * 1.0 /
        |          greatest(len(string_split(lx, chr(10))), 1), 4) AS ellipsis_line_frac,
        |    round(len(list_filter(regexp_split_to_array(trim(lx), '\s+'),
        |          w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 /
        |          greatest(len(regexp_split_to_array(trim(lx), '\s+')), 1), 4) AS alpha_word_frac,
        |    round(1.0 - len(list_distinct(string_split(lx, chr(10)))) * 1.0 /
        |          greatest(len(string_split(lx, chr(10))), 1), 4) AS dup_line_frac
        |  FROM lined)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
        |  ellipsis_line_frac, alpha_word_frac, dup_line_frac,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_word_ratio < 0.1 AND bullet_line_frac < 0.9
        |   AND ellipsis_line_frac < 0.3 AND alpha_word_frac >= 0.8
        |   AND dup_line_frac < 0.3) AS gopher_pass
        |FROM f""".stripMargin),

    // Gopher §A1.1 n-gram repetition family: every 5th doc gets a planted
    // 12-word phrase repeated 3× appended, so top-{2,3,4} and dup-{5..10}
    // all exercise nonzero fractions (and rep_pass both branches) at every
    // SF; the oracle replays the identical augmentation + counts via SQL
    // window rank.
    Query("q_repetition", { (s, dir) =>
      val plant = " pack my box with five dozen liquid jugs again and again now"
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("rtext",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(plant + plant + plant)))
            .otherwise(col("text")))
      TextAnalysis.repetitionFeatures(d, "doc_id", "rtext")
    },
    // Repetition family: identical planted augmentation, then per (doc, n)
    // the same top-gram selection (count DESC, gram ASC — window rank) and
    // dup sums as INTEGER numerators, one double division + round at the
    // end (the repo's cross-engine float pin).
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text ||
        |    ' pack my box with five dozen liquid jugs again and again now' ||
        |    ' pack my box with five dozen liquid jugs again and again now' ||
        |    ' pack my box with five dozen liquid jugs again and again now'
        |    ELSE text END AS rtext FROM documents),
        |base AS (
        |  SELECT doc_id, t, greatest(length(array_to_string(t, ' ')), 1) AS total
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(rtext), '\s+') AS t FROM aug)),
        |grams AS (
        |  SELECT doc_id, ns.n AS n,
        |    unnest(list_transform(range(0, greatest(len(t) - (ns.n - 1), 0)),
        |      i -> array_to_string(t[i+1:i+ns.n], ' '))) AS gram
        |  FROM base CROSS JOIN (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns),
        |counts AS (SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY doc_id, n, gram),
        |ranked AS (
        |  SELECT doc_id, n, gram, c,
        |    row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS r
        |  FROM counts),
        |pern AS (
        |  SELECT doc_id, n,
        |    CAST(sum(CASE WHEN r = 1 AND c >= 2 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS topnum,
        |    CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dupnum
        |  FROM ranked GROUP BY doc_id, n),
        |piv AS (
        |  SELECT doc_id,
        |    coalesce(sum(CASE WHEN n = 2 THEN topnum END), 0) AS v2,
        |    coalesce(sum(CASE WHEN n = 3 THEN topnum END), 0) AS v3,
        |    coalesce(sum(CASE WHEN n = 4 THEN topnum END), 0) AS v4,
        |    coalesce(sum(CASE WHEN n = 5 THEN dupnum END), 0) AS v5,
        |    coalesce(sum(CASE WHEN n = 6 THEN dupnum END), 0) AS v6,
        |    coalesce(sum(CASE WHEN n = 7 THEN dupnum END), 0) AS v7,
        |    coalesce(sum(CASE WHEN n = 8 THEN dupnum END), 0) AS v8,
        |    coalesce(sum(CASE WHEN n = 9 THEN dupnum END), 0) AS v9,
        |    coalesce(sum(CASE WHEN n = 10 THEN dupnum END), 0) AS v10
        |  FROM pern GROUP BY doc_id),
        |f AS (
        |  SELECT b.doc_id,
        |    round(least(coalesce(v2, 0) * 1.0 / total, 1.0), 4) AS top_2gram_frac,
        |    round(least(coalesce(v3, 0) * 1.0 / total, 1.0), 4) AS top_3gram_frac,
        |    round(least(coalesce(v4, 0) * 1.0 / total, 1.0), 4) AS top_4gram_frac,
        |    round(least(coalesce(v5, 0) * 1.0 / total, 1.0), 4) AS dup_5gram_frac,
        |    round(least(coalesce(v6, 0) * 1.0 / total, 1.0), 4) AS dup_6gram_frac,
        |    round(least(coalesce(v7, 0) * 1.0 / total, 1.0), 4) AS dup_7gram_frac,
        |    round(least(coalesce(v8, 0) * 1.0 / total, 1.0), 4) AS dup_8gram_frac,
        |    round(least(coalesce(v9, 0) * 1.0 / total, 1.0), 4) AS dup_9gram_frac,
        |    round(least(coalesce(v10, 0) * 1.0 / total, 1.0), 4) AS dup_10gram_frac
        |  FROM base b LEFT JOIN piv USING (doc_id))
        |SELECT doc_id, top_2gram_frac, top_3gram_frac, top_4gram_frac,
        |  dup_5gram_frac, dup_6gram_frac, dup_7gram_frac, dup_8gram_frac,
        |  dup_9gram_frac, dup_10gram_frac,
        |  (top_2gram_frac < 0.20 AND top_3gram_frac < 0.18 AND top_4gram_frac < 0.16
        |   AND dup_5gram_frac < 0.15 AND dup_6gram_frac < 0.14 AND dup_7gram_frac < 0.13
        |   AND dup_8gram_frac < 0.12 AND dup_9gram_frac < 0.11 AND dup_10gram_frac < 0.10
        |  ) AS rep_pass
        |FROM f""".stripMargin),

    // PII redaction over deterministically injected PII (the corpus itself
    // is PII-free, so each doc gets an email + IP + long id derived from its
    // own doc_id; every third doc a second email — counts vary).
    Query("q_pii_scrub", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("aug", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 ref 123456"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, lit(" cc admin@corp.io")).otherwise(lit(""))))
      TextAnalysis.piiScrub(d, "aug")
        .select("doc_id", "n_emails", "n_ips", "n_ids", "text_scrubbed")
    },
    // PII scrub: identical augmentation, identical three-tier pattern chain
    // (each tier counts/rewrites the previous tier's text). Patterns are
    // ASCII + backreference-free so Java regex and RE2 agree.
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |    '.7 ref 123456' || CAST(doc_id AS VARCHAR) ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END AS a
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(a, '${TextAnalysis.piiEmailRe}')) AS INT) AS n_emails,
         |    regexp_replace(a, '${TextAnalysis.piiEmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM aug),
         |i AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '${TextAnalysis.piiIpRe}')) AS INT) AS n_ips,
         |    regexp_replace(t1, '${TextAnalysis.piiIpRe}', '<IP>', 'g') AS t2
         |  FROM e)
         |SELECT doc_id, n_emails, n_ips,
         |  CAST(len(regexp_extract_all(t2, '${TextAnalysis.piiIdRe}')) AS INT) AS n_ids,
         |  regexp_replace(t2, '${TextAnalysis.piiIdRe}', '<ID>', 'g') AS text_scrubbed
         |FROM i""".stripMargin),

    // within-doc repeated-line removal over the 7-token reflow with the
    // doc's own first line appended twice (guaranteed duplicates).
    Query("q_dedup_lines", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("lined", TextAnalysis.reflowLines(col("text"), 7))
        .withColumn("rep", concat(
          col("lined"), lit("\n"), element_at(split(col("lined"), "\n"), 1),
          lit("\n"), element_at(split(col("lined"), "\n"), 1)))
      TextAnalysis.dedupLines(d, "rep")
        .select("doc_id", "n_lines", "n_kept", "text_dedup")
    },
    // within-doc line dedup: same reflow + first-line-twice augmentation,
    // DuckDB's indexed list_filter replays the first-occurrence keep rule.
      """WITH lined AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(0, (len(t) + 6) // 7),
        |      i -> array_to_string(t[i*7+1:i*7+7], ' ')), chr(10)) AS lx
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)),
        |d AS (
        |  SELECT doc_id, string_split(
        |    lx || chr(10) || string_split(lx, chr(10))[1] ||
        |    chr(10) || string_split(lx, chr(10))[1], chr(10)) AS l
        |  FROM lined)
        |SELECT doc_id, CAST(len(l) AS INT) AS n_lines,
        |  CAST(len(list_filter(l, (x, i) -> list_position(l, x) = i)) AS INT) AS n_kept,
        |  array_to_string(list_filter(l, (x, i) -> list_position(l, x) = i), chr(10)) AS text_dedup
        |FROM d""".stripMargin),

    // cross-document boilerplate-line removal: every doc gets a per-source
    // header + footer (df = 100% of the source's docs → removed) and 30% get
    // a promo line (df < 50% → kept), so both threshold branches fire; the
    // body is the 7-token reflow (in-source exact-dup texts can push body
    // lines over the threshold too — both engines compute that identically).
    Query("q_boilerplate", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("body", TextAnalysis.reflowLines(col("text"), 7))
        .withColumn("bt", concat(
          lit("== "), col("source"), lit(" HEADER =="), lit("\n"), col("body"),
          when(col("doc_id") % 10 < 3,
            concat(lit("\npromo "), col("source"))).otherwise(lit("")),
          lit("\n-- footer "), col("source"), lit(" --")))
      TextAnalysis.boilerplateLines(d, "doc_id", "source", "bt",
        minDf = 2L, fracNum = 1, fracDen = 2)
        .select("doc_id", "source", "n_lines", "n_kept", "text_clean")
    },
    // boilerplate removal: identical augmentation, per-doc DISTINCT lines →
    // (source, line) df counts, the all-integer df*2 >= docs*1 threshold,
    // list_filter membership removal.
      """WITH lined AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_transform(range(0, (len(t) + 6) // 7),
        |      i -> array_to_string(t[i*7+1:i*7+7], ' ')), chr(10)) AS body
        |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)),
        |aug AS (
        |  SELECT doc_id, source,
        |    '== ' || source || ' HEADER ==' || chr(10) || body ||
        |    CASE WHEN doc_id % 10 < 3 THEN chr(10) || 'promo ' || source ELSE '' END ||
        |    chr(10) || '-- footer ' || source || ' --' AS bt
        |  FROM lined),
        |l AS (SELECT doc_id, source, string_split(bt, chr(10)) AS ls FROM aug),
        |ldf AS (
        |  SELECT source, line, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, source, line FROM (
        |      SELECT doc_id, source, unnest(ls) AS line FROM l))
        |  GROUP BY source, line),
        |gd AS (SELECT source, count(*) AS docs FROM aug GROUP BY source),
        |bl AS (
        |  SELECT source, list(line ORDER BY line) AS blc FROM ldf JOIN gd USING (source)
        |  WHERE df >= 2 AND df * 2 >= docs * 1 GROUP BY source),
        |f AS (
        |  SELECT l.doc_id, l.source, ls, coalesce(b.blc, []) AS blc
        |  FROM l LEFT JOIN bl b USING (source))
        |SELECT doc_id, source, CAST(len(ls) AS INT) AS n_lines,
        |  CAST(len(list_filter(ls, x -> NOT list_contains(blc, x))) AS INT) AS n_kept,
        |  -- duckdb array_to_string([]) is NULL; spark array_join([]) is ''
        |  coalesce(array_to_string(list_filter(ls, x -> NOT list_contains(blc, x)), chr(10)), '') AS text_clean
        |FROM f""".stripMargin),

    // n-gram LM count table with min-count pruning (the canonical word-count
    // plan: explode + two-level hash agg).
    Query("q_ngram_counts", { (s, dir) =>
      TextAnalysis.ngramCounts(
        s.read.parquet(s"$dir/documents.parquet"), "text", n = 3, minCount = 2L)
    },
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(range(0, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
        |  FROM toks)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM grams GROUP BY ngram HAVING count(*) >= 2""".stripMargin),

    // train/test contamination overlap: test docs (doc_id % 3 == 0) vs the
    // rest as training corpus; overlap emitted as FLOORED basis points
    // ((10000 * n_hit) div n_grams — exact integer arithmetic on both
    // engines, immune to the HALF_UP-vs-HALF_EVEN 4dp edge at ratios like
    // 1/32).
    Query("q_ngram_overlap", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.ngramContamination(
          d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          expr("(10000 * n_hit) div n_grams").as("overlap_bp"))
    },
      """WITH tg AS (
        |  SELECT DISTINCT doc_id, ngram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(0, greatest(len(t) - 2, 0)),
        |        i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |          FROM documents WHERE doc_id % 3 = 0))),
        |cg AS (
        |  SELECT DISTINCT ngram FROM (
        |    SELECT unnest(list_transform(range(0, greatest(len(t) - 2, 0)),
        |      i -> array_to_string(t[i+1:i+3], ' '))) AS ngram
        |    FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |          FROM documents WHERE doc_id % 3 <> 0))),
        |agg AS (
        |  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN cg.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM tg LEFT JOIN cg ON tg.ngram = cg.ngram
        |  GROUP BY tg.doc_id)
        |SELECT doc_id, n_grams, n_hit, (10000 * n_hit) // n_grams AS overlap_bp
        |FROM agg""".stripMargin),

    // sequence packing (LLM training assembly): greedy fixed-token-budget
    // packs in pinned (shard, id) order — the anchorSessions-shaped
    // streaming scan; oracle = DuckDB recursive CTE.
    Query("q_pack_budget", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      graft.agg.Packing.packBudget(d, "source", "doc_id", "n_tokens", budget = 400L)
    },
    // greedy budget packing re-derived row-by-row per shard (the
    // q_anchor_sessions recursive-CTE pattern; order pinned by (source,
    // doc_id) on both engines).
      """WITH seq AS (
        |  SELECT source, doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, doc_id, n_tokens, pack_idx FROM (
        |  WITH RECURSIVE walk(source, rn, doc_id, n_tokens, used, pack_idx) AS (
        |    SELECT source, rn, doc_id, n_tokens, n_tokens, 0 FROM seq WHERE rn = 1
        |    UNION ALL
        |    SELECT s.source, s.rn, s.doc_id, s.n_tokens,
        |           CASE WHEN w.used + s.n_tokens > 400 THEN s.n_tokens
        |                ELSE w.used + s.n_tokens END,
        |           CASE WHEN w.used + s.n_tokens > 400 THEN w.pack_idx + 1
        |                ELSE w.pack_idx END
        |    FROM walk w JOIN seq s ON s.source = w.source AND s.rn = w.rn + 1)
        |  SELECT source, doc_id, n_tokens, CAST(pack_idx AS INT) AS pack_idx FROM walk)""".stripMargin),

    // END-TO-END curation chain (Gopher gate -> PII scrub -> line dedup ->
    // cross-doc exact dedup) over an input with all four stages exercised:
    // reflowed lines + the doc's first line twice (in-doc dups) + an
    // injected PII line (scrub targets); every tenth doc is the pinned
    // gopher-passing fixture (cross-doc dups -> only the smallest id
    // survives). The oracle replays the IDENTICAL composition.
    Query("q_curation", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("lined", TextAnalysis.reflowLines(col("text"), 7))
        .withColumn("f1", element_at(split(col("lined"), "\n"), 1))
        .withColumn("aug",
          when(col("doc_id") % 10 === 9, lit(graft.text.Curation.fixtureDupDoc))
            .otherwise(concat(
              col("lined"), lit("\n"), col("f1"), lit("\n"), col("f1"),
              lit("\ncontact user"), col("doc_id").cast("string"),
              lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7 ref 123456"), col("doc_id").cast("string"))))
      graft.text.Curation.curate(d, "doc_id", "aug")
    },
    // curation: the q_quality_rules gate, q_pii_scrub tiers and
    // q_dedup_lines filter fragments verbatim, chained, then one
    // first-occurrence-per-fingerprint window. The planted fixture comes
    // from Curation.fixtureSql (the same Scala constant).
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(range(0, (len(t) + 6) // 7),
         |      i -> array_to_string(t[i*7+1:i*7+7], ' ')), chr(10)) AS lx
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)),
         |aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 9 THEN ${graft.text.Curation.fixtureSql}
         |         ELSE lx || chr(10) || string_split(lx, chr(10))[1] ||
         |              chr(10) || string_split(lx, chr(10))[1] ||
         |              chr(10) || 'contact user' || CAST(doc_id AS VARCHAR) ||
         |              '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |              '.7 ref 123456' || CAST(doc_id AS VARCHAR)
         |    END AS a
         |  FROM lined),
         |g AS (
         |  SELECT doc_id, a FROM aug WHERE
         |    (len(regexp_split_to_array(trim(a), '\\s+')) BETWEEN 50 AND 100000)
         |    AND (round(length(regexp_replace(a, '\\s+', '', 'g')) * 1.0 /
         |         greatest(len(regexp_split_to_array(trim(a), '\\s+')), 1), 4) BETWEEN 3.0 AND 10.0)
         |    AND round(((length(a) - length(replace(a, '#', ''))) +
         |        (length(a) - length(replace(a, '...', ''))) / 3.0) /
         |        greatest(len(regexp_split_to_array(trim(a), '\\s+')), 1), 4) < 0.1
         |    AND round(len(list_filter(string_split(a, chr(10)),
         |        l -> substr(l, 1, 2) = '- ' OR substr(l, 1, 2) = '* ')) * 1.0 /
         |        greatest(len(string_split(a, chr(10))), 1), 4) < 0.9
         |    AND round(len(list_filter(string_split(a, chr(10)), l -> l LIKE '%...')) * 1.0 /
         |        greatest(len(string_split(a, chr(10))), 1), 4) < 0.3
         |    AND round(len(list_filter(regexp_split_to_array(trim(a), '\\s+'),
         |        w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 /
         |        greatest(len(regexp_split_to_array(trim(a), '\\s+')), 1), 4) >= 0.8
         |    AND round(1.0 - len(list_distinct(string_split(a, chr(10)))) * 1.0 /
         |        greatest(len(string_split(a, chr(10))), 1), 4) < 0.3),
         |e AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(a, '${TextAnalysis.piiEmailRe}')) AS INT) AS n_emails,
         |    regexp_replace(a, '${TextAnalysis.piiEmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM g),
         |i AS (
         |  SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(t1, '${TextAnalysis.piiIpRe}')) AS INT) AS n_ips,
         |    regexp_replace(t1, '${TextAnalysis.piiIpRe}', '<IP>', 'g') AS t2
         |  FROM e),
         |p AS (
         |  SELECT doc_id, n_emails, n_ips,
         |    CAST(len(regexp_extract_all(t2, '${TextAnalysis.piiIdRe}')) AS INT) AS n_ids,
         |    regexp_replace(t2, '${TextAnalysis.piiIdRe}', '<ID>', 'g') AS ts
         |  FROM i),
         |d AS (
         |  SELECT doc_id, n_emails, n_ips, n_ids, string_split(ts, chr(10)) AS l
         |  FROM p),
         |dd AS (
         |  SELECT doc_id, n_emails, n_ips, n_ids,
         |    CAST(len(l) AS INT) AS n_lines,
         |    CAST(len(list_filter(l, (x, ix) -> list_position(l, x) = ix)) AS INT) AS n_kept,
         |    array_to_string(list_filter(l, (x, ix) -> list_position(l, x) = ix), chr(10)) AS text_curated
         |  FROM d),
         |fp AS (
         |  SELECT *, md5(regexp_replace(lower(trim(text_curated)), '\\s+', ' ', 'g')) AS f
         |  FROM dd)
         |SELECT doc_id, n_emails, n_ips, n_ids, n_lines, n_kept, text_curated
         |FROM (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
         |WHERE rn = 1""".stripMargin),

    // sequence packing with REAL BPE token counts (round-5 verdict item 2's
    // integration leg): the bpeTokenize counts feed packBudget, so pack
    // budgets mean actual subword tokens, not whitespace proxies. Oracle =
    // the q_bpe_tokens recursive encoder CTE feeding the q_pack_budget
    // recursive pack walk.
    Query("q_pack_bpe", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      val counted = graft.text.Bpe.bpeTokenize(d, "doc_id", "text")
        .join(d.select("doc_id", "source"), Seq("doc_id"))
      graft.agg.Packing.packBudget(counted, "source", "doc_id",
        "n_bpe_tokens", budget = 700L)
    },
    // BPE-counted packing: the q_bpe_tokens encoder CTE (merges replayed in
    // creation order) produces per-doc subword counts, which feed the exact
    // q_pack_budget recursive walk at budget 700.
      s"""WITH merges(r, l, rt) AS (VALUES ${graft.text.Bpe.mergesSqlValues}),
         |words AS (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS word
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         |          FROM documents))
         |  WHERE length(word) > 0),
         |seq0 AS (
         |  SELECT word,
         |         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
         |                 i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS s
         |  FROM (SELECT DISTINCT word FROM words)),
         |enc AS (
         |  SELECT word,
         |         CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_toks
         |  FROM (
         |    WITH RECURSIVE walk(word, s, r) AS (
         |      SELECT word, s, 0 FROM seq0
         |      UNION ALL
         |      SELECT w.word,
         |        CASE WHEN contains(w.s, ' ' || m.l || ' ' || m.rt || ' ')
         |             THEN replace(w.s, ' ' || m.l || ' ' || m.rt || ' ',
         |                          ' ' || m.l || m.rt || ' ')
         |             ELSE w.s END,
         |        CASE WHEN contains(w.s, ' ' || m.l || ' ' || m.rt || ' ')
         |             THEN w.r ELSE w.r + 1 END
         |      FROM walk w JOIN merges m ON m.r = w.r)
         |    SELECT word, s FROM walk WHERE r = ${graft.text.Bpe.merges.length})),
         |counts AS (
         |  SELECT w.doc_id, CAST(sum(d.n_toks) AS BIGINT) AS n_bpe_tokens
         |  FROM words w JOIN enc d USING (word) GROUP BY w.doc_id),
         |seq AS (
         |  SELECT dd.source, c.doc_id, c.n_bpe_tokens,
         |         row_number() OVER (PARTITION BY dd.source ORDER BY c.doc_id) AS rn
         |  FROM counts c JOIN documents dd USING (doc_id))
         |SELECT source, doc_id, n_bpe_tokens, pack_idx FROM (
         |  WITH RECURSIVE pk(source, rn, doc_id, n_bpe_tokens, used, pack_idx) AS (
         |    SELECT source, rn, doc_id, n_bpe_tokens, n_bpe_tokens, 0 FROM seq WHERE rn = 1
         |    UNION ALL
         |    SELECT s.source, s.rn, s.doc_id, s.n_bpe_tokens,
         |           CASE WHEN w.used + s.n_bpe_tokens > 700 THEN s.n_bpe_tokens
         |                ELSE w.used + s.n_bpe_tokens END,
         |           CASE WHEN w.used + s.n_bpe_tokens > 700 THEN w.pack_idx + 1
         |                ELSE w.pack_idx END
         |    FROM pk w JOIN seq s ON s.source = w.source AND s.rn = w.rn + 1)
         |  SELECT source, doc_id, n_bpe_tokens, CAST(pack_idx AS INT) AS pack_idx FROM pk)""".stripMargin),

    // GPT-style concat-and-chunk (boundary-crossing fixed-length training
    // windows over the id-ordered token stream): global token offsets via
    // the distributed prefix sum (Rank.globalRunningSum), never a
    // single-task global-order window.
    Query("q_concat_chunks", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.agg.Packing.concatChunks(
        d.select(col("doc_id"),
          TextAnalysis.nonEmptyTokenCount(col("text"))
            .cast("long").as("n_tokens")),
        "doc_id", "n_tokens", chunkLen = 64L)
    },
    // q_concat_chunks: the window cumsum is the ORACLE's prerogative — the
    // Scala side derives identical offsets from the distributed prefix sum.
    // Token count = nonempty whitespace tokens (the repo convention).
      """WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |         w -> w <> '')) AS BIGINT) AS n
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS t0
        |  FROM n WHERE n > 0),
        |c AS (
        |  SELECT doc_id, n, t0,
        |    unnest(generate_series(t0 // 64, (t0 + n - 1) // 64)) AS chunk_id
        |  FROM p)
        |SELECT chunk_id, doc_id,
        |  greatest(chunk_id * 64 - t0, 0) AS doc_offset,
        |  greatest(t0 - chunk_id * 64, 0) AS chunk_offset,
        |  least(n, (chunk_id + 1) * 64 - t0) - greatest(chunk_id * 64 - t0, 0) AS len
        |FROM c""".stripMargin),

    // stupid-backoff bigram LM scoring (Brants et al. 2007): test docs
    // (doc_id % 3 == 0) scored against the rest as corpus — the same split
    // as q_ngram_overlap, so both seen and backoff branches are exercised.
    // Per-occurrence log10 scores ride an integer micro-log grid (round to
    // 1e-6, sum as BIGINT) so the aggregate is order-independent and exact
    // across engines.
    Query("q_lm_score", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.LmScore.stupidBackoff(
        d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
    },
    // stupid-backoff LM score: identical corpus/test split, identical count
    // tables, the identical per-occurrence micro-log quantization
    // (CAST(round(log10(s)*1e6) AS BIGINT)) summed as exact integers — the
    // only doubles compared are the 4dp-rounded averages of exact sums.
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 3 <> 0)
        |  WHERE w <> '' GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
        |bi AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
        |      i -> array_to_string(t[i+1:i+2], ' '))) AS g
        |    FROM toks WHERE doc_id % 3 <> 0)
        |  GROUP BY g),
        |occ AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
        |      i -> array_to_string(t[i+1:i+2], ' '))) AS g
        |  FROM toks WHERE doc_id % 3 = 0),
        |sp AS (
        |  SELECT doc_id, g,
        |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[-1] AS w2
        |  FROM occ),
        |sc AS (
        |  SELECT sp.doc_id,
        |    CASE WHEN b.cnt IS NULL THEN 1 ELSE 0 END AS backoff,
        |    CAST(round(log10(
        |      CASE WHEN b.cnt IS NOT NULL
        |           THEN CAST(b.cnt AS DOUBLE) / CAST(u1.cnt AS DOUBLE)
        |           ELSE CAST(0.4 AS DOUBLE) *
        |                (CAST(coalesce(u2.cnt, 1) AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      END) * 1e6) AS BIGINT) AS s
        |  FROM sp
        |  LEFT JOIN bi b ON sp.g = b.g
        |  LEFT JOIN uni u1 ON sp.w1 = u1.w
        |  LEFT JOIN uni u2 ON sp.w2 = u2.w
        |  CROSS JOIN tot t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
        |  round(CAST(sum(s) AS BIGINT) / 1e6 / count(*), 4) AS avg_logprob
        |FROM sc GROUP BY doc_id""".stripMargin),

    // CCNet-style per-language perplexity terciles: stupid-backoff scores,
    // then head/middle/tail by exact within-language rank — the distributed
    // Rank.groupRowNumber, never a one-task-per-language window.
    Query("q_ppl_buckets", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.text.LmScore.pplBuckets(
        d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", "lang")
    },
    // q_ppl_buckets: the q_lm_score scoring chain VERBATIM (toks/uni/tot/
    // bi/occ/sp/sc — changing q_lm_score requires moving this in lockstep),
    // then language join + exact tercile rank. The window here is the
    // ORACLE's prerogative; the Scala side derives the same rank with the
    // distributed Rank.groupRowNumber.
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 3 <> 0)
        |  WHERE w <> '' GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
        |bi AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
        |      i -> array_to_string(t[i+1:i+2], ' '))) AS g
        |    FROM toks WHERE doc_id % 3 <> 0)
        |  GROUP BY g),
        |occ AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
        |      i -> array_to_string(t[i+1:i+2], ' '))) AS g
        |  FROM toks WHERE doc_id % 3 = 0),
        |sp AS (
        |  SELECT doc_id, g,
        |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[-1] AS w2
        |  FROM occ),
        |sc AS (
        |  SELECT sp.doc_id,
        |    CAST(round(log10(
        |      CASE WHEN b.cnt IS NOT NULL
        |           THEN CAST(b.cnt AS DOUBLE) / CAST(u1.cnt AS DOUBLE)
        |           ELSE CAST(0.4 AS DOUBLE) *
        |                (CAST(coalesce(u2.cnt, 1) AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      END) * 1e6) AS BIGINT) AS s
        |  FROM sp
        |  LEFT JOIN bi b ON sp.g = b.g
        |  LEFT JOIN uni u1 ON sp.w1 = u1.w
        |  LEFT JOIN uni u2 ON sp.w2 = u2.w
        |  CROSS JOIN tot t),
        |lm AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(CAST(sum(s) AS BIGINT) / 1e6 / count(*), 4) AS avg_logprob
        |  FROM sc GROUP BY doc_id),
        |lg AS (
        |  SELECT lm.doc_id, d.lang, lm.n_bigrams, lm.avg_logprob,
        |    CAST(row_number() OVER (PARTITION BY d.lang
        |      ORDER BY lm.avg_logprob DESC, lm.doc_id) AS BIGINT) AS lang_rank,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM lm JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, n_bigrams, avg_logprob, lang_rank,
        |  CASE WHEN lang_rank * 3 <= n THEN 'head'
        |       WHEN lang_rank * 3 <= 2 * n THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM lg""".stripMargin),

    // hashed linear quality classifier (fastText-style apply): map-only
    // unigram+bigram feature hashing into 4096 buckets, pinned integer
    // weight formula, one per-doc partial-aggregated BIGINT sum. Parameters
    // mirrored at the HashOracleSql.qQualityClassifierSql call site.
    Query("q_quality_classifier", { (s, dir) =>
      graft.text.Classifier.hashedLinearScore(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    }, graft.oracle.HashOracleSql.qQualityClassifierSql(
      "documents", "doc_id", "text",
      numBuckets = graft.text.Classifier.numBuckets,
      weightMul = graft.text.Classifier.weightMul,
      weightMod = graft.text.Classifier.weightMod)),

    // REAL byte-pair encoding against the pinned creation-ordered merges
    // fixture (graft.text.Bpe): kernel runs once per DISTINCT word, one
    // word-key equi-join back, per-doc ordered reassembly.
    Query("q_bpe_tokens", { (s, dir) =>
      graft.text.Bpe.bpeTokenize(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    },
    // BPE replay: DuckDB re-derives the same subword tokens from the same
    // merges table (graft.text.Bpe.mergesSqlValues — lockstep fixture). Each
    // distinct word starts as ' c h a r s ' and a recursive CTE applies
    // merges in rank order; one step = one replace() pass, repeated while
    // the ' l r ' adjacency survives (a pass can miss an occurrence whose
    // leading separator the previous match consumed — with l != r the
    // fixpoint is order-independent, see Bpe.scala's proof note).
      s"""WITH merges(r, l, rt) AS (VALUES ${graft.text.Bpe.mergesSqlValues}),
         |words AS (
         |  SELECT doc_id, pos, word FROM (
         |    SELECT doc_id, unnest(range(0, len(t))) AS pos, unnest(t) AS word
         |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         |          FROM documents))
         |  WHERE length(word) > 0),
         |seq0 AS (
         |  SELECT word,
         |         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
         |                 i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS s
         |  FROM (SELECT DISTINCT word FROM words)),
         |enc AS (
         |  SELECT word, trim(s) AS toks_str,
         |         CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_toks
         |  FROM (
         |    WITH RECURSIVE walk(word, s, r) AS (
         |      SELECT word, s, 0 FROM seq0
         |      UNION ALL
         |      SELECT w.word,
         |        CASE WHEN contains(w.s, ' ' || m.l || ' ' || m.rt || ' ')
         |             THEN replace(w.s, ' ' || m.l || ' ' || m.rt || ' ',
         |                          ' ' || m.l || m.rt || ' ')
         |             ELSE w.s END,
         |        CASE WHEN contains(w.s, ' ' || m.l || ' ' || m.rt || ' ')
         |             THEN w.r ELSE w.r + 1 END
         |      FROM walk w JOIN merges m ON m.r = w.r)
         |    SELECT word, s FROM walk WHERE r = ${graft.text.Bpe.merges.length}))
         |SELECT w.doc_id,
         |       CAST(sum(d.n_toks) AS BIGINT) AS n_bpe_tokens,
         |       string_agg(d.toks_str, ' ' ORDER BY w.pos) AS bpe_text
         |FROM words w JOIN enc d USING (word)
         |GROUP BY w.doc_id""".stripMargin),

    // BPE vocabulary TRAINING (the learning half — q_bpe_tokens applies a
    // pinned table): greedy merge loop over the distributed word-frequency
    // dict, all-integer, unrolled step-by-step in the DuckDB oracle.
    Query("q_bpe_train", { (s, dir) =>
      graft.text.Bpe.trainMerges(
        s.read.parquet(s"$dir/documents.parquet"), "text",
        nMerges = 24, minPairCount = 2L)
    },
    // BPE training: the greedy merge loop unrolled (24 step-CTE triples),
    // generated by Bpe.trainMergesSql — lockstep with Bpe.trainMerges.
      graft.text.Bpe.trainMergesSql("documents", "text", nMerges = 24,
        minPairCount = 2L)),

    // token counting: whitespace + BPE-ish regex.
    Query("q_token_count", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    },
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpeish_tokens
        |FROM documents""".stripMargin)
  )
}
