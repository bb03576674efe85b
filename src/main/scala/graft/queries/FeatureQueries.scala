package graft.queries

import org.apache.spark.sql.functions._

import graft.agg.{Features, Preprocessing}
import graft.parse.Drain
import graft.text.TextAnalysis
import graft.windows.Windows

import QueryScaffold._

/** Count-vector, ranking and label features, and the KMV / Count-Min /
  * quantile sketches.
  */
private[graft] object FeatureQueries {

  /** Pinned rational quantiles — ONE source of truth for q_exact_quantiles'
    * Spark call AND its Stats.exactQuantilesBySql oracle twin (min, quartiles,
    * p90/p99, max).
    */
  private val quantilesFixture: Seq[(Int, Int)] =
    Seq((0, 1), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100), (1, 1))

  val all: Seq[Query] = Seq(
    // exact per-source token-length quantiles (corpus profiling): pinned
    // all-integer nearest-rank selection over the distributed global rank —
    // exact (and therefore oracle-able) where percentile_approx is
    // engine-defined fuzz. Fixture shared with the oracle twin.
    Query("q_exact_quantiles", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          TextAnalysis.nonEmptyTokenCount(col("text"))
            .cast("long").as("len"))
      graft.agg.Stats.exactQuantilesBy(d, "source", "len", quantilesFixture)
    }, graft.agg.Stats.exactQuantilesBySql(
      "documents", "source",
      "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+')," +
        " w -> w <> '')) AS BIGINT)",
      quantilesFixture)),

    // G7 — event-count vectors per conversation (exploded form).
    Query("q_count_vector", { (s, dir) =>
      Features.countVectors(parsedIds(s, dir), Seq("conv_id"))
    }, withP(
      """SELECT conv_id, event_id, count(*) AS cnt
        |FROM parsed GROUP BY 1, 2""".stripMargin)),

    // G8 — TF-IDF weighting of the count vectors.
    Query("q_tfidf", { (s, dir) =>
      val cv = Features.countVectors(parsedIds(s, dir), Seq("conv_id"))
      Features.tfidf(cv, Seq("conv_id"))
        .select(col("conv_id"), col("event_id"), col("cnt"),
          col("df"), round(col("tfidf"), 4).as("tfidf"))
    }, withP(
      """, cv AS (SELECT conv_id, event_id, count(*) AS cnt FROM parsed GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT conv_id) AS n FROM cv),
        |dfx AS (SELECT event_id, count(*) AS df FROM cv GROUP BY 1)
        |SELECT cv.conv_id, cv.event_id, cv.cnt, dfx.df,
        |       round(cv.cnt * ln(CAST(n.n AS DOUBLE) / dfx.df), 4) AS tfidf
        |FROM cv, n, dfx WHERE cv.event_id = dfx.event_id""".stripMargin)),

    // O3 (true per-row semantics) — top-k over a per-row score array with
    // rank recorded (predict.py:99-111); scores are a deterministic
    // md5-derived stand-in for model logits, computable by both engines.
    Query("q_topk_rank", { (s, dir) =>
      val scored = transcripts(s, dir).select(
        col("conv_id"), col("turn_idx"),
        transform(sequence(lit(1), lit(8)), i =>
          ascii(substring(md5(concat(
            col("conv_id"), lit("-"), col("turn_idx").cast("string"),
            lit("-"), i.cast("string"))), 1, 1))).as("scores"),
        (pmod(col("turn_idx"), lit(8)) + 1).as("true_label"))
      Features.topKRank(scored, "scores", "true_label", k = 3)
        .select("conv_id", "turn_idx", "true_label", "rank", "is_anomaly")
    }, withT(
      """, scored AS (
        |  SELECT conv_id, turn_idx,
        |    list_transform(range(1, 9), i ->
        |      ascii(substr(md5(conv_id || '-' || CAST(turn_idx AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1))) AS scores,
        |    CAST(turn_idx % 8 + 1 AS INT) AS true_label
        |  FROM transcripts),
        |r AS (
        |  SELECT conv_id, turn_idx, true_label,
        |    CAST(1 + len(list_filter(range(1, 9), i ->
        |      scores[i] > scores[true_label] OR
        |      (scores[i] = scores[true_label] AND i < true_label))) AS INT) AS rank
        |  FROM scored)
        |SELECT conv_id, turn_idx, true_label, rank,
        |       CASE WHEN rank > 3 THEN 1 ELSE 0 END AS is_anomaly
        |FROM r""".stripMargin)),

    // O3 — top-k candidate membership over history windows.
    Query("q_topk", { (s, dir) =>
      val h = Windows.historyWindows(parsedIds(s, dir), h = 3)
      Features.topKMembership(h, k = 3)
        .select(col("conv_id"), col("turn_idx"), col("next_event"), col("is_anomaly"))
    }, withP(
      """, hist AS (
        |  SELECT conv_id, turn_idx,
        |         lead(event_id) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_event,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
        |  FROM parsed),
        |h2 AS (SELECT conv_id, turn_idx, next_event FROM hist
        |       WHERE rn >= 3 AND next_event IS NOT NULL),
        |topk AS (SELECT next_event AS e FROM h2 GROUP BY 1
        |         ORDER BY count(*) DESC, e ASC LIMIT 3)
        |SELECT conv_id, turn_idx, next_event,
        |       CASE WHEN t.e IS NULL THEN 1 ELSE 0 END AS is_anomaly
        |FROM h2 LEFT JOIN topk t ON h2.next_event = t.e""".stripMargin)),

    // W8 — lead time: first anomalous turn position per conversation.
    Query("q_leadtime", { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("anom", when(col("role") === "tool", 1).otherwise(0))
      Features.leadTime(t, "conv_id", "turn_idx", "anom")
    }, withT(
      """SELECT conv_id,
        |       min(CASE WHEN role = 'tool' THEN turn_idx END) AS first_anomaly_pos,
        |       max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS has_anomaly
        |FROM transcripts GROUP BY 1""".stripMargin)),

    // J6 — TF-IDF-weighted template embeddings over deterministic
    // md5-derived word vectors (both engines can compute them).
    Query("q_template_embedding", { (s, dir) =>
      val dict = Drain.mine(transcripts(s, dir), "text", drainCfg)
      val templates = s.createDataFrame(dict).select("event_id", "event_template")
      val words = templates
        .select(explode(split(col("event_template"), "\\s+")).as("word"))
        .filter(col("word") =!= "<*>").distinct()
        .withColumn("vector", array((1 to 4).map(i =>
          ascii(substring(md5(col("word")), i, 1)) / lit(100.0)): _*))
      Preprocessing.templateEmbeddings(templates, words)
        .select(col("event_id"), col("dim"), round(col("v"), 6).as("v"))
    }, withP(
      """, dict AS (SELECT DISTINCT event_id, event_template FROM parsed),
        |ctoks AS (
        |  SELECT event_id, unnest(regexp_split_to_array(event_template, '\s+')) AS token
        |  FROM dict),
        |ftoks AS (SELECT event_id, token FROM ctoks WHERE token <> '<*>'),
        |tf AS (SELECT event_id, token, count(*) AS tf FROM ftoks GROUP BY 1, 2),
        |idf AS (SELECT token,
        |               ln(CAST((SELECT count(*) FROM dict) AS DOUBLE) / count(*)) AS idf
        |        FROM tf GROUP BY token),
        |tok_vec AS (
        |  SELECT event_id, token, CAST(i AS INT) AS dim,
        |         ascii(substr(md5(token), CAST(i AS INT), 1)) / 100.0 AS tv
        |  FROM (SELECT DISTINCT event_id, token FROM ftoks), UNNEST(generate_series(1, 4)) u(i))
        |SELECT tv.event_id, tv.dim, round(sum(tv.tv * tf.tf * idf.idf), 6) AS v
        |FROM tok_vec tv
        |JOIN tf  ON tv.event_id = tf.event_id AND tv.token = tf.token
        |JOIN idf ON tv.token = idf.token
        |GROUP BY 1, 2""".stripMargin)),

    // G5/J5 — vocab: frequency-ranked contiguous event ids.
    Query("q_vocab", { (s, dir) => Features.vocab(parsedIds(s, dir)) },
      withP(
      """SELECT event_id, count(*) AS freq,
        |       CAST(row_number() OVER (ORDER BY count(*) DESC, event_id ASC) AS INT) AS vocab_id
        |FROM parsed GROUP BY event_id""".stripMargin)),

    // G4 + §4.2 skew — salted groupBy-count over the hot template key.
    Query("q_route_counts", { (s, dir) =>
      Features.saltedCount(parsedIds(s, dir), "event_id")
    }, withP(
      """SELECT event_id, count(*) AS occurrences
        |FROM parsed GROUP BY 1""".stripMargin)),

    // G12 — distinct-sequence multiplicities split by label.
    Query("q_distinct_seq", { (s, dir) =>
      val p = parsedIds(s, dir)
        .withColumn("lbl", when(col("role") === "tool", 1).otherwise(0))
      val grouped = Windows.sessionGroup(p, labelCol = Some("lbl"))
        .withColumn("label", array_max(col("labels")))
      Features.distinctSequences(grouped)
    }, withP(
      """, sess AS (
        |  SELECT conv_id,
        |         string_agg(event_id, ' ' ORDER BY turn_idx) AS seq,
        |         max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label
        |  FROM parsed GROUP BY conv_id)
        |SELECT seq, label, count(*) AS multiplicity FROM sess GROUP BY 1, 2""".stripMargin)),

    // G14 — dedup with min-label reconciliation.
    Query("q_reconcile", { (s, dir) =>
      val p = parsedIds(s, dir)
        .withColumn("lbl", when(col("role") === "tool", 1).otherwise(0))
      val grouped = Windows.sessionGroup(p, labelCol = Some("lbl"))
        .withColumn("label", array_max(col("labels")))
      Features.reconcileLabels(grouped)
    }, withP(
      """, sess AS (
        |  SELECT conv_id,
        |         string_agg(event_id, ' ' ORDER BY turn_idx) AS seq,
        |         max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label
        |  FROM parsed GROUP BY conv_id)
        |SELECT seq, min(label) AS label, count(*) AS multiplicity FROM sess GROUP BY 1""".stripMargin)),

    // G16 — confusion matrix via conditional sums.
    Query("q_confusion", { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("pred", when(col("tool").isNotNull, 1).otherwise(0))
        .withColumn("truth", when(col("role") === "tool", 1).otherwise(0))
      Features.confusion(t, "pred", "truth")
    }, withT(
      """SELECT
        |  CAST(sum(CASE WHEN tool IS NOT NULL AND role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN tool IS NOT NULL AND role <> 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN tool IS NULL AND role <> 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  CAST(sum(CASE WHEN tool IS NULL AND role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |FROM transcripts""".stripMargin)),

    // G6 — word vocab with min_freq + special tokens.
    Query("q_word_vocab", { (s, dir) =>
      val words = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      Preprocessing.wordVocab(words, "word", minFreq = 10)
    },
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
        |c AS (SELECT word, count(*) AS freq FROM w GROUP BY 1 HAVING count(*) >= 10)
        |SELECT word, freq, CAST(row_number() OVER (ORDER BY freq DESC, word ASC) + 2 AS INT) AS vocab_id FROM c
        |UNION ALL SELECT '<pad>', 0, 1
        |UNION ALL SELECT '<unk>', 0, 2""".stripMargin),

    // G10 — OOV fold: rare keys (here: the first numeric parameter) folded.
    Query("q_oov_fold", { (s, dir) =>
      val cv = transcripts(s, dir)
        .withColumn("event_id", regexp_extract(col("text"), "[0-9]+", 0))
        .groupBy("conv_id", "event_id").agg(count(lit(1)).as("cnt"))
      Preprocessing.oovFold(cv, Seq("conv_id"), minCount = 5)
    }, withT(
      """, cv AS (
        |  SELECT conv_id, regexp_extract(text, '[0-9]+') AS event_id, count(*) AS cnt
        |  FROM transcripts GROUP BY 1, 2),
        |keep AS (SELECT event_id FROM cv GROUP BY 1 HAVING count(*) >= 5)
        |SELECT conv_id,
        |       CASE WHEN k.event_id IS NULL THEN '__oov__' ELSE cv.event_id END AS event_id,
        |       CAST(sum(cnt) AS BIGINT) AS cnt
        |FROM cv LEFT JOIN keep k ON cv.event_id = k.event_id
        |GROUP BY 1, 2""".stripMargin)),

    // O4 — threshold sweep over (deltaT, truth) with F1 per threshold.
    Query("q_threshold_sweep", { (s, dir) =>
      val scored = Windows.deltaT(transcripts(s, dir))
        .withColumn("truth", when(col("role") === "tool", 1).otherwise(0))
      Preprocessing.thresholdSweep(scored, "delta_us", "truth",
        Seq(0.0, 6.0e7, 6.0e8, 3.6e9))
    }, withT(
      """, d AS (
        |  SELECT coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx), 0) AS s,
        |         CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS t
        |  FROM transcripts),
        |g AS (SELECT * FROM (VALUES (0.0), (60000000.0), (600000000.0), (3600000000.0)) v(threshold)),
        |agg AS (
        |  SELECT threshold,
        |    CAST(sum(CASE WHEN s >= threshold AND t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN s >= threshold AND t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN s < threshold AND t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM d, g GROUP BY 1)
        |SELECT threshold, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0.0 END AS precision,
        |  CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0.0 END AS recall,
        |  CASE WHEN (CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0.0 END) +
        |            (CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0.0 END) > 0
        |       THEN 2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn)) /
        |            ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn)))
        |       ELSE 0.0 END AS f1
        |FROM agg""".stripMargin)),

    // G9a — zero-mean normalization of count vectors.
    Query("q_zero_mean", { (s, dir) =>
      val cv = Features.countVectors(parsedIds(s, dir), Seq("conv_id"))
      Preprocessing.zeroMean(cv)
        .select(col("conv_id"), col("event_id"), col("cnt"),
          round(col("cnt_centered"), 4).as("cnt_centered"))
    }, withP(
      """, cv AS (SELECT conv_id, event_id, count(*) AS cnt FROM parsed GROUP BY 1, 2),
        |m AS (SELECT event_id, avg(cnt) AS mean FROM cv GROUP BY 1)
        |SELECT cv.conv_id, cv.event_id, cv.cnt, round(cv.cnt - m.mean, 4) AS cnt_centered
        |FROM cv JOIN m ON cv.event_id = m.event_id""".stripMargin)),

    // G9b — sigmoid on nonzero counts.
    Query("q_sigmoid", { (s, dir) =>
      val cv = Features.countVectors(parsedIds(s, dir), Seq("conv_id"))
      Preprocessing.sigmoidNonzero(cv)
        .select(col("conv_id"), col("event_id"), col("cnt"),
          round(col("cnt_sigmoid"), 6).as("cnt_sigmoid"))
    }, withP(
      """, cv AS (SELECT conv_id, event_id, count(*) AS cnt FROM parsed GROUP BY 1, 2)
        |SELECT conv_id, event_id, cnt,
        |  round(CASE WHEN cnt <> 0 THEN 1.0 / (1.0 + exp(-cnt)) ELSE 0.0 END, 6) AS cnt_sigmoid
        |FROM cv""".stripMargin)),

    // G15 — element-wise embedding sums per label (exploded form).
    Query("q_sum_vectors", { (s, dir) =>
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim"))
        .agg(round(sum(col("x").cast("double")), 6).as("s"))
    },
      """SELECT label, CAST(gs AS INT) AS dim,
        |       round(sum(CAST(embedding[gs] AS DOUBLE)), 6) AS s
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(gs)
        |GROUP BY 1, 2""".stripMargin),

    // KMV bottom-k distinct sketch over document texts — deterministic by
    // design so the DuckDB oracle recomputes it EXACTLY (unlike HLL).
    Query("q_kmv_distinct", { (s, dir) =>
      graft.agg.Sketches.kmvDistinct(
        s.read.parquet(s"$dir/documents.parquet"), "text", k = 64)
    }, graft.oracle.HashOracleSql.qKmvDistinctSql(
      "documents", "text", k = 64)),

    // per-group KMV sketch (distinct texts per source) — the bounded-buffer
    // mergeable aggregate; oracle = HashOracleSql.qKmvGroupedSql (the same
    // XXH64 CTE, per-group bottom-k via row_number).
    Query("q_kmv_grouped", { (s, dir) =>
      graft.agg.Sketches.kmvDistinctBy(
        s.read.parquet(s"$dir/documents.parquet"), Seq("source"), "text", k = 64)
    }, graft.oracle.HashOracleSql.qKmvGroupedSql(
      "documents", "source", "text", k = 64)),

    // pairwise source-vocabulary overlap from the mergeable per-source KMV
    // token sketches (Beyer et al. SIGMOD'07 multiset combine): j_num/j_den
    // are exact integers GIVEN the sketches, so the DuckDB oracle replays
    // sketch + combine end to end. k mirrored at the qKmvJaccardSql call.
    Query("q_kmv_jaccard", { (s, dir) =>
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      graft.agg.Sketches.kmvJaccardPairs(
        graft.agg.Sketches.kmvSketchBy(toks, Seq("source"), "tok", k = 64),
        "source", "kmv_sketch", k = 64)
    }, graft.oracle.HashOracleSql.qKmvJaccardSql(
      "documents", "source", "text", k = 64)),

    // Count-Min sketch grid (Cormode-Muthukrishnan 2005): per-source token
    // occurrence counts via the graft_cms mergeable aggregate, dumped as
    // sparse (source, r, j, cnt) cells. Cells are exact SUMS, so the oracle
    // (HashOracleSql.qCmsCellsSql — the same XXH64 seed-chain row hashes in
    // DuckDB SQL) recomputes them exactly. d/w mirrored at the oracle call.
    Query("q_cms_cells", { (s, dir) =>
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val sk = graft.agg.Sketches.cmsSketchBy(toks, Seq("source"), "tok",
        d = 4, w = 64)
      graft.agg.Sketches.cmsCells(sk, Seq("source"), d = 4, w = 64)
    }, graft.oracle.HashOracleSql.qCmsCellsSql(
      "documents", "source", "text", d = 4, w = 64)),

    // CMS point estimates for a pinned probe list (incl. one word absent
    // from the corpus) against each source's grid, with the exact count
    // alongside — the est >= true_cnt upper bound is visible in the data.
    // Probes + d/w mirrored at the HashOracleSql.qCmsEstimateSql call.
    Query("q_cms_estimate", { (s, dir) =>
      import s.implicits._
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val sk = graft.agg.Sketches.cmsSketchBy(toks, Seq("source"), "tok",
        d = 4, w = 64)
      val probes = Seq("scan", "merge", "vector", "zeppelin").toDF("word")
      val est = graft.agg.Sketches.cmsEstimate(sk, Seq("source"), probes,
        "word", d = 4, w = 64)
      val exact = toks.groupBy(col("source").as("__g"), col("tok"))
        .agg(count(lit(1)).as("__c"))
      est.join(exact,
          est("source") === exact("__g") && est("word") === exact("tok"),
          "left")
        .select(est("source"), est("word"), est("est"),
          coalesce(col("__c"), lit(0L)).as("true_cnt"))
    }, graft.oracle.HashOracleSql.qCmsEstimateSql(
      "documents", "source", "text",
      probes = Seq("scan", "merge", "vector", "zeppelin"), d = 4, w = 64)),

    // P8 — anomaly-rate counter.
    Query("q_anomaly_rate", { (s, dir) =>
      val t = transcripts(s, dir)
        .withColumn("label", when(col("role") === "tool", 1).otherwise(0))
      Features.anomalyRate(t, "label")
        .select(col("n"), col("n_anomalous"), round(col("anomaly_rate"), 6).as("anomaly_rate"))
    }, withT(
      """SELECT count(*) AS n,
        |       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        |       round(avg(CASE WHEN role = 'tool' THEN 1 ELSE 0 END), 6) AS anomaly_rate
        |FROM transcripts""".stripMargin)),

    // P9 — data-quality guard: rows passing the predicate plus the count of
    // excluded rows (the guard's metric output, carried as a column).
    Query("q_quality_guard", { (s, dir) =>
      val t = transcripts(s, dir)
      val pred = col("text").isNotNull && length(col("text")) >= 30 &&
        col("turn_idx") >= 0
      val (good, bad) = Features.qualityFilter(t, pred)
      good.select(col("conv_id"), col("turn_idx"), col("text"))
        .withColumn("bad_count", lit(bad))
    }, withT(
      """SELECT conv_id, turn_idx, text,
        |  (SELECT count(*) FROM transcripts
        |   WHERE NOT (text IS NOT NULL AND length(text) >= 30 AND turn_idx >= 0)) AS bad_count
        |FROM transcripts
        |WHERE text IS NOT NULL AND length(text) >= 30 AND turn_idx >= 0""".stripMargin)),

    // G13 — train-side dedup: each distinct session sequence exactly once.
    Query("q_dedup_seq", { (s, dir) =>
      val sessions = Windows.sessionGroup(parsedIds(s, dir))
      Features.dedupSequences(sessions, "events")
        .select(array_join(col("events"), " ").as("seq"))
    }, withP(
      """, sess AS (
        |  SELECT conv_id, string_agg(event_id, ' ' ORDER BY turn_idx) AS seq
        |  FROM parsed GROUP BY 1)
        |SELECT DISTINCT seq FROM sess""".stripMargin)),

    // J7/U3 — count-matrix alignment: md5-split train/test conversations;
    // test-side counts reindexed to the train event set, events unseen at
    // train time (tool-role templates are excluded from train) folded into
    // a per-conversation __oov__ bucket.
    Query("q_align_counts", { (s, dir) =>
      val p = parsedIds(s, dir)
      val h = substring(md5(col("conv_id")), 1, 1)
      val train = p.filter(h < "8" && col("role") =!= "tool")
      val testCounts = p.filter(h >= "8")
        .groupBy(col("conv_id"), col("event_id")).agg(count(lit(1)).as("cnt"))
      Features.alignToTrainEvents(testCounts, train, Seq("conv_id"))
    }, withP(
      """, tr AS (SELECT DISTINCT event_id FROM parsed
        |          WHERE substr(md5(conv_id), 1, 1) < '8' AND role <> 'tool'),
        |tc AS (SELECT conv_id, event_id, count(*) AS cnt FROM parsed
        |       WHERE substr(md5(conv_id), 1, 1) >= '8' GROUP BY 1, 2)
        |SELECT tc.conv_id,
        |       CASE WHEN tr.event_id IS NULL THEN '__oov__' ELSE tc.event_id END AS event_id,
        |       CAST(sum(tc.cnt) AS BIGINT) AS cnt
        |FROM tc LEFT JOIN tr ON tc.event_id = tr.event_id
        |GROUP BY 1, 2""".stripMargin)),

    // J4 — vocab encode with cosine-similarity fallback: 3 known events
    // (vec_id 0-2 → ids 1-3, insertion-ordered Map3 so the scan order is
    // pinned); every other row falls back to the most-similar known id when
    // cosine > 0.2, else unk (0). Exactly oracle-able because DuckDB's
    // list_dot_product matches the JVM's sequential double fold bit-for-bit
    // (the same property the LSH hyperplane-CTE oracles rest on).
    Query("q_encode_fallback", { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vector"))
      val known: Map[String, (Int, Array[Double])] =
        emb.filter(col("vec_id") < 3).collect().map { r =>
          (r.getLong(0).toString,
            ((r.getLong(0) + 1).toInt, r.getSeq[Double](1).toArray))
        }.sortBy(_._2._1).foldLeft(Map.empty[String, (Int, Array[Double])])(_ + _)
      Preprocessing.encodeWithSimilarityFallback(
          emb.withColumn("event", col("vec_id").cast("string")),
          "event", known, minSim = 0.2)
        .select(col("vec_id"), col("vocab_id"))
    },
      """WITH known AS (
        |  SELECT vec_id AS korder, CAST(vec_id + 1 AS INT) AS kid,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS kv
        |  FROM embeddings WHERE vec_id < 3),
        |base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sims AS (
        |  SELECT b.vec_id, k.kid, k.korder,
        |         list_dot_product(k.kv, b.v)
        |           / (sqrt(list_dot_product(k.kv, k.kv)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        |  FROM base b, known k WHERE b.vec_id >= 3),
        |best AS (
        |  SELECT vec_id, kid, sim,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, korder ASC) AS rn
        |  FROM sims)
        |SELECT korder AS vec_id, kid AS vocab_id FROM known
        |UNION ALL
        |SELECT vec_id, CASE WHEN sim > 0.2 THEN kid ELSE 0 END AS vocab_id
        |FROM best WHERE rn = 1""".stripMargin)
  )
}
