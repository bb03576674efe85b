package graft.queries

import org.apache.spark.sql.functions._

import graft.agg.Preprocessing
import graft.enrich.Enrich
import graft.multimodal.{ImageHeaderDecoder, Multimodal}
import graft.parse.Drain
import graft.windows.Windows

import QueryScaffold._

/** Parse, session and window queries over the `transcripts` derivation, plus
  * the sources, formats and enrich joins that feed them.
  */
private[graft] object ParseQueries {

  val all: Seq[Query] = Seq(
    // S2/P1 — transcripts scan+projection; per-turn text equality gate.
    Query("q_transcripts", ((s, dir) => transcripts(s, dir)),
      withT("SELECT * FROM transcripts")),

    // T1/T2/G4 — Drain mine: template dictionary with md5[0:8] ids + counts.
    Query("q_parse_templates", { (s, dir) =>
      val dict = Drain.mine(transcripts(s, dir), "text", drainCfg)
      s.createDataFrame(dict).select(
        col("event_id"), col("event_template"), col("occurrences"))
    }, withP(
      """SELECT event_id, event_template, count(*) AS occurrences
        |FROM parsed GROUP BY 1, 2""".stripMargin)),

    // T1(b)/T3 — per-turn match + parameter extraction.
    Query("q_parse_structured", { (s, dir) =>
      val p = Drain.extractParameters(parsed(s, dir), "text", "event_template")
      p.select(col("conv_id"), col("turn_idx"), col("event_id"),
        col("event_template"), array_join(col("parameters"), "|").as("params"))
    }, withP(
      """SELECT conv_id, turn_idx, event_id, event_template,
        |       array_to_string(regexp_extract_all(text, '[0-9]+'), '|') AS params
        |FROM parsed""".stripMargin)),

    // G1 — session grouping by EXTRACTED id (regex find-all + explode),
    // the HDFS blk_-style sessionization over text-mentioned keys.
    Query("q_session_extract", { (s, dir) =>
      // reads `text` after the match: number first (see parsedIds)
      Windows.sessionsByExtractedId(
        Drain.parseIds(transcripts(s, dir), "text", drainCfg)._1, "user [0-9]+")
        .select(col("session_id"), array_join(col("events"), " ").as("seq"),
          col("n_rows"))
    }, withP(
      """SELECT session_id, string_agg(event_id, ' ' ORDER BY turn_idx) AS seq,
        |       count(*) AS n_rows
        |FROM (
        |  SELECT turn_idx, event_id,
        |         unnest(list_distinct(regexp_extract_all(text, 'user [0-9]+'))) AS session_id
        |  FROM parsed)
        |GROUP BY session_id""".stripMargin)),

    // G1/G2 — session grouping: ordered per-conversation event sequence.
    Query("q_session_seq", { (s, dir) =>
      Windows.sessionGroup(parsedIds(s, dir))
        .select(col("conv_id"), col("n_turns").cast("long").as("n_turns"),
          array_join(col("events"), " ").as("seq"))
    }, withP(
      """SELECT conv_id, count(*) AS n_turns,
        |       string_agg(event_id, ' ' ORDER BY turn_idx) AS seq
        |FROM parsed GROUP BY conv_id""".stripMargin)),

    // G3 — session tail truncation (last 20 events per conversation).
    Query("q_session_tail", { (s, dir) =>
      Windows.sessionTail(Windows.sessionGroup(parsedIds(s, dir)), 20)
        .select(col("conv_id"), array_join(col("events"), " ").as("tail_seq"),
          size(col("events")).as("n_kept"))
    }, withP(
      """, sess AS (
        |  SELECT conv_id, list(event_id ORDER BY turn_idx) AS seq FROM parsed GROUP BY 1)
        |SELECT conv_id,
        |  CASE WHEN len(seq) >= 20 THEN array_to_string(seq[-20:], ' ')
        |       ELSE array_to_string(seq, ' ') END AS tail_seq,
        |  CAST(least(len(seq), 20) AS INT) AS n_kept
        |FROM sess""".stripMargin)),

    // W6 — fixed-length positional chunks (PLELog fixLength).
    Query("q_chunk_by_size", { (s, dir) =>
      Windows.chunkBySize(parsedIds(s, dir), 120)
        .groupBy(col("conv_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n"))
    }, withP(
      """, rns AS (
        |  SELECT conv_id,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS rn
        |  FROM parsed)
        |SELECT conv_id, CAST(floor(rn / 120) AS BIGINT) AS chunk_id, count(*) AS n
        |FROM rns GROUP BY 1, 2""".stripMargin)),

    // W1 — fixed entry-count windows (size 4, step 2 → overlapping).
    Query("q_fixed_window", { (s, dir) =>
      Windows.fixedWindows(parsedIds(s, dir), size = 4, step = 2)
        .select(col("conv_id"), col("win_start"),
          array_join(col("events"), " ").as("events_seq"), col("n"))
    }, withP(
      """, rns AS (
        |  SELECT conv_id, turn_idx, event_id,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS rn
        |  FROM parsed)
        |SELECT conv_id, win_start,
        |       string_agg(event_id, ' ' ORDER BY turn_idx) AS events_seq,
        |       count(*) AS n
        |FROM (
        |  SELECT conv_id, turn_idx, event_id, rn,
        |         (CAST(floor(rn / 2) AS BIGINT) - k) * 2 AS win_start
        |  FROM rns, range(0, 2) t(k))
        |WHERE win_start >= 0 AND rn < win_start + 4
        |GROUP BY conv_id, win_start""".stripMargin)),

    // W3 — history sliding windows + next-event label.
    Query("q_history", { (s, dir) =>
      Windows.historyWindows(parsedIds(s, dir), h = 3)
        .select(col("conv_id"), col("turn_idx"),
          array_join(col("history"), " ").as("history"), col("next_event"))
    }, withP(
      """SELECT conv_id, turn_idx, history, next_event FROM (
        |  SELECT conv_id, turn_idx,
        |         array_to_string(list(event_id) OVER w3, ' ') AS history,
        |         lead(event_id) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_event,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
        |  FROM parsed
        |  WINDOW w3 AS (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |WHERE rn >= 3 AND next_event IS NOT NULL""".stripMargin)),

    // chat SFT pair mining over transcripts — the LLM-training extract: one
    // (context, response) pair per assistant turn, context = up to 4
    // preceding turns rendered "role: text", newline-joined oldest-first;
    // empty-context pairs dropped. h mirrored in the oracle frame.
    Query("q_sft_pairs", { (s, dir) =>
      Windows.sftPairs(transcripts(s, dir), h = 4)
    }, withT(
      """, ctx AS (
        |  SELECT conv_id, turn_idx, role, text,
        |         array_to_string(list(role || ': ' || text) OVER (
        |           PARTITION BY conv_id ORDER BY turn_idx
        |           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), chr(10)) AS context
        |  FROM transcripts)
        |SELECT conv_id, turn_idx, context, text AS response
        |FROM ctx WHERE role = 'assistant' AND length(context) > 0""".stripMargin)),

    // loss-mask rendering of the SFT pairs: one training document per pair
    // plus the 1-based response span (train-on-response-only masking).
    Query("q_sft_render", { (s, dir) =>
      Windows.sftRender(Windows.sftPairs(transcripts(s, dir), h = 4))
    }, withT(
      """, ctx AS (
        |  SELECT conv_id, turn_idx, role, text,
        |         array_to_string(list(role || ': ' || text) OVER (
        |           PARTITION BY conv_id ORDER BY turn_idx
        |           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), chr(10)) AS context
        |  FROM transcripts),
        |pairs AS (SELECT conv_id, turn_idx, context, text AS response
        |          FROM ctx WHERE role = 'assistant' AND length(context) > 0)
        |SELECT conv_id, turn_idx,
        |       context || chr(10) || 'assistant: ' || response AS rendered,
        |       CAST(length(context) + 13 AS BIGINT) AS mask_start,
        |       CAST(length(response) AS BIGINT) AS mask_len
        |FROM pairs""".stripMargin)),

    // SFT pairs under a context token budget: the maximal most-recent
    // suffix of the h-frame whose rendered-turn token total fits. h/budget
    // mirrored in the oracle; budget=18 forces real truncation (turns run
    // ~6-10 tokens on this corpus).
    Query("q_sft_budget", { (s, dir) =>
      Windows.sftPairsBudget(transcripts(s, dir), h = 4, budget = 18L)
    }, withT(
      """, ctx AS (
        |  SELECT conv_id, turn_idx, role, text,
        |         list(role || ': ' || text) OVER (
        |           PARTITION BY conv_id ORDER BY turn_idx
        |           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS turns
        |  FROM transcripts),
        |resp AS (SELECT conv_id, turn_idx, text AS response, turns
        |         FROM ctx WHERE role = 'assistant' AND len(turns) > 0),
        |tc0 AS (SELECT conv_id, turn_idx, response,
        |          generate_subscripts(turns, 1) AS i, unnest(turns) AS ts
        |        FROM resp),
        |tc AS (SELECT conv_id, turn_idx, response, i, ts,
        |         CAST(len(list_filter(regexp_split_to_array(trim(ts),
        |           '\s+'), x -> x <> '')) AS BIGINT) AS c
        |       FROM tc0),
        |sfx AS (SELECT *, sum(c) OVER (PARTITION BY conv_id, turn_idx
        |          ORDER BY i DESC) AS sufsum FROM tc),
        |kept AS (SELECT * FROM sfx WHERE sufsum <= 18),
        |agg AS (SELECT conv_id, turn_idx,
        |          string_agg(ts, chr(10) ORDER BY i) AS context,
        |          CAST(count(*) AS INT) AS ctx_turns,
        |          CAST(sum(c) AS BIGINT) AS ctx_tokens
        |        FROM kept GROUP BY 1, 2)
        |SELECT a.conv_id, a.turn_idx, a.context, r.response,
        |       a.ctx_turns, a.ctx_tokens
        |FROM agg a JOIN resp r USING (conv_id, turn_idx)""".stripMargin)),

    // W2 — time-based sliding windows (size 600s, step 300s).
    Query("q_time_window", { (s, dir) =>
      Windows.timeWindows(parsedIds(s, dir), sizeSec = 600, stepSec = 300)
        .select(col("conv_id"), col("win_start"),
          array_join(col("events"), " ").as("events_seq"), col("n"))
    }, withP(
      """, rs AS (
        |  SELECT conv_id, turn_idx, event_id,
        |         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
        |  FROM parsed)
        |SELECT conv_id, win_start,
        |       string_agg(event_id, ' ' ORDER BY turn_idx) AS events_seq,
        |       count(*) AS n
        |FROM (
        |  SELECT conv_id, turn_idx, event_id, sec,
        |         (CAST(floor(sec / 300) AS BIGINT) - k) * 300 AS win_start
        |  FROM rs, range(0, 2) t(k))
        |WHERE sec >= win_start AND sec < win_start + 600
        |GROUP BY 1, 2""".stripMargin)),

    // W2(b) — GLOBAL time windows (no session key): whole-log hour-window
    // shape of loglizer/dataloader.py:193-247, count-vector output.
    Query("q_time_window_global", { (s, dir) =>
      Windows.timeWindowsGlobal(parsedIds(s, dir), sizeSec = 600, stepSec = 300)
    }, withP(
      """, rs AS (
        |  SELECT event_id, CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
        |  FROM parsed)
        |SELECT win_start, event_id, count(*) AS cnt
        |FROM (
        |  SELECT event_id, sec,
        |         (CAST(floor(sec / 300) AS BIGINT) - k) * 300 AS win_start
        |  FROM rs, range(0, 2) t(k))
        |WHERE sec >= win_start AND sec < win_start + 600
        |GROUP BY 1, 2""".stripMargin)),

    // W7/F4 — deltaT between consecutive turns (exact integer micros).
    Query("q_deltat", { (s, dir) =>
      Windows.deltaT(transcripts(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("delta_us"))
    }, withT(
      """SELECT conv_id, turn_idx,
        |       coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx), 0) AS delta_us
        |FROM transcripts""".stripMargin)),

    // P2/G11 — label binarize + window label reduce (max per conversation).
    Query("q_window_label", { (s, dir) =>
      transcripts(s, dir)
        .withColumn("lbl", when(col("role") === "tool", 1).otherwise(0))
        .groupBy(col("conv_id"))
        .agg(max(col("lbl")).as("label"), sum(col("lbl")).as("n_anomalous"))
    }, withT(
      """SELECT conv_id,
        |       max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label,
        |       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
        |FROM transcripts GROUP BY conv_id""".stripMargin)),

    // J2 — template-dictionary join: the slim id-only event stream gets its
    // template text back from the broadcast dict (the "never materialize the
    // template per row" design relies on exactly this reconstruction).
    Query("q_enrich_template", { (s, dir) =>
      val t = transcripts(s, dir)
      val dict = Drain.mine(t, "text", drainCfg)
      val slim = Drain.matchEventIds(t, "text", dict, drainCfg)
        .select("conv_id", "turn_idx", "event_id")
      Enrich.templates(slim,
          s.createDataFrame(dict).select("event_id", "event_template"))
        .select("conv_id", "turn_idx", "event_id", "event_template")
    }, withP(
      """SELECT conv_id, turn_idx, event_id, event_template FROM parsed""".stripMargin)),

    // J1/J2 — broadcast label enrich: conv label dim joined to turns.
    Query("q_enrich_labels", { (s, dir) =>
      val t = transcripts(s, dir)
      val labels = t.groupBy(col("conv_id"))
        .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      Enrich.convLabels(t.select("conv_id", "turn_idx"), labels)
    }, withT(
      """, labels AS (
        |  SELECT conv_id, max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label
        |  FROM transcripts GROUP BY conv_id)
        |SELECT t.conv_id, t.turn_idx, coalesce(l.label, 0) AS label
        |FROM transcripts t LEFT JOIN labels l USING (conv_id)""".stripMargin)),

    // T4 — Spell (LCS) miner: alternate parser, same dictionary contract.
    Query("q_spell_templates", { (s, dir) =>
      val dict = graft.parse.Spell.mine(transcripts(s, dir), "text", tau = 0.5)
      s.createDataFrame(dict).select(
        col("event_id"), col("event_template"), col("occurrences"))
    },
    // Spell converges to the same digit-masked dictionary on this corpus.
    withP(
      """SELECT event_id, event_template, count(*) AS occurrences
        |FROM parsed GROUP BY 1, 2""".stripMargin)),

    // T4(b) — Spell per-turn match.
    Query("q_spell_structured", { (s, dir) =>
      val t = transcripts(s, dir)
      val (p, _) = graft.parse.Spell.parse(t, "text", tau = 0.5)
      p.select("conv_id", "turn_idx", "event_id", "event_template")
    }, withP(
      """SELECT conv_id, turn_idx, event_id, event_template FROM parsed""".stripMargin)),

    // T3 (Spell variant) — parameter extraction with punctuation-stripped
    // params (Spell.py:328-338). On this corpus every parameter slot is a
    // digit run, so the oracle is the same digit extraction as Drain's.
    Query("q_spell_params", { (s, dir) =>
      val (p, _) = graft.parse.Spell.parse(transcripts(s, dir), "text", tau = 0.5)
      graft.parse.Spell.extractParameters(p, "text", "event_template")
        .select(col("conv_id"), col("turn_idx"),
          array_join(col("parameters"), "|").as("params"))
    }, withT(
      """SELECT conv_id, turn_idx,
        |       array_to_string(regexp_extract_all(text, '[0-9]+'), '|') AS params
        |FROM transcripts""".stripMargin)),

    // P6 — min-length session filter (sessions with ≥ 60 events).
    Query("q_min_length", { (s, dir) =>
      Windows.minLength(Windows.sessionGroup(parsedIds(s, dir)), 60)
        .select(col("conv_id"), size(col("events")).as("n_events"))
    }, withP(
      """SELECT conv_id, CAST(count(*) AS INT) AS n_events
        |FROM parsed GROUP BY conv_id HAVING count(*) >= 60""".stripMargin)),

    // F9 — pad-left / tail-truncate session sequences to fixed length.
    Query("q_pad_truncate", { (s, dir) =>
      Windows.sessionGroup(parsedIds(s, dir))
        .select(col("conv_id"),
          array_join(Preprocessing.padOrTruncateLeft(col("events"), 100, "<pad>"), " ")
            .as("padded"))
    }, withP(
      """, sess AS (
        |  SELECT conv_id, list(event_id ORDER BY turn_idx) AS seq FROM parsed GROUP BY 1)
        |SELECT conv_id,
        |  CASE WHEN len(seq) >= 100 THEN array_to_string(seq[-100:], ' ')
        |       ELSE array_to_string(list_concat(list_transform(range(100 - len(seq)), x -> '<pad>'), seq), ' ')
        |  END AS padded
        |FROM sess""".stripMargin)),

    // W4 — logbert-style chunking of session sequences.
    Query("q_chunk", { (s, dir) =>
      Preprocessing.chunkSequence(Windows.sessionGroup(parsedIds(s, dir)), "events", 10)
        .select(col("conv_id"), col("chunk_idx"),
          array_join(col("chunk"), " ").as("chunk"))
    }, withP(
      """, sess AS (
        |  SELECT conv_id, list(event_id ORDER BY turn_idx) AS seq FROM parsed GROUP BY 1)
        |SELECT conv_id, CAST(i AS INT) AS chunk_idx,
        |       array_to_string(seq[(i*10+1):(i*10+10)], ' ') AS chunk
        |FROM sess, UNNEST(range(0, CAST(ceil(len(seq) / 10.0) AS BIGINT))) u(i)""".stripMargin)),

    // W5 — anchor-based sessionization (streaming partition scan on the
    // Spark side; the DuckDB oracle walks the same anchor recursion with a
    // recursive CTE stepping one turn per iteration).
    Query("q_anchor_sessions", { (s, dir) =>
      Windows.anchorSessions(transcripts(s, dir), gapSec = 86400)
    },
    // The anchor recursion (next anchor = first ts >= prev anchor + gap)
    // walked one turn per recursive step; all conversations advance in
    // lockstep, so iterations = max conversation length.
    withT(
      """, seq AS (
        |  SELECT conv_id, turn_idx, epoch_us(ts) AS us,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
        |  FROM transcripts)
        |SELECT conv_id, turn_idx, session_idx FROM (
        |  WITH RECURSIVE walk(conv_id, rn, turn_idx, anchor, session_idx) AS (
        |    SELECT conv_id, rn, turn_idx, us, 0 FROM seq WHERE rn = 1
        |    UNION ALL
        |    SELECT s.conv_id, s.rn, s.turn_idx,
        |           CASE WHEN s.us >= w.anchor + 86400000000 THEN s.us ELSE w.anchor END,
        |           CASE WHEN s.us >= w.anchor + 86400000000 THEN w.session_idx + 1 ELSE w.session_idx END
        |    FROM walk w JOIN seq s ON s.conv_id = w.conv_id AND s.rn = w.rn + 1)
        |  SELECT conv_id, turn_idx, CAST(session_idx AS INT) AS session_idx FROM walk)""".stripMargin)),

    // AS-OF join (beyond the reference's dict lookups): every turn gets the
    // latest tool-turn at ts <= its own ts in the same conversation — the
    // no-join-operator window formulation; oracle = DuckDB's native ASOF
    // LEFT JOIN over the identical pre-aggregated update stream.
    Query("q_asof_enrich", { (s, dir) =>
      val t = transcripts(s, dir)
      val upd = t.filter(col("role") === "tool")
        .groupBy(col("conv_id"), col("ts"))
        .agg(max(col("turn_idx")).as("last_tool_turn"))
      Enrich.asOfJoin(t.select("conv_id", "turn_idx", "ts"), upd,
          Seq("conv_id"), "ts", Seq("last_tool_turn"))
        .select("conv_id", "turn_idx", "last_tool_turn")
    }, withT(
      """, upd AS (
        |  SELECT conv_id, ts, max(turn_idx) AS last_tool_turn
        |  FROM transcripts WHERE role = 'tool' GROUP BY 1, 2)
        |SELECT t.conv_id, t.turn_idx, u.last_tool_turn
        |FROM transcripts t ASOF LEFT JOIN upd u
        |  ON t.conv_id = u.conv_id AND t.ts >= u.ts""".stripMargin)),

    // RANGE (interval) join via time-bin equi-join — each tool turn opens a
    // 300s window; count the turns inside it. The naive inequality join
    // plans BroadcastNestedLoopJoin; the binned form is a plain equi-join
    // (PlanSpec asserts it). Oracle = the naive inequality join in DuckDB.
    Query("q_range_join", { (s, dir) =>
      val t = transcripts(s, dir)
      val win = t.filter(col("role") === "tool")
        .select(col("conv_id"), col("turn_idx").as("tool_turn"),
          col("ts").as("t_start"),
          (col("ts") + expr("INTERVAL 300 SECONDS")).as("t_end"))
      Windows.rangeJoinBinned(
          t.select("conv_id", "turn_idx", "ts"), win,
          Seq("conv_id"), "ts", "t_start", "t_end", Seq("tool_turn"), binSec = 300)
        .groupBy(col("conv_id"), col("tool_turn"))
        .agg(count(lit(1)).as("n_in_window"))
    }, withT(
      """, w AS (
        |  SELECT conv_id, turn_idx AS tool_turn, ts AS t0,
        |         ts + INTERVAL 300 SECOND AS t1
        |  FROM transcripts WHERE role = 'tool')
        |SELECT w.conv_id, w.tool_turn, count(*) AS n_in_window
        |FROM w JOIN transcripts t
        |  ON t.conv_id = w.conv_id AND t.ts >= w.t0 AND t.ts <= w.t1
        |GROUP BY 1, 2""".stripMargin)),

    // multimodal plumbing: binary media column → (stub-)decoded features.
    Query("q_media_features", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.extractFeatures(Multimodal.asMedia(d, "doc_id", "text")).toDF()
    },
      """SELECT doc_id,
        |  CASE ascii(substr(md5(text), 1, 1)) % 3 WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST((ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1))) % 1920 AS INT) AS width,
        |  CAST((ascii(substr(md5(text), 3, 1)) * 256 + ascii(substr(md5(text), 4, 1))) % 1080 AS INT) AS height,
        |  CAST((ascii(substr(md5(text), 5, 1)) * 256 + ascii(substr(md5(text), 6, 1))) * 10 AS INT) AS duration_ms,
        |  md5(text) AS digest
        |FROM documents""".stripMargin),

    // REAL image header decode: deterministic PNG/JPEG bytes are constructed
    // per doc_id (ImageHeaderDecoder.syntheticBytes — valid signatures, CRC'd
    // IHDR, APP0/COM skip segments), parsed back by the pure-JVM header
    // parser, and DuckDB recomputes the expected fields arithmetically from
    // the same id formulas — an end-to-end round-trip oracle of the parser.
    Query("q_image_headers", { (s, dir) =>
      import s.implicits._
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, "image", ImageHeaderDecoder.syntheticBytes(id)))
      ImageHeaderDecoder.imageStats(media).toDF()
    },
    // mirror of ImageHeaderDecoder.syntheticHeader — the round-trip oracle:
    // Spark constructs real PNG/JPEG bytes from doc_id and parses them back;
    // DuckDB computes the expected header fields from the same id formulas.
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(doc_id % 1920 + 1 AS INT) AS width,
        |  CAST(doc_id % 1080 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
        |       ELSE CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
        |  END AS INT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0 THEN 16 ELSE 8 END AS INT) AS bit_depth
        |FROM documents""".stripMargin),

    // F5 — camel-case split (pure column expression).
    Query("q_camel", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        array_join(Preprocessing.camelSplit(
          concat(lit("docId"), col("doc_id"), lit("FromHTTPSource"), upper(col("source")))), "|")
          .as("parts"))
    },
      """SELECT doc_id,
        |  array_to_string(regexp_split_to_array(
        |    regexp_replace(
        |      regexp_replace(concat('docId', doc_id, 'FromHTTPSource', upper(source)),
        |                     '([a-z0-9])([A-Z])', '\1 \2', 'g'),
        |      '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'), '\s+'), '|') AS parts
        |FROM documents""".stripMargin),

    // F10 — JSON functions: serialize the label dim to JSON text, parse it
    // back with from_json, extract typed fields (the reference's json label
    // dicts, hdfs_data_process.py:29-30). The JSON string is built with
    // concat on BOTH engines so each engine's PARSER is what is compared.
    Query("q_json_labels", { (s, dir) =>
      val labels = transcripts(s, dir).groupBy(col("conv_id"))
        .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      val js = labels.select(concat(
        lit("{\"conv\":\""), col("conv_id"), lit("\",\"label\":"),
        col("label").cast("string"), lit("}")).as("js"))
      js.select(graft.sources.JsonSide.parseStruct(col("js"), "conv STRING, label INT").as("p"))
        .select(col("p.conv").as("conv_id"), col("p.label").as("label"))
    }, withT(
      """, labels AS (
        |  SELECT conv_id, max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label
        |  FROM transcripts GROUP BY conv_id),
        |js AS (
        |  SELECT '{"conv":"' || conv_id || '","label":' || CAST(label AS VARCHAR) || '}' AS js
        |  FROM labels)
        |SELECT json_extract_string(js, '$.conv') AS conv_id,
        |       CAST(json_extract(js, '$.label') AS INT) AS label
        |FROM js""".stripMargin)),

    // S3 under CSV — anomaly_label.csv parity: the label dim is written in
    // the reference's (BlockId, Label∈{Anomaly,Normal}) shape, read back
    // through the explicit-schema CSV scan, and joined to the turns (J1).
    // The oracle computes the same join from parquet directly — the CSV
    // round-trip being identity is exactly what is checked.
    Query("q_csv_labels", { (s, dir) =>
      val t = transcripts(s, dir)
      val labels = t.groupBy(col("conv_id"))
        .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      val path = csvWorkDir(s, "labels")
      graft.sources.CsvArtifacts.writeAnomalyLabelCsv(labels, path)
      Enrich.convLabels(t.select("conv_id", "turn_idx"),
        graft.sources.CsvArtifacts.readAnomalyLabelCsv(s, path))
    },
    // CSV round-trips must be identity: same results as the parquet-direct
    // derivations (any quoting/typing drift in the CSV layer breaks the hash).
    withT(
      """, labels AS (
        |  SELECT conv_id, max(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS label
        |  FROM transcripts GROUP BY conv_id)
        |SELECT t.conv_id, t.turn_idx, coalesce(l.label, 0) AS label
        |FROM transcripts t LEFT JOIN labels l USING (conv_id)""".stripMargin)),

    // S6 under CSV — *_structured.csv parity: parse output written in the
    // reference's structured shape and read back with an explicit schema.
    Query("q_csv_structured", { (s, dir) =>
      val p = parsed(s, dir).select(
        col("conv_id").as("ConvId"), col("turn_idx").as("TurnIdx"),
        col("event_id").as("EventId"), col("event_template").as("EventTemplate"))
      val path = csvWorkDir(s, "structured")
      graft.sources.CsvArtifacts.writeStructuredCsv(p, path)
      graft.sources.CsvArtifacts.readStructuredCsv(s, path,
          "ConvId STRING, TurnIdx INT, EventId STRING, EventTemplate STRING")
        .select(col("ConvId").as("conv_id"), col("TurnIdx").as("turn_idx"),
          col("EventId").as("event_id"), col("EventTemplate").as("event_template"))
    }, withP(
      """SELECT conv_id, turn_idx, event_id, event_template FROM parsed""".stripMargin)),

    // S7 under CSV — *_templates.csv parity: the template dictionary through
    // the reference's (EventId, EventTemplate, Occurrences) CSV shape.
    Query("q_csv_templates", { (s, dir) =>
      val dict = Drain.mine(transcripts(s, dir), "text", drainCfg)
      val path = csvWorkDir(s, "templates")
      graft.sources.CsvArtifacts.writeTemplatesCsv(
        s.createDataFrame(dict).select("event_id", "event_template", "occurrences"), path)
      graft.sources.CsvArtifacts.readTemplatesCsv(s, path)
    }, withP(
      """SELECT event_id, event_template, count(*) AS occurrences
        |FROM parsed GROUP BY 1, 2""".stripMargin)),

    // S6 under ORC — the structured parse output round-tripped through
    // Spark's second built-in columnar format (schema-on-read; its scan
    // supports predicate pushdown like parquet — OrcRoundTripSpec asserts
    // PushedFilters). Lossless, so the oracle is the parse itself.
    Query("q_orc_structured", { (s, dir) =>
      val p = parsed(s, dir)
        .select("conv_id", "turn_idx", "event_id", "event_template")
      val path = csvWorkDir(s, "orc_structured")
      p.write.mode("overwrite").orc(path)
      s.read.schema(
          "conv_id STRING, turn_idx INT, event_id STRING, event_template STRING")
        .orc(path)
    }, withP(
      """SELECT conv_id, turn_idx, event_id, event_template FROM parsed""".stripMargin)),

    // P7 — drop-k-header-tokens projection over a reconstructed raw line
    // (role + conv_id prepended as a 2-token header, then stripped back off).
    Query("q_drop_header", { (s, dir) =>
      val t = transcripts(s, dir)
      val line = concat_ws(" ", col("role"), col("conv_id"), col("text"))
      t.select(col("conv_id"), col("turn_idx"),
        graft.sources.RawLogs.dropHeaderTokens(line, 2).as("content"))
    }, withT(
      """SELECT conv_id, turn_idx,
        |  array_to_string(regexp_split_to_array(trim(concat_ws(' ', role, conv_id, text)), '\s+')[3:], ' ') AS content
        |FROM transcripts""".stripMargin)),

    // J3 — event→embedding join with the reference's default-on-miss vector
    // ([-1]*dim); exploded to scalars for the compare (like q_sum_vectors).
    Query("q_embed_default", { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      val vecs = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("doc_id"), col("embedding").as("vector"))
      Enrich.embeddings(docs, vecs, dim = 64, eventCol = "doc_id")
        .select(col("doc_id"), posexplode(col("vector")).as(Seq("pos", "x")))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("dim"), col("x"))
    },
      """SELECT j.doc_id, CAST(gs AS INT) AS dim, vec[gs] AS x
        |FROM (SELECT d.doc_id,
        |        COALESCE(e.embedding, list_transform(range(64), i -> CAST(-1.0 AS REAL))) AS vec
        |      FROM documents d
        |      LEFT JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0) e
        |        ON d.doc_id = e.vec_id) j,
        |     UNNEST(generate_series(1, len(vec))) AS u(gs)""".stripMargin),

    // T6 — log_format compiler: "<Role> <Conv>: <Content>" lines rebuilt
    // from the transcripts, split back into columns by the compiled
    // anchored regex (codegen'd regexp_extract, non-matches dropped).
    Query("q_logformat", { (s, dir) =>
      val t = transcripts(s, dir)
      val lines = t.select(concat(col("role"), lit(" "), col("conv_id"),
        lit(": "), col("text")).as("line"))
      val fmt = graft.parse.LogFormat.compile("<Role> <Conv>: <Content>")
      graft.parse.LogFormat.split(lines, "line", fmt)
    }, withT(
      """SELECT regexp_extract(l, '^(.*?)\s+(.*?)\:\s+(.*?)$', 1) AS Role,
        |       regexp_extract(l, '^(.*?)\s+(.*?)\:\s+(.*?)$', 2) AS Conv,
        |       regexp_extract(l, '^(.*?)\s+(.*?)\:\s+(.*?)$', 3) AS Content
        |FROM (SELECT trim(role || ' ' || conv_id || ': ' || text) AS l FROM transcripts)
        |WHERE regexp_matches(l, '^(.*?)\s+(.*?)\:\s+(.*?)$')""".stripMargin)),

    // sanity: TPC-H-ish aggregate over lineitem.
    Query("q1_agg", { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin)
  )
}
