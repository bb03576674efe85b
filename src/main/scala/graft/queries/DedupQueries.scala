package graft.queries

import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.dedup.Dedup
import graft.text.TextAnalysis

import QueryScaffold._

/** Exact and near-duplicate detection (MinHash / SimHash / winnowing / span
  * dedup) and the ANN family over `embeddings`. The hash-based oracles are
  * recomputed entirely inside DuckDB SQL by [[graft.oracle.HashOracleSql]];
  * the Python ports in tools/check_oracle.py stay as a third cross-check.
  */
private[graft] object DedupQueries {

  val all: Seq[Query] = Seq(
    // exact dedup by content digest.
    Query("q_dedup_exact", { (s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    },
      """SELECT md5(text) AS text_md5, min(doc_id) AS rep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    // exact trigram-Jaccard near-dup pairs (the LSH path's ground truth).
    Query("q_ngram_jaccard", { (s, dir) =>
      // maxShingleDf = None pins the exact-baseline semantics the DuckDB
      // oracle computes (the scale default is a Some(10000) hot-shingle cap)
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", n = 3, tau = 0.3, maxShingleDf = None)
    },
      """WITH toks AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT id, array_to_string(t[i:i+2], ' ') AS sh
        |       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, common,
        |       round(common * 1.0 / (x.sz + y.sz - common), 4) AS jaccard
        |FROM inter JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
        |WHERE round(common * 1.0 / (x.sz + y.sz - common), 4) >= 0.3""".stripMargin),

    // corpus release diff: two deterministic snapshots derived from the one
    // documents table (old = id%7!=0; new = id%5!=0 with text mutated at
    // id%11==0), classified added/removed/changed by content fingerprint.
    // The snapshot derivations are mirrored verbatim in the oracle SQL.
    Query("q_snapshot_diff", { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.dedup.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
    },
      """WITH o AS (SELECT doc_id, md5(text) AS ofp FROM documents
        |           WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |                 ELSE text END) AS nfp
        |      FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id,
        |       CASE WHEN ofp IS NULL THEN 'added'
        |            WHEN nfp IS NULL THEN 'removed'
        |            WHEN ofp <> nfp THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |WHERE (CASE WHEN ofp IS NULL THEN 'added'
        |            WHEN nfp IS NULL THEN 'removed'
        |            WHEN ofp <> nfp THEN 'changed' END) IS NOT NULL""".stripMargin),

    // MinHash+LSH near-dup pairs (approximate; ScalaTest checks recall vs
    // the exact pairs; exact oracle = HashOracleSql.qMinhashLshSql, which
    // re-derives XXH64 signatures + band buckets inside DuckDB SQL).
    Query("q_minhash_lsh", { (s, dir) =>
      Dedup.minhashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", n = 3, numHashes = 24, bands = 4, tau = 0.3)
    }, graft.oracle.HashOracleSql.qMinhashLshSql(
      n = 3, numHashes = 24, bands = 4, tau = 0.3, maxBucketSize = 500)),

    // SimHash fingerprints (oracle = HashOracleSql.qSimhashSql — Scala
    // MurmurHash3.stringHash recomputed in DuckDB SQL).
    Query("q_simhash", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
    }, graft.oracle.HashOracleSql.qSimhashSql),

    // brute-force cosine top-k ANN baseline.
    Query("q_ann_brute", { (s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryIds = (0L until 10L), k = 5)
    },
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v),
        |scored AS (
        |  SELECT q.vec_id AS qid, b.vec_id AS id,
        |         round(list_dot_product(q.v, b.v) / (q.norm * b.norm), 4) AS cosine
        |  FROM n q, n b WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id)
        |SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor_id, cosine FROM (
        |  SELECT qid, id, cosine,
        |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin),

    // LSH-bucketed ANN (recall < 1 vs brute force BY DESIGN, but the bucket
    // construction is deterministic → the exact output is oracle-checkable
    // via the same splitmix64 plane CTE as q_embed_dedup_lsh).
    Query("q_ann_lsh", { (s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryIds = (0L until 10L), k = 5)
    },
      s"""WITH emb AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nrm AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS norm FROM emb),
         |${Similarity.planeWeightsSqlCte("pw", tables = 6, nPlanes = 12, dim = 64)},
         |bkt AS (
         |  SELECT e.id, pw.t,
         |         CAST(sum(CASE WHEN list_dot_product(e.v, pw.plane) >= 0 THEN (1::BIGINT << pw.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM emb e, pw GROUP BY e.id, pw.t),
         |cand AS (SELECT DISTINCT q.id AS qid, b.id AS cid
         |         FROM bkt q JOIN bkt b ON q.t = b.t AND q.bucket = b.bucket AND q.id <> b.id
         |         WHERE q.id < 10),
         |scored AS (
         |  SELECT cand.qid, cand.cid, round(list_dot_product(q.v, x.v) / (q.norm * x.norm), 4) AS cosine
         |  FROM cand JOIN nrm q ON cand.qid = q.id JOIN nrm x ON cand.cid = x.id)
         |SELECT qid, CAST(rank AS INT) AS rank, cid AS neighbor_id, cosine FROM (
         |  SELECT qid, cid, cosine,
         |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin),

    // IVF ANN (coarse-quantizer scale path; recall vs brute force in
    // ScalaTest; exact oracle = HashOracleSql.qAnnIvfSql — the deterministic
    // k-means unrolled in SQL).
    Query("q_ann_ivf", { (s, dir) =>
      // quantizerSampleMod = 1 pins full-corpus training — the exact
      // semantics the SQL/Python oracles recompute (auto would resolve to
      // the same mod on this corpus size; the pin makes it explicit)
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryIds = (0L until 10L), k = 5,
        nLists = 8, nProbe = 4, iters = 2, quantizerSampleMod = 1L)
    }, graft.oracle.HashOracleSql.qAnnIvfSql(
      nLists = 8, nProbe = 4, iters = 2, seed = 42L, k = 5, nQueries = 10)),

    // Product-quantization ANN (Jégou et al. 2011 ADC): corpus encoded as
    // numSub codebook indices, search = broadcast distance-table lookups.
    // Exact oracle = HashOracleSql.qAnnPqSql (per-subspace k-means unrolled
    // in SQL) + the supp_ann_pq py port.
    Query("q_ann_pq", { (s, dir) =>
      // quantizerSampleMod = 1 pins full-corpus training (same rationale as
      // q_ann_ivf: the exact semantics both oracles recompute)
      Similarity.pqTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryIds = (0L until 10L), k = 5,
        numSub = 4, numCodes = 16, iters = 2, quantizerSampleMod = 1L)
    },
    // dim = 64 mirrors the embeddings fixture width at every SF (pqTopK
    // detects it; the oracle must pin it to unroll the subspace slices)
    graft.oracle.HashOracleSql.qAnnPqSql(
      dim = 64, numSub = 4, numCodes = 16, iters = 2, seed = 42L,
      k = 5, nQueries = 10)),

    // IVF-PQ ANN (FAISS IndexIVFPQ shape, by_residual=false): coarse lists
    // prune the corpus, PQ ADC ranks the survivors — the search ships
    // (id, cluster, codes) rows only, never vectors.
    Query("q_ann_ivfpq", { (s, dir) =>
      Similarity.ivfPqTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", queryIds = (0L until 10L), k = 5,
        nLists = 8, nProbe = 4, coarseIters = 2, numSub = 4, numCodes = 16,
        pqIters = 2, quantizerSampleMod = 1L)
    }, graft.oracle.HashOracleSql.qAnnIvfPqSql(
      dim = 64, nLists = 8, nProbe = 4, coarseIters = 2, numSub = 4,
      numCodes = 16, pqIters = 2, seed = 42L, k = 5, nQueries = 10)),

    // embedding-cosine near-dup pairs, brute-force SMALL-CORPUS BASELINE —
    // kept only as the DuckDB-checkable ground truth for the LSH path below.
    Query("q_embed_dedup", { (s, dir) =>
      Dedup.embeddingCosinePairs(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", tau = 0.35)
    },
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) AS cosine
        |FROM n a, n b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= 0.35""".stripMargin),

    // SemDeDup (Abbas et al. 2023): k-means-clustered semantic dedup —
    // within-cluster-only pairwise cosine, keep the member farthest from
    // the centroid. quantizerSampleMod = 1 pins full-corpus quantizer
    // training (the q_ann_ivf arrangement; auto resolves to the same mod
    // on this corpus — the pin makes the oracle semantics explicit).
    // tau = 0.35 matches q_embed_dedup: this synthetic corpus' dups sit
    // at cosine 0.35-0.5.
    Query("q_semdedup", { (s, dir) =>
      Dedup.semDedup(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", tau = 0.35, nLists = 8, iters = 2,
        quantizerSampleMod = 1L)
    },
    // shares q_ann_ivf's coarse-quantizer CTE chain (HashOracleSql.coarseCtes)
    graft.oracle.HashOracleSql.qSemDedupSql(
      nLists = 8, iters = 2, seed = 42L, tau = 0.35)),

    // embedding-cosine near-dup pairs at scale: hyperplane-LSH bucketed
    // equi-join + exact re-rank (the DEFAULT path). The hyperplanes are
    // DETERMINISTIC splitmix64 arithmetic, so the DuckDB oracle recomputes
    // the same planes/buckets/pairs EXACTLY (Similarity.planeWeightsSqlCte);
    // ScalaTest additionally checks recall vs the brute-force baseline and
    // PlanSpec asserts no nested-loop join. 6 planes × 8 tables because the
    // synthetic corpus' "near"-dups sit at cosine 0.35-0.5 — far below the
    // near-dup regime LSH is selective in; production thresholds (≥0.9) use
    // the 8×8 default with ~0.95+ recall.
    Query("q_embed_dedup_lsh", { (s, dir) =>
      Dedup.embeddingLshPairs(s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", tau = 0.35, nPlanes = 6, tables = 8)
    },
    // The LSH plane matrix is pure splitmix64 arithmetic — recomputed in SQL
    // (Similarity.planeWeightsSqlCte) so buckets, candidate pairs, and exact
    // re-ranked cosines all reproduce bit-for-bit.
      s"""WITH emb AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nrm AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS norm FROM emb),
         |${Similarity.planeWeightsSqlCte("pw", tables = 8, nPlanes = 6, dim = 64)},
         |bkt AS (
         |  SELECT e.id, pw.t,
         |         CAST(sum(CASE WHEN list_dot_product(e.v, pw.plane) >= 0 THEN (1::BIGINT << pw.p) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM emb e, pw GROUP BY e.id, pw.t),
         |keep AS (SELECT t, bucket FROM bkt GROUP BY t, bucket HAVING count(*) > 1 AND count(*) <= 2000),
         |pruned AS (SELECT bkt.id, bkt.t, bkt.bucket FROM bkt JOIN keep USING (t, bucket)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM pruned a JOIN pruned b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id)
         |SELECT id_a, id_b, round(list_dot_product(x.v, y.v) / (x.norm * y.norm), 4) AS cosine
         |FROM cand JOIN nrm x ON cand.id_a = x.id JOIN nrm y ON cand.id_b = y.id
         |WHERE round(list_dot_product(x.v, y.v) / (x.norm * y.norm), 4) >= 0.35""".stripMargin),

    // SimHash near-dup PAIRS via the multi-index banded equi-join — exact
    // for hamming ≤ k by pigeonhole, so the SQL oracle is brute force over
    // the SQL-recomputed fingerprints (HashOracleSql.qSimhashPairsSql).
    Query("q_simhash_pairs", { (s, dir) =>
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", maxHamming = 7)
    }, graft.oracle.HashOracleSql.qSimhashPairsSql(maxHamming = 7)),

    // dedup groups: connected components over the near-dup pair graph —
    // group_rep = kept representative per duplicate cluster. The PAIR SOURCE
    // here is the brute-force baseline only because the DuckDB oracle must
    // compute the identical pair set; at scale the same operator consumes
    // embeddingLshPairs / minhashLshPairs / simhashPairs output unchanged.
    Query("q_dedup_groups", { (s, dir) =>
      val pairs = Dedup.embeddingCosinePairs(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", tau = 0.35)
      Dedup.connectedComponents(pairs)
    },
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a, n b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= 0.35),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(s, m) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.m = e.a)
        |SELECT s AS id, min(m) AS group_rep FROM reach GROUP BY s""".stripMargin),

    // dedup end-to-end: pairs → groups → keep one representative per group.
    Query("q_dedup_keep", { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", tau = 0.35)
      Dedup.keepRepresentatives(emb.select("vec_id"),
        Dedup.connectedComponents(pairs), "vec_id")
    },
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a, n b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= 0.35),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(s, m) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN edges e ON r.m = e.a),
        |g AS (SELECT s AS id, min(m) AS rep FROM reach GROUP BY s)
        |SELECT e.vec_id FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.id = e.vec_id AND g.rep <> g.id)""".stripMargin),

    // SPAN-level exact dedup (Lee et al. ACL'22): non-overlapping 3-token
    // spans, md5 fingerprints, first global (doc_id, span_idx) occurrence
    // kept, documents reassembled from kept spans. One fp exchange, no join.
    Query("q_span_dedup", { (s, dir) =>
      Dedup.spanDedupDocs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", spanTokens = 3)
    },
    // span dedup: DuckDB rebuilds the same non-overlapping 3-token spans,
    // ranks identical spans by (doc_id, span_idx) in a window over the md5
    // fingerprint, and reassembles kept spans per document. string_agg skips
    // the NULLed duplicate spans; a fully-duplicate doc coalesces to ''.
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |spans AS (
        |  SELECT doc_id,
        |         unnest(range(0, (len(t) + 2) // 3)) AS span_idx,
        |         unnest(list_transform(range(0, (len(t) + 2) // 3),
        |                i -> array_to_string(t[i*3+1:i*3+3], ' '))) AS span_text
        |  FROM toks),
        |v AS (
        |  SELECT doc_id, span_idx, span_text,
        |         row_number() OVER (PARTITION BY md5(span_text)
        |                            ORDER BY doc_id, span_idx) AS rn
        |  FROM spans)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' '
        |                      ORDER BY span_idx), '') AS dedup_text
        |FROM v GROUP BY doc_id""".stripMargin),

    // document fingerprinting: normalized md5 + rolling min-hash.
    Query("q_fingerprint", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingMinFingerprint(col("text"), 16).as("roll_fp"))
    },
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp,
        |  CASE WHEN length(norm) < 16 THEN md5(norm)
        |       ELSE list_min(list_transform(range(1, length(norm) - 14),
        |                     i -> md5(substr(norm, CAST(i AS INT), 16)))) END AS roll_fp
        |FROM n""".stripMargin),

    // TRUE winnowing (per-window k-gram minima, SIGMOD'03): the plagiarism-
    // grade fingerprint set, exploded to (doc_id, fp) rows.
    Query("q_winnow", { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), k = 8, w = 4)).as("fp"))
    },
    // k=8, w=4 → guarantee t=11: any shared substring of 11+ normalized
    // chars shares a fingerprint. DuckDB list slicing is 1-based inclusive:
    // hs[j:j+3] is the same 4-hash window as Spark's slice(hs, j, 4).
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN length(norm) < 8 THEN [md5(norm)]
        |         ELSE list_transform(range(1, length(norm) - 6), i -> md5(substr(norm, CAST(i AS INT), 8)))
        |    END AS hs
        |  FROM n),
        |sel AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
        |      j -> list_min(hs[j:j+3]))) AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fp FROM sel""".stripMargin)
  )
}
