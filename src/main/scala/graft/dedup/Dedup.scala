package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.expr.{MinhashSignature, SimhashFingerprint, WordShingles}

/** Deduplication operators for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design notes (100 TB target):
  *  - exact dedup is one hash aggregate on a fixed-width digest (never on the
  *    raw text — group keys stay small);
  *  - Jaccard / MinHash work on shingle sets; the LSH band-bucket join
  *    replaces the O(n²) pair space with an equi-join on (band, bucket), the
  *    classic shuffle-friendly formulation;
  *  - all hash functions are deterministic Spark-native (xxhash64 / md5) —
  *    codegen'd, no UDF in the wide paths.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep min(id) representative.
    * Output: one row per distinct text with its multiplicity.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Corpus RELEASE DIFF — the bookkeeping op between two snapshots of the
    * same corpus: classify every id as `added` (new only), `removed` (old
    * only) or `changed` (present in both with a different content
    * fingerprint); unchanged ids are dropped, so the output is the small
    * delta by design. Content identity = md5(text), the same fingerprint
    * [[exact]] dedups on — a doc counts as changed iff exact-dedup would no
    * longer collapse its two versions.
    *
    * Scale shape: ONE id-keyed full-outer equi-join of slim (id, 16-byte
    * fingerprint) rows — co-partitionable, no fan-out; at 100 TB both scans
    * prune to two columns.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("__ofp"))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("__nfp"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__ofp").isNull, lit("added"))
          .when(col("__nfp").isNull, lit("removed"))
          .when(col("__ofp") =!= col("__nfp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Word n-gram shingles of `textCol`, distinct per row — the fused
    * [[graft.expr.WordShingles]] kernel (the composed HOF chain's
    * per-position lambdas evaluate INTERPRETED per row; ExprSpec pins
    * parity with it).
    *
    * `trim` before the split matches the DuckDB oracle's
    * `regexp_split_to_array(trim(text), ...)` — without it, leading
    * whitespace yields an empty first token and a phantom shingle.
    */
  def shingles(textCol: Column, n: Int): Column =
    column(WordShingles(expression(textCol), expression(lit(n))))

  /** Exact n-gram Jaccard near-dup pairs: candidate pairs share at least one
    * (sufficiently rare) shingle via an equi-join on the shingle key, then
    * the candidate's FULL shingle sets are intersected exactly — so
    * `common`/`jaccard` stay exact even when the candidate join is pruned.
    *
    * `maxShingleDf`: hot-shingle guard. A stop-shingle shared by 10⁶ docs
    * makes the self-join produce 10¹² candidate rows; dropping shingles whose
    * document frequency exceeds the cap bounds the per-key fan-out at
    * df·(df-1)/2 ≤ cap². Recall-safe for near-dup detection: a pair at
    * Jaccard ≥ tau shares ≥ tau/(1+tau)·|A∪B| shingles, and hot shingles are
    * by definition non-discriminative — true near-dups still meet on their
    * rare shingles.
    *
    * The guard is ON by default (`Some(10000)`): an uncapped self-join on one
    * stop-shingle shared by 10⁶ docs is 10¹² candidate rows — the default
    * must be the plan that survives corpus scale. Pass `None` ONLY for
    * exact-baseline semantics on a bounded corpus (the q_ngram_jaccard
    * oracle pins it explicitly; on the test corpus no shingle approaches the
    * cap, so the outputs coincide).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double,
                        maxShingleDf: Option[Long] = Some(10000L)): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sh = docs.select(col("id"), explode(col("sh")).as("s"))
    val joinable = maxShingleDf match {
      case Some(cap) =>
        // hot set is tiny by definition (few shingles exceed the cap) → broadcast anti-join
        val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("s"))
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      case None => sh
    }
    val cand = joinable.as("a")
      .join(joinable.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("common").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("common")), 4))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "common", "jaccard")
  }

  /** MinHash signature. Each shingle STRING is hashed exactly once
    * (xxhash64); the `numHashes` per-function values re-hash that 64-bit
    * base with a per-function seed — the one-hash MinHash formulation.
    * vs hashing the string once per function: the variable-length string
    * loop runs once, the per-function work is xxhash64 over a single long
    * (fixed-size fast path). Affine-map mixing would be cheaper still but
    * overflows under ANSI mode (Spark 4 default).
    *
    * Fused codegen'd loop ([[graft.expr.MinhashSignature]]) — the composed
    * HOF form evaluates numHashes·|shingles| INTERPRETED xxhash64 nodes per
    * row (ArrayTransform is CodegenFallback); ExprSpec pins parity with it.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column =
    column(MinhashSignature(expression(shingleArr), expression(lit(numHashes))))

  /** MinHash+LSH candidate pairs: signatures banded into `bands`; rows
    * sharing any (band, band-hash) bucket become candidates; candidates are
    * verified with exact shingle Jaccard. `numHashes` must divide into
    * `bands` evenly.
    *
    * `maxBucketSize` caps the per-bucket candidate fan-out: on low-diversity
    * corpora many documents share a band signature and the bucket self-join
    * goes quadratic (measured: 26 s for 5k docs at rows-per-band=3). A
    * saturated bucket carries no discriminative information — skipping it is
    * the standard production guard; true near-dups still collide in their
    * other (selective) bands.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, numHashes: Int, bands: Int, tau: Double,
                      maxBucketSize: Int = 500): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val docs = df
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // signatures only feed the bucket side — the verify side re-derives the
    // cheap shingle arrays, never the 24-hash signatures
    val withSig = docs.withColumn("sig", minhashSignature(col("sh"), numHashes))

    // bucket rows are NARROW (id, band, bucket) — the shingle arrays must not
    // ride through the bucket join / candidate dedup shuffles (measured: the
    // wide form shuffles each doc's full shingle set once per band)
    val buckets = withSig.select(
        col("id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    val keep = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucketSize)
      .select("band", "bucket")

    val pruned = buckets.join(keep, Seq("band", "bucket"))

    val cand = pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact verify: attach each side's shingle set AFTER the id-only dedup
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")), 4))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over whitespace tokens: a 64-bit per-token hash built
    * from two MurmurHash3.stringHash 32-bit halves (pinned — changing the
    * hash would change every recorded fingerprint); each bit contributes ±1;
    * sign of the sum per bit position → fingerprint bit. Pure, deterministic;
    * one codegen'd expression ([[graft.expr.SimhashFingerprint]]), null
    * text → 0L.
    */
  def simhash64(c: Column): Column = column(SimhashFingerprint(expression(c)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at scale: the standard multi-index (pigeonhole)
    * formulation. The 64-bit fingerprint is split into `maxHamming + 1`
    * contiguous blocks; two fingerprints within hamming distance `maxHamming`
    * differ in at most `maxHamming` blocks, so they agree EXACTLY on at least
    * one block — candidates are an equi-join on (block_idx, block_bits), the
    * verification is `hamming64 ≤ maxHamming`. EXACT (complete by the
    * pigeonhole argument), never all-pairs.
    *
    * `maxBucketSize` guards degenerate blocks (e.g. block 0b0000… shared by
    * every short doc) exactly like [[minhashLshPairs]]'s cap — note this one
    * trades away the completeness guarantee for pairs whose ONLY agreeing
    * block is saturated; pass `Int.MaxValue` when exactness is required.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64)
    val blocks    = maxHamming + 1
    val blockBits = 64 / blocks // last block also carries the 64 % blocks remainder
    val fp = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("fp"))
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array((0 until blocks).map { b =>
        val lo   = b * blockBits
        val bits = if (b == blocks - 1) 64 - lo else blockBits
        val mask = if (bits >= 64) -1L else (1L << bits) - 1L
        shiftrightunsigned(col("fp"), lo).bitwiseAND(lit(mask))
      }: _*)).as(Seq("block_idx", "block_bits")))
    val pruned =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        val keep = banded.groupBy(col("block_idx"), col("block_bits"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > 1 && col("__bsz") <= maxBucketSize)
          .select("block_idx", "block_bits")
        banded.join(keep, Seq("block_idx", "block_bits"))
      }
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block_bits") === col("b.block_bits") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Duplicate-cluster representatives: connected components over a near-dup
    * PAIR list (from [[ngramJaccardPairs]], [[minhashLshPairs]],
    * [[simhashPairs]] or [[embeddingLshPairs]]) via min-id label
    * propagation — `group_rep(id)` = smallest id reachable, i.e. the kept
    * representative; everything else in the group is the dedup drop set.
    *
    * Scale shape: each round is one shuffle join (edge × label) + one
    * aggregate; rounds = graph diameter (near-dup clusters are dense, so
    * 2-4 rounds in practice; `maxIter` guards pathological chains). Each
    * round's labels are `localCheckpoint`ed: iterative DataFrames MUST cut
    * lineage every round or the logical plan nests exponentially (the
    * un-truncated form OOMs in plan stringification after ~8 rounds).
    * Superseded label RDDs are released by the ContextCleaner once
    * unreferenced; on a fault-tolerant cluster run, swap localCheckpoint for
    * reliable `checkpoint` against the stage store.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("__nlbl"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("__nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val changed = next.join(labels.select(col("id"), col("lbl").as("__old")), "id")
        .filter(col("lbl") =!= col("__old")).count()
      labels = next
      converged = changed == 0L
      i += 1
    }
    edges.unpersist()
    // A silent non-converged exit would split duplicate groups with no
    // signal (a chain of diameter > maxIter propagates min-ids only maxIter
    // hops). Components diverging from the transitive closure must surface.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds " +
          "(pair graph has a component with diameter > maxIter); raise maxIter")
    labels.select(col("id"), col("lbl").as("group_rep"))
  }

  /** Final dedup step: keep one representative per duplicate group — drop
    * every row whose id carries a `group_rep` other than itself (groups from
    * [[connectedComponents]]). Rows absent from the pair graph are unique
    * and kept. Anti-join on the (small) non-representative id set.
    */
  def keepRepresentatives(df: DataFrame, groups: DataFrame, idCol: String): DataFrame =
    df.join(
      groups.filter(col("id") =!= col("group_rep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** SPAN-LEVEL exact dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22 — public): training corpora repeat
    * SPANS across documents (boilerplate, licenses, quoted passages), and
    * doc-level dedup ([[exact]], MinHash) never sees them. Each document is
    * chunked into NON-OVERLAPPING `spanTokens`-token spans (the last span
    * keeps the remainder), each span is fingerprinted (md5 — fixed-width
    * key, the raw span text is never a shuffle key), and a span is a
    * DUPLICATE iff an identical span occurs strictly earlier in the global
    * (id, span_idx) order — the first occurrence is always kept, so the
    * distinct span multiset is preserved exactly (SpanDedupSpec pins both).
    *
    * Scale shape: the verdict is a `row_number` window PARTITIONED BY the
    * fingerprint — ONE exchange on a fixed-width key and a streaming
    * first-wins scan per fp group; no join, no all-pairs, no second pass
    * over the corpus (PlanSpec asserts the no-join plan). A pathological fp
    * group (one span repeated 10⁹ times) is a single partition's streaming
    * scan, not a fan-out.
    *
    * Output: one row per span — (id, span_idx, span_text, fp, is_dup).
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val k = spanTokens
    // let-bound token array (the documented O(n²) HOF pitfall); span i covers
    // tokens [i·k+1, i·k+k], 1-based, slice clips the tail remainder
    val spansArr = element_at(
      transform(array(split(trim(col(textCol)), "\\s+")), toks =>
        transform(sequence(lit(0L), floor((size(toks) + (k - 1)) / lit(k.toDouble)).cast("long") - 1),
          i => array_join(slice(toks, (i * k + 1).cast("int"), lit(k)), " "))),
      1)
    val spans = df.select(col(idCol).as("id"),
        posexplode(spansArr).as(Seq("span_idx", "span_text")))
      .withColumn("fp", md5(col("span_text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("id"), col("span_idx"))
    spans.withColumn("is_dup", row_number().over(w) > 1)
  }

  /** [[spanDedup]] folded back to documents — the "mask repeated spans and
    * reassemble" form a pretraining pipeline actually writes: per document,
    * the span counts and the text rebuilt from KEPT spans only (span order
    * preserved; a fully-duplicate document rebuilds to the empty string and
    * is a downstream length-filter drop). One additional exchange (by id).
    */
  def spanDedupDocs(df: DataFrame, idCol: String, textCol: String,
                    spanTokens: Int): DataFrame =
    spanDedup(df, idCol, textCol, spanTokens)
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("is_dup"), struct(col("span_idx"), col("span_text"))))),
            s => s.getField("span_text")),
          " ").as("dedup_text"))

  /** Embedding-cosine near-dup pairs, brute force. SMALL-CORPUS ORACLE ONLY:
    * the self-join on `id_a < id_b` plans as a nested-loop cross product —
    * it exists to ground-truth [[embeddingLshPairs]] (the scale path) in
    * tests and the DuckDB-checkable q_embed_dedup baseline, never to run at
    * corpus scale.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           tau: Double): DataFrame = {
    val v = graft.ann.Similarity.withNorm(df, idCol, vecCol)
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("dot", graft.expr.VectorFunctions.dot(col("a.v"), col("b.v")))
      .withColumn("cosine", round(col("dot") / (col("a.norm") * col("b.norm")), 4))
      .filter(col("cosine") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Embedding-cosine near-dup pairs at scale — the default path: hyperplane
    * sign-LSH buckets ([[graft.ann.Similarity.hyperplaneBucketsAll]], `tables`
    * independent seeds, OR-construction), candidates from an equi-join on
    * (table, bucket), exact cosine re-rank. The only shuffles are the bucket
    * hash exchanges; there is NO nested-loop join anywhere in the plan
    * (PlanSpec asserts this). Reported cosines are exact; recall < 1 by LSH
    * construction — tested against [[embeddingCosinePairs]] on planted
    * near-dups.
    *
    * Parameter guidance: recall per pair ≈ 1-(1-(1-θ/π)^nPlanes)^tables.
    * For true near-dups (cosine ≥ 0.9) the default 8 planes × 8 tables gives
    * ~0.95+; for looser thresholds lower `nPlanes` / raise `tables`.
    * `maxBucketSize` caps degenerate-bucket fan-out as in [[minhashLshPairs]].
    */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
                        tau: Double, nPlanes: Int = 8, tables: Int = 8,
                        seed: Long = 42L, maxBucketSize: Int = 2000): DataFrame = {
    val v = graft.ann.Similarity.withNorm(df, idCol, vecCol)
    // empty corpus → empty pair set (detectDim has no row to read)
    val dimOpt = graft.ann.Similarity.detectDim(df, vecCol)
    if (dimOpt.isEmpty)
      return v.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    // bucket rows are NARROW (id, table, bucket): shuffling the vectors
    // through the bucket join + candidate dedup costs |candidates|·2·dim
    // doubles (measured 2× the whole query); vectors join back by id AFTER
    // the id-only dedup instead
    val dim = dimOpt.get
    val bucketed = v.select(col("id"),
      posexplode(graft.ann.Similarity.hyperplaneBucketsAll(
        col("v"), nPlanes, tables, dim, seed))
        .as(Seq("table", "bucket")))
    val keep = bucketed.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucketSize)
      .select("table", "bucket")
    val pruned = bucketed.join(keep, Seq("table", "bucket"))
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(v.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb")), "id_b")
      .withColumn("cosine", round(
        graft.expr.VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
  }

  /** SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication" — public): cluster the
    * embedding space with a coarse k-means, then dedup PAIRWISE ONLY WITHIN
    * each cluster — the clusters bound the quadratic work that makes global
    * cosine dedup infeasible, and (the paper's observation) semantic dups
    * land in the same cluster at far looser thresholds than LSH is selective
    * for. Complements [[embeddingLshPairs]]: LSH targets near-dup cosine
    * (≥0.9); SemDeDup works at semantic-similarity thresholds where
    * hyperplane buckets have no recall.
    *
    * Pinned deterministic semantics (every tie the paper leaves open):
    * the quantizer is the one trainer, [[graft.ann.Similarity.trainCodebooks]]
    * at numSub=1, shared with [[graft.ann.Similarity.ivfTopK]] (hash-ranked
    * init, floor(x·2^32) order-independent means, first-minimum
    * assignment), so the q_semdedup DuckDB oracle replays training through
    * the same CTE chain as q_ann_ivf. Within a cluster, rows are ordered by
    * (cosine-to-centroid ASC, id ASC) — the paper KEEPS the member farthest
    * from the centroid, so rank 1 is the preferred keeper — and a row is a
    * DUPLICATE iff ANY earlier-ranked row of its cluster is within `tau`
    * cosine (the order-free superset of the paper's greedy sweep: dropped
    * rows still shadow later rows, which only ever drops MORE chained
    * near-dups, never fewer; deterministic and join-expressible, where true
    * greedy is a sequential per-cluster scan).
    *
    * Scale shape: training is the bounded-sample k-means ([[graft.ann.Similarity.ivfTopK]]'s
    * `quantizerSampleMod` contract: 0 = planner-stats auto bound); the
    * corpus-wide passes are ONE broadcast-lookup assignment, one exchange on
    * cluster (rank window), and one within-cluster equi-self-join — the only
    * quadratic term is Σ n_c², which `nLists` controls (the paper runs 110k
    * clusters at web scale) and `maxClusterSize` guards LOUDLY (raise_error
    * inside the rank that feeds is_dup, the rangeJoinBinned pattern — any
    * action computing output rows evaluates it; a bare count() prunes the
    * dup join and skips it): a silently skipped hot cluster would silently
    * under-dedup. Vectors must flow
    * through the pair join (every within-cluster pair needs its exact
    * cosine — no id-only prune exists at semantic thresholds); they cross
    * the cluster exchange at source width (`array<float>` stays float) and
    * are cast to double after it.
    *
    * Output: one row per input — (id, cluster, cent_cos, is_dup).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
               nLists: Int = 16, iters: Int = 3, seed: Long = 42L,
               quantizerSampleMod: Long = 0L,
               maxClusterSize: Long = 100000L): DataFrame = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1, got $maxClusterSize")
    val spark = df.sparkSession
    // `src` is the vector at source width: the cluster exchange carries it,
    // and the double cast `v` is recomputed after it (float → double is
    // exact, so every cosine is unchanged)
    val v = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("src"))
      .withColumn("v", col("src").cast("array<double>"))
      .withColumn("norm", graft.expr.VectorFunctions.norm(col("v")))
    val dimOpt = graft.ann.Similarity.detectDim(df, vecCol)
    if (dimOpt.isEmpty)
      return v.select(col("id"), lit(0).as("cluster"),
        lit(0.0).as("cent_cos"), lit(false).as("is_dup")).limit(0)

    // quantizer train set: the ivfTopK contract (0 = auto planner bound);
    // cached for the training collects only, unpersisted before the
    // corpus-wide plan is built
    val trainSet = graft.ann.Similarity.sampledTrainSet(df, v, seed,
      quantizerSampleMod).cache()
    val cents: Array[Array[Double]] = graft.ann.Similarity.trainCodebooks(
      trainSet, numSub = 1, ds = dimOpt.get, numCodes = nLists, iters = iters,
      initRows = graft.ann.Similarity.collectInitRows(trainSet, nLists, seed))(0)
    trainSet.unpersist(false)

    import spark.implicits._
    val centsDf = cents.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq, math.sqrt(c.map(x => x * x).sum))
    }.toSeq.toDF("cluster", "cvec", "cnorm")

    val assigned = v
      .withColumn("cluster", graft.ann.Similarity.nearestExpr(cents)(col("v")))
      .join(broadcast(centsDf), Seq("cluster"))
      .withColumn("cent_cos", round(
        graft.expr.VectorFunctions.dot(col("v"), col("cvec")) /
          (col("norm") * col("cnorm")), 4))
      .select("cluster", "id", "src", "norm", "cent_cos")

    // rank + size over the SAME cluster exchange; the guard lives inside the
    // rank value so column pruning can never drop it
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("cent_cos").asc, col("id").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val ranked = assigned
      .withColumn("rn",
        when(count(lit(1)).over(wAll) <= maxClusterSize,
          row_number().over(wRank))
        .otherwise(raise_error(concat(
          lit("semDedup: cluster "), col("cluster").cast("string"),
          lit(s" exceeds maxClusterSize=$maxClusterSize — raise nLists (more," +
            " smaller clusters) or the cap"))).cast("int")))

    val slim = ranked.select(col("cluster"), col("id"), col("rn"),
      col("src").cast("array<double>").as("v"), col("norm"))
    val dups = slim.as("a")
      .join(slim.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.rn") < col("b.rn"))
      .filter(round(
        graft.expr.VectorFunctions.dot(col("a.v"), col("b.v")) /
          (col("a.norm") * col("b.norm")), 4) >= tau)
      .select(col("b.id").as("id")).distinct()
      .withColumn("__dup", lit(true))
    // the guard needs no keep-alive here: the self-join above evaluates rn
    // for EVERY row of every cluster (its join condition), so an oversized
    // cluster fails the task before any output row is produced
    ranked.join(dups, Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_cos"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }
}
