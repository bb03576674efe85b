package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** The remaining featurization / preprocessing operators of SURVEY.md §2:
  * word vocab with min_freq/max_size (G6), normalization (G9), OOV pruning
  * (G10), threshold sweep (O4), sampling/splits (O8/O10/S10), set ops
  * (U1-U4), pad/truncate (F9), camel split (F5), embedding sum (G15),
  * cosine-fallback vocab encode (J4), logbert chunking (W4).
  */
object Preprocessing {

  /** G6 — word vocab with min_freq / max_size and deterministic
    * (freq desc, word asc) order (bert_pytorch/dataset/vocab.py:39-61).
    * `specials` occupy ids 1..k ahead of the corpus words.
    */
  def wordVocab(df: DataFrame, wordCol: String, minFreq: Long = 1,
                maxSize: Option[Int] = None,
                specials: Seq[String] = Seq("<pad>", "<unk>")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counted = df.groupBy(col(wordCol).as("word"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
    // distributed two-phase rank — a word vocab has 10⁷-10⁸ distinct keys at
    // corpus scale, far too many for a single-partition orderBy window
    val ranked = graft.util.Rank.globalRowNumber(
        counted, Seq(col("freq").desc, col("word").asc), "__rank",
        persistSorted = true)
      ._1.withColumn("vocab_id", (col("__rank") + specials.size).cast("int"))
      .drop("__rank")
    val limited = maxSize.map(m => ranked.filter(col("vocab_id") <= m + specials.size))
      .getOrElse(ranked)
    val specialRows = specials.zipWithIndex
      .map { case (s, i) => (s, 0L, i + 1) }
      .toDF("word", "freq", "vocab_id")
    specialRows.unionByName(limited)
  }

  /** G9a — zero-mean normalization: subtract the per-event train mean
    * (loglizer/preprocessing.py:101-104). Means are a tiny dim → broadcast.
    */
  def zeroMean(counts: DataFrame, eventCol: String = "event_id",
               valueCol: String = "cnt"): DataFrame = {
    val means = counts.groupBy(col(eventCol))
      .agg(avg(col(valueCol)).as("__mean"))
    counts.join(broadcast(means), eventCol)
      .withColumn(s"${valueCol}_centered", col(valueCol) - col("__mean"))
      .drop("__mean")
  }

  /** G9b — sigmoid (expit) on nonzero entries (loglizer/preprocessing.py:105-107). */
  def sigmoidNonzero(counts: DataFrame, valueCol: String = "cnt"): DataFrame =
    counts.withColumn(s"${valueCol}_sigmoid",
      when(col(valueCol) =!= 0, lit(1.0) / (lit(1.0) + exp(-col(valueCol))))
        .otherwise(lit(0.0)))

  /** G10 — OOV / min-count pruning: events present in < minCount groups are
    * folded into a single `__oov__` key (loglizer/preprocessing.py:86-93).
    */
  def oovFold(counts: DataFrame, groupCols: Seq[String],
              eventCol: String = "event_id", minCount: Long = 2): DataFrame = {
    val keep = counts.groupBy(col(eventCol))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minCount)
      .select(col(eventCol))
    counts
      .join(broadcast(keep).withColumn("__keep", lit(1)), Seq(eventCol), "left")
      .withColumn(eventCol, when(col("__keep").isNull, lit("__oov__")).otherwise(col(eventCol)))
      .drop("__keep")
      .groupBy((groupCols :+ eventCol).map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** O4 — threshold sweep: for each candidate threshold, a confusion matrix
    * and F1 over (score, truth) rows; returns the whole sweep plus the
    * argmax row first (logdeep/tools/predict.py:121-152 re-expressed as one
    * explode × aggregate — no driver loop).
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String, truthCol: String,
                     thresholds: Seq[Double]): DataFrame = {
    val th = explode(array(thresholds.map(lit): _*)).as("threshold")
    scored.select(col(scoreCol).as("s"), col(truthCol).as("t"), th)
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("s") >= col("threshold") && col("t") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("s") >= col("threshold") && col("t") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("s") < col("threshold") && col("t") === 1, 1L).otherwise(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0, col("tp") / (col("tp") + col("fp"))).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0, col("tp") / (col("tp") + col("fn"))).otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
  }

  /** O7 — seeded deterministic shuffle: a stable pseudo-random total order
    * `shuffle_pos` from md5(keys ++ seed, -delimited) — the pinned-seed
    * replacement for the reference's unseeded `random.shuffle` batch
    * ordering (SURVEY.md §7.3.2). md5 (not xxhash64) is deliberate: any
    * deterministic hash yields a valid shuffle, and md5 is computable by
    * DuckDB, making the permutation EXACTLY oracle-checkable cross-engine
    * (xxhash64 left this rows-only in rounds 1-2). Distributed: the hash
    * rank goes through the two-phase [[graft.util.Rank.globalRowNumber]],
    * never a single-partition sort; key columns break hash ties so the
    * order is total.
    */
  def seededShuffle(df: DataFrame, keyCols: Seq[String], seed: Long = 88L): DataFrame =
    graft.util.Rank.globalRowNumber(
        df.withColumn("__h", md5(concat_ws("",
          keyCols.map(col(_).cast("string")) :+ lit(seed).cast("string"): _*))),
        col("__h").asc +: keyCols.map(col(_).asc), "shuffle_pos")
      ._1.drop("__h")

  /** O5 — sort sequences by length desc (bert_pytorch/dataset/sample.py:104-115):
    * a BATCHING optimization in the reference (pack similar-length sequences
    * together), not a semantic requirement (SURVEY §2.7). The scale-sane
    * expression is partition-LOCAL ordering — a global orderBy would pay a
    * full-table range exchange for a property that only needs to hold within
    * a batch.
    */
  def sortByLengthDesc(grouped: DataFrame, seqCol: String = "events"): DataFrame =
    grouped.sortWithinPartitions(size(col(seqCol)).desc)

  /** O8 — seeded random down-sample (logdeep/dataset/sample.py:27-40; the
    * reference's unseeded variant is pinned to a seed, SURVEY.md §7.3.2).
    */
  def downSample(df: DataFrame, fraction: Double, seed: Long = 88L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** O10 — stratified split by label fractions (loglizer/dataloader.py:17-29). */
  def stratifiedSample(df: DataFrame, labelCol: String,
                       fractions: Map[Int, Double], seed: Long = 88L): DataFrame =
    df.stat.sampleBy(labelCol, fractions.map { case (k, v) => (k: Any, v) }, seed)

  /** S10 — head-N sampler + anomaly rate (dataset/data_process.py:29-53):
    * first n rows in stable order, plus the rate of label=1 among them.
    */
  def headSample(df: DataFrame, n: Int, orderCols: Seq[String],
                 labelCol: String): (DataFrame, Double) = {
    val head = df.orderBy(orderCols.map(col): _*).limit(n)
    val rate = head.agg(avg(col(labelCol))).head().getDouble(0)
    (head, rate)
  }

  /** U2 — anti-membership filter: drop rows whose key appears in `deny`
    * (PLELog/approaches/hdbscan_options.py:132).
    */
  def antiFilter(df: DataFrame, deny: DataFrame, keys: Seq[String]): DataFrame =
    df.join(deny.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** F9 — pad-left to `n` with `pad`, else keep the LAST n (the reference's
    * pad/truncate shape, logdeep/dataset/sample.py:19-24,125-131).
    */
  def padOrTruncateLeft(seq: Column, n: Int, pad: String): Column =
    when(size(seq) >= n, slice(seq, -n, n))
      .otherwise(concat(array_repeat(lit(pad), lit(n) - size(seq)), seq))

  /** F5 — camel-case split (PLELog/data/Embedding.py:45-79): boundaries at
    * lower→Upper and Upper→Upper+lower; pure column expression.
    */
  def camelSplit(c: Column): Column =
    split(
      regexp_replace(
        regexp_replace(c, "([a-z0-9])([A-Z])", "$1 $2"),
        "([A-Z]+)([A-Z][a-z])", "$1 $2"),
      "\\s+")

  /** G15 — element-wise sum of per-event embedding vectors over a sequence
    * (PLELog/data/Embedding.py:25-38): fold with zip_with, no UDF.
    */
  def sumVectors(vecs: Column, dim: Int): Column =
    aggregate(vecs,
      array_repeat(lit(0.0), dim),
      (acc, v) => zip_with(acc, v, (a, b) => a + coalesce(b.cast("double"), lit(0.0))))

  /** J4 — vocab encode with cosine-similarity fallback
    * (logdeep/dataset/vocab.py:38-50): unknown events map to the most
    * similar known event's id when cosine > `minSim`, else unk (0).
    * The known-event matrix is broadcast; the scan over it is a pure
    * function → Scala UDF over the broadcast (SURVEY.md §2.11).
    *
    * Scale bound: the O(|known|) scan runs only for OOV rows, and `known` is
    * an EVENT-TEMPLATE vocabulary (10³-10⁴ entries by construction — Drain
    * dictionaries, not word vocabs), so the broadcast and the scan stay
    * small at any corpus size. For a genuinely large fallback dictionary,
    * bucket it with [[graft.ann.Similarity.hyperplaneBucketsAll]] first.
    */
  def encodeWithSimilarityFallback(
      df: DataFrame, eventCol: String,
      known: Map[String, (Int, Array[Double])], minSim: Double = 0.9): DataFrame = {
    val spark = df.sparkSession
    // the OOV scan iterates a PRE-SORTED (by id) array, not the Map: map
    // iteration order is insertion order only up to 4 entries, so a larger
    // vocabulary would make the strictly-greater tie-break nondeterministic
    // across runs/JVMs. Sorted-by-id scan == the q_encode_fallback oracle's
    // `ORDER BY sim DESC, korder ASC` for any vocabulary size. Sorted ONCE
    // here, never per row.
    val scanOrder: Array[(Int, Array[Double])] =
      known.valuesIterator.toArray.sortBy(_._1)
    val bc = graft.util.Bc(spark.sparkContext.broadcast((known, scanOrder)))
    val encode = udf { (e: String, vec: Seq[Double]) =>
      bc.get._1.get(e).map(_._1).getOrElse {
        if (vec == null) 0
        else {
          val v = vec.toArray
          val nv = math.sqrt(v.map(x => x * x).sum)
          var bestId = 0; var bestSim = minSim
          bc.get._2.foreach { case (id, kv) =>
            val dot = kv.zip(v).map { case (a, b) => a * b }.sum
            val nk  = math.sqrt(kv.map(x => x * x).sum)
            val sim = if (nk * nv == 0) 0.0 else dot / (nk * nv)
            if (sim > bestSim) { bestSim = sim; bestId = id }
          }
          bestId
        }
      }
    }
    df.withColumn("vocab_id", encode(col(eventCol), col("vector")))
  }

  /** J6 — TF-IDF-weighted template embedding
    * (PLELog/data/Embedding.py:134-158, 246-271): template tokens are
    * camel-split into sub-words, sub-word vectors averaged per token, token
    * vectors weighted by tf·idf (idf over templates) and summed per
    * template. Exploded-dimension representation: output
    * (event_id, dim, v) — schema-stable for any vector width, all built-in
    * aggregates, word-vector dim broadcast.
    */
  def templateEmbeddings(templates: DataFrame, wordVecs: DataFrame): DataFrame = {
    val toks = templates
      .select(col("event_id"), explode(split(col("event_template"), "\\s+")).as("token"))
      .filter(col("token") =!= "<*>")
    val subs = toks
      .select(col("event_id"), col("token"), explode(camelSplit(col("token"))).as("word"))
      .withColumn("word", lower(col("word")))
      .filter(length(col("word")) > 0)
    val subVec = subs.join(broadcast(wordVecs), Seq("word"))
      .select(col("event_id"), col("token"),
        posexplode(col("vector")).as(Seq("pos", "v")))
      .withColumn("dim", (col("pos") + 1).cast("int")).drop("pos")
    val tokVec = subVec.groupBy("event_id", "token", "dim")
      .agg(avg(col("v").cast("double")).as("tv"))
    val tf  = toks.groupBy("event_id", "token").agg(count(lit(1)).as("tf"))
    val nT  = templates.select("event_id").distinct().count()
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(nT.toDouble) / col("df")))
    tokVec
      .join(tf, Seq("event_id", "token"))
      .join(broadcast(idf.select("token", "idf")), Seq("token"))
      .withColumn("w", col("tv") * col("tf") * col("idf"))
      .groupBy("event_id", "dim")
      .agg(sum(col("w")).as("v"))
  }

  /** Deterministic DOMAIN-MIXTURE sampling — the pretraining-corpus mixing
    * step (Pile/LLaMA-style): given per-domain target weights and a total
    * token budget, down-sample each domain so its expected kept tokens are
    * `weight_d * budget`, by seeded-hash thresholding (keep-decisions are a
    * pure function of the row id — reproducible, partition-independent, and
    * re-runnable without a shuffle).
    *
    * keep(row) ⇔ `xxhash64(id) >>> 11  <  floor(rate_d * 2^53)` with
    * `rate_d = min(1, (weight_d * budget) / tokens_d)` — the hash's top 53
    * bits against a floor-quantized threshold, so BOTH sides are exact
    * integers and the DuckDB twin ([[graft.oracle.HashOracleSql
    * .qDomainMixSql]], HUGEINT XXH64 chain) compares bit-identically
    * (no unsigned-double rounding anywhere; the HHugeINT→DOUBLE pitfall
    * from CLAUDE.md never enters).
    *
    * Domains absent from `weights` are DROPPED (weight 0). Domains whose
    * corpus is smaller than their target keep everything (rate caps at 1 —
    * upsampling is epoch logic, not a sampler's).
    *
    * Scale shape: one tiny per-domain totals aggregate (map-side combined),
    * joined to the literal weights and BROADCAST back onto the corpus — the
    * corpus itself is filtered map-only, no shuffle, predicate-colocated
    * with the scan.
    */
  def mixtureSample(df: DataFrame, idCol: String, domainCol: String,
                    tokenCol: String, weights: Map[String, Double],
                    budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(domainCol, "__w")
    val rates = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("long").as("__tot"))
      .join(w, Seq(domainCol))
      .withColumn("__thr",
        floor(least(lit(1.0), col("__w") * lit(budget.toDouble) / col("__tot"))
          * lit(9007199254740992.0)).cast("long")) // 2^53
    df.join(broadcast(rates.select(col(domainCol), col("__thr"))), Seq(domainCol))
      .filter(shiftrightunsigned(xxhash64(col(idCol)), 11) < col("__thr"))
      .drop("__thr")
  }

  /** Deterministic class-balanced sampling: EXACTLY min(n, |group|) rows
    * per group — the balanced-training-set op `sampleBy` cannot give (it is
    * probabilistic AND partition-dependent). Selection = the group's n rows
    * smallest in (unsigned xxhash64(idCol), id) order, i.e. a seeded-shuffle
    * prefix per group: re-runnable, partition-independent, and replayable in
    * DuckDB (HashOracleSql.qStratifiedSampleSql — the unsigned order is the
    * XOR-sign-fold trick, matching the oracle's 0..2^64-1 hash domain).
    *
    * Scale shape: the per-group rank is [[graft.util.Rank.groupRowNumber]]
    * over (hash, id), never a one-task-per-group window. Output keeps all
    * input columns plus `smp_rank` (1-based within the group).
    */
  def stratifiedExactN(df: DataFrame, groupCol: String, idCol: String,
                       n: Long): DataFrame = {
    require(n >= 1, "stratifiedExactN needs n >= 1")
    val keyed = df.withColumn("__h",
      xxhash64(col(idCol)).bitwiseXOR(lit(Long.MinValue)))
    graft.util.Rank.groupRowNumber(keyed, groupCol,
        Seq(col("__h").asc, col(idCol).asc), "smp_rank", "__n")
      .filter(col("smp_rank") <= n)
      .drop("__h", "__n")
  }

  /** Deterministic K-FOLD assignment — cross-validation folds as a pure
    * function of row content: `fold = floor(u53 · k / 2^53)` with
    * u53 = `xxhash64(id) >>> 11`, an EXACTLY uniform partition of the hash
    * domain (unlike `hash % k`, which carries modulo bias) and all-integer
    * on both engines (u53 < 2^53 and k ≤ 2^10 keep the product far below
    * 2^63). Complements [[splitByHash]] (weighted named splits) — same
    * content-stability guarantees: re-runnable, partition-independent,
    * growth never moves an existing row. Map-only, zero shuffle.
    */
  def kFoldByHash(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1024, "kFoldByHash needs 2 <= k <= 1024")
    val u = shiftrightunsigned(xxhash64(col(idCol)), 11)
    // integer `div`, never `/` (double division rounds above 2^53)
    df.withColumn("__u53k", u * lit(k.toLong))
      .withColumn("fold",
        expr("__u53k div 9007199254740992").cast("int")) // div 2^53
      .drop("__u53k")
  }

  /** Per-ROW deterministic weighted sampling — soft quality filtering
    * (RefinedWeb-style): keep each row with probability `rateCol` (clamped
    * to [0,1]), decided by the SAME content-stable hash gate as
    * [[mixtureSample]] — `xxhash64(id) >>> 11 < floor(clamp01(rate)·2^53)`
    * — so the keep set is reproducible, partition-independent, and
    * monotone per row (raising a row's rate can only flip drop→keep, which
    * makes threshold sweeps consistent). Callers compute `rateCol` however
    * they like (e.g. a normalized classifier score — q_weighted_sample);
    * when the rate arithmetic is engine-exact the whole selection is.
    *
    * Scale shape: ONE map-only filter, zero shuffle, zero state.
    */
  def weightedSample(df: DataFrame, idCol: String, rateCol: String): DataFrame =
    df.filter(shiftrightunsigned(xxhash64(col(idCol)), 11) <
      floor(least(lit(1.0), greatest(lit(0.0), col(rateCol)))
        * lit(9007199254740992.0)).cast("long")) // 2^53

  /** Deterministic RING negative sampling — k pseudo-random corpus
    * negatives per anchor, the draw every contrastive/embedding training
    * pipeline needs and a naive `ORDER BY rand()` cannot give (neither
    * reproducible nor join-free). Place every row on a ring ordered by
    * (unsigned xxhash64(id), id); anchor a's negatives are the k rows that
    * FOLLOW it (wrapping mod N) — uniform over the corpus because hash
    * order is unrelated to any data attribute, deterministic, and
    * re-runnable. Known caveat, stated plainly: hash-adjacent anchors share
    * most of their negative sets (consistent-hashing locality) — fine for
    * in-batch-negative-style training, not a k-wise-independent sample.
    *
    * Scale shape: one distributed range sort (the ring rank via
    * [[graft.util.Rank.globalRowNumber]] — never a single-task window), a
    * k-bounded explode, and ONE equi-join on the slim (rank) key; no
    * all-pairs anything. Output: (anchor_id, neg_rank 1..k, neg_id).
    */
  def negativeSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "negativeSample needs k >= 1")
    val keyed = df.select(col(idCol))
      .withColumn("__h", xxhash64(col(idCol)).bitwiseXOR(lit(Long.MinValue)))
    val (ranked0, total) = graft.util.Rank.globalRowNumber(keyed,
      Seq(col("__h").asc, col(idCol).asc), "__r")
    require(total > k,
      s"negativeSample needs > k=$k rows to avoid self-pairs (got $total)")
    val ranked = ranked0.drop("__h")
    val anchors = ranked.select(col(idCol).as("anchor_id"), col("__r"))
      .withColumn("neg_rank", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("__nr", ((col("__r") + col("neg_rank") - 1L) % total) + 1L)
      .drop("__r")
    anchors
      .join(ranked.select(col(idCol).as("neg_id"), col("__r").as("__nr")),
        Seq("__nr"))
      .select(col("anchor_id"), col("neg_rank").cast("int").as("neg_rank"),
        col("neg_id"))
  }

  /** Deterministic EPOCH-AWARE domain mixing — the other half of
    * [[mixtureSample]] (whose rate caps at 1): pretraining mixes UPSAMPLE
    * scarce high-weight domains by repeating them fractional-epoch-many
    * times (LLaMA-style "epochs" column). Every row of domain d is emitted
    * `floor(rate_d)` times and one extra time iff the [[mixtureSample]] hash
    * gate passes (`xxhash64(id) >>> 11 < floor(frac_d * 2^53)` with
    * `frac_d = rate_d - floor(rate_d)`), where
    * `rate_d = (weight_d * budget) / tokens_d` UNCAPPED. Output = the input
    * columns plus `epoch` (0-based copy index), so `epoch = 0` rows at
    * rate < 1 are EXACTLY [[mixtureSample]]'s selection — the two compose
    * into one mixing law. Every double step (multiply, divide, floor,
    * subtract — exact by Sterbenz, scale, floor) is mirrored operation for
    * operation by [[graft.oracle.HashOracleSql.qMixtureUpsampleSql]].
    *
    * Scale shape: one tiny per-domain aggregate broadcast back; the corpus
    * pass is map-only with a bounded per-row explode (rate_d + 1 rows). A
    * misconfigured weight (an epoch blow-up) fails LOUDLY: the raise_error
    * lives inside the copies column that the epoch sequence is built from,
    * so any row-producing action trips it (the rangeJoinBinned pattern).
    */
  def mixtureUpsample(df: DataFrame, idCol: String, domainCol: String,
                      tokenCol: String, weights: Map[String, Double],
                      budget: Long, maxEpochs: Long = 100L): DataFrame = {
    require(maxEpochs >= 1, "maxEpochs must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(domainCol, "__w")
    val rates = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("long").as("__tot"))
      .join(w, Seq(domainCol))
      .withColumn("__rate", col("__w") * lit(budget.toDouble) / col("__tot"))
      .withColumn("__copies",
        when(floor(col("__rate")) <= maxEpochs, floor(col("__rate")).cast("long"))
          .otherwise(raise_error(concat(
            lit(s"mixtureUpsample: domain "), col(domainCol),
            lit(s" needs "), floor(col("__rate")).cast("string"),
            lit(s" epochs > maxEpochs=$maxEpochs — check weights/budget")))
            .cast("long")))
      .withColumn("__thr",
        floor((col("__rate") - col("__copies").cast("double"))
          * lit(9007199254740992.0)).cast("long")) // 2^53
    val keep = shiftrightunsigned(xxhash64(col(idCol)), 11) < col("__thr")
    df.join(broadcast(rates.select(col(domainCol), col("__copies"), col("__thr"))),
        Seq(domainCol))
      .withColumn("__n", col("__copies") + when(keep, lit(1L)).otherwise(lit(0L)))
      .withColumn("epoch",
        explode(when(col("__n") > 0, sequence(lit(0L), col("__n") - 1))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__copies", "__thr", "__n")
  }

  /** Split-boundary thresholds for [[splitByHash]] — factored out so the
    * Spark plan and the DuckDB oracle ([[graft.oracle.HashOracleSql
    * .qSplitAssignSql]]) inject the SAME driver-computed Long literals:
    * running weight sum in declaration order, divided by the total, scaled
    * by 2^53 and floored (each step correctly-rounded IEEE — but it does not
    * even matter, because both engines consume these exact longs, never the
    * doubles). One boundary per split EXCEPT the last, which takes the
    * remainder of the hash domain.
    */
  def splitBounds(splits: Seq[(String, Double)]): Seq[Long] = {
    require(splits.size >= 2, "splitByHash needs at least two splits")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    val tot = splits.map(_._2).sum
    splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(c => math.floor(c / tot * 9007199254740992.0).toLong) // 2^53
  }

  /** Deterministic train/validation/test assignment — the split every
    * pipeline needs and Spark's own `randomSplit` cannot give reproducibly
    * (it is partition-order-dependent: a repartition or a source re-split
    * reassigns rows). Each row's split is a pure function of its id:
    * `split_i` iff `xxhash64(id) >>> 11 < bound_i` (first match wins, the
    * last split takes the rest), with the bounds from [[splitBounds]] — so
    * membership is content-stable across runs, engines, and cluster layouts,
    * and adding new rows never moves an existing row between splits.
    *
    * Scale shape: map-only — one codegen'd projection, zero shuffle, zero
    * driver state; the split can be recomputed on demand instead of stored.
    */
  def splitByHash(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    val bounds = splitBounds(splits)
    val u = shiftrightunsigned(xxhash64(col(idCol)), 11)
    val first = when(u < lit(bounds.head), lit(splits.head._1))
    val chained = bounds.tail.zip(splits.map(_._1).drop(1)).foldLeft(first) {
      case (acc, (b, name)) => acc.when(u < lit(b), lit(name))
    }
    df.withColumn("split", chained.otherwise(lit(splits.last._1)))
  }

  /** W4 — logbert-style chunking: split each sequence into consecutive
    * `windowSize` chunks, truncating to `maxLen` chunks
    * (bert_pytorch/dataset/sample.py:21-55).
    */
  def chunkSequence(grouped: DataFrame, seqCol: String, windowSize: Int,
                    maxChunks: Int = Int.MaxValue): DataFrame =
    grouped
      .select(col("*"),
        posexplode(
          transform(
            sequence(lit(0L), floor((size(col(seqCol)) - 1) / lit(windowSize.toDouble)).cast("long")),
            i => slice(col(seqCol), (i * windowSize + 1).cast("int"), lit(windowSize))))
          .as(Seq("chunk_idx", "chunk")))
      .filter(col("chunk_idx") < maxChunks)
}
