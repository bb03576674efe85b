package graft.oracle

/** DuckDB SQL oracles for the four hash-based queries the driver's gate
  * previously recorded `no_oracle` (q_simhash, q_simhash_pairs,
  * q_minhash_lsh, q_ann_ivf): XXH64, Scala MurmurHash3.stringHash and the
  * IVF k-means-lite recomputed INSIDE DuckDB SQL, so the cross-engine
  * compare is driver-visible instead of living only in the repo's Python
  * ports (`tools/check_oracle.py` keeps those as a third lockstep twin and
  * still cross-checks them against these SQL results).
  *
  * Arithmetic notes (the round-3 `planeWeightsSqlCte` technique, hardened):
  *  - 64-bit wrap-around arithmetic runs in HUGEINT with `& 2^64-1` masks and
  *    `>>`/`<<` shifts — NOT `%`/`//`: HUGEINT division is a 128-bit divide
  *    and measured ~25x slower; bitwise ops are checked bit-identical.
  *  - DuckDB binds `&`/`<<` LOOSER than `+`/`*` (PostgreSQL precedence), so
  *    every emitted subexpression is fully parenthesized.
  *  - hash chains are emitted as NESTED SUBQUERIES (one step = one projection
  *    level), never lateral column aliases: DuckDB expands lateral aliases by
  *    textual substitution, which re-expands each reference and makes a
  *    15-step chain exponential (the naive form never finished binding).
  *
  * Scope: exact for the printable-ASCII corpus the generator emits (code
  * point == UTF-16 unit == byte). Java `\s` includes `\x0B`, RE2's does not,
  * and `unicode()` reads code points, not UTF-16 units — texts with `\x0B`
  * or non-ASCII would need a different byte path. tools/check_oracle.py's
  * Python ports carry the exact-JVM semantics for those edges.
  *
  * Lockstep twins: [[graft.dedup.Dedup.simhash64]] /
  * [[graft.expr.SimhashKernel]] (q_simhash), [[graft.dedup.Dedup.simhashPairs]]
  * (pigeonhole-exact => brute-force hamming in SQL),
  * [[graft.dedup.Dedup.minhashLshPairs]] + [[graft.expr.MinhashSignature]] /
  * [[graft.expr.ShingleKernel]] (q_minhash_lsh),
  * [[graft.ann.Similarity.ivfTopK]] (q_ann_ivf). Change those and these
  * generators (and the Python ports) must move together.
  */
object HashOracleSql {
  private val M    = "18446744073709551616" // 2^64
  private val MASK = "18446744073709551615" // 2^64 - 1
  private val P1 = BigInt("11400714785074694791") // 0x9E3779B185EBCA87
  private val P2 = BigInt("14029467366897019727") // 0xC2B2AE3D27D4EB4F
  private val P3 = BigInt("1609587929392839161")  // 0x165667B19E3779F9
  private val P4 = BigInt("9650029242287828579")  // 0x85EBCA77C2B2AE63
  private val P5 = BigInt("2870177450012600261")  // 0x27D4EB2F165667C5

  private def xor64(a: String, b: String): String = s"xor(($a), ($b))"
  private def shr(x: String, k: Int): String = s"(($x) >> $k)"

  /** (a * b) mod 2^64 via 32-bit split — b constant, a any HUGEINT in [0,2^64). */
  private def mulmod(a: String, b: BigInt): String = {
    val lo = b % (BigInt(1) << 32)
    s"((((($a) & 4294967295) * $b) + ((((($a) >> 32) * $lo) & 4294967295) << 32)) & $MASK)"
  }

  private def rotl(x: String, r: Int): String =
    s"(((($x) << $r) & $MASK) + (($x) >> ${64 - r}))"

  private def signed(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $M ELSE ($x) END AS BIGINT)"

  /** base: `SELECT ... FROM ...`; steps: (col, expr-of-prior-cols). One
    * projection level per step — see the lateral-alias blowup note above. */
  private def nest(base: String, steps: Seq[(String, String)]): String =
    steps.foldLeft(base) { case (sql, (name, expr)) =>
      s"SELECT *, $expr AS $name FROM ($sql)"
    }

  private def fmixSteps(src: String, pfx: String): Seq[(String, String)] = Seq(
    (s"${pfx}a", mulmod(xor64(src, shr(src, 33)), P2)),
    (s"${pfx}b", mulmod(xor64(s"${pfx}a", shr(s"${pfx}a", 29)), P3)),
    (s"${pfx}f", xor64(s"${pfx}b", shr(s"${pfx}b", 32))))

  /** XXH64.hashLong(l, seed) -> col `{pfx}f`; l/seed must be col refs or literals. */
  private def hashLongSteps(l: String, seed: String, pfx: String): Seq[(String, String)] = Seq(
    (s"${pfx}0", s"((($seed) + ${P5 + 8}) & $MASK)"),
    (s"${pfx}m", mulmod(l, P2)),
    (s"${pfx}1", xor64(s"${pfx}0", mulmod(rotl(s"${pfx}m", 31), P1))),
    (s"${pfx}2", s"((${mulmod(rotl(s"${pfx}1", 27), P1)} + $P4) & $MASK)")) ++
    fmixSteps(s"${pfx}2", pfx)

  /** 0-based byte `idx` of hex-string column `hs` as INT. */
  private def byteAt(hs: String, idx: String): String =
    s"CAST('0x' || substr($hs, CAST(2*($idx)+1 AS INT), 2) AS INT)"

  private def w64(hs: String, off: String): String =
    (0 until 8).map(j =>
      s"CAST(${byteAt(hs, s"($off)+$j")} AS HUGEINT) * ${BigInt(1) << (8 * j)}")
      .mkString("(", " + ", ")")

  private def w32(hs: String, off: String): String =
    (0 until 4).map(j =>
      s"CAST(${byteAt(hs, s"($off)+$j")} AS HUGEINT) * ${BigInt(1) << (8 * j)}")
      .mkString("(", " + ", ")")

  /** XXH64 stripe round: rotl64(v + k*P2, 31) * P1 (mod 2^64). */
  private def rnd(v: String, k: String): String =
    mulmod(rotl(s"((($v) + ${mulmod(k, P2)}) & $MASK)", 31), P1)

  private val SEED = 42
  private def m64(b: BigInt): BigInt = b & ((BigInt(1) << 64) - 1)
  private val V1 = m64(SEED + P1 + P2).toString
  private val V2 = m64(SEED + P2).toString
  private val V3 = SEED.toString
  private val V4 = m64(SEED - P1).toString
  private val H_SMALL = m64(SEED + P5).toString

  /** SELECT producing (s, base) = (s, XXH64(utf8(s), 42) as unsigned HUGEINT)
    * from `fromSql`, which must yield a column `s`. Bytes come from
    * `hex(s)` — hex of the UTF-8 encoding, any content. */
  private def xxh64StrSql(fromSql: String): String = {
    def merge(h: String, v: String) =
      s"(${mulmod(xor64(h, mulmod(rotl(mulmod(v, P2), 31), P1)), P1)} + $P4) & $MASK"
    def tail8(h: String, k: String) =
      s"(${mulmod(rotl(xor64(h, mulmod(rotl(mulmod(k, P2), 31), P1)), 27), P1)} + $P4) & $MASK"
    def tail1(h: String, b: String) =
      mulmod(rotl(xor64(h, s"(CAST($b AS HUGEINT) * $P5) & $MASK"), 11), P1)
    val base = s"SELECT s, hex(s) AS hs, CAST(strlen(hex(s))//2 AS BIGINT) AS n FROM ($fromSql)"
    val steps = Seq(
      ("acc",
        s"""list_reduce(list_prepend([CAST($V1 AS HUGEINT), $V2, $V3, $V4],
           |  list_transform(range(0, n//32), st ->
           |    [${w64("hs", "32*st")}, ${w64("hs", "32*st+8")}, ${w64("hs", "32*st+16")}, ${w64("hs", "32*st+24")}])),
           |  (a, kw) -> [${rnd("a[1]", "kw[1]")}, ${rnd("a[2]", "kw[2]")}, ${rnd("a[3]", "kw[3]")}, ${rnd("a[4]", "kw[4]")}])""".stripMargin),
      ("m0", s"(${rotl("acc[1]", 1)} + ${rotl("acc[2]", 7)} + ${rotl("acc[3]", 12)} + ${rotl("acc[4]", 18)}) & $MASK"),
      ("m1", merge("m0", "acc[1]")),
      ("m2", merge("m1", "acc[2]")),
      ("m3", merge("m2", "acc[3]")),
      ("m4", merge("m3", "acc[4]")),
      ("h0", s"(CASE WHEN n >= 32 THEN m4 ELSE CAST($H_SMALL AS HUGEINT) END + n) & $MASK"),
      ("h1",
        s"""list_reduce(list_prepend(h0, list_transform(range(4*(n//32), n//8), wi -> ${w64("hs", "8*wi")})),
           |  (h, k) -> ${tail8("h", "k")})""".stripMargin),
      ("w3", s"CASE WHEN n % 8 >= 4 THEN ${w32("hs", "8*(n//8)")} ELSE 0 END"),
      ("h2", s"CASE WHEN n % 8 >= 4 THEN (${mulmod(rotl(xor64("h1", s"(w3 * $P1) & $MASK"), 23), P2)} + $P3) & $MASK ELSE h1 END"),
      ("h3",
        s"""list_reduce(list_prepend(h2, list_transform(range(n - n%4, n), bi -> CAST(${byteAt("hs", "bi")} AS HUGEINT))),
           |  (h, b) -> ${tail1("h", "b")})""".stripMargin)) ++
      fmixSteps("h3", "x")
    s"SELECT s, xf AS base FROM (${nest(base, steps)})"
  }

  /** SELECT producing (i, seed) = (i, XXH64.hashInt(i, 42)) for i < numh. */
  private def hashIntSql(numh: Int): String = {
    val h0 = m64(BigInt(42) + P5 + 4).toString
    val base = s"SELECT i, (CAST(i AS HUGEINT) * $P1) & $MASK AS ip FROM range(0, $numh) r(i)"
    val steps = Seq(
      ("s0", rotl(xor64(h0, "ip"), 23)),
      ("s1", s"(${mulmod("s0", P2)} + $P3) & $MASK")) ++ fmixSteps("s1", "s")
    s"SELECT i, sf AS seed FROM (${nest(base, steps)})"
  }

  // ------------------------------------------------------------- murmur ---

  /** Scala MurmurHash3 mixK: rotl32(k*c1, 15) * c2 (mod 2^32), UBIGINT. */
  private def mixk(k: String): String = {
    val kc1 = s"((CAST($k AS UBIGINT) * 3432918353) & 4294967295)"
    val rotl15 = s"(((($kc1 * 32768) & 4294967295) + ($kc1 >> 17)))"
    s"(($rotl15 * 461845907) & 4294967295)"
  }

  /** Murmur main-loop step: h := rotl32(h^k, 13)*5 + 0xe6546b64 (mod 2^32). */
  private def mstep(h: String, k: String): String = {
    val hx = s"xor($h, $k)"
    val rotl13 = s"(((($hx * 8192) & 4294967295) + ($hx >> 19)))"
    s"((($rotl13 * 5) + 3864292196) & 4294967295)"
  }

  /** Column chain for MurmurHash3.stringHash over `expr` (string), suffix
    * `s` — needs a prior `L = strlen(tok)` column; ends in column `mm{s}`.
    * This chain is SHORT/linear, so lateral aliases are safe here (each
    * alias referenced at most twice). Seed 0xf7ca7fd2 = 4157243346;
    * finalization constants 0x85ebca6b / 0xc2b2ae35. */
  private def murmurChain(expr: String, s: String): String =
    s"""
       |      list_transform(range(0, L//2), i ->
       |        ${mixk(s"(unicode(substr($expr, CAST(2*i+1 AS INT), 1))*65536 + unicode(substr($expr, CAST(2*i+2 AS INT), 1)))")}) AS ks$s,
       |      list_reduce(list_prepend(CAST(4157243346 AS UBIGINT), ks$s), (h,k) -> ${mstep("h", "k")}) AS h0$s,
       |      CASE WHEN L%2=1 THEN xor(h0$s, ${mixk(s"unicode(substr($expr, CAST(L AS INT), 1))")}) ELSE h0$s END AS h1$s,
       |      xor(h1$s, CAST(L AS UBIGINT)) AS h2$s,
       |      xor(h2$s, h2$s>> 16) AS f1$s,
       |      (f1$s * 2246822507) & 4294967295 AS f2$s,
       |      xor(f2$s, f2$s>> 13) AS f3$s,
       |      (f3$s * 3266489909) & 4294967295 AS f4$s,
       |      xor(f4$s, f4$s>> 16) AS mm$s""".stripMargin

  /** Java String.trim trims chars <= 0x20; chr(0) cannot appear in a VARCHAR,
    * so the trim set is 0x01..0x20 (identical on any real corpus). */
  private val javaTrimSet: String =
    "e'" + (1 to 0x20).map(i => f"\\x$i%02x").mkString + "'"

  private val pow2List: String =
    "[" + (0 until 64).map(j => (BigInt(1) << j).toString).mkString(",") + "]::HUGEINT[]"

  /** CTE chain ending in fp(doc_id, simhash BIGINT) — the exact
    * [[graft.expr.SimhashKernel]] fingerprint per document. */
  private def simhashCte: String =
    s"""toks AS (
       |  SELECT doc_id, tok
       |  FROM documents, UNNEST(regexp_split_to_array(trim(text, $javaTrimSet), '\\s+')) AS u(tok)
       |  WHERE text IS NOT NULL),
       |dtok AS (SELECT DISTINCT tok FROM toks),
       |mm AS (
       |  SELECT tok, mmF AS mh_fwd, mmR AS mh_rev FROM (
       |    SELECT tok, strlen(tok) AS L,${murmurChain("tok", "F")},${murmurChain("reverse(tok)", "R")}
       |    FROM dtok)),
       |dochash AS (
       |  SELECT t.doc_id, CAST(m.mh_fwd AS HUGEINT) * 4294967296 + CAST(m.mh_rev AS HUGEINT) AS h64
       |  FROM toks t JOIN mm m USING (tok)),
       |nt AS (SELECT doc_id, count(*) AS ntok FROM dochash GROUP BY 1),
       |pw AS (SELECT $pow2List AS l),
       |bits AS (
       |  SELECT doc_id, j, sum(CASE WHEN (h64 & l[j+1]) <> 0 THEN 1 ELSE 0 END) AS ones
       |  FROM dochash, range(0,64) r(j), pw GROUP BY 1, 2),
       |fps AS (
       |  SELECT b.doc_id, sum(CASE WHEN 2*b.ones > nt.ntok THEN l[CAST(j+1 AS INT)] ELSE 0 END) AS fpu
       |  FROM bits b JOIN nt USING(doc_id), pw GROUP BY 1),
       |fp AS (
       |  SELECT d.doc_id,
       |    CAST(CASE WHEN f.fpu >= 9223372036854775808 THEN f.fpu - $M
       |              ELSE COALESCE(f.fpu, 0) END AS BIGINT) AS simhash
       |  FROM documents d LEFT JOIN fps f USING(doc_id))""".stripMargin

  /** q_simhash: per-document 64-bit SimHash fingerprint. */
  def qSimhashSql: String =
    s"WITH $simhashCte\nSELECT doc_id, simhash FROM fp"

  /** q_simhash_pairs: Dedup.simhashPairs(maxHamming=7, unbounded buckets) is
    * EXACT by the pigeonhole argument, so the oracle is plain brute force
    * over the SQL fingerprints. */
  def qSimhashPairsSql(maxHamming: Int): String =
    s"""WITH $simhashCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin

  /** q_minhash_lsh: full re-derivation of Dedup.minhashLshPairs — shingles
    * (`regexp_split_to_array(trim(text), '\s+')` is EXACTLY ShingleKernel's
    * space-only trim + keep-empties split), one-hash MinHash signatures,
    * band buckets via the xxhash64(array<long>) running-seed fold, bucket
    * size guard, exact shingle-Jaccard verify. */
  def qMinhashLshSql(n: Int, numHashes: Int, bands: Int, tau: Double,
                     maxBucketSize: Int): String = {
    val rpb = numHashes / bands
    val bbBase =
      s"SELECT doc_id, i // $rpb AS band, " +
        (0 until rpb).map(j =>
          s"(CAST(max(CASE WHEN i % $rpb = $j THEN sig END) AS HUGEINT) + $M) & $MASK AS e$j")
          .mkString(", ") +
        " FROM sigv GROUP BY 1, 2"
    val bbSteps = (0 until rpb).foldLeft((Seq.empty[(String, String)], s"CAST($SEED AS HUGEINT)")) {
      case ((steps, prev), j) => (steps ++ hashLongSteps(s"e$j", prev, s"b$j"), s"b${j}f")
    }
    val bucketSql =
      s"SELECT doc_id, band, ${signed(bbSteps._2)} AS bucket FROM (${nest(bbBase, bbSteps._1)})"
    val hvSql = nest("SELECT s, i, base, seed FROM xh, seeds",
      hashLongSteps("base", "seed", "h"))
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS s
       |       FROM toks, UNNEST(range(1, len(t) - ${n - 2})) AS u(i)),
       |dsh AS (SELECT DISTINCT s FROM sh),
       |xh AS (${xxh64StrSql("SELECT s FROM dsh")}),
       |seeds AS (${hashIntSql(numHashes)}),
       |hv AS (SELECT s, i, ${signed("hf")} AS v FROM ($hvSql)),
       |sigv AS (
       |  SELECT sh.doc_id, hv.i, min(hv.v) AS sig
       |  FROM sh JOIN hv USING (s) GROUP BY 1, 2),
       |buckets AS ($bucketSql),
       |keep AS (SELECT band, bucket FROM buckets GROUP BY 1, 2
       |         HAVING count(*) > 1 AND count(*) <= $maxBucketSize),
       |pruned AS (SELECT b.doc_id, b.band, b.bucket FROM buckets b JOIN keep USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM pruned a JOIN pruned b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS common
       |          FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b AND x.s = y.s
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b, round(common * 1.0 / (x.sz + y.sz - common), 4) AS jaccard
       |FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
       |WHERE round(common * 1.0 / (x.sz + y.sz - common), 4) >= $tau""".stripMargin
  }

  /** q_kmv_distinct: the KMV bottom-k distinct sketch
    * ([[graft.agg.Sketches.kmvDistinct]]) re-derived — XXH64 over each
    * distinct text, k smallest in unsigned order, the same (k-1)·2^64/h_k
    * double arithmetic (BIGINT→DOUBLE on both engines is correctly rounded;
    * the 2^64 literal is exactly representable). */
  def qKmvDistinctSql(table: String, column: String, k: Int): String = {
    val two64d = "1.8446744073709552e19"
    s"""WITH dvals AS (SELECT DISTINCT $column AS s FROM $table WHERE $column IS NOT NULL),
       |xh AS (${xxh64StrSql("SELECT s FROM dvals")}),
       |topk AS (SELECT DISTINCT base FROM xh ORDER BY base LIMIT $k),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
       |               ${signed("max(base)")} AS kth_hash
       |        FROM topk)
       |SELECT n_kept, kth_hash,
       |       round(CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |                  ELSE ${(k - 1).toDouble} * $two64d /
       |                       (CAST(kth_hash AS DOUBLE) +
       |                        CASE WHEN kth_hash < 0 THEN $two64d ELSE 0.0 END)
       |             END, 2) AS est
       |FROM agg""".stripMargin
  }

  /** q_kmv_grouped: the per-group KMV sketch
    * ([[graft.agg.Sketches.kmvDistinctBy]]) re-derived. Each DISTINCT text is
    * hashed ONCE through the XXH64 CTE and joined back to its groups (the
    * same value→hash function Spark applies rowwise), then per group the k
    * smallest distinct hashes in unsigned order feed the identical
    * (k-1)·2^64/h_k estimate chain as [[qKmvDistinctSql]].
    */
  def qKmvGroupedSql(table: String, groupCol: String, column: String, k: Int): String = {
    val two64d = "1.8446744073709552e19"
    s"""WITH gtxt AS (SELECT DISTINCT $groupCol AS g, $column AS s
       |              FROM $table WHERE $column IS NOT NULL),
       |dvals AS (SELECT DISTINCT s FROM gtxt),
       |xh AS (${xxh64StrSql("SELECT s FROM dvals")}),
       |gh AS (SELECT DISTINCT g, base FROM gtxt JOIN xh USING (s)),
       |rk AS (SELECT g, base,
       |              row_number() OVER (PARTITION BY g ORDER BY base) AS rn
       |       FROM gh),
       |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
       |               ${signed("max(base)")} AS kth_hash
       |        FROM rk WHERE rn <= $k GROUP BY g)
       |SELECT g AS $groupCol, n_kept, kth_hash,
       |       round(CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |                  ELSE ${(k - 1).toDouble} * $two64d /
       |                       (CAST(kth_hash AS DOUBLE) +
       |                        CASE WHEN kth_hash < 0 THEN $two64d ELSE 0.0 END)
       |             END, 2) AS est
       |FROM agg""".stripMargin
  }

  /** q_kfold: deterministic k-fold assignment
    * ([[graft.agg.Preprocessing.kFoldByHash]]) re-derived —
    * `fold = (u53 · k) // 2^53`, all-integer on both engines (BIGINT `//`
    * is floor division, identical to Spark `div` for non-negatives).
    */
  def qKfoldSql(table: String, idCol: String, k: Int): String = {
    val hashed = nest(
      s"SELECT $idCol, ((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""SELECT $idCol,
       |  CAST((CAST((hf >> 11) AS BIGINT) * $k) // 9007199254740992 AS INT)
       |    AS fold
       |FROM ($hashed)""".stripMargin
  }

  /** q_weighted_sample: per-row-rate deterministic sampling
    * ([[graft.agg.Preprocessing.weightedSample]] over a min-max-normalized
    * [[graft.text.Classifier.hashedLinearScore]]) re-derived. The rate is
    * ALL-EXACT inputs through correctly-rounded double ops on both engines
    * (BIGINT score minus BIGINT min, divided by the BIGINT range — every
    * operand exact, one division, one multiply, one floor), and the keep
    * gate replays the xxhash64 top-53-bit compare. The classifier CTE chain
    * is [[qQualityClassifierSql]] verbatim as a derived table (empty docs
    * drop on both engines — zero-feature rows never score).
    */
  def qWeightedSampleSql(table: String, idCol: String, textCol: String,
                         numBuckets: Int, weightMul: Long,
                         weightMod: Long): String = {
    val cls = qQualityClassifierSql(table, idCol, textCol, numBuckets,
      weightMul, weightMod)
    val hashed = nest(
      s"SELECT $idCol AS hid, ((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh" +
        s" FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""WITH cls AS (SELECT * FROM ($cls) q),
       |st AS (SELECT CAST(min(score_micro) AS BIGINT) AS mn,
       |              CAST(max(score_micro) AS BIGINT) AS mx FROM cls),
       |rt AS (SELECT cls.$idCol, cls.score_micro,
       |         CASE WHEN st.mx > st.mn
       |              THEN CAST(cls.score_micro - st.mn AS DOUBLE) /
       |                   CAST(st.mx - st.mn AS DOUBLE)
       |              ELSE CAST(1.0 AS DOUBLE) END AS rate
       |       FROM cls, st),
       |hx AS (SELECT hid, (hf >> 11) AS top53 FROM ($hashed))
       |SELECT rt.$idCol, rt.score_micro
       |FROM rt JOIN hx ON hx.hid = rt.$idCol
       |WHERE hx.top53 < CAST(CAST(floor(
       |  least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), rt.rate))
       |  * 9007199254740992.0) AS BIGINT) AS HUGEINT)""".stripMargin
  }

  /** q_negative_sample: deterministic ring negative sampling
    * ([[graft.agg.Preprocessing.negativeSample]]) re-derived. Ring rank =
    * row_number over (unsigned xxhash64(id), id) — the window over the full
    * table is the oracle's prerogative (Spark uses the distributed rank) —
    * and each anchor joins the k following ring positions mod N.
    */
  def qNegativeSampleSql(table: String, idCol: String, k: Int): String = {
    val hashed = nest(
      s"SELECT $idCol, ((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""WITH rk AS (
       |  SELECT $idCol,
       |         CAST(row_number() OVER (ORDER BY hf, $idCol) AS BIGINT) AS r,
       |         CAST(count(*) OVER () AS BIGINT) AS n
       |  FROM ($hashed)),
       |ex AS (SELECT $idCol AS anchor_id, CAST(t.j AS INT) AS neg_rank,
       |              ((r + t.j - 1) % n) + 1 AS nr
       |       FROM rk, range(1, $k + 1) t(j))
       |SELECT e.anchor_id, e.neg_rank, rk.$idCol AS neg_id
       |FROM ex e JOIN rk ON rk.r = e.nr""".stripMargin
  }

  /** q_mixture_epochs: epoch-aware deterministic upsampling
    * ([[graft.agg.Preprocessing.mixtureUpsample]]) re-derived. The per-domain
    * rate is the SAME double chain as [[qDomainMixSql]] but UNCAPPED:
    * copies = floor(rate) (exact), the fractional threshold
    * `floor((rate - copies) * 2^53)` (the subtraction is exact by Sterbenz),
    * and each row fans out to `copies + gate` epochs via range() — the gate
    * replaying Spark's `xxhash64(BIGINT)` top-53 bits, an exact integer
    * compare.
    */
  def qMixtureUpsampleSql(table: String, idCol: String, domainCol: String,
                          tokenCol: String, weights: Seq[(String, Double)],
                          budget: Long): String = {
    require(weights.forall(!_._1.contains("'")),
      "domain fixture names must not contain single quotes (unescaped SQL literals)")
    val wvals = weights
      .map { case (d, w) => s"('$d', CAST(${w.toString} AS DOUBLE))" }
      .mkString(", ")
    val hashed = nest(
      s"SELECT $idCol, $domainCol, $tokenCol, " +
        s"((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""WITH w(d, wt) AS (VALUES $wvals),
       |tot AS (SELECT $domainCol AS d, CAST(sum($tokenCol) AS BIGINT) AS tot
       |        FROM $table GROUP BY 1),
       |rt AS (SELECT t.d,
       |         (w.wt * CAST($budget AS DOUBLE)) / CAST(t.tot AS DOUBLE) AS rate
       |       FROM tot t JOIN w ON t.d = w.d),
       |cp AS (SELECT d, CAST(floor(rate) AS BIGINT) AS copies,
       |         CAST(floor((rate - floor(rate)) * 9007199254740992.0)
       |              AS BIGINT) AS thr
       |       FROM rt),
       |hx AS (SELECT $idCol, $domainCol, $tokenCol, (hf >> 11) AS top53
       |       FROM ($hashed)),
       |nn AS (SELECT hx.$idCol, hx.$domainCol, hx.$tokenCol,
       |         cp.copies + (CASE WHEN hx.top53 < CAST(cp.thr AS HUGEINT)
       |                           THEN 1 ELSE 0 END) AS n
       |       FROM hx JOIN cp ON hx.$domainCol = cp.d)
       |SELECT $idCol, $domainCol, $tokenCol,
       |       CAST(unnest(range(0, n)) AS BIGINT) AS epoch
       |FROM nn""".stripMargin
  }

  /** q_kmv_jaccard: pairwise KMV set-operation estimates
    * ([[graft.agg.Sketches.kmvJaccardPairs]] over [[graft.agg.Sketches
    * .kmvSketchBy]] token sketches) re-derived END TO END: the same
    * whitespace tokenization as the CMS oracles, each DISTINCT token hashed
    * ONCE through the XXH64 CTE, per-group bottom-k (the sketch), then the
    * Beyer et al. combine — U = bottom-k of the two sketches' union,
    * j_num = |U ∩ A ∩ B|, j_den = |U| (exact integers), and the same
    * (k-1)·2^64/h_k estimator chain as [[qKmvDistinctSql]] on U's kth.
    */
  def qKmvJaccardSql(table: String, groupCol: String, textCol: String,
                     k: Int): String = {
    val two64d = "1.8446744073709552e19"
    s"""WITH toks AS (
       |  SELECT $groupCol AS g,
       |         unnest(regexp_split_to_array(trim($textCol), '\\s+')) AS tok
       |  FROM $table),
       |gtok AS (SELECT DISTINCT g, tok FROM toks WHERE tok <> ''),
       |dt AS (SELECT DISTINCT tok AS s FROM gtok),
       |xh AS (${xxh64StrSql("SELECT s FROM dt")}),
       |gh AS (SELECT DISTINCT g, base FROM gtok JOIN xh ON xh.s = gtok.tok),
       |rk AS (SELECT g, base,
       |              row_number() OVER (PARTITION BY g ORDER BY base) AS rn
       |       FROM gh),
       |sk AS (SELECT g, base FROM rk WHERE rn <= $k),
       |gs AS (SELECT DISTINCT g FROM sk),
       |pr AS (SELECT a.g AS g1, b.g AS g2 FROM gs a JOIN gs b ON a.g < b.g),
       |uh AS (SELECT p.g1, p.g2, s.base,
       |              row_number() OVER (PARTITION BY p.g1, p.g2
       |                ORDER BY s.base) AS rn
       |       FROM pr p JOIN sk s ON s.g = p.g1 OR s.g = p.g2
       |       GROUP BY p.g1, p.g2, s.base),
       |u AS (SELECT g1, g2, base FROM uh WHERE rn <= $k),
       |den AS (SELECT g1, g2, CAST(count(*) AS BIGINT) AS j_den,
       |               ${signed("max(base)")} AS kth_hash
       |        FROM u GROUP BY 1, 2),
       |num AS (SELECT u.g1, u.g2, CAST(count(*) AS BIGINT) AS j_num
       |        FROM u JOIN sk s1 ON s1.g = u.g1 AND s1.base = u.base
       |               JOIN sk s2 ON s2.g = u.g2 AND s2.base = u.base
       |        GROUP BY 1, 2)
       |SELECT d.g1, d.g2, CAST(coalesce(n.j_num, 0) AS BIGINT) AS j_num,
       |       d.j_den,
       |       round(CAST(coalesce(n.j_num, 0) AS DOUBLE) /
       |             CAST(d.j_den AS DOUBLE), 6) AS jacc,
       |       round(CASE WHEN d.j_den < $k THEN CAST(d.j_den AS DOUBLE)
       |                  ELSE ${(k - 1).toDouble} * $two64d /
       |                       (CAST(d.kth_hash AS DOUBLE) +
       |                        CASE WHEN d.kth_hash < 0 THEN $two64d
       |                             ELSE 0.0 END)
       |             END, 2) AS est_union
       |FROM den d LEFT JOIN num n ON n.g1 = d.g1 AND n.g2 = d.g2""".stripMargin
  }

  /** q_domain_mix: the deterministic domain-mixture sampler
    * ([[graft.agg.Preprocessing.mixtureSample]]) re-derived. Per-domain token
    * totals join the literal weights; the keep threshold
    * `floor(min(1, (w*budget)/tot) * 2^53)` is computed with the IDENTICAL
    * double operation order as the Scala side (multiply, then divide, then
    * cap, then scale — every step correctly-rounded IEEE in both engines, so
    * the thresholds are bit-identical); each row's keep decision replays
    * Spark's `xxhash64(BIGINT)` (XXH64.hashLong, seed 42) through the
    * HUGEINT chain and compares the top 53 hash bits against the threshold —
    * an exact integer compare, no unsigned→double rounding anywhere. Ids are
    * sign-folded into [0, 2^64) the way the JVM reinterprets them. */
  def qDomainMixSql(table: String, idCol: String, domainCol: String,
                    tokenCol: String, weights: Seq[(String, Double)],
                    budget: Long): String = {
    val wvals = weights
      .map { case (d, w) => s"('$d', CAST(${w.toString} AS DOUBLE))" }
      .mkString(", ")
    val hashed = nest(
      s"SELECT $idCol, $domainCol, $tokenCol, " +
        s"((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""WITH w(d, wt) AS (VALUES $wvals),
       |tot AS (SELECT $domainCol AS d, CAST(sum($tokenCol) AS BIGINT) AS tot
       |        FROM $table GROUP BY 1),
       |thr AS (SELECT t.d,
       |          CAST(floor(least(CAST(1.0 AS DOUBLE),
       |            (w.wt * CAST($budget AS DOUBLE)) / CAST(t.tot AS DOUBLE))
       |            * 9007199254740992.0) AS BIGINT) AS thr
       |        FROM tot t JOIN w ON t.d = w.d),
       |hx AS (SELECT $idCol, $domainCol, $tokenCol, (hf >> 11) AS top53
       |       FROM ($hashed))
       |SELECT hx.$idCol, hx.$domainCol, hx.$tokenCol
       |FROM hx JOIN thr ON hx.$domainCol = thr.d
       |WHERE hx.top53 < CAST(thr.thr AS HUGEINT)""".stripMargin
  }

  /** q_quality_classifier: the hashed linear classifier
    * ([[graft.text.Classifier.hashedLinearScore]]) re-derived. Unigram and
    * bigram features are generated with the q_lm_score tokenization CTEs,
    * each DISTINCT gram is hashed ONCE through the XXH64 chain, bucketed by
    * its low bits and weighted with the pinned integer formula
    * `((bucket * mul) % mod) - 1000` — exact BIGINT arithmetic on both
    * engines (bucket < 4096 keeps the product far below 2^63). Per-doc score
    * is an order-independent BIGINT sum over occurrences.
    */
  def qQualityClassifierSql(table: String, idCol: String, textCol: String,
                            numBuckets: Int, weightMul: Long,
                            weightMod: Long): String = {
    s"""WITH toks AS (
       |  SELECT $idCol AS id, regexp_split_to_array(trim($textCol), '\\s+') AS t
       |  FROM $table),
       |grams AS (
       |  SELECT id, w AS g FROM (SELECT id, unnest(t) AS w FROM toks) WHERE w <> ''
       |  UNION ALL
       |  SELECT id, unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
       |    i -> array_to_string(t[i+1:i+2], ' '))) AS g
       |  FROM toks),
       |dg AS (SELECT DISTINCT g AS s FROM grams),
       |xh AS (${xxh64StrSql("SELECT s FROM dg")}),
       |wt AS (SELECT s,
       |         CAST(((((base & ${numBuckets - 1}) * $weightMul) % $weightMod)
       |               - 1000) AS BIGINT) AS w
       |       FROM xh),
       |sc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_feats,
       |              CAST(sum(w) AS BIGINT) AS score_micro
       |       FROM grams JOIN wt ON grams.g = wt.s GROUP BY id)
       |SELECT id AS $idCol, n_feats, score_micro,
       |       CAST(CASE WHEN score_micro > 0 THEN 1 ELSE 0 END AS INT) AS label
       |FROM sc""".stripMargin
  }

  /** Shared CTE chain for the CMS oracles: whitespace-token occurrences of
    * `textCol` per `groupCol` (s = token), every DISTINCT string in
    * `extraVals` ∪ tokens hashed ONCE through the XXH64 chain, then the d
    * per-row buckets via the hashLong seed-chain — EXACTLY Spark's
    * `xxhash64(value, lit(r))` (string hashed seed 42, then the row index
    * hashed with the running hash as seed), masked to the low log2(w) bits.
    * Emits CTEs: occ(g, tok), rb(s, r, j).
    */
  private def cmsCtes(table: String, groupCol: String, textCol: String,
                      d: Int, w: Int, extraVals: Seq[String]): String = {
    val extra = if (extraVals.isEmpty) ""
      else extraVals.map(v => s"('$v')").mkString(
        "  UNION SELECT s FROM (VALUES ", ", ", ") ev(s)\n")
    val hashed = nest(
      "SELECT s, r, base FROM (SELECT s, base, unnest(range(0, " +
        s"$d)) AS r FROM xh) rbase",
      hashLongSteps("CAST(r AS HUGEINT)", "base", "h"))
    s"""toks AS (
       |  SELECT $groupCol AS g,
       |         unnest(regexp_split_to_array(trim($textCol), '\\s+')) AS tok
       |  FROM $table),
       |occ AS (SELECT g, tok FROM toks WHERE tok <> ''),
       |dt AS (SELECT DISTINCT tok AS s FROM occ
       |$extra),
       |xh AS (${xxh64StrSql("SELECT s FROM dt")}),
       |rb AS (SELECT s, CAST(r AS INT) AS r,
       |              CAST((hf & ${w - 1}) AS INT) AS j
       |       FROM ($hashed))""".stripMargin
  }

  /** q_cms_cells: the Count-Min grid ([[graft.agg.Sketches.cmsSketchBy]] →
    * [[graft.agg.Sketches.cmsCells]]) re-derived — every non-empty cell's
    * exact sum.
    */
  def qCmsCellsSql(table: String, groupCol: String, textCol: String,
                   d: Int, w: Int): String =
    s"""WITH ${cmsCtes(table, groupCol, textCol, d, w, Nil)}
       |SELECT o.g AS $groupCol, rb.r, rb.j, CAST(count(*) AS BIGINT) AS cnt
       |FROM occ o JOIN rb ON o.tok = rb.s
       |GROUP BY o.g, rb.r, rb.j""".stripMargin

  /** q_cms_estimate: CMS point estimates for a pinned probe list against
    * each group's grid, plus the exact count (the estimate never
    * undercounts — the classic CMS bound, visible in the data).
    */
  def qCmsEstimateSql(table: String, groupCol: String, textCol: String,
                      probes: Seq[String], d: Int, w: Int): String = {
    require(probes.forall(!_.contains("'")),
      "probe fixture strings must not contain single quotes (unescaped SQL literals)")
    val pvals = probes.map(p => s"('$p')").mkString(", ")
    s"""WITH ${cmsCtes(table, groupCol, textCol, d, w, probes)},
       |cells AS (
       |  SELECT o.g, rb.r, rb.j, CAST(count(*) AS BIGINT) AS cnt
       |  FROM occ o JOIN rb ON o.tok = rb.s
       |  GROUP BY o.g, rb.r, rb.j),
       |groups AS (SELECT DISTINCT g FROM occ),
       |pe AS (SELECT p.s AS word, rb.r, rb.j
       |       FROM (VALUES $pvals) p(s) JOIN rb ON rb.s = p.s),
       |looked AS (
       |  SELECT groups.g, pe.word, pe.r, coalesce(cells.cnt, 0) AS cnt
       |  FROM groups CROSS JOIN pe
       |  LEFT JOIN cells ON cells.g = groups.g AND cells.r = pe.r
       |                 AND cells.j = pe.j),
       |est AS (SELECT g, word, CAST(min(cnt) AS BIGINT) AS est
       |        FROM looked GROUP BY g, word),
       |tc AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
       |       FROM occ GROUP BY g, tok)
       |SELECT est.g AS $groupCol, est.word, est.est,
       |       coalesce(tc.c, 0) AS true_cnt
       |FROM est LEFT JOIN tc ON tc.g = est.g AND tc.tok = est.word""".stripMargin
  }

  /** q_stratified_sample: deterministic class-balanced exact-N sampling
    * ([[graft.agg.Preprocessing.stratifiedExactN]]) — each group's n rows
    * smallest in (unsigned xxhash64(id), id) order. The Scala side orders by
    * the sign-XOR-folded hash; `hf` here lives in 0..2^64-1, the same total
    * order.
    */
  def qStratifiedSampleSql(table: String, idCol: String, groupCol: String,
                           n: Long): String = {
    val hashed = nest(
      s"SELECT $idCol, $groupCol, " +
        s"((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    s"""WITH rk AS (
       |  SELECT $idCol, $groupCol,
       |    CAST(row_number() OVER (PARTITION BY $groupCol
       |      ORDER BY hf, $idCol) AS BIGINT) AS smp_rank
       |  FROM ($hashed))
       |SELECT $groupCol, $idCol, smp_rank FROM rk WHERE smp_rank <= $n""".stripMargin
  }

  /** q_split_assign: deterministic train/val/test assignment
    * ([[graft.agg.Preprocessing.splitByHash]]) re-derived. The boundary
    * longs come from the SAME [[graft.agg.Preprocessing.splitBounds]] call
    * the Spark plan uses (driver-computed literals — no cross-engine float
    * arithmetic at all); the row hash replays Spark's `xxhash64(BIGINT)`
    * through the HUGEINT chain and the top 53 bits pick the first boundary
    * they fall under (the last split takes the remainder).
    */
  def qSplitAssignSql(table: String, idCol: String,
                      splits: Seq[(String, Double)]): String = {
    val bounds = graft.agg.Preprocessing.splitBounds(splits)
    val hashed = nest(
      s"SELECT $idCol, ((CAST($idCol AS HUGEINT) + $M) & $MASK) AS idh FROM $table",
      hashLongSteps("idh", "CAST(42 AS HUGEINT)", "h"))
    val whens = bounds.zip(splits.map(_._1)).map { case (b, name) =>
      s"WHEN top53 < CAST($b AS HUGEINT) THEN '$name'"
    }.mkString(" ")
    s"""WITH hx AS (SELECT $idCol, (hf >> 11) AS top53 FROM ($hashed))
       |SELECT $idCol, CASE $whens ELSE '${splits.last._1}' END AS split
       |FROM hx""".stripMargin
  }

  /** q_dsir_select: hashed importance-weight selection
    * ([[graft.text.Dsir.select]]) re-derived. Target = rows matching
    * `targetPred`, pool = the rest. Each DISTINCT token is hashed ONCE
    * through the XXH64 chain; bucket counts, the add-1 smoothed
    * log-likelihood ratio on the micro-log grid (one log10 of an
    * exact-integer ratio per occurrence, summed as BIGINT), and the
    * (weight DESC, id ASC) top-k rank all replay the pinned Scala
    * semantics.
    */
  def qDsirSelectSql(table: String, idCol: String, textCol: String,
                     targetPred: String, numBuckets: Int, k: Long): String = {
    s"""WITH toks AS (
       |  SELECT $idCol AS id, ($targetPred) AS tgt,
       |         regexp_split_to_array(trim($textCol), '\\s+') AS t
       |  FROM $table),
       |occ AS (
       |  SELECT id, tgt, w AS g
       |  FROM (SELECT id, tgt, unnest(t) AS w FROM toks) WHERE w <> ''),
       |dg AS (SELECT DISTINCT g AS s FROM occ),
       |xh AS (${xxh64StrSql("SELECT s FROM dg")}),
       |bk AS (SELECT s, CAST((base & ${numBuckets - 1}) AS BIGINT) AS b FROM xh),
       |ob AS (SELECT o.id, o.tgt, bk.b FROM occ o JOIN bk ON o.g = bk.s),
       |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM ob WHERE tgt GROUP BY b),
       |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM ob WHERE NOT tgt GROUP BY b),
       |tts AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ob WHERE tgt),
       |rts AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ob WHERE NOT tgt),
       |sc AS (
       |  SELECT ob.id,
       |    CAST(round(log10(
       |      CAST((coalesce(tc.ct, 0) + 1) * (rts.n + $numBuckets) AS DOUBLE) /
       |      CAST((coalesce(rc.cr, 0) + 1) * (tts.n + $numBuckets) AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS s
       |  FROM ob LEFT JOIN tc ON ob.b = tc.b
       |          LEFT JOIN rc ON ob.b = rc.b
       |          CROSS JOIN tts CROSS JOIN rts
       |  WHERE NOT ob.tgt),
       |w AS (SELECT id, CAST(count(*) AS BIGINT) AS n_feats,
       |             CAST(sum(s) AS BIGINT) AS weight_micro
       |      FROM sc GROUP BY id),
       |rk AS (SELECT id, n_feats, weight_micro,
       |         CAST(row_number() OVER (ORDER BY weight_micro DESC, id)
       |              AS BIGINT) AS sel_rank
       |       FROM w)
       |SELECT id AS $idCol, n_feats, weight_micro, sel_rank,
       |       CAST(CASE WHEN sel_rank <= $k THEN 1 ELSE 0 END AS INT) AS kept
       |FROM rk""".stripMargin
  }

  /** Sequential squared-distance fold (the JVM's loop order). */
  private def seqSqDist(v: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(0, len($c)), i -> " +
      s"(($v[i+1]) - ($c[i+1])) * (($v[i+1]) - ($c[i+1])))), (a, x) -> a + x)"

  /** The head of every k-means oracle: `WITH v` (the embeddings as DOUBLE
    * lists) and `hinit`, each row with its init rank key `h` = Spark's
    * `xxhash64(id, seed)` (hashLong(id) under seed 42, then hashLong(seed)
    * under that hash) — [[graft.ann.Similarity.collectInitRows]]'s order.
    * Ends without a trailing comma. */
  private def embeddingsHead(seed: Long): String = {
    val hinit = nest(
      nest("SELECT id, v, CAST(id AS HUGEINT) AS idh FROM v",
        hashLongSteps("idh", "CAST(42 AS HUGEINT)", "p")),
      hashLongSteps(s"CAST($seed AS HUGEINT)", "pf", "q"))
    s"""WITH v AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |hinit AS (SELECT id, v, ${signed("qf")} AS h FROM ($hinit))""".stripMargin
  }

  /** `name`: the first `n` rows of `hinit` as `(cid, v)`, cid = 0-based rank. */
  private def initCte(name: String, n: Int): String =
    s"""$name AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, id) AS INT) - 1 AS cid, v
       |  FROM hinit ORDER BY h, id LIMIT $n)""".stripMargin

  /** `name`: every row of `from` once per subspace m in [0, numSub), with
    * `keys` and the m-th `ds`-wide slice of list `vec` as `out`. */
  private def slicesCte(name: String, keys: String, vec: String, out: String,
                        from: String, ds: Int, numSub: Int): String =
    s"""$name AS (
       |  SELECT $keys, $vec[m*$ds+1 : (m+1)*$ds] AS $out
       |  FROM $from, range(0, $numSub) mm(m))""".stripMargin

  /** The unrolled k-means iterations, t = 1..iters: `asg<t>` assigns against
    * `cb<t-1>`, `cb<t>` is its update. Joined by ",\n", no trailing comma. */
  private def iterCtes(asg: String, cb: String, iters: Int,
                       assign: String => String,
                       update: (String, String) => String): String =
    (1 to iters).map { t =>
      val prev = s"$cb${t - 1}"
      s"$asg$t AS (${assign(prev)}),\n$cb$t AS (${update(s"$asg$t", prev)})"
    }.mkString(",\n")

  /** First-minimum assignment (ORDER BY dist, cid) of every `(id, m, sv)`
    * row of `subTable` against the per-subspace codebook CTE `cb`. */
  private def pqAssign(subTable: String, cb: String): String =
    s"""
       |  SELECT id, m, sv, cid FROM (
       |    SELECT s.id, s.m, s.sv, c.cid,
       |           row_number() OVER (PARTITION BY s.id, s.m ORDER BY ${seqSqDist("s.sv", "c.c")}, c.cid) AS rn
       |    FROM $subTable s JOIN $cb c ON s.m = c.m) WHERE rn = 1""".stripMargin

  /** The codebook after one iteration: each (m, cid) mean as floor(x*2^32)
    * long sums (order-independent), an unassigned code keeps `prev`'s. */
  private def pqUpdate(asg: String, prev: String): String =
    s"""
       |  SELECT p.m, p.cid, COALESCE(n.c, p.c) AS c FROM $prev p LEFT JOIN (
       |    SELECT m, cid, list((CAST(s AS DOUBLE) / 4294967296.0) / CAST(cnt AS DOUBLE) ORDER BY dim) AS c
       |    FROM (
       |      SELECT a.m, a.cid, u.e.dim AS dim,
       |             CAST(SUM(u.e.s) AS BIGINT) AS s, COUNT(*) AS cnt
       |      FROM $asg a, UNNEST(list_transform(range(0, len(a.sv)), i ->
       |             struct_pack(dim := i, s := CAST(floor(a.sv[i+1] * 4294967296.0) AS BIGINT)))) u(e)
       |      GROUP BY 1, 2, 3)
       |    GROUP BY m, cid) n ON p.m = n.m AND p.cid = n.cid""".stripMargin

  /** `probes`: each query's `nProbe` nearest lists of centroid CTE `cents`. */
  private def probesCte(cents: String, nProbe: Int): String =
    s"""probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY ${seqSqDist("q.qv", "c.c")}, c.cid) AS rn
       |    FROM q, $cents c) WHERE rn <= $nProbe)""".stripMargin

  /** `qsub` + `dt`: each query's exact subspace distance to every code of
    * codebook CTE `cb` (the ADC tables). */
  private def adcTableCtes(ds: Int, numSub: Int, cb: String): String =
    s"""${slicesCte("qsub", "qid, m", "qv", "qsv", "q", ds, numSub)},
       |dt AS (
       |  SELECT qs.qid, qs.m, c.cid, ${seqSqDist("qs.qsv", "c.c")} AS d
       |  FROM qsub qs JOIN $cb c ON qs.m = c.m)""".stripMargin

  /** The per-query top-k of CTE `from` by (`score` `dir`, id ASC). */
  private def topKSelect(score: String, dir: String, from: String, k: Int): String =
    s"""SELECT qid, CAST(rank AS INT) AS rank, id AS neighbor_id, $score FROM (
       |  SELECT qid, id, $score,
       |         row_number() OVER (PARTITION BY qid ORDER BY $score $dir, id ASC) AS rank
       |  FROM $from)
       |WHERE rank <= $k""".stripMargin

  /** The coarse-quantizer CTE chain SHARED by q_ann_ivf and q_semdedup —
    * [[graft.ann.Similarity.trainCodebooks]] at numSub=1 unrolled over the
    * embeddings table: `v` (doubles), `hinit` (xxhash64(id,42) seed-ranked),
    * `cents0` (init rows), per-iteration asg/cents CTEs with the
    * floor(x*2^32) order-independent mean, and `asgF` — the full-corpus
    * first-minimum assignment against `cents$iters`. Ends WITHOUT a trailing
    * comma; callers append their own CTEs and may reference `v`, `asgF`,
    * and `cents$iters`. */
  private def coarseCtes(nLists: Int, iters: Int, seed: Long): String = {
    def assign(cents: String): String =
      s"""
         |  SELECT id, v, cid FROM (
         |    SELECT b.id, b.v, c.cid,
         |           row_number() OVER (PARTITION BY b.id ORDER BY ${seqSqDist("b.v", "c.c")}, c.cid) AS rn
         |    FROM v b, $cents c) WHERE rn = 1""".stripMargin
    def update(asg: String, prev: String): String =
      s"""
         |  SELECT p.cid, COALESCE(n.c, p.c) AS c FROM $prev p LEFT JOIN (
         |    SELECT cid, list((CAST(s AS DOUBLE) / 4294967296.0) / CAST(cnt AS DOUBLE) ORDER BY dim) AS c
         |    FROM (
         |      SELECT a.cid, u.e.dim AS dim,
         |             CAST(SUM(u.e.s) AS BIGINT) AS s, COUNT(*) AS cnt
         |      FROM $asg a, UNNEST(list_transform(range(0, len(a.v)), i ->
         |             struct_pack(dim := i, s := CAST(floor(a.v[i+1] * 4294967296.0) AS BIGINT)))) u(e)
         |      GROUP BY 1, 2)
         |    GROUP BY cid) n ON p.cid = n.cid""".stripMargin
    s"""${embeddingsHead(seed)},
       |cents0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, id) AS INT) - 1 AS cid, v AS c
       |  FROM hinit ORDER BY h, id LIMIT $nLists),
       |${iterCtes("asg", "cents", iters, assign, update)},
       |asgF AS (${assign(s"cents$iters")})""".stripMargin
  }

  /** q_ann_ivf: the whole deterministic IVF pipeline unrolled — hash-ranked
    * init, `iters` k-means iterations with the floor(x*2^32) order-independent
    * centroid mean, full-corpus assignment, nProbe nearest lists, exact
    * cosine re-rank. Distances use a sequential list_reduce fold (the JVM's
    * loop order); cosines use list_dot_product exactly like the green
    * q_ann_brute oracle. */
  def qAnnIvfSql(nLists: Int, nProbe: Int, iters: Int, seed: Long, k: Int,
                 nQueries: Int): String =
    s"""${coarseCtes(nLists, iters, seed)},
       |n AS (SELECT id, sqrt(list_dot_product(v, v)) AS norm FROM v),
       |q AS (SELECT a.id AS qid, a.v AS qv, n.norm AS qnorm
       |      FROM asgF a JOIN n USING (id) WHERE a.id < $nQueries),
       |${probesCte(s"cents$iters", nProbe)},
       |cand AS (
       |  SELECT q.qid, b.id,
       |         round(list_dot_product(q.qv, b.v) / (q.qnorm * n.norm), 4) AS cosine
       |  FROM asgF b JOIN probes p ON b.cid = p.cid JOIN q ON q.qid = p.qid JOIN n ON n.id = b.id
       |  WHERE b.id <> q.qid)
       |${topKSelect("cosine", "DESC", "cand", k)}""".stripMargin

  /** q_semdedup: [[graft.dedup.Dedup.semDedup]] unrolled — the SHARED
    * coarse-quantizer chain ([[coarseCtes]], identical to q_ann_ivf's), then
    * per-row cosine-to-centroid (rounded 4 dp, like every cosine oracle),
    * the (cent_cos ASC, id ASC) within-cluster rank, and the any-earlier
    * pairwise verdict: a row is a dup iff some earlier-ranked row of its
    * cluster has pair cosine >= tau. Keep in lockstep with semDedup — the
    * maxClusterSize guard has no SQL twin (the oracle corpus never trips
    * it; same arrangement as rangeJoinBinned's guard). */
  def qSemDedupSql(nLists: Int, iters: Int, seed: Long, tau: Double): String =
    s"""${coarseCtes(nLists, iters, seed)},
       |n AS (SELECT id, sqrt(list_dot_product(v, v)) AS norm FROM v),
       |cent AS (SELECT cid, c, sqrt(list_dot_product(c, c)) AS cnorm FROM cents$iters),
       |r AS (
       |  SELECT a.id, a.cid, a.v, n.norm,
       |         round(list_dot_product(a.v, ct.c) / (n.norm * ct.cnorm), 4) AS cent_cos
       |  FROM asgF a JOIN n USING (id) JOIN cent ct ON ct.cid = a.cid),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY cid ORDER BY cent_cos ASC, id ASC) AS rn
       |  FROM r),
       |dup AS (
       |  SELECT DISTINCT b.id FROM rk a JOIN rk b ON a.cid = b.cid AND a.rn < b.rn
       |  WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 4) >= $tau)
       |SELECT r.id, CAST(r.cid AS INT) AS cluster, r.cent_cos,
       |       (dup.id IS NOT NULL) AS is_dup
       |FROM r LEFT JOIN dup ON r.id = dup.id""".stripMargin

  /** q_ann_pq: [[graft.ann.Similarity.pqTopK]] unrolled — the SAME hash-ranked
    * init rows as q_ann_ivf (shared across subspaces: row j seeds code j of
    * every subspace codebook), `iters` per-subspace k-means iterations with
    * the floor(x*2^32) order-independent mean, full-corpus encoding
    * (first-minimum tie-break = ORDER BY dist, cid), per-query exact subspace
    * distance tables, and ADC = the ascending-subspace sequential fold of
    * table lookups. Keep in lockstep with pqTopK AND supp_ann_pq in
    * tools/check_oracle.py. */
  def qAnnPqSql(dim: Int, numSub: Int, numCodes: Int, iters: Int, seed: Long,
                k: Int, nQueries: Int): String = {
    require(dim % numSub == 0)
    val ds = dim / numSub
    val last = s"cb$iters"
    s"""${embeddingsHead(seed)},
       |${initCte("init", numCodes)},
       |${slicesCte("sub", "id, m", "v", "sv", "v", ds, numSub)},
       |${slicesCte("cb0", "m, cid", "v", "c", "init", ds, numSub)},
       |${iterCtes("asg", "cb", iters, pqAssign("sub", _), pqUpdate)},
       |codes AS (${pqAssign("sub", last)}),
       |q AS (SELECT id AS qid, v AS qv FROM v WHERE id < $nQueries),
       |${adcTableCtes(ds, numSub, last)},
       |adc AS (
       |  SELECT d.qid, cd.id,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.d ORDER BY d.m)), (a, x) -> a + x), 4) AS adc
       |  FROM codes cd JOIN dt d ON d.m = cd.m AND d.cid = cd.cid
       |  WHERE cd.id <> d.qid
       |  GROUP BY d.qid, cd.id)
       |${topKSelect("adc", "ASC", "adc", k)}""".stripMargin
  }

  /** q_ann_ivfpq: [[graft.ann.Similarity.ivfPqTopK]] unrolled — the q_ann_ivf
    * coarse machinery (run as "subspace 0 over the full vector": same
    * hash-ranked init LIMIT nLists, same iterations) composed with the
    * q_ann_pq codebook/ADC machinery, candidates filtered to each query's
    * nProbe nearest coarse lists before the ADC rank. Keep in lockstep with
    * ivfPqTopK AND supp_ann_ivfpq in tools/check_oracle.py. */
  def qAnnIvfPqSql(dim: Int, nLists: Int, nProbe: Int, coarseIters: Int,
                   numSub: Int, numCodes: Int, pqIters: Int, seed: Long,
                   k: Int, nQueries: Int): String = {
    require(dim % numSub == 0)
    val ds = dim / numSub
    val coarseLast = s"ccb$coarseIters"
    val pqLast = s"pcb$pqIters"
    s"""${embeddingsHead(seed)},
       |${initCte("cinit", nLists)},
       |${initCte("pinit", numCodes)},
       |csub AS (SELECT id, 0 AS m, v AS sv FROM v),
       |${slicesCte("psub", "id, m", "v", "sv", "v", ds, numSub)},
       |ccb0 AS (SELECT 0 AS m, cid, v AS c FROM cinit),
       |${slicesCte("pcb0", "m, cid", "v", "c", "pinit", ds, numSub)},
       |${iterCtes("casg", "ccb", coarseIters, pqAssign("csub", _), pqUpdate)},
       |${iterCtes("pasg", "pcb", pqIters, pqAssign("psub", _), pqUpdate)},
       |clusters AS (${pqAssign("csub", coarseLast)}),
       |codes AS (${pqAssign("psub", pqLast)}),
       |q AS (SELECT id AS qid, v AS qv FROM v WHERE id < $nQueries),
       |${probesCte(coarseLast, nProbe)},
       |${adcTableCtes(ds, numSub, pqLast)},
       |cand AS (
       |  SELECT p.qid, cl.id FROM clusters cl JOIN probes p ON cl.cid = p.cid
       |  WHERE cl.id <> p.qid),
       |adc AS (
       |  SELECT ca.qid, ca.id,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.d ORDER BY d.m)), (a, x) -> a + x), 4) AS adc
       |  FROM cand ca JOIN codes cd ON cd.id = ca.id
       |       JOIN dt d ON d.qid = ca.qid AND d.m = cd.m AND d.cid = cd.cid
       |  GROUP BY ca.qid, ca.id)
       |${topKSelect("adc", "ASC", "adc", k)}""".stripMargin
  }
}
