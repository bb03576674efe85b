package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared row kernel for the fingerprinting expressions — one method per
  * operator that both the interpreted eval and generated code call.
  *
  * Replicates the composed column forms EXACTLY:
  * normalization = `regexp_replace(lower(trim(text)), "\\s+", " ")` via the
  * same UTF8String trim/toLowerCase and the same Java regex; gram slicing is
  * CODE-POINT based like Spark's `substr`; hashes are lowercase-hex md5 of
  * the UTF-8 bytes like Spark's `md5`; minima use binary string order like
  * `array_min`/`least` on StringType (hex is ASCII, so String.compareTo
  * agrees).
  */
object TextKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hex = "0123456789abcdef".toCharArray

  private def md5Hex(s: String): String = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((b(i) >> 4) & 0xF)
      out(2 * i + 1) = hex(b(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  private def normalize(s: UTF8String): String =
    ws.matcher(s.trim().toLowerCase.toString).replaceAll(" ")

  /** [[graft.text.TextAnalysis.winnowFingerprints]]'s composed semantics:
    * md5 of every k-code-point gram of the normalized text; per w-gram
    * window the MINIMUM hash; distinct in first-occurrence order. Texts
    * shorter than k fingerprint as [md5(norm)].
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val norm = normalize(s)
    val cps = norm.codePoints().toArray
    val n = cps.length
    if (n < k)
      return new GenericArrayData(Array[Any](UTF8String.fromString(md5Hex(norm))))
    val nh = n - k + 1
    val hs = new Array[String](nh)
    var i = 0
    while (i < nh) { hs(i) = md5Hex(new String(cps, i, k)); i += 1 }
    // windows j = 0 .. max(nh - w, 0); a window shorter than w (nh < w)
    // still selects the min of what exists — same as slice past the end
    val numWin = math.max(nh - w + 1, 1)
    val out = new java.util.LinkedHashSet[String]()
    var j = 0
    while (j < numWin) {
      var m = hs(j)
      var t = j + 1
      val end = math.min(j + w, nh)
      while (t < end) { if (hs(t).compareTo(m) < 0) m = hs(t); t += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(arr)
  }

  /** [[graft.text.TextAnalysis.fingerprint]]'s composed semantics in one
    * call: md5 of the whitespace-normalized lowercase text (round-7 — the
    * composed form is one regex pass + lower + md5; this is the same work
    * without materializing the intermediate normalized UTF8String through
    * three expression nodes).
    */
  def fingerprint(s: UTF8String): UTF8String =
    UTF8String.fromString(md5Hex(normalize(s)))

  /** [[graft.text.TextAnalysis.rollingMinFingerprint]]'s composed semantics:
    * minimum md5 over all w-code-point windows of the normalized text
    * (md5(norm) when shorter than w).
    */
  def rollingMin(s: UTF8String, w: Int): UTF8String = {
    val norm = normalize(s)
    val cps = norm.codePoints().toArray
    val n = cps.length
    if (n < w) return UTF8String.fromString(md5Hex(norm))
    var m: String = null
    var i = 0
    val nh = n - w + 1
    while (i < nh) {
      val h = md5Hex(new String(cps, i, w))
      if (m == null || h.compareTo(m) < 0) m = h
      i += 1
    }
    UTF8String.fromString(m)
  }

  /** [[graft.text.LangId.classify]]'s composed semantics in one pass: the
    * top-`k` character trigrams of `' ' + normalize(text) + ' '` in rank
    * order — rank by (count DESC, gram ASC in UTF8String BINARY order, the
    * order `array_sort` on struct(-cnt, gram) uses; Java String.compareTo
    * is UTF-16 order and differs on supplementary characters, so grams
    * compare through UTF8String). Sub-trigram texts → empty array (the
    * composed `when(length < 3, ...)` guard); so does a non-positive `k`.
    */
  def trigramTopK(s: UTF8String, k: Int): ArrayData = {
    val keys = trigramTopKeys(s, k)
    val arr = new Array[Any](keys.length)
    var j = 0
    while (j < keys.length) {
      arr(j) = UTF8String.fromString(new String(unpackTrigram(keys(j)), 0, 3))
      j += 1
    }
    new GenericArrayData(arr)
  }

  /** Slot count of an open-addressing table holding up to `entries` keys:
    * the smallest power of two >= 2 * entries, at least 8. Past 2^30 slots
    * the doubling would overflow an Int and never terminate, so a row that
    * large fails with a clear error instead.
    */
  def tableCapacity(entries: Int): Int = {
    val need = 2L * entries
    if (need > (1 << 30))
      throw new IllegalArgumentException(
        s"an open-addressing table for $entries keys needs more than 2^30 slots; the row is too large")
    var cap = 8
    while (cap < need) cap <<= 1
    cap
  }

  /** A trigram is EXACTLY three code points, each <= 0x10FFFF (21 bits), so
    * it packs injectively into one 63-bit long `cp0<<42 | cp1<<21 | cp2` —
    * and because the fields are fixed-width most-significant-first, the
    * NUMERIC order of packed keys is the code-point-lexicographic order,
    * which is the UTF8String (UTF-8 byte) order the top-K tie-break pins.
    */
  def packTrigram(cp0: Int, cp1: Int, cp2: Int): Long =
    (cp0.toLong << 42) | (cp1.toLong << 21) | cp2.toLong

  def unpackTrigram(key: Long): Array[Int] =
    Array((key >>> 42).toInt, ((key >>> 21) & 0x1FFFFF).toInt, (key & 0x1FFFFF).toInt)

  /** [[trigramTopK]]'s rank-ordered top-k as PACKED KEYS — the
    * allocation-free core shared with the fused langid kernel (which never
    * needs the gram strings at all): open-addressing count table over the
    * packed keys, then a bounded (count DESC, key ASC) selection. Identical
    * ranking to the old HashMap+sort form: pack is injective on trigrams
    * and numeric key order ≡ UTF8String gram order (see [[packTrigram]]).
    */
  def trigramTopKeys(s: UTF8String, k: Int): Array[Long] = {
    if (k <= 0) return Array.emptyLongArray
    val norm = " " + normalize(s) + " "
    val cps = norm.codePoints().toArray
    val n = cps.length
    if (n < 3) return Array.emptyLongArray
    val np = n - 2
    val cap = tableCapacity(np)
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val cnts = new Array[Int](cap) // 0 = empty slot (live counts are >= 1)
    var i = 0
    while (i < np) {
      val key = packTrigram(cps(i), cps(i + 1), cps(i + 2))
      var hx = key * -7046029254386353131L
      hx ^= (hx >>> 32)
      var idx = hx.toInt & mask
      var done = false
      while (!done) {
        if (cnts(idx) == 0) {
          keys(idx) = key; cnts(idx) = 1; done = true
        } else if (keys(idx) == key) {
          cnts(idx) += 1; done = true
        } else idx = (idx + 1) & mask
      }
      i += 1
    }
    // bounded top-k selection: keep a (cnt DESC, key ASC)-sorted window of
    // size <= k; most entries fail the cheap worst-entry check.
    val bk = new Array[Long](k)
    val bc = new Array[Int](k)
    var size = 0
    var idx = 0
    while (idx < cap) {
      val c = cnts(idx)
      if (c > 0) {
        val key = keys(idx)
        if (size < k || c > bc(size - 1) || (c == bc(size - 1) && key < bk(size - 1))) {
          var pos = if (size < k) size else k - 1
          while (pos > 0 && (c > bc(pos - 1) || (c == bc(pos - 1) && key < bk(pos - 1)))) {
            bk(pos) = bk(pos - 1); bc(pos) = bc(pos - 1); pos -= 1
          }
          bk(pos) = key; bc(pos) = c
          if (size < k) size += 1
        }
      }
      idx += 1
    }
    if (size == k) bk else java.util.Arrays.copyOf(bk, size)
  }

  /** [[graft.text.TextAnalysis.repetitionFeatures]]'s per-document CHARACTER
    * numerators in one pass: for word n-grams n = 2..10 over the
    * whitespace-split tokens of the space-trimmed text (the exact
    * `split(trim(text), "\\s+")` semantics — Spark's limit -1 KEEPS trailing
    * empty tokens, so `Pattern.split(_, -1)` here, not Java's default), the
    * array [top₂, top₃, top₄, dup₅ … dup₁₀] where
    *  - topₙ = count·charlen of the most frequent n-gram (count DESC, gram
    *    ASC in UTF8String binary order), 0 unless it occurs ≥ 2 times;
    *  - dupₙ = Σ count·charlen over distinct n-grams occurring ≥ 2 times;
    * charlen counts CODE POINTS (Spark/DuckDB `length`), i.e. token code
    * points + (n−1) joining spaces. Fewer than n tokens → 0.
    */
  def repetitionNums(s: UTF8String): ArrayData = {
    val toks = ws.split(s.trim().toString, -1)
    val tn = toks.length
    // round-7: build the single-space-joined text ONCE with per-token char
    // offsets + a code-point prefix array; each n-gram is then the char
    // RANGE [starts(p), ends(p+n-1)) of the joined text and its char length
    // one subtraction — no per-gram String is ever materialized. Counting
    // uses an open-addressing table keyed by a rolling range hash with
    // in-place regionMatches verification (exact — collisions only cost a
    // probe), and the (count DESC, gram ASC) tie-break compares code points
    // in place (code-point order ≡ UTF-8 byte order ≡ the UTF8String binary
    // order the composed form sorts by). Values are unchanged: gram string =
    // tokens joined by ' ', charlen = token code points + (n−1) spaces =
    // code-point span in the joined text.
    var joinedLen = tn - 1
    var i = 0
    while (i < tn) { joinedLen += toks(i).length; i += 1 }
    val joined = new java.lang.StringBuilder(math.max(joinedLen, 0))
    val starts = new Array[Int](tn)
    val ends   = new Array[Int](tn)
    i = 0
    while (i < tn) {
      if (i > 0) joined.append(' ')
      starts(i) = joined.length
      joined.append(toks(i))
      ends(i) = joined.length
      i += 1
    }
    val jstr = joined.toString
    // cpBefore(k) = code points in jstr[0, k): a surrogate pair counts once
    // (at its high surrogate). Token boundaries never split a pair, so
    // prefix differences are exact gram code-point counts.
    val cpBefore = new Array[Int](jstr.length + 1)
    i = 0
    var cpc = 0
    while (i < jstr.length) {
      cpBefore(i) = cpc
      val lowOfPair = Character.isLowSurrogate(jstr.charAt(i)) && i > 0 &&
        Character.isHighSurrogate(jstr.charAt(i - 1))
      if (!lowOfPair) cpc += 1
      i += 1
    }
    cpBefore(jstr.length) = cpc
    // Rolling polynomial hash prefixes: hash of chars [a, b) =
    // hpre(b) - hpre(a) * pw(b - a) (mod 2^64). Collisions are handled by
    // the regionMatches verification below, so any 64-bit wrap is harmless.
    val jn = jstr.length
    val hpre = new Array[Long](jn + 1)
    val pw = new Array[Long](jn + 1)
    pw(0) = 1L
    var hk = 0L
    i = 0
    while (i < jn) {
      hk = hk * 31L + jstr.charAt(i)
      hpre(i + 1) = hk
      pw(i + 1) = pw(i) * 31L
      i += 1
    }
    // One open-addressing table reused across the nine n rounds: a slot is
    // live for the current round iff stamp(idx) == n (n >= 2, so 0 = never
    // used). Capacity is a power of two >= 2x the max position count.
    val maxPos = math.max(tn - 1, 1)
    val cap = tableCapacity(maxPos)
    val mask = cap - 1
    val slotStart = new Array[Int](cap)
    val slotLen = new Array[Int](cap)
    val slotCnt = new Array[Long](cap)
    val stamp = new Array[Int](cap)
    val nums = new Array[Any](9)
    var n = 2
    while (n <= 10) {
      var topnum = 0L
      var dupnum = 0L
      if (tn >= n) {
        var p = 0
        while (p <= tn - n) {
          val a = starts(p)
          val b = ends(p + n - 1)
          val len = b - a
          // 64-bit finalizer mix so consecutive range hashes spread over the
          // table (fibonacci multiplier + xor-fold to the index bits).
          var hx = (hpre(b) - hpre(a) * pw(len)) * -7046029254386353131L
          hx ^= (hx >>> 32)
          var idx = hx.toInt & mask
          var done = false
          while (!done) {
            if (stamp(idx) != n) {
              stamp(idx) = n
              slotStart(idx) = a
              slotLen(idx) = len
              slotCnt(idx) = 1L
              done = true
            } else if (slotLen(idx) == len &&
                jstr.regionMatches(slotStart(idx), jstr, a, len)) {
              slotCnt(idx) += 1L
              done = true
            } else idx = (idx + 1) & mask
          }
          p += 1
        }
        var topC = 0L
        var topStart = -1
        var topLen = 0
        var idx = 0
        while (idx < cap) {
          if (stamp(idx) == n) {
            val c = slotCnt(idx)
            val a2 = slotStart(idx)
            val l2 = slotLen(idx)
            if (c >= 2L) dupnum += c * (cpBefore(a2 + l2) - cpBefore(a2)).toLong
            if (topStart < 0 || c > topC ||
                (c == topC && compareCodePoints(jstr, a2, l2, topStart, topLen) < 0)) {
              topC = c; topStart = a2; topLen = l2
            }
          }
          idx += 1
        }
        if (topC >= 2L)
          topnum = topC * (cpBefore(topStart + topLen) - cpBefore(topStart)).toLong
      }
      nums(n - 2) = java.lang.Long.valueOf(if (n <= 4) topnum else dupnum)
      n += 1
    }
    new GenericArrayData(nums)
  }

  /** Code-point lexicographic comparison of s[a1, a1+l1) vs s[a2, a2+l2) —
    * identical to UTF-8 byte order (UTF8String binary order) for the
    * well-formed UTF-16 these kernels see (UTF8String.toString never yields
    * lone surrogates). Chars compare directly until they differ; a differing
    * pair is remapped so the surrogate block sorts ABOVE [E000, FFFF]
    * (supplementary code points > all BMP), matching code-point order.
    */
  private def compareCodePoints(s: String, a1: Int, l1: Int,
                                a2: Int, l2: Int): Int = {
    val lim = math.min(l1, l2)
    var i = 0
    while (i < lim) {
      val c1 = s.charAt(a1 + i)
      val c2 = s.charAt(a2 + i)
      if (c1 != c2) {
        var x1 = c1.toInt
        var x2 = c2.toInt
        if (x1 >= 0xD800 || x2 >= 0xD800) {
          x1 = if (x1 >= 0xE000) x1 - 0x800 else if (x1 >= 0xD800) x1 + 0x2000 else x1
          x2 = if (x2 >= 0xE000) x2 - 0x800 else if (x2 >= 0xD800) x2 + 0x2000 else x2
        }
        return Integer.compare(x1, x2)
      }
      i += 1
    }
    Integer.compare(l1, l2)
  }
}

/** `graft_trigram_topk(text, k)` → `array<string>` — the per-document
  * rank-ordered trigram profile as ONE kernel call. The composed form
  * explodes every trigram (17M+ rows on the sf0.1 corpus), shuffles the
  * full (doc, gram) stream into a count aggregate, and collects per-doc
  * top-K back — this kernel keeps the whole profile computation in-row, so
  * the operator ships K short strings per document instead of one row per
  * gram occurrence (LangIdSpec pins fused==composed parity; the
  * q_langid_profiles DuckDB oracle passes unchanged).
  */
case class TrigramTopK(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_trigram_topk"
  override protected def literalArgs = Seq(LiteralArg.int(1, "k"))

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.trigramTopK(a.asInstanceOf[UTF8String], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.expr.TextKernel.trigramTopK($s, ${literal[Int](1)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TrigramTopK =
    copy(left = newLeft, right = newRight)
}

/** `graft_repetition(text)` → `array<long>` — the Gopher §A1.1 within-doc
  * repetition numerators ([top₂, top₃, top₄, dup₅ … dup₁₀], see
  * [[TextKernel.repetitionNums]]) as ONE kernel call. The composed form
  * explodes the document into NINE word-n-gram streams (n = 2..10) and
  * shuffles every (doc, n, gram) occurrence into a two-level count
  * aggregate; this kernel keeps all nine counts in-row, so the per-doc
  * feature is a map-only projection (RepetitionSpec pins fused == composed;
  * the q_repetition DuckDB oracle passes against both).
  */
case class RepetitionNums(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.LongType

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repetition"

  override protected def nullSafeEval(input: Any): Any =
    TextKernel.repetitionNums(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.TextKernel.repetitionNums($s);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionNums =
    copy(child = newChild)
}

/** `graft_digits(s)` → `string` — the first ASCII-digit run of `s`, EXACTLY
  * `regexp_extract(s, "[0-9]+", 0)`: the whole first match, empty string
  * when no digit occurs, null for null input. Byte-exact on UTF8String
  * without the regex engine: `[0-9]` matches only ASCII 0x30-0x39, and in
  * UTF-8 every byte of a multi-byte code point is >= 0x80 (negative as a
  * signed byte), so a byte scan finds exactly the regex's runs. Used by the
  * transcripts derivation (its DuckDB CTE twin keeps regexp_extract — the
  * VALUES are identical, ExprSpec pins the parity).
  */
object DigitKernel {
  def firstDigitRun(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && { val b = s.getByte(i); b < '0' || b > '9' }) i += 1
    if (i == n) return UTF8String.EMPTY_UTF8
    var j = i + 1
    while (j < n && { val b = s.getByte(j); b >= '0' && b <= '9' }) j += 1
    UTF8String.fromBytes(s.getBytes, i, j - i)
  }
}

case class FirstDigitRun(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_digits"

  override protected def nullSafeEval(input: Any): Any =
    DigitKernel.firstDigitRun(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.DigitKernel.firstDigitRun($s);")

  override protected def withNewChildInternal(newChild: Expression): FirstDigitRun =
    copy(child = newChild)
}

/** SimHash kernel behind [[graft.dedup.Dedup.simhash64]]:
  * SQL-whitespace split (same cached `\s+` pattern semantics), per token a
  * 64-bit hash from Scala MurmurHash3.stringHash of the token (high word)
  * and its PLAIN CHAR reversal (low word — `StringOps.reverse`, not the
  * surrogate-aware StringBuilder one), bit-count voting. The Python port in
  * tools/check_oracle.py (supp_simhash) is the third lockstep twin.
  */
object SimhashKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def simhash64(s: UTF8String): Long = {
    val text = s.toString
    val counts = new Array[Int](64)
    ws.split(text.trim).foreach { tok =>
      val rev = {
        val a = tok.toCharArray
        var i = 0; var j = a.length - 1
        while (i < j) { val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1 }
        new String(a)
      }
      val h = (scala.util.hashing.MurmurHash3.stringHash(tok).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(rev).toLong & 0xffffffffL)
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

/** `graft_simhash(text)` → `long` — the SimHash fingerprint without the
  * ScalaUDF boundary (no catalyst↔Scala row conversion, stays inside
  * whole-stage codegen). NULL text fingerprints as 0L — the expression is
  * therefore never-null.
  */
case class SimhashFingerprint(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.LongType

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else SimhashKernel.simhash64(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull} ? 0L :
          graft.expr.SimhashKernel.simhash64(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashFingerprint =
    copy(child = newChild)
}

/** `graft_winnow(text, k, w)` → `array<string>` — TRUE winnowing
  * fingerprints as one compiled kernel call. The composed column form
  * evaluates one INTERPRETED md5 expression per k-gram per row inside
  * `transform` lambdas (measured ~560 µs/row on the documents corpus);
  * identical output (ExprSpec pins parity; the q_winnow DuckDB oracle
  * passes unchanged).
  */
case class WinnowFingerprints(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override protected def literalArgs =
    Seq(LiteralArg.int(1, "k", min = 0), LiteralArg.int(2, "w", min = 1))

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    TextKernel.winnow(a.asInstanceOf[UTF8String], literal(1), literal(2))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _, _) =>
      s"${ev.value} = graft.expr.TextKernel.winnow($s, ${literal[Int](1)}, ${literal[Int](2)});")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowFingerprints =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_rolling_min(text, w)` → `string` — the 1-fingerprint rolling
  * minimum as one kernel call (composed form: one interpreted md5 per
  * window position per row, ~400 µs/row).
  */
case class RollingMinFingerprint(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_rolling_min"
  override protected def literalArgs = Seq(LiteralArg.int(1, "w", min = 0))

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.rollingMin(a.asInstanceOf[UTF8String], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.expr.TextKernel.rollingMin($s, ${literal[Int](1)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingMinFingerprint =
    copy(left = newLeft, right = newRight)
}


/** `graft_fingerprint(text)` -> `string` - md5 of the whitespace-normalized
  * lowercase text, the exact-dedup key ([[TextKernel.fingerprint]]).
  */
case class NormalizedFingerprint(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    TextKernel.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.TextKernel.fingerprint($s);")

  override protected def withNewChildInternal(newChild: Expression): NormalizedFingerprint =
    copy(child = newChild)
}
