package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Round-7 fused text kernels (guide §1.2 "per-task work"): the composed
  * forms of line dedup and token reflow run INTERPRETED higher-order-function
  * lambdas per row (ArrayTransform/ArrayFilter are CodegenFallback, and the
  * dedup filter's `array_position` scan is O(lines²)); these kernels compute
  * the identical values in one compiled pass. The composed twins live in
  * test scope; TextCleanSpec/GopherRulesSpec pin parity.
  */
object LineKernel {
  private val nl = java.util.regex.Pattern.compile("\n")
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** EXACTLY [[graft.text.TextAnalysis.dedupLines]]'s composed chain:
    * lines = `split(text, "\n")` (limit -1 — trailing empties kept), keep
    * each line's FIRST occurrence in order, report (n_lines, n_kept,
    * joined kept lines).
    */
  def dedupLines(s: UTF8String): InternalRow = {
    val lines = nl.split(s.toString, -1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < lines.length) { seen.add(lines(i)); i += 1 }
    val sb = new java.lang.StringBuilder()
    val it = seen.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) sb.append('\n')
      sb.append(it.next()); first = false
    }
    new GenericInternalRow(Array[Any](lines.length, seen.size,
      UTF8String.fromString(sb.toString)))
  }

  /** EXACTLY [[graft.text.TextAnalysis.reflowLines]]'s composed chain:
    * whitespace tokens of the SQL-trimmed text (split limit -1), chunks of
    * `perLine` joined by single spaces, chunks joined by newlines (the last
    * line keeps the remainder; ceil(n/perLine) lines, minimum one).
    */
  def reflow(s: UTF8String, perLine: Int): UTF8String = {
    val str0 = s.toString
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(if (i % perLine == 0) '\n' else ' ')
      sb.append(toks(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `graft_dedup_lines(text)` → `struct<n_lines int, n_kept int,
  * text_dedup string>` — see [[LineKernel.dedupLines]].
  */
case class DedupLines(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("text_dedup", StringType, nullable = false)))
  override def prettyName: String = "graft_dedup_lines"

  override protected def nullSafeEval(input: Any): Any =
    LineKernel.dedupLines(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.LineKernel.dedupLines($s);")

  override protected def withNewChildInternal(newChild: Expression): DedupLines =
    copy(child = newChild)
}

/** `graft_reflow(text, perLine)` → `string` — see [[LineKernel.reflow]]. */
case class ReflowLines(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_reflow"
  // the kernel takes `i % perLine`: any int but 0
  override protected def literalArgs =
    Seq(LiteralArg(1, "perLine", "non-zero integer", _ != 0, identity))

  override def nullSafeEval(a: Any, b: Any): Any =
    LineKernel.reflow(a.asInstanceOf[UTF8String], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.expr.LineKernel.reflow($s, ${literal[Int](1)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ReflowLines =
    copy(left = newLeft, right = newRight)
}

/** Word n-grams WITH multiplicity in one expression —
  * `graft_ngrams(text, n)` → `array<string>`, the fused twin of
  * [[graft.text.TextAnalysis.ngramsWithMultiplicity]]'s composed chain
  * (round-7): same SQL trim / Java `\s+` split (limit -1) / positions
  * 0..len-n joined by single spaces / empty grams dropped (reachable only
  * at n = 1 on degenerate text). The composed per-position
  * `sequence`/`slice`/`array_join` lambdas evaluate interpreted per row;
  * NgramSpec pins fused == composed parity.
  */
object NgramKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def ngrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str0 = s.toString
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    val last = toks.length - n
    if (last < 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new java.util.ArrayList[Any](last + 1)
    var i = 0
    while (i <= last) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      if (sb.length != 0) out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** `graft_ngrams(text, n)` → `array<string>` — see [[NgramKernel]].
  * NEVER-NULL: the composed chain's `element_at(transform(array(split(...`
  * scaffolding yields an EMPTY array for null text (the null rides inside
  * the outer array and the inner when/filter drop it), so the fused twin
  * maps null → empty array too (parity-pinned in NgramSpec).
  */
case class NgramsWithMultiplicity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.ArrayType

  override def inputTypes = Seq(StringType, IntegerType)
  // containsNull = true ON PURPOSE: the composed chain's filter output
  // keeps the transform's nullable element type, and `explode` derives the
  // downstream column's NULLABILITY from containsNull — q_ngram_counts
  // writes that column, so the fused twin must not flip the parquet
  // required/optional bit (values never contain null on either path)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ngrams"
  override protected def literalArgs = Seq(LiteralArg.int(1, "n", min = 1))

  private val emptyArr =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) emptyArr
    else NgramKernel.ngrams(v.asInstanceOf[UTF8String], literal(1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = left.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
          ? new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0])
          : graft.expr.NgramKernel.ngrams(${c.value}, ${literal[Int](1)});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramsWithMultiplicity =
    copy(left = newLeft, right = newRight)
}

/** `graft_ws_tokens(text)` → `int` — the fused twin of
  * `size(filter(split(trim(text), "\\s+"), w -> w != ""))` (round-7): the
  * NONEMPTY whitespace token count (the q_concat_chunks counting rule).
  * The composed form runs an interpreted ArrayFilter lambda per token per
  * row; null text → null like the composed `size(null)`.
  */
object WsTokenKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def count(s: UTF8String): Int = {
    val str0 = s.toString
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    n
  }
}

/** See [[WsTokenKernel]]. */
case class WsTokenCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ws_tokens"

  override protected def nullSafeEval(input: Any): Any =
    WsTokenKernel.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.WsTokenKernel.count($s);")

  override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
    copy(child = newChild)
}


/** Fused Gopher A1.1 doc-format rules kernel - the in-row form of
  * [[graft.text.TextAnalysis.gopherQualityRules]]'s seven features + pass
  * flag (round-7): the composed chain runs two regex splits plus three
  * INTERPRETED ArrayFilter lambdas (bullet/ellipsis lines, alpha words) per
  * row; this kernel computes the identical values in one pass. Exact
  * replication notes:
  *  - words = `split(trim(t), "\\s+")` (SQL trim 0x20, limit -1, empties
  *    COUNTED in n_words like the composed `size`); lines = `split(t, "\n")`
  *    (no trim);
  *  - nHash counts '#' code points; nEllipsis = non-overlapping "..."
  *    occurrences (each removes exactly 3 chars, so the composed
  *    length-diff / 3.0 is the same integer);
  *  - bullet iff the line STARTS WITH "- " or "* " (the composed
  *    `substring(l, 1, 2) === "- "` - false for shorter lines);
  *  - alpha word iff it contains an ASCII letter (`rlike("[A-Za-z]")`);
  *  - distinct lines by exact string equality;
  *  - every ratio is rounded like Spark's `round(x, 4)` - BigDecimal
  *    HALF_UP - and `gopher_pass` applies the thresholds to the ROUNDED
  *    values. GopherRulesSpec pins fused == composed parity.
  *
  * mean_word_len counts NON-WHITESPACE CODE POINTS like the composed
  * `length(translate(t, WS, ""))` - `length` is code points, so the count
  * here iterates code points, not chars (surrogate pairs count once).
  */
object GopherKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val nl = java.util.regex.Pattern.compile("\n")

  private def r4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  def rules(s: UTF8String, minWords: Int, maxWords: Int): InternalRow = {
    val t = s.toString
    var st = 0; var en = t.length
    while (st < en && t.charAt(st) == ' ') st += 1
    while (en > st && t.charAt(en - 1) == ' ') en -= 1
    val words = ws.split(t.substring(st, en), -1)
    val lines = nl.split(t, -1)
    val nWords = words.length
    val nw = math.max(nWords, 1)
    val nLines = lines.length
    val nlv = math.max(nLines, 1)

    var nonWs = 0
    var nHash = 0
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      if (!isWs(cp)) nonWs += 1
      if (cp == '#') nHash += 1
      i += Character.charCount(cp)
    }
    var nEll = 0
    var p = t.indexOf("...")
    while (p >= 0) { nEll += 1; p = t.indexOf("...", p + 3) }

    var bullet = 0; var ell = 0
    val distinct = new java.util.HashSet[String]()
    i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.length >= 2) {
        val c0 = l.charAt(0); val c1 = l.charAt(1)
        if ((c0 == '-' || c0 == '*') && c1 == ' ') bullet += 1
      }
      if (l.endsWith("...")) ell += 1
      distinct.add(l)
      i += 1
    }

    var alphaWords = 0
    i = 0
    while (i < words.length) {
      val w = words(i)
      var j = 0
      var hit = false
      while (!hit && j < w.length) {
        val c = w.charAt(j)
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hit = true
        j += 1
      }
      if (hit) alphaWords += 1
      i += 1
    }

    val meanWordLen = r4(nonWs.toDouble / nw)
    val symbolRatio = r4((nHash.toDouble + nEll.toDouble) / nw)
    val bulletFrac  = r4(bullet.toDouble / nlv)
    val ellFrac     = r4(ell.toDouble / nlv)
    val alphaFrac   = r4(alphaWords.toDouble / nw)
    val dupFrac     = r4(1.0 - distinct.size.toDouble / nlv)
    val pass = nWords >= minWords && nWords <= maxWords &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio < 0.1 && bulletFrac < 0.9 && ellFrac < 0.3 &&
      alphaFrac >= 0.8 && dupFrac < 0.3
    new GenericInternalRow(Array[Any](nWords, meanWordLen, symbolRatio,
      bulletFrac, ellFrac, alphaFrac, dupFrac, pass))
  }
}

/** `graft_gopher(text, minWords, maxWords)` -> struct of the seven Gopher
  * features + `gopher_pass` - see [[GopherKernel]].
  */
case class GopherRules(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes with LiteralArgs {
  import org.apache.spark.sql.types.{BooleanType, DoubleType}

  override def inputTypes = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_word_ratio", DoubleType, nullable = false),
    StructField("bullet_line_frac", DoubleType, nullable = false),
    StructField("ellipsis_line_frac", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("gopher_pass", BooleanType, nullable = false)))
  override def prettyName: String = "graft_gopher"
  override protected def literalArgs =
    Seq(LiteralArg.int(1, "minWords"), LiteralArg.int(2, "maxWords"))

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GopherKernel.rules(a.asInstanceOf[UTF8String], literal(1), literal(2))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _, _) =>
      s"${ev.value} = graft.expr.GopherKernel.rules($s, ${literal[Int](1)}, ${literal[Int](2)});")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): GopherRules =
    copy(first = newFirst, second = newSecond, third = newThird)
}


/** Fused Cavnar-Trenkle classifier kernel - the in-row form of
  * [[graft.text.LangId.classify]]'s whole chain (round-7, guide 2.4): the
  * composed plan explodes each doc's top-K grams, cross-joins the language
  * list, left-joins the broadcast profile table and runs TWO aggregates
  * ((doc, lang) distance sum, per-doc argmin); this kernel computes the
  * identical winner in-row, so the operator becomes a MAP-ONLY projection
  * with no explode and no exchange. Same pinned semantics: doc profile =
  * [[TextKernel.trigramTopK]] (rank = position+1), per-language distance =
  * sum of |rd - rl| with [[graft.text.LangId.penalty]] for absent grams
  * (exact integer sums), winner = (dist, lang) lexicographic min (languages
  * iterated in ascending code order with a strict < keeps the smallest
  * lang on ties). Sub-trigram docs return null and are filtered - the
  * composed explode drops them the same way. LangIdSpec pins parity.
  */
object LangIdKernel {
  // (lang, sorted packed trigram keys, rank per key) in ascending language
  // order - derived once from the same pinned profiles the composed plan
  // broadcasts. Profile grams are trigrams (3 code points), so the packed
  // key (TextKernel.packTrigram) is an injective stand-in for the gram
  // string: a key-level binary search is exactly the string lookup.
  private lazy val profs: Array[(UTF8String, Array[Long], Array[Int])] = {
    val byLang = graft.text.LangId.profiles.groupBy(_._1).toSeq.sortBy(_._1)
    byLang.map { case (lang, rows) =>
      val pairs = rows.map { case (_, g, r) =>
        val cps = g.codePoints().toArray
        require(cps.length == 3, s"profile gram '$g' is not a trigram")
        (TextKernel.packTrigram(cps(0), cps(1), cps(2)), r)
      }.sortBy(_._1)
      (UTF8String.fromString(lang), pairs.map(_._1).toArray, pairs.map(_._2).toArray)
    }.toArray
  }

  def classify(s: UTF8String): InternalRow = {
    val top = TextKernel.trigramTopKeys(s, graft.text.LangId.profileSize)
    val n = top.length
    if (n == 0) return null
    val pen = graft.text.LangId.penalty.toLong
    var bestLang: UTF8String = null
    var bestDist = Long.MaxValue
    var li = 0
    while (li < profs.length) {
      val (lang, pkeys, pranks) = profs(li)
      var d = 0L
      var gi = 0
      while (gi < n) {
        val at = java.util.Arrays.binarySearch(pkeys, top(gi))
        d += (if (at < 0) pen else math.abs((gi + 1).toLong - pranks(at).toLong))
        gi += 1
      }
      if (d < bestDist) { bestDist = d; bestLang = lang }
      li += 1
    }
    new GenericInternalRow(Array[Any](bestLang, bestDist))
  }
}

/** `graft_langid(text)` -> `struct<lang_ct string, dist long>` (null for
  * sub-trigram docs) - see [[LangIdKernel]].
  */
case class LangIdClassify(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.LongType

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("lang_ct", StringType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_langid"

  override protected def nullSafeEval(input: Any): Any =
    LangIdKernel.classify(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.expr.LangIdKernel.classify($s);
         |if (${ev.value} == null) ${ev.isNull} = true;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): LangIdClassify =
    copy(child = newChild)
}
