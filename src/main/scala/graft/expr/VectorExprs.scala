package graft.expr

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions.{array, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Row kernels of the embedding hot path (SURVEY.md §2.11 tier (b): a
  * codegen'd `Expression` beats a Scala UDF beats interpreted higher-order
  * functions). `zip_with`+`aggregate` formulations allocate a lambda-variable
  * array per row and evaluate interpreted; each expression below is one
  * static call into this object from both its interpreted eval and its
  * generated code, so the two paths cannot diverge.
  *
  * Library callers build the Columns directly ([[VectorFunctions]]); the
  * PUBLIC `SparkSessionExtensions` hook ([[GraftExtensions]],
  * `spark.sql.extensions=graft.expr.GraftExtensions`) registers the same
  * expressions under SQL-string names for SQL text.
  */
object VectorKernel {

  /** Σ x·y left to right over the shorter length; null elements skipped. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** sqrt of the self-dot, one pass; null elements skipped. */
  def norm(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (!x.isNullAt(i)) { val v = x.getDouble(i); s += v * v }
      i += 1
    }
    math.sqrt(s)
  }

  /** Occurrences (duplicates included) of `arr`'s non-null elements in `set`. */
  def countIn(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Per table of `ppt` consecutive rows of `mat`, the packed sign bits
    * (`proj >= 0` contributes `1L << p`) of `v`'s projections — each the
    * same left-to-right null-skipping min-length dot as [[dot]].
    */
  def hyperplaneBuckets(v: ArrayData, mat: Array[Array[Double]], ppt: Int): ArrayData = {
    val tables = mat.length / ppt
    val out = new Array[Long](tables)
    val n = v.numElements()
    var t = 0
    while (t < tables) {
      var b = 0L
      var p = 0
      while (p < ppt) {
        val row = mat(t * ppt + p)
        val m = math.min(n, row.length)
        var s = 0.0
        var i = 0
        while (i < m) {
          if (!v.isNullAt(i)) s += v.getDouble(i) * row(i)
          i += 1
        }
        if (s >= 0) b += (1L << p)
        p += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Per-function seeds of [[minhash]]: Spark's xxhash64(lit(i), h) folds
    * children with the running hash as seed — hashInt(i, 42) then
    * hashLong(base, that).
    */
  def minhashSeeds(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  /** sig[i] = signed min over shingles s of hashLong(base(s), seeds(i)),
    * base = XXH64 of the UTF-8 bytes seed 42 (42 for a null shingle); an
    * empty input yields all-null like `array_min(empty)`.
    */
  def minhash(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val k = seeds.length
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val base =
        if (arr.isNullAt(j)) 42L
        else {
          val s = arr.getUTF8String(j)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      var i = 0
      while (i < k) {
        val v = XXH64.hashLong(base, seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Index of the row of `mat` nearest `v` by squared L2 over the row's
    * length, strict first minimum; -1 for an empty matrix. `width` is
    * `mat`'s longest row: a shorter `v` fails instead of reading past its end.
    */
  def nearestCentroid(v: ArrayData, mat: Array[Array[Double]], width: Int): Int = {
    if (v.numElements() < width) throw new IllegalArgumentException(
      s"graft_nearest_centroid: vector length ${v.numElements()} < centroid length $width")
    var best = -1; var bestD = Double.MaxValue
    var c = 0
    while (c < mat.length) {
      val row = mat(c)
      var d = 0.0; var i = 0
      while (i < row.length) { val x = v.getDouble(i) - row(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** A literal `array<array<double>>` as the row arrays the kernels scan. */
  def matrix(arr: ArrayData): Array[Array[Double]] =
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray())

  /** A literal `array<string>` as a hash set of its non-null elements. */
  def stringSet(arr: ArrayData): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i))
      i += 1
    }
    s
  }
}

/** `graft_dot(a, b)` — see [[VectorKernel.dot]]. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.expr.VectorKernel.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_norm(v)` — see [[VectorKernel.norm]]. */
case class L2Norm(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm"

  override def nullSafeEval(a: Any): Any = VectorKernel.norm(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.expr.VectorKernel.norm($a);")

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Count of array elements contained in a LITERAL string set —
  * `graft_count_in(tokens, array('the','a',...))`. The marker/stopword
  * counting of language-ID and quality scoring: the `size(filter(toks,
  * isInCollection(...)))` formulation evaluates an interpreted lambda per
  * token; this is one compiled call over a precomputed hash set.
  * Counts OCCURRENCES (duplicates included) — same semantics as the filter
  * form. The right side must be a literal (it is the marker table).
  */
case class CountInSet(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in"
  override protected def literalArgs = Seq(LiteralArg.stringSet(1, "set"))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.countIn(a.asInstanceOf[ArrayData], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("graftCountSet", literal[AnyRef](1), "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.expr.VectorKernel.countIn($a, $set);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountInSet =
    copy(left = newLeft, right = newRight)
}

/** All `tables` sign-LSH bucket ids of a vector in ONE expression —
  * `graft_hyperplane_buckets(vec, matrix, planesPerTable)` returns
  * `array<long>` (one packed sign-bit bucket per table).
  *
  * `matrix` is a single literal `array<array<double>>` holding the
  * (tables·planesPerTable) hyperplanes table-major; `planesPerTable` a
  * literal int. Exists for PLAN size, not arithmetic: the composed
  * formulation (`array(tables × Σ_p when(graft_dot(v, lit(plane)) >= 0 ...))`)
  * carries tables·planes·dim literal NODES (4096 at the 8×8×64 defaults) and
  * whole-stage code generation over that forest dominated the LSH queries —
  * measured 4.2 s vs 1.2 s with codegen disabled on a 2000-row corpus; this
  * expression restores a ~3-node tree and one kernel call.
  *
  * Bit-identical to the composed form (ExprSpec pins it): see
  * [[VectorKernel.hyperplaneBuckets]].
  */
case class HyperplaneBucketsAll(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_buckets"
  override protected def literalArgs = Seq(
    LiteralArg.matrix(1, "matrix"), LiteralArg.int(2, "planesPerTable", min = 1))

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    VectorKernel.hyperplaneBuckets(a.asInstanceOf[ArrayData], literal(1), literal(2))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("graftPlaneMat", literal[AnyRef](1), "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      s"${ev.value} = graft.expr.VectorKernel.hyperplaneBuckets($v, $mat, ${literal[Int](2)});")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): HyperplaneBucketsAll =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** One-hash MinHash signature in ONE expression —
  * `graft_minhash(shingles, numHashes)` returns `array<long>`:
  * `sig[i] = min over shingles s of xxhash64(lit(i), xxhash64(s))`.
  *
  * Bit-identical to the composed higher-order-function form in
  * [[graft.dedup.Dedup.minhashSignature]] ([[VectorKernel.minhash]]) —
  * ExprSpec pins it and the q_minhash_lsh Python-port oracle re-derives it.
  *
  * Exists because `ArrayTransform` lambdas are CodegenFallback: the composed
  * form evaluates numHashes·|shingles| interpreted xxhash64 expression nodes
  * PER ROW (measured ~0.9 s of minhash_lsh's 3.0 s at sf0.1); this compiles
  * to one call over Spark's own XXH64 statics.
  */
case class MinhashSignature(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"
  override protected def literalArgs = Seq(LiteralArg.int(1, "numHashes", min = 0)
    .copy(read = k => VectorKernel.minhashSeeds(k.asInstanceOf[Int])))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.minhash(a.asInstanceOf[ArrayData], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seeds = ctx.addReferenceObj("graftMinhashSeeds", literal[AnyRef](1), "long[]")
    nullSafeCodeGen(ctx, ev, (arr, _) =>
      s"${ev.value} = graft.expr.VectorKernel.minhash($arr, $seeds);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSignature =
    copy(left = newLeft, right = newRight)
}

/** Shared row kernel for [[WordShingles]] — one method both the interpreted
  * eval and the generated code call, so the two paths cannot diverge.
  */
object ShingleKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** EXACTLY `array_distinct(filter(... split(trim(text), "\\s+") ...))` —
    * SQL trim (0x20 only), Java-regex split with limit -1 (trailing empties
    * KEPT, like Spark's `split`), positions 0..len-n joined with ' ',
    * first-occurrence distinct.
    */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val str0 = s.toString
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    val last = toks.length - n
    if (last < 0) return new GenericArrayData(new Array[Any](0))
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= last) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) {
      arr(k) = UTF8String.fromString(it.next()); k += 1
    }
    new GenericArrayData(arr)
  }
}

/** Distinct word n-gram shingles in ONE expression —
  * `graft_shingles(text, n)` returns `array<string>`.
  *
  * Bit-identical to [[graft.dedup.Dedup.shingles]]'s composed form (ExprSpec
  * pins it, including leading-tab / trailing-whitespace / duplicate /
  * shorter-than-n edge cases). Exists because the composed form's
  * per-position `sequence`/`slice`/`array_join` lambdas evaluate INTERPRETED
  * per row (ArrayTransform is CodegenFallback) — the shingle stage measured
  * ~60 µs/row, which at corpus scale is hundreds of CPU-hours per 10^10
  * documents; the kernel is one compiled call.
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def literalArgs = Seq(LiteralArg.int(1, "n", min = 1))

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleKernel.shingles(a.asInstanceOf[UTF8String], literal(1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.expr.ShingleKernel.shingles($s, ${literal[Int](1)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

/** Nearest centroid by squared L2 — `graft_nearest_centroid(vec, matrix)`
  * returns the INDEX of the closest row of the literal
  * `array<array<double>>` matrix (strict first-minimum tie-break, the same
  * scan order as the UDF it replaces). Exists because the IVF assignment
  * pass runs over the FULL corpus — the UDF form paid a catalyst↔Scala
  * conversion per row; this is one kernel call. Bit-identical distance
  * arithmetic (`d += (v_i - c_i)^2` over the centroid's length, null vector
  * elements read as the lambda's boxed Seq did — vectors are null-free by
  * contract and ExprSpec pins parity on that domain). A vector shorter than
  * the longest centroid fails the task with both lengths in the message.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with LiteralArgs {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"
  override protected def literalArgs = Seq(LiteralArg.matrix(1, "matrix"))

  @transient private lazy val width = literal[Array[Array[Double]]](1).foldLeft(0)(_ max _.length)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.nearestCentroid(a.asInstanceOf[ArrayData], literal(1), width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("graftCentroids", literal[AnyRef](1), "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.expr.VectorKernel.nearestCentroid($v, $mat, $width);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering the kernels under their SQL-string names,
  * for SQL text: `.config("spark.sql.extensions",
  * "graft.expr.GraftExtensions")`. Library code does not need it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** One registration: the `ExpressionInfo` class is `build`'s result type. */
  private def fn[E <: Expression](name: String, build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** Every SQL-string name with the function building its expression
    * (children in call order). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", c => DotProduct(c(0), c(1))),
    fn("graft_norm", c => L2Norm(c(0))),
    fn("graft_count_in", c => CountInSet(c(0), c(1))),
    fn("graft_hyperplane_buckets", c => HyperplaneBucketsAll(c(0), c(1), c(2))),
    fn("graft_minhash", c => MinhashSignature(c(0), c(1))),
    fn("graft_shingles", c => WordShingles(c(0), c(1))),
    fn("graft_winnow", c => WinnowFingerprints(c(0), c(1), c(2))),
    fn("graft_rolling_min", c => RollingMinFingerprint(c(0), c(1))),
    fn("graft_trigram_topk", c => TrigramTopK(c(0), c(1))),
    fn("graft_repetition", c => RepetitionNums(c(0))),
    fn("graft_simhash", c => SimhashFingerprint(c(0))),
    fn("graft_digits", c => FirstDigitRun(c(0))),
    fn("graft_pii_scrub", c => PiiScrub(c(0))),
    fn("graft_hash_features", c => HashedFeatures(c(0))),
    fn("graft_dedup_lines", c => DedupLines(c(0))),
    fn("graft_reflow", c => ReflowLines(c(0), c(1))),
    fn("graft_ngrams", c => NgramsWithMultiplicity(c(0), c(1))),
    fn("graft_ws_tokens", c => WsTokenCount(c(0))),
    fn("graft_gopher", c => GopherRules(c(0), c(1), c(2))),
    fn("graft_fingerprint", c => NormalizedFingerprint(c(0))),
    fn("graft_langid", c => LangIdClassify(c(0))),
    fn("graft_nearest_centroid", c => NearestCentroid(c(0), c(1))),
    fn("graft_kmv", c => KmvBottomK(c(0), c(1))),
    fn("graft_cms", c => CmsSketch(c(0), c(1), c(2))))
}

/** Column API over the vector expressions. Each Column is built straight
  * from its Catalyst expression, so it needs no registered SQL-string name.
  */
object VectorFunctions {

  /** Whether `spark` registered the SQL-string names (`graft_dot`, …) —
    * i.e. whether SQL text can call the kernels. The Column API does not
    * depend on it.
    */
  def available(spark: SparkSession): Boolean =
    spark.catalog.functionExists("graft_dot")

  /** Σ a·b over doubles, left to right; null elements are skipped and the
    * longer array is truncated to the shorter.
    */
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  def norm(v: Column): Column = column(L2Norm(expression(v)))

  /** Count of `arr` elements in the literal string set `ws` (occurrences,
    * duplicates included) — a codegen'd set-lookup loop.
    */
  def countIn(arr: Column, ws: Seq[String]): Column =
    column(CountInSet(expression(arr), expression(array(ws.map(lit): _*))))
}
