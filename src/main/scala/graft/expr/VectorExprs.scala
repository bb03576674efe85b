package graft.expr

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.functions.{array, lit}

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §2.11
  * tier (b): a codegen'd `Expression` beats a Scala UDF beats interpreted
  * higher-order functions). `zip_with`+`aggregate` formulations allocate a
  * lambda-variable array per row and evaluate interpreted; these generate a
  * tight primitive loop inside whole-stage codegen.
  *
  * Library callers build the Columns directly ([[VectorFunctions]]); the
  * PUBLIC `SparkSessionExtensions` hook ([[GraftExtensions]],
  * `spark.sql.extensions=graft.expr.GraftExtensions`) registers the same
  * expressions under SQL-string names for SQL text.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an array<double> — sqrt of the self-dot, one pass. */
case class L2Norm(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (!x.isNullAt(i)) { val v = x.getDouble(i); s += v * v }
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = $a.getDouble($i);
         |    $s += $v * $v;
         |  }
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Count of array elements contained in a LITERAL string set —
  * `graft_count_in(tokens, array('the','a',...))`. The marker/stopword
  * counting of language-ID and quality scoring: the `size(filter(toks,
  * isInCollection(...)))` formulation evaluates an interpreted lambda per
  * token; this compiles to a generated loop over a precomputed hash set.
  * Counts OCCURRENCES (duplicates included) — same semantics as the filter
  * form. The right side must be foldable (it is the marker table).
  */
case class CountInSet(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    val arr = right.eval().asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i))
      i += 1
    }
    s
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_count_in requires a literal set as its second argument")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("graftCountSet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $c = 0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i) && $setRef.contains($a.getUTF8String($i))) {
         |    $c++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountInSet =
    copy(left = newLeft, right = newRight)
}

/** All `tables` sign-LSH bucket ids of a vector in ONE expression —
  * `graft_hyperplane_buckets(vec, matrix, planesPerTable)` returns
  * `array<long>` (one packed sign-bit bucket per table).
  *
  * `matrix` is a single foldable `array<array<double>>` literal holding the
  * (tables·planesPerTable) hyperplanes table-major; `planesPerTable` a
  * foldable int. Exists for PLAN size, not arithmetic: the composed
  * formulation (`array(tables × Σ_p when(graft_dot(v, lit(plane)) >= 0 ...))`)
  * carries tables·planes·dim literal NODES (4096 at the 8×8×64 defaults) and
  * whole-stage code generation over that forest dominated the LSH queries —
  * measured 4.2 s vs 1.2 s with codegen disabled on a 2000-row corpus; this
  * expression restores a ~3-node tree and a tight generated loop.
  *
  * Bit-identical to the composed form (ExprSpec pins it): per plane the
  * projection is the same left-to-right null-skipping min-length dot as
  * [[DotProduct]], and `proj >= 0` contributes `1L << p`.
  */
case class HyperplaneBucketsAll(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{IntegerType, LongType}
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_buckets"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_hyperplane_buckets requires literal matrix and planesPerTable arguments")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val mat: Array[Array[Double]] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray())
  }
  @transient private lazy val ppt: Int = third.eval().asInstanceOf[Int]

  private def buckets(v: ArrayData): Array[Long] = {
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
    out
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    new GenericArrayData(buckets(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("graftPlaneMat", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val (t, p, i, n, m, s, b, row, out, tables) =
        (ctx.freshName("t"), ctx.freshName("p"), ctx.freshName("i"),
         ctx.freshName("n"), ctx.freshName("m"), ctx.freshName("s"),
         ctx.freshName("b"), ctx.freshName("row"), ctx.freshName("out"),
         ctx.freshName("tables"))
      s"""
         |int $tables = $matRef.length / $ppt;
         |long[] $out = new long[$tables];
         |int $n = $v.numElements();
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $b = 0L;
         |  for (int $p = 0; $p < $ppt; $p++) {
         |    double[] $row = $matRef[$t * $ppt + $p];
         |    int $m = java.lang.Math.min($n, $row.length);
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      if (!$v.isNullAt($i)) {
         |        $s += $v.getDouble($i) * $row[$i];
         |      }
         |    }
         |    if ($s >= 0) $b += (1L << $p);
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
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
  * [[graft.dedup.Dedup.minhashSignature]] (base = XXH64 over the UTF-8
  * bytes seed 42, null shingle contributes base = 42 like the builtin;
  * per-function seed = hashInt(i, 42) then hashLong(base, seed); SIGNED
  * minimum; empty input yields all-null like `array_min(empty)`) — ExprSpec
  * pins it and the q_minhash_lsh Python-port oracle re-derives it.
  *
  * Exists because `ArrayTransform` lambdas are CodegenFallback: the composed
  * form evaluates numHashes·|shingles| interpreted xxhash64 expression nodes
  * PER ROW (measured ~0.9 s of minhash_lsh's 3.0 s at sf0.1); this compiles
  * to one tight loop over Spark's own XXH64 statics.
  */
case class MinhashSignature(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def inputTypes = Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_minhash requires a literal numHashes argument")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val k: Int = right.eval().asInstanceOf[Int]
  // per-function seeds: Spark's xxhash64(lit(i), h) folds children with the
  // running hash as seed — hashInt(i, 42) then hashLong(base, that)
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("graftMinhashSeeds", seeds, "long[]")
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, (arr, _) => {
      val (j, i, n, base, v, mins, s) =
        (ctx.freshName("j"), ctx.freshName("i"), ctx.freshName("n"),
         ctx.freshName("base"), ctx.freshName("v"), ctx.freshName("mins"),
         ctx.freshName("s"))
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$seedsRef.length]);
         |} else {
         |  long[] $mins = new long[$seedsRef.length];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $base;
         |    if ($arr.isNullAt($j)) {
         |      $base = 42L;
         |    } else {
         |      org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($j);
         |      $base = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    }
         |    for (int $i = 0; $i < $seedsRef.length; $i++) {
         |      long $v = $xxh.hashLong($base, $seedsRef[$i]);
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })
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
  def shingles(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val str0 = s.toString
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    val last = toks.length - n
    if (last < 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
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
      arr(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next()); k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
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
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType}

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_shingles requires a literal n argument")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleKernel.shingles(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.expr.ShingleKernel.shingles($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

/** Nearest centroid by squared L2 — `graft_nearest_centroid(vec, matrix)`
  * returns the INDEX of the closest row of the literal
  * `array<array<double>>` matrix (strict first-minimum tie-break, the same
  * scan order as the UDF it replaces). Exists because the IVF assignment
  * pass runs over the FULL corpus — the UDF form paid a catalyst↔Scala
  * conversion per row; this is a generated flat loop. Bit-identical distance
  * arithmetic (`d += (v_i - c_i)^2` over the centroid's length, missing/null
  * vector elements read as the lambda's boxed Seq did — vectors are
  * null-free by contract and ExprSpec pins parity on that domain).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.IntegerType

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_centroid requires a literal centroid matrix")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val mat: Array[Array[Double]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray())
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("graftCentroids", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val (c, i, d, x, row, best, bestD) =
        (ctx.freshName("c"), ctx.freshName("i"), ctx.freshName("d"),
         ctx.freshName("x"), ctx.freshName("row"), ctx.freshName("best"),
         ctx.freshName("bestD"))
      s"""
         |int $best = -1;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $matRef.length; $c++) {
         |  double[] $row = $matRef[$c];
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $row.length; $i++) {
         |    double $x = $v.getDouble($i) - $row[$i];
         |    $d += $x * $x;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
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
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "graft_norm"),
      (children: Seq[Expression]) => L2Norm(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountInSet].getName, "graft_count_in"),
      (children: Seq[Expression]) => CountInSet(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBucketsAll].getName, "graft_hyperplane_buckets"),
      (children: Seq[Expression]) =>
        HyperplaneBucketsAll(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinhashSignature(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => WordShingles(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
      (children: Seq[Expression]) =>
        WinnowFingerprints(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_min"),
      new ExpressionInfo(classOf[RollingMinFingerprint].getName, "graft_rolling_min"),
      (children: Seq[Expression]) => RollingMinFingerprint(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_trigram_topk"),
      new ExpressionInfo(classOf[TrigramTopK].getName, "graft_trigram_topk"),
      (children: Seq[Expression]) => TrigramTopK(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionNums].getName, "graft_repetition"),
      (children: Seq[Expression]) => RepetitionNums(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashFingerprint].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimhashFingerprint(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_digits"),
      new ExpressionInfo(classOf[FirstDigitRun].getName, "graft_digits"),
      (children: Seq[Expression]) => FirstDigitRun(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_pii_scrub"),
      new ExpressionInfo(classOf[PiiScrub].getName, "graft_pii_scrub"),
      (children: Seq[Expression]) => PiiScrub(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_hash_features"),
      new ExpressionInfo(classOf[HashedFeatures].getName, "graft_hash_features"),
      (children: Seq[Expression]) => HashedFeatures(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_dedup_lines"),
      new ExpressionInfo(classOf[DedupLines].getName, "graft_dedup_lines"),
      (children: Seq[Expression]) => DedupLines(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_reflow"),
      new ExpressionInfo(classOf[ReflowLines].getName, "graft_reflow"),
      (children: Seq[Expression]) => ReflowLines(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NgramsWithMultiplicity].getName, "graft_ngrams"),
      (children: Seq[Expression]) => NgramsWithMultiplicity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_ws_tokens"),
      new ExpressionInfo(classOf[WsTokenCount].getName, "graft_ws_tokens"),
      (children: Seq[Expression]) => WsTokenCount(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_gopher"),
      new ExpressionInfo(classOf[GopherRules].getName, "graft_gopher"),
      (children: Seq[Expression]) =>
        GopherRules(children(0), children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[NormalizedFingerprint].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => NormalizedFingerprint(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangIdClassify].getName, "graft_langid"),
      (children: Seq[Expression]) => LangIdClassify(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_centroid"),
      (children: Seq[Expression]) => NearestCentroid(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvBottomK].getName, "graft_kmv"),
      (children: Seq[Expression]) => KmvBottomK(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsSketch].getName, "graft_cms"),
      (children: Seq[Expression]) => CmsSketch(children(0), children(1), children(2))))
  }
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
