package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.expr._

/** Every `graft_*` row kernel gives the same value through its interpreted
  * `eval` and through its generated code (a compiled projection), on the
  * same input rows — including empty arrays, null elements,
  * length-mismatched vectors, an empty shingle array and non-ASCII text.
  */
class KernelParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def in(i: Int, dt: DataType): Expression = BoundReference(i, dt, nullable = true)
  private val vec = ArrayType(DoubleType)
  private val strs = ArrayType(StringType)
  private def lit(v: Int): Expression = Literal(v)
  private def matrix(m: Seq[Seq[Double]]): Expression = Literal.create(m, ArrayType(vec))
  private def strings(s: Seq[String]): Expression = Literal.create(s, strs)

  private val covered = scala.collection.mutable.Set[String]()

  /** `e`'s interpreted and generated values agree on every row of `rows`
    * (each row a sequence of Scala input values for `e`'s bound inputs).
    */
  private def parity(e: Expression, rows: Seq[Seq[Any]]): Unit = {
    covered += e.prettyName
    val proj = GenerateMutableProjection.generate(Seq(e), false)
    val types = e.collect { case b: BoundReference => b.ordinal -> b.dataType }.toMap
    rows.foreach { r =>
      require(r.indices.forall(types.contains), s"row $r has an unbound column")
      val row = InternalRow.fromSeq(r.map(CatalystTypeConverters.convertToCatalyst))
      val interpreted = CatalystTypeConverters.convertToScala(e.eval(row), e.dataType)
      val generated = CatalystTypeConverters.convertToScala(proj(row).get(0, e.dataType), e.dataType)
      assert(generated === interpreted, s"${e.prettyName} on $r")
    }
  }

  private val texts: Seq[Seq[Any]] = Seq(
    "user 8 clicked element 69 user 8 clicked element 69",
    "", "   ", "\tstarts with tab", "ends with tab\t", "a a a a a a",
    "Ünïcödé wörds ünd mehr wörds ünd mehr",
    "日本語 テキスト 日本語 テキスト の 例",
    "𝄞 der  und 𝄞 die ",
    "line one\nline one\n- bullet\n* star...\n# hash ...",
    "mail a.b@example.com from 10.0.0.1 id 12345678901234 é42",
    null).map(Seq(_))

  private val vectors: Seq[Seq[Any]] = Seq(
    Seq(1.0, -2.0, 3.0, 0.5), Seq(), Seq(-1.0), Seq(0.25, 0.5, -0.75, 1.0, 2.0, -3.0),
    Seq[java.lang.Double](1.0, null, 3.0, null), null).map(Seq(_))

  test("vector kernels: interpreted == generated") {
    val pairs: Seq[Seq[Any]] = Seq(
      Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, -5.0, 6.0)),
      Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)),                           // length mismatch
      Seq(Seq[java.lang.Double](1.0, null, 3.0), Seq(2.0, 2.0, 2.0)),   // null element
      Seq(Seq(), Seq(1.0)), Seq(Seq(), Seq()), Seq(null, Seq(1.0)))
    parity(DotProduct(in(0, vec), in(1, vec)), pairs)
    parity(L2Norm(in(0, vec)), vectors)

    val planes = Seq(Seq(1.0, -1.0, 0.5), Seq(-0.5, 0.25, 1.0), Seq(0.0, 1.0, -1.0),
      Seq(1.0, 1.0, 1.0, 1.0, 1.0), Seq(-1.0), Seq())
    Seq(1, 2, 3, 4).foreach { ppt =>
      parity(HyperplaneBucketsAll(in(0, vec), matrix(planes), lit(ppt)), vectors)
    }
    val cents = Seq(Seq(0.0), Seq(1.0), Seq(-1.0), Seq(1.0))   // duplicate: first wins
    parity(NearestCentroid(in(0, vec), matrix(cents)), vectors.filter(r =>
      r.head != null && r.head.asInstanceOf[Seq[_]].nonEmpty))
    parity(NearestCentroid(in(0, vec), matrix(Seq())), vectors)

    val tokens: Seq[Seq[Any]] = Seq(
      Seq("the", "cat", "the", "a"), Seq(), Seq("ünd", "the", null, "日本"), Seq(null), null)
      .map(Seq(_))
    parity(CountInSet(in(0, strs), strings(Seq("the", "a", "ünd", "日本"))), tokens)
    parity(CountInSet(in(0, strs), strings(Seq())), tokens)
    parity(CountInSet(in(0, strs), strings(null)), tokens)
    parity(NearestCentroid(in(0, vec), matrix(null)), vectors)

    val shingles: Seq[Seq[Any]] = Seq(
      Seq("a b c", "b c d", "c d e"), Seq(), Seq(null, "a b c"), Seq("é ü", "日本 語"), null)
      .map(Seq(_))
    Seq(0, 1, 4, 24).foreach(k => parity(MinhashSignature(in(0, strs), lit(k)), shingles))
  }

  test("graft_nearest_centroid fails on a vector shorter than its centroids, on both paths") {
    val e = NearestCentroid(in(0, vec), matrix(Seq(Seq(0.0, 5.0), Seq(0.0, -5.0, 1.0))))
    val proj = GenerateMutableProjection.generate(Seq(e), false)
    // an unsafe array has no bounds check: an unchecked scan reads past its end
    val short = InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(1.0, 2.0)))
    Seq[(String, InternalRow => Any)]("interpreted" -> e.eval, "generated" -> (proj(_)))
      .foreach { case (path, run) =>
        val err = intercept[IllegalArgumentException](run(short))
        assert(err.getMessage.contains("vector length 2 < centroid length 3"), path)
      }
    val wide = InternalRow(UnsafeArrayData.fromPrimitiveArray(Array(0.0, -4.0, 1.0, 9.0)))
    assert(e.eval(wide) === 1 && proj(wide).getInt(0) === 1)
  }

  test("text kernels: interpreted == generated") {
    val t = in(0, StringType)
    Seq(1, 2, 3).foreach { n =>
      parity(WordShingles(t, lit(n)), texts)
      parity(NgramsWithMultiplicity(t, lit(n)), texts)
    }
    Seq(1, 3, -2).foreach(p => parity(ReflowLines(t, lit(p)), texts))
    Seq((0, 1), (3, 2), (5, 3), (8, 100)).foreach { case (k, w) =>
      parity(WinnowFingerprints(t, lit(k), lit(w)), texts)
    }
    Seq(0, 4, 7).foreach(w => parity(RollingMinFingerprint(t, lit(w)), texts))
    Seq(-1, 0, 3, 50).foreach(k => parity(TrigramTopK(t, lit(k)), texts))
    parity(GopherRules(t, lit(2), lit(100)), texts)
    // a null literal: the kernel is never called, but the code must compile
    val nullInt = Literal(null, IntegerType)
    parity(WordShingles(t, nullInt), texts)
    parity(WinnowFingerprints(t, lit(3), nullInt), texts)
    Seq(RepetitionNums(t), FirstDigitRun(t), SimhashFingerprint(t), PiiScrub(t),
      HashedFeatures(t), DedupLines(t), WsTokenCount(t), NormalizedFingerprint(t),
      LangIdClassify(t)).foreach(parity(_, texts))
  }

  test("broadcast kernels: interpreted == generated") {
    val sc = spark.sparkContext
    val bloom = BloomFilter.create(100, 0.01)
    Seq("a b", "user 8", "日本語").foreach(bloom.putString)
    parity(BloomMightContain(in(0, StringType), sc.broadcast(bloom)),
      Seq("a b", "user 8", "日本語", "missing", "", null).map(Seq(_)))
    val m = new graft.parse.Drain.Matcher(Seq(
      graft.parse.TemplateEntry("e1", "user <*> clicked element <*>", 3),
      graft.parse.TemplateEntry("e2", "alpha beta", 1)), graft.parse.DrainConfig())
    val bc = sc.broadcast(m)
    val logs = Seq("user 8 clicked element 69", "alpha beta", "never seen 42 before",
      "Ünïcödé 7", "", null).map(Seq(_))
    parity(DrainMatchId(in(0, StringType), bc), logs)
    parity(DrainMatch(in(0, StringType), bc), logs)
  }

  // runs after the tests above, which record each kernel they check
  test("every registered row kernel is covered") {
    val aggregates = Set("graft_kmv", "graft_cms")
    val registered = GraftExtensions.functions.map(_._1.funcName).toSet -- aggregates
    assert(registered.subsetOf(covered), s"not covered: ${registered -- covered}")
  }
}
