package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashed-linear-classifier kernel — the in-row form of
  * [[graft.text.Classifier.hashedLinearScore]]'s feature stream (round-7,
  * guide §2.4 "remove shuffles outright"): the composed path explodes every
  * unigram and bigram occurrence into a (doc, gram) row stream and shuffles
  * it into a per-doc sum; this kernel computes the identical
  * (n_feats, score_micro) pair per row, so the whole classifier becomes a
  * MAP-ONLY projection — no explode, no exchange at all.
  *
  * Exact semantic twins, pinned by ClassifierSpec parity:
  *  - tokens: `split(trim(text), "\\s+")` — SQL trim (0x20 only), Java
  *    regex split with limit -1 (the ShingleKernel discipline);
  *  - unigrams: nonempty tokens WITH multiplicity;
  *  - bigrams: `toks(i) + " " + toks(i+1)` for i = 0..len-2 (the
  *    ngramsWithMultiplicity n=2 stream), empty grams dropped (vacuous —
  *    the separator makes them nonempty — kept for parity);
  *  - h(g) = Spark `xxhash64(g)` (XXH64 over the UTF-8 bytes, seed 42);
  *    bucket = h & (B-1); weight = (bucket·weightMul) % weightMod − 1000
  *    (Java `%` == Spark `%` on the non-negative product);
  *  - n_feats / score_micro are the exact integer count/sum — addition
  *    order cannot matter.
  */
object HashFeatureKernel {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def score(s: UTF8String, numBuckets: Long, weightMul: Long,
            weightMod: Long): InternalRow = {
    val str0 = s.toString
    // SQL trim: strip 0x20 only (NOT Java's isWhitespace set)
    var st = 0; var en = str0.length
    while (st < en && str0.charAt(st) == ' ') st += 1
    while (en > st && str0.charAt(en - 1) == ' ') en -= 1
    val toks = ws.split(str0.substring(st, en), -1)
    val mask = numBuckets - 1L
    var n = 0L
    var sum = 0L
    def add(g: String): Unit = {
      val u = UTF8String.fromString(g)
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.numBytes, 42L)
      val bucket = h & mask
      n += 1L
      sum += (bucket * weightMul) % weightMod - 1000L
    }
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) add(toks(i))
      i += 1
    }
    i = 0
    while (i < toks.length - 1) {
      val g = toks(i) + " " + toks(i + 1)
      if (g.nonEmpty) add(g)
      i += 1
    }
    new GenericInternalRow(Array[Any](n, sum))
  }
}

/** `graft_hash_features(text)` → `struct<n_feats long, score_micro long>` —
  * see [[HashFeatureKernel]]. The classifier constants are read from
  * [[graft.text.Classifier]] at bind time, so the kernel, the composed
  * test twin and the q_quality_classifier oracle SQL share one source of
  * truth.
  */
case class HashedFeatures(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("score_micro", LongType, nullable = false)))
  override def prettyName: String = "graft_hash_features"

  private def B = graft.text.Classifier.numBuckets.toLong
  private def mul = graft.text.Classifier.weightMul
  private def mod = graft.text.Classifier.weightMod

  override protected def nullSafeEval(input: Any): Any =
    HashFeatureKernel.score(input.asInstanceOf[UTF8String], B, mul, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expr.HashFeatureKernel.score($s, ${B}L, ${mul}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): HashedFeatures =
    copy(child = newChild)
}
