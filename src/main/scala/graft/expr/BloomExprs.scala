package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `graft_bloom_contains(text)` → boolean — membership probe of a broadcast
  * [[BloomFilter]] as a codegen'd Catalyst expression (the probe of
  * [[graft.text.TextAnalysis.ngramContaminationBloom]]; NgramSpec pins it
  * against `mightContainString` and the no-ScalaUDF plan shape).
  *
  * The broadcast is a constructor field, so the plan (and every task
  * binary) carries only the tiny broadcast HANDLE and executors fetch the
  * bitmap once per JVM through the torrent-broadcast path. This is the
  * scale-correct alternative to Spark's own runtime-filter design
  * (`BloomFilterMightContain` embeds the serialized bitmap as a binary
  * literal in the plan — fine at its capped 8 MB, wrong for the ~1.2 GB
  * decontamination filters this path is for).
  *
  * Probe semantics are EXACTLY `filter.mightContainString(s)`: the sketch's
  * `putString`/`mightContainString` hash the UTF-8 bytes of the string, so
  * probing `mightContainBinary(utf8.getBytes)` is bit-identical and skips
  * the per-row `String` allocation the UDF pays.
  *
  * The broadcast `.value` call (a synchronized per-JVM cache lookup — the
  * documented per-row pitfall) happens once per task ([[BroadcastMemo]]).
  */
case class BloomMightContain(child: Expression, bc: Broadcast[BloomFilter])
    extends UnaryExpression with ImplicitCastInputTypes with BroadcastMemo[BloomFilter] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override protected def nullSafeEval(input: Any): Any =
    bcValue.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = ${bcValueCode(ctx, classOf[BloomFilter])}.mightContainBinary($s.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
