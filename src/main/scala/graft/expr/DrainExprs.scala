package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.parse.Drain

/** Row kernels shared by the interpreted eval and the generated code:
  * [[Drain.Matcher.matchId]] / [[Drain.Matcher.matchText]] over UTF8String.
  * DrainSpec pins id-only == struct-path ids and the two-phase oracle.
  */
object DrainMatchKernel {
  def matchId(m: Drain.Matcher, s: UTF8String): UTF8String =
    UTF8String.fromString(m.matchId(s.toString))

  def matchText(m: Drain.Matcher, s: UTF8String): InternalRow = {
    val (id, tpl) = m.matchText(s.toString)
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(id), UTF8String.fromString(tpl)))
  }
}

/** `graft_drain_match_id(text)` → string — the id-only broadcast-dictionary
  * match without a ScalaUDF row-conversion boundary (round-7): the per-row
  * path is tokenize → frozen-tree search → precomputed id. The broadcast is
  * a constructor field, so the plan carries only its HANDLE, never the
  * frozen tree; Spark's ContextCleaner reclaims it once the plan is gone.
  * The broadcast `.value` (a synchronized per-JVM cache lookup — the
  * documented per-row pitfall) resolves once per task ([[BroadcastMemo]]).
  */
case class DrainMatchId(child: Expression, bc: Broadcast[Drain.Matcher])
    extends UnaryExpression with ImplicitCastInputTypes with BroadcastMemo[Drain.Matcher] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_drain_match_id"

  override protected def nullSafeEval(input: Any): Any =
    DrainMatchKernel.matchId(bcValue, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.expr.DrainMatchKernel.matchId(" +
      s"${bcValueCode(ctx, classOf[Drain.Matcher])}, $s);")

  override protected def withNewChildInternal(newChild: Expression): DrainMatchId =
    copy(child = newChild)
}

/** `graft_drain_match(text)` →
  * `struct<event_id string, event_template string>` — the (id, template)
  * match, same contract as [[DrainMatchId]].
  */
case class DrainMatch(child: Expression, bc: Broadcast[Drain.Matcher])
    extends UnaryExpression with ImplicitCastInputTypes with BroadcastMemo[Drain.Matcher] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("event_template", StringType, nullable = false)))
  override def prettyName: String = "graft_drain_match"

  override protected def nullSafeEval(input: Any): Any =
    DrainMatchKernel.matchText(bcValue, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.expr.DrainMatchKernel.matchText(" +
      s"${bcValueCode(ctx, classOf[Drain.Matcher])}, $s);")

  override protected def withNewChildInternal(newChild: Expression): DrainMatch =
    copy(child = newChild)
}
