package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData

/** One literal argument of a fused kernel: child `index`, called `name` in
  * the analysis error. `accepts` tests a non-null value against the set the
  * kernel handles for every row (`expected` says it in words); `read` turns
  * the Catalyst value into the form the kernel takes.
  */
final case class LiteralArg(index: Int, name: String, expected: String,
                            accepts: Any => Boolean, read: Any => Any)

object LiteralArg {
  /** An int argument the kernel handles for every value >= `min`. */
  def int(index: Int, name: String, min: Int = Int.MinValue): LiteralArg =
    LiteralArg(index, name,
      if (min == Int.MinValue) "integer" else s"integer >= $min",
      _.asInstanceOf[Int] >= min, identity)

  /** A literal `array<array<double>>` with no null row. */
  def matrix(index: Int, name: String): LiteralArg =
    LiteralArg(index, name, "array of non-null double arrays", { v =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).forall(!a.isNullAt(_))
    }, v => VectorKernel.matrix(v.asInstanceOf[ArrayData]))

  /** A literal `array<string>`, read as a hash set (null elements dropped). */
  def stringSet(index: Int, name: String): LiteralArg =
    LiteralArg(index, name, "string array", _ => true,
      v => VectorKernel.stringSet(v.asInstanceOf[ArrayData]))
}

/** A fused kernel with plan-constant arguments. Analysis fails, with one
  * message form naming the function and the argument, unless each declared
  * child is foldable and its value is one the kernel handles for every row.
  * A null literal passes where it makes the result null (the kernel is not
  * called); a never-null kernel rejects it. Each value is read once per
  * expression instance, and both the interpreted eval and the generated code
  * take it from [[literal]].
  */
trait LiteralArgs extends Expression {
  protected def literalArgs: Seq[LiteralArg]

  // A null literal reads as its type's default: the result is then null and
  // the kernel is never called, but the generated code still compiles.
  @transient private lazy val literalValues: Array[Any] = {
    val out = new Array[Any](children.length)
    literalArgs.foreach { a =>
      val c = children(a.index)
      out(a.index) = a.read(Option(c.eval()).getOrElse(Literal.default(c.dataType).value))
    }
    out
  }

  /** The read value of the literal child `index`. */
  protected final def literal[T](index: Int): T = literalValues(index).asInstanceOf[T]

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else literalArgs.iterator.map { a =>
      val c = children(a.index)
      val ok = c.foldable && {
        val v = c.eval()
        if (v == null) nullable else a.accepts(v)
      }
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName: argument ${a.name} must be a literal ${a.expected}; got ${c.sql}")
    }.find(_.isFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

/** A kernel that carries its broadcast as a constructor field (the plan
  * holds only the handle). `.value` is a synchronized per-JVM lookup, so it
  * is memoized once per deserialized expression, i.e. once per task; the
  * generated code reads the same memo through a reference to the expression.
  */
trait BroadcastMemo[T] { self: Expression =>
  def bc: Broadcast[T]

  @transient lazy val bcValue: T = bc.value

  /** Java expression for [[bcValue]] in generated code, cast to `cls`. */
  protected def bcValueCode(ctx: CodegenContext, cls: Class[_]): String =
    s"((${cls.getName}) ${ctx.addReferenceObj("graftBcExpr", this)}.bcValue())"
}
