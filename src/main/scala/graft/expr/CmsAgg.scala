package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count-Min sketch aggregate (Cormode & Muthukrishnan 2005) — the second
  * mergeable sketch next to [[KmvBottomK]]: approximate per-key occurrence
  * counts in O(d·w) memory PER GROUP regardless of stream size. Input: the
  * 64-bit base hash of each occurrence (callers feed `xxhash64(value)`);
  * state/output: the dense d×w counter grid as `array<long>` (row-major,
  * cell (r, j) at index r·w + j).
  *
  * Row hashes derive from the base hash by seed-chaining — row r uses
  * `XXH64.hashLong(r, base) & (w-1)` — which is EXACTLY Spark's
  * `xxhash64(value, lit(r.toLong))` (multi-arg xxhash64 folds left with the
  * running hash as seed), so the composed test twin
  * (`cmsCellsComposed`, CmsSpec) and the DuckDB oracle
  * (HashOracleSql hashLong CTEs) recompute identical cells. Cells are SUMS,
  * so the aggregate is order-independent and the merge (element-wise add) is
  * exact: sketch(A ∪ B) == merge(sketch(A), sketch(B)).
  *
  * Why a TypedImperativeAggregate: the exact count table this sketch
  * replaces is O(distinct keys) per group — the thing that blows up on a
  * per-source token-frequency job at 100 TB. This buffer is d·w longs per
  * group with map-side partial aggregation; the shuffle ships d·w longs per
  * group per map task, independent of token count.
  */
case class CmsSketch(
    child: Expression,
    dExpr: Expression,
    wExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ImplicitCastInputTypes with LiteralArgs {

  // d and w define the sketch: plan constants, not per-row inputs
  override protected def literalArgs = Seq(LiteralArg.int(1, "d", min = 1),
    LiteralArg(2, "w", "power of two >= 2",
      { v => val w = v.asInstanceOf[Int]; w >= 2 && (w & (w - 1)) == 0 }, identity))
  private def d: Int = literal(1)
  private def w: Int = literal(2)

  override def inputTypes = Seq(LongType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = v.asInstanceOf[Long]
      var r = 0
      while (r < d) {
        val j = (XXH64.hashLong(r.toLong, base) & (w - 1).toLong).toInt
        buf(r * w + j) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override def children: Seq[Expression] = Seq(child, dExpr, wExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren(0), dExpr = newChildren(1), wExpr = newChildren(2))
}
