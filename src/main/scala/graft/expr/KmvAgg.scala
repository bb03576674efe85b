package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Bottom-k distinct-hash aggregate — the mergeable state of the KMV
  * distinct-count sketch ([[graft.agg.Sketches]]). Input: 64-bit hashes
  * (callers feed `xxhash64(value)`); output: the k smallest DISTINCT hashes
  * in UNSIGNED ascending order, as `array<long>` (signed bit patterns).
  *
  * Why a `TypedImperativeAggregate` and not `slice(sort_array(collect_set))`:
  * the composed form materializes EVERY distinct hash of a group in the
  * aggregation buffer — per-group memory proportional to group cardinality,
  * exactly what kills a per-template/per-tool cardinality job at 100 TB.
  * This buffer is bounded at k values regardless of input size, supports
  * map-side partial aggregation (each partition keeps only k), and merges by
  * union-then-truncate — the textbook mergeable-sketch shape (the same
  * contract Spark's own `ApproximatePercentile`/HLL aggregates use). The
  * composed form is the semantics-identical parity twin KmvGroupedSpec
  * pins against it.
  *
  * Buffer values are stored FLIPPED (`h ^ Long.MinValue`) so the natural
  * signed order of the TreeSet IS the unsigned order of the hashes; eval
  * un-flips. Dedup is free (set semantics), matching the DISTINCT in the
  * corpus-global [[graft.agg.Sketches.kmvDistinct]] and in the DuckDB oracle.
  */
case class KmvBottomK(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with ImplicitCastInputTypes with LiteralArgs {

  // k is plan-constant: it defines the sketch, not a per-row input
  override protected def literalArgs = Seq(LiteralArg.int(1, "k", min = 2))
  private def k: Int = literal(1)

  override def inputTypes = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val flipped = v.asInstanceOf[Long] ^ Long.MinValue
      // skip the insert when the buffer is full and the value can't rank:
      // the common case at scale (k << group size) allocates nothing
      if (buf.size() < k) buf.add(flipped)
      else if (flipped < buf.last()) { buf.add(flipped); if (buf.size() > k) buf.pollLast() }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buf.addAll(other)
    while (buf.size() > k) buf.pollLast()
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next() ^ Long.MinValue; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size())
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(inputAggBufferOffset = newOffset)
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvBottomK =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
