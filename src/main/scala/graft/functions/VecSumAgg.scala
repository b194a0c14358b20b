package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise exact BIGINT sum of a group's vectors as ONE aggregate:
  * `vec_sum(qv)` yields s with s[p] = Σ_rows qv[p] — the value of the
  * explode form it replaces,
  *
  * {{{
  * posexplode(qv) → groupBy(key, pos).sum(v) →
  *   groupBy(key).transform(array_sort(collect_list(struct(pos, sv))), _.sv)
  * }}}
  *
  * which exchanged every element as its own row and then regrouped the
  * per-position sums through a second exchange. Here each row is one
  * primitive add loop into a flat `long[]`, each partition ships one
  * partial buffer per group, and merge is element-wise add: one exchange.
  * Integer addition is order-independent, so the result is bit-identical
  * whatever the partitioning.
  *
  * Degenerate inputs follow the explode form: null and empty vectors
  * contribute nothing (a group seeing only those evaluates to null);
  * ragged lengths sum over the rows long enough to have the position;
  * null elements are skipped, and a position whose elements were all
  * null is null (SUM over all-null). Accumulation is `Math.addExact`: a
  * position passing 2⁶³ throws, as the ANSI BIGINT sum did, instead of
  * wrapping.
  */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumAgg.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.requireTypes(prettyName, child.dataType -> "array<bigint>")
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vec_sum"

  override def createAggregationBuffer(): VecSumAgg.Buf =
    new VecSumAgg.Buf(Array.emptyLongArray, Array.emptyBooleanArray)

  override def update(buf: VecSumAgg.Buf, input: InternalRow): VecSumAgg.Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    buf.grow(n)
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        buf.sums(k) = Math.addExact(buf.sums(k), arr.getLong(k))
        buf.seen(k) = true
      }
      k += 1
    }
    buf
  }

  override def merge(buf: VecSumAgg.Buf, other: VecSumAgg.Buf): VecSumAgg.Buf = {
    buf.grow(other.sums.length)
    var k = 0
    while (k < other.sums.length) {
      if (other.seen(k)) {
        buf.sums(k) = Math.addExact(buf.sums(k), other.sums(k))
        buf.seen(k) = true
      }
      k += 1
    }
    buf
  }

  override def eval(buf: VecSumAgg.Buf): Any =
    if (buf.sums.isEmpty) null
    else new GenericArrayData(Array.tabulate[Any](buf.sums.length)(k =>
      if (buf.seen(k)) buf.sums(k) else null))

  override def serialize(buf: VecSumAgg.Buf): Array[Byte] = {
    val n = buf.sums.length
    val bb = java.nio.ByteBuffer.allocate(4 + 9 * n)
    bb.putInt(n)
    buf.sums.foreach(bb.putLong)
    buf.seen.foreach(b => bb.put(if (b) 1.toByte else 0.toByte))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSumAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val sums = Array.fill(n)(bb.getLong)
    new VecSumAgg.Buf(sums, Array.fill(n)(bb.get != 0))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object VecSumAgg {
  /** Per-position running sums plus whether any non-null element reached
    * the position; `grow` zero-pads to the longest row seen.
    */
  final class Buf(var sums: Array[Long], var seen: Array[Boolean]) {
    def grow(n: Int): Unit = if (n > sums.length) {
      sums = java.util.Arrays.copyOf(sums, n)
      seen = java.util.Arrays.copyOf(seen, n)
    }
  }
}
