package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** MinHash sketch as a true aggregate: `minhash_sketch(tokenHash, k)` over
  * a GROUP of rows yields sig[s] = min over rows of xxhash64(token, s).
  *
  * This is the streaming/sharded complement of [[MinHashSignature]] (which
  * needs the whole token array materialized per row): here tokens arrive as
  * plain rows, the buffer is k longs, update is k hash-min steps, and merge
  * is element-wise min — fully distributive, so Spark runs it as a two-phase
  * hash aggregate with map-side partials. At 100 TB the shuffle carries
  * k longs per group instead of the group's full token multiset, and no
  * per-document array ever materializes.
  *
  * Exercises the TypedImperativeAggregate extension point (SURVEY.md §2.2,
  * M6 stretch): arbitrary buffer type + explicit serialize/merge, the seam
  * where sketches that Spark lacks (theta, KLL, HLL-union-of-sketches)
  * would plug in.
  */
case class MinHashSketchAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sketch"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val t = v.asInstanceOf[Long]
      var s = 0
      while (s < numHashes) {
        val h = XXH64.hashLong(t, s)
        if (h < buf(s)) buf(s) = h
        s += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var s = 0
    while (s < numHashes) {
      if (other(s) < buf(s)) buf(s) = other(s)
      s += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
