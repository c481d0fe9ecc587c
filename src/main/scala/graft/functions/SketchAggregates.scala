package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** A whole MinHash signature as ONE sketch aggregate (SURVEY §7.5's
  * `TypedImperativeAggregate` profile-sketch extension): the buffer is
  * the running `Array[Long]` of per-hash minima, updated in place per
  * row and merged element-wise — the mergeable-sketch contract that
  * makes it correct under partial aggregation at any partition count.
  *
  * Bit-identical to the composed-column form the dedup tier uses
  * (`min(xxhash64(lit(i), col)) for i < numHashes`,
  * `graft.ops.Dedup.minhashSignatures`): Spark's xxhash64 folds
  * children left-to-right from seed 42, so hash_i(s) =
  * XXH64.hashLong(s, XXH64.hashInt(i, 42)) — the per-i inner seeds are
  * precomputed once. Equality is pinned by spec.
  *
  * Why it exists alongside the 63-min-agg form: ONE aggregate buffer
  * per group versus numHashes codegen'd agg expressions. The wide form
  * wins codegen; this form keeps the plan O(1) in numHashes (a 512-hash
  * signature is a 4 KB buffer, not 512 plan nodes) and is the shape a
  * t-digest/HLL-style custom sketch would take.
  */
final case class MinHashSignatureAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numHashes > 0, "numHashes must be positive")

  // xxhash64(lit(i), x) == hashLong(x, hashInt(i, 42L)); fold seeds once
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(x, seeds(i))
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSignatureAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSignatureAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "minhash_signature"
}
