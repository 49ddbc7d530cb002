package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash sketch aggregate: one pass over the shingles of a
  * group producing the `numHashes`-wide signature in a single mutable
  * `Array[Long]` buffer — the `TypedImperativeAggregate` form of what
  * the composed version does with `numHashes` separate `min(xxhash64)`
  * aggregates (SURVEY §7.3: the one genuinely-custom aggregate tier).
  *
  * Hash-compatible with the composed form BY CONSTRUCTION: signature i
  * replicates Spark's `xxhash64(shingle, lit(i))` exactly —
  * `XXH64.hashInt(i, XXH64.hashUnsafeBytes(shingle, seed=42))` — so the
  * two implementations produce identical signatures (asserted in tests)
  * and downstream LSH banding is unchanged.
  *
  * Buffer is `8·numHashes` bytes per group and merges element-wise min —
  * associative/commutative → map-side partial aggregation works, which
  * is what makes the signature build one shuffle at corpus scale.
  */
case class MinHashSketch(child: Expression, numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      // replicate XxHash64(children = [shingle, i], seed = 42)
      val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, base)
        if (h < buffer(i)) buffer(i) = h
        i += 1
      }
    }
    buffer
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashSketch =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "minhash_sketch"
}

object MinHashSketch {
  /** Column form of `minhash_sketch(shingleCol, numHashes)`. */
  def minhash_sketch(shingle: Column, numHashes: Int): Column =
    call_function("minhash_sketch", shingle, lit(numHashes))
}
