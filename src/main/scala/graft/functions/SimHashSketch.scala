package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash aggregate: per-token xxhash64, each bit votes
  * ±1 into a 64-int buffer, fingerprint bit = sign of the vote sum.
  * One pass, one buffer — the `TypedImperativeAggregate` fusion of the
  * 64 conditional-sum aggregate columns in the composed form
  * ([[graft.ext.Dedup.simhashComposed]], its bit-identical twin).
  *
  * Token hash replicates Spark's `xxhash64(token)` exactly
  * (`XXH64.hashUnsafeBytes(bytes, seed=42)`), so fingerprints are
  * unchanged wherever the composed form was used.
  */
case class SimHashSketch(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) buffer(b) += 1 else buffer(b) -= 1
        b += 1
      }
    }
    buffer
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buffer: Array[Int]): Any = {
    var fp = 0L
    var b = 0
    while (b < 64) { if (buffer(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override def serialize(buffer: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * 64)
    buffer.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt)
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): SimHashSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHashSketch =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "simhash_sketch"
}

object SimHashSketch {
  /** Column form of `simhash_sketch(tokenCol)`. */
  def simhash_sketch(token: Column): Column =
    call_function("simhash_sketch", token)
}
