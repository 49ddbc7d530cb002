package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine-PORTABLE MinHash sketch aggregate: one fused pass
  * producing the md5-60bit signature family that any md5-capable engine
  * (the DuckDB oracle included) reproduces bit-for-bit — signature i is
  * the group minimum of the first 15 hex chars of md5 over
  * shingle + U+0001 + decimal(i), exactly
  * [[graft.ext.Dedup.md5HashLong]].
  *
  * The composed form spells that as `numHashes` separate
  * `min(conv(substring(md5(concat_ws(...)), 1, 15), 16, 10))` aggregate
  * columns — per shingle row that is 16 UTF8String concats, 16 hex
  * STRING materializations, 16 substrings, and 16 base-16 string
  * parses. Here each row pays 16 raw digests over reused byte buffers
  * and zero string traffic; the 60-bit value comes straight off the
  * digest bytes. Same buffer/merge shape as [[MinHashSketch]]:
  * 8·numHashes bytes per group, element-wise min merge →
  * associative/commutative → map-side partial aggregation holds, the
  * property that keeps the signature build one shuffle at corpus
  * scale.
  */
case class Md5MinHashSketch(child: Expression, numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {
  require(numHashes > 0, s"numHashes must be positive: $numHashes")

  // per-task scratch (update() runs single-threaded per aggregate
  // instance; transient — never shipped with the expression tree)
  @transient private lazy val md = MessageDigest.getInstance("MD5")
  @transient private lazy val seedSuffix: Array[Array[Byte]] =
    Array.tabulate(numHashes) { i =>
      ("\u0001" + i.toString).getBytes("UTF-8")
    }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  // NULL input replicates the composed twin's concat_ws semantics:
  // concat_ws drops a NULL arg *and* its separator, leaving just the
  // decimal seed string — so a null shingle hashes the seed-only byte
  // stream here too and the twins stay bit-identical on ANY input (an
  // all-NULL group yields the same constant signature in both, not
  // [Long.MaxValue, ...] vs hashes).
  @transient private lazy val seedOnly: Array[Array[Byte]] =
    Array.tabulate(numHashes)(i => i.toString.getBytes("UTF-8"))

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    val bytes = if (v == null) null else v.asInstanceOf[UTF8String].getBytes
    var i = 0
    while (i < numHashes) {
      md.reset()
      if (bytes == null) md.update(seedOnly(i))
      else { md.update(bytes); md.update(seedSuffix(i)) }
      val d = md.digest()
      // first 15 hex chars == top 60 bits: 7 full bytes + the high
      // nibble of byte 7 (same extraction as WinnowFps)
      var h = 0L
      var j = 0
      while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      h = (h << 4) | ((d(7) & 0xf0L) >>> 4)
      if (h < buffer(i)) buffer(i) = h
      i += 1
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
  override def withNewMutableAggBufferOffset(offset: Int): Md5MinHashSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): Md5MinHashSketch =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "md5_minhash_sketch"
}

object Md5MinHashSketch {
  /** Column form of `md5_minhash_sketch(shingleCol, numHashes)`. */
  def md5_minhash_sketch(shingle: Column, numHashes: Int): Column =
    call_function("md5_minhash_sketch", shingle, lit(numHashes))
}
