package graft.functions

import java.nio.ByteBuffer
import java.util.{TreeMap => JTreeMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.functions.{call_function, lit}

/** KMV (k-minimum-values / bottom-k) distinct sketch — the second
  * storable sketch family next to [[HllSketch]], from the published
  * bottom-k estimator (Bar-Yossef et al. 2002; Beyer et al. 2007): keep
  * the k smallest `xxhash64` values of the distinct keys. Two things
  * fall out of one buffer:
  *
  *  - a distinct-count estimate `(k-1)/frac(h_k)` (relative error
  *    ≈ 1/√k), cross-checkable against HLL — and EXACT whenever fewer
  *    than k distinct keys were seen;
  *  - a UNIFORM SAMPLE of the distinct keys (hash-order = random order
  *    — no RNG, no seed coordination), which HLL cannot give: "which
  *    users" and not just "how many".
  *
  * Merge = union + re-truncate — associative, commutative, idempotent
  * and ORDER-INDEPENDENT, so map-side partials, parquet-stored per-day
  * buffers, and range merges are all bit-identical to a single pass
  * (KmvSketchSpec), the same contract the HLL table pattern relies on.
  *
  * Buffer holds ≤ k (hash, key) pairs in a TreeMap; keys are LongType
  * (ids) — the sample is the point, and ids are what you sample. Four
  * registered forms: `kmv_distinct` (raw keys → estimate),
  * `kmv_sketch_buffer` (raw keys → storable binary),
  * `kmv_merge_estimate` / `kmv_merge_sample` (stored binaries →
  * estimate / sample array).
  */
object KmvSketch {

  private[functions] def offer(buf: JTreeMap[Long, Long], k: Int, v: Long): Unit = {
    val h = XXH64.hashLong(v, 42L)
    if (buf.size < k) { buf.put(h, v); () }
    else if (h < buf.lastKey()) {
      buf.put(h, v)
      if (buf.size > k) { buf.remove(buf.lastKey()); () }
    }
  }

  private[functions] def mergeInto(a: JTreeMap[Long, Long], k: Int,
                                   b: JTreeMap[Long, Long]): Unit = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (a.size < k) { a.put(e.getKey, e.getValue); () }
      else if (e.getKey < a.lastKey()) {
        a.put(e.getKey, e.getValue)
        if (a.size > k) { a.remove(a.lastKey()); () }
      }
    }
  }

  private[functions] def updateRaw(buf: JTreeMap[Long, Long], k: Int,
                                   child: Expression, input: InternalRow): JTreeMap[Long, Long] = {
    val v = child.eval(input)
    // integral-only by checkIntegralKey; a hashCode() fallback here would
    // silently produce 32-bit-collision-biased estimates for other types
    if (v != null) offer(buf, k, v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalStateException(
        s"kmv sketch key must be integral, got ${other.getClass.getName}")
    })
    buf
  }

  /** Analysis-time gate for the raw-key forms: the sample IS the point
    * of KMV, so keys must be stored losslessly — only integral types
    * qualify. (Non-integral keys used to fall through to
    * `hashCode().toLong`: 32-bit-collision-biased estimates and
    * meaningless sample values.)
    */
  private[functions] def checkIntegralKey(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case ByteType | ShortType | IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$name requires an integral key column (tinyint/smallint/int/bigint), " +
          s"got ${dt.catalogString}; hash non-integral keys to bigint first (e.g. xxhash64)")
    }

  /** Top-53-bits-as-double position of a signed hash in unsigned [0,1). */
  private[functions] def frac(h: Long): Double =
    ((h ^ Long.MinValue) >>> 11).toDouble / (1L << 53).toDouble

  /** `< k` distinct seen → the buffer IS the distinct set (exact);
    * otherwise the k-th minimum's position estimates the density.
    */
  private[functions] def estimate(buf: JTreeMap[Long, Long], k: Int): Long =
    if (buf.size < k) buf.size.toLong
    else math.round((k - 1).toDouble / frac(buf.lastKey()))

  private[functions] def serializeBuf(buf: JTreeMap[Long, Long], k: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(k).putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.getKey); bb.putLong(e.getValue) }
    bb.array()
  }

  private[functions] def deserializeBuf(bytes: Array[Byte]): (Int, JTreeMap[Long, Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val m = new JTreeMap[Long, Long]()
    var i = 0
    while (i < n) { m.put(bb.getLong, bb.getLong); i += 1 }
    (k, m)
  }

  /** Merge a stored buffer (k carried in-band; 0 = empty accumulator). */
  private[functions] def mergeStored(a: (Int, JTreeMap[Long, Long]),
                                     b: (Int, JTreeMap[Long, Long])): (Int, JTreeMap[Long, Long]) =
    if (b._1 == 0) a
    else if (a._1 == 0) b
    else {
      require(a._1 == b._1, s"kmv k mismatch: ${a._1} vs ${b._1}")
      mergeInto(a._2, a._1, b._2); a
    }

  def kmv_distinct(c: Column, k: Int = 256): Column =
    call_function("kmv_distinct", c, lit(k))
  def kmv_sketch_buffer(c: Column, k: Int = 256): Column =
    call_function("kmv_sketch_buffer", c, lit(k))
  def kmv_merge_estimate(c: Column): Column = call_function("kmv_merge_estimate", c)
  def kmv_merge_sample(c: Column): Column = call_function("kmv_merge_sample", c)
}

/** One-pass distinct estimate from raw keys. */
case class KmvDistinct(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JTreeMap[Long, Long]] {
  override def createAggregationBuffer(): JTreeMap[Long, Long] = new JTreeMap[Long, Long]()
  override def update(b: JTreeMap[Long, Long], in: InternalRow): JTreeMap[Long, Long] =
    KmvSketch.updateRaw(b, k, child, in)
  override def merge(a: JTreeMap[Long, Long], b: JTreeMap[Long, Long]): JTreeMap[Long, Long] = {
    KmvSketch.mergeInto(a, k, b); a
  }
  override def eval(buf: JTreeMap[Long, Long]): Any = KmvSketch.estimate(buf, k)
  override def serialize(b: JTreeMap[Long, Long]): Array[Byte] = KmvSketch.serializeBuf(b, k)
  override def deserialize(bytes: Array[Byte]): JTreeMap[Long, Long] =
    KmvSketch.deserializeBuf(bytes)._2
  override def checkInputDataTypes(): TypeCheckResult =
    KmvSketch.checkIntegralKey(child, prettyName)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): KmvDistinct =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvDistinct =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "kmv_distinct"
}

/** Storable form: the serialized buffer as a binary column. */
case class KmvSketchBuffer(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[JTreeMap[Long, Long]] {
  override def createAggregationBuffer(): JTreeMap[Long, Long] = new JTreeMap[Long, Long]()
  override def update(b: JTreeMap[Long, Long], in: InternalRow): JTreeMap[Long, Long] =
    KmvSketch.updateRaw(b, k, child, in)
  override def merge(a: JTreeMap[Long, Long], b: JTreeMap[Long, Long]): JTreeMap[Long, Long] = {
    KmvSketch.mergeInto(a, k, b); a
  }
  override def eval(buf: JTreeMap[Long, Long]): Any = KmvSketch.serializeBuf(buf, k)
  override def serialize(b: JTreeMap[Long, Long]): Array[Byte] = KmvSketch.serializeBuf(b, k)
  override def deserialize(bytes: Array[Byte]): JTreeMap[Long, Long] =
    KmvSketch.deserializeBuf(bytes)._2
  override def checkInputDataTypes(): TypeCheckResult =
    KmvSketch.checkIntegralKey(child, prettyName)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): KmvSketchBuffer =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchBuffer =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "kmv_sketch_buffer"
}

/** Merge stored sketches → distinct estimate over the union. */
case class KmvMergeEstimate(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(Int, JTreeMap[Long, Long])] {
  override def createAggregationBuffer(): (Int, JTreeMap[Long, Long]) =
    (0, new JTreeMap[Long, Long]())
  override def update(buf: (Int, JTreeMap[Long, Long]),
                      in: InternalRow): (Int, JTreeMap[Long, Long]) = {
    val v = child.eval(in)
    if (v == null) buf
    else KmvSketch.mergeStored(buf, KmvSketch.deserializeBuf(v.asInstanceOf[Array[Byte]]))
  }
  override def merge(a: (Int, JTreeMap[Long, Long]),
                     b: (Int, JTreeMap[Long, Long])): (Int, JTreeMap[Long, Long]) =
    KmvSketch.mergeStored(a, b)
  override def eval(buf: (Int, JTreeMap[Long, Long])): Any =
    if (buf._1 == 0) 0L else KmvSketch.estimate(buf._2, buf._1)
  override def serialize(b: (Int, JTreeMap[Long, Long])): Array[Byte] =
    KmvSketch.serializeBuf(b._2, b._1)
  override def deserialize(bytes: Array[Byte]): (Int, JTreeMap[Long, Long]) =
    KmvSketch.deserializeBuf(bytes)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): KmvMergeEstimate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMergeEstimate =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "kmv_merge_estimate"
}

/** Merge stored sketches → the uniform distinct-key sample itself
  * (hash order — i.e. random order — ascending).
  */
case class KmvMergeSample(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(Int, JTreeMap[Long, Long])] {
  override def createAggregationBuffer(): (Int, JTreeMap[Long, Long]) =
    (0, new JTreeMap[Long, Long]())
  override def update(buf: (Int, JTreeMap[Long, Long]),
                      in: InternalRow): (Int, JTreeMap[Long, Long]) = {
    val v = child.eval(in)
    if (v == null) buf
    else KmvSketch.mergeStored(buf, KmvSketch.deserializeBuf(v.asInstanceOf[Array[Byte]]))
  }
  override def merge(a: (Int, JTreeMap[Long, Long]),
                     b: (Int, JTreeMap[Long, Long])): (Int, JTreeMap[Long, Long]) =
    KmvSketch.mergeStored(a, b)
  override def eval(buf: (Int, JTreeMap[Long, Long])): Any = {
    val out = new Array[Long](buf._2.size)
    val it = buf._2.values().iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
  override def serialize(b: (Int, JTreeMap[Long, Long])): Array[Byte] =
    KmvSketch.serializeBuf(b._2, b._1)
  override def deserialize(bytes: Array[Byte]): (Int, JTreeMap[Long, Long]) =
    KmvSketch.deserializeBuf(bytes)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): KmvMergeSample =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMergeSample =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "kmv_merge_sample"
}
