package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.{HashMap => JHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items ("heavy hitters") sketch — the third
  * mergeable sketch family next to [[HllSketch]] and [[KmvSketch]],
  * from the published summaries (Misra & Gries 1982; merge rule from
  * Agarwal et al., "Mergeable Summaries", PODS 2012): at most
  * `capacity` (item, count) counters; an unseen item over capacity
  * decrements every counter instead of evicting one.
  *
  * Guarantees (N = stream length, k = capacity):
  *  - every item with true frequency > N/(k+1) is present;
  *  - `true - N/(k+1) <= reported <= true` for every reported item;
  *  - EXACT counts whenever the number of distinct items is <= k
  *    (no decrement ever fires), independent of partitioning — the
  *    regime the oracle-matched driver query runs in.
  *
  * Merge = counter-wise add, then subtract the (k+1)-th largest count
  * from all and drop non-positives — associative error: a merged
  * summary keeps the N/(k+1) bound over the combined stream, so
  * map-side partials and parquet-stored per-day buffers compose like
  * the other sketch tables. Keys are strings (tokens, langs, domains —
  * the things one mines for heavy hitters). Three registered forms:
  * `mg_topk` (raw keys → sorted (item,count) array),
  * `mg_sketch_buffer` (raw keys → storable binary),
  * `mg_merge_topk` (stored binaries → sorted (item,count) array).
  */
object FreqSketch {

  type Buf = JHashMap[String, Long]

  private[functions] def offer(buf: Buf, k: Int, item: String): Unit = {
    if (buf.containsKey(item)) { buf.put(item, buf.get(item) + 1L); () }
    else if (buf.size < k) { buf.put(item, 1L); () }
    else {
      // decrement-all: amortized O(1) — each decrement cancels a
      // previous increment, so total work is linear in the stream
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Agarwal et al. merge: add counts, then if over capacity subtract
    * the (k+1)-th largest count from every counter and drop the
    * non-positive ones (at most k survive by construction).
    */
  private[functions] def mergeInto(a: Buf, k: Int, b: Buf): Unit = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val prev = if (a.containsKey(e.getKey)) a.get(e.getKey) else 0L
      a.put(e.getKey, prev + e.getValue)
    }
    if (a.size > k) {
      val counts = a.values().asScala.toArray.sorted(Ordering[Long].reverse)
      val sub = counts(k) // (k+1)-th largest
      val jt = a.entrySet().iterator()
      while (jt.hasNext) {
        val e = jt.next()
        if (e.getValue <= sub) jt.remove() else e.setValue(e.getValue - sub)
      }
    }
  }

  private[functions] def updateRaw(buf: Buf, k: Int,
                                   child: Expression, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) offer(buf, k, v.asInstanceOf[UTF8String].toString)
    buf
  }

  private[functions] def checkStringKey(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$name requires a string key column, got ${dt.catalogString}; " +
          "cast or format non-string keys first")
    }

  /** Deterministic result form: (item, count) rows, count descending,
    * item ascending on ties.
    */
  private[functions] def toRows(buf: Buf): GenericArrayData = {
    val entries = buf.entrySet().asScala.toArray
      .map(e => (e.getKey, e.getValue))
      .sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(entries.map { case (item, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(item), c)): Any
    })
  }

  private[functions] val rowType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("count", LongType, nullable = false))),
    containsNull = false)

  private[functions] def serializeBuf(buf: Buf, k: Int): Array[Byte] = {
    val items = buf.entrySet().asScala.toArray
    val payloads = items.map(e => e.getKey.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(8 + payloads.map(_.length + 12).sum)
    bb.putInt(k).putInt(items.length)
    var i = 0
    while (i < items.length) {
      bb.putInt(payloads(i).length).put(payloads(i)).putLong(items(i).getValue)
      i += 1
    }
    bb.array()
  }

  private[functions] def deserializeBuf(bytes: Array[Byte]): (Int, Buf) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val m = new JHashMap[String, Long]()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val payload = new Array[Byte](len)
      bb.get(payload)
      m.put(new String(payload, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    (k, m)
  }

  /** Merge a stored buffer (k carried in-band; 0 = empty accumulator). */
  private[functions] def mergeStored(a: (Int, Buf), b: (Int, Buf)): (Int, Buf) =
    if (b._1 == 0) a
    else if (a._1 == 0) b
    else {
      require(a._1 == b._1, s"mg capacity mismatch: ${a._1} vs ${b._1}")
      mergeInto(a._2, a._1, b._2); a
    }

  def mg_topk(c: Column, k: Int = 64): Column = call_function("mg_topk", c, lit(k))
  def mg_sketch_buffer(c: Column, k: Int = 64): Column =
    call_function("mg_sketch_buffer", c, lit(k))
  def mg_merge_topk(c: Column): Column = call_function("mg_merge_topk", c)
}

/** One-pass frequent items from raw string keys. */
case class MgTopK(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqSketch.Buf] {
  override def createAggregationBuffer(): FreqSketch.Buf = new JHashMap[String, Long]()
  override def update(b: FreqSketch.Buf, in: InternalRow): FreqSketch.Buf =
    FreqSketch.updateRaw(b, k, child, in)
  override def merge(a: FreqSketch.Buf, b: FreqSketch.Buf): FreqSketch.Buf = {
    FreqSketch.mergeInto(a, k, b); a
  }
  override def eval(buf: FreqSketch.Buf): Any = FreqSketch.toRows(buf)
  override def serialize(b: FreqSketch.Buf): Array[Byte] = FreqSketch.serializeBuf(b, k)
  override def deserialize(bytes: Array[Byte]): FreqSketch.Buf =
    FreqSketch.deserializeBuf(bytes)._2
  override def checkInputDataTypes(): TypeCheckResult =
    FreqSketch.checkStringKey(child, prettyName)
  override def dataType: DataType = FreqSketch.rowType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): MgTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgTopK =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "mg_topk"
}

/** Storable form: the serialized counter set as a binary column. */
case class MgSketchBuffer(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqSketch.Buf] {
  override def createAggregationBuffer(): FreqSketch.Buf = new JHashMap[String, Long]()
  override def update(b: FreqSketch.Buf, in: InternalRow): FreqSketch.Buf =
    FreqSketch.updateRaw(b, k, child, in)
  override def merge(a: FreqSketch.Buf, b: FreqSketch.Buf): FreqSketch.Buf = {
    FreqSketch.mergeInto(a, k, b); a
  }
  override def eval(buf: FreqSketch.Buf): Any = FreqSketch.serializeBuf(buf, k)
  override def serialize(b: FreqSketch.Buf): Array[Byte] = FreqSketch.serializeBuf(b, k)
  override def deserialize(bytes: Array[Byte]): FreqSketch.Buf =
    FreqSketch.deserializeBuf(bytes)._2
  override def checkInputDataTypes(): TypeCheckResult =
    FreqSketch.checkStringKey(child, prettyName)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): MgSketchBuffer =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgSketchBuffer =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "mg_sketch_buffer"
}

/** Merge stored sketches → sorted (item, count) array over the union. */
case class MgMergeTopK(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(Int, FreqSketch.Buf)] {
  override def createAggregationBuffer(): (Int, FreqSketch.Buf) =
    (0, new JHashMap[String, Long]())
  override def update(buf: (Int, FreqSketch.Buf), in: InternalRow): (Int, FreqSketch.Buf) = {
    val v = child.eval(in)
    if (v == null) buf
    else FreqSketch.mergeStored(buf, FreqSketch.deserializeBuf(v.asInstanceOf[Array[Byte]]))
  }
  override def merge(a: (Int, FreqSketch.Buf), b: (Int, FreqSketch.Buf)): (Int, FreqSketch.Buf) =
    FreqSketch.mergeStored(a, b)
  override def eval(buf: (Int, FreqSketch.Buf)): Any = FreqSketch.toRows(buf._2)
  override def serialize(b: (Int, FreqSketch.Buf)): Array[Byte] =
    FreqSketch.serializeBuf(b._2, b._1)
  override def deserialize(bytes: Array[Byte]): (Int, FreqSketch.Buf) =
    FreqSketch.deserializeBuf(bytes)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got ${dt.catalogString}")
    }
  override def dataType: DataType = FreqSketch.rowType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): MgMergeTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgMergeTopK =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "mg_merge_topk"
}
