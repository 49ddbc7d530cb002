package graft.functions

import java.nio.ByteBuffer
import java.util.{TreeMap => JTreeMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}
import org.apache.spark.sql.functions.{call_function, lit}

/** Mergeable quantile sketch — the fourth storable sketch family next
  * to [[HllSketch]] (distinct count), [[KmvSketch]] (distinct sample)
  * and [[FreqSketch]] (frequency): "what is the p99 over an arbitrary
  * date range" off a per-day sketch table, never rescanning raw rows.
  *
  * The construction is a theta/bottom-k DISTINCT-VALUE sample with
  * exact multiplicities (bottom-k sketches: Bar-Yossef et al. 2002,
  * Beyer et al. 2007; distinct-sampling estimation: Gibbons, VLDB
  * 2001) rather than KLL/GK: those compact by position, which makes
  * merges either randomized (KLL's coin-flip compaction) or
  * order-dependent (GK) — both break this family's contract that a
  * merge of stored buffers is BIT-IDENTICAL to one pass over the
  * union. Here the whole state is a pure function of the input
  * multiset:
  *
  *  - keep the k distinct values with the smallest `xxhash64(value)`,
  *    each with its occurrence count, plus the exact row total;
  *  - `bar` = the (k+1)-th smallest distinct hash ever seen
  *    (MaxValue while under capacity). Kept set == {seen values with
  *    hash < bar}, so every surviving count is EXACT (a value below
  *    every eviction bar was never dropped anywhere — the theta-sketch
  *    retention argument), and merge = min(bars) + filter + count-sum
  *    reproduces the single-pass state byte for byte, in any order.
  *
  * Estimation: kept values sorted ascending with exact counts give a
  * sampled cumulative histogram; each distinct value is kept with
  * probability θ = frac(bar), so rank̂(v) = Σ_{kept u ≤ v} c_u / θ is
  * unbiased, and quantile(p) = smallest kept value with
  * rank̂ ≥ max(1, ceil(p·total)) — the same "discrete lower quantile"
  * convention as DuckDB's `quantile_disc`. Under capacity θ = 1, every
  * distinct value is present, and the result is EXACT — the
  * oracle-matched regime (domain-bounded metrics like integer cents
  * stay exact at any scale). Rank error under capacity is the usual
  * bottom-k O(1/√k) relative, inflated by multiplicity skew
  * (spec-pinned empirically); values must be integral (hash the bits
  * losslessly; see [[KmvSketch.checkIntegralKey]]).
  *
  * Registered forms: `qsk_quantile(x, k, p)` (raw one-pass),
  * `qsk_buffer(x, k)` (storable binary), `qsk_merge_quantile(buf, p)`
  * and `qsk_merge_total(buf)` (stored binaries → quantile / exact row
  * total over the merged range).
  */
object QuantileSketch {

  /** hash → [value, count]; bar/total as documented above. */
  final class QBuf(var k: Int, var bar: Long, var total: Long,
                   val map: JTreeMap[Long, Array[Long]]) {
    def this(k: Int) = this(k, Long.MaxValue, 0L, new JTreeMap[Long, Array[Long]]())
  }

  private def hash(v: Long): Long = XXH64.hashLong(v, 42L)

  /** Add `c` occurrences of value `v`. Maintains the invariant
    * kept == {seen : hash < bar}, |kept| ≤ k.
    */
  private[functions] def offer(b: QBuf, v: Long, c: Long): Unit = {
    val h = hash(v)
    val e = b.map.get(h)
    if (e != null) { e(1) += c; () }          // kept ⇒ h < bar: count stays exact
    else if (h < b.bar) {
      b.map.put(h, Array(v, c))
      if (b.map.size > b.k) {                  // evict the largest hash; it
        b.bar = b.map.lastKey()                // becomes the new inclusion bar
        b.map.remove(b.bar); ()
      }
    }                                          // h ≥ bar: rejected (already counted as loss)
  }

  private[functions] def updateRaw(b: QBuf, child: Expression, in: InternalRow): QBuf = {
    val v = child.eval(in)
    if (v != null) {
      val l = v match {
        case x: Long => x
        case x: Int => x.toLong
        case x: Short => x.toLong
        case x: Byte => x.toLong
        case other => throw new IllegalStateException(
          s"quantile sketch value must be integral, got ${other.getClass.getName}")
      }
      b.total += 1
      offer(b, l, 1L)
    }
    b
  }

  /** Merge `o` into `a` (k carried in-band for stored forms; k == 0 is
    * the empty accumulator). min(bars) first, then the filtered union —
    * entries at/above the merged bar may have lost counts in the other
    * input, so they leave the sample.
    */
  private[functions] def mergeInto(a: QBuf, o: QBuf): QBuf = {
    if (o.k == 0) return a
    if (a.k == 0) return o
    require(a.k == o.k, s"quantile sketch k mismatch: ${a.k} vs ${o.k}")
    a.total += o.total
    if (o.bar < a.bar) { a.bar = o.bar; while (!a.map.isEmpty && a.map.lastKey() >= a.bar) a.map.remove(a.map.lastKey()) }
    val it = o.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey < a.bar) {
        val mine = a.map.get(e.getKey)
        if (mine != null) { mine(1) += e.getValue()(1); () }
        else {
          a.map.put(e.getKey, e.getValue().clone())
          if (a.map.size > a.k) { a.bar = a.map.lastKey(); a.map.remove(a.bar); () }
        }
      }
    }
    a
  }

  /** Discrete lower quantile at `p`: smallest kept value whose
    * estimated rank reaches max(1, ceil(p·total)); exact when θ = 1.
    * Null on an empty sketch (SQL aggregates ignore empty groups'
    * absent rows the same way).
    */
  private[functions] def quantile(b: QBuf, p: Double): Any = {
    if (b.k == 0 || b.total == 0L || b.map.isEmpty) return null
    val entries = new Array[Array[Long]](b.map.size)
    val it = b.map.values().iterator()
    var i = 0
    while (it.hasNext) { entries(i) = it.next(); i += 1 }
    java.util.Arrays.sort(entries, (x: Array[Long], y: Array[Long]) => java.lang.Long.compare(x(0), y(0)))
    val theta = if (b.bar == Long.MaxValue) 1.0 else KmvSketch.frac(b.bar)
    val target = math.max(1L, math.ceil(p * b.total).toLong)
    var cum = 0.0
    i = 0
    while (i < entries.length) {
      cum += entries(i)(1) / theta
      if (cum >= target) return entries(i)(0)
      i += 1
    }
    entries(entries.length - 1)(0)             // estimated mass fell short: clamp to max
  }

  private[functions] def serializeBuf(b: QBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 + 8 + 4 + 24 * b.map.size)
    bb.putInt(b.k).putLong(b.bar).putLong(b.total).putInt(b.map.size)
    val it = b.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey).putLong(e.getValue()(0)).putLong(e.getValue()(1))
    }
    bb.array()
  }

  private[functions] def deserializeBuf(bytes: Array[Byte]): QBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new QBuf(bb.getInt, bb.getLong, bb.getLong, new JTreeMap[Long, Array[Long]]())
    val n = bb.getInt
    var i = 0
    while (i < n) { b.map.put(bb.getLong, Array(bb.getLong, bb.getLong)); i += 1 }
    b
  }

  private[functions] def updateStored(b: QBuf, child: Expression, in: InternalRow): QBuf = {
    val v = child.eval(in)
    if (v == null) b else mergeInto(b, deserializeBuf(v.asInstanceOf[Array[Byte]]))
  }

  def qsk_quantile(c: Column, k: Int, p: Double): Column =
    call_function("qsk_quantile", c, lit(k), lit(p))
  def qsk_buffer(c: Column, k: Int): Column = call_function("qsk_buffer", c, lit(k))
  def qsk_merge_quantile(c: Column, p: Double): Column =
    call_function("qsk_merge_quantile", c, lit(p))
  def qsk_merge_total(c: Column): Column = call_function("qsk_merge_total", c)
}

/** One-pass discrete quantile from raw values. */
case class QskQuantile(child: Expression, k: Int, p: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.QBuf] {
  override def createAggregationBuffer(): QuantileSketch.QBuf = new QuantileSketch.QBuf(k)
  override def update(b: QuantileSketch.QBuf, in: InternalRow): QuantileSketch.QBuf =
    QuantileSketch.updateRaw(b, child, in)
  override def merge(a: QuantileSketch.QBuf, b: QuantileSketch.QBuf): QuantileSketch.QBuf =
    QuantileSketch.mergeInto(a, b)
  override def eval(b: QuantileSketch.QBuf): Any = QuantileSketch.quantile(b, p)
  override def serialize(b: QuantileSketch.QBuf): Array[Byte] = QuantileSketch.serializeBuf(b)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.QBuf =
    QuantileSketch.deserializeBuf(bytes)
  override def checkInputDataTypes(): TypeCheckResult = {
    if (k < 2) TypeCheckResult.TypeCheckFailure(s"qsk k must be ≥ 2, got $k")
    else if (p < 0.0 || p > 1.0) TypeCheckResult.TypeCheckFailure(s"qsk p must be in [0,1], got $p")
    else KmvSketch.checkIntegralKey(child, prettyName)
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): QskQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QskQuantile =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "qsk_quantile"
}

/** Storable form: the serialized buffer as a binary column. */
case class QskBuffer(child: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.QBuf] {
  override def createAggregationBuffer(): QuantileSketch.QBuf = new QuantileSketch.QBuf(k)
  override def update(b: QuantileSketch.QBuf, in: InternalRow): QuantileSketch.QBuf =
    QuantileSketch.updateRaw(b, child, in)
  override def merge(a: QuantileSketch.QBuf, b: QuantileSketch.QBuf): QuantileSketch.QBuf =
    QuantileSketch.mergeInto(a, b)
  override def eval(b: QuantileSketch.QBuf): Any = QuantileSketch.serializeBuf(b)
  override def serialize(b: QuantileSketch.QBuf): Array[Byte] = QuantileSketch.serializeBuf(b)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.QBuf =
    QuantileSketch.deserializeBuf(bytes)
  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 2) TypeCheckResult.TypeCheckFailure(s"qsk k must be ≥ 2, got $k")
    else KmvSketch.checkIntegralKey(child, prettyName)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): QskBuffer =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QskBuffer =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "qsk_buffer"
}

/** Merge stored sketches → discrete quantile over the union. */
case class QskMergeQuantile(child: Expression, p: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.QBuf] {
  override def createAggregationBuffer(): QuantileSketch.QBuf = new QuantileSketch.QBuf(0)
  override def update(b: QuantileSketch.QBuf, in: InternalRow): QuantileSketch.QBuf =
    QuantileSketch.updateStored(b, child, in)
  override def merge(a: QuantileSketch.QBuf, b: QuantileSketch.QBuf): QuantileSketch.QBuf =
    QuantileSketch.mergeInto(a, b)
  override def eval(b: QuantileSketch.QBuf): Any = QuantileSketch.quantile(b, p)
  override def serialize(b: QuantileSketch.QBuf): Array[Byte] = QuantileSketch.serializeBuf(b)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.QBuf =
    QuantileSketch.deserializeBuf(bytes)
  override def checkInputDataTypes(): TypeCheckResult =
    if (p < 0.0 || p > 1.0) TypeCheckResult.TypeCheckFailure(s"qsk p must be in [0,1], got $p")
    else if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch column, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): QskMergeQuantile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QskMergeQuantile =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "qsk_merge_quantile"
}

/** Merge stored sketches → the EXACT row total over the union (totals
  * ride the buffer outside the sample, so they never degrade).
  */
case class QskMergeTotal(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.QBuf] {
  override def createAggregationBuffer(): QuantileSketch.QBuf = new QuantileSketch.QBuf(0)
  override def update(b: QuantileSketch.QBuf, in: InternalRow): QuantileSketch.QBuf =
    QuantileSketch.updateStored(b, child, in)
  override def merge(a: QuantileSketch.QBuf, b: QuantileSketch.QBuf): QuantileSketch.QBuf =
    QuantileSketch.mergeInto(a, b)
  override def eval(b: QuantileSketch.QBuf): Any = b.total
  override def serialize(b: QuantileSketch.QBuf): Array[Byte] = QuantileSketch.serializeBuf(b)
  override def deserialize(bytes: Array[Byte]): QuantileSketch.QBuf =
    QuantileSketch.deserializeBuf(bytes)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch column, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): QskMergeTotal =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QskMergeTotal =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "qsk_merge_total"
}
