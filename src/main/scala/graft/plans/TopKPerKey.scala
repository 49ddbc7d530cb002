package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Custom whole-operator: top-k rows per key by (score DESC, tie ASC) —
  * the (c)-tier extension (LogicalPlan + Strategy + SparkPlan), used
  * where built-ins genuinely can't express the efficient shape: the
  * window-function form (`row_number over (partition by k order by s)`
  * + filter) must fully sort every key group; this operator keeps a
  * bounded k-element heap per key and — crucially — runs a PARTIAL pass
  * before the shuffle, so at 100 TB each mapper ships at most k rows per
  * key instead of the whole group (the same partial/final contract as
  * hash aggregation, which no window function has).
  *
  * Semantics proven equal to [[graft.ops.Relational.windowTopK]] and the
  * DuckDB row_number oracle (ties impossible by construction: tie column
  * is unique per key).
  */
case class TopKPerKeyPlan(keys: Seq[Expression], score: Expression,
    tie: Expression, k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Bounded k-element "keep the best" heap on primitive arrays — no
  * per-row boxing (the tuple-based PriorityQueue it replaced allocated a
  * `(Double, Long, UnsafeRow)` per enqueue and boxed on every sift
  * compare; measured ~1.5× slower on enqueue-heavy partitions). Root is
  * always the WORST kept element (lowest score, then highest tie), so
  * admission is a single primitive compare against index 0 and rejected
  * rows are never copied.
  */
private[plans] final class BoundedTopK(k: Int) {
  private val scores = new Array[Double](k)
  private val ties = new Array[Long](k)
  // bit 0 = score is NULL, bit 1 = tie is NULL. Explicit flags instead of
  // sentinel values: a -Inf sentinel for NULL score would TIE a genuine
  // -Inf score instead of ordering after it (ditto Long.MaxValue ties).
  private val flags = new Array[Int](k)
  private val rows = new Array[UnsafeRow](k)
  private var n = 0

  // strict "a is worse than b" in keep order (= window order row k comes
  // after row k-1): score DESC NULLS LAST, then tie ASC NULLS FIRST —
  // exactly Spark's desc/asc null placement in the window twin.
  @inline private def worse(s1: Double, t1: Long, f1: Int,
                            s2: Double, t2: Long, f2: Int): Boolean = {
    val sn1 = (f1 & 1) != 0; val sn2 = (f2 & 1) != 0
    if (sn1 != sn2) sn1
    else if (!sn1 && s1 != s2) s1 < s2
    else {
      val tn1 = (f1 & 2) != 0; val tn2 = (f2 & 2) != 0
      if (tn1 != tn2) tn2
      else !tn1 && t1 > t2
    }
  }

  /** Offer a row; `rowCopy` is only evaluated (and the row only copied)
    * if it is admitted.
    */
  def offer(s: Double, t: Long, f: Int, rowCopy: => UnsafeRow): Unit =
    if (n < k) {
      var i = n
      scores(i) = s; ties(i) = t; flags(i) = f; rows(i) = rowCopy
      n += 1
      while (i > 0 && worse(scores(i), ties(i), flags(i),
          scores((i - 1) / 2), ties((i - 1) / 2), flags((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (worse(scores(0), ties(0), flags(0), s, t, f)) {
      scores(0) = s; ties(0) = t; flags(0) = f; rows(0) = rowCopy
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ties(l), flags(l), scores(w), ties(w), flags(w))) w = l
        if (r < n && worse(scores(r), ties(r), flags(r), scores(w), ties(w), flags(w))) w = r
        if (w == i) done = true
        else { swap(i, w); i = w }
      }
    }

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val t = ties(i); ties(i) = ties(j); ties(j) = t
    val f = flags(i); flags(i) = flags(j); flags(j) = f
    val r = rows(i); rows(i) = rows(j); rows(j) = r
  }

  def iterator: Iterator[UnsafeRow] = rows.iterator.take(n)
}

case class TopKPerKeyExec(keys: Seq[Expression], score: Expression,
    tie: Expression, k: Int, partial: Boolean, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      // one generated projection for (score, tie) → primitive reads per
      // row, no boxing in the heap loop
      val ordProj = UnsafeProjection.create(
        Seq(Cast(score, DoubleType), Cast(tie, LongType)), childOutput)
      val heaps = scala.collection.mutable.LinkedHashMap.empty[UnsafeRow, BoundedTopK]
      it.foreach { row =>
        val key = keyProj(row)
        val ord = ordProj(row)
        // NULL-ness travels as an explicit flag (reading the raw slot of
        // a null would silently yield 0.0, outranking genuine negative
        // scores; a sentinel would tie genuine -Inf / MaxValue values)
        val sNull = ord.isNullAt(0)
        val tNull = ord.isNullAt(1)
        val s = if (sNull) 0.0 else ord.getDouble(0)
        val t = if (tNull) 0L else ord.getLong(1)
        val f = (if (sNull) 1 else 0) | (if (tNull) 2 else 0)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = new BoundedTopK(k)
            heaps.put(key.copy(), h)
            h
        }
        heap.offer(s, t, f, row.asInstanceOf[UnsafeRow].copy())
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"
}

/** Planner strategy: logical TopKPerKeyPlan → partial exec (map side,
  * before the exchange EnsureRequirements inserts) + final exec.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, score, tie, k, child) =>
      TopKPerKeyExec(keys, score, tie, k, partial = false,
        TopKPerKeyExec(keys, score, tie, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Top-k rows of `df` per `keyCols`, ranked by `scoreCol` DESC with
    * `tieCol` ASC as the deterministic tie-break. Plans only on a session
    * built with `GraftExtensions` ([[graft.GraftSession]]), which
    * registers the strategy and [[CollapseTopK]].
    */
  def apply(df: DataFrame, keyCols: Seq[String], scoreCol: String,
            tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column '$name'"))
    GraftBridge.ofRows(spark, TopKPerKeyPlan(
      keyCols.map(attr), attr(scoreCol), attr(tieCol), k, analyzed))
  }
}
