package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleave of two integer keys — the data-LAYOUT
  * primitive for multi-dimensional scan pruning at 100 TB: sort (or
  * range-partition) a table by `zorder(a, b)` before writing and the
  * per-file min/max of BOTH columns become tight, so predicate pushdown
  * on either dimension skips files — one sort buys two clustered
  * columns (the lakehouse `ZORDER BY` idea, from the published Morton-
  * curve construction).
  *
  * Bit-interleave via the standard magic-number spread (5 shift/mask
  * rounds), fully inlined by `doGenCode` into whole-stage codegen.
  * Inputs are masked to 31 bits (`& 0x7FFFFFFF`): keeps every shift
  * overflow-free (so the exact same arithmetic runs on engines with
  * checked shifts — the DuckDB oracle twin), and keeps the result
  * positive so SIGNED ordering equals unsigned Morton ordering.
  * Integer-exact → oracle-checkable, unlike float layout heuristics.
  */
case class ZOrder(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "zorder"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      // static call keeps the generated method small; JIT inlines it
      s"${ev.value} = graft.functions.ZOrder.interleave($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object ZOrder {

  /** Spread the low 31 bits of `v` to even bit positions. Every shift
    * is overflow-free given the preceding mask (documented bound).
    */
  def spread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL                       // < 2^31
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL     // < 2^48 pre-shift
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL      // < 2^56
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL      // < 2^60
    x = (x | (x << 2)) & 0x3333333333333333L      // < 2^62
    (x | (x << 1)) & 0x5555555555555555L          // even positions
  }

  /** Morton code: bits of `a` on even positions, `b` on odd. */
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  def zorderBuilder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("zorder", exprs, Seq(2))
    ZOrder(
      org.apache.spark.sql.catalyst.expressions.Cast(exprs(0), LongType),
      org.apache.spark.sql.catalyst.expressions.Cast(exprs(1), LongType))
  }

  /** Column form (requires [[GraftExtensions]] on the session). */
  def zorder(a: Column, b: Column): Column = call_function("zorder", a, b)
}
