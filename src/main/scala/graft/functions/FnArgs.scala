package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, NumericType, ShortType}

/** Builder-time argument validation shared by graft's registered SQL
  * functions. A builder that blindly runs `exprs(1).eval()` turns SQL
  * like `winnow_fps(text)` (missing parameter) or
  * `winnow_fps(text, k_col, w)` (non-literal parameter) into an opaque
  * IndexOutOfBoundsException / ClassCastException — or worse, evals an
  * unresolved expression at plan time. These helpers fail analysis with
  * Spark's own error classes (`WRONG_NUM_ARGS`, `NON_FOLDABLE_ARGUMENT`)
  * instead, the message a user can actually act on.
  */
private[functions] object FnArgs {

  /** Arity gate; `expected` lists every legal argument count. */
  def arity(fn: String, exprs: Seq[Expression], expected: Seq[Int]): Seq[Expression] = {
    if (!expected.contains(exprs.length))
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fn`",
        "expectedNum" -> expected.mkString(" or "),
        "actualNum" -> exprs.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    exprs
  }

  /** Integer-literal parameter: must be foldable, integral-typed, and
    * non-null (these parameters size codegen buffers — they cannot be
    * data-dependent).
    */
  def intLit(fn: String, exprs: Seq[Expression], idx: Int, paramName: String): Int = {
    val e = exprs(idx)
    val integral = e.resolved && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val v = if (integral && e.foldable) e.eval() else null
    if (v == null)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fn`", "paramName" -> s"`$paramName`",
        "paramType" -> "\"INT\""))
    v.asInstanceOf[Number].intValue()
  }

  /** Numeric-literal parameter evaluated as a double (e.g. a quantile
    * probability).
    */
  def doubleLit(fn: String, exprs: Seq[Expression], idx: Int, paramName: String): Double = {
    val e = exprs(idx)
    val v =
      if (e.resolved && e.foldable && e.dataType.isInstanceOf[NumericType]) e.eval()
      else null
    if (v == null)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$fn`", "paramName" -> s"`$paramName`",
        "paramType" -> "\"DOUBLE\""))
    v match {
      // SQL `0.5` parses as a DECIMAL literal, not a Number subclass
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
    }
  }
}
