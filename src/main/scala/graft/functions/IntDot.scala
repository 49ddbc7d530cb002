package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression for the exact integer dot product of two
  * `array<int>` columns (`int_dot(a, b)` → BIGINT) — the hot loop of
  * the quantized ANN scan ([[graft.ext.Similarity.quantizedCosineTopK]]).
  *
  * The composed `aggregate(zip_with(...))` form computes the same
  * number but runs INTERPRETED (higher-order lambdas don't participate
  * in whole-stage codegen) with a boxed Long per element — measured 18×
  * slower than the float scan at StressBench ×10, i.e. the opposite of
  * what a quantized scan exists for. This expression is the same
  * (b)-tier move as [[CosineSimilarity]]: one fused codegen loop, no
  * intermediate arrays, products widened to long before accumulation.
  *
  * Mismatched-length arrays yield NULL, matching the zip_with twin's
  * null-padding poisoning the fold. Self-application `int_dot(v, v)`
  * is the exact integer squared norm.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0L
      var i = 0
      while (i < n) {
        dot += x.getInt(i).toLong * y.getInt(i)
        i += 1
      }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (long) $a.getInt($i) * $b.getInt($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object IntDot {
  private val arrInt = ArrayType(IntegerType)

  /** Builder with implicit casts: numeric arrays become `array<int>`. */
  def builder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("int_dot", exprs, Seq(2))
    IntDot(Cast(exprs(0), arrInt), Cast(exprs(1), arrInt))
  }

  /** Column-API form (requires [[GraftExtensions]] on the session, as
    * [[graft.GraftSession]] builds it).
    */
  def int_dot(a: Column, b: Column): Column = call_function("int_dot", a, b)
}
