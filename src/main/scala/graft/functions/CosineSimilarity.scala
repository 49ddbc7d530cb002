package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen (`doGenCode`
  * emits a fused dot/norm loop — one pass, no intermediate arrays).
  *
  * This is the (b)-tier custom operator of the preference order (compose
  * built-ins → custom Expression → custom plan): the `zip_with` +
  * `aggregate` composition in [[graft.ext.Similarity]] is the baseline;
  * this expression computes the identical double (same fold order)
  * without materializing the element-wise product array. Registered for
  * SQL as `cosine_sim(a, b)` via [[GraftExtensions]] (builder
  * `.withExtensions` or `spark.sql.extensions`, as [[graft.GraftSession]]
  * sets it).
  *
  * Children must be `array<double>`; [[GraftFunctions]] wraps arguments
  * in casts so `array<float>` inputs work transparently.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // Mismatched-length arrays yield NULL (can go null even on non-null
  // inputs), matching the composed zip_with/aggregate twin where the
  // null-padded products poison the fold. Pinned in EdgeCasesSpec.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: this body is inlined into shared codegen scope
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
