package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression,
  ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

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
  * `.withExtensions` or `spark.sql.extensions`) or
  * [[GraftFunctions.register]].
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

object GraftFunctions {
  private val arrDouble = ArrayType(DoubleType)

  /** Expression builder with implicit-cast behavior: any numeric array
    * argument (e.g. the testdata's `array<float>`) is cast to
    * `array<double>` before hitting the native loop.
    */
  def cosineSimBuilder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("cosine_sim", exprs, Seq(2))
    CosineSimilarity(Cast(exprs(0), arrDouble), Cast(exprs(1), arrDouble))
  }

  /** Register graft's native functions on an existing session (the
    * runtime-equivalent of [[GraftExtensions]]). Idempotent-QUIET via
    * [[FnArgs.registerQuiet]]: operators call this per use site; an
    * already-present entry is skipped only when its `ExpressionInfo`
    * names a graft class, and a foreign same-named temp function is
    * replaced so graft operators never silently resolve someone else's
    * implementation.
    */
  def register(spark: SparkSession): Unit = {
    val reg1 = FnArgs.registerQuiet(spark) _
    reg1("cosine_sim", cosineSimBuilder, classOf[CosineSimilarity])
    reg1("zorder", ZOrder.zorderBuilder, classOf[ZOrder])
    reg1("unicode_normalize", UnicodeNormalize.builder, classOf[UnicodeNormalize])
    reg1("winnow_fps", winnowFpsBuilder, classOf[WinnowFps])
    reg1("int_dot", IntDot.builder, classOf[IntDot])
    reg1("int8_codes", Int8Codes.builder, classOf[Int8Codes])
    reg1("int8_bytes", Int8Bytes.builder, classOf[Int8Bytes])
    reg1("int_dot_bytes", IntDotBytes.builder, classOf[IntDotBytes])
    reg1("centroid_scores", CentroidScores.builder, classOf[CentroidScores])
    reg1("int8_unpack", Int8Unpack.builder, classOf[Int8Unpack])
    reg1("uint8_unpack", Uint8Unpack.builder, classOf[Uint8Unpack])
    reg1("pq_encode", PqCodes.encodeBuilder, classOf[PqEncode])
    reg1("pq_lut", PqCodes.lutBuilder, classOf[PqLut])
    reg1("pq_adc", PqCodes.adcBuilder, classOf[PqAdc])
    reg1("pq_recon", PqCodes.reconBuilder, classOf[PqRecon])
    reg1("int_vec_add", PqCodes.vecAddBuilder, classOf[IntVecOp])
    reg1("int_vec_sub", PqCodes.vecSubBuilder, classOf[IntVecOp])
  }

  /** `winnow_fps(text, k, w)` — k and w must be integer literals (they
    * parameterize the generated code).
    */
  def winnowFpsBuilder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("winnow_fps", exprs, Seq(3))
    WinnowFps(exprs(0),
      FnArgs.intLit("winnow_fps", exprs, 1, "k"),
      FnArgs.intLit("winnow_fps", exprs, 2, "w"))
  }

  /** Column-API form: `cosine_sim($"a", $"b")` (requires [[register]] or
    * [[GraftExtensions]] on the session).
    */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}

/** One-stop session extension registering ALL of graft's Catalyst
  * additions — native functions (cosine_sim, minhash_sketch,
  * simhash_sketch, hll_distinct, …), the TopKPerKey and VectorizedCosine
  * planner strategies, the CollapseTopK optimizer rule and the columnar
  * cosine rule — through `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions`, which
  * [[graft.GraftSession]] sets. This is the only path that registers the
  * strategies and rules; [[GraftFunctions.register]] adds the functions
  * alone to a session built without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      GraftFunctions.cosineSimBuilder _))
    e.injectFunction((
      new FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashSketch].getName, "minhash_sketch"),
      (exprs: Seq[Expression]) => MinHashSketch(
        FnArgs.arity("minhash_sketch", exprs, Seq(2)).head,
        FnArgs.intLit("minhash_sketch", exprs, 1, "numHashes"))))
    e.injectFunction((
      new FunctionIdentifier("simhash_sketch"),
      new ExpressionInfo(classOf[SimHashSketch].getName, "simhash_sketch"),
      (exprs: Seq[Expression]) =>
        SimHashSketch(FnArgs.arity("simhash_sketch", exprs, Seq(1)).head)))
    e.injectFunction((
      new FunctionIdentifier("hll_distinct"),
      new ExpressionInfo(classOf[HllSketch].getName, "hll_distinct"),
      (exprs: Seq[Expression]) => HllSketch(
        FnArgs.arity("hll_distinct", exprs, Seq(1, 2)).head,
        if (exprs.length > 1) FnArgs.intLit("hll_distinct", exprs, 1, "p") else 14)))
    e.injectFunction((
      new FunctionIdentifier("zorder"),
      new ExpressionInfo(classOf[ZOrder].getName, "zorder"),
      ZOrder.zorderBuilder _))
    e.injectFunction((
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      UnicodeNormalize.builder _))
    e.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      GraftFunctions.winnowFpsBuilder _))
    e.injectFunction((
      new FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDot].getName, "int_dot"),
      IntDot.builder _))
    e.injectFunction((
      new FunctionIdentifier("int8_codes"),
      new ExpressionInfo(classOf[Int8Codes].getName, "int8_codes"),
      Int8Codes.builder _))
    e.injectFunction((
      new FunctionIdentifier("int8_bytes"),
      new ExpressionInfo(classOf[Int8Bytes].getName, "int8_bytes"),
      Int8Bytes.builder _))
    e.injectFunction((
      new FunctionIdentifier("int_dot_bytes"),
      new ExpressionInfo(classOf[IntDotBytes].getName, "int_dot_bytes"),
      IntDotBytes.builder _))
    e.injectFunction((
      new FunctionIdentifier("centroid_scores"),
      new ExpressionInfo(classOf[CentroidScores].getName, "centroid_scores"),
      CentroidScores.builder _))
    e.injectFunction((
      new FunctionIdentifier("int8_unpack"),
      new ExpressionInfo(classOf[Int8Unpack].getName, "int8_unpack"),
      Int8Unpack.builder _))
    e.injectFunction((
      new FunctionIdentifier("uint8_unpack"),
      new ExpressionInfo(classOf[Uint8Unpack].getName, "uint8_unpack"),
      Uint8Unpack.builder _))
    e.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      PqCodes.encodeBuilder _))
    e.injectFunction((
      new FunctionIdentifier("pq_lut"),
      new ExpressionInfo(classOf[PqLut].getName, "pq_lut"),
      PqCodes.lutBuilder _))
    e.injectFunction((
      new FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      PqCodes.adcBuilder _))
    e.injectFunction((
      new FunctionIdentifier("pq_recon"),
      new ExpressionInfo(classOf[PqRecon].getName, "pq_recon"),
      PqCodes.reconBuilder _))
    e.injectFunction((
      new FunctionIdentifier("int_vec_add"),
      new ExpressionInfo(classOf[IntVecOp].getName, "int_vec_add"),
      PqCodes.vecAddBuilder _))
    e.injectFunction((
      new FunctionIdentifier("int_vec_sub"),
      new ExpressionInfo(classOf[IntVecOp].getName, "int_vec_sub"),
      PqCodes.vecSubBuilder _))
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectPlannerStrategy(_ => graft.plans.VectorizedCosineStrategy)
    e.injectOptimizerRule(_ => graft.plans.CollapseTopK)
    // columnar tier: fuse CosineScoreExec into the batched scan. Builder-
    // time only — Spark has no runtime hook for columnar rules.
    e.injectColumnar(_ => new graft.plans.VectorizedCosineRule)
  }
}
