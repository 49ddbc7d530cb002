package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType}

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

  /** `winnow_fps(text, k, w)` — k and w must be integer literals (they
    * parameterize the generated code).
    */
  def winnowFpsBuilder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("winnow_fps", exprs, Seq(3))
    WinnowFps(exprs(0),
      FnArgs.intLit("winnow_fps", exprs, 1, "k"),
      FnArgs.intLit("winnow_fps", exprs, 2, "w"))
  }

  /** Builder of an aggregate `fn(x [, size])` whose optional second
    * argument is an integer-literal size parameter.
    */
  private def sized(fn: String, param: String, default: Int)(
      make: (Expression, Int) => Expression)(exprs: Seq[Expression]): Expression = {
    FnArgs.arity(fn, exprs, Seq(1, 2))
    make(exprs.head, if (exprs.length > 1) FnArgs.intLit(fn, exprs, 1, param) else default)
  }

  /** Builder of a one-argument aggregate over stored sketch buffers. */
  private def unary(fn: String)(make: Expression => Expression)(
      exprs: Seq[Expression]): Expression =
    make(FnArgs.arity(fn, exprs, Seq(1)).head)

  /** Builder of `fn(shingle, numHashes)`. */
  private def hashed(fn: String)(make: (Expression, Int) => Expression)(
      exprs: Seq[Expression]): Expression =
    make(FnArgs.arity(fn, exprs, Seq(2)).head, FnArgs.intLit(fn, exprs, 1, "numHashes"))

  /** Every graft SQL function, once: its name, the expression class its
    * `ExpressionInfo` names, and its builder. [[GraftExtensions]]
    * injects the whole table at session build; there is no other
    * registration path.
    */
  val table: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], cosineSimBuilder),
    ("zorder", classOf[ZOrder], ZOrder.zorderBuilder),
    ("unicode_normalize", classOf[UnicodeNormalize], UnicodeNormalize.builder),
    ("winnow_fps", classOf[WinnowFps], winnowFpsBuilder),
    ("int_dot", classOf[IntDot], IntDot.builder),
    ("int8_codes", classOf[Int8Codes], Int8Codes.builder),
    ("int8_bytes", classOf[Int8Bytes], Int8Bytes.builder),
    ("int_dot_bytes", classOf[IntDotBytes], IntDotBytes.builder),
    ("centroid_scores", classOf[CentroidScores], CentroidScores.builder),
    ("int8_unpack", classOf[Int8Unpack], Int8Unpack.builder),
    ("uint8_unpack", classOf[Uint8Unpack], Uint8Unpack.builder),
    ("pq_encode", classOf[PqEncode], PqCodes.encodeBuilder),
    ("pq_lut", classOf[PqLut], PqCodes.lutBuilder),
    ("pq_adc", classOf[PqAdc], PqCodes.adcBuilder),
    ("pq_recon", classOf[PqRecon], PqCodes.reconBuilder),
    ("int_vec_add", classOf[IntVecOp], PqCodes.vecAddBuilder),
    ("int_vec_sub", classOf[IntVecOp], PqCodes.vecSubBuilder),
    ("minhash_sketch", classOf[MinHashSketch],
      hashed("minhash_sketch")(MinHashSketch(_, _))),
    ("md5_minhash_sketch", classOf[Md5MinHashSketch],
      hashed("md5_minhash_sketch")(Md5MinHashSketch(_, _))),
    ("simhash_sketch", classOf[SimHashSketch],
      unary("simhash_sketch")(SimHashSketch(_))),
    ("hll_distinct", classOf[HllSketch],
      sized("hll_distinct", "p", 14)(HllSketch(_, _))),
    ("hll_sketch_buffer", classOf[HllSketchBuffer],
      sized("hll_sketch_buffer", "p", 14)(HllSketchBuffer(_, _))),
    ("hll_merge", classOf[HllMerge], unary("hll_merge")(HllMerge(_))),
    ("kmv_distinct", classOf[KmvDistinct],
      sized("kmv_distinct", "k", 256)(KmvDistinct(_, _))),
    ("kmv_sketch_buffer", classOf[KmvSketchBuffer],
      sized("kmv_sketch_buffer", "k", 256)(KmvSketchBuffer(_, _))),
    ("kmv_merge_estimate", classOf[KmvMergeEstimate],
      unary("kmv_merge_estimate")(KmvMergeEstimate(_))),
    ("kmv_merge_sample", classOf[KmvMergeSample],
      unary("kmv_merge_sample")(KmvMergeSample(_))),
    ("mg_topk", classOf[MgTopK], sized("mg_topk", "k", 64)(MgTopK(_, _))),
    ("mg_sketch_buffer", classOf[MgSketchBuffer],
      sized("mg_sketch_buffer", "k", 64)(MgSketchBuffer(_, _))),
    ("mg_merge_topk", classOf[MgMergeTopK], unary("mg_merge_topk")(MgMergeTopK(_))),
    ("qsk_quantile", classOf[QskQuantile], exprs => QskQuantile(
      FnArgs.arity("qsk_quantile", exprs, Seq(3)).head,
      FnArgs.intLit("qsk_quantile", exprs, 1, "k"),
      FnArgs.doubleLit("qsk_quantile", exprs, 2, "p"))),
    ("qsk_buffer", classOf[QskBuffer], exprs => QskBuffer(
      FnArgs.arity("qsk_buffer", exprs, Seq(2)).head,
      FnArgs.intLit("qsk_buffer", exprs, 1, "k"))),
    ("qsk_merge_quantile", classOf[QskMergeQuantile], exprs => QskMergeQuantile(
      FnArgs.arity("qsk_merge_quantile", exprs, Seq(2)).head,
      FnArgs.doubleLit("qsk_merge_quantile", exprs, 1, "p"))),
    ("qsk_merge_total", classOf[QskMergeTotal],
      unary("qsk_merge_total")(QskMergeTotal(_))))

  /** Column-API form: `cosine_sim($"a", $"b")` (requires
    * [[GraftExtensions]] on the session).
    */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}

/** One-stop session extension registering ALL of graft's Catalyst
  * additions — every native function of [[GraftFunctions.table]], the
  * TopKPerKey and VectorizedCosine planner strategies, the CollapseTopK
  * optimizer rule and the columnar cosine rule — through `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions`, which
  * [[graft.GraftSession]] sets. This is the only path that registers
  * any of them: a session built without it has no graft function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectPlannerStrategy(_ => graft.plans.VectorizedCosineStrategy)
    e.injectOptimizerRule(_ => graft.plans.CollapseTopK)
    // columnar tier: fuse CosineScoreExec into the batched scan. Builder-
    // time only — Spark has no runtime hook for columnar rules.
    e.injectColumnar(_ => new graft.plans.VectorizedCosineRule)
  }
}
