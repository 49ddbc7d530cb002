package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types._

/** Batched nearest-centroid scoring as ONE native codegen loop
  * (`centroid_scores(qv, qsq, matrix, csqs, cids)` →
  * `array<struct<sim double, nid int>>`) — the scale fix for the IVF
  * index family's centroid ranking.
  *
  * The previous form unrolled one `struct(int_dot(qv, lit(cv)) / …)`
  * per centroid: correct and codegen'd, but the GENERATED CODE grows
  * linearly with nList — fine at nList=16, pathological at 256 (Janino
  * method bodies blow past JIT/64KB limits and the stage decays), dead
  * at 4096. The higher-order `transform` form is constant-size but
  * evaluates interpreted per element (the measured round-11 cliff).
  * This expression is constant-size codegen with a RUNTIME loop over a
  * flat packed centroid matrix: nList × dim int8 codes in one `byte[]`
  * reference object (codes are in [-127, 127] by construction, so the
  * byte form is lossless), squared norms and centroid ids alongside.
  * Cost per row is O(nList × dim) multiply-adds inside whole-stage
  * codegen regardless of nList — the same arithmetic, three orders of
  * magnitude less generated code.
  *
  * Element semantics match the unrolled form EXACTLY (spec-pinned at
  * nList=16): `sim = (double) int_dot(qv, cv) / sqrt((double) qsq *
  * (double) csq)`, `nid = -cid` (negated so max-of-struct ties break
  * to the LOWEST centroid id), array in given centroid order. The one
  * divergence is the impossible-by-construction dimension mismatch:
  * the unrolled form yields per-struct NULL sims, this form yields one
  * NULL array.
  *
  * The matrix/csqs/cids are CONSTRUCTOR parameters (embedded as
  * codegen reference objects), not child expressions — they size and
  * feed the loop and must be plan-time constants, exactly like
  * [[WinnowFps]]'s k/w. The SQL builder accepts them as foldable
  * literals.
  */
case class CentroidScores(left: Expression, right: Expression,
                          matrix: IndexedSeq[Byte], csqs: IndexedSeq[Long],
                          cids: IndexedSeq[Int])
    extends BinaryExpression {

  require(csqs.nonEmpty, "centroid_scores needs at least one centroid")
  require(csqs.length == cids.length,
    "centroid_scores: csqs and cids must have one entry per centroid")
  require(matrix.length % csqs.length == 0,
    "centroid_scores: matrix length must be nList * dim")

  private def nList: Int = csqs.length

  // struct fields mirror the unrolled twin's nullability (sim was a
  // Divide → nullable; nid was a negated int literal → non-nullable)
  private val structType = StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("nid", IntegerType, nullable = false)))

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def prettyName: String = "centroid_scores"
  override def nullable: Boolean = true

  @transient private lazy val matrixArr: Array[Byte] = matrix.toArray
  @transient private lazy val csqArr: Array[Long] = csqs.toArray
  @transient private lazy val cidArr: Array[Int] = cids.toArray

  override def nullSafeEval(a: Any, b: Any): Any = {
    val qv = a.asInstanceOf[ArrayData]
    val qsq = b.asInstanceOf[Long]
    val n = qv.numElements()
    if (matrixArr.length != nList * n) null
    else {
      val out = new Array[Any](nList)
      var c = 0
      while (c < nList) {
        var dot = 0L
        val base = c * n
        var i = 0
        while (i < n) {
          dot += qv.getInt(i).toLong * matrixArr(base + i)
          i += 1
        }
        val sim = dot.toDouble / math.sqrt(qsq.toDouble * csqArr(c).toDouble)
        val row = new GenericInternalRow(2)
        row.update(0, sim)
        row.update(1, -cidArr(c))
        out(c) = row
        c += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("centroidMatrix", matrixArr, "byte[]")
    val sqRef = ctx.addReferenceObj("centroidSq", csqArr, "long[]")
    val idRef = ctx.addReferenceObj("centroidIds", cidArr, "int[]")
    nullSafeCodeGen(ctx, ev, (qv, qsq) => {
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
      val base = ctx.freshName("base"); val out = ctx.freshName("out")
      val row = ctx.freshName("row"); val sim = ctx.freshName("sim")
      s"""
         |int $n = $qv.numElements();
         |if ($mRef.length != ${nList} * $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  Object[] $out = new Object[${nList}];
         |  for (int $c = 0; $c < ${nList}; $c++) {
         |    long $dot = 0L;
         |    int $base = $c * $n;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += (long) $qv.getInt($i) * $mRef[$base + $i];
         |    }
         |    double $sim = (double) $dot /
         |      java.lang.Math.sqrt((double) $qsq * (double) $sqRef[$c]);
         |    org.apache.spark.sql.catalyst.expressions.GenericInternalRow $row =
         |      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2);
         |    $row.update(0, Double.valueOf($sim));
         |    $row.update(1, Integer.valueOf(-$idRef[$c]));
         |    $out[$c] = $row;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object CentroidScores {
  private val arrInt = ArrayType(IntegerType)

  /** SQL builder: `centroid_scores(qv, qsq, matrix, csqs, cids)` with
    * the last three FOLDABLE literals (binary, array<bigint>,
    * array<int>) — they parameterize the generated loop and cannot be
    * data-dependent.
    */
  def builder(exprs: Seq[Expression]): Expression = {
    FnArgs.arity("centroid_scores", exprs, Seq(5))
    def foldableOrFail(idx: Int, name: String, tpe: String): Any = {
      val e = exprs(idx)
      val v = if (e.resolved && e.foldable) e.eval() else null
      if (v == null)
        throw new org.apache.spark.sql.AnalysisException(
          "NON_FOLDABLE_ARGUMENT", Map(
            "funcName" -> "`centroid_scores`", "paramName" -> s"`$name`",
            "paramType" -> s""""$tpe""""))
      v
    }
    val matrix = foldableOrFail(2, "matrix", "BINARY").asInstanceOf[Array[Byte]]
    val csqs = foldableOrFail(3, "csqs", "ARRAY<BIGINT>")
      .asInstanceOf[ArrayData].toLongArray()
    val cids = foldableOrFail(4, "cids", "ARRAY<INT>")
      .asInstanceOf[ArrayData].toIntArray()
    CentroidScores(Cast(exprs(0), arrInt), Cast(exprs(1), LongType),
      matrix.toIndexedSeq, csqs.toIndexedSeq, cids.toIndexedSeq)
  }

  /** Column-API form (requires [[GraftExtensions]] on the session, as
    * [[graft.GraftSession]] builds it). `matrix` is the flat packed
    * nList × dim int8 centroid matrix in centroid order.
    */
  def centroid_scores(qv: Column, qsq: Column, matrix: Array[Byte],
                      csqs: Seq[Long], cids: Seq[Int]): Column =
    call_function("centroid_scores", qv, qsq, lit(matrix),
      typedlit(csqs), typedlit(cids))
}
