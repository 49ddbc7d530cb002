package graft.functions

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Builder-time argument validation: wrong arity or a non-literal
  * parameter must fail analysis with Spark's own error classes
  * (WRONG_NUM_ARGS / NON_FOLDABLE_ARGUMENT), not surface as an
  * IndexOutOfBoundsException or ClassCastException from the builder
  * eval'ing a missing/unresolved expression at plan time.
  */
class FnArgsSpec extends AnyFunSuite with SparkSpec {

  private def analysisErr(sql: String): AnalysisException = {
    spark.range(3).selectExpr("CAST(id AS STRING) AS t", "id AS k").createOrReplaceTempView("fn_args_t")
    intercept[AnalysisException] { spark.sql(sql).collect() }
  }

  test("winnow_fps: missing parameters fail with WRONG_NUM_ARGS, not IOOBE") {
    val e = analysisErr("SELECT winnow_fps(t) FROM fn_args_t")
    assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"))
  }

  test("winnow_fps: non-literal k fails with NON_FOLDABLE_ARGUMENT, not CCE") {
    val e = analysisErr("SELECT winnow_fps(t, k, 4) FROM fn_args_t")
    assert(e.getCondition === "NON_FOLDABLE_ARGUMENT")
    assert(e.getMessage.contains("winnow_fps"))
  }

  test("md5_minhash_sketch: arity and foldability are both enforced") {
    val e1 = analysisErr("SELECT md5_minhash_sketch(t) FROM fn_args_t")
    assert(e1.getCondition.startsWith("WRONG_NUM_ARGS"))
    val e2 = analysisErr("SELECT md5_minhash_sketch(t, k) FROM fn_args_t GROUP BY 1")
    assert(e2.getCondition === "NON_FOLDABLE_ARGUMENT")
  }

  test("minhash_sketch / cosine_sim / zorder: wrong arity is an analysis error") {
    assert(analysisErr("SELECT minhash_sketch(t) FROM fn_args_t")
      .getCondition.startsWith("WRONG_NUM_ARGS"))
    assert(analysisErr("SELECT cosine_sim(t) FROM fn_args_t")
      .getCondition.startsWith("WRONG_NUM_ARGS"))
    assert(analysisErr("SELECT zorder(k) FROM fn_args_t")
      .getCondition.startsWith("WRONG_NUM_ARGS"))
    assert(analysisErr("SELECT kmv_distinct(k, 16, 2) FROM fn_args_t")
      .getCondition.startsWith("WRONG_NUM_ARGS"))
  }

  test("qsk_quantile: SQL decimal literal accepted for p, non-literal rejected") {
    spark.range(10).selectExpr("id AS v").createOrReplaceTempView("fn_args_v")
    // 0.5 parses as DECIMAL — must be accepted as the quantile literal
    val med = spark.sql("SELECT qsk_quantile(v, 128, 0.5) FROM fn_args_v").collect()(0)
    assert(!med.isNullAt(0))
    val e = analysisErr("SELECT qsk_quantile(t, 128, k) FROM fn_args_t")
    assert(e.getCondition === "NON_FOLDABLE_ARGUMENT")
  }

  test("valid literal forms still resolve (foldable non-Literal expressions too)") {
    // 2+2 is foldable but not a Literal node — must be accepted
    val n = spark.sql("SELECT winnow_fps('a b c d e f g h', 2, 2+2)").collect()
    assert(n.length === 1)
  }
}
