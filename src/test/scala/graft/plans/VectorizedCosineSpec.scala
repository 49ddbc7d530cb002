package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class VectorizedCosineSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.001"

  def queryVec(): Array[Double] =
    Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray

  test("columnar rule fuses the exec into the batched scan (no ColumnarToRow below)") {
    val df = VectorizedCosine.score(Tables.embeddings(spark, sf), queryVec())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("CosineScoreColumnar"),
      s"expected the fused columnar exec:\n$plan")
    assert(!plan.contains("ColumnarToRow"),
      s"the transition must be collapsed into the exec:\n$plan")
  }

  test("fused scores equal the codegen-expression path bit-for-bit") {
    val emb = Tables.embeddings(spark, sf)
    val q = queryVec()
    val fused = VectorizedCosine.score(emb, q).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = emb.select(col("vec_id"),
        graft.ext.Similarity.nativeCosine(
          col("embedding").cast("array<double>"),
          array(q.map(lit).toIndexedSeq: _*)).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused.keySet === viaExpr.keySet)
    fused.foreach { case (id, s) =>
      assert(java.lang.Double.compare(s, viaExpr(id)) === 0, s"mismatch at $id")
    }
  }

  test("row fallback (non-columnar child) produces identical results") {
    val emb = Tables.embeddings(spark, sf)
    val q = queryVec()
    // a repartition puts an exchange (row-based) under the exec → fallback
    val fallback = VectorizedCosine.score(emb.repartition(3), q)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(plan.contains("CosineScoreRow"), s"expected row fallback:\n$plan")
    val a = fallback.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = VectorizedCosine.score(emb, q).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("null and mismatched-length vectors are skipped, not errors") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, null.asInstanceOf[Seq[Float]]), (3L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val out = VectorizedCosine.score(d, Array(1.0, 0.0)).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L))
    assert(out(0).getDouble(1) === 1.0)
  }
}
