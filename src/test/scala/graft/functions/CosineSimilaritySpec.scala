package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ext.Similarity

class CosineSimilaritySpec extends AnyFunSuite with SparkSpec {

  test("native expression equals the zip_with/aggregate composition bit-for-bit") {
    val d = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
      .withColumn("e2", reverse(col("embedding")))
    val both = d.select(
      GraftFunctions.cosine_sim(col("embedding"), col("e2")).as("native"),
      Similarity.cosine(
        col("embedding").cast("array<double>"), col("e2").cast("array<double>")).as("composed"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)),
      "same fold order must produce identical doubles")
  }

  test("implicit cast accepts array<float> directly") {
    val d = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(5)
    val sims = d.select(GraftFunctions.cosine_sim(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("expression participates in whole-stage codegen") {
    val d = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = d.select(GraftFunctions.cosine_sim(col("embedding"), col("embedding")).as("s"))
    val plan = q.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"expected the cosine_sim Project inside a codegen stage:\n$plan")
  }

  test("SQL resolution: cosine_sim resolves and computes through spark.sql") {
    val v = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS s").collect()(0).getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
    val ortho = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS s").collect()(0).getDouble(0)
    assert(ortho === 0.0)
  }

  test("GraftExtensions applies cleanly to a SparkSessionExtensions instance") {
    // extensions bind at session creation; the shared test session already
    // exists, so verify the injection path directly (the shared session
    // was built with it, so the SQL tests above exercise its builders)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; registers cosine_sim
  }
}
