package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class HllSketchSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.01"

  test("estimate within the p=14 error envelope on real columns") {
    val li = Tables.lineitem(spark, sf)
    for (c <- Seq("l_partkey", "l_orderkey", "l_suppkey")) {
      val exact = li.select(col(c)).distinct().count().toDouble
      val est = li.agg(HllSketch.hll_distinct(col(c)))
        .collect()(0).getLong(0).toDouble
      val err = math.abs(est - exact) / exact
      assert(err < 0.03, s"$c: est=$est exact=$exact err=$err")
    }
  }

  test("merge semantics: sketch of halves equals sketch of the whole") {
    val li = Tables.lineitem(spark, sf)
    val whole = li.agg(HllSketch.hll_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    // same aggregate over a repartitioned input exercises partial/merge
    // paths with different groupings — register-wise max is associative
    val shuffled = li.repartition(17)
      .agg(HllSketch.hll_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    assert(whole === shuffled, "estimate must be partition-layout independent")
  }

  test("small cardinalities use linear counting (near-exact)") {
    import spark.implicits._
    val df = (1 to 100).map(i => i % 7).toDF("v")
    val est = df.agg(HllSketch.hll_distinct(col("v"))).collect()(0).getLong(0)
    assert(est === 7L)
  }

  test("mergeable sketch tables: merge-of-stored equals direct aggregation exactly") {
    val li = Tables.lineitem(spark, sf)
    // store one sketch per (returnflag, linestatus) — the "per-day sketch
    // table" pattern — as an ordinary binary column round-tripped
    // through parquet
    val sketchTable = li.groupBy("l_returnflag", "l_linestatus")
      .agg(HllSketch.hll_sketch_buffer(col("l_partkey")).as("sketch"))
    val path = java.nio.file.Files.createTempDirectory("hll_tbl").toString + "/t"
    sketchTable.write.mode("overwrite").parquet(path)
    val stored = spark.read.parquet(path)
    // merge slices of stored sketches; compare against direct aggregation
    val merged = stored.groupBy("l_returnflag")
      .agg(HllSketch.hll_merge(col("sketch")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(HllSketch.hll_distinct(col("l_partkey")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === direct, "register union must be lossless")
    // global: merge everything == direct over the whole table
    val all = stored.agg(HllSketch.hll_merge(col("sketch")))
      .collect()(0).getLong(0)
    val allDirect = li.agg(HllSketch.hll_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    assert(all === allDirect)
  }

  test("per-group sketches via SQL") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_hll")
    val rows = spark.sql(
      """SELECT l_returnflag, hll_distinct(l_partkey, 14) AS approx_parts
        |FROM li_hll GROUP BY l_returnflag""".stripMargin).collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getLong(1) > 0))
  }
}
