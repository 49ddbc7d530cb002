package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class KmvSketchSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.01"

  test("below k the sketch is exact (the buffer IS the distinct set)") {
    val ev = Tables.events(spark, sf)
    val got = ev.groupBy("event_type")
      .agg(KmvSketch.kmv_distinct(col("user_id"), 256).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.values.forall(_ < 256), "fixture must stay in the exact regime")
    assert(got === exact)
  }

  test("above k the estimator lands within the 1.04/sqrt(k) envelope (~3 sigma)") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.select("l_orderkey").distinct().count().toDouble
    val est = li.agg(KmvSketch.kmv_distinct(col("l_orderkey"), 256))
      .collect()(0).getLong(0).toDouble
    assert(exact > 256 * 4, "fixture must exercise the estimation regime")
    val err = math.abs(est - exact) / exact
    assert(err < 3 * 1.04 / math.sqrt(256), s"est=$est exact=$exact err=$err")
  }

  test("merge-of-stored buffers ≡ single-pass sketch, bit-identical through parquet") {
    val ev = Tables.events(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("kmv_tbl").toString + "/t"
    ev.groupBy(to_date(col("ts")).as("day"))
      .agg(KmvSketch.kmv_sketch_buffer(col("user_id"), 64).as("sketch"))
      .write.mode("overwrite").parquet(path)
    val stored = spark.read.parquet(path)
    val merged = stored.agg(
      KmvSketch.kmv_merge_estimate(col("sketch")).as("est"),
      KmvSketch.kmv_merge_sample(col("sketch")).as("sample"))
      .collect()(0)
    val direct = ev.agg(KmvSketch.kmv_distinct(col("user_id"), 64))
      .collect()(0).getLong(0)
    assert(merged.getLong(0) === direct, "merge must be lossless vs one pass")
    // the merged sample must be EXACTLY the k hash-smallest distinct keys
    val wantSample = ev.select(col("user_id")).distinct()
      .orderBy(xxhash64(col("user_id")))
      .limit(64).collect().map(_.getLong(0)).toSet
    assert(merged.getSeq[Long](1).toSet === wantSample,
      "sample = bottom-k by xxhash64 (uniform over distinct keys)")
  }

  test("merge is partition-layout independent") {
    val ev = Tables.events(spark, sf)
    val a = ev.agg(KmvSketch.kmv_distinct(col("user_id"), 32)).collect()(0).getLong(0)
    val b = ev.repartition(13)
      .agg(KmvSketch.kmv_distinct(col("user_id"), 32)).collect()(0).getLong(0)
    assert(a === b)
  }

  test("raw-key forms reject non-integral key columns at analysis time") {
    // a string key used to fall through to hashCode().toLong: 32-bit-
    // collision-biased estimates and meaningless sample values
    val ev = Tables.events(spark, sf)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      ev.agg(KmvSketch.kmv_distinct(col("event_type"), 64)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("integral"), ex.getMessage)
    val ex2 = intercept[org.apache.spark.sql.AnalysisException] {
      ev.agg(KmvSketch.kmv_sketch_buffer(col("ts"), 64)).collect()
    }
    assert(ex2.getMessage.toLowerCase.contains("integral"), ex2.getMessage)
    // the documented workaround stays accepted: hash to bigint first
    val ok = ev.agg(KmvSketch.kmv_distinct(xxhash64(col("event_type")), 64))
      .collect()(0).getLong(0)
    assert(ok > 0)
  }
}
