package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.functions.HllSketch

class SketchesSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.01"

  test("sketchBounds: every contract boolean holds on the real tables") {
    // the audit the oracle asserts TRUE-by-TRUE (q_sketch_bounds) —
    // pinned here too so a contract break fails fast in-suite
    val rows = Sketches.sketchBounds(Tables.lineitem(spark, sf),
      Tables.events(spark, sf)).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).exists(_.startsWith("hll_flag:")))
    assert(rows.map(_.getString(0)).exists(_.startsWith("hll_week:")))
    assert(rows.map(_.getString(0)).exists(_.startsWith("kmv_week:")))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_envelope"), s"${r.getString(0)} envelope")
      assert(r.getAs[Boolean]("merge_eq_single"), s"${r.getString(0)} merge identity")
      assert(r.getAs[Boolean]("exact_when_small"), s"${r.getString(0)} small-exact")
    }
  }

  test("weekly merge of stored daily sketches ≡ single-pass weekly sketch, bit-exact") {
    val ev = Tables.events(spark, sf)
    // the pattern under test: store per-day buffers (through parquet, as
    // a real sketch table would be), then answer the week from storage
    val path = java.nio.file.Files.createTempDirectory("sketch_tbl").toString + "/daily"
    Sketches.dailyUserSketches(ev).write.mode("overwrite").parquet(path)
    val merged = Sketches.weeklyDistinctUsers(spark.read.parquet(path))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the rescan it replaces: one direct pass over raw events per week
    val direct = ev
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week_start"))
      .agg(
        HllSketch.hll_distinct(col("user_id")).as("est_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_events"))
      .select(col("week_start"), col("n_days"), col("n_events"), col("est_users"))
      .orderBy("week_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(merged.nonEmpty)
    assert(merged === direct,
      "register-max merge over stored buffers must lose nothing vs a raw rescan")
  }

  test("KMV twin: weekly merge of stored daily KMV buffers ≡ exact at daily cardinalities") {
    val ev = Tables.events(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("kmv_tbl").toString + "/daily"
    Sketches.dailyUserSketchesKmv(ev).write.mode("overwrite").parquet(path)
    val merged = Sketches.weeklyDistinctUsersKmv(spark.read.parquet(path))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val exact = ev
      .groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week_start"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet === exact.keySet)
    // weekly cardinality (≈ hundreds of users) ≤ k=256 kept minima →
    // the KMV estimate is EXACT below k, even through the parquet
    // round-trip and the buffer merge
    exact.foreach { case (w, n) =>
      if (n <= 256) assert(merged(w) === n, s"week $w: est=${merged(w)} exact=$n")
      else assert(math.abs(merged(w) - n) <= n / 10, s"week $w: est=${merged(w)} exact=$n")
    }
  }

  test("per-day sketch estimates are near-exact at daily cardinalities (linear counting)") {
    val ev = Tables.events(spark, sf)
    val est = Sketches.dailyUserSketches(ev)
      .groupBy("day") // one sketch per group: merge = estimate of that day
      .agg(HllSketch.hll_merge(col("sketch")).as("est"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet === exact.keySet)
    // ~150 users/day against 2^14 registers → linear counting, tiny error
    exact.foreach { case (d, n) =>
      assert(math.abs(est(d) - n) <= math.max(1L, n / 50),
        s"day $d: est=${est(d)} exact=$n")
    }
  }
}
