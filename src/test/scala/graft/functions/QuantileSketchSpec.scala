package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class QuantileSketchSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.01"

  /** DuckDB quantile_disc convention: value at rank max(1, ceil(p·N))
    * of the ascending sorted multiset.
    */
  private def exactQuantile(xs: Seq[Long], p: Double): Long = {
    val sorted = xs.sorted
    sorted((math.max(1L, math.ceil(p * xs.size).toLong) - 1).toInt)
  }

  test("exact regime: quantiles equal the ceil-rank discrete quantile") {
    import spark.implicits._
    // deterministic multiset with heavy duplication; 500 distinct < k
    val xs = (0 until 20000).map(i => ((i * 2654435761L) % 500) * ((i % 7) + 1) % 500)
    val df = xs.toDF("x")
    for (p <- Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)) {
      val got = df.agg(QuantileSketch.qsk_quantile(col("x"), 1024, p))
        .collect()(0).getLong(0)
      assert(got === exactQuantile(xs, p), s"p=$p")
    }
  }

  test("merge-of-stored daily buffers ≡ single-pass, even in the LOSSY regime") {
    val ev = Tables.events(spark, sf)
    val cents = round(col("value") * 100).cast("long")
    for (k <- Seq(128, 65536)) { // under- and over-capacity vs ~6.6k distinct cents
      val path = java.nio.file.Files.createTempDirectory(s"qsk_tbl_$k").toString + "/t"
      ev.groupBy(to_date(col("ts")).as("day"))
        .agg(QuantileSketch.qsk_buffer(cents, k).as("sketch"))
        .write.mode("overwrite").parquet(path)
      val stored = spark.read.parquet(path)
      for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
        val merged = stored.agg(QuantileSketch.qsk_merge_quantile(col("sketch"), p))
          .collect()(0).getLong(0)
        val direct = ev.agg(QuantileSketch.qsk_quantile(cents, k, p))
          .collect()(0).getLong(0)
        assert(merged === direct, s"k=$k p=$p: merge must reproduce the one-pass state")
      }
      val total = stored.agg(QuantileSketch.qsk_merge_total(col("sketch")))
        .collect()(0).getLong(0)
      assert(total === ev.filter(col("value").isNotNull).count(),
        "row total rides the buffer exactly, capacity regardless")
    }
  }

  test("state is partition-layout and order independent (lossy regime)") {
    val ev = Tables.events(spark, sf)
    val cents = round(col("value") * 100).cast("long")
    def q(df: org.apache.spark.sql.DataFrame, p: Double): Long =
      df.agg(QuantileSketch.qsk_quantile(cents, 128, p)).collect()(0).getLong(0)
    for (p <- Seq(0.25, 0.5, 0.95)) {
      val a = q(ev, p)
      assert(q(ev.repartition(13), p) === a, s"p=$p repartition")
      assert(q(ev.orderBy(desc("value")), p) === a, s"p=$p reorder")
    }
  }

  test("under capacity the estimated quantile's true rank error is O(1/sqrt(k))") {
    import spark.implicits._
    // skewed multiplicities (value i appears ~i%13+1 times), 20k distinct >> k
    val xs = (0 until 20000).flatMap(i => Seq.fill(i % 13 + 1)(i.toLong))
    val df = xs.toDF("x").repartition(8)
    val n = xs.size
    val k = 1024
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val got = df.agg(QuantileSketch.qsk_quantile(col("x"), k, p))
        .collect()(0).getLong(0)
      val trueRank = xs.count(_ <= got).toDouble
      val err = math.abs(trueRank - p * n) / n
      // bottom-k rank error ~1/sqrt(k)=0.031; allow 4x for multiplicity skew
      assert(err < 4.0 / math.sqrt(k), s"p=$p got=$got rankErr=$err")
    }
  }

  test("nulls are ignored and an empty group yields null") {
    import spark.implicits._
    val df = Seq[(Integer, String)]((1, "a"), (null, "a"), (3, "a"))
      .toDF("x", "g")
    val r = df.filter(col("g") === "a")
      .agg(QuantileSketch.qsk_quantile(col("x"), 16, 0.5)).collect()(0)
    assert(r.getLong(0) === 1L) // N=2 -> ceil(0.5*2)=1 -> first of {1,3}
    val empty = df.filter(col("g") === "zzz")
      .agg(QuantileSketch.qsk_quantile(col("x"), 16, 0.5)).collect()(0)
    assert(empty.isNullAt(0))
  }

  test("weekly merge query agrees with an exact computation") {
    val ev = Tables.events(spark, sf)
    val got = graft.ops.Sketches.weeklyValueQuantiles(
      graft.ops.Sketches.dailyValueSketches(ev))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val perWeek = ev.filter(col("value").isNotNull)
      .select(date_format(date_trunc("week", to_date(col("ts"))), "yyyy-MM-dd").as("wk"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().groupBy(_.getString(0)).map { case (wk, rows) =>
        wk -> rows.map(_.getLong(1)).toSeq
      }
    assert(got.keySet === perWeek.keySet)
    perWeek.foreach { case (wk, cs) =>
      val (n, nSk, p50, p90, p99) = got(wk)
      assert(n === cs.size.toLong); assert(nSk === cs.size.toLong)
      assert(p50 === exactQuantile(cs, 0.5), s"$wk p50")
      assert(p90 === exactQuantile(cs, 0.9), s"$wk p90")
      assert(p99 === exactQuantile(cs, 0.99), s"$wk p99")
    }
  }

  test("k mismatch on merge raises; non-integral and bad p are rejected at analysis") {
    import spark.implicits._
    val a = Seq(1L, 2L).toDF("x").agg(QuantileSketch.qsk_buffer(col("x"), 16).as("s"))
    val b = Seq(3L).toDF("x").agg(QuantileSketch.qsk_buffer(col("x"), 32).as("s"))
    val ex = intercept[Exception] {
      a.union(b).agg(QuantileSketch.qsk_merge_quantile(col("s"), 0.5)).collect()
    }
    assert(ex.getMessage.contains("k mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("k mismatch")))
    assertThrows[Exception] {
      Seq("a").toDF("x").agg(QuantileSketch.qsk_quantile(col("x"), 16, 0.5)).collect()
    }
    assertThrows[Exception] {
      Seq(1L).toDF("x").agg(QuantileSketch.qsk_quantile(col("x"), 16, 1.5)).collect()
    }
  }
}
