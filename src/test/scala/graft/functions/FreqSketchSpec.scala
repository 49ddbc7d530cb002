package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class FreqSketchSpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.01"

  test("distinct <= capacity: counts are exact and partition-independent") {
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.size <= 64, "fixture must stay in the exact regime")
    for (layout <- Seq(toks, toks.repartition(13))) {
      val got = layout.agg(FreqSketch.mg_topk(col("token"), 64).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === exact)
    }
  }

  test("result order is count desc, item asc on ties") {
    import spark.implicits._
    val d = Seq("b", "b", "a", "a", "c").toDF("k")
    val rows = d.agg(FreqSketch.mg_topk(col("k"), 8).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("heavyHitterTokens guards its exact-regime oracle claim at run time") {
    import spark.implicits._
    // in-regime: passes and equals the plain aggregation
    val small = Seq((1L, "a b a", "en", "s", 5L), (2L, "b c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Sketches.heavyHitterTokens(small, capacity = 8).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
    // over capacity with strict mode (the driver-contract setting):
    // must RAISE pointing at the violated precondition, not silently
    // return lower-bound counts that would surface as an unexplained
    // oracle hash mismatch
    val wide = (1 to 30).map(i => (i.toLong, s"tok$i x", "en", "s", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[Exception] {
      graft.ops.Sketches
        .heavyHitterTokens(wide, capacity = 4, requireExact = true).collect()
    }
    assert(e.getMessage.contains("exact-regime precondition violated"),
      s"wrong failure: ${e.getMessage}")
    // the default keeps the documented N/(k+1) degraded mode: bounded
    // lower-bound counts, no error
    val degraded = graft.ops.Sketches
      .heavyHitterTokens(wide, capacity = 4).collect()
    assert(degraded.nonEmpty && degraded.length <= 4)
  }

  test("over capacity: every item above N/(k+1) survives with count error <= N/(k+1)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // heavy items h0..h4 at ~500 each over ~5000 noise items
    val stream = (0 until 2500).map(i => s"h${i % 5}") ++
      (0 until 5000).map(_ => s"n${rng.nextInt(2000)}")
    val d = rng.shuffle(stream).toDF("k")
    val n = stream.size
    val k = 32
    val got = d.agg(FreqSketch.mg_topk(col("k"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = stream.groupBy(identity).map { case (it, xs) => it -> xs.size.toLong }
    val bound = n.toDouble / (k + 1)
    exact.filter(_._2 > bound).foreach { case (item, c) =>
      assert(got.contains(item), s"$item (count $c > $bound) must be reported")
    }
    got.foreach { case (item, rep) =>
      val truth = exact.getOrElse(item, 0L)
      assert(rep <= truth, s"$item over-counted: $rep > $truth")
      assert(rep >= truth - bound, s"$item under-counted past the bound")
    }
  }

  test("merge-of-stored buffers through parquet ≡ single pass in the exact regime") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("mg_tbl").toString + "/t"
    docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source")
      .agg(FreqSketch.mg_sketch_buffer(col("token"), 64).as("sketch"))
      .write.mode("overwrite").parquet(path)
    val merged = spark.read.parquet(path)
      .agg(FreqSketch.mg_merge_topk(col("sketch")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === exact, "per-source buffers must merge losslessly below capacity")
  }

  test("non-string keys are rejected at analysis time") {
    import spark.implicits._
    val d = Seq(1L, 2L).toDF("k")
    val e = intercept[Exception] {
      d.agg(FreqSketch.mg_topk(col("k"), 8)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
