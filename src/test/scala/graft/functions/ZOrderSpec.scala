package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class ZOrderSpec extends AnyFunSuite with SparkSpec {

  /** Bit-by-bit reference: interleave via per-bit loop. */
  def refInterleave(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("magic-number spread equals the per-bit reference on edge and random inputs") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(0L, 1L, 2L, 3L, 0x7FFFFFFFL, 0x55555555L, 0xAAAAAAAAL) ++
      Seq.fill(200)(rnd.nextLong().abs & 0x7FFFFFFFL)
    for (a <- cases; b <- cases.take(7)) {
      assert(ZOrder.interleave(a, b) === refInterleave(a, b), s"a=$a b=$b")
    }
  }

  test("expression and codegen path agree with the JVM helper") {
    import spark.implicits._
    val df = Seq((5L, 3L), (0L, 0L), (0x7FFFFFFFL, 0x7FFFFFFFL), (12345L, 67890L))
      .toDF("a", "b")
    val got = df.select(ZOrder.zorder(col("a"), col("b"))).collect().map(_.getLong(0))
    val want = Seq((5L, 3L), (0L, 0L), (0x7FFFFFFFL, 0x7FFFFFFFL), (12345L, 67890L))
      .map { case (a, b) => ZOrder.interleave(a, b) }
    assert(got.toSeq === want)
  }

  test("MEASURED: z-order parquet layout prunes row groups for predicates on either dim") {
    // lineitem's (partkey × suppkey) grid is dense (60k rows over
    // 2000×100 cells at sf0.01) — the regime where the curve's locality
    // shows; z-ordering a SPARSE key grid buys little (consecutive curve
    // positions jump across empty space), which is also true at scale
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    // dimensions must be normalized to comparable bit-widths before
    // interleaving (partkey ~11 bits, suppkey ~7): otherwise the wider
    // key's high bits dominate the sort and the curve degrades to a
    // single-key order. suppkey × 16 aligns the widths.
    val base = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"),
      ZOrder.zorder(col("l_partkey"), col("l_suppkey") * 16).as("z"))
    val total = base.count()
    val tmp = java.nio.file.Files.createTempDirectory("zprune").toString
    // tiny row groups so the 60k-row fixture has many independently
    // skippable min/max units, like 128MB groups at real scale
    def write(name: String, sort: org.apache.spark.sql.Column): String = {
      val p = s"$tmp/$name"
      base.orderBy(sort).coalesce(1).write
        .option("parquet.block.size", 32 * 1024)
        .option("parquet.page.size", 8 * 1024)
        .mode("overwrite").parquet(p)
      p
    }
    val zp = write("z", col("z"))
    val pp = write("part", col("l_partkey"))
    // numOutputRows of the scan = rows surviving parquet row-group
    // stats pruning (the pushed filter skips whole groups)
    def rowsRead(path: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).filter(pred)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val partPred = col("l_partkey").between(900, 980)   // ~4% of the domain
    val suppPred = col("l_suppkey").between(40, 44)     // ~5% of the domain
    val zPart = rowsRead(zp, partPred); val pPart = rowsRead(pp, partPred)
    val zSupp = rowsRead(zp, suppPred); val pSupp = rowsRead(pp, suppPred)
    info(s"total=$total partPred: z=$zPart part=$pPart | suppPred: z=$zSupp part=$pSupp")
    // z layout skips row groups for BOTH single-dimension predicates
    assert(zPart < total / 2, s"z layout must skip groups on partkey predicate: $zPart/$total")
    assert(zSupp < total / 2, s"z layout must skip groups on suppkey predicate: $zSupp/$total")
    // single-key layout: excellent on its own key, reads ~everything on the other
    assert(pPart < zPart, "part-sorted should beat z on its own dimension")
    assert(pSupp > (total * 9) / 10, s"part-sorted must read ~all groups for supp predicate: $pSupp/$total")
  }

  test("z-order layout bounds BOTH dimensions; single-key sorts leave one at ~full domain") {
    val o = Tables.orders(spark, "/root/testdata/sf0.01")
    val day = datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
    /** avg per-file (custkey range, day range) under a given sort order. */
    def avgRanges(sortCol: org.apache.spark.sql.Column): (Double, Double) = {
      val r = o.select(col("o_orderkey"), col("o_custkey"), day.as("day"), sortCol.as("s"))
        .withColumn("file_id", expr("(row_number() OVER (ORDER BY s, o_orderkey) - 1) div 1000"))
        .groupBy("file_id")
        .agg((max(col("o_custkey")) - min(col("o_custkey"))).as("cr"),
          (max(col("day")) - min(col("day"))).as("dr"))
        .agg(avg(col("cr")), avg(col("dr"))).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val custDomain = 1499.0; val dayDomain = 2404.0
    val (zc, zd) = avgRanges(ZOrder.zorder(col("o_custkey"), day))
    val (cc, cd) = avgRanges(col("o_custkey")) // single-dim clustering
    // z: every file's box is bounded on BOTH dims — predicates on either
    // column skip files
    assert(zc < 0.6 * custDomain, s"z custkey range $zc")
    assert(zd < 0.6 * dayDomain, s"z day range $zd")
    // the trade-off z avoids: clustering by custkey alone leaves day
    // boxes at ~the full domain (no skipping for date predicates)
    assert(cc < 0.1 * custDomain, s"cust-sorted custkey range $cc")
    assert(cd > 0.9 * dayDomain, s"cust-sorted day range $cd")
  }
}
