package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ops.Relational

class TopKPerKeySpec extends AnyFunSuite with SparkSpec {
  val sf = "/root/testdata/sf0.001"

  test("custom operator equals the window-function form on real data") {
    val o = Tables.orders(spark, sf)
    val win = Relational.windowTopK(o, 3).select("customer_key", "order_key", "total_price")
      .collect().map(_.toSeq).toSet
    val custom = TopKPerKey(o, Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
      .select(col("o_custkey").as("customer_key"), col("o_orderkey").as("order_key"),
        col("o_totalprice").as("total_price"))
      .collect().map(_.toSeq).toSet
    assert(custom === win)
  }

  test("plan shape: partial below the exchange, final above (map-side top-k)") {
    val o = Tables.orders(spark, sf)
    val df = TopKPerKey(o, Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial"), s"missing partial node:\n$plan")
    assert(plan.contains("TopKPerKeyFinal"), s"missing final node:\n$plan")
    val partialIdx = plan.indexOf("TopKPerKeyPartial")
    val finalIdx = plan.indexOf("TopKPerKeyFinal")
    val exchangeIdx = plan.indexOf("Exchange")
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"expected Final above Exchange above Partial:\n$plan")
  }

  test("partial pass bounds shipped rows: k per key per input partition") {
    import spark.implicits._
    // 1000 rows, one key, k=2 → the partial pass must cut the group to
    // ≤ 2 rows per input partition before the shuffle
    val df = (1 to 1000).map(i => (1L, i.toLong, i.toDouble)).toDF("k", "id", "score")
      .repartition(4)
    val top = TopKPerKey(df, Seq("k"), "score", "id", 2).collect()
    assert(top.map(r => (r.getLong(1), r.getDouble(2))).sortBy(-_._2).toSeq ===
      Seq((1000L, 1000.0), (999L, 999.0)))
  }

  test("optimizer rule: top-k of top-k collapses to one operator with min(k)") {
    val o = Tables.orders(spark, sf)
    val twice = TopKPerKey(TopKPerKey(o, Seq("o_custkey"), "o_totalprice", "o_orderkey", 5),
      Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
    val optimized = twice.queryExecution.optimizedPlan
    val nodes = optimized.collect { case t: TopKPerKeyPlan => t }
    assert(nodes.length === 1, s"expected collapse to one node:\n$optimized")
    assert(nodes.head.k === 3)
    // and it still computes the right answer
    val expected = Relational.windowTopK(o, 3)
      .select("customer_key", "order_key").collect().map(_.toSeq).toSet
    val got = twice.select(col("o_custkey"), col("o_orderkey")).collect()
      .map(_.toSeq).toSet
    assert(got === expected)
  }

  test("planner extensions register once, at session build, never at call time") {
    val o = Tables.orders(spark, sf)
    TopKPerKey(o, Seq("o_custkey"), "o_totalprice", "o_orderkey", 3).collect()
    VectorizedCosine.score(Tables.embeddings(spark, sf), Array.fill(64)(1.0)).collect()
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.count(_ eq TopKPerKeyStrategy) === 1)
    assert(strategies.count(_ eq VectorizedCosineStrategy) === 1)
  }

  test("optimizer rule: k <= 0 becomes an empty relation (no execution)") {
    val o = Tables.orders(spark, sf)
    val zero = TopKPerKey(o, Seq("o_custkey"), "o_totalprice", "o_orderkey", 0)
    assert(zero.queryExecution.optimizedPlan.collect {
      case t: TopKPerKeyPlan => t }.isEmpty, "node should be pruned")
    assert(zero.count() === 0)
  }

  test("BoundedTopK heap equals reference sort on randomized streams") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 200) {
      val k = 1 + rng.nextInt(6)
      val n = rng.nextInt(50)
      // small score range forces score ties → exercises the tie ordering
      val items = Seq.fill(n)((rng.nextInt(5).toDouble, rng.nextLong()))
      val heap = new BoundedTopK(k)
      items.foreach { case (s, t) =>
        val r = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(1)
        val buf = new Array[Byte](32)
        r.pointTo(buf, 32)
        r.setLong(0, t)
        heap.offer(s, t, 0, r)
      }
      val got = heap.iterator.map(_.getLong(0)).toSet
      val want = items.sortBy { case (s, t) => (-s, t) }.take(k).map(_._2).toSet
      assert(got === want, s"trial $trial k=$k items=$items")
    }
  }

  test("null scores rank as worst, matching the window form's nulls-last") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // negative scores present: a null read as 0.0 would wrongly win
    val df = Seq((1L, 1L, Some(-5.0)), (1L, 2L, None), (1L, 3L, Some(-1.0)),
      (1L, 4L, None), (2L, 5L, None))
      .toDF("k", "id", "score")
    val custom = TopKPerKey(df, Seq("k"), "score", "id", 2)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("k")).orderBy(col("score").desc, col("id"))
    val windowed = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("k", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom === windowed)
    assert(custom === Set((1L, 3L), (1L, 1L), (2L, 5L)))
  }

  test("multiple keys and empty input behave") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("k", "id", "score")
    assert(TopKPerKey(empty, Seq("k"), "score", "id", 3).collect().isEmpty)
    val multi = Seq((1L, 1L, 5.0), (1L, 2L, 5.0), (2L, 3L, 1.0))
      .toDF("k", "id", "score")
    val out = TopKPerKey(multi, Seq("k"), "score", "id", 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 1L), (2L, 3L))) // tie broken by lowest id
  }

  test("NULL score orders strictly after -Inf; NULL tie orders first (window parity)") {
    import spark.implicits._
    // a -Inf sentinel for NULL would TIE the genuine -Inf row; the
    // explicit null flag must rank NULL below it (desc → nulls last)
    val df = Seq((1L, 1L, Some(5.0)),
      (1L, 2L, Some(Double.NegativeInfinity)),
      (1L, 3L, None: Option[Double])).toDF("k", "id", "score")
    val top2 = TopKPerKey(df, Seq("k"), "score", "id", 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top2 === Set(1L, 2L), "NULL score must rank below -Inf, not tie it")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("score").desc, col("id").asc)
    val win = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top2 === win)
    // tie ASC → nulls FIRST: the null-tie row beats id=2 within the score class
    val dft = Seq((1L, Some(1L), 5.0), (1L, Some(2L), 5.0), (1L, None: Option[Long], 5.0))
      .toDF("k", "id", "score")
    val topT = TopKPerKey(dft, Seq("k"), "score", "id", 2)
      .select("id").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("score").desc, col("id").asc)
    val winT = dft.withColumn("rn", row_number().over(wt)).filter(col("rn") <= 2)
      .select("id").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(topT === winT)
    assert(topT === Set(None, Some(1L)))
  }
}
