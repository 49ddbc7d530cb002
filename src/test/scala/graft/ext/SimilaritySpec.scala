package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  def emb(rows: (Long, Seq[Float], Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("centroidSim: members of a tight cluster score 1, the stray scores low") {
    // label 0: two identical vectors + their centroid is the same direction → sim 1
    // label 1: two opposite vectors → centroid orthogonal-ish; single vector label → sim 1
    val d = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(2f, 0f, 0f, 0f), 1))
    val rows = Similarity.centroidSim(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(0L) === 1.0)
    assert(rows(1L) === 1.0)
    assert(rows(2L) === 1.0, "singleton label's centroid is itself")
    // a genuinely off-cluster vector: centroid of (e1, e2) is 45° from both
    val mixed = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(0f, 1f, 0f, 0f), 0))
    val sims = Similarity.centroidSim(mixed).collect().map(_.getDouble(2))
    sims.foreach(s => assert(math.abs(s - math.sqrt(0.5)) < 1e-4,
      "both vectors sit 45 degrees from the mean direction"))
  }

  test("centroidSim flags below-threshold members as outliers") {
    val d = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0.01f, 0f, 0f), 0),
      (2L, Seq(-1f, 0.2f, 0f, 0f), 0)) // points away from the cluster mean
    val rows = Similarity.centroidSim(d, threshold = 0.2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rows(0L) === false)
    assert(rows(1L) === false)
    assert(rows(2L) === true)
  }

  test("cosine: identical → 1, orthogonal → 0, opposite → -1") {
    val d = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0), (3L, Seq(-1f, 0f, 0f, 0f), 0))
    val top = Similarity.cosineTopK(d, numQueries = 1, k = 3).collect()
    assert(top.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((1, 1L, 1.0), (2, 2L, 0.0), (3, 3L, -1.0)))
  }

  test("brute-force top-k is deterministic and correctly ranked on real data") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.cosineTopK(d, numQueries = 3, k = 5).collect()
    assert(rows.length === 15)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sims = g.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(sims === sims.sorted.reverse, "rank order must follow descending similarity")
    }
  }

  test("LSH bucketing: identical vectors share a bucket; top-k is a subset of brute force") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val buckets = Similarity.lshBuckets(d).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(buckets.values.toSet.size > 1, "hyperplanes must actually partition the space")
    val brute = Similarity.cosineTopK(d, numQueries = 5, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(d, numQueries = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh.nonEmpty)
    // every LSH neighbor has the same cosine as brute force would assign
    // (correct similarity, reduced candidate set)
  }

  test("IVF with nProbe = nList is exactly brute force; fewer probes stay a subset") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.cosineTopK(d, numQueries = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val full = Similarity.ivfTopK(d, numQueries = 5, k = 5, nList = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full === brute, "probing every list must reduce IVF to brute force")
    val partial = Similarity.ivfTopK(d, numQueries = 5, k = 5, nList = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brutePairs = brute.map(t => (t._1, t._3))
    assert(partial.nonEmpty)
    // partial probing returns correctly-computed sims (values exact for
    // any pair it emits), checked via set relation on pair identity
    assert(partial.subsetOf(
      Similarity.cosineTopK(d, numQueries = 5, k = 500).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet))
  }

  test("q_ivf_exact parameters (nList = nProbe = 16) equal cosineTopK row-for-row") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ivf = Similarity.ivfTopK(d, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val brute = Similarity.cosineTopK(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(ivf === brute, "the driver-contract exact regime must match brute force")
  }

  test("semanticDedup: near-identical directions collapse to the lowest id; " +
    "clustered drops are a subset of exact drops") {
    // 0 and 1 point the same way (cos = 1), 2 is nearly parallel to them,
    // 3 is orthogonal — only 1 and 2 should drop
    val d = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(2f, 0f, 0f, 0f), 0),
      (2L, Seq(10f, 0.1f, 0f, 0f), 0), (3L, Seq(0f, 1f, 0f, 0f), 0))
    val exact = Similarity.semanticDedup(d, threshold = 0.9, nList = 1).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact === Map(0L -> false, 1L -> true, 2L -> true, 3L -> false))
    // real data: a cluster boundary can only split a brute-force pair,
    // never invent one, so the clustered drop set ⊆ the exact drop set
    // and survivors form a superset
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def drops(nList: Int) = Similarity.semanticDedup(real, nList = nList)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val clustered = drops(16)
    val brute = drops(1)
    assert(clustered.subsetOf(brute))
    assert(brute.nonEmpty, "sf0.001 embeddings contain planted near-dups")
  }

  test("quantizeInt8 plan: scan prunes to (vec_id, embedding), narrow until the sort") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.quantizeInt8(d).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"quantization must not read the label column:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"narrow projection + presentation sort expected:\n$plan")
  }

  test("quantizeInt8: max code is ±127, reconstruction within scale/2, zero vector is NULL-scale") {
    val d = emb(
      (0L, Seq(1.0f, -0.5f, 0.25f, 0f), 0),
      (1L, Seq(0f, 0f, 0f, 0f), 0))
    val rows = Similarity.quantizeInt8(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r0 = rows(0L)
    assert(r0.getString(3) === "127,-63,32,0") // -0.5/ (1/127) = -63.5 -> floor(-63)
    assert(math.abs(r0.getDouble(2) - 1.0 / 127.0) < 1e-9) // scale is 9dp-rounded
    val r1 = rows(1L)
    assert(r1.isNullAt(r1.fieldIndex("scale")))
    assert(r1.getString(3) === "0,0,0,0")
    // NaN-containing vector: explicitly NULL scale + zero codes (the
    // engine-portable convention — DuckDB would otherwise order NaN
    // greater than any value and produce a non-NULL scale)
    val nan = Similarity.quantizeInt8(emb((2L, Seq(Float.NaN, 1.0f, 0f, 0f), 0)))
      .collect()(0)
    assert(nan.isNullAt(nan.fieldIndex("scale")), "NaN vector must get NULL scale")
    assert(nan.getString(3) === "0,0,0,0")
    // real data: every code within int8 range, reconstruction error <= scale/2
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.quantizeInt8(real).collect().foreach { r =>
      val codes = r.getString(3).split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec ${r.getLong(0)} out of range")
    }
  }

  test("ivfCentroids: k-means means are element-wise and deterministic") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c1 = Similarity.ivfCentroids(d, nList = 4, iters = 1)
    val c2 = Similarity.ivfCentroids(d, nList = 4, iters = 1)
    assert(c1.length === 4)
    assert(c1.map(_.toSeq) === c2.map(_.toSeq))
    assert(c1.forall(_.length === 64))
  }

  test("dot product fold matches a driver-side computation exactly") {
    import spark.implicits._
    val a = Array(0.1f, -0.2f, 0.3f, 0.4f)
    val b = Array(0.5f, 0.6f, -0.7f, 0.8f)
    val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val df = Seq((1L, a.toSeq, b.toSeq)).toDF("id", "a", "b")
    val got = df.select(Similarity.dot(
      df("a").cast("array<double>"), df("b").cast("array<double>"))).collect()(0).getDouble(0)
    assert(got === expected)
  }

  test("driver-trainer argmax mirrors array_max NaN semantics (zero-norm vectors)") {
    import spark.implicits._
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.5, 0.5))
    // vec 0 is zero-norm → cos = NaN against every centroid; Spark's
    // array_max orders NaN greatest with struct ties → highest idx
    val vecs = Seq(
      (0L, Seq(0.0f, 0.0f)),
      (1L, Seq(2.0f, 0.1f)),
      (2L, Seq(0.0f, 3.0f)),
      (3L, Seq(1.0f, 1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val assigned = Similarity.assignClusters(df, centroids).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    vecs.foreach { case (id, emb) =>
      val v = emb.map(_.toDouble).toArray
      assert(Similarity.bestCluster(v, centroids) === assigned(id),
        s"driver and distributed argmax must agree on vec $id")
    }
    assert(assigned(0L) === 2, "NaN sims land in the highest cluster idx")
  }

  test("embeddingQualityStats: planted degenerate vectors land in their flags; narrow plan") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f)),                       // zero vector
      (1L, Seq(3.0f, 4.0f, 0.0f)),                       // healthy, norm 5
      (2L, Seq(Float.NaN, 1.0f, 2.0f)),                  // NaN entry
      (3L, Seq(Float.PositiveInfinity, 0.0f, 1.0f)),     // +Inf entry
      (4L, Seq(-1.0f, 2.0f, -2.0f)))                     // healthy, norm 3
      .toDF("vec_id", "embedding")
    val rows = Similarity.embeddingQualityStats(df).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        Option(r.get(4)).map(_ => r.getDouble(4)), r.getBoolean(5),
        r.getBoolean(6))).toMap
    assert(rows(0L) === ((3, 3, 0, Some(0.0), true, true)))
    assert(rows(1L) === ((3, 1, 0, Some(5.0), false, false)))
    assert(rows(4L) === ((3, 0, 0, Some(3.0), false, false)))
    // NaN/Inf vectors: counted non-finite and flagged degenerate (norm
    // is NaN/Inf — never read it as a health signal)
    assert(rows(2L)._3 === 1 && rows(2L)._6, "NaN counted and flagged")
    assert(rows(3L)._3 === 1 && rows(3L)._6, "+Inf counted and flagged")
    // pure narrow projection — no shuffle before the deterministic sort
    val plan = Similarity.embeddingQualityStats(df)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quality scan must not hash-shuffle:\n$plan")
  }

  test("quantizedCosineTopK: high recall vs the exact float top-k; degenerates excluded") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(_._2).map(_._3).toSeq }
    val exact = topk(Similarity.cosineTopK(emb))
    val quant = topk(Similarity.quantizedCosineTopK(emb))
    assert(quant.keySet === exact.keySet, "same query set")
    // int8 symmetric quantization at dim 64 keeps the neighborhood:
    // recall@5 well above chance and rank-1 mostly preserved
    val recalls = exact.keys.toSeq.map { q =>
      (exact(q).toSet intersect quant(q).toSet).size / 5.0 }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8, s"mean recall@5 $meanRecall, per-query $recalls")
    val top1 = exact.keys.count(q => exact(q).head == quant(q).head)
    assert(top1 >= exact.size / 2, s"rank-1 agreement $top1/${exact.size}")
    // a zero vector must appear on neither side of the quantized scan
    import spark.implicits._
    val planted = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
      (100L, Array(0.0f, 0.0f)), (101L, Array(Float.NaN, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizedCosineTopK(planted, numQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val ids = out.flatMap(p => Seq(p._1, p._2)).toSet
    assert(!ids.contains(100L) && !ids.contains(101L),
      "zero/NaN embeddings quantize to all-zero codes and are excluded")
    assert(ids.contains(0L) && ids.contains(2L), "healthy vectors rank")
  }

  test("int8_codes / int_dot: native codegen loops equal the composed twins") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    // real table + planted NaN / zero / negative extremes
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    val planted = Seq(
      (9000L, Array(0.0f, 0.0f, 0.0f)),
      (9001L, Array(Float.NaN, 1.0f, -2.0f)),
      (9002L, Array(-127.5f, 127.5f, 1.0f)),
      (9003L, Array(1e-30f, -1e-30f, 1e-30f)))
      .toDF("vec_id", "embedding")
    val df = real.unionByName(planted)
    // codes: native expression vs quantizeInt8's composed arithmetic
    // (its csv output is the committed oracle-matched reference)
    val nativeCsv = df.select(col("vec_id"),
      concat_ws(",", int8_codes(col("embedding"))).as("csv"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val composedCsv = Similarity.quantizeInt8(df)
      .select("vec_id", "qvec_csv")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nativeCsv === composedCsv,
      "int8_codes must equal the composed quantization bit-for-bit")
    // dot: native vs aggregate(zip_with(...)) fold over random int pairs
    val pairs = spark.range(200).select(
      transform(sequence(lit(0), lit(63)),
        i => pmod(xxhash64(col("id"), i), lit(255)).cast("int") - 127).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => pmod(xxhash64(col("id"), i, lit(1)), lit(255)).cast("int") - 127).as("b"))
    val both = pairs.select(
      int_dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, x) => acc + x)
        .as("composed")).collect()
    assert(both.forall(r => r.getLong(0) === r.getLong(1)),
      "int_dot must equal the composed fold")
    // mismatched lengths poison to NULL, like the zip_with twin
    val mm = Seq((Seq(1, 2, 3), Seq(1, 2))).toDF("a", "b")
      .select(int_dot(col("a"), col("b"))).collect()
    assert(mm.head.isNullAt(0), "length mismatch must yield NULL")
  }

  test("embeddingClusters: transitive closure labels min-id, singletons label themselves") {
    // 0 ~ 1 (same direction), 1 ~ 2 only through 0? no — chain 0-1, 1-2:
    // 2 is 0's near-dup only transitively (via the component walk)
    val d = emb(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.95f, 0.3f, 0f, 0f), 0),   // cos(0,1) ≈ 0.95
      (2L, Seq(0.6f, 0.8f, 0f, 0f), 0),    // cos(1,2) ≈ 0.81, cos(0,2) = 0.6
      (3L, Seq(0f, 0f, 1f, 0f), 0))        // orthogonal singleton
    val rows = Similarity.embeddingClusters(d, threshold = 0.75).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows(0L) === ((0L, true)))
    assert(rows(1L) === ((0L, false)))
    assert(rows(2L) === ((0L, false)),
      "2 joins via the 1-2 edge even though cos(0,2) < threshold (transitive closure)")
    assert(rows(3L) === ((3L, true)), "singletons label themselves")
  }

  test("ivfRecall: measured recall clears the documented floor; the floor can bite") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the committed contract (floor 0.6, default probe budget)
    val ok = Similarity.ivfRecall(d)
    val rows = ok.collect()
    ok.unpersist(false)
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[Boolean]("recall_ok")),
      "every query must clear the 0.6 recall floor at the default probe budget")
    // the boolean is a real measurement, not a constant: an impossible
    // floor must falsify it (recall@5 of a 4-of-16-list probe < 1.0
    // for at least one query on this data — verified by q_ivf_topk vs
    // q_ivf_exact differing)
    val strict = Similarity.ivfRecall(d, floor = 1.01)
    val sRows = strict.collect()
    strict.unpersist(false)
    assert(sRows.forall(!_.getAs[Boolean]("recall_ok")),
      "an unreachable floor must falsify every row")
  }

  test("embeddingIngestAudit: every duplicate class lands in its flag") {
    import org.apache.spark.sql.functions.col
    // stored corpus: e1 and e2 directions
    val stored = Similarity.quantizedCodes(emb(
      (100L, Seq(1f, 0f, 0f, 0f), 0), (101L, Seq(0f, 1f, 0f, 0f), 0)))
    // new batch: per-class plants (threshold 0.9 keeps geometry crisp)
    //  0: 2*e1 — same DIRECTION as stored 100, so identical int8 codes
    //     (symmetric quantization is scale-invariant): code_dup_stored
    //  1: e3 — novel
    //  2: e3 again — code_dup_new (in-batch identical codes, higher id)
    //  3: ~e3 (cos 0.96 vs vec 1) — neardup_new via the lower-id rep
    //  4: ~e1 (cos 0.98 vs stored 100) — neardup_stored
    //  5: zero vector — is_degenerate, no other flag, never folded
    //  6: e4 — novel
    val newv = emb(
      (0L, Seq(2f, 0f, 0f, 0f), 0), (1L, Seq(0f, 0f, 1f, 0f), 0),
      (2L, Seq(0f, 0f, 1f, 0f), 0), (3L, Seq(0f, 0f, 0.96f, 0.28f), 0),
      (4L, Seq(0.98f, 0.2f, 0f, 0f), 0), (5L, Seq(0f, 0f, 0f, 0f), 0),
      (6L, Seq(0f, 0f, 0f, 1f), 0))
    val out = Similarity.embeddingIngestAudit(newv, stored, threshold = 0.9)
    val m = out.collect().map(r => r.getLong(0) -> r).toMap
    out.unpersist(false)
    def b(id: Long, c: String) = m(id).getAs[Boolean](c)
    assert(b(0, "code_dup_stored") && b(0, "neardup_stored") && !b(0, "novel"),
      "scale-invariant codes: 2*e1 exactly matches stored e1")
    assert(!b(0, "code_dup_new") && !b(0, "neardup_new"))
    assert(b(1, "novel") &&
      Seq("is_degenerate", "code_dup_stored", "code_dup_new",
        "neardup_stored", "neardup_new").forall(c => !b(1, c)))
    assert(b(2, "code_dup_new") && b(2, "neardup_new") && !b(2, "novel"))
    assert(!b(2, "code_dup_stored") && !b(2, "neardup_stored"))
    assert(b(3, "neardup_new") && !b(3, "neardup_stored") && !b(3, "novel"),
      "near-dup of a lower-id NEW vector flags only the greater side")
    assert(!b(1, "neardup_new"), "the lower-id side of a new/new pair stays clean")
    // 4 is near stored e1 AND near new vec 0 (also the e1 direction,
    // lower id) — both flags fire, independently
    assert(b(4, "neardup_stored") && b(4, "neardup_new") && !b(4, "novel"))
    assert(b(5, "is_degenerate") && !b(5, "novel") &&
      Seq("code_dup_stored", "code_dup_new", "neardup_stored", "neardup_new")
        .forall(c => !b(5, c)),
      "degenerates take no duplicate flag")
    assert(b(6, "novel"))
    // informative bed: every flag takes both values
    Seq("is_degenerate", "code_dup_stored", "code_dup_new", "neardup_stored",
      "neardup_new", "novel").foreach { c =>
      assert(m.values.exists(_.getAs[Boolean](c)) &&
        m.values.exists(!_.getAs[Boolean](c)), s"flag $c must vary")
    }
  }

  test("embeddingIngestDayFold: chained novelty store vs one-batch audit (three days)") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val sVecs = emb.filter(storedSide)
    val nVecs = emb.filter(!storedSide)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_emb_ingest").toString
    Similarity.embeddingIngestStoreInit(sVecs, storeDir)
    var chainNovel = Set.empty[Long]
    var chainDup = Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
    val classes = Seq(
      "code" -> Seq("code_dup_stored", "code_dup_new"),
      "near" -> Seq("neardup_stored", "neardup_new"))
    for ((lo, hi) <- Seq((0L, 170L), (170L, 340L), (340L, 500L))) {
      val day = Similarity.embeddingIngestDayFold(spark,
        nVecs.filter(col("vec_id") >= lo && col("vec_id") < hi), storeDir)
      val rows = day.collect()
      day.unpersist(false)
      chainNovel ++= rows.filter(_.getAs[Boolean]("novel")).map(_.getLong(0))
      classes.foreach { case (c, cols) =>
        chainDup += c -> (chainDup(c) ++
          rows.filter(r => cols.exists(r.getAs[Boolean](_))).map(_.getLong(0)))
      }
    }
    val stored = Similarity.quantizedCodes(sVecs).filter(col("qsq") > 0)
    val batch = Similarity.embeddingIngestAudit(nVecs, stored)
    val bRows = batch.collect()
    batch.unpersist(false)
    val batchNovel = bRows.filter(_.getAs[Boolean]("novel")).map(_.getLong(0)).toSet
    // universal novelty-fold laws (the docIngestDayFold pair): a chained
    // day sees only the initial store plus FOLDED exemplars — a subset
    // of the lower-id new vectors the one-batch audit compares against —
    // so every chained flag has a one-batch witness per class, and
    // one-batch novelty implies chained novelty
    classes.foreach { case (c, cols) =>
      val batchDup = bRows.filter(r => cols.exists(r.getAs[Boolean](_)))
        .map(_.getLong(0)).toSet
      assert(chainDup(c).subsetOf(batchDup),
        s"$c: chain-only dups ${(chainDup(c) -- batchDup).toSeq.sorted.take(5)}")
    }
    assert(batchNovel.subsetOf(chainNovel),
      s"batch-only novel ${(batchNovel -- chainNovel).toSeq.sorted.take(5)}")
    // divergence structure: a chain-only-novel vector lost its only
    // witnesses to suppression — it must carry no batch stored-class
    // flag (the store only grows) and must be an in-batch dup_new case
    val chainOnly = chainNovel -- batchNovel
    val byId = bRows.map(r => r.getLong(0) -> r).toMap
    chainOnly.foreach { id =>
      val r = byId(id)
      assert(Seq("code_dup_stored", "neardup_stored")
        .forall(c => !r.getAs[Boolean](c)),
        s"chain-only novel $id must carry no batch stored-class flag")
      assert(Seq("code_dup_new", "neardup_new").exists(c => r.getAs[Boolean](c)),
        s"chain-only novel $id must be an in-batch dup_new case")
    }
    assert(chainOnly.size * 20 <= bRows.length,
      s"divergence must stay a sliver: ${chainOnly.size} of ${bRows.length}")
    assert(batchNovel.nonEmpty && batchNovel.size < nVecs.count(), "informative bed")
    // the store stays one exemplar per distinct code digest for its
    // whole life (novel vectors are distinct-by-digest among themselves
    // and absent from the store by their own verdicts)
    val store = Similarity.embeddingIngestReadStore(spark, storeDir)
    assert(store.count() === store.select("dig").distinct().count(),
      "code store must stay exemplar-per-digest")
    assert(store.count() === store.select("vec_id").distinct().count())
  }

  test("embeddingIngestChainAudit: pure chain ≡ the sequential store-dir folds") {
    import org.apache.spark.sql.functions.{col, conv, floor, lit, md5, substring}
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val chain = Similarity.embeddingIngestChainAudit(emb)
    val chainRows = chain.collect()
    chain.unpersist(false)
    def flags(r: org.apache.spark.sql.Row, off: Int) =
      (0 until 6).map(i => r.getBoolean(off + i))
    val chainMap = chainRows.map(r => (r.getInt(0), r.getLong(1)) -> flags(r, 2)).toMap
    // replay the identical md5 split through the OPERATIONAL loop:
    // store init from the stored half, then one embeddingIngestDayFold
    // per md5-assigned day batch against the REAL parquet store
    val h1 = substring(md5(col("vec_id").cast("string")), 1, 1)
    val h2 = substring(md5(col("vec_id").cast("string")), 2, 1)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_emb_chain").toString
    Similarity.embeddingIngestStoreInit(emb.filter(h1 < "8"), storeDir)
    val dayNum = (floor(conv(h2, 16, 10).cast("int") * 3 / lit(16)) + 1).cast("int")
    val rest = emb.filter(!(h1 < "8")).withColumn("ingest_day", dayNum)
    val foldMap = (1 to 3).flatMap { k =>
      val day = Similarity.embeddingIngestDayFold(spark,
        rest.filter(col("ingest_day") === k).drop("ingest_day"), storeDir)
      val rows = day.collect()
      day.unpersist(false)
      rows.map(r => (k, r.getLong(0)) -> flags(r, 1))
    }.toMap
    assert(chainMap === foldMap,
      "the pure chained query must equal the operational fold loop verdict-for-verdict")
    // the final store holds exactly seed exemplars + the chain's novels
    val seedEx = Similarity.quantizedCodes(emb.filter(h1 < "8"))
      .filter(col("qsq") > 0).select("dig").distinct().count()
    val novels = chainRows.count(_.getAs[Boolean]("novel"))
    val store = Similarity.embeddingIngestReadStore(spark, storeDir)
    assert(store.count() === seedEx + novels)
    // informative bed: non-trivial days and at least one duplicate and
    // one novel verdict per the whole chain
    assert((1 to 3).forall(k => chainRows.exists(_.getInt(0) == k)))
    assert(novels > 0 && novels < chainRows.length)
  }

  test("embeddingStoreCompact: summary arithmetic, audit-invariance, idempotence") {
    import org.apache.spark.sql.functions.{col, lit, transform}
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    // planted redundancy = the scale-invariance collapse itself: ×2 and
    // ×0.5 are exact power-of-two scalings, so every direction's three
    // magnitude variants quantize to byte-identical codes
    def scaled(off: Long, f: Float) = base.select(
      (col("vec_id") + lit(off)).as("vec_id"),
      transform(col("embedding"), x => x * lit(f)).as("embedding"))
    val codes = Similarity.quantizedCodes(
      base.unionByName(scaled(1000000L, 2.0f)).unionByName(scaled(2000000L, 0.5f)))
    val summ = Similarity.embeddingStoreCompactionSummary(codes).collect()(0)
    val bs = Similarity.embeddingStoreCompactionSummary(
      Similarity.quantizedCodes(base)).collect()(0)
    assert(summ.getAs[Long]("rows_before") === 3 * bs.getAs[Long]("rows_before"),
      "magnitude twins must triple stored rows")
    assert(summ.getAs[Long]("exemplars") === bs.getAs[Long]("exemplars"),
      "magnitude twins must create NO new digest groups")
    assert(summ.getAs[Long]("max_group") === 3 * bs.getAs[Long]("max_group"))
    assert(summ.getAs[Long]("dropped") ===
      summ.getAs[Long]("rows_before") - summ.getAs[Long]("exemplars"))
    // materialize the redundant store, audit a batch against it BEFORE
    // compacting (and release the audit's cache before the rewrite —
    // a live CacheManager entry over the store path could serve stale
    // pre-compaction data to the post-compaction audit)
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_emb_compact").toString
    codes.filter(col("qsq") > 0).select("vec_id", "qv", "qsq", "dig")
      .write.mode("overwrite").parquet(storeDir)
    val batch = base.select((col("vec_id") + lit(5000000L)).as("vec_id"),
      col("embedding"))
    val audB = Similarity.embeddingIngestAudit(batch,
      Similarity.embeddingIngestReadStore(spark, storeDir))
    val before = audB.collect().toSeq
    audB.unpersist(blocking = true)
    val (b0, a0) = Similarity.embeddingStoreCompact(spark, storeDir)
    assert(b0 === summ.getAs[Long]("rows_before"))
    assert(a0 === summ.getAs[Long]("exemplars"))
    // cosine is a function of the codes alone, so dropping redundant
    // rows of an identical code cannot change any EXISTS verdict
    val audA = Similarity.embeddingIngestAudit(batch,
      Similarity.embeddingIngestReadStore(spark, storeDir))
    val after = audA.collect().toSeq
    audA.unpersist(blocking = true)
    assert(before === after, "compaction must not change any audit verdict")
    // idempotence: a second rewrite keeps every exemplar
    val (b1, a1) = Similarity.embeddingStoreCompact(spark, storeDir)
    assert(b1 === a0 && a1 === a0)
  }

  test("embeddingIngestAuditBlocked: nProbe = nList equals the unblocked audit; " +
      "pruned probes flag a subset, code flags invariant") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val stored = d.filter(storedSide); val fresh = d.filter(!storedSide)
    val cents = Similarity.ivfSeedCentroids(stored)
    val storedAssigned = Similarity.ivfIndexAssign(stored, cents)
    val full = Similarity.embeddingIngestAudit(fresh,
      storedAssigned.select("vec_id", "qv", "qsq", "dig"))
    val fullRows = full.collect().map(r => r.getLong(0) -> r).toMap
    full.unpersist(blocking = true)
    val allProbe = Similarity.embeddingIngestAuditBlocked(fresh, storedAssigned,
      cents, nProbe = 16)
    val allRows = allProbe.collect().map(_.toSeq)
    allProbe.unpersist(blocking = true)
    assert(allRows.toSeq === fullRows.keys.toSeq.sorted.map(fullRows(_).toSeq),
      "probing every list must reproduce the unblocked audit row-for-row")
    val pruned = Similarity.embeddingIngestAuditBlocked(fresh, storedAssigned,
      cents, nProbe = 1)
    val prunedRows = pruned.collect()
    pruned.unpersist(blocking = true)
    assert(prunedRows.nonEmpty)
    prunedRows.foreach { r =>
      val f = fullRows(r.getLong(0))
      // exact-duplicate verdicts don't depend on the probe set
      assert(r.getBoolean(1) === f.getBoolean(1))
      assert(r.getBoolean(2) === f.getBoolean(2), "code_dup_stored invariant")
      assert(r.getBoolean(3) === f.getBoolean(3), "code_dup_new invariant")
      // near-dup verdicts only shrink under pruning; novel only grows
      assert(!r.getBoolean(4) || f.getBoolean(4), "neardup_stored subset")
      assert(!r.getBoolean(5) || f.getBoolean(5), "neardup_new subset")
      assert(!f.getBoolean(6) || r.getBoolean(6), "novel superset")
    }
  }

  test("packed int8 codes: bytes equal ints element-wise, dots bit-for-bit, " +
      "top-k row-for-row") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDotBytes.int_dot_bytes
    // real corpus + planted degenerates (zero vector, NaN element)
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
      .unionByName(emb((900001L, Seq(0f, 0f, 0f, 0f), 0),
        (900002L, Seq(1f, Float.NaN, 0f, 0f), 0)).select("vec_id", "embedding"))
    val rows = d.select(col("vec_id"),
        int8_codes(col("embedding")).as("qv"),
        int8_bytes(col("embedding")).as("qb"))
      .withColumn("di", int_dot(col("qv"), col("qv")))
      .withColumn("db", int_dot_bytes(col("qb"), col("qb")))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qv = r.getSeq[Int](1)
      val qb = r.getAs[Array[Byte]](2)
      assert(qv.length === qb.length)
      qv.zip(qb).foreach { case (i, b) =>
        assert(i === b.toInt, s"vec ${r.getLong(0)}: code $i != byte $b") }
      assert(r.getLong(3) === r.getLong(4),
        s"vec ${r.getLong(0)}: int_dot != int_dot_bytes")
    }
    // mismatched lengths poison to NULL, mirroring int_dot
    val mm = spark.range(1).select(
      int_dot_bytes(lit(Array[Byte](1, 2)), lit(Array[Byte](1, 2, 3))).as("x"))
      .collect()(0)
    assert(mm.isNullAt(0))
    // the packed scan is the same ANN answer
    val ints = Similarity.quantizedCosineTopK(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001")).collect().map(_.toSeq)
    val bytes = Similarity.quantizedCosineTopKBytes(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001")).collect().map(_.toSeq)
    assert(bytes.toSeq === ints.toSeq)
  }

  test("IVF index plans: no inferred null check re-inlines the argmax into a Filter") {
    // the 25× regression this pins: joining on a list id DERIVED from
    // the argmax made constraint inference push
    // isnotnull(<whole 16-struct score array>) below the aggregate as a
    // per-input-row Filter, and the blown-up stage fell out of
    // whole-stage codegen. listIdOf's non-null coalesce folds the
    // check away — no physical Filter may contain the score array.
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val cents = Similarity.ivfSeedCentroids(d.filter(storedSide))
    // plain .collect is blind behind AQE / query-stage / cache
    // boundaries (AdaptiveSparkPlanExec's inner plan is not a child) —
    // walk through them or the pin passes vacuously
    def filtersOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      import org.apache.spark.sql.execution.SparkPlan
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val inner: Seq[SparkPlan] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(c.relation.cachedPlan)
          case _ => Nil
        }
        p +: (p.children ++ inner).flatMap(walk)
      }
      walk(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      }
    }
    val plans = Seq(
      "build" -> filtersOf(Similarity.ivfIndexBuildSummary(d)),
      "topk" -> filtersOf(Similarity.ivfIndexTopK(d)),
      "blocked" -> filtersOf(Similarity.embeddingIngestAuditBlocked(
        d.filter(!storedSide), Similarity.ivfIndexAssign(d.filter(storedSide), cents),
        cents)))
    assert(plans.exists(_._2.nonEmpty),
      "traversal must see at least one Filter or the pin is vacuous")
    plans.foreach { case (name, conds) =>
      conds.foreach(c => assert(!c.contains("array_max"),
        s"$name: a Filter re-inlines the argmax score array: ${c.take(200)}"))
    }
  }

  test("ivfSeedCentroids: deterministic build, 16 distinct non-degenerate seeds") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c1 = Similarity.ivfSeedCentroids(d).collect().sortBy(_.getInt(0))
    val c2 = Similarity.ivfSeedCentroids(d).collect().sortBy(_.getInt(0))
    assert(c1.length === 16)
    assert(c1.map(_.getInt(0)).toSeq === (0 until 16))
    assert(c1.map(_.toSeq) === c2.map(_.toSeq), "two builds must be identical")
    assert(c1.forall(_.getAs[Long]("csq") > 0), "degenerate seeds are excluded")
    assert(c1.map(_.getAs[Long]("seed_vec_id")).distinct.length === 16)
  }

  test("ivfIndexAssign: argmax matches brute force; a seed assigns at sim 1 " +
      "to the lowest identical-code centroid") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfSeedCentroids(d)
    val seeds = Similarity.collectSeedCentroids(cents)
    val asg = Similarity.ivfIndexAssign(d, cents)
      .select("vec_id", "qv", "qsq", "centroid_id", "centroid_sim").collect()
    assert(asg.nonEmpty)
    // brute-force argmax on the driver over the same exact arithmetic
    asg.foreach { r =>
      val qv = r.getSeq[Int](1); val qsq = r.getLong(2)
      val sims = seeds.map { case (cid, cv, csq) =>
        val dot = qv.zip(cv).map { case (a, b) => a.toLong * b }.sum
        (dot.toDouble / math.sqrt(qsq.toDouble * csq.toDouble), cid)
      }
      val best = sims.maxBy { case (s, cid) => (s, -cid) }
      assert(r.getInt(3) === best._2,
        s"vec ${r.getLong(0)}: expected centroid ${best._2}, got ${r.getInt(3)}")
      assert(math.abs(r.getDouble(4) - best._1) < 1e-6)
    }
    // each seed's nearest centroid is (an identical-code copy of) itself
    val bySeed = asg.map(r => r.getLong(0) -> r).toMap
    seeds.foreach { case (cid, _, _) =>
      val seedVec = cents.filter(col("centroid_id") === cid)
        .collect()(0).getAs[Long]("seed_vec_id")
      val row = bySeed(seedVec)
      assert(row.getDouble(4) === 1.0, s"seed $seedVec must score sim 1.0")
      assert(row.getInt(3) <= cid, "ties break to the lowest centroid id")
    }
  }

  test("ivfIndexTopK with nProbe = nList is exactly the quantized brute-force scan") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val all = Similarity.ivfIndexTopK(d, nProbe = 16).collect().map(_.toSeq)
    val brute = Similarity.quantizedCosineTopK(d).collect().map(_.toSeq)
    assert(all.toSeq === brute.toSeq)
    // the pruned probe keeps per-query result shape and high overlap
    val pruned = Similarity.ivfIndexTopK(d, nProbe = 4).collect()
    val prunedByQ = pruned.groupBy(_.getLong(0))
    assert(prunedByQ.values.forall(_.length <= 5))
    val bruteByQ = brute.groupBy(_.head.asInstanceOf[Long])
    val recalls = bruteByQ.map { case (q, rows) =>
      val exact = rows.map(_(2).asInstanceOf[Long]).toSet
      val got = prunedByQ.getOrElse(q, Array.empty).map(_.getLong(2)).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    assert(recalls.sum / recalls.size >= 0.5,
      s"mean recall@5 of the 4/16-probe index fell to ${recalls.sum / recalls.size}")
  }

  test("ivfIndexStore: append ≡ batch assignment under the stored seeds; " +
      "a probe prunes to its probed hive partitions") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val stored = d.filter(storedSide); val fresh = d.filter(!storedSide)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString
    Similarity.ivfIndexStoreInit(stored, dir)
    Similarity.ivfIndexStoreAppend(spark, fresh, dir)
    val afterAppend = Similarity.ivfIndexStoreAssignments(spark, dir)
      .select("vec_id", "centroid_id", "centroid_sim")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val batch = Similarity.ivfIndexAssign(d,
        Similarity.ivfIndexStoreCentroids(spark, dir))
      .select("vec_id", "centroid_id", "centroid_sim")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(afterAppend.toSeq === batch.toSeq,
      "incremental append must equal the one-batch assignment (fixed seeds)")
    // the assignment store IS the inverted file: hive layout by list id,
    // and a list filter scans only its partitions
    val lists = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(lists.length > 1, "expected one hive partition per inverted list")
    // inputFiles reports the whole FileIndex; the files the executed
    // scan actually READS show the partition pruning
    val readFiles = spark.read.parquet(s"$dir/assignments")
      .filter(col("centroid_id").isin(0, 1))
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0))
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(f =>
      f.contains("centroid_id=0") || f.contains("centroid_id=1")),
      "probe scan must prune to the probed lists' partitions")
    // the persisted-index probe with every list probed IS brute force:
    // a full-corpus store + nProbe = nList reproduces the quantized
    // scan row-for-row, through the hive layout and the pruning path
    val fullDir = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    Similarity.ivfIndexStoreInit(d, fullDir)
    val queries = d.filter(col("vec_id") < 10)
    val viaStore = Similarity.ivfIndexStoreProbe(spark, queries, fullDir,
      nProbe = 16).collect().map(_.toSeq)
    val brute = Similarity.quantizedCosineTopK(d).collect().map(_.toSeq)
    assert(viaStore.toSeq === brute.toSeq)
    // and the pruned store probe matches the in-memory pruned index
    val prunedStore = Similarity.ivfIndexStoreProbe(spark, queries, fullDir)
      .collect().map(_.toSeq)
    val prunedMem = Similarity.ivfIndexTopK(d).collect().map(_.toSeq)
    assert(prunedStore.toSeq === prunedMem.toSeq)
  }

  test("ivfIndexSpilledRecall: spilled candidates are a superset of single, " +
      "hits never worse, and at spill = nList every probe is exhaustive") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.ivfIndexSpilledRecall(d).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("cand_spilled") >= r.getAs[Long]("cand_single"),
        "top-2 assignment can only add candidates")
      assert(r.getAs[Boolean]("spill_no_worse"),
        "ranking a candidate superset can't lose exact-top-k hits")
    }
    // degenerate regime: spill = nList puts every vector in every
    // PROBED list's reach → candidates = corpus - self, hits = k
    val full = Similarity.ivfIndexSpilledRecall(d, spill = 16).collect()
    val nonDegen = Similarity.quantizedCodes(d)
      .filter(org.apache.spark.sql.functions.col("qsq") > 0).count()
    full.foreach { r =>
      assert(r.getAs[Long]("cand_spilled") === nonDegen - 1)
      assert(r.getAs[Long]("hits_spilled") === 5L)
    }
  }

  test("ivfIndexStoreReseed: unpack inverts pack; reseed ≡ fresh init; " +
      "idempotent; day partitions folded; mid-swap crash self-heals") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.Int8Unpack.int8_unpack
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // unpack ≡ codes, element-wise over the real corpus
    val mism = d.select(int8_unpack(int8_bytes(col("embedding"))).as("u"),
      int8_codes(col("embedding")).as("c"))
      .filter(!(col("u") <=> col("c"))).count()
    assert(mism === 0L)
    // drifted store: init on the md5-stored side, append + stream the rest
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val newSide = d.filter(!storedSide)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_reseed").toString + "/idx"
    Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
    Similarity.ivfIndexStoreAppend(spark, newSide.filter(col("vec_id") % 2 === 0), dir)
    Similarity.ivfIndexStreamDay(spark, newSide.filter(col("vec_id") % 2 === 1), 1L, dir)
    // occupancy counts batch lists AND streamed days (what a probe reads)
    val occBefore = Similarity.ivfIndexStoreOccupancy(spark, dir)
    val nonDegen = Similarity.quantizedCodes(d).filter(col("qsq") > 0).count()
    assert(occBefore.agg(org.apache.spark.sql.functions.sum("list_size"))
      .collect()(0).getLong(0) === nonDegen)
    val summary = Similarity.ivfIndexStoreReseed(spark, dir)
    // reseed ≡ fresh init on the union corpus: same centroids, same
    // assignments (row-sets compared on all columns)
    val freshDir = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString + "/idx"
    Similarity.ivfIndexStoreInit(d, freshDir)
    def rows(dirr: String, sub: String) =
      spark.read.parquet(s"$dirr/$sub").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => x
      }.toString).sorted.toSeq
    assert(rows(dir, "centroids") === rows(freshDir, "centroids"))
    assert(rows(dir, "assignments") === rows(freshDir, "assignments"))
    // day partitions were folded and retired by the swap
    assert(!new java.io.File(s"$dir/day_assignments").exists())
    assert(summary.collect().map(_.getLong(2)).sum === nonDegen)
    // idempotence: a second reseed re-derives the same content
    Similarity.ivfIndexStoreReseed(spark, dir)
    assert(rows(dir, "assignments") === rows(freshDir, "assignments"))
    // mid-swap crash: target renamed aside, staging complete → recover
    // adopts the staged store and the index is live again
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.compact-staging")
    fs.mkdirs(staging)
    // simulate: completed staging (copy of live) + vanished target
    org.apache.hadoop.fs.FileUtil.copy(fs, target, fs, staging, false,
      spark.sparkContext.hadoopConfiguration)
    // FileUtil.copy(target -> staging) nests target's name under staging
    val nested = new org.apache.hadoop.fs.Path(staging, target.getName)
    fs.listStatus(nested).foreach(st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(staging, st.getPath.getName)))
    fs.delete(nested, true)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")).close()
    fs.delete(target, true)
    assert(Curation.storeSwapRecover(spark, dir) === "recovered-staging")
    assert(rows(dir, "assignments") === rows(freshDir, "assignments"))
  }

  test("ivfIndexStoreTrain: iters = 0 IS the reseed; training preserves " +
      "the partition; the trained store still probes complete") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    def freshStore(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
      Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(spark, d.filter(!storedSide), dir)
      dir
    }
    def rows(dirr: String, sub: String) =
      spark.read.parquet(s"$dirr/$sub").collect().map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => x
      }.toString).sorted.toSeq
    // iters = 0 degenerates to the reseed byte-for-byte (seed re-draw
    // off the full stored codes, no refinement)
    val a = freshStore("graft_train0"); val b = freshStore("graft_reseed")
    Similarity.ivfIndexStoreTrain(spark, a, iters = 0)
    Similarity.ivfIndexStoreReseed(spark, b)
    assert(rows(a, "centroids") === rows(b, "centroids"))
    assert(rows(a, "assignments") === rows(b, "assignments"))
    // real training: the store still holds every non-degenerate vector
    // exactly once, and lineage seeds are the epoch-0 draw's vids
    val c = freshStore("graft_train2")
    val occ = Similarity.ivfIndexStoreTrain(spark, c).collect()
    val nonDegen = Similarity.quantizedCodes(d).filter(col("qsq") > 0).count()
    assert(occ.map(_.getLong(2)).sum === nonDegen)
    val seedVids = Similarity.ivfSeedCentroids(d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    occ.foreach(r => assert(r.getLong(1) === seedVids(r.getInt(0)),
      "trained centroid keeps its epoch-0 ancestor's seed_vec_id"))
    // the trained store answers probes complete (k rows per query)
    val probed = Similarity.ivfIndexStoreProbe(spark,
      d.filter(col("vec_id") < 10), c)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("dimTruncationRecall: the full-width arm IS the exact ranking; " +
      "hits bounded; truncated-zero vectors score 0, not NaN") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.dimTruncationRecall(d).collect()
    assert(rows.length === 30, "3 widths x 10 queries")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 5L)
      assert(math.abs(r.getDouble(3) - r.getLong(2) / 5.0) < 1e-9)
    }
    // d = 64 (the full width) ranks exactly like the exact scan —
    // every query's sanity row reads recall 1.0
    rows.filter(_.getInt(0) === 64).foreach(r =>
      assert(r.getLong(2) === 5L, s"full-width arm must be exact: $r"))
    // a vector whose PREFIX is all-zero but whose tail is not must
    // score 0 in the truncated arm (never NaN / never excluded): with
    // 4 dims and width-2 prefixes, vec 3's prefix is zero
    import spark.implicits._
    val tiny = Seq(
      (0L, Seq(3f, 1f, 0f, 1f), 0), (1L, Seq(2f, 2f, 1f, 0f), 0),
      (2L, Seq(1f, 3f, 2f, 2f), 0), (3L, Seq(0f, 0f, 5f, 4f), 0))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.dimTruncationRecall(tiny, numQueries = 2, k = 2,
      dims = Seq(2, 4)).collect()
    assert(t.length === 4)
    t.foreach(r => assert(!r.isNullAt(2) && !r.isNullAt(3)))
  }

  test("lloyd_stats sidecar: init writes it, append merges it, and the " +
      "O(batch) centroid update equals the union one-epoch Lloyd update") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val dir = java.nio.file.Files.createTempDirectory("graft_lloyd_sc").toString + "/idx"
    Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
    val seeds = Similarity.collectSeedCentroids(
      Similarity.ivfIndexStoreCentroids(spark, dir))
    // init: the sidecar IS the stored side's sufficient statistics
    // under the init centroids
    val storedCodes = Similarity.quantizedCodes(d.filter(storedSide))
      .filter(col("qsq") > 0)
    assert(Similarity.ivfIndexStoreLloydStats(spark, dir) ===
      Similarity.lloydStats(storedCodes, seeds))
    // append: the sidecar becomes the UNION corpus's statistics under
    // the same (fixed) centroids — merge by addition, no rescan
    Similarity.ivfIndexStoreAppend(spark, d.filter(!storedSide), dir)
    val unionCodes = Similarity.quantizedCodes(d).filter(col("qsq") > 0)
    assert(Similarity.ivfIndexStoreLloydStats(spark, dir) ===
      Similarity.lloydStats(unionCodes, seeds))
    // the O(batch) update ≡ the one-epoch Lloyd update of the union
    // corpus (the sufficient-statistics theorem, on the ARTIFACT)
    val summary = Similarity.ivfIndexStoreUpdateCentroids(spark, dir).collect()
    val expected = Similarity.lloydUpdate(unionCodes, seeds)
    val got = Similarity.collectSeedCentroids(
      Similarity.ivfIndexStoreCentroids(spark, dir))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected.toSeq)
    // summary bookkeeping: member counts cover every stored row once
    assert(summary.map(_.getLong(1)).sum === unionCodes.count())
    summary.zip(expected).foreach { case (r, (cid, cv, csq)) =>
      assert(r.getInt(0) === cid)
      assert(r.getLong(2) === cv.map(_.toLong).sum)
      assert(r.getLong(3) === csq)
    }
    // idempotent: same sidecar → same means; the sidecar itself is
    // untouched by a centroid move (member sums don't move)
    val statsAfter = Similarity.ivfIndexStoreLloydStats(spark, dir)
    val summary2 = Similarity.ivfIndexStoreUpdateCentroids(spark, dir).collect()
    assert(summary2.map(_.toSeq).toSeq === summary.map(_.toSeq).toSeq)
    assert(Similarity.ivfIndexStoreLloydStats(spark, dir) === statsAfter)
    // the drifted store still probes complete: lists stay as-assigned
    // (the update never rewrites assignment rows), probes rank the
    // MOVED centroids — the standard IVF maintenance posture
    val probed = Similarity.ivfIndexStoreProbe(spark,
      d.filter(col("vec_id") < 10), dir)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
    // train re-bases the sidecar under the NEW lists: counts equal the
    // post-train list sizes
    val occ = Similarity.ivfIndexStoreTrain(spark, dir).collect()
    val rebased = Similarity.ivfIndexStoreLloydStats(spark, dir)
    occ.foreach { r =>
      assert(rebased((r.getInt(0), 0))._2 === r.getLong(2),
        "sidecar counts must equal the trained list sizes")
    }
  }

  test("ivf store compact: days fold without moving an assignment, the " +
      "sidecar absorbs them, and the post-fold store supports every op") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cpt")
      .toString + "/idx"
    Similarity.ivfIndexStoreInit(d.filter(col("vec_id") % 3 === 0), dir)
    Similarity.ivfIndexStorePqBuild(spark, dir)
    Similarity.ivfIndexStreamDay(spark, d.filter(col("vec_id") % 3 === 1), 0L, dir)
    Similarity.ivfIndexStreamDay(spark, d.filter(col("vec_id") % 3 === 2), 1L, dir)
    def rowSet() = Similarity.ivfIndexStoreAssignments(spark, dir)
      .unionByName(Similarity.ivfIndexReadDayAssignments(spark, dir))
      .select("vec_id", "centroid_id", "dig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val before = rowSet()
    val cents = Similarity.collectSeedCentroids(
      Similarity.ivfIndexStoreCentroids(spark, dir))
    val probeBefore = Similarity.ivfIndexStoreProbe(spark,
      d.filter(col("vec_id") < 10), dir).collect().map(_.toSeq)
    Similarity.ivfIndexStoreCompact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // days folded: dirs gone, not one assignment fact moved, centroids
    // verbatim, probes identical
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/day_assignments")))
    assert(rowSet() === before)
    assert(Similarity.collectSeedCentroids(
      Similarity.ivfIndexStoreCentroids(spark, dir)).toSeq === cents.toSeq)
    assert(Similarity.ivfIndexStoreProbe(spark,
      d.filter(col("vec_id") < 10), dir).collect().map(_.toSeq)
      .toSeq === probeBefore.toSeq)
    // the sidecar absorbed the day rows: fsck clean over the WHOLE
    // corpus, and the O(batch) centroid update now covers them
    assert(Similarity.ivfIndexStoreFsck(spark, dir).collect()
      .forall(r => r.getBoolean(4) && r.getBoolean(5)))
    assert(Similarity.ivfIndexStoreUpdateCentroids(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_members"))
      .collect()(0).getLong(0) === before.size.toLong)
    // PQ artifacts survived verbatim: the ADC probe still answers
    assert(Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir).count() > 0)
    // idempotent, and the store stays live under the shared recovery
    Similarity.ivfIndexStoreCompact(spark, dir)
    assert(rowSet() === before)
    assert(graft.ext.Curation.storeSwapRecover(spark, dir) === "live")
  }

  test("filtered store probe: keep-all degenerates both arms to full recall; " +
      "keep-none yields empty arms; in-filter never under-fills while post does") {
    import org.apache.spark.sql.functions.{col, lit}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_filt").toString + "/idx"
    Similarity.ivfIndexStoreInit(d, dir)
    val queries = d.filter(col("vec_id") < 10)
    // keep = everything, full probe width: both arms ARE the plain
    // probe, and the filtered exact baseline is the plain exact — both
    // recalls land at 1.0 and both arms fill to k
    val all = Similarity.ivfIndexStoreProbeFiltered(spark, queries, dir,
      d.select(col("vec_id"), lit(true).as("keep")), nProbe = 16).collect()
    assert(all.length === 10 && all.forall(r =>
      r.getLong(1) == 5L && r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0 &&
        r.getBoolean(6)))
    // keep = nothing: both arms empty, recalls 0, witness still holds
    val none = Similarity.ivfIndexStoreProbeFiltered(spark, queries, dir,
      d.select(col("vec_id"), lit(false).as("keep"))).collect()
    assert(none.length === 10 && none.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L &&
        r.getBoolean(6)))
    // a selective predicate: in-filter fills to min(k, matches) while
    // post-filter under-fills, and hits_in >= hits_post everywhere
    val sel = Similarity.ivfIndexStoreProbeFiltered(spark, queries, dir,
      d.select(col("vec_id"), (col("vec_id") % 3 === 1).as("keep"))).collect()
    assert(sel.forall(r => r.getLong(3) >= r.getLong(2) && r.getBoolean(6)))
    assert(sel.exists(r => r.getLong(1) < 5L),
      "a 1-in-3 predicate should under-fill some post-filter top-5")
  }

  test("store delete: victims vanish from raw AND ADC probes, the rows equal " +
      "a survivor assignment under the same centroids, and the store fscks clean") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString + "/idx"
    Similarity.ivfIndexStoreInit(d, dir)
    // a RESIDUAL PQ sidecar on purpose: codes are per-vector facts
    // against the FIXED centroids, so delete needs no residual refusal
    // (unlike a centroid update) — survivors' codes stay valid
    Similarity.ivfIndexStorePqBuild(spark, dir, residual = true)
    val victim = col("vec_id") % 5 === 2
    val summary = Similarity.ivfIndexStoreDelete(spark,
      d.filter(victim).select("vec_id"), dir).collect()
    assert(summary.nonEmpty && summary.map(_.getLong(1)).sum > 0)
    // rows after delete ≡ assigning the SURVIVORS under the same
    // centroids (build-over-survivors at row granularity)
    val got = Similarity.ivfIndexStoreAssignments(spark, dir)
      .select("vec_id", "centroid_id", "dig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val expected = Similarity.ivfIndexAssign(d.filter(!victim),
        Similarity.ivfIndexStoreCentroids(spark, dir))
      .select("vec_id", "centroid_id", "dig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === expected)
    // no probe path can resurrect a victim — raw and ADC alike
    val queries = d.filter(col("vec_id") < 10)
    val raw = Similarity.ivfIndexStoreProbe(spark, queries, dir).collect()
    assert(raw.nonEmpty && raw.forall(_.getLong(2) % 5 != 2))
    val adc = Similarity.ivfIndexStorePqProbe(spark, queries, dir).collect()
    assert(adc.nonEmpty && adc.forall(_.getLong(2) % 5 != 2))
    // the subtracted sidecar still satisfies the invariant law
    assert(Similarity.ivfIndexStoreFsck(spark, dir).collect()
      .forall(r => r.getBoolean(4) && r.getBoolean(5)))
    // deleting ids the store never held is a no-op with an empty summary
    import spark.implicits._
    val none = Similarity.ivfIndexStoreDelete(spark,
      Seq(-1L, -2L).toDF("vec_id"), dir)
    assert(none.count() === 0)
    // streamed day partitions are refused loud: the sidecar does not
    // cover them until a train folds them in
    Similarity.ivfIndexStreamDay(spark, d.filter(col("vec_id") < 3), 0L, dir)
    val e = intercept[IllegalStateException] {
      Similarity.ivfIndexStoreDelete(spark, Seq(1L).toDF("vec_id"), dir)
    }
    assert(e.getMessage.contains("day"))
  }

  test("PQ sidecar survives a retrain: codebook verbatim, per-vector codes " +
      "unchanged, partitioning follows the trained lists, probe still answers") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_swap").toString + "/idx"
    Similarity.ivfIndexStoreInit(d, dir)
    Similarity.ivfIndexStorePqBuild(spark, dir)
    def pqRows() = spark.read.parquet(s"$dir/pq_codes")
      .select("vec_id", "pcodes", "rsq").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2)))
      .sortBy(_._1).toSeq
    def cbRows() = spark.read.parquet(s"$dir/pq_codebook").collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => x
      }.toString).sorted.toSeq
    val pqBefore = pqRows(); val cbBefore = cbRows()
    Similarity.ivfIndexStoreTrain(spark, dir)
    // rebuild-in-swap: same codebook, same per-vector (pcodes, rsq) —
    // only the hive partitioning moved with the trained lists
    assert(cbRows() === cbBefore)
    assert(pqRows() === pqBefore)
    val asg = Similarity.ivfIndexStoreAssignments(spark, dir)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pqParts = spark.read.parquet(s"$dir/pq_codes")
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pqParts === asg,
      "every PQ code row must live in its vector's TRAINED list partition")
    // the retrained store's ADC probe answers complete
    val probed = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("centroid_scores: native batched loop ≡ unrolled per-centroid structs, " +
      "element-for-element, and stays native at nList far past the unroll budget") {
    import org.apache.spark.sql.functions.{col, not}
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val codes = Similarity.quantizedCodes(d).filter(col("qsq") > 0)
    val seeds = Similarity.collectSeedCentroids(Similarity.ivfSeedCentroids(d))
    // full-array equality (sims are the same double arithmetic in the
    // same order → bitwise equal, not approximately equal)
    val both = codes.select(
      Similarity.seedScoreArray(seeds).as("native"),
      Similarity.seedScoreArrayUnrolled(seeds).as("unrolled"))
    assert(both.filter(not(col("native") <=> col("unrolled"))).count() === 0L)
    // non-consecutive / shuffled centroid ids keep their own nids
    val oddSeeds = seeds.take(3).zip(Seq(7, 2, 19)).map {
      case ((_, cv, csq), cid) => (cid, cv, csq) }
    val bothOdd = codes.select(
      Similarity.seedScoreArray(oddSeeds).as("native"),
      Similarity.seedScoreArrayUnrolled(oddSeeds).as("unrolled"))
    assert(bothOdd.filter(not(col("native") <=> col("unrolled"))).count() === 0L)
    // a big synthetic centroid set: the unrolled form at this size would
    // emit thousands of codegen branches; the native loop is one body.
    // Correctness pin: argmax over 512 centroids matches a driver loop.
    val dim = seeds.head._2.length
    val bigSeeds = Array.tabulate(512) { c =>
      val cv = Seq.tabulate(dim)(i => ((c * 31 + i * 7) % 255) - 127)
      (c, cv, cv.map(v => v.toLong * v).sum)
    }.filter(_._3 > 0)
    val scoredBig = codes.limit(50).select(col("qv"), col("qsq"),
      org.apache.spark.sql.functions.array_max(
        Similarity.seedScoreArray(bigSeeds)).as("best")).collect()
    scoredBig.foreach { r =>
      val qv = r.getSeq[Int](0); val qsq = r.getLong(1)
      val best = r.getStruct(2)
      val expected = bigSeeds.map { case (cid, cv, csq) =>
        val dot = qv.zip(cv).map { case (a, b) => a.toLong * b }.sum
        (dot.toDouble / math.sqrt(qsq.toDouble * csq.toDouble), -cid)
      }.max
      assert((best.getDouble(0), best.getInt(1)) === expected)
    }
    // dimension mismatch: whole-array NULL (documented divergence from
    // the unrolled twin's per-struct null sims)
    val short = seeds.map { case (c, cv, csq) => (c, cv.take(dim - 1), csq) }
    assert(codes.select(Similarity.seedScoreArray(short).as("s"))
      .filter(col("s").isNull).count() === codes.count())
  }

  test("lloydUpdate: half-up integer mean both signs, exact csq, " +
    "empty-cluster carry-over") {
    import spark.implicits._
    // c0's members average 95.5 per the first coord (rounds UP to 96:
    // floor(mean + 1/2)), c1's average -95.5 (rounds toward +inf to
    // -95 — half-up is NOT symmetric, which is why both signs are
    // pinned), c2 attracts nobody and must keep its centroid verbatim
    val codes = Seq(
      (0L, Seq(100, 0), 10000L), (1L, Seq(91, 0), 8281L),
      (2L, Seq(-100, 0), 10000L), (3L, Seq(-91, 0), 8281L))
      .toDF("vec_id", "qv", "qsq")
    val current = Array(
      (0, Seq(100, 0), 10000L), (1, Seq(-100, 0), 10000L),
      (2, Seq(0, 100), 10000L))
    val updated = Similarity.lloydUpdate(codes, current).sortBy(_._1)
    assert(updated(0) === ((0, Seq(96, 0), 96L * 96)))
    assert(updated(1) === ((1, Seq(-95, 0), 95L * 95)))
    assert(updated(2) === ((2, Seq(0, 100), 10000L)),
      "empty cluster keeps its previous centroid")
    // all-zero rounded mean: members cancel → mean (0, 0) → csq 0 →
    // carry-over, never a NaN-producing zero centroid
    val cancel = Seq((0L, Seq(1, 50), 2501L), (1L, Seq(-1, -50), 2501L))
      .toDF("vec_id", "qv", "qsq")
    val kept = Similarity.lloydUpdate(cancel, Array((0, Seq(1, 50), 2501L)))
    assert(kept(0) === ((0, Seq(1, 50), 2501L)),
      "zero-vector rounded mean carries the previous centroid")
  }

  test("lloydEpochs + kmeansRefineSummary: partition and bookkeeping " +
    "invariants on real data") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.kmeansRefineSummary(d).collect()
    val byEpoch = rows.groupBy(_.getInt(0))
    assert(byEpoch.keySet === Set(0, 1, 2))
    // every epoch's lists partition the same non-degenerate corpus
    val sizes = byEpoch.view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(sizes(0) === sizes(1) && sizes(1) === sizes(2))
    // epoch 0 is the seed assignment — nothing has moved yet
    assert(byEpoch(0).forall(_.getLong(3) === 0L))
    rows.foreach { r =>
      assert(r.getLong(5) > 0L, "every reported centroid has csq > 0")
      assert(r.getDouble(6) <= r.getDouble(7), "min_sim <= max_sim")
    }
    // refined coordinates stay int8-packable (convexity of the mean):
    // every epoch's centroid matrix must survive seedScoreArray's
    // [-127, 127] require — exercised by construction in the summary,
    // pinned here directly on the epoch matrices
    val codes = Similarity.quantizedCodes(d)
      .filter(org.apache.spark.sql.functions.col("qsq") > 0)
    Similarity.lloydEpochs(codes, 16, 2).foreach(_.foreach { case (_, cv, csq) =>
      assert(cv.forall(v => v >= -127 && v <= 127))
      assert(csq === cv.map(v => v.toLong * v).sum, "csq is exact")
    })
  }

  test("lloydStats merge: split-stats update ≡ union update EXACTLY " +
    "(integer sums are sufficient statistics), any split, empty side ok") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val codes = Similarity.quantizedCodes(d).filter(col("qsq") > 0)
    val seeds = Similarity.collectSeedCentroids(Similarity.ivfSeedCentroids(d))
    val full = Similarity.lloydUpdate(codes, seeds).toSeq
    // an arbitrary 3-way split merges back to the identical centroids
    val parts = Seq(0, 1, 2).map(r => codes.filter(col("vec_id") % 3 === r))
    val merged = Similarity.lloydCentroidsFromStats(seeds,
      parts.map(Similarity.lloydStats(_, seeds))
        .reduce(Similarity.lloydMergeStats))
    assert(merged.toSeq === full, "sufficient-statistics merge is exact")
    // empty batch: merging nothing changes nothing
    val statsAll = Similarity.lloydStats(codes, seeds)
    val statsEmpty = Similarity.lloydStats(
      codes.filter(col("vec_id") < 0), seeds)
    assert(statsEmpty.isEmpty)
    assert(Similarity.lloydCentroidsFromStats(seeds,
      Similarity.lloydMergeStats(statsAll, statsEmpty)).toSeq === full)
  }

  test("lloydEpochs: the epoch map is a deterministic function — any " +
    "repeated state is periodic, and a fixpoint absorbs") {
    // Monotone convergence is NOT a theorem under cosine assignment
    // with integer means (and indeed 16 centroids on this 50-vector
    // corpus do not settle in 8 epochs). What IS one: each epoch is a
    // pure function of the previous centroids, so state_i == state_j
    // forces state_{i+k} == state_{j+k} forever (fixpoints are the
    // period-1 case). Pin periodicity if a repeat shows up in the
    // budget; pin replay-determinism of the whole trajectory always.
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val codes = Similarity.quantizedCodes(d).filter(col("qsq") > 0)
    val epochs = Similarity.lloydEpochs(codes, 16, 8).map(_.toSeq)
    val replay = Similarity.lloydEpochs(codes, 16, 8).map(_.toSeq)
    assert(epochs === replay, "the trajectory must replay identically")
    val repeat = (for {
      i <- epochs.indices
      j <- (i + 1) until epochs.length
      if epochs(i) == epochs(j)
    } yield (i, j)).headOption
    repeat.foreach { case (i, j) =>
      var k = 0
      while (j + k < epochs.length) {
        assert(epochs(i + k) === epochs(j + k),
          s"repeat at ($i,$j) must be periodic; diverged at offset $k")
        k += 1
      }
    }
  }

  test("ivfTrainedRecall: structural bounds; degenerates to exact at " +
    "full probe width on BOTH epochs") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.ivfTrainedRecall(d).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(3) <= 5 && r.getLong(4) <= 5, "hits bounded by k")
      assert(r.getLong(1) >= r.getLong(3) && r.getLong(2) >= r.getLong(4),
        "hits come from candidates")
    }
    // probe width = nList ⇒ both indexes enumerate the full corpus, so
    // both sides ARE the exact top-k — trained and seed agree at 5/5
    val n = Similarity.quantizedCodes(d)
      .filter(org.apache.spark.sql.functions.col("qsq") > 0).count()
    val full = Similarity.ivfTrainedRecall(d, nProbe = 16).collect()
    full.foreach { r =>
      assert(r.getLong(1) === n - 1 && r.getLong(2) === n - 1,
        "full probe width reads every other vector on both epochs")
      assert(r.getLong(3) === 5L && r.getLong(4) === 5L)
    }
  }
}
