package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The product-quantization tier: expression-level pins (encode argmin
  * vs an independent Scala reference, the ADC ≡ reconstruction-dot
  * identity) and operator-level laws (perfect-codebook exactness,
  * IVF+PQ ≡ PQ at full probe width, recall bounds).
  */
class PqSpec extends AnyFunSuite with SparkSpec {

  private def emb(rows: (Long, Seq[Float], Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  private def sf(dir: String) = graft.Tables.embeddings(spark, s"/root/testdata/$dir")

  // ── expression-level pins ─────────────────────────────────────────

  /** independent reference: per-subspace argmin over the codebook */
  private def refEncode(qv: Array[Int], matrix: Array[Int],
                        nSub: Int): (Array[Int], Long, Long) = {
    val dim = qv.length; val sub = dim / nSub; val k = matrix.length / dim
    val codes = new Array[Int](nSub)
    var dist = 0L; var rsq = 0L
    for (j <- 0 until nSub) {
      val cand = (0 until k).map { c =>
        val d = (0 until sub).map { i =>
          val diff = qv(j * sub + i).toLong - matrix(c * dim + j * sub + i)
          diff * diff
        }.sum
        (d, c)
      }.min // (dist, entry) lexicographic: min dist, ties to lowest entry
      codes(j) = cand._2
      dist += cand._1
      rsq += (0 until sub).map { i =>
        val v = matrix(cand._2 * dim + j * sub + i).toLong; v * v
      }.sum
    }
    (codes, dist, rsq)
  }

  test("pq_encode matches an independent argmin reference on deterministic pseudo-random codes") {
    val rnd = new scala.util.Random(20260815L)
    val dim = 16; val nSub = 4; val k = 5
    val matrix = Array.fill(k * dim)(rnd.nextInt(255) - 127)
    val vecs = (0 until 40).map(_ => Array.fill(dim)(rnd.nextInt(255) - 127))
    import spark.implicits._
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "qv")
    val got = df.select(col("vec_id"),
        graft.functions.PqCodes.pq_encode(col("qv"), matrix, nSub).as("pq"))
      .select(col("vec_id"),
        graft.functions.Int8Unpack.int8_unpack(col("pq.codes")).as("codes"),
        col("pq.dist"), col("pq.rsq"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toArray, r.getLong(2), r.getLong(3)))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val (codes, dist, rsq) = refEncode(v, matrix, nSub)
      val (gc, gd, gr) = got(i.toLong)
      assert(gc.toSeq === codes.toSeq, s"codes diverge for vec $i")
      assert(gd === dist, s"distortion diverges for vec $i")
      assert(gr === rsq, s"recon_sq diverges for vec $i")
    }
  }

  test("pq_adc equals int_dot(query, pq_recon(codes)) and rsq equals the recon self-dot") {
    val d = sf("sf0.001")
    import graft.functions.PqCodes.{pq_encode, pq_lut, pq_adc, pq_recon}
    import graft.functions.IntDot.int_dot
    import graft.functions.Int8Codes.int8_codes
    val nSub = 8; val nBook = 16
    val codes = d.select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .filter(col("qsq") > 0)
    // codebook drawn exactly as the operators draw it
    val seeds = codes
      .select(md5(col("vec_id").cast("string")).as("mkey"), col("vec_id"), col("qv"))
      .orderBy("mkey", "vec_id").limit(nBook).collect()
      .sortBy(r => (r.getString(0), r.getLong(1)))
    val dim = seeds.head.getSeq[Int](2).length
    val matrix = new Array[Int](seeds.length * dim)
    seeds.zipWithIndex.foreach { case (r, c) =>
      r.getSeq[Int](2).zipWithIndex.foreach { case (v, i) =>
        matrix(c * dim + i) = v }
    }
    val q = codes.limit(5)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        pq_lut(col("qv"), matrix, nSub).as("lut"))
    val rows = codes
      .select(col("vec_id"), col("qv"),
        pq_encode(col("qv"), matrix, nSub).as("pq"))
      .withColumn("recon", pq_recon(col("pq.codes"), matrix, nBook))
      .crossJoin(broadcast(q))
      .select(
        pq_adc(col("lut"), col("pq.codes")).as("adc"),
        int_dot(col("qa"), col("recon")).as("direct"),
        col("pq.rsq").as("rsq"),
        int_dot(col("recon"), col("recon")).as("rself"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "ADC must equal the reconstruction dot")
      assert(r.getLong(2) === r.getLong(3), "rsq must equal the recon self-dot")
    }
  }

  test("malformed pairings go NULL, never crash: foreign codes vs a smaller lut, oversized codebook") {
    import graft.functions.PqCodes.{pq_adc, pq_encode}
    import spark.implicits._
    // lut of 2 subspaces × 4 entries; a code byte 7 points past k=4
    val df = Seq((Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      Array[Byte](1, 7))).toDF("lut", "codes")
    val r = df.select(pq_adc(col("lut"), col("codes")).as("adc")).collect()
    assert(r.head.isNullAt(0), "out-of-book code byte must yield NULL, not an index crash")
    // a 256-entry codebook cannot be addressed by a code byte
    val wide = Array.fill(256 * 4)(1)
    val e = Seq((0L, Seq(1, 2, 3, 4))).toDF("vec_id", "qv")
      .select(pq_encode(col("qv"), wide, 2).as("pq")).collect()
    assert(e.head.isNullAt(0), "codebook wider than 255 entries must yield NULL")
  }

  // ── operator-level laws ───────────────────────────────────────────

  test("perfect codebook: corpus within the seeds has zero distortion and exact ADC ranking") {
    // 6 non-degenerate vectors, nBook covers all of them → every
    // subspace reconstructs losslessly, so PQ degenerates to the exact
    // int8 scan and the recall audit must be perfect
    val d = emb(
      (0L, Seq(1f, 0f, 2f, -1f), 0), (1L, Seq(0f, 3f, 1f, 1f), 0),
      (2L, Seq(-2f, 1f, 0f, 4f), 0), (3L, Seq(5f, -1f, 2f, 0f), 0),
      (4L, Seq(1f, 1f, -3f, 2f), 0), (5L, Seq(0f, -2f, 0f, 1f), 0))
    val enc = Similarity.pqEncodeSummary(d, nBook = 6, nSub = 2).collect()
    assert(enc.length === 6)
    enc.foreach(r => assert(r.getLong(2) === 0L,
      s"vec ${r.getLong(0)}: distortion must be 0 when the corpus is the codebook"))
    val rec = Similarity.pqRecall(d, numQueries = 3, k = 2, nBook = 6, nSub = 2)
      .collect()
    rec.foreach { r =>
      assert(r.getLong(1) === 2L, "lossless reconstruction ⇒ perfect recall")
      assert(r.getDouble(2) === 1.0)
    }
  }

  test("ivfPqTopK with nProbe = nList equals pqTopK row-for-row") {
    val d = sf("sf0.001")
    val full = Similarity.ivfPqTopK(d, numQueries = 5, k = 4,
      nList = 8, nProbe = 8, nBook = 16, nSub = 8).collect().toSeq
    val brute = Similarity.pqTopK(d, numQueries = 5, k = 4,
      nBook = 16, nSub = 8).collect().toSeq
    assert(full === brute,
      "probing every list must degenerate to the brute ADC scan")
  }

  test("pqRecall on real data: hits bounded by k, recall consistent, and the ADC ranking is non-trivial") {
    val d = sf("sf0.001")
    val k = 5
    val rows = Similarity.pqRecall(d, numQueries = 8, k = k).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val hits = r.getLong(1)
      assert(hits >= 0L && hits <= k.toLong)
      assert(math.abs(r.getDouble(2) - hits.toDouble / k) < 1e-9)
    }
    // isotropic random embeddings are PQ's adversarial case (no cluster
    // structure for the codebook to exploit), so no fixed recall floor
    // is honest here beyond non-collapse; the actual recall numbers are
    // what the oracle-matched q_pq_recall certifies per-query
    val total = rows.map(_.getLong(1)).sum
    assert(total >= 1L, s"ADC recall collapsed to zero: $total/40 exact hits")
    // What IS a theorem: per-vector encoding distortion is non-
    // increasing in nSub — a finer partition lets every 4-dim cell
    // pick its codebook slice independently where the coarser 8-dim
    // subspace forced both halves onto one entry, so each vector's
    // summed argmin distance can only shrink. (Recall is NOT monotone
    // in distortion — lower distortion can reorder near-ties either
    // way — so no recall inequality is asserted across nSub; the
    // recall numbers themselves are what q_pq_recall hash-certifies.)
    val d8 = Similarity.pqEncodeSummary(d, nSub = 8)
      .select("vec_id", "pq_dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d16 = Similarity.pqEncodeSummary(d, nSub = 16)
      .select("vec_id", "pq_dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d8.keySet === d16.keySet)
    d8.foreach { case (vid, dist8) =>
      assert(d16(vid) <= dist8,
        s"vec $vid: finer subspaces RAISED distortion: ${d16(vid)} > $dist8")
    }
  }

  test("ivfPqTradeoff cross-law: the (nProbe=4, rerank=20) cell IS ivfPqRerankTopK's hit count") {
    val d = sf("sf0.001")
    val grid = Similarity.ivfPqTradeoff(d).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(3)).toMap
    // the grid cell and the production two-stage operator must count
    // the same hits — they are the same retrieval by construction
    val rer = Similarity.ivfPqRerankTopK(d, numQueries = 10, k = 5,
      nList = 16, nProbe = 4, rerank = 20)
      .select("query_id", "neighbor_id")
    val exact = Similarity.quantizedCosineTopK(d, numQueries = 10, k = 5)
      .select("query_id", "neighbor_id")
    val hits = rer.join(exact, Seq("query_id", "neighbor_id")).count()
    assert(grid((4, 20)) === hits,
      s"grid cell (4,20)=${grid((4, 20))} != two-stage operator hits $hits")
    // rerank-axis monotonicity IS a theorem at fixed nProbe: a wider
    // shortlist is a superset, and hits = |shortlist ∩ exact-top-5|
    // (any global-top-5 member in the shortlist survives the exact
    // rerank). The nProbe axis is NOT monotone at small rerank —
    // measured non-monotone at sf0.1 — so nothing is asserted there.
    for (np <- Seq(1, 2, 4, 8)) {
      val byRr = Seq(5, 10, 20).map(rr => grid((np, rr)))
      assert(byRr === byRr.sorted,
        s"hits not monotone in rerank at nProbe=$np: $byRr")
    }
    // candidate count is independent of rerank and monotone in nProbe
    val cands = Similarity.ivfPqTradeoff(d).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (np <- Seq(1, 2, 4, 8))
      assert(Seq(5, 10, 20).map(rr => cands((np, rr))).distinct.size === 1)
    val byNp = Seq(1, 2, 4, 8).map(np => cands((np, 5)))
    assert(byNp === byNp.sorted, s"candidates not monotone in nProbe: $byNp")
  }

  test("plantedClusterEmbeddings: deterministic, tie-free, all 8 clusters seeded") {
    val d = Similarity.plantedClusterEmbeddings(sf("sf0.001"))
    val rows = d.collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(rows.length === 500)
    // every vector distinct (the prime-modulus jitter mixer's job —
    // a short-period mixer would collapse the recall A/B into ties)
    assert(rows.map(_._2).distinct.length === rows.length)
    rows.foreach { case (vid, v) =>
      assert(v.length === 64)
      val c = (vid % 8).toInt
      v.zipWithIndex.foreach { case (x, i0) =>
        val peak = (c + i0 + 1) % 8 == 0
        if (peak) assert(x >= 78f && x <= 82f, s"vec $vid dim $i0: $x")
        else assert(x >= -12f && x <= -8f, s"vec $vid dim $i0: $x")
      }
    }
    // the md5 seed draw at nList=16 must cover all 8 clusters — the
    // coarse-pass property the clustered regime rests on
    val seeds = Similarity.ivfSeedCentroids(d, nList = 16)
      .select("seed_vec_id").collect().map(_.getLong(0) % 8).toSet
    assert(seeds === (0L to 7L).toSet,
      s"seed draw missed clusters: ${(0L to 7L).toSet -- seeds}")
  }

  test("opqPermutation is a true permutation and quantization is permutation-equivariant") {
    val perm = Similarity.opqPermutation(64)
    assert(perm.sorted === (1 to 64), "must be a bijection on 1..64")
    assert(perm !== (1 to 64).toSeq, "md5 order coinciding with identity would void the A/B")
    // the law pqRecallOpq's single-quantization-pass design rests on:
    // quantize-then-permute ≡ permute-then-quantize (the per-vector
    // max-abs scale sees the same multiset of values either way)
    val d = sf("sf0.001").limit(64)
    val permuteEmb = s"transform(array(${perm.mkString(", ")}), p -> get(embedding, p - 1))"
    val permuteQv = s"transform(array(${perm.mkString(", ")}), p -> get(qv, p - 1))"
    val quantThenPerm = Similarity.quantizedCodes(d)
      .select(col("vec_id"), expr(permuteQv).as("qv"), col("qsq"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getLong(2))).toMap
    val permThenQuant = Similarity.quantizedCodes(
        d.select(col("vec_id"), expr(permuteEmb).as("embedding")))
      .select("vec_id", "qv", "qsq")
      .collect().map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getLong(2))).toMap
    assert(quantThenPerm === permThenQuant)
  }

  test("pqRecallOpq: shape, bounds, and equal-stored-bytes symmetry") {
    val d = sf("sf0.001")
    val rows = Similarity.pqRecallOpq(d, numQueries = 6, k = 5).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 5L)
    }
    // the raw arm must equal pqRecall's hits exactly — same codes,
    // same codebook draw, same ranking
    val base = Similarity.pqRecall(d, numQueries = 6, k = 5)
      .select("query_id", "pq_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) === base(r.getLong(0)),
      s"raw arm diverged from pqRecall for query ${r.getLong(0)}"))
  }

  test("pqTopK output shape and determinism") {
    val d = sf("sf0.001")
    val a = Similarity.pqTopK(d, numQueries = 4, k = 3).collect().toSeq
    val b = Similarity.pqTopK(d, numQueries = 4, k = 3).collect().toSeq
    assert(a === b, "seed codebook + integer arithmetic ⇒ bit-stable reruns")
    assert(a.map(r => (r.getLong(0), r.getInt(1))).distinct.size === a.size)
    a.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sims = g.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(sims === sims.sorted.reverse, "rank follows descending ADC sim")
    }
  }

  test("ivfPqRerankTopK at full probe width and corpus-wide rerank equals the exact int8 top-k") {
    val d = sf("sf0.001")
    // nProbe = nList → every candidate survives pruning; rerank larger
    // than the corpus → the exact stage sees every candidate: the
    // two-stage retrieval must reproduce the brute exact scan
    val reranked = Similarity.ivfPqRerankTopK(d, numQueries = 5, k = 4,
      nList = 8, nProbe = 8, rerank = 100000)
      .select("query_id", "rnk", "neighbor_id", "qdot", "q_cosine")
      .collect().toSeq
    val exact = Similarity.quantizedCosineTopK(d, numQueries = 5, k = 4)
      .collect().toSeq
    assert(reranked === exact,
      "full-width two-stage retrieval must equal the brute exact scan")
  }

  test("ivfPqRerankTopK: exact sims non-increasing, shortlist discipline held") {
    val d = sf("sf0.001")
    val rows = Similarity.ivfPqRerankTopK(d, numQueries = 5, k = 4).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sims = g.sortBy(_.getInt(1)).map(_.getDouble(5)).toSeq
      assert(sims === sims.sorted.reverse, "final rank follows exact sim")
    }
    rows.foreach(r => assert(r.getInt(3) <= 20,
      "every survivor must come from the ADC top-20 shortlist"))
  }

  test("ivfAdcTopK: deterministic, ranked, and codebook-resident neighbors score EXACTLY") {
    val d = sf("sf0.001")
    val a = Similarity.ivfAdcTopK(d, numQueries = 6, k = 4,
      nList = 8, nProbe = 8, nBook = 16).collect().toSeq
    val b = Similarity.ivfAdcTopK(d, numQueries = 6, k = 4,
      nList = 8, nProbe = 8, nBook = 16).collect().toSeq
    assert(a === b, "seed residual codebook + integers ⇒ bit-stable reruns")
    a.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sims = g.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(sims === sims.sorted.reverse)
    }
    // the residual-codebook vectors (md5 ranks nList..nList+nBook,
    // recomputed here independently) reconstruct LOSSLESSLY (their own
    // residual is a codebook entry ⇒ distortion 0 ⇒ w = qv), so
    // whenever one appears as a neighbor its ADC sim IS the exact int8
    // cosine — cross-checked against the exact scan's scores
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    val codes = d.select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv"))).filter(col("qsq") > 0)
    val rankedIds = codes
      .select(md5(col("vec_id").cast("string")).as("mkey"), col("vec_id"))
      .orderBy("mkey", "vec_id").limit(8 + 16).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity)
      .drop(8).map(_._2).toSet
    val exactSims = Similarity.quantizedCosineTopK(d, numQueries = 6, k = 49)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(4)).toMap
    val hit = a.filter(r => rankedIds(r.getLong(2)))
    assert(hit.nonEmpty, "expected at least one codebook-resident neighbor in the top-4s")
    hit.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(exactSims.contains(key) && exactSims(key) === r.getDouble(4),
        s"lossless residual ⇒ ADC sim must equal the exact cosine for $key")
    }
  }

  test("ivfAdcRecall: hit counts bounded and consistent with the rankings it audits") {
    val d = sf("sf0.001")
    val k = 5
    val rec = Similarity.ivfAdcRecall(d, numQueries = 8, k = k).collect()
    assert(rec.length === 8)
    rec.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= k)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= k)
    }
    // recompute both intersections independently from the rankings
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = ids(Similarity.quantizedCosineTopK(d, numQueries = 8, k = k))
    val raw = ids(Similarity.ivfPqTopK(d, numQueries = 8, k = k))
    val res = ids(Similarity.ivfAdcTopK(d, numQueries = 8, k = k))
    rec.foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) === exact.count(p => p._1 == q && raw(p)).toLong)
      assert(r.getLong(2) === exact.count(p => p._1 == q && res(p)).toLong)
    }
  }

  test("ivfAdcTrainedRecall: bounded hits, zero-round degeneracy, and the " +
    "seed arm IS the untrained IVFADC arm") {
    val d = sf("sf0.001")
    val rows = Similarity.ivfAdcTrainedRecall(d).collect()
    assert(rows.length === 10)
    rows.foreach(r => assert(r.getLong(1) <= 5 && r.getLong(2) <= 5))
    // with no training anywhere the two arms are the same ranking
    val same = Similarity.ivfAdcTrainedRecall(d, iters = 0, pqIters = 0).collect()
    same.foreach(r => assert(r.getLong(1) === r.getLong(2),
      "zero coarse epochs + zero codebook rounds must be symmetric"))
    // cross-law: hits_seed equals ivfAdcRecall's residual arm (same
    // seed centroids, same rank-16..31 residual codebook, same probe)
    val ab = Similarity.ivfAdcRecall(d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(r.getLong(1) === ab(r.getLong(0)),
      "hits_seed must equal q_ivfadc_recall's hits_ivfadc"))
  }

  test("persisted PQ sidecar: static-store ADC probe equals ivfPqTopK row-for-row") {
    val d = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString + "/idx"
    Similarity.ivfIndexStoreInit(d, dir)
    Similarity.ivfIndexStorePqBuild(spark, dir)
    val probe = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 6), dir, k = 4).collect().toSeq
    val direct = Similarity.ivfPqTopK(d, numQueries = 6, k = 4).collect().toSeq
    assert(probe === direct,
      "the sidecar probe must reproduce the in-memory IVF+PQ ranking")
  }

  test("persisted PQ sidecar: appends encode under the FIXED stored codebook and probes answer complete") {
    val d = sf("sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString + "/idx"
    val storedSide = md5(col("vec_id").cast("string")).substr(1, 1) < "8"
    Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
    Similarity.ivfIndexStorePqBuild(spark, dir)
    val assigned = Similarity.ivfIndexStoreAppend(spark, d.filter(!storedSide), dir)
    Similarity.ivfIndexStorePqAppend(spark, assigned, dir)
    // 1. complete: every non-degenerate vector has a PQ code row
    val nCodes = spark.read.parquet(s"$dir/pq_codes").count()
    val nAll = Similarity.ivfIndexStoreAssignments(spark, dir).count()
    assert(nCodes === nAll, "every stored vector must be ADC-scannable")
    // 2. fixed-codebook law: the appended rows equal a direct encode of
    // the batch under the codebook drawn at build time (stored side)
    val (matrix, nSub, layout, _) = Similarity.ivfIndexStorePqCodebook(spark, dir)
    assert(layout.isEmpty, "default build records the identity layout")
    val expected = Similarity.pqCodesFrame(d.filter(!storedSide), matrix, nSub)
      .orderBy("vec_id").collect().toSeq
    val appendedIds = expected.map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dir/pq_codes")
      .filter(col("vec_id").isInCollection(appendedIds))
      .select("vec_id", "pcodes", "rsq").orderBy("vec_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2))) ===
      expected.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2))))
    // 3. the probe sees appended vectors as candidates
    val probed = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 3), dir, k = 5, nProbe = 16)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(probed.exists(appendedIds), "appended vectors must be probe-visible")
  }

  test("persisted RESIDUAL sidecar: static-store probe equals ivfAdcTopK " +
    "row-for-row; appends encode residuals under the FIXED store; retrain " +
    "re-takes residuals under the trained centroids") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val d = sf("sf0.001")
    // static store: the residual ADC probe IS the in-memory IVFADC
    val fullDir = java.nio.file.Files.createTempDirectory("graft_adc_full")
      .toString + "/idx"
    Similarity.ivfIndexStoreInit(d, fullDir)
    Similarity.ivfIndexStorePqBuild(spark, fullDir, residual = true)
    val viaStore = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), fullDir).collect().map(_.toSeq)
    val inMem = Similarity.ivfAdcTopK(d).collect().map(_.toSeq)
    assert(viaStore.toSeq === inMem.toSeq)
    // append law: batch rows encode their residuals against the FIXED
    // stored centroids + codebook — identical bytes to pre-computing
    // them on the union store before the append
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val dir = java.nio.file.Files.createTempDirectory("graft_adc_app")
      .toString + "/idx"
    Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
    Similarity.ivfIndexStorePqBuild(spark, dir, residual = true)
    val before = spark.read.parquet(s"$dir/pq_codes")
      .select("vec_id", "pcodes", "rsq").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2)))
      .toSet
    val assigned = Similarity.ivfIndexStoreAppend(spark,
      d.filter(!storedSide), dir)
    Similarity.ivfIndexStorePqAppend(spark, assigned, dir)
    val after = spark.read.parquet(s"$dir/pq_codes")
      .select("vec_id", "pcodes", "rsq").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2)))
    assert(before.subsetOf(after.toSet),
      "append must not rewrite existing residual codes")
    // every appended row's stored denominator is a true reconstruction
    // norm: strictly positive unless the reconstruction is zero, and
    // the probe over the appended store still answers complete
    assert(after.length > before.size, "append added no sidecar rows")
    val probed = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
    // retrain: codebook survives verbatim, codes RE-TAKE their
    // residuals under the trained centroids (rsq may change — the
    // centroid moved), partitioning follows the trained lists
    val cbBefore = spark.read.parquet(s"$dir/pq_codebook").collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => x
      }.toString).sorted.toSeq
    Similarity.ivfIndexStoreTrain(spark, dir)
    val cbAfter = spark.read.parquet(s"$dir/pq_codebook").collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case x => x
      }.toString).sorted.toSeq
    assert(cbAfter === cbBefore, "retrain must keep the codebook verbatim")
    val asg = Similarity.ivfIndexStoreAssignments(spark, dir)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pqParts = spark.read.parquet(s"$dir/pq_codes")
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pqParts === asg)
    val probedTrained = Similarity.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir)
    assert(probedTrained.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("persisted PQ sidecar RECORDS its layout: appends encode under the stored permutation") {
    val d = sf("sf0.001")
    val perm = Similarity.opqPermutation(64)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_opq").toString + "/idx"
    val storedSide = md5(col("vec_id").cast("string")).substr(1, 1) < "8"
    Similarity.ivfIndexStoreInit(d.filter(storedSide), dir)
    Similarity.ivfIndexStorePqBuild(spark, dir, layout = perm)
    // the layout round-trips through the store — a probe or append
    // never needs the caller to re-supply it
    val (matrix, nSub, stored, _) = Similarity.ivfIndexStorePqCodebook(spark, dir)
    assert(stored === perm)
    val assigned = Similarity.ivfIndexStoreAppend(spark, d.filter(!storedSide), dir)
    Similarity.ivfIndexStorePqAppend(spark, assigned, dir)
    // appended rows equal a direct encode of the PERMUTED batch under
    // the stored codebook (quantize-then-permute ≡ permute-then-
    // quantize carries the float-side permutation to the code side)
    val permuteEmb =
      s"transform(array(${perm.mkString(", ")}), p -> get(embedding, p - 1))"
    val expected = Similarity.pqCodesFrame(
        d.filter(!storedSide).select(col("vec_id"),
          expr(permuteEmb).as("embedding")), matrix, nSub)
      .orderBy("vec_id").collect().toSeq
    val appendedIds = expected.map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$dir/pq_codes")
      .filter(col("vec_id").isInCollection(appendedIds))
      .select("vec_id", "pcodes", "rsq").orderBy("vec_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2))) ===
      expected.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getLong(2))))
  }

  test("pqLloydCodebook: half-up slice means both signs, untouched " +
    "entries carry over verbatim") {
    import spark.implicits._
    // dim = 4, nSub = 2 (2-wide slices), nBook = 2. Subspace 0: both
    // vectors pick entry 0 (closer than entry 1), mean of (100, 91) =
    // 95.5 → 96 and mean of (0, 0) = 0; subspace 1: both pick entry 0,
    // mean of (-100, -91) = -95.5 → -95 (half-up is toward +inf, NOT
    // symmetric). Entry 1 attracts nothing in either subspace → its
    // slices must survive verbatim.
    val codes = Seq(
      (0L, Seq(100, 0, -100, 0), 20000L),
      (1L, Seq(91, 0, -91, 0), 16562L)).toDF("vec_id", "qv", "qsq")
    val matrix = Array(
      90, 0, -90, 0, // entry 0
      -50, 50, 50, -50) // entry 1
    val trained = Similarity.pqLloydCodebook(codes, matrix, nBook = 2, nSub = 2)
    assert(trained.toSeq === Seq(96, 0, -95, 0, -50, 50, 50, -50))
    // the input matrix is not mutated (clone semantics)
    assert(matrix.toSeq === Seq(90, 0, -90, 0, -50, 50, 50, -50))
  }

  test("pqTrainDistortion: total distortion is monotone non-increasing " +
    "— the rounded-integer Lloyd theorem, on both corpora") {
    // THE theorem of the integer regime: the half-up rounded mean is a
    // closest integer vector to the true mean, the old codeword is also
    // an integer vector, so the update never increases within-entry
    // SSE; the re-encode is an argmin. RECALL carries no such theorem
    // and is deliberately never asserted (ADVICE round-14).
    Seq(sf("sf0.001"),
      Similarity.plantedClusterEmbeddings(sf("sf0.001"))).foreach { d =>
      val rows = Similarity.pqTrainDistortion(d).collect().sortBy(_.getInt(0))
      assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
      val totals = rows.map(_.getLong(1))
      assert(totals(1) <= totals(0) && totals(2) <= totals(1),
        s"distortion must descend: ${totals.toSeq}")
      assert(rows.map(_.getLong(3)).distinct.length === 1,
        "every round encodes the same corpus")
      // trained codebooks stay int8-packable (convexity of the mean)
      val codes = Similarity.quantizedCodes(d).filter(col("qsq") > 0)
      val m0 = Similarity.pqCodebookFromEmbeddings(d)
      val m1 = Similarity.pqLloydCodebook(codes, m0, 16, 8)
      assert(m1.forall(v => v >= -127 && v <= 127))
    }
  }

  test("pqTrainedRecall: bounded hits; iters = 0 degenerates to a " +
    "symmetric A/B (both arms the seed codebook)") {
    val d = sf("sf0.001")
    val rows = Similarity.pqTrainedRecall(d).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(1) <= 5 && r.getLong(2) <= 5)
    }
    val same = Similarity.pqTrainedRecall(d, iters = 0).collect()
    same.foreach(r => assert(r.getLong(1) === r.getLong(2),
      "with no training rounds the two arms are the same ranking"))
  }

  test("codebooks past 127 entries: unsigned entry-id decode renders and " +
    "indexes faithfully (the round-16 cap lift)") {
    import spark.implicits._
    import graft.functions.PqCodes.pq_encode
    import graft.functions.Int8Unpack.int8_unpack
    import graft.functions.Uint8Unpack.uint8_unpack
    val rnd = new scala.util.Random(20260816L)
    val dim = 16; val nSub = 4; val k = 200
    val matrix = Array.fill(k * dim)(rnd.nextInt(255) - 127)
    val vecs = (0 until 60).map(_ => Array.fill(dim)(rnd.nextInt(255) - 127))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "qv")
    val got = df.select(col("vec_id"),
        pq_encode(col("qv"), matrix, nSub).as("pq"))
      .select(col("vec_id"),
        uint8_unpack(col("pq.codes")).as("uids"),
        int8_unpack(col("pq.codes")).as("sids"))
      .collect()
    // non-vacuous: ids past the old signed boundary must actually occur
    val allIds = got.flatMap(_.getSeq[Int](1))
    assert(allIds.exists(_ >= 128),
      "fixture too tame: no entry id >= 128 chosen — widen k or reseed")
    assert(allIds.forall(id => id >= 0 && id < k))
    // uint8 ≡ int8 & 0xff element-wise, and both match the reference argmin
    got.foreach { r =>
      val u = r.getSeq[Int](1); val s = r.getSeq[Int](2)
      assert(u === s.map(_ & 0xff))
      val (ref, _, _) = refEncode(vecs(r.getLong(0).toInt), matrix, nSub)
      assert(u.toSeq === ref.toSeq, s"entry ids diverge for vec ${r.getLong(0)}")
    }
    // the Lloyd round indexes entries unsigned too: one update over the
    // wide codebook must neither throw nor write outside its 200 entries
    val codes = df.withColumn("qsq",
      graft.functions.IntDot.int_dot(col("qv"), col("qv")))
    val trained = Similarity.pqLloydCodebook(codes, matrix, nBook = k, nSub = nSub)
    assert(trained.length === matrix.length)
    assert(trained.forall(v => v >= -127 && v <= 127))
  }

  test("degenerate vectors are excluded from corpus, queries, and the codebook") {
    val d = emb(
      (0L, Seq(0f, 0f, 0f, 0f), 0),           // zero → degenerate
      (1L, Seq(Float.NaN, 1f, 0f, 0f), 0),    // NaN → degenerate
      (2L, Seq(1f, 2f, 0f, 1f), 0), (3L, Seq(0f, 1f, 3f, -1f), 0),
      (4L, Seq(2f, 0f, 1f, 1f), 0))
    val enc = Similarity.pqEncodeSummary(d, nBook = 3, nSub = 2).collect()
    assert(enc.map(_.getLong(0)).toSet === Set(2L, 3L, 4L))
    val top = Similarity.pqTopK(d, numQueries = 3, k = 2, nBook = 3, nSub = 2)
      .collect()
    assert(top.map(_.getLong(0)).toSet === Set(2L),
      "only non-degenerate vec_ids below numQueries may query")
    assert(!top.map(_.getLong(2)).toSet.exists(Set(0L, 1L)),
      "degenerate vectors never appear as neighbors")
  }
}
