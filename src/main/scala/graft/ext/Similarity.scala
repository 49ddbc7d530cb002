package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}
import graft.Jobs

/** Similarity search over the `embeddings` table (SURVEY §2.10):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * The dot product / norms are higher-order `zip_with` + `aggregate`
  * expressions over `array<float>` cast to double — no UDF, stays
  * codegen-adjacent and engine-portable (DuckDB computes the identical
  * double arithmetic).
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays (higher-order
    * function composition — the no-custom-code baseline).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Baseline cosine from built-ins. Produces the same doubles as
    * [[nativeCosine]] (same fold order) but materializes the element-wise
    * product array per row — fine for one-off scoring, ~40× slower than
    * the fused native loop on all-pairs workloads. Edge divergence: on a
    * zero vector this form raises DIVIDE_BY_ZERO under ANSI mode while
    * the native expression yields IEEE NaN (pinned in EdgeCasesSpec) —
    * filter zero-norm vectors upstream if they can occur.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Hot-path cosine: graft's native codegen expression (fused
    * dot/norms single pass, no intermediate arrays).
    */
  def nativeCosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force exact cosine top-k: for each query vector (vec_id <
    * `numQueries`), the k nearest other vectors. The query set is tiny →
    * broadcast; candidates stream through in one scan; ranking is a
    * window on the (small) query key space. Exact → oracle-checked.
    */
  def cosineTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val q = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
    val c = embeddings
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
    val sims = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", nativeCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥
    * `threshold`. This is the exact all-pairs form (oracle-checked);
    * the corpus here is dimension-table-sized. At 100 TB the same
    * output comes from [[lshBuckets]] blocking (pairs within a bucket
    * only) — the brute-force form is the correctness reference for it.
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), asDouble(col("embedding")).as("va"))
    val b = embeddings.select(col("vec_id").as("vec_b"), asDouble(col("embedding")).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", nativeCosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("cosine_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Per-label centroid similarity (embedding-space outlier scoring —
    * the "does this vector belong to its cluster" QA pass): compute each
    * label's centroid (per-dimension mean, distributed via posexplode +
    * groupBy(label, dim) — only label×dim rows ever aggregate), assemble
    * the centroid vectors, broadcast them back, and score every vector's
    * cosine against its own label's centroid with the native expression.
    * `is_outlier` flags rounded similarity below `threshold`. At 100 TB
    * the centroid table is labels×dim (tiny) and the scoring pass is a
    * broadcast join at scan speed.
    */
  def centroidSim(embeddings: DataFrame, threshold: Double = 0.2): DataFrame = {
    val ex = embeddings
      .select(col("vec_id"), col("label"), posexplode(asDouble(col("embedding"))))
      .toDF("vec_id", "label", "dim", "v")
    val cen = ex.groupBy("label", "dim").agg(avg(col("v")).as("c"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c")).as("centroid"))
    embeddings.join(broadcast(cen), "label")
      .withColumn("centroid_sim",
        round(nativeCosine(asDouble(col("embedding")), col("centroid")), 5))
      .select(col("vec_id"), col("label"), col("centroid_sim"),
        (col("centroid_sim") < threshold).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Deterministic ±1 random hyperplanes: `numPlanes` × `dim`, seeded. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH bucketing: each vector
    * gets a `numPlanes`-bit signature (sign of projection onto each
    * hyperplane). Approximate-NN = exact cosine *within* a bucket — the
    * O(n²) pair space shrinks to per-bucket blocks, shuffled on the
    * bucket key; this is the shape that survives 100 TB. Approximate →
    * no SQL oracle (rows-only check).
    */
  def lshBuckets(embeddings: DataFrame, numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val emb = asDouble(col("embedding"))
    val bits = planes.zipWithIndex.map { case (p, i) =>
      // ONE ArrayType literal per plane (not 64 Literal nodes + a
      // CreateArray): keeps the generated code small enough that Janino
      // compile time doesn't dominate at dimension-table input sizes
      val proj = dot(emb, typedlit(p.toSeq))
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    embeddings.select(col("vec_id"), col("embedding"), bits.as("bucket"))
  }

  /** IVF coarse quantizer: mini k-means trained ON A SAMPLE collected
    * to the driver — the standard IVF design (FAISS trains coarse
    * quantizers on a bounded sample regardless of corpus size), so
    * training cost is corpus-size-independent and the Lloyd loop pays
    * zero per-round job overhead. Deterministic: sample = first
    * `trainSample` vectors by vec_id, init = its first `nList` vectors,
    * sequential in-order means. Assignment of the full corpus stays
    * distributed ([[assignClusters]]); only the k×dim centroid matrix
    * and the bounded sample ever reach the driver. Argmax ties break to
    * the HIGHEST cluster idx, mirroring `array_max` over (sim, idx)
    * structs in [[assignClusters]].
    */
  def ivfCentroids(embeddings: DataFrame, nList: Int = 16, iters: Int = 2,
                   trainSample: Int = 100000): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = embeddings.orderBy("vec_id").limit(trainSample)
      .select(asDouble(col("embedding")).as("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    var centroids = sample.take(nList).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nList)(new Array[Double](if (sample.isEmpty) 0 else sample(0).length))
      val counts = new Array[Long](nList)
      sample.foreach { v =>
        val best = bestCluster(v, centroids)
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cluster keeps its centroid
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-side nearest-centroid argmax, mirroring Spark's `array_max`
    * over (sim, idx) structs EXACTLY — including the degenerate cases:
    * NaN (a zero-norm vector or centroid → cos = 0/0) orders GREATER
    * than every real similarity, and all ties — NaN == NaN included —
    * break to the highest cluster idx. A plain `s >= best` loop would
    * leave NaN vectors in cluster 0 while [[assignClusters]] sends them
    * to nList-1, so training and assignment would disagree.
    */
  private[ext] def bestCluster(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestSim = Double.NegativeInfinity; var bestNaN = false
    var c = 0
    while (c < centroids.length) {
      val s = cosLocal(v, centroids(c))
      val sNaN = java.lang.Double.isNaN(s)
      if (sNaN || (!bestNaN && s >= bestSim)) { bestSim = s; bestNaN = sNaN; best = c }
      c += 1
    }
    best
  }

  /** Per-centroid (sim, idx) scores as ONE expression: a `transform`
    * over a single 2-D array literal with the native cosine inside the
    * lambda. One cosine node in the tree (runtime loop over centroids)
    * instead of nList inlined copies — generated-code size, and with it
    * Janino compile time, stays constant as nList grows.
    */
  private def centroidScores(centroids: Array[Array[Double]]): Column = {
    val emb = asDouble(col("embedding"))
    transform(typedlit(centroids.map(_.toSeq).toSeq),
      (c, i) => struct(nativeCosine(emb, c).as("sim"), i.cast("int").as("idx")))
  }

  /** Nearest-centroid assignment (max cosine): struct array_max gives
    * the argmax without a join; ties break to the highest cluster idx.
    */
  def assignClusters(embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    embeddings.withColumn("cluster",
      array_max(centroidScores(centroids)).getField("idx"))

  /** IVF approximate top-k: queries probe their `nProbe` nearest
    * centroid lists; candidates are only the vectors assigned to those
    * lists (shuffle on cluster id — the classic inverted-file shape that
    * scales: candidate work is corpus/nList × nProbe instead of corpus).
    * With nProbe = nList this is exactly brute force (equivalence tested).
    */
  def ivfTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
              nList: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(embeddings, nList, iters)
    val assigned = assignClusters(embeddings, centroids).cache()
    // released via Dedup.scopeCaches before return (see result below)
    val emb = asDouble(col("embedding"))
    // each query's nProbe nearest centroid ids, exploded to (query, cluster)
    val q = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), emb.as("qv"),
        slice(reverse(array_sort(centroidScores(centroids))), 1, nProbe)
          .as("probes"))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("idx")).as("cluster"))
    val c = assigned.select(col("vec_id").as("neighbor_id"), emb.as("cv"), col("cluster"))
    val sims = c.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", nativeCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val result = sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy("query_id", "rnk")
    Dedup.scopeCaches(result, assigned)
  }

  /** Approximate cosine top-k via LSH buckets: candidates must share the
    * query's bucket. Same output shape as [[cosineTopK]]; recall < 1 by
    * construction. The returned frame is persisted and materialized
    * (caller unpersists when done); the bucketed intermediate cache is
    * released before return.
    */
  def lshTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
              numPlanes: Int = 8): DataFrame = {
    val bucketed = lshBuckets(embeddings, numPlanes).cache()
    val q = bucketed.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"),
        col("bucket"))
    val c = bucketed
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"),
        col("bucket"))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", nativeCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val result = sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy("query_id", "rnk")
    Dedup.scopeCaches(result, bucketed)
  }

  /** IVF recall audit — the bounds-twin that puts the PROBABILISTIC
    * side of `q_ivf_topk` under the DuckDB oracle, the same pattern as
    * `q_approx_profile_bounds`/`q_sketch_bounds`: per query, recall@k
    * of the pruned-probe IVF top-k against the exact float top-k
    * ([[cosineTopK]]'s arithmetic, itself oracle-matched via
    * `q_ivf_exact`), emitted as a TRUE-iff-held boolean against the
    * documented `floor`. [[ivfCentroids]] is deterministic (fixed
    * sample, init, and in-order means), so per-query recall is a pure
    * function of the data and the hash compare certifies the contract:
    * a mismatch means pruned probing broke its recall floor.
    */
  def ivfRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                nList: Int = 16, nProbe: Int = 4, iters: Int = 2,
                floor: Double = 0.6): DataFrame = {
    val exact = cosineTopK(embeddings, numQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(embeddings, numQueries, k, nList, nProbe, iters)
    val hits = exact.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val out = exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k >= floor)
          .as("recall_ok"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, approx)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023 "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with the IVF coarse quantizer, then
    * drop every vector that has a lower-id in-cluster neighbor with
    * cosine ≥ `threshold`. Near-identical *meanings* — paraphrases,
    * re-crawls, boilerplate variants — collapse even when their token
    * overlap is too low for MinHash/Jaccard to see.
    *
    * The pair space is per-cluster (shuffle on the cluster id), so
    * candidate work is ~corpus²/nList instead of corpus² — the same
    * inverted-file shape as [[ivfTopK]], and the one that survives
    * 100 TB. With `nList = 1` the clustering is a no-op and the drop
    * rule is exactly the brute-force all-pairs form — that regime is
    * the SQL oracle (`q_semantic_dedup_exact`); the clustered default
    * is checked rows-only with its subset relation spec-pinned (a
    * cluster boundary can only *split* a brute-force pair, never
    * invent one, so clustered drops ⊆ exact drops).
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.35,
                    nList: Int = 16, iters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(embeddings, nList, iters)
    val assigned = assignClusters(embeddings, centroids)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"), col("cluster"))
      .cache()
    val a = assigned.select(col("cluster"), col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = assigned.select(col("cluster"), col("vec_id").as("vec_b"), col("e").as("eb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(nativeCosine(col("ea"), col("eb")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    val result = assigned
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
      .orderBy("vec_id")
    Dedup.scopeCaches(result, assigned)
  }

  /** Symmetric int8 quantization of the embedding column (the standard
    * ANN index-prep step: 4× smaller vectors, SIMD-friendly dot
    * products downstream): per vector, scale = max|v| / 127 and
    * q_i = floor(v_i/scale + 0.5). The explicit floor(+0.5) rounding
    * is deliberate — both engines floor identically, where built-in
    * round() half-case conventions could differ. Zero vectors emit a
    * NULL scale and an all-zero code. Emits the codes as a CSV digest
    * (engine-portable; raw array columns don't survive the oracle
    * compare) plus reconstruction bookkeeping. Narrow projection — at
    * corpus scale this runs at scan speed and writes 1/4 the bytes.
    */
  /** Symmetric-per-vector int8 quantization: (scale, codes). The NaN
    * branch maps NaN-containing embeddings to NULL scale -> all-zero
    * codes on both engines (Spark orders NaN > 0 as false, DuckDB as
    * true — the explicit branch removes the divergence).
    */
  private def int8Quant(emb: Column): (Column, Column) = {
    val mx = array_max(transform(emb, v => abs(v)))
    val scale = when(isnan(mx), lit(null).cast("double"))
      .when(mx > 0, mx / 127.0)
    val q = transform(emb, v =>
      when(scale.isNull, lit(0)).otherwise(floor(v / scale + 0.5).cast("int")))
    (scale, q)
  }

  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val emb = asDouble(col("embedding"))
    val (scale, q) = int8Quant(emb)
    embeddings.select(
      col("vec_id"),
      size(emb).as("n_dims"),
      round(scale, 9).as("scale"),
      concat_ws(",", q).as("qvec_csv"),
      aggregate(q, lit(0L), (acc, x) => acc + abs(x)).as("q_l1"))
      .orderBy("vec_id")
  }

  /** Quantized-scan ANN top-k: [[cosineTopK]] over int8 CODES instead
    * of float vectors — the memory-bandwidth tier of the ANN family
    * (brute-force float scan → THIS → IVF/LSH candidate pruning). The
    * per-vector symmetric scales CANCEL in cosine
    * (sa·sb·qdot / (sa·|qa|·sb·|qb|) = qdot / (|qa|·|qb|)), so the
    * whole scan is integer arithmetic — one exact int dot product and
    * int squared-norms per pair, 4-8× less scan bandwidth than the
    * float form at 100 TB and SIMD-friendly codes — and therefore
    * DETERMINISTIC: unlike trained-codebook PQ (float-iteration
    * rows-only), the quantized ranking is DuckDB-oracle-matched
    * (`q_quantized_topk`), with `qdot` emitted as the exact integer
    * witness. All-zero-code vectors (zero or NaN embeddings — the
    * [[embeddingQualityStats]] degenerate class) are excluded from
    * both sides, as a vector store rejects them before any ANN
    * structure. Recall vs the exact float top-k is pinned in
    * SimilaritySpec.
    */
  def quantizedCosineTopK(embeddings: DataFrame, numQueries: Int = 10,
                          k: Int = 5): DataFrame = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    // native codegen loops for BOTH hot paths. The composed twins
    // compute the same values but evaluate interpreted: the
    // aggregate(zip_with(...)) dot costs a boxed fold per pair, and the
    // transform-with-scale quantization re-inlines the scale alias into
    // the lambda after projection collapse, re-running array_max per
    // ELEMENT — O(dim²) per row (measured together: 23.7s vs the float
    // scan's 2.4s at StressBench ×10, the opposite of what a quantized
    // scan is for)
    val base = embeddings
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .filter(col("qsq") > 0)
    val q = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qsq").as("sqa"))
    val c = base
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("qsq").as("sqb"))
    val sims = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", int_dot(col("qb"), col("qa")))
      .withColumn("sim",
        col("qdot") / sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("qdot"), round(col("sim"), 6).as("q_cosine"))
      .orderBy("query_id", "rnk")
  }

  /** (vec_id, qv, qsq, dig): the int8 CODE form of a vector corpus —
    * what an embedding ingest loop actually stores (4-8× smaller than
    * floats, integer-dot scannable, and `dig` = md5 of the code CSV is
    * the exact-duplicate fingerprint). Both hot loops are native
    * codegen expressions ([[graft.functions.Int8Codes]] /
    * [[graft.functions.IntDot]]); the digest is a plain Cast +
    * concat_ws + md5 chain (codegen'd built-ins).
    */
  def quantizedCodes(embeddings: DataFrame): DataFrame = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    embeddings
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .withColumn("dig", md5(concat_ws(",", col("qv").cast("array<string>"))))
  }

  /** [[quantizedCodes]] WITHOUT the md5 code digest — paths that never
    * look at exact duplicates (the IVF seed pick, the index top-k, a
    * probe's query side) skip the per-row string-cast → concat → md5
    * chain they'd otherwise pay for nothing.
    */
  private def quantizedQv(embeddings: DataFrame): DataFrame = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    embeddings
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
  }

  /** The PACKED code form: (vec_id, qb binary, qsq) — one byte per
    * element instead of `array<int>`'s four, so a persisted code store
    * (the IVF index, the ingest exemplars) shrinks ~4× on disk and a
    * scan reads ~4× fewer bytes. The byte codes equal the int codes
    * element-wise and `int_dot_bytes` equals `int_dot` bit-for-bit
    * (both spec-pinned), so every value downstream — and therefore
    * every DuckDB oracle — is unchanged.
    */
  def quantizedByteCodes(embeddings: DataFrame): DataFrame = {
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDotBytes.int_dot_bytes
    embeddings
      .select(col("vec_id"), int8_bytes(col("embedding")).as("qb"))
      .withColumn("qsq", int_dot_bytes(col("qb"), col("qb")))
  }

  /** [[quantizedCosineTopK]] over the PACKED codes — identical output
    * (`q_quantized_topk`'s oracle SQL applies verbatim to
    * `q_quantized_topk_bytes`); the scan moves 1 byte/element instead
    * of 4.
    */
  def quantizedCosineTopKBytes(embeddings: DataFrame, numQueries: Int = 10,
                               k: Int = 5): DataFrame =
    storedCodesTopK(quantizedByteCodes(embeddings).filter(col("qsq") > 0),
      numQueries, k)

  /** Brute quantized top-k over an EXISTING code table — the scan a
    * production store actually runs (codes are written once by the
    * ingest fold; a query never re-quantizes the corpus). Accepts both
    * code forms: `qv array<int>` (int_dot) or `qb binary`
    * (int_dot_bytes); rows must already be non-degenerate.
    */
  def storedCodesTopK(codes: DataFrame, numQueries: Int = 10,
                      k: Int = 5): DataFrame = {
    import graft.functions.IntDot.int_dot
    import graft.functions.IntDotBytes.int_dot_bytes
    val packed = codes.columns.contains("qb")
    val codeCol = if (packed) "qb" else "qv"
    def dot(a: Column, b: Column) =
      if (packed) int_dot_bytes(a, b) else int_dot(a, b)
    val q = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col(codeCol).as("qa"),
        col("qsq").as("sqa"))
    val c = codes
      .select(col("vec_id").as("neighbor_id"), col(codeCol).as("qb2"),
        col("qsq").as("sqb"))
    val sims = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", dot(col("qb2"), col("qa")))
      .withColumn("sim",
        col("qdot") / sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("qdot"), round(col("sim"), 6).as("q_cosine"))
      .orderBy("query_id", "rnk")
  }

  /** The EMBEDDING modality's daily-ingest audit — [[graft.ext.Curation.docIngestAudit]]'s
    * sibling for a vector corpus, fully under the DuckDB oracle
    * (`q_embedding_neardup_inc`): per NEW vector, stored-vs-new
    * duplicate verdicts against a store that holds int8 CODES only
    * (floats are never stored or re-read — the quantized-scan tier of
    * [[quantizedCosineTopK]] applied to ingest):
    *
    *   - `is_degenerate`: all-zero code (zero or NaN embedding) — a
    *     vector store rejects these before any ANN structure, so they
    *     take no other flag and are never folded;
    *   - `code_dup_stored` / `code_dup_new`: byte-identical int8 codes
    *     (the md5 code digest) already stored / held by a lower-id new
    *     vector — the embedding twin of exact text dedup;
    *   - `neardup_stored` / `neardup_new`: quantized cosine ≥
    *     `threshold` against a stored exemplar / a lower-id new vector
    *     (first arrival wins, so only the greater side of a new/new
    *     pair is flagged — [[graft.ext.Curation.docIngestAudit]]'s rule);
    *   - `novel`: non-degenerate and no duplicate flag — the vectors
    *     whose codes the fold appends to the store.
    *
    * The scales cancel in cosine, so every verdict is exact integer
    * arithmetic + one deterministic double division — which is what
    * puts the whole incremental form under the hash-match oracle
    * (no float-iteration escape hatch, unlike the kmeans-blocked
    * [[semanticDedup]]).
    *
    * Scale shape: identical codes collapse to one min-id REP before
    * any pair work (cosine is a function of the codes alone, so the
    * collapse provably preserves every EXISTS answer — the
    * identical-text collapse of the doc audit), then candidates are
    * NEW-reps × (store ∪ new-reps) by construction — the batch side is
    * broadcast and the int8 store streams through ONE
    * BroadcastNestedLoopJoin scan with the native integer dot in the
    * filter: O(batch · store) bandwidth-bound work, never O(store²).
    * At 100 TB with large batches, IVF list blocking ([[semanticDedup]]'s
    * machinery) composes on top: assign both sides to coarse lists and
    * equi-join on the list id before the scan.
    */
  def embeddingIngestAudit(newVecs: DataFrame, storedCodes: DataFrame,
                           threshold: Double = 0.35): DataFrame = {
    val (out, codes) = embeddingIngestAuditCore(newVecs, storedCodes, threshold)
    Dedup.scopeCaches(out, codes)
  }

  /** [[embeddingIngestAudit]] WITHOUT the final cache release: also
    * returns the persisted code frame so [[embeddingIngestDayFold]]
    * can slice the novel vectors' codes from the SAME quantization
    * pass — caller MUST release it.
    */
  private def embeddingIngestAuditCore(newVecs: DataFrame, storedCodes: DataFrame,
                                       threshold: Double)
      : (DataFrame, DataFrame) = {
    import graft.functions.IntDot.int_dot
    val codes = quantizedCodes(newVecs).persist()
    val base = codes.filter(col("qsq") > 0)
    val gmin = base.groupBy("dig").agg(min(col("vec_id")).as("grp_min"))
    val withMin = base.join(gmin, "dig")
    val sd = storedCodes.select("dig").distinct().withColumn("c_stored", lit(true))
    val codeFlags = withMin.join(sd, Seq("dig"), "left")
      .select(col("vec_id"),
        coalesce(col("c_stored"), lit(false)).as("code_dup_stored"),
        (col("vec_id") =!= col("grp_min")).as("code_dup_new"))
    val reps = withMin.filter(col("vec_id") === col("grp_min"))
      .select(col("vec_id").as("rep_id"), col("qv").as("rqv"), col("qsq").as("rsq"))
    val others = storedCodes
      .select(col("vec_id").as("o_id"), col("qv").as("oqv"),
        col("qsq").as("osq"), lit(true).as("o_stored"))
      .unionByName(reps.select(col("rep_id").as("o_id"), col("rqv").as("oqv"),
        col("rsq").as("osq"), lit(false).as("o_stored")))
    // NEW×ALL by construction: cross pairs unordered, new/new pairs
    // enumerated once (rep < other) — no distinct pass needed
    val pairs = others.join(broadcast(reps),
        col("rep_id") =!= col("o_id") && (col("o_stored") || col("rep_id") < col("o_id")))
      .withColumn("qdot", int_dot(col("rqv"), col("oqv")))
      .filter(col("qdot").cast("double") /
        sqrt(col("rsq").cast("double") * col("osq").cast("double")) >= threshold)
    val crossReps = pairs.filter(col("o_stored"))
      .select(col("rep_id")).distinct().withColumn("nd_stored", lit(true))
    val newReps = pairs.filter(!col("o_stored"))
      .select(col("o_id").as("rep_id")).distinct().withColumn("nd_new", lit(true))
    val ndFlags = withMin.select(col("vec_id"), col("grp_min"))
      .join(crossReps, col("grp_min") === col("rep_id"), "left").drop("rep_id")
      .join(newReps, col("grp_min") === col("rep_id"), "left").drop("rep_id")
      .select(col("vec_id"),
        coalesce(col("nd_stored"), lit(false)).as("neardup_stored"),
        (col("vec_id") =!= col("grp_min") ||
          coalesce(col("nd_new"), lit(false))).as("neardup_new"))
    val out = codes.select(col("vec_id"), (col("qsq") === 0).as("is_degenerate"))
      .join(codeFlags, Seq("vec_id"), "left")
      .join(ndFlags, Seq("vec_id"), "left")
      .select(col("vec_id"), col("is_degenerate"),
        coalesce(col("code_dup_stored"), lit(false)).as("code_dup_stored"),
        coalesce(col("code_dup_new"), lit(false)).as("code_dup_new"),
        coalesce(col("neardup_stored"), lit(false)).as("neardup_stored"),
        coalesce(col("neardup_new"), lit(false)).as("neardup_new"))
      .withColumn("novel",
        !col("is_degenerate") && !col("code_dup_stored") && !col("code_dup_new") &&
        !col("neardup_stored") && !col("neardup_new"))
      .orderBy("vec_id")
    (out, codes)
  }

  /** The IVF-list-blocked form of [[embeddingIngestAudit]] — the
    * production pair space at 100 TB, where even ONE bandwidth-bound
    * scan of the stored codes per day is too much. The stored side
    * arrives WITH its inverted-list assignment (the [[ivfIndexAssign]]
    * shape; at scale the dedup store and the ANN index share content —
    * this audit consumes the `qv` int form, the persisted index the
    * packed `qb` form); each new rep probes its
    * `nProbe` nearest lists, and near-dup candidates are only the
    * members of probed lists — an EQUI-JOIN on the list id (shuffle-
    * partitionable, candidate volume = Σ_list probers × list size)
    * instead of the broadcast full-store scan. Exact-duplicate flags
    * (code digests) are list-independent and identical to the
    * unblocked audit's.
    *
    * Because the seed-code centroids are deterministic, the blocked
    * approximation is itself hash-matched (`q_embedding_neardup_blocked`)
    * — the pruned candidate set is a pure function of the data, unlike
    * a kmeans blocking. Contract: a new/new pair is a candidate iff
    * EITHER member's assigned list is probed by the other (the flag
    * lands on the greater id — first arrival wins); a new/stored pair
    * iff the stored member's list is probed by the new rep. With
    * nProbe = nList every list is probed and the audit equals
    * [[embeddingIngestAudit]] row-for-row; with fewer probes its flags
    * are a subset and `novel` a superset (both spec-pinned).
    */
  def embeddingIngestAuditBlocked(newVecs: DataFrame, storedAssigned: DataFrame,
                                  centroids: DataFrame, threshold: Double = 0.35,
                                  nProbe: Int = 4): DataFrame = {
    import graft.functions.IntDot.int_dot
    val scored = seedScoreArray(collectSeedCentroids(centroids))
    val codes = quantizedCodes(newVecs).persist()
    val base = codes.filter(col("qsq") > 0)
    val gmin = base.groupBy("dig").agg(min(col("vec_id")).as("grp_min"))
    val withMin = base.join(gmin, "dig")
    val sd = storedAssigned.select("dig").distinct().withColumn("c_stored", lit(true))
    val codeFlags = withMin.join(sd, Seq("dig"), "left")
      .select(col("vec_id"),
        coalesce(col("c_stored"), lit(false)).as("code_dup_stored"),
        (col("vec_id") =!= col("grp_min")).as("code_dup_new"))
    val repsBase = withMin.filter(col("vec_id") === col("grp_min"))
      .select(col("vec_id").as("rep_id"), col("qv"), col("qsq"))
    val repProbes = repsBase
      .select(col("rep_id"), col("qv").as("rqv"), col("qsq").as("rsq"),
        explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"))
      .select(col("rep_id"), col("rqv"), col("rsq"),
        listIdOf(col("p.nid")).as("cluster"))
    val repAssigned = repsBase
      .withColumn("best", array_max(scored))
      .select(col("rep_id").as("o_id"), col("qv").as("oqv"),
        col("qsq").as("osq"), listIdOf(col("best.nid")).as("cluster"),
        lit(false).as("o_stored"))
    val others = storedAssigned
      .select(col("vec_id").as("o_id"), col("qv").as("oqv"),
        col("qsq").as("osq"), col("centroid_id").as("cluster"),
        lit(true).as("o_stored"))
      .unionByName(repAssigned)
    val pairs = others.join(broadcast(repProbes), Seq("cluster"))
      .filter(col("rep_id") =!= col("o_id"))
      .withColumn("qdot", int_dot(col("rqv"), col("oqv")))
      .filter(col("qdot").cast("double") /
        sqrt(col("rsq").cast("double") * col("osq").cast("double")) >= threshold)
    val crossReps = pairs.filter(col("o_stored"))
      .select(col("rep_id")).distinct().withColumn("nd_stored", lit(true))
    val newReps = pairs.filter(!col("o_stored"))
      .select(greatest(col("rep_id"), col("o_id")).as("rep_id"))
      .distinct().withColumn("nd_new", lit(true))
    val ndFlags = withMin.select(col("vec_id"), col("grp_min"))
      .join(crossReps, col("grp_min") === col("rep_id"), "left").drop("rep_id")
      .join(newReps, col("grp_min") === col("rep_id"), "left").drop("rep_id")
      .select(col("vec_id"),
        coalesce(col("nd_stored"), lit(false)).as("neardup_stored"),
        (col("vec_id") =!= col("grp_min") ||
          coalesce(col("nd_new"), lit(false))).as("neardup_new"))
    val out = codes.select(col("vec_id"), (col("qsq") === 0).as("is_degenerate"))
      .join(codeFlags, Seq("vec_id"), "left")
      .join(ndFlags, Seq("vec_id"), "left")
      .select(col("vec_id"), col("is_degenerate"),
        coalesce(col("code_dup_stored"), lit(false)).as("code_dup_stored"),
        coalesce(col("code_dup_new"), lit(false)).as("code_dup_new"),
        coalesce(col("neardup_stored"), lit(false)).as("neardup_stored"),
        coalesce(col("neardup_new"), lit(false)).as("neardup_new"))
      .withColumn("novel",
        !col("is_degenerate") && !col("code_dup_stored") && !col("code_dup_new") &&
        !col("neardup_stored") && !col("neardup_new"))
      .orderBy("vec_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Embedding duplicate CLUSTERS — the components cell of the modality
    * matrix for vectors (the [[graft.ext.Multimodal.imageClusters]]
    * shape): connected components over the exact cosine-threshold pair
    * graph ([[embeddingNearDup]]'s arithmetic, so the same float
    * parity that oracle-matches the pairs matches the labels), every
    * vector labeled with its component's min vec_id (singletons label
    * themselves), `is_rep` marking the canonical member. Exact
    * all-pairs is the oracle regime; at scale candidates come from
    * [[lshBuckets]] / IVF blocking and components run over pair
    * participants only.
    */
  def embeddingClusters(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val pairs = embeddingNearDup(embeddings, threshold)
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val nodes = embeddings.select(col("vec_id").as("doc_id"))
    Dedup.connectedComponents(edges, nodes)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("is_rep", col("vec_id") === col("cluster_id"))
      .orderBy("vec_id")
  }

  /** One micro-batch "day" of the STREAMING embedding ingest loop —
    * the day-partitioned replay contract
    * ([[graft.ext.Curation.ingestStreamDay]]) applied to
    * [[embeddingIngestDayFold]]'s arithmetic: novel codes land under
    * `storeDir/codes/day=N` with `overwrite` (a replayed micro-batch
    * replaces its own partial output), the stored side reads `day <
    * day` (a replay never sees its first attempt's fold), audits land
    * under `auditDir/day=N`. Live loop:
    * [[graft.streaming.StreamingOps.embeddingIngestStream]].
    */
  def embeddingIngestStreamDay(spark: org.apache.spark.sql.SparkSession,
                               vecsBatch: DataFrame, day: Long,
                               storeDir: String, auditDir: String,
                               threshold: Double = 0.35): Unit = {
    val b = vecsBatch.persist()
    try {
      if (!b.isEmpty) {
        val stored = embeddingIngestReadDayStore(spark, storeDir, day)
        val (out0, codes) = embeddingIngestAuditCore(b, stored, threshold)
        // unpersist in finally: a failed append must not leak the
        // cached codes frame for the session's lifetime
        try {
          // pre-append materialization — see embeddingIngestDayFold
          val audit = out0.localCheckpoint(true)
          val novelIds = audit.filter(col("novel")).select("vec_id")
          codes.join(novelIds, "vec_id").select("vec_id", "qv", "qsq", "dig")
            .write.mode("overwrite").parquet(s"$storeDir/codes/day=$day")
          audit.write.mode("overwrite").parquet(s"$auditDir/day=$day")
        } finally codes.unpersist(false)
      }
    } finally b.unpersist(false)
  }

  /** The day-partitioned embedding code store, restricted to days
    * strictly before `beforeDay`; cold start reads as an empty frame.
    */
  def embeddingIngestReadDayStore(spark: org.apache.spark.sql.SparkSession,
                                  storeDir: String, beforeDay: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("vec_id", LongType)
      .add("qv", ArrayType(IntegerType, containsNull = false))
      .add("qsq", LongType)
      .add("dig", StringType)
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/codes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("day=")))
      spark.read.parquet(p.toString)
        .filter(col("day") < lit(beforeDay))
        .select(schema.fieldNames.map(col): _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Seed (or reset) the [[embeddingIngestDayFold]] code store: one
    * min-id exemplar per DISTINCT code digest, degenerates excluded —
    * the de-duplicated seed invariant of
    * [[graft.ext.Curation.docIngestStoreInit]]. Folds only append
    * NOVEL vectors' codes (distinct among themselves and absent from
    * the store by the audit's own verdicts), so the store stays
    * exemplar-per-digest for its whole life.
    */
  def embeddingIngestStoreInit(vecs: DataFrame, storeDir: String): Unit = {
    val c = quantizedCodes(vecs).filter(col("qsq") > 0)
    val ex = c.groupBy("dig").agg(min(col("vec_id")).as("vec_id"))
    c.join(ex, Seq("dig", "vec_id"))
      .select("vec_id", "qv", "qsq", "dig")
      .write.mode("overwrite").parquet(storeDir)
  }

  /** The stored code table under `storeDir`. */
  def embeddingIngestReadStore(spark: org.apache.spark.sql.SparkSession,
                               storeDir: String): DataFrame =
    spark.read.parquet(storeDir)

  /** One DAY of the embedding ingest loop: audit today's batch against
    * the parquet code store, then append the NOVEL vectors' codes for
    * tomorrow. Novel ⊆ reps (a non-rep carries `code_dup_new`), so the
    * appended codes are sliced from the audit's own cached quantization
    * pass — nothing is re-quantized. Returns the audit (caller owns
    * it). Seed with [[embeddingIngestStoreInit]].
    */
  def embeddingIngestDayFold(spark: org.apache.spark.sql.SparkSession,
                             newVecs: DataFrame, storeDir: String,
                             threshold: Double = 0.35): DataFrame = {
    val stored = embeddingIngestReadStore(spark, storeDir)
    val (out0, codes) = embeddingIngestAuditCore(newVecs, stored, threshold)
    try {
      // pre-append materialization decoupled from the store files — the
      // append fires refreshByPath and a CacheManager entry would
      // recompute against the post-append store (novel vectors would
      // self-match their own just-folded digests); localCheckpoint cuts
      // the file lineage (see docIngestDayFold)
      val out = out0.localCheckpoint(true)
      codes.join(out.filter(col("novel")).select("vec_id"), "vec_id")
        .select("vec_id", "qv", "qsq", "dig")
        .write.mode("append").parquet(storeDir)
      out
    } finally codes.unpersist(false)
  }

  /** The CHAINED multi-day ingest audit as ONE pure query — the
    * operational loop's law, hash-certified: `days` md5-assigned
    * micro-batches fold against an int8 code store seeded from the
    * md5-stored half, entirely in DataFrame algebra (no store writes).
    * Day k's audit is [[embeddingIngestAudit]] against
    * seed ∪ novel(days < k), and the codes carried forward are exactly
    * the audit's own `novel` slice — the [[embeddingIngestDayFold]]
    * append contract, so the pure chain ≡ the sequential store-dir
    * folds (pinned in SimilaritySpec), which the text/media families
    * can pin only as specs. Here every verdict is integer arithmetic
    * and the day assignment an md5 hex digit, so the WHOLE chain sits
    * under the DuckDB oracle (`q_embedding_ingest_chain`) — including
    * the cross-day propagation (a day-1 novel exemplar flagging a
    * day-3 near-copy as `*_stored`). Scale shape per day: one
    * quantization pass over the batch, one broadcast NEW×ALL scan of
    * the store (store side never shuffles, grows only by novel
    * exemplars — dig-unique for its whole life, since non-min
    * identical codes carry `code_dup_new` and stored digs
    * `code_dup_stored`).
    */
  def embeddingIngestChainAudit(vecs: DataFrame, days: Int = 3,
                                threshold: Double = 0.35): DataFrame = {
    val h1 = substring(md5(col("vec_id").cast("string")), 1, 1)
    val h2 = substring(md5(col("vec_id").cast("string")), 2, 1)
    val seedSide = h1 < "8"
    // every store INCREMENT is persisted (the doc-chain lesson: a lazy
    // union plan re-derives the seed quantization once per remaining
    // day); scopeCaches unpersists by plan identity, so the PERSISTED
    // frames are collected, never derived ones
    val cached = Seq.newBuilder[DataFrame]
    def cache(df: DataFrame): DataFrame = { val c = df.persist(); cached += c; c }
    val seedCodes = quantizedCodes(vecs.filter(seedSide)).filter(col("qsq") > 0)
    val ex = seedCodes.groupBy("dig").agg(min(col("vec_id")).as("vec_id"))
    var store = cache(seedCodes.join(ex, Seq("dig", "vec_id"))
      .select("vec_id", "qv", "qsq", "dig"))
    // hex digit 0..15 → day 1..days (floor split: days=3 gives 6/5/5)
    val dayNum =
      (floor(conv(h2, 16, 10).cast("int") * days / lit(16)) + 1).cast("int")
    val rest = vecs.filter(!seedSide).withColumn("ingest_day", dayNum)
    val audits = (1 to days).map { k =>
      val batch = rest.filter(col("ingest_day") === k).drop("ingest_day")
      // Core variant: the eager localCheckpoint below is the audit's
      // ONE materialization — the public operator's scopeCaches would
      // materialize the same frame a second time per day (§1.2). The
      // checkpoint also cuts the lineage (persist caches DATA, not the
      // analyzed plan — day k's audit plan otherwise embeds every
      // prior day's full lineage through the store union, and planning
      // cost compounds per day). The novel slice shares the audit's
      // quantization plan (served from its cache while it lives).
      val (audit0, bcodes) = embeddingIngestAuditCore(batch, store, threshold)
      val audit = audit0.localCheckpoint(true)
      val novel = cache(bcodes
        .join(audit.filter(col("novel")).select("vec_id"), "vec_id")
        .select("vec_id", "qv", "qsq", "dig"))
      bcodes.unpersist(false)
      store = store.unionByName(novel)
      audit.withColumn("day", lit(k))
    }
    val out = audits.reduce(_ unionByName _)
      .select(col("day"), col("vec_id"), col("is_degenerate"),
        col("code_dup_stored"), col("code_dup_new"),
        col("neardup_stored"), col("neardup_new"), col("novel"))
      .orderBy("day", "vec_id")
    Dedup.scopeCaches(out, cached.result(): _*)
  }

  /** What [[embeddingStoreCompact]] WOULD reclaim, as a query — the
    * "should I compact?" audit for the EMBEDDING code store,
    * completing the compaction row across all three store families
    * (media [[graft.ext.Curation.storeCompactionSummary]], text, and
    * now vectors): one row with the stored code count, the
    * distinct-digest exemplar count compaction would keep, the
    * redundant rows it would drop, and the largest identical-code
    * group. Degenerate (all-zero) codes are excluded — the fold never
    * stores them. Scale-invariance makes the digest a strictly
    * stronger dedup key than byte-identical floats: `2v` and `v/2`
    * quantize to byte-identical int8 codes, so magnitude variants of
    * one direction land in one group (pinned in SimilaritySpec; the
    * driver query plants exactly that redundancy). One hash aggregate
    * over codes — no floats, no joins — so it runs beside any
    * pipeline at sketch-table cost and is DuckDB-oracle-matched
    * (`q_embedding_store_compact`).
    */
  def embeddingStoreCompactionSummary(codes: DataFrame): DataFrame =
    codes.filter(col("qsq") > 0)
      .groupBy("dig").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).cast("long").as("rows_before"),
        count(lit(1)).as("exemplars"),
        coalesce(sum(col("n")) - count(lit(1)), lit(0L)).cast("long")
          .as("dropped"),
        coalesce(max(col("n")), lit(0L)).cast("long").as("max_group"))
      .select(lit("embedding").as("modality"), col("rows_before"),
        col("exemplars"), col("dropped"), col("max_group"))

  /** Compact the [[embeddingIngestDayFold]] code store to
    * duplicate-free exemplars: one stored row per distinct code
    * digest (the min-vec_id representative) — the embedding twin of
    * [[graft.ext.Curation.ingestStoreCompact]], same staged
    * rename-aside swap. The audit already collapses the stored side
    * to distinct digests on every run, and cosine is a function of
    * the CODES alone, so compaction provably cannot change any audit
    * verdict (spec-pinned) — it only removes redundant rows an
    * externally-loaded store accumulated (the fold itself appends
    * only novel codes and never creates redundancy). Returns
    * (rows_before, rows_after).
    */
  def embeddingStoreCompact(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String): (Long, Long) =
    graft.ext.Curation.compactRewrite(spark, storeDir, { cur =>
      val ex = cur.groupBy("dig").agg(min(col("vec_id")).as("vec_id"))
      cur.join(ex, Seq("dig", "vec_id")).select("vec_id", "qv", "qsq", "dig")
    })

  /** Per-vector quality signals — the junk gate for the EMBEDDING
    * modality (completing the quality row of the modality matrix):
    * dimension, exact zero-entry and non-finite (NaN/±Inf) counts, the
    * L2 norm (rounded past float-fold noise, the established
    * cross-engine float contract), and the degenerate flags a vector
    * store must reject before any ANN structure sees them —
    * `is_zero` (cosine against it is 0/0) and `is_degenerate`
    * (zero OR any non-finite entry). Pure narrow projection of
    * codegen'd built-ins; runs on the real embeddings table
    * (`q_embedding_quality`).
    */
  def embeddingQualityStats(embeddings: DataFrame): DataFrame = {
    val emb = asDouble(col("embedding"))
    val sumSq = aggregate(emb, lit(0.0), (acc, x) => acc + x * x)
    val nonfinite = size(filter(emb, x =>
      isnan(x) || abs(x) === lit(Double.PositiveInfinity)))
    embeddings.select(
      col("vec_id"),
      size(emb).as("dim"),
      size(filter(emb, x => x === 0.0)).as("n_zero"),
      nonfinite.as("n_nonfinite"),
      round(sqrt(sumSq), 6).as("norm"),
      (sumSq === 0.0).as("is_zero"),
      (sumSq === 0.0 || nonfinite > 0).as("is_degenerate"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // Seed-code IVF index: the coarse quantizer as a MAINTAINED ARTIFACT
  // ------------------------------------------------------------------

  /** Deterministic IVF "training": the `nList` non-degenerate vectors
    * with the smallest `md5(vec_id)` are the coarse centroids, and each
    * centroid IS its seed's int8 code. Random-init IVF (no Lloyd
    * iterations) is a standard coarse quantizer; drawing the seeds by
    * md5 order just fixes the randomness to something both engines can
    * compute — which moves the ENTIRE index family (build, incremental
    * assignment, pruned probe) into the exact int8 regime and under the
    * hash-match oracle, unlike the float-kmeans [[ivfCentroids]] path
    * (`q_ivf_topk`, rows-only by contract).
    *
    * Returns (centroid_id, seed_vec_id, cv = seed int8 code, csq).
    * The top-nList pick is a distributed TakeOrdered; only the picked
    * nList × dim ints reach the driver (the [[ivfCentroids]] k×dim
    * adjudication), which also assigns the rank without a
    * partition-less window.
    */
  def ivfSeedCentroids(embeddings: DataFrame, nList: Int = 16): DataFrame =
    seedsToDf(embeddings.sparkSession,
      seedPickFromCodes(quantizedQv(embeddings).filter(col("qsq") > 0), nList))

  /** The seed draw over an existing non-degenerate code frame — lets
    * [[ivfIndexBuildSummary]]/[[ivfIndexTopK]] reuse ONE quantization
    * pass for the seed pick, the assignment, and the query side.
    */
  private def seedPickFromCodes(codes: DataFrame, nList: Int)
      : Array[(Int, Long, Seq[Int], Long)] = {
    val key = md5(col("vec_id").cast("string"))
    codes
      .select(key.as("mkey"), col("vec_id"), col("qv"), col("qsq"))
      .orderBy("mkey", "vec_id").limit(nList)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
      .zipWithIndex
      .map { case ((_, vid, cv, csq), i) => (i, vid, cv, csq) }
  }

  private def seedsToDf(spark: org.apache.spark.sql.SparkSession,
                        picked: Array[(Int, Long, Seq[Int], Long)]): DataFrame = {
    import spark.implicits._
    picked.toSeq.toDF("centroid_id", "seed_vec_id", "cv", "csq")
  }

  /** The centroid columns a probe reads, with the types [[seedsToDf]]
    * writes: a probe reads `centroids` under this declared schema, so
    * it runs no schema-inference job (pinned to the writer by a spec).
    */
  private[ext] val CENTROID_PROBE_SCHEMA: StructType = new StructType()
    .add("centroid_id", IntegerType).add("cv", ArrayType(IntegerType))
    .add("csq", LongType)

  /** Bounded driver fetch of the centroid matrix (nList × dim ints —
    * the [[ivfCentroids]] k×dim adjudication), sorted by centroid id.
    */
  private[graft] def collectSeedCentroids(centroids: DataFrame)
      : Array[(Int, Seq[Int], Long)] = {
    val seeds = centroids.select("centroid_id", "cv", "csq").collect()
      .map(r => (r.getInt(0), r.getSeq[Int](1), r.getLong(2)))
      .sortBy(_._1)
    require(seeds.nonEmpty,
      "IVF index needs at least one non-degenerate stored vector")
    seeds
  }

  /** Per-centroid (sim, -centroid_id) scores over the centroid codes as
    * ONE native codegen loop ([[graft.functions.CentroidScores]]) over
    * a flat packed byte matrix: generated-code size is CONSTANT in
    * nList (the unrolled-literal twin below grows linearly and decays
    * past Janino/JIT method limits in the hundreds; the HOF `transform`
    * form is constant-size but interpreted — the round-11 cliff).
    * `array_max` picks max sim, ties to the LOWEST centroid id (max of
    * the negated id); NaN is impossible (both squared norms are > 0 by
    * construction). Element-for-element ≡ the unrolled twin is
    * spec-pinned (IvfIndexSpec).
    */
  private[graft] def seedScoreArray(seeds: Array[(Int, Seq[Int], Long)]): Column = {
    import graft.functions.CentroidScores.centroid_scores
    val dim = seeds.head._2.length
    require(seeds.forall(_._2.length == dim),
      "centroid codes must share one dimensionality")
    val matrix = new Array[Byte](seeds.length * dim)
    seeds.zipWithIndex.foreach { case ((_, cv, _), c) =>
      var i = 0
      while (i < dim) {
        val v = cv(i)
        // int8 quantization guarantees [-127, 127]; the byte pack is lossless
        require(v >= -127 && v <= 127, s"non-int8 centroid code $v")
        matrix(c * dim + i) = v.toByte
        i += 1
      }
    }
    centroid_scores(col("qv"), col("qsq"), matrix,
      seeds.map(_._3).toSeq, seeds.map(_._1).toSeq)
  }

  /** The UNROLLED twin of [[seedScoreArray]] — one
    * `struct(int_dot(qv, lit(cv)) / sqrt(...), -cid)` per centroid.
    * Kept as the reference implementation for the native≡unrolled spec
    * pin and the StressBench codegen-size A/B: at small nList the two
    * plans are equally fast; past a few hundred centroids the unrolled
    * generated code outgrows JIT/Janino method budgets while the native
    * loop stays flat.
    */
  private[graft] def seedScoreArrayUnrolled(
      seeds: Array[(Int, Seq[Int], Long)]): Column = {
    import graft.functions.IntDot.int_dot
    array(seeds.map { case (cid, cv, csq) =>
      struct(
        (int_dot(col("qv"), typedlit(cv)).cast("double")
          / sqrt(col("qsq").cast("double") * lit(csq.toDouble))).as("sim"),
        lit(-cid).as("nid"))
    }: _*)
  }

  /** The list id off a scored struct's `nid`, as a NON-NULLABLE int.
    * The coalesce matters: array_max is conservatively nullable, so an
    * equi-join on a plain `-nid` key infers isnotnull(cluster), pushes
    * the whole inlined 16-struct score array into a pre-join Filter
    * (re-evaluated per input row), and the blown-up stage loses
    * whole-stage codegen — measured 11.6s vs 0.3s for a 16×16-row join
    * at StressBench ×10. With a provably non-null key the inferred
    * check folds to TRUE and vanishes. -1 is unreachable (the seed
    * array is non-empty by construction).
    */
  private def listIdOf(nid: Column): Column =
    coalesce((-nid).cast("int"), lit(-1))

  /** Nearest-centroid assignment of a vector batch against a FIXED
    * centroid table — the IVF index's incremental-maintenance step. The
    * batch is quantized once ([[quantizedCodes]]); the centroid matrix
    * is a broadcast-scale literal, so a day's assignment is O(batch ×
    * nList) with NO scan of previously indexed vectors at all — the
    * cheapest daily-ingest cell in the engine. Degenerate vectors
    * (all-zero code) are excluded, as everywhere in the ANN family.
    * Exact integer arithmetic + one double division per centroid ⇒
    * fully hash-matched (`q_ivf_index_assign_inc`).
    */
  def ivfIndexAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDot.int_dot
    // qb rides along so the store writers can persist the PACKED form
    // (1 byte/element) while in-memory consumers keep the qv ints
    val codes = vecs
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"),
        int8_bytes(col("embedding")).as("qb"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .withColumn("dig", md5(concat_ws(",", col("qv").cast("array<string>"))))
      .filter(col("qsq") > 0)
    assignCodes(codes, collectSeedCentroids(centroids))
  }

  /** The assignment tail over an EXISTING non-degenerate code frame
    * (vec_id, qv, qb, qsq, dig) — shared by [[ivfIndexAssign]] (fresh
    * quantization) and [[ivfIndexStoreReseed]] (codes recovered from
    * store bytes; the float embeddings are never re-read).
    */
  private def assignCodes(codes: DataFrame,
                          seeds: Array[(Int, Seq[Int], Long)]): DataFrame =
    codes
      .withColumn("best", array_max(seedScoreArray(seeds)))
      .select(col("vec_id"), col("qv"), col("qb"), col("qsq"), col("dig"),
        listIdOf(col("best.nid")).as("centroid_id"),
        round(col("best.sim"), 6).as("centroid_sim"))

  /** Build-time index audit (`q_ivf_index_build`): one row per inverted
    * list with its seed, size, distinct-code count, and the min/max
    * member-to-centroid similarity (min/max of already-rounded exact
    * doubles — order-independent, unlike a float mean).
    */
  def ivfIndexBuildSummary(embeddings: DataFrame, nList: Int = 16): DataFrame = {
    val codes = quantizedCodes(embeddings).filter(col("qsq") > 0)
    val picked = seedPickFromCodes(codes, nList)
    val best = array_max(seedScoreArray(picked.map { case (cid, _, cv, csq) =>
      (cid, cv, csq) }))
    // ONE pass: the non-nullable list id ([[listIdOf]]) keeps any
    // inferred null check foldable, and the seed lookup is a literal
    // map instead of a join, so nothing pushes the argmax below the
    // aggregate — no cache needed
    val seedById = typedlit(picked.map { case (cid, vid, _, _) => cid -> vid }.toMap)
    codes
      .withColumn("best", best)
      .select(col("dig"), listIdOf(col("best.nid")).as("centroid_id"),
        round(col("best.sim"), 6).as("centroid_sim"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("list_size"),
        countDistinct(col("dig")).as("n_codes"),
        min(col("centroid_sim")).as("min_sim"),
        max(col("centroid_sim")).as("max_sim"))
      .select(col("centroid_id"),
        element_at(seedById, col("centroid_id")).as("seed_vec_id"),
        col("list_size"), col("n_codes"), col("min_sim"), col("max_sim"))
      .orderBy("centroid_id")
  }

  /** IVF top-k over the seed-code index: queries probe their `nProbe`
    * nearest centroids (sim DESC, centroid_id ASC — the same argmax
    * arithmetic as assignment), candidates are ONLY the vectors
    * assigned to those lists (shuffle on the list id, candidate work =
    * corpus/nList × nProbe), and the final ranking is the exact
    * integer-dot cosine of [[quantizedCosineTopK]]. Every step is
    * deterministic, so unlike the kmeans IVF this pruned probe is
    * itself hash-matched (`q_ivf_index_topk`) — and with nProbe = nList
    * it equals [[quantizedCosineTopK]] row-for-row (spec-pinned).
    */
  def ivfIndexTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                   nList: Int = 16, nProbe: Int = 4): DataFrame = {
    import graft.functions.IntDot.int_dot
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0)
    val scored = seedScoreArray(seedPickFromCodes(codes, nList)
      .map { case (cid, _, cv, csq) => (cid, cv, csq) })
    val assigned = codes
      .withColumn("best", array_max(scored))
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("qsq").as("sqb"), listIdOf(col("best.nid")).as("cluster"))
    // a query's own list is its top-1 probe, so it always probes itself;
    // each neighbor lives in exactly ONE list, so candidates are distinct
    val q = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("qsq").as("sqa"),
        explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("qa"), col("sqa"),
        listIdOf(col("p.nid")).as("cluster"))
    val sims = assigned.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", int_dot(col("qb"), col("qa")))
      .withColumn("sim",
        col("qdot") / sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("qdot"), round(col("sim"), 6).as("q_cosine"))
      .orderBy("query_id", "rnk")
  }

  /** Persist the index: `dir/centroids` (nList rows) and
    * `dir/assignments` partitioned BY `centroid_id` — the inverted
    * lists as a physical hive layout, so a probe reads ONLY its
    * nProbe partitions (partition pruning; spec-pinned via inputFiles).
    */
  /** The store persists the PACKED code form only (`qb` binary —
    * 1 byte/element; measured 1.7× smaller, 1.8× faster to scan than
    * `array<int>` at ×100): the index is the table every probe and
    * day-scan reads, so its physical width is the family's bandwidth
    * bill at 100 TB.
    */
  private[ext] val STORE_COLS = Seq("vec_id", "qb", "qsq", "dig", "centroid_sim")

  def ivfIndexStoreInit(embeddings: DataFrame, dir: String,
                        nList: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    val cents = ivfSeedCentroids(embeddings, nList)
    // ONE persisted quantize+argmax pass feeds the assignment write AND
    // the sufficient-statistics sidecar (the old shape re-read the
    // just-written bytes for the cells — an extra scan job), and the
    // three independent table writes run as CONCURRENT jobs (§2.6)
    val assigned = ivfIndexAssign(embeddings, cents).persist()
    try Jobs.concurrently(Seq(
      () => cents.write.mode("overwrite").parquet(s"$dir/centroids"),
      () => clusterForWrite(assigned
        .select((STORE_COLS :+ "centroid_id").map(col): _*), "centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id").parquet(s"$dir/assignments"),
      () => writeLloydStats(spark, dir, collectAssignmentStats(assigned))))
    finally assigned.unpersist(blocking = false)
  }

  /** Rename-aside adoption for a store table written through a
    * `.NAME.next` staging dir: if the live table is MISSING but a
    * COMPLETED staging copy exists (`_SUCCESS` present), adopt it —
    * the writer crashed in the window between deleting the live table
    * and renaming the staged one in, and the staged copy is the
    * write's full intent. Returns true iff a live table exists after
    * the call. Called from every READ path of a rename-aside table
    * (not just its writer), so recovery is generally reachable: any
    * probe/append/train that touches the table self-heals the store
    * instead of failing on the missing path (round-16 ADVICE).
    */
  private[ext] def adoptStagedNext(fs: org.apache.hadoop.fs.FileSystem,
                                   live: org.apache.hadoop.fs.Path,
                                   next: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(live) &&
        fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
      if (!fs.rename(next, live))
        throw new java.io.IOException(s"recovery rename $next -> $live failed")
    }
    fs.exists(live)
  }

  /** Write a bounded driver-local DataFrame as a store table through
    * the rename-aside discipline: stage at `.NAME.next` (Spark's
    * `_SUCCESS` marker commits it), delete the live table, rename the
    * staged one in. The only crash window that loses the live table
    * leaves a COMPLETED `.next`, which every reader adopts via
    * [[adoptStagedNext]] — the table is never absent without a
    * generally-reachable recovery.
    */
  private[ext] def writeRenameAside(df: DataFrame, dir: String,
                                    name: String,
                                    partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val live = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val next = new org.apache.hadoop.fs.Path(s"$dir/.$name.next")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(next, true)
    val w = (if (partitionCols.nonEmpty)
      clusterForWrite(df, partitionCols: _*) else df).write
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(next.toString)
    fs.delete(live, true)
    if (!fs.rename(next, live))
      throw new java.io.IOException(s"rename $next -> $live failed")
    // a whole-table rewrite supersedes any pending PER-PARTITION swap
    // staging ([[rewritePartitions]]'s `.delete-next`) — clear it, or a
    // stale staged partition could be adopted over the fresh table the
    // next time its live dir legitimately empties out
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/.$name.delete-next"), true)
  }

  /** Cluster rows by their hive partition column(s) before a
    * partitioned store write (optimization guide §6 small files):
    * without it every write task emits one file per partition value it
    * holds — tasks × values tiny files (at 32 shuffle partitions × 16
    * lists that is ~512 files per write; measured 18-20 s of executor
    * CPU on <1 MB of data at sf0.1, nearly all parquet writer setup),
    * and every later read of the store pays the per-file open cost
    * again. AQE's REBALANCE both coalesces small partitions and splits
    * oversized ones toward `advisoryPartitionSizeInBytes`, so the
    * output file count tracks DATA VOLUME, not task count — one file
    * per list here, ~advisory-sized files at 100 TB, with no constant
    * tuned for either regime.
    */
  private[graft] def clusterForWrite(df: DataFrame,
                                     cols: String*): DataFrame =
    df.hint("rebalance", cols.map(col): _*)

  def ivfIndexStoreCentroids(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame =
    spark.read.parquet(liveCentroids(spark, dir))

  /** The live `centroids` path, after adopting a staged rename-aside
    * copy — what every centroid read goes through.
    */
  private def liveCentroids(spark: org.apache.spark.sql.SparkSession,
                            dir: String): String = {
    val live = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptStagedNext(fs, live,
      new org.apache.hadoop.fs.Path(s"$dir/.centroids.next"))
    live.toString
  }

  def ivfIndexStoreAssignments(spark: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame = {
    adoptDeleteStaged(spark, s"$dir/assignments")
    spark.read.parquet(s"$dir/assignments")
      .select("vec_id", "qb", "qsq", "dig", "centroid_id", "centroid_sim")
  }

  /** The store's LLOYD-STATISTICS SIDECAR (`dir/lloyd_stats`): per
    * (inverted list, coordinate) the EXACT integer sum and count of
    * the list's member codes — the additive sufficient statistics of
    * one centroid mean-update ([[lloydStats]]'s cells, persisted).
    * The invariant every writer maintains: the sidecar equals the
    * per-cell aggregate of the CONSOLIDATED assignment rows (streamed
    * day partitions join it when a reseed/train folds them in, the
    * same moment they join the consolidated lists). Because a member's
    * contribution is a pure additive fact of its assignment row, the
    * sidecar stays exact under appends (merge by addition), under
    * centroid updates (member sums don't move when a centroid does),
    * and under replays (a replayed append doubles assignment rows and
    * sidecar contributions TOGETHER, preserving the invariant).
    * Bounded everywhere: nList × dim cells.
    */
  private[ext] def ivfIndexStoreLloydStats(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[(Int, Int), (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/lloyd_stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // adopt a completed rename-aside staging copy first: a writer that
    // crashed between its delete and its rename left the sidecar's
    // full intent at `.lloyd_stats.next` — every reader self-heals
    adoptStagedNext(fs, p,
      new org.apache.hadoop.fs.Path(s"$dir/.lloyd_stats.next"))
    if (!fs.exists(p))
      throw new java.io.IOException(
        s"no Lloyd-statistics sidecar at $p — the store predates the " +
          "round-16 layout; re-init, reseed, or train it to create one")
    spark.read.schema(LLOYD_STATS_SCHEMA).parquet(p.toString)
      .select("cluster", "pos", "s", "n").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** The `lloyd_stats` columns as [[writeLloydStats]] writes them: a
    * read declares them, so it runs no schema-inference job (pinned to
    * the writer by a spec, like [[CENTROID_PROBE_SCHEMA]]).
    */
  private[ext] val LLOYD_STATS_SCHEMA: StructType = new StructType()
    .add("cluster", IntegerType).add("pos", IntegerType)
    .add("s", LongType).add("n", LongType)

  /** The per-cell statistics of stored assignment rows, read back from
    * store bytes (`int8_unpack` recovers the int codes) — one cheap
    * scan of the written files, no argmax. The unpack is the
    * generator's INPUT, so it runs once per row, not once per exploded
    * cell (the round-15 Generate discipline).
    */
  private def collectAssignmentStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Map[(Int, Int), (Long, Long)] =
    collectAssignmentStats(spark.read.parquet(path))

  /** The sidecar-cell aggregation off an explicit rows frame — ONE
    * copy shared with the manifested store ([[IvfIncremental]]), whose
    * rows resolve through a manifest instead of a path.
    */
  private[ext] def collectAssignmentStats(
      rows: DataFrame): Map[(Int, Int), (Long, Long)] = {
    import graft.functions.Int8Unpack.int8_unpack
    rows
      .select(col("centroid_id").as("cluster"),
        posexplode(int8_unpack(col("qb"))).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** The statistics of an in-flight assigned batch (the [[assignCodes]]
    * output shape: qv + centroid_id present) — O(batch × nList), the
    * append-side half of the sidecar merge.
    */
  private def lloydStatsOf(assigned: DataFrame): Map[(Int, Int), (Long, Long)] =
    assigned
      .select(col("centroid_id").as("cluster"),
        posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  /** Persist a statistics map as the sidecar. The rows are written
    * from a driver-local sequence (the map is nList × dim bounded), so
    * the write never races its own read lineage — and it goes through
    * [[writeRenameAside]] (round-17): the sidecar is written on EVERY
    * append, so a plain overwrite's crash window (live deleted, new
    * bytes partial) would wedge all ingest until a manual
    * [[ivfIndexStoreStatsRebuild]]; with rename-aside the only
    * lost-live state leaves a completed `.next` that the next read
    * adopts.
    */
  private[ext] def writeLloydStats(spark: org.apache.spark.sql.SparkSession,
                              dir: String,
                              stats: Map[(Int, Int), (Long, Long)]): Unit = {
    import spark.implicits._
    writeRenameAside(
      stats.toSeq.map { case ((c, p), (s, n)) => (c, p, s, n) }
        .sortBy(t => (t._1, t._2))
        .toDF("cluster", "pos", "s", "n")
        .coalesce(1),
      dir, "lloyd_stats")
  }

  /** O(batch) CENTROID MAINTENANCE of the persisted index
    * (`q_ivf_store_update_inc`) — the day-ingest cell the
    * sufficient-statistics theorem exists for: recompute every
    * centroid as the HALF-UP integer mean of its CURRENT member list,
    * reading ONLY the sidecar and the centroid table (nList × dim
    * cells — NO scan of the stored corpus at any size). Because
    * [[ivfIndexStoreAppend]] merges each batch's statistics by
    * addition, init + appends + THIS equals the one-epoch Lloyd
    * update of the union corpus under the init centroids EXACTLY
    * (integer sums are sufficient statistics — the
    * [[kmeansUpdateIncSummary]] theorem, now wired into the
    * artifact; the DuckDB oracle certifies it cross-engine by
    * computing the union form). Empty lists and zero-norm means carry
    * the current centroid, so the call is idempotent (same sidecar →
    * same means). Assignments stay as-assigned — the standard IVF
    * maintenance posture: lists drift around their moving centroid
    * until a reseed/train re-partitions them, and the sidecar stays
    * exact throughout because member sums don't move when a centroid
    * does. Returns one row per centroid: member count, exact updated
    * coordinate sum, and squared norm.
    */
  def ivfIndexStoreUpdateCentroids(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): DataFrame = {
    import spark.implicits._
    // every store mutation runs the whole-store crash recovery first
    // (a headless train swap must be adopted, not misread as a
    // missing-sidecar layout error)
    if (Curation.storeSwapRecover(spark, dir) == "absent")
      throw new java.io.IOException(
        s"no IVF index store (live, old, or staged) at $dir")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a RESIDUAL sidecar pins its codes to the centroids they were
    // taken against: moving the centroids under it would leave stored
    // r̂/wsq stale while the probe adds q·cv with the NEW centroids —
    // a silent wrong answer. Refuse; a retrain rebuilds the sidecar
    // inside its swap and is the supported path. (The RAW sidecar is
    // unaffected — its codes are per-vector facts and pruning reads
    // list ids, so the update proceeds under it.)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_codebook")) &&
        ivfIndexStorePqCodebook(spark, dir)._4)
      throw new IllegalStateException(
        s"store at $dir carries a RESIDUAL PQ sidecar — updating " +
          "centroids in place would silently invalidate its codes; " +
          "use ivfIndexStoreTrain (which rebuilds the sidecar in its " +
          "swap) instead")
    // pending tombstones: the sidecar still counts the tombstoned
    // members, so an update off it would price deleted rows — fold
    // first (compact applies tombstones and re-derives the cells)
    if (ivfTombstonesExist(spark, dir))
      throw new IllegalStateException(
        s"store at $dir holds pending tombstone days the sidecar does " +
          "not reflect — compact/train first to apply them, then update")
    val current = ivfIndexStoreCentroids(spark, dir)
      .select("centroid_id", "seed_vec_id", "cv", "csq").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2), r.getLong(3)))
      .sortBy(_._1)
    require(current.nonEmpty, s"empty centroid table at $dir/centroids")
    val stats = ivfIndexStoreLloydStats(spark, dir)
    // STALENESS CROSS-CHECK (round-17): a crash between an append's
    // two commits (rows landed, cell merge didn't) leaves the sidecar
    // silently under-counting — and this is the op that would turn
    // that into wrong centroids. The sidecar's total member count must
    // equal the consolidated assignment row count (a column-less
    // parquet count — footer metadata, no corpus data scan); on
    // mismatch fail LOUD at the recovery hatch instead of computing
    // means from stale statistics.
    val sidecarCount = stats.collect { case ((_, 0), (_, n)) => n }.sum
    val rowCount = spark.read.parquet(s"$dir/assignments").count()
    if (sidecarCount != rowCount)
      throw new java.io.IOException(
        s"lloyd_stats sidecar counts $sidecarCount members but the store " +
          s"holds $rowCount assignment rows — an append crashed between " +
          "its row and statistics commits; run ivfIndexStoreStatsRebuild " +
          "(one columnar scan) before updating centroids")
    val updated = lloydCentroidsFromStats(
      current.map { case (cid, _, cv, csq) => (cid, cv, csq) }, stats)
    // lineage: the updated centroid keeps its ancestor's seed_vec_id,
    // so the store schema — and every existing reader — is unchanged
    val picked = updated.zip(current).map {
      case ((cid, cv, csq), (_, vid, _, _)) => (cid, vid, cv, csq)
    }
    writeRenameAside(seedsToDf(spark, picked), dir, "centroids")
    updated.map { case (cid, cv, csq) =>
      (cid, stats.get((cid, 0)).map(_._2).getOrElse(0L),
        cv.map(_.toLong).sum, csq)
    }.toSeq
      .toDF("centroid_id", "n_members", "cv_sum", "csq")
      .orderBy("centroid_id")
  }

  /** Incremental index maintenance: assign a NEW batch against the
    * STORED centroids (no scan of stored assignments — O(batch ×
    * nList)) and append it into the partitioned inverted lists.
    * Because the centroids are fixed at init, append-then-read equals
    * a from-scratch assignment of the union corpus under the same
    * seeds (spec-pinned) — assignments are immutable facts, so the
    * store is append-only with no rewrite step. The steps, commit
    * order and crash window are [[ivfAppendWith]]'s; the rows land
    * through a `mode("append")` parquet write, which is not atomic: a
    * crash inside it leaves partial ROWS, with the sidecar not yet
    * merged. Either way the rows are ahead of the sidecar, and
    * [[ivfIndexStoreStatsRebuild]] re-derives it from the assignment
    * bytes in one cheap scan (a train/reseed re-bases it as part of
    * its swap). Returns the assigned batch, unpersisted: an action on
    * it recomputes the quantize+argmax.
    */
  def ivfIndexStoreAppend(spark: org.apache.spark.sql.SparkSession,
                          newVecs: DataFrame, dir: String): DataFrame =
    ivfAppendWith(spark, newVecs, dir) { rows =>
      clusterForWrite(rows, "centroid_id")
        .write.mode("append").partitionBy("centroid_id")
        .parquet(s"$dir/assignments")
    }

  /** The ONE append core of the IVF stores, shared by the flat store
    * ([[ivfIndexStoreAppend]]) and the manifested one
    * ([[IvfIncremental.append]]), which differ only in how the batch's
    * rows commit (`writeRows`, given the [[STORE_COLS]] + centroid_id
    * rows):
    *
    *   1. the `lloyd_stats` sidecar is read FIRST: a store without one
    *      (pre-round-16 layout) fails loud BEFORE any write — appending
    *      rows whose cells can't merge would silently break the
    *      sidecar invariant;
    *   2. the batch is assigned against the stored centroids and
    *      PERSISTED, the cache filled by one job — one quantize+argmax
    *      pass for both jobs below; sidecar and centroids are read
    *      under declared schemas, so no schema-inference job runs;
    *   3. `writeRows` and the batch's additive cells
    *      ([[lloydStatsOf]], a read-only O(batch × nList) collect) run
    *      as CONCURRENT jobs (§2.6) over the one persisted batch;
    *   4. only then the merged sidecar is written (rename-aside), so
    *      it stays ≡ the per-cell aggregate of the consolidated lists
    *      and [[ivfIndexStoreUpdateCentroids]] never rescans the corpus.
    *
    * Crash window (single-writer by contract): rows commit before the
    * sidecar, so a crash between the two leaves appended rows
    * unrepresented in the sidecar — detected by the fsck and the
    * update's cross-check, repaired by the store's StatsRebuild.
    * Returns the assigned batch, unpersisted.
    */
  private[ext] def ivfAppendWith(spark: org.apache.spark.sql.SparkSession,
                                 newVecs: DataFrame, dir: String)
                                (writeRows: DataFrame => Unit): DataFrame = {
    val statsBefore = ivfIndexStoreLloydStats(spark, dir)
    val assigned = ivfIndexAssign(newVecs,
      spark.read.schema(CENTROID_PROBE_SCHEMA).parquet(liveCentroids(spark, dir)))
      .persist()
    try {
      // fill the cache in ONE job first: two concurrent first readers
      // of an unfilled cache may each run a job to fill it
      assigned.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      val batchStats = Jobs.concurrently(Seq(
        () => {
          writeRows(assigned.select((STORE_COLS :+ "centroid_id").map(col): _*))
          None
        },
        () => Some(lloydStatsOf(assigned)))).flatten.head
      writeLloydStats(spark, dir, lloydMergeStats(statsBefore, batchStats))
    } finally assigned.unpersist(blocking = false)
    assigned
  }

  /** Re-derive the statistics sidecar from the stored assignment bytes
    * — the recovery escape hatch for a crash between an append's two
    * commits (rows landed, cells didn't), and the cheapest way to
    * certify the sidecar invariant on demand: one columnar scan of the
    * consolidated lists, no argmax, no float. Idempotent; equals what
    * init wrote and what every append maintained.
    */
  def ivfIndexStoreStatsRebuild(spark: org.apache.spark.sql.SparkSession,
                                dir: String): Unit =
    writeLloydStats(spark, dir,
      collectAssignmentStats(spark, s"$dir/assignments"))

  /** FSCK of the statistics sidecar (`q_ivf_store_fsck`): certify the
    * sidecar ≡ per-cell-aggregate-of-assignment-rows invariant by
    * recomputing, per inverted list, the member count and the
    * per-coordinate integer sums from the STORED assignment bytes and
    * comparing them cell-by-cell against the sidecar. One columnar
    * scan of the consolidated lists (the [[ivfIndexStoreStatsRebuild]]
    * aggregate) plus the nList × dim sidecar read — no argmax, no
    * float, no corpus re-read. Per list it reports both sides' counts,
    * the total coordinate sum from the rows, and two booleans:
    * `count_ok` (member counts agree) and `cells_ok` (EVERY
    * (coordinate) cell's sum and count agree — per-cell, so two wrong
    * cells can never cancel). This turns the documented append crash
    * window (rows committed, cells not) from "recoverable if a human
    * remembers the rebuild hatch" into "detectable by a query": a
    * FALSE row names the exact list to rebuild. Day partitions are
    * out of scope by the sidecar's own contract — they fold into the
    * sidecar at train/reseed, the same moment they join the
    * consolidated lists.
    */
  def ivfIndexStoreFsck(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    import graft.functions.Int8Unpack.int8_unpack
    // reader-side self-heal first, like every sidecar read path
    val sidecarPath = new org.apache.hadoop.fs.Path(s"$dir/lloyd_stats")
    adoptStagedNext(
      sidecarPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      sidecarPath, new org.apache.hadoop.fs.Path(s"$dir/.lloyd_stats.next"))
    val fromRows = spark.read.parquet(s"$dir/assignments")
      .select(col("centroid_id").as("cluster"),
        posexplode(int8_unpack(col("qb"))).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("rs"), count(lit(1)).as("rn"))
    val sidecar = spark.read.schema(LLOYD_STATS_SCHEMA)
      .parquet(s"$dir/lloyd_stats")
      .select(col("cluster"), col("pos"), col("s").as("cs"),
        col("n").as("cn"))
    // full outer on the cell key: a cell present on one side only is
    // itself an invariant violation (never silently dropped)
    val cells = fromRows.join(sidecar, Seq("cluster", "pos"), "full_outer")
      .withColumn("cell_ok",
        coalesce(col("rs"), lit(Long.MinValue)) <=>
          coalesce(col("cs"), lit(Long.MaxValue)) &&
          coalesce(col("rn"), lit(Long.MinValue)) <=>
            coalesce(col("cn"), lit(Long.MaxValue)))
    cells.groupBy("cluster")
      .agg(max(coalesce(col("rn"), lit(0L))).as("n_rows"),
        max(coalesce(col("cn"), lit(0L))).as("n_sidecar"),
        sum(coalesce(col("rs"), lit(0L))).as("sum_rows"),
        min(col("cell_ok").cast("int")).cast("boolean").as("cells_ok"))
      .select(col("cluster").as("centroid_id"), col("n_rows"),
        col("n_sidecar"), col("sum_rows"),
        (col("n_rows") === col("n_sidecar")).as("count_ok"),
        col("cells_ok"))
      .orderBy("centroid_id")
  }

  /** Adopt a COMPLETED per-partition staging dir (`_SUCCESS` at its
    * root) left by a crashed [[deleteFromPartitioned]] / selective
    * rewrite: any `partitionCol=*` child whose LIVE partition dir is
    * absent was mid-swap when the writer died — the staged copy is the
    * write's full intent for that partition, so rename it in. A
    * partition whose live dir still exists is either untouched
    * (pre-swap) or already swapped (its staged dir was consumed by the
    * rename) — both safe to leave; a retry recomputes from live bytes.
    * `clean` additionally removes the staging root afterwards — TRUE
    * only from the (single) writer's own entry; read paths adopt but
    * never delete another writer's staging.
    */
  private[ext] def adoptPartitionStaged(
      fs: org.apache.hadoop.fs.FileSystem,
      basePath: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path,
      partitionCol: String, clean: Boolean): Unit = {
    if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
      fs.listStatus(staging).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(s"$partitionCol=")) {
          val live = new org.apache.hadoop.fs.Path(basePath, name)
          if (!fs.exists(live) && !fs.rename(st.getPath, live))
            throw new java.io.IOException(
              s"adoption rename ${st.getPath} -> $live failed")
        }
      }
    }
    if (clean) fs.delete(staging, true)
  }

  /** Read-side twin of the writer's entry adoption: before reading a
    * partitioned store table, adopt any completed `.delete-next`
    * staging a crashed partition swap left behind — so every reader
    * (probe, fsck, StatsRebuild) sees the swap's full intent instead
    * of a truncated table, and a StatsRebuild run mid-recovery can
    * never rebase the sidecars to rows that are about to reappear.
    * Never deletes the staging root (the single writer owns cleanup).
    */
  private[ext] def adoptDeleteStaged(spark: org.apache.spark.sql.SparkSession,
                                     base: String,
                                     partitionCol: String = "centroid_id"): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptPartitionStaged(fs, basePath, partitionStaging(basePath, "delete-next"),
      partitionCol, clean = false)
  }

  /** Rewrite the affected hive partitions of a vec_id-keyed,
    * centroid_id-partitioned store table, dropping the given ids:
    * survivors of ONLY the affected lists are staged under
    * `.NAME.delete-next` (one pruned columnar read of those
    * partitions, an anti-join on vec_id, no other partition touched),
    * then each affected partition dir is swapped live through a
    * PER-PARTITION rename-aside (live → `.old` inside the staging
    * root, staged → live, delete old) — at no instant is a
    * partition's only copy inside a dir nothing adopts. Entry adopts
    * any COMPLETED staging a previous crash left ([[adoptPartitionStaged]]:
    * absent-live partitions get their staged survivors renamed in
    * BEFORE the staging root is cleared), so the documented
    * StatsRebuild-then-retry recovery can never destroy survivor rows
    * (round-18 ADVICE — the old delete-live-then-rename protocol had
    * exactly that hazard). A partition whose members are ALL deleted
    * simply disappears (no staged dir to rename) — the hive layout
    * treats an absent list as empty.
    */
  private[ext] def deleteFromPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      base: String, lists: Seq[Int], idFrame: DataFrame,
      partitionCol: String = "centroid_id",
      keyCol: String = "vec_id"): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewritePartitions(spark, base, lists,
      spark.read.parquet(base)
        .filter(col(partitionCol).isin(lists.map(Integer.valueOf): _*))
        .join(idFrame, Seq(keyCol), "left_anti"),
      partitionCol)
  }

  /** Selectively rewrite the given hive partitions of a store table
    * with new content — [[deleteFromPartitioned]]'s protocol with the
    * staged frame supplied by the caller (the round-18 primitive behind
    * the BATCH-vocabulary-sized dfreq merge): `content` must carry
    * `partitionCol` and hold rows for ONLY the given partitions. It is
    * staged under `.NAME.delete-next` (Spark's `_SUCCESS` commits it),
    * then each listed partition swaps live through the per-partition
    * rename-aside; a listed partition with no staged rows simply
    * disappears. Partitions NOT listed are never read, staged, or
    * moved — their bytes are untouched, which is what makes a mutation
    * over this primitive cost O(affected partitions), not O(table).
    */
  private[ext] def rewritePartitions(
      spark: org.apache.spark.sql.SparkSession,
      base: String, parts: Seq[Int], content: DataFrame,
      partitionCol: String, cluster: Boolean = true): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = partitionStaging(basePath, "delete-next")
    adoptPartitionStaged(fs, basePath, staging, partitionCol, clean = true)
    // `cluster = false` for content that is already an aggregation
    // output (AQE sized those partitions to the data): the rebalance
    // would add an exchange+stage for no file-count gain. Scan-shaped
    // content (the delete path's pruned scan + anti-join) keeps it.
    (if (cluster) clusterForWrite(content, partitionCol) else content)
      .write.partitionBy(partitionCol).parquet(staging.toString)
    swapStagedPartitions(fs, basePath, staging, parts, partitionCol)
  }

  /** A sibling dir of store table `base` that a per-partition rewrite
    * stages under: `.NAME.delete-next`, which readers adopt from
    * ([[adoptDeleteStaged]]), or `.NAME.append-staging`, which nothing
    * adopts ([[stagePartitions]]).
    */
  private def partitionStaging(basePath: org.apache.hadoop.fs.Path,
                               kind: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(basePath.getParent,
      s".${basePath.getName}.$kind")

  /** [[rewritePartitions]] split at its publish point, for a writer
    * whose new partitions must not become adoptable before another
    * commit lands — the lexical append stages its sidecar merges while
    * its postings are still being written. This first half clears what
    * a crashed writer left (a completed `.NAME.delete-next` is adopted
    * first, as [[rewritePartitions]] does; a stale
    * `.NAME.append-staging` is dropped), then stages `content`
    * (aggregation-shaped, so not rebalanced) under
    * `.NAME.append-staging`. No reader or writer adopts that name, so a
    * crash before [[publishPartitions]] leaves the live table exactly
    * as it was.
    */
  private[ext] def stagePartitions(spark: org.apache.spark.sql.SparkSession,
                                   base: String, content: DataFrame,
                                   partitionCol: String): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptPartitionStaged(fs, basePath, partitionStaging(basePath, "delete-next"),
      partitionCol, clean = true)
    val staging = partitionStaging(basePath, "append-staging")
    fs.delete(staging, true)
    content.write.partitionBy(partitionCol).parquet(staging.toString)
  }

  /** The second half of [[stagePartitions]]: publish the staging as
    * `.NAME.delete-next` (one rename — from here on a reader adopts it,
    * as it adopts [[rewritePartitions]]' own staging) and swap the
    * listed partitions live.
    */
  private[ext] def publishPartitions(spark: org.apache.spark.sql.SparkSession,
                                     base: String, parts: Seq[Int],
                                     partitionCol: String): Unit = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, next) = (partitionStaging(basePath, "append-staging"),
      partitionStaging(basePath, "delete-next"))
    if (!fs.rename(staged, next))
      throw new java.io.IOException(s"publish rename $staged -> $next failed")
    swapStagedPartitions(fs, basePath, next, parts, partitionCol)
  }

  /** Swap each listed partition of a completed staging root live
    * through a per-partition rename-aside (live → `.old` inside the
    * staging root, staged → live, delete old); a listed partition with
    * no staged dir disappears. Then drop the staging root.
    */
  private def swapStagedPartitions(fs: org.apache.hadoop.fs.FileSystem,
                                   basePath: org.apache.hadoop.fs.Path,
                                   staging: org.apache.hadoop.fs.Path,
                                   parts: Seq[Int], partitionCol: String): Unit = {
    parts.foreach { c =>
      val live = new org.apache.hadoop.fs.Path(basePath, s"$partitionCol=$c")
      val next = new org.apache.hadoop.fs.Path(staging, s"$partitionCol=$c")
      if (fs.exists(next)) {
        val old = new org.apache.hadoop.fs.Path(staging, s".$partitionCol=$c.old")
        if (fs.exists(live) && !fs.rename(live, old))
          throw new java.io.IOException(s"swap aside $live -> $old failed")
        if (!fs.rename(next, live))
          throw new java.io.IOException(s"swap $next -> $live failed")
        fs.delete(old, true)
      } else fs.delete(live, true)
    }
    fs.delete(staging, true)
  }

  /** The two siblings of a store root `T` that a whole-store swap goes
    * through: the staged new store `.T.compact-staging` and the
    * rename-aside old one `.T.compact-old`. [[stageThenSwap]] and
    * [[graft.ext.Curation.storeSwapRecover]] both name them here.
    */
  private[ext] def swapSiblings(target: org.apache.hadoop.fs.Path)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) =
    (new org.apache.hadoop.fs.Path(target.getParent, s".${target.getName}.compact-staging"),
      new org.apache.hadoop.fs.Path(target.getParent, s".${target.getName}.compact-old"))

  /** ONE copy of the whole-store staged swap every compact/train uses
    * (extracted round-17 — it encodes the exact names and rename order
    * [[graft.ext.Curation.storeSwapRecover]]'s enumerated crash states
    * depend on, so a drifting duplicate would silently break recovery):
    * `stage` writes the new store's tables under the staging root; the
    * root `_SUCCESS` marker then commits it, and the double rename
    * (target → old, staging → target, rollback on failure) swaps it
    * live.
    *
    * SINGLE-READER CONTRACT (round 18, spec-pinned):
    * between the two renames there is an instant where NO live store
    * root exists. A crashed writer in that window self-heals
    * (`storeSwapRecover` enumerates exactly these states), but a
    * CONCURRENT reader racing the swap observes an absent store and
    * fails loud with the missing-table error — a spurious, retryable
    * failure, never a wrong answer (the reader cannot see a
    * half-swapped MIX: the store root moves as one rename). The flat
    * single-writer stores quiesce reads across compact/train, the same
    * contract a delete already imposes
    * (see [[graft.ext.TextOps.bm25IndexDelete]]). A reader that must
    * stay pinned across a rewrite reads a [[ManifestedTable]] snapshot
    * instead.
    */
  private[ext] def stageThenSwap(spark: org.apache.spark.sql.SparkSession,
                                 dir: String)(stage: String => Unit): Unit = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staging, old) = swapSiblings(target)
    fs.delete(staging, true)
    stage(staging.toString)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")).close()
    fs.delete(old, true)
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"rename $target -> $old failed")
    if (!fs.rename(staging, target)) {
      fs.rename(old, target)
      throw new java.io.IOException(s"rename $staging -> $target failed")
    }
    fs.delete(old, true)
  }

  /** DELETE vectors from the persisted index (`q_ivf_store_delete`) —
    * the lifecycle step real corpora force on every index (takedowns,
    * dedup retractions, privacy erasure), and the cheap DUAL of
    * [[ivfIndexStoreAppend]] under the additive-statistics design:
    * drop the ids' assignment rows (and their `pq_codes` rows when a
    * PQ sidecar exists), and SUBTRACT their cells from the
    * `lloyd_stats` sidecar — additivity works in both directions, so
    * init + appends + deletes + [[ivfIndexStoreUpdateCentroids]] still
    * equals the one-epoch Lloyd update of the SURVIVOR corpus under
    * the current centroids, exactly (the union-minus law,
    * hash-certified by `q_ivf_store_delete_upd`'s oracle).
    *
    * Scale shape: victims are located with one pruned columnar scan of
    * the index (NOT the corpus — the store is the only table read);
    * the rewrite touches ONLY the hive partitions that held a victim
    * (survivor rows of those lists rewritten once, other lists'
    * bytes never moved); the cell subtraction is the victims' own
    * O(victims × dim) aggregate merged driver-side. Centroids never
    * move on a delete, so BOTH sidecar kinds stay valid: raw and
    * residual PQ codes are per-vector facts against the FIXED centroid
    * table — survivors' codes are untouched, which is why delete (unlike
    * a centroid update) needs NO residual refusal.
    *
    * Ordering + crash honesty (single-writer store, like append):
    * `pq_codes` partitions swap FIRST, then `assignments`, then the
    * sidecar subtract — an ADC probe can never resurrect a deleted id
    * whose assignment row is already gone. A crash mid-delete leaves
    * the sidecar disagreeing with the rows (some or all victims
    * removed, their cells not yet subtracted) — exactly the append
    * window, DETECTED by [[ivfIndexStoreFsck]] / the update's
    * cross-check. The recovery protocol is: run
    * [[ivfIndexStoreStatsRebuild]] FIRST (it reconciles the sidecar to
    * whatever rows survived the crash), THEN retry the delete — the
    * retry finds exactly the victims still present and subtracts
    * exactly their cells. A bare retry without the rebuild would
    * subtract only the remaining victims' cells while the sidecar
    * still counts the already-removed ones — the fsck exists precisely
    * so that state is caught, never trusted. Streamed day partitions
    * are not covered: fold them in with a train/reseed/compact first
    * (the same moment they join the consolidated lists and the
    * sidecar) — refused loud.
    *
    * Returns one row per affected list: ids dropped and rows remaining.
    */
  def ivfIndexStoreDelete(spark: org.apache.spark.sql.SparkSession,
                          ids: DataFrame, dir: String): DataFrame = {
    import spark.implicits._
    if (Curation.storeSwapRecover(spark, dir) == "absent")
      throw new java.io.IOException(
        s"no IVF index store (live, old, or staged) at $dir")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayP = new org.apache.hadoop.fs.Path(s"$dir/day_assignments")
    if (fs.exists(dayP) &&
        fs.listStatus(dayP).exists(_.getPath.getName.startsWith("day=")))
      throw new IllegalStateException(
        s"store at $dir holds streamed day partitions the sidecar does " +
          "not cover — train/reseed first to fold them into the " +
          "consolidated lists, then delete")
    if (ivfTombstonesExist(spark, dir))
      throw new IllegalStateException(
        s"store at $dir holds pending tombstone days the sidecar does " +
          "not reflect — compact/train first to apply them, then delete")
    // sidecar read FIRST (fail-loud on a pre-sidecar layout before any
    // write, the append discipline) — also adopts a staged .next
    val statsBefore = ivfIndexStoreLloydStats(spark, dir)
    import graft.functions.Int8Unpack.int8_unpack
    val idFrame = ids.select(col("vec_id")).distinct().persist()
    try {
      val victims = ivfIndexStoreAssignments(spark, dir)
        .join(idFrame, Seq("vec_id")).persist()
      try {
        // the victims' additive cells (O(victims × dim), one pass over
        // the cached victim rows) and their per-list counts
        val victimCells = victims
          .select(col("centroid_id").as("cluster"),
            posexplode(int8_unpack(col("qb"))).as(Seq("pos", "v")))
          .groupBy("cluster", "pos")
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        val perList = victims.groupBy("centroid_id")
          .agg(count(lit(1)).as("n_deleted"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        if (perList.nonEmpty) {
          val affected = perList.map(_._1).toSeq
          if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_codes")))
            deleteFromPartitioned(spark, s"$dir/pq_codes", affected, idFrame)
          // the prefix sidecar's rows are per-vector facts like PQ's —
          // dropped from the affected (d, list) partitions BEFORE the
          // assignment swap, same resurrection-safety order
          ivfIndexStorePrefixDims(spark, dir).foreach { d =>
            deleteFromPartitioned(spark, s"$dir/prefix_codes/d=$d",
              affected, idFrame)
          }
          deleteFromPartitioned(spark, s"$dir/assignments", affected, idFrame)
          // subtract the victims' cells; a cell whose count reaches 0
          // leaves the sidecar entirely (an empty list has no cells —
          // the update carries its centroid), and additivity guarantees
          // its sum reached 0 with it
          val merged = lloydMergeStats(statsBefore,
            victimCells.map { case (k, (s0, n0)) => k -> (-s0, -n0) })
          val (emptied, kept) = merged.partition(_._2._2 == 0L)
          require(emptied.forall(_._2._1 == 0L),
            "additivity violation: a zero-count cell kept a nonzero sum")
          writeLloydStats(spark, dir, kept)
        }
        val remaining = ivfIndexStoreAssignments(spark, dir)
          .groupBy("centroid_id").agg(count(lit(1)).as("n_remaining"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        perList.toSeq.map { case (cid, nd) =>
          (cid, nd, remaining.getOrElse(cid, 0L))
        }.toDF("centroid_id", "n_deleted", "n_remaining")
          .orderBy("centroid_id")
      } finally victims.unpersist(blocking = false)
    } finally idFrame.unpersist(blocking = false)
  }

  /** Probe the PERSISTED index: rank the stored centroids per query,
    * collect the union of probed list ids (bounded: numQueries × nProbe
    * ints), and read only those hive partitions of the assignment
    * store — at a 100 TB corpus with nList lists, a probe touches
    * nProbe/nList of the index bytes and none of the rest. Ranking is
    * the same exact arithmetic as [[ivfIndexTopK]].
    */
  /** Optional `keep`: a (vec_id) frame of ADMISSIBLE neighbors — the
    * IN-FILTER strategy (candidates semi-joined before ranking, the
    * arm `q_ivf_store_probe_filtered` measured as strictly better at
    * equal bytes), threaded through so the filtered hybrid serves a
    * predicate-constrained semantic arm off the same pruned scan.
    */
  def ivfIndexStoreProbe(spark: org.apache.spark.sql.SparkSession,
                         queryVecs: DataFrame, dir: String,
                         k: Int = 5, nProbe: Int = 4,
                         keep: Option[DataFrame] = None): DataFrame =
    ivfStoreProbeUnsorted(spark, queryVecs, dir, k, nProbe, keep)
      .orderBy("query_id", "rnk")

  /** [[ivfIndexStoreProbe]] without its global sort: the same rows in
    * no particular order, for callers that fuse or re-rank them (the
    * store hybrids), which would otherwise pay a range-partitioning
    * sample job for an order they discard.
    */
  private[ext] def ivfStoreProbeUnsorted(spark: org.apache.spark.sql.SparkSession,
                                         queryVecs: DataFrame, dir: String,
                                         k: Int, nProbe: Int,
                                         keep: Option[DataFrame]): DataFrame =
    storeProbeWith(spark, queryVecs, dir, k, nProbe, keep,
      lists => ivfIndexStoreLiveAssignments(spark, dir)
        .filter(col("centroid_id").isin(lists.map(Integer.valueOf): _*)))

  /** The probe with its candidate source abstracted: `candidatesOf`
    * maps the collected probed-list ids to the live candidate rows of
    * exactly those lists — hive partition pruning for the flat store,
    * manifest-entry selection for [[ManifestedTable]]-backed stores.
    * ONE copy of the query-side quantization, centroid ranking, and
    * exact packed-byte rescore. Rows come back unsorted; the public
    * probes sort by (query_id, rnk).
    */
  private[ext] def storeProbeWith(spark: org.apache.spark.sql.SparkSession,
                                  queryVecs: DataFrame, dir: String,
                                  k: Int, nProbe: Int,
                                  keep: Option[DataFrame],
                                  candidatesOf: Seq[Int] => DataFrame): DataFrame = {
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDotBytes.int_dot_bytes
    val scored = seedScoreArray(collectSeedCentroids(
      spark.read.schema(CENTROID_PROBE_SCHEMA).parquet(liveCentroids(spark, dir))))
    // the probe ranks centroids off the int codes (qv — the scored
    // array's form) but dots candidates in the store's PACKED form
    val q0 = {
      import graft.functions.Int8Codes.int8_codes
      import graft.functions.IntDot.int_dot
      queryVecs
        .select(col("vec_id"), int8_codes(col("embedding")).as("qv"),
          int8_bytes(col("embedding")).as("qa"))
        .withColumn("qsq", int_dot(col("qv"), col("qv")))
        .filter(col("qsq") > 0)
        .select(col("vec_id").as("query_id"), col("qa"),
          col("qsq").as("sqa"),
          explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"))
        .select(col("query_id"), col("qa"), col("sqa"),
          listIdOf(col("p.nid")).as("cluster"))
    }
    // ONE evaluation of the query-side quantization + centroid ranking:
    // the probe frame is bounded (numQueries × nProbe rows), and the
    // partition-pruning list ids need a driver fetch anyway — so fetch
    // the whole frame and feed the join from a local relation instead
    // of recomputing the probe subtree on the join side. Collected as
    // Rows rebuilt under q0's own schema, so a caller whose vec_id is
    // a string (or any other type) keeps that type through the probe —
    // pinning `.as[(Long, ...)]` here would reject it at analysis.
    // NOTE: this makes the probe execute ONE bounded Spark job eagerly
    // at call time (the partition-pruning list ids cannot exist
    // without it); the candidate scan + ranking stay lazy.
    val probeRows = q0.collect()
    val clusterIdx = q0.schema.fieldIndex("cluster")
    val lists = probeRows.map(_.getInt(clusterIdx)).distinct
    val q = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), q0.schema)
    // candidates = batch lists ∪ streamed day partitions (empty-safe on
    // a batch-only index): what the index HOLDS is what a probe reads —
    // an index maintained by ivfIndexStreamDay answers from day files
    // until a reseed folds them into the consolidated lists
    val cands0 = candidatesOf(lists.toSeq)
      .select(col("vec_id").as("neighbor_id"), col("qb"),
        col("qsq").as("sqb"), col("centroid_id").as("cluster"))
    val cands = keep.fold(cands0)(ids => cands0.join(
      ids.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
      "left_semi"))
    val sims = cands.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", int_dot_bytes(col("qb"), col("qa")))
      .withColumn("sim",
        col("qdot") / sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("qdot"), round(col("sim"), 6).as("q_cosine"))
  }

  /** FILTERED ANN over the persisted index (`q_ivf_store_probe_filtered`)
    * — the most-requested production ANN feature: top-k among only the
    * vectors satisfying a metadata predicate (supplied as a
    * `(vec_id, keep)` label frame — the id-join shape metadata always
    * has). Both standard strategies, measured head-to-head off ONE
    * scored scan of the SAME partition-pruned candidate read:
    *
    *   - POST-FILTER: rank all probed candidates, take the unfiltered
    *     top-k, then filter — the cheap strategy; survivors can number
    *     fewer than k (the classic under-fill), and its recall loss is
    *     exactly what this instrument prices.
    *   - IN-FILTER: drop non-matching candidates BEFORE ranking, take
    *     top-k of the survivors — same bytes read (the filter applies
    *     after the pruned scan), never under-fills while matches exist.
    *
    * Post-filter survivors are by construction a SUBSET of the
    * in-filter top-k (both rank the same filtered probed population;
    * post keeps only those that also cracked the unfiltered top-k), so
    * `hits_post <= hits_in` ALWAYS — emitted as the TRUE-iff-held
    * `in_no_worse` witness. Recall is measured against the FILTERED
    * exact top-k (brute over the whole stored corpus joined to the
    * labels — the instrument's baseline, which a production probe
    * never computes). Everything is the deterministic int8 arithmetic,
    * so the whole A/B is hash-matched.
    */
  def ivfIndexStoreProbeFiltered(spark: org.apache.spark.sql.SparkSession,
                                 queryVecs: DataFrame, dir: String,
                                 labels: DataFrame, k: Int = 5,
                                 nProbe: Int = 4): DataFrame = {
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDotBytes.int_dot_bytes
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    val scored = seedScoreArray(
      collectSeedCentroids(ivfIndexStoreCentroids(spark, dir)))
    val q0 = queryVecs
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"),
        int8_bytes(col("embedding")).as("qa"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .filter(col("qsq") > 0)
      .select(col("vec_id").as("query_id"), col("qa"),
        col("qsq").as("sqa"),
        explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("qa"), col("sqa"),
        listIdOf(col("p.nid")).as("cluster"))
    val probeRows = q0.collect()
    val clusterIdx = q0.schema.fieldIndex("cluster")
    val lists = probeRows.map(_.getInt(clusterIdx)).distinct
    val q = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), q0.schema)
    // MISSING-LABEL SEMANTICS (round-18 ADVICE): a stored vector absent
    // from `labels` reads as keep = FALSE — excluded from both arms AND
    // from the exact baseline, by the left join + coalesce below. That
    // is the documented contract (un-labeled metadata means the
    // predicate cannot admit the row), not a silent artifact of an
    // inner join: a partially-covered label frame shrinks the candidate
    // universe identically on every side, so recall is measured against
    // the same filtered population the arms rank.
    val keepOf = labels.select(col("vec_id").as("neighbor_id"),
      col("keep"))
    // ONE pruned scan scored once; both strategies are windows over it
    val sims = ivfIndexStoreLiveAssignments(spark, dir)
      .filter(col("centroid_id").isin(lists.map(Integer.valueOf): _*))
      .select(col("vec_id").as("neighbor_id"), col("qb"),
        col("qsq").as("sqb"), col("centroid_id").as("cluster"))
      .join(keepOf, Seq("neighbor_id"), "left_outer")
      .withColumn("keep", coalesce(col("keep"), lit(false)))
      .join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", int_dot_bytes(col("qb"), col("qa")) /
        sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      .persist()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val post = sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k && col("keep"))
      .select("query_id", "neighbor_id")
    val in = sims.filter(col("keep"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id")
    // the filtered exact top-k: brute over the whole stored corpus —
    // the baseline the recall is measured against (instrument-only)
    val exact = {
      val all = ivfIndexStoreLiveAssignments(spark, dir)
        .select(col("vec_id").as("neighbor_id"), col("qb"),
          col("qsq").as("sqb"))
        .join(keepOf, Seq("neighbor_id"), "left_outer")
        .filter(coalesce(col("keep"), lit(false)))
        .crossJoin(broadcast(q.select("query_id", "qa", "sqa").distinct()))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", int_dot_bytes(col("qb"), col("qa")) /
          sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      all.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
    }
    def hitsOf(arm: DataFrame, name: String): DataFrame =
      exact.join(arm, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val out = q.select("query_id").distinct()
      .join(post.groupBy("query_id").agg(count(lit(1)).as("n_post")),
        Seq("query_id"), "left")
      .join(hitsOf(post, "hits_post"), Seq("query_id"), "left")
      .join(hitsOf(in, "hits_in"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits_post"), lit(0L)).as("hits_post"),
        coalesce(col("hits_in"), lit(0L)).as("hits_in"),
        round(coalesce(col("hits_post"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_post"),
        round(coalesce(col("hits_in"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_in"),
        (coalesce(col("hits_in"), lit(0L)) >=
          coalesce(col("hits_post"), lit(0L))).as("in_no_worse"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, sims)
  }

  /** One streamed DAY of inverted-file maintenance: the micro-batch is
    * assigned against the index's FIXED centroid table and written to
    * `indexDir/day_assignments/day=N` (then hive-partitioned by list
    * id, so probes prune across days and lists alike). Exactly-once is
    * one notch simpler here than in the dedup loops: an assignment is
    * a pure per-vector fact under fixed centroids — a day reads NO
    * store at all, so a foreachBatch replay overwrites its own
    * partition with bytes that cannot disagree with what they replace
    * (no `day < N` read discipline needed; spec-pinned).
    */
  def ivfIndexStreamDay(spark: org.apache.spark.sql.SparkSession,
                        vecsBatch: DataFrame, day: Long,
                        indexDir: String): Unit = {
    val b = vecsBatch.persist()
    try {
      if (!b.isEmpty) {
        clusterForWrite(ivfIndexAssign(b, ivfIndexStoreCentroids(spark, indexDir))
          .select((STORE_COLS :+ "centroid_id").map(col): _*), "centroid_id")
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(s"$indexDir/day_assignments/day=$day")
      }
    } finally b.unpersist(false)
  }

  /** All streamed day assignments (empty-safe on a cold index),
    * assignment columns only — unioned with
    * [[ivfIndexStoreAssignments]] this is the probe's candidate set
    * for an index maintained by [[ivfIndexStreamDay]].
    */
  def ivfIndexReadDayAssignments(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = Seq("vec_id", "qb", "qsq", "dig", "centroid_id", "centroid_sim")
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/day_assignments")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("day=")))
      spark.read.parquet(p.toString).select(cols.map(col): _*)
    else {
      val schema = new StructType()
        .add("vec_id", LongType)
        .add("qb", BinaryType)
        .add("qsq", LongType)
        .add("dig", StringType)
        .add("centroid_id", IntegerType)
        .add("centroid_sim", DoubleType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** TOMBSTONE a batch of ids in a store that holds streamed days
    * (round 18 — the delete path [[ivfIndexStoreDelete]] refuses):
    * writes `day_tombstones/day=N` as a pure function of the id batch
    * (distinct ids, overwrite-by-day — the exactly-once day cell
    * extended to DELETIONS, so a foreachBatch replay rewrites its own
    * partition with bytes that cannot disagree). Readers subtract it
    * at merge-on-read ([[ivfIndexStoreLiveAssignments]]); a compact /
    * train applies it physically (survivor rows staged, sidecars
    * re-derived from the staged bytes, tombstone days retired with the
    * old root) — so stream-ingest + tombstone + compact ≡ a build over
    * the survivors, hash-certified by `q_ivf_store_stream_del`.
    * Between the tombstone and the fold, the consolidated `lloyd_stats`
    * sidecar still counts tombstoned members — which is why
    * [[ivfIndexStoreUpdateCentroids]] and [[ivfIndexStoreDelete]]
    * refuse while tombstone days exist (fold first, same as unfolded
    * day partitions). Ordering contract (single-writer): a tombstoned
    * vec_id stays invisible until the next compact — re-ingesting it
    * BEFORE the fold is unsupported (the id-level anti-join hides the
    * new rows and the fold drops them); after the compact the id is
    * retired and may be ingested anew. Returns the batch's
    * distinct-id count.
    */
  def ivfIndexStoreTombstone(spark: org.apache.spark.sql.SparkSession,
                             ids: DataFrame, dir: String,
                             day: Long): Long = {
    val batch = ids.select(col("vec_id")).distinct().persist()
    try {
      val n = batch.count()
      if (n > 0)
        batch.write.mode("overwrite")
          .parquet(s"$dir/day_tombstones/day=$day")
      n
    } finally batch.unpersist(blocking = false)
  }

  /** All tombstoned ids (empty-safe): the subtraction side of the
    * store's merge-on-read view.
    */
  def ivfIndexReadTombstones(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/day_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("day=")))
      Some(spark.read.parquet(p.toString).select("vec_id").distinct())
    else None
  }

  /** The LIVE rows of the persisted index — what every probe, fold,
    * and rebuild serves: consolidated assignments ∪ streamed days,
    * minus tombstoned ids (merge-on-read; the anti-join disappears
    * when no tombstone day exists).
    */
  def ivfIndexStoreLiveAssignments(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): DataFrame = {
    val base = ivfIndexStoreAssignments(spark, dir)
      .unionByName(ivfIndexReadDayAssignments(spark, dir))
    ivfIndexReadTombstones(spark, dir)
      .fold(base)(ts => base.join(ts, Seq("vec_id"), "left_anti"))
  }

  private[ext] def ivfTombstonesExist(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean =
    ivfIndexReadTombstones(spark, dir).nonEmpty

  /** SOAR-style SPILLED assignment A/B (`q_ivf_spilled_recall`): assign
    * each vector to its top-`spill` centroids instead of one — the
    * redundancy trades index size (×spill) for recall at EQUAL probe
    * width, because a neighbor whose primary list the query missed can
    * still surface through its spill list. Per query, at the same
    * nProbe: candidate count and exact-top-k hit count for the
    * single-assignment index vs the spilled one, plus the containment
    * invariant (the spilled candidate set is a SUPERSET of the single
    * one — the primary assignment is rank 1 of the spill — so
    * `hits_spilled >= hits_single` always; what varies is how much the
    * extra candidates buy). Everything is the deterministic int8 seed
    * arithmetic, so the whole A/B is hash-matched — recall@k of an ANN
    * variant measured exactly, no sampling.
    */
  def ivfIndexSpilledRecall(embeddings: DataFrame, numQueries: Int = 10,
                            k: Int = 5, nList: Int = 16, nProbe: Int = 4,
                            spill: Int = 2): DataFrame = {
    import graft.functions.IntDot.int_dot
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val ranked = reverse(array_sort(seedScoreArray(
      seedPickFromCodes(codes, nList).map { case (cid, _, cv, csq) => (cid, cv, csq) })))
    val qcodes = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("qsq").as("sqa"))
    // probes computed over `codes` directly — `ranked` scores the
    // qv/qsq columns, which qcodes renames away
    val probes = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        explode(slice(ranked, 1, nProbe)).as("p"))
      .select(col("query_id"), listIdOf(col("p.nid")).as("cluster"))
    // candidate pair sets at spill widths 1 (single) and `spill`;
    // distinct because a pair can meet through several shared lists
    def candPairs(width: Int): DataFrame = codes
      .select(col("vec_id").as("neighbor_id"),
        explode(slice(ranked, 1, width)).as("p"))
      .select(col("neighbor_id"), listIdOf(col("p.nid")).as("cluster"))
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    // rank a candidate set by the exact integer-dot cosine, keep top k
    def topK(cands: DataFrame): DataFrame = {
      val sims = cands
        .join(qcodes, Seq("query_id"))
        .join(codes.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
          col("qsq").as("sqb")), Seq("neighbor_id"))
        .withColumn("sim", int_dot(col("qb"), col("qa")) /
          sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
    }
    // exact baseline: brute top-k over ALL non-degenerate codes
    val allPairs = codes.select(col("vec_id").as("neighbor_id"))
      .crossJoin(broadcast(qcodes.select("query_id")))
      .filter(col("neighbor_id") =!= col("query_id"))
    val exact = topK(allPairs)
    val single = candPairs(1)
    val spilled = candPairs(spill)
    def hitCount(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    def candCount(cands: DataFrame, name: String): DataFrame =
      cands.groupBy("query_id").agg(count(lit(1)).as(name))
    val out = qcodes.select("query_id")
      .join(candCount(single, "cand_single"), Seq("query_id"), "left")
      .join(candCount(spilled, "cand_spilled"), Seq("query_id"), "left")
      .join(hitCount(topK(single), "hits_single"), Seq("query_id"), "left")
      .join(hitCount(topK(spilled), "hits_spilled"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("cand_single"), lit(0L)).as("cand_single"),
        coalesce(col("cand_spilled"), lit(0L)).as("cand_spilled"),
        coalesce(col("hits_single"), lit(0L)).as("hits_single"),
        coalesce(col("hits_spilled"), lit(0L)).as("hits_spilled"),
        (coalesce(col("hits_spilled"), lit(0L)) >=
          coalesce(col("hits_single"), lit(0L))).as("spill_no_worse"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Dimension-truncation recall A/B (`q_dim_truncation_recall`) — the
    * Matryoshka question (Kusupati et al., NeurIPS 2022 train
    * embeddings so PREFIXES rank well; this instrument measures
    * whether a given corpus's prefixes already do): per query and per
    * prefix width d ∈ `dims`, the exact number of the FULL-dimension
    * int8 top-k recovered by ranking on the first d coordinates only.
    * A deployment that can rank on 16 of 64 dims reads 4× fewer index
    * bytes — but only if recall holds, and that is corpus-specific, so
    * it is measured, never assumed. All arms share ONE quantization
    * pass; prefix dots and norms are exact integers (a truncated-zero
    * vector scores 0 by definition on both engines), so the whole
    * calibration table hash-matches. The widest arm (d = dim) IS the
    * exact ranking — a built-in recall-1.0 sanity row per query.
    */
  def dimTruncationRecall(embeddings: DataFrame, numQueries: Int = 10,
                          k: Int = 5,
                          dims: Seq[Int] = Seq(16, 32, 64)): DataFrame = {
    import graft.functions.IntDot.int_dot
    val spark = embeddings.sparkSession
    import spark.implicits._
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val arms = dims.map { d =>
      val sliced = codes.select(col("vec_id"),
        slice(col("qv"), 1, d).as("qd"))
        .withColumn("sqd", int_dot(col("qd"), col("qd")))
      val q = sliced.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("qd").as("qa"),
          col("sqd").as("sqa"))
      val sims = sliced
        .select(col("vec_id").as("neighbor_id"), col("qd").as("qb"),
          col("sqd").as("sqb"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("sim",
          when(col("sqa") === 0 || col("sqb") === 0, lit(0.0))
            .otherwise(int_dot(col("qb"), col("qa")) /
              sqrt(col("sqa").cast("double") * col("sqb").cast("double"))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      val topd = sims.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
      exact.join(topd, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(lit(d).as("dims"), col("query_id"), col("hits"))
    }
    val grid = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .crossJoin(dims.toDF("dims"))
    val out = grid
      .join(arms.reduce(_.unionByName(_)), Seq("dims", "query_id"), "left")
      .select(col("dims"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall"))
      .orderBy("dims", "query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** The Matryoshka calibration CASHED IN (`q_truncated_rerank`) — the
    * dimension-truncated TWO-STAGE probe the round-16 instrument
    * exists to gate: shortlist each query's top-`r` candidates by the
    * WIDTH-`d` PREFIX ranking (a deployment stores the prefix as its
    * own column family and reads d/dim of the ranking bytes), then
    * rerank ONLY the shortlist by the exact full-dim cosine and keep
    * the top-`k`. Per (d, r) grid cell and query: hits against the
    * exact full-dim top-k — the recall the byte saving costs, measured
    * exactly (the `q_ivfpq_rerank` pattern with the prefix as the
    * coarse scorer).
    *
    * Grid-off-one-pass discipline (the `q_ivfpq_tradeoff` rule): ONE
    * pairs frame carries the full-dim sim and EVERY prefix sim
    * (prefix norms precomputed per vector, one slice-dot per width);
    * each grid cell is two bounded windows over that cached frame —
    * the corpus is never re-scanned per cell. The d = dim arm at any
    * r ≥ k is the built-in recall-1.0 sanity row. The calibration
    * (`q_dim_truncation_recall[_clustered]`) predicts the outcome:
    * isotropic prefixes carry ~nothing, so reranking a near-random
    * shortlist stays low; planted-cluster prefixes carry the
    * structure, so a small exact rerank recovers most of what pure
    * prefix ranking loses.
    */
  def truncatedRerank(embeddings: DataFrame, numQueries: Int = 10,
                      k: Int = 5, dims: Seq[Int] = Seq(16, 32, 64),
                      reranks: Seq[Int] = Seq(10, 20)): DataFrame = {
    import graft.functions.IntDot.int_dot
    val spark = embeddings.sparkSession
    import spark.implicits._
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0)
      .select(Seq(col("vec_id"), col("qv"), col("qsq")) ++
        dims.map(d => int_dot(slice(col("qv"), 1, d), slice(col("qv"), 1, d))
          .as(s"sq$d")): _*)
    val q = codes.filter(col("vec_id") < numQueries)
      .select(Seq(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("qsq").as("sqa")) ++
        dims.map(d => col(s"sq$d").as(s"sqa$d")): _*)
    val pairs = codes
      .select(Seq(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("qsq").as("sqb")) ++
        dims.map(d => col(s"sq$d").as(s"sqb$d")): _*)
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim_full", int_dot(col("qb"), col("qa")) /
        sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val withPrefix = dims.foldLeft(pairs) { (df, d) =>
      df.withColumn(s"sim_$d",
        when(col(s"sqa$d") === 0 || col(s"sqb$d") === 0, lit(0.0))
          .otherwise(int_dot(slice(col("qb"), 1, d), slice(col("qa"), 1, d)) /
            sqrt(col(s"sqa$d").cast("double") * col(s"sqb$d").cast("double"))))
    }.select(Seq(col("query_id"), col("neighbor_id"), col("sim_full")) ++
      dims.map(d => col(s"sim_$d")): _*)
      .persist()
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_full").desc, col("neighbor_id"))
    val exact = withPrefix.withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k).select("query_id", "neighbor_id")
    val cells = for (d <- dims; r <- reranks) yield {
      val wd = Window.partitionBy(col("query_id"))
        .orderBy(col(s"sim_$d").desc, col("neighbor_id"))
      val short = withPrefix.withColumn("srnk", row_number().over(wd))
        .filter(col("srnk") <= r)
      val reranked = short.withColumn("rrnk", row_number().over(wf))
        .filter(col("rrnk") <= k).select("query_id", "neighbor_id")
      exact.join(reranked, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .select(lit(d).as("dims"), lit(r).as("rerank"), col("query_id"),
          col("hits"))
    }
    val grid = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .crossJoin(dims.toDF("dims"))
      .crossJoin(reranks.toDF("rerank"))
    val out = grid
      .join(cells.reduce(_.unionByName(_)),
        Seq("dims", "rerank", "query_id"), "left")
      .select(col("dims"), col("rerank"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall"))
      .orderBy("dims", "rerank", "query_id")
    Dedup.scopeCaches(out, withPrefix)
  }

  // ------------------------------------------------------------------
  // Lloyd-refined centroids: distributed k-means in the exact int8 regime
  // ------------------------------------------------------------------

  /** One distributed Lloyd update over the int8 code space: assign
    * every code to its nearest current centroid (one corpus scan
    * through the constant-size [[seedScoreArray]] codegen argmax), then
    * recompute each centroid as the per-dimension HALF-UP integer mean
    * of its members — `floorDiv(2·sum + n, 2·n)` = `floor(mean + ½)`,
    * EXACT integer arithmetic with no float accumulation order
    * anywhere, so the refined centroids are engine-independent and the
    * whole training loop stays under the hash-match oracle. This
    * extends to Lloyd training the property [[ivfSeedCentroids]] bought
    * for random-init; the float [[ivfCentroids]] path trains on a
    * driver-local `trainSample` cap, while this one trains on the FULL
    * corpus distributed.
    *
    * Scale shape per iteration: the `posexplode` blows each code into
    * `dim` tiny int rows, but the hash-aggregate's map-side combine
    * collapses them before the exchange — shuffle volume is
    * nPartitions × nList × dim cells regardless of corpus size, and the
    * driver fetch is the bounded nList × dim centroid matrix (the
    * [[ivfCentroids]] k×dim adjudication). Empty clusters, and clusters
    * whose rounded mean is the zero vector (csq = 0 would NaN every
    * cosine), keep their previous centroid — deterministic in both
    * engines. The rounded mean of int8 codes stays in [-127, 127]
    * (a convex combination rounds within the hull), so the byte pack
    * stays lossless.
    */
  private[ext] def lloydUpdate(codes: DataFrame,
                          current: Array[(Int, Seq[Int], Long)])
      : Array[(Int, Seq[Int], Long)] =
    lloydCentroidsFromStats(current, lloydStats(codes, current))

  /** The sufficient statistics of one Lloyd update under FIXED
    * centroids: per (cluster, position) the exact integer member sum
    * and count. Additive across any partition of the corpus — which is
    * what makes the O(batch) incremental update below EXACT, not
    * approximate. Bounded driver fetch: nList × dim cells.
    */
  private[ext] def lloydStats(codes: DataFrame,
                              current: Array[(Int, Seq[Int], Long)])
      : Map[(Int, Int), (Long, Long)] = {
    codes
      .withColumn("best", array_max(seedScoreArray(current)))
      .select(listIdOf(col("best.nid")).as("cluster"),
        posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** Merge additive Lloyd statistics (the incremental-ingest cell). */
  private[ext] def lloydMergeStats(a: Map[(Int, Int), (Long, Long)],
                                   b: Map[(Int, Int), (Long, Long)])
      : Map[(Int, Int), (Long, Long)] =
    (a.keySet ++ b.keySet).iterator.map { k =>
      val (sa, na) = a.getOrElse(k, (0L, 0L))
      val (sb, nb) = b.getOrElse(k, (0L, 0L))
      k -> (sa + sb, na + nb)
    }.toMap

  /** Rounded-integer centroids off the statistics: half-up mean per
    * cell, previous centroid carried for empty or zero-mean clusters.
    */
  private[ext] def lloydCentroidsFromStats(
      current: Array[(Int, Seq[Int], Long)],
      stats: Map[(Int, Int), (Long, Long)]): Array[(Int, Seq[Int], Long)] = {
    current.map { case (cid, oldCv, oldCsq) =>
      if (!stats.contains((cid, 0))) (cid, oldCv, oldCsq) // empty list
      else {
        val cv = Array.tabulate(oldCv.length) { pos =>
          val (s, n) = stats((cid, pos))
          Math.floorDiv(2L * s + n, 2L * n).toInt
        }
        val csq = cv.map(x => x.toLong * x).sum
        if (csq == 0L) (cid, oldCv, oldCsq) else (cid, cv.toSeq, csq)
      }
    }
  }

  /** Centroid epochs 0..`iters`: epoch 0 is the md5 seed draw
    * ([[seedPickFromCodes]]), each later epoch one [[lloydUpdate]] under
    * the previous epoch's centroids.
    */
  private[ext] def lloydEpochs(codes: DataFrame, nList: Int, iters: Int)
      : IndexedSeq[Array[(Int, Seq[Int], Long)]] = {
    val seeds = seedPickFromCodes(codes, nList)
      .map { case (cid, _, cv, csq) => (cid, cv, csq) }
    (1 to iters).scanLeft(seeds)((cur, _) => lloydUpdate(codes, cur))
  }

  /** Training audit (`q_kmeans_refine`): per (epoch, centroid) — list
    * size, how many members MOVED in from a different epoch-(t−1) list
    * (the integer convergence signal Lloyd dashboards watch), the exact
    * centroid coordinate sum and squared norm, and the min/max member
    * similarity (each sim rounded BEFORE min/max — order-independent,
    * unlike a float mean). After the `iters` bounded training actions,
    * ONE final corpus pass scores every epoch side by side: each
    * epoch's centroids are a fixed literal matrix, so the pass is
    * iters+1 constant-size codegen argmaxes, not iters+1 scans.
    * NOT pinned as a theorem anywhere: neither n_moved nor min_sim is
    * monotone in the epoch under rounded-integer updates — the audit
    * measures convergence, it does not assume it.
    */
  def kmeansRefineSummary(embeddings: DataFrame, nList: Int = 16,
                          iters: Int = 2): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val epochs = lloydEpochs(codes, nList, iters)
    val withBest = codes.select(
      (0 to iters).map(t => array_max(seedScoreArray(epochs(t))).as(s"b$t")): _*)
    val epochStructs = array((0 to iters).map { t =>
      val prev = col(s"b${math.max(t - 1, 0)}.nid")
      struct(lit(t).as("epoch"),
        listIdOf(col(s"b$t.nid")).as("centroid_id"),
        round(col(s"b$t.sim"), 6).as("sim"),
        (col(s"b$t.nid") =!= prev).as("moved"))
    }: _*)
    // exact per-epoch centroid metadata as a literal lookup (epoch*nList
    // + cid keys — both ints by construction)
    val meta = typedlit(epochs.zipWithIndex.flatMap { case (e, t) =>
      e.map { case (cid, cv, csq) => (t * nList + cid, (cv.map(_.toLong).sum, csq)) }
    }.toMap)
    val out = withBest.select(explode(epochStructs).as("e"))
      .select(col("e.epoch").as("epoch"), col("e.centroid_id").as("centroid_id"),
        col("e.sim").as("sim"), col("e.moved").as("moved"))
      .groupBy("epoch", "centroid_id")
      .agg(count(lit(1)).as("list_size"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"),
        min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
      .withColumn("m", element_at(meta,
        (col("epoch") * nList + col("centroid_id")).cast("int")))
      .select(col("epoch"), col("centroid_id"), col("list_size"),
        col("n_moved"), col("m._1").as("cv_sum"), col("m._2").as("csq"),
        col("min_sim"), col("max_sim"))
      .orderBy("epoch", "centroid_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Incremental centroid maintenance (`q_kmeans_update_inc`): the
    * day-ingest cell of the training lifecycle. At train time the
    * index retains its [[lloydStats]] (nList × dim exact integer sums
    * and counts — additive sufficient statistics); when a batch
    * arrives, ONE O(batch × nList) scan of the batch produces its own
    * stats, the two merge by addition, and the rounded means are
    * recomputed — with NO rescan of the stored corpus and NO
    * approximation: a one-epoch update from merged statistics is
    * EXACTLY the one-epoch update over the union corpus (integer sums
    * are sufficient statistics; spec-pinned, and the DuckDB oracle
    * certifies it cross-engine by computing the UNION update while the
    * Spark side computes the split-merge). Multi-epoch retraining
    * still needs the full scans — this is the cheap cell between
    * retrains, the [[ivfIndexAssign]] O(batch) discipline applied to
    * centroid maintenance itself.
    */
  def kmeansUpdateIncSummary(embeddings: DataFrame,
                             nList: Int = 16): DataFrame = {
    import embeddings.sparkSession.implicits._
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0)
    val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
    val stored = codes.filter(storedSide).persist()
    val batch = codes.filter(!storedSide)
    val seeds = seedPickFromCodes(stored, nList)
      .map { case (cid, _, cv, csq) => (cid, cv, csq) }
    val statsStored = lloydStats(stored, seeds)
    val statsBatch = lloydStats(batch, seeds)
    val merged = lloydCentroidsFromStats(seeds,
      lloydMergeStats(statsStored, statsBatch))
    val rows = merged.map { case (cid, cv, csq) =>
      (cid,
        statsStored.get((cid, 0)).map(_._2).getOrElse(0L),
        statsBatch.get((cid, 0)).map(_._2).getOrElse(0L),
        cv.map(_.toLong).sum, csq)
    }.toSeq
    stored.unpersist(blocking = false)
    rows.toDF("centroid_id", "n_stored", "n_batch", "cv_sum", "csq")
      .orderBy("centroid_id")
  }

  /** Trained-vs-seed recall A/B (`q_ivf_trained_recall`): at EQUAL
    * probe width and EQUAL index bytes, candidate count and
    * exact-top-k hit count for the epoch-0 seed index vs the
    * Lloyd-refined epoch-`iters` one — the measured answer to "does
    * training the coarse quantizer pay?", per query, in exact integers
    * (the [[ivfIndexSpilledRecall]] discipline applied to the training
    * axis). No invariant column on purpose: unlike spill-containment
    * there is NO theorem here — rounded-integer Lloyd can lose recall
    * on a given corpus, which is exactly why it must be measured.
    */
  def ivfTrainedRecall(embeddings: DataFrame, numQueries: Int = 10,
                       k: Int = 5, nList: Int = 16, nProbe: Int = 2,
                       iters: Int = 2): DataFrame = {
    import graft.functions.IntDot.int_dot
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val epochs = lloydEpochs(codes, nList, iters)
    val qcodes = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("qsq").as("sqa"))
    // candidate pairs of the single-assignment index built on `cents`;
    // a vector lives in exactly one list and a query's probe lists are
    // distinct, so pairs are distinct without a shuffle
    def candPairs(cents: Array[(Int, Seq[Int], Long)]): DataFrame = {
      val ranked = reverse(array_sort(seedScoreArray(cents)))
      val probes = codes.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"),
          explode(slice(ranked, 1, nProbe)).as("p"))
        .select(col("query_id"), listIdOf(col("p.nid")).as("cluster"))
      codes
        .select(col("vec_id").as("neighbor_id"),
          listIdOf(array_max(seedScoreArray(cents)).getField("nid"))
            .as("cluster"))
        .join(broadcast(probes), Seq("cluster"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
    }
    def topK(cands: DataFrame): DataFrame = {
      val sims = cands
        .join(qcodes, Seq("query_id"))
        .join(codes.select(col("vec_id").as("neighbor_id"),
          col("qv").as("qb"), col("qsq").as("sqb")), Seq("neighbor_id"))
        .withColumn("sim", int_dot(col("qb"), col("qa")) /
          sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
    }
    val allPairs = codes.select(col("vec_id").as("neighbor_id"))
      .crossJoin(broadcast(qcodes.select("query_id")))
      .filter(col("neighbor_id") =!= col("query_id"))
    val exact = topK(allPairs)
    val seedCands = candPairs(epochs.head)
    val trainedCands = candPairs(epochs.last)
    def hitCount(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    def candCount(cands: DataFrame, name: String): DataFrame =
      cands.groupBy("query_id").agg(count(lit(1)).as(name))
    val out = qcodes.select("query_id")
      .join(candCount(seedCands, "cand_seed"), Seq("query_id"), "left")
      .join(candCount(trainedCands, "cand_trained"), Seq("query_id"), "left")
      .join(hitCount(topK(seedCands), "hits_seed"), Seq("query_id"), "left")
      .join(hitCount(topK(trainedCands), "hits_trained"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("cand_seed"), lit(0L)).as("cand_seed"),
        coalesce(col("cand_trained"), lit(0L)).as("cand_trained"),
        coalesce(col("hits_seed"), lit(0L)).as("hits_seed"),
        coalesce(col("hits_trained"), lit(0L)).as("hits_trained"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Occupancy audit of a PERSISTED index (`q_ivf_store_occupancy`):
    * one row per inverted list — its seed, member count, distinct-code
    * count, and corpus share. The operational dashboard for the
    * append-only store's one failure mode: centroids are fixed at init,
    * so a drifted ingest skews list occupancy and probe cost follows
    * the heaviest probed list. Reads BOTH the batch lists and any
    * streamed day partitions (what a probe reads is what the audit
    * counts). ONE corpus scan: the per-list aggregate is ≤ nList rows
    * by construction, so the share denominator folds on the driver —
    * the [[graft.ext.DataPrep.qualityRetentionCurve]] shape, not a
    * second scan or a partition-less window. Exact integer counts ⇒
    * hash-matched.
    */
  def ivfIndexStoreOccupancy(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame =
    occupancySummary(spark, dir, ivfIndexStoreLiveAssignments(spark, dir))

  /** The occupancy aggregate over an explicit live-rows frame — ONE
    * copy shared by the flat store and the manifested
    * incremental store ([[ManifestedTable]]), whose live view resolves
    * differently but whose centroids table and occupancy law are
    * identical.
    */
  private[ext] def occupancySummary(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, live: DataFrame): DataFrame = {
    import spark.implicits._
    val seedById = ivfIndexStoreCentroids(spark, dir)
      .select("centroid_id", "seed_vec_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val per = live
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("dig")).as("nc"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = per.map(_._2).sum
    per.map { case (cid, n, nc) =>
      (cid, seedById(cid), n, nc,
        BigDecimal(n.toDouble / total).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
      .toDF("centroid_id", "seed_vec_id", "list_size", "n_codes", "share")
      .orderBy("centroid_id")
  }

  /** COMPACT the persisted index (round 17): fold streamed day
    * partitions into the consolidated inverted lists and rewrite the
    * small files appends accumulate — WITHOUT touching a single
    * assignment fact. Until now the only day-fold was a reseed/train
    * (which re-partitions everything); this is the cheap between-
    * retrains fold: centroids are copied verbatim, every assignment
    * row keeps its list (a day row was assigned under the same fixed
    * centroid table), the statistics sidecar is re-derived from the
    * staged bytes (one columnar scan — and day rows ENTER the sidecar
    * here, the same moment they enter the consolidated lists, exactly
    * as the sidecar's contract promises), and any PQ artifacts are
    * copied verbatim (their rows and partitioning are assignment
    * facts, which this op never changes). The swap is
    * [[graft.ext.Curation.storeSwapRecover]]'s staging protocol
    * verbatim, so a crash at any point self-heals. Invariance is
    * hash-certified: post-compact occupancy ≡ the union assignment
    * under the stored-side seeds (`q_ivf_store_compact` shares
    * `q_ivf_store_occupancy`'s oracle).
    */
  def ivfIndexStoreCompact(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    if (Curation.storeSwapRecover(spark, dir) == "absent")
      throw new java.io.IOException(
        s"no IVF index store (live, old, or staged) at $dir")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageThenSwap(spark, dir) { staging =>
      // ONE persisted pass over the live view feeds every staged
      // artifact (rows, sidecar cells, prefix truncations — no staged-
      // byte read-backs), and the independent staged writes run as
      // CONCURRENT jobs (guide §1.2, §2.6 — the train/init posture)
      val rows = ivfIndexStoreLiveAssignments(spark, dir)
        .select((STORE_COLS :+ "centroid_id").map(col): _*).persist()
      try {
        val writeCentroids = () => ivfIndexStoreCentroids(spark, dir)
          .write.parquet(s"$staging/centroids")
        val writeAssignments = () => clusterForWrite(rows, "centroid_id")
          .write.partitionBy("centroid_id").parquet(s"$staging/assignments")
        // the sidecar re-bases off the folded view: day rows join it at
        // the same moment they join the consolidated lists
        val writeStats = () => writeLloydStats(spark, staging,
          collectAssignmentStats(rows))
        // PQ artifacts are assignment-keyed facts — copied verbatim
        val pqThunk: Option[() => Unit] =
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_codebook")))
            None
          else Some { () =>
            spark.read.parquet(s"$dir/pq_codebook")
              .write.parquet(s"$staging/pq_codebook")
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_codes"))) {
              adoptDeleteStaged(spark, s"$dir/pq_codes")
              // verbatim copy MINUS tombstoned ids — the fold is the
              // moment tombstones apply physically, and every sidecar
              // applies them
              val pq = spark.read.parquet(s"$dir/pq_codes")
              clusterForWrite(ivfIndexReadTombstones(spark, dir)
                .fold(pq)(ts => pq.join(ts, Seq("vec_id"), "left_anti")),
                "centroid_id")
                .write.partitionBy("centroid_id")
                .parquet(s"$staging/pq_codes")
            }
          }
        // prefix sidecar: per-vector byte truncations of assignment
        // facts — but built over the VIEW (consolidated ∪ days), so the
        // fold re-derives it off the persisted view frame (cheap
        // substring pass) rather than copying a consolidated-only
        // artifact verbatim
        val pdims = ivfIndexStorePrefixDims(spark, dir)
        val prefixThunk: Option[() => Unit] =
          if (pdims.isEmpty) None
          else Some { () =>
            clusterForWrite(prefixRowsOf(rows
              .select("vec_id", "qb", "centroid_id"), pdims),
              "d", "centroid_id")
              .write.partitionBy("d", "centroid_id")
              .parquet(s"$staging/prefix_codes")
          }
        Jobs.concurrently(
          Seq(writeCentroids, writeAssignments, writeStats) ++
            pqThunk ++ prefixThunk)
      } finally rows.unpersist(blocking = false)
    }
    ivfIndexStoreOccupancy(spark, dir)
  }

  /** Re-seed + re-assign the PERSISTED index in place — the lifecycle
    * step the append-only store eventually needs: after enough drifted
    * ingest, fresh seeds are drawn from the CURRENT corpus (the same
    * md5-ordered deterministic pick as [[ivfSeedCentroids]], off the
    * stored codes — the float embeddings are never re-read; the int
    * form is recovered from store bytes by `int8_unpack`), every stored
    * vector is re-assigned, and the new centroids + inverted lists
    * replace the old through the compaction swap's rename-aside
    * discipline ([[graft.ext.Curation.storeSwapRecover]] is called
    * first, and its staging/old naming + `_SUCCESS` completeness marker
    * are reused verbatim, so a crash at ANY point self-heals on the
    * next reseed or recover call). Streamed day partitions are folded
    * into the consolidated lists (a reseed is also a day-compaction);
    * the swap retires them with the old root.
    *
    * Re-seeding a store whose content equals a fresh corpus yields
    * byte-identical centroids and assignments to [[ivfIndexStoreInit]]
    * on that corpus, and a second reseed is a no-op relabeling — both
    * spec-pinned. Cost: two scans of the packed store (seed pick,
    * re-assign) + one partitioned write; O(corpus × nList) integer
    * dots, the same cell as a full build, amortized over however many
    * drifted days made it necessary.
    */
  def ivfIndexStoreReseed(spark: org.apache.spark.sql.SparkSession,
                          dir: String, nList: Int = 16): DataFrame =
    // a reseed IS a zero-epoch train: fresh seeds, full re-assignment,
    // same staged swap — one copy of the crash-recovery protocol
    // instead of two that could drift (ADVICE round-15)
    ivfIndexStoreTrain(spark, dir, nList, iters = 0)

  /** TRAIN the persisted index in place — the deploy step of the
    * round-15 trained-quantizer tier, completing the lifecycle the
    * recall A/B justified (training lifted clustered-corpus recall to
    * the ceiling at equal probe width): fresh seeds are drawn from the
    * CURRENT stored codes exactly as [[ivfIndexStoreReseed]] does, then
    * `iters` integer [[lloydUpdate]] epochs refine them, every stored
    * vector is re-assigned under the trained centroids, and the new
    * store replaces the old through the same rename-aside swap (crash
    * at any point self-heals via [[graft.ext.Curation.storeSwapRecover]]).
    * Each trained centroid keeps its epoch-0 ancestor's `seed_vec_id`
    * as lineage, so the store schema — and every existing reader — is
    * unchanged. With `iters = 0` this IS the reseed (byte-identical
    * store, spec-pinned); the embeddings are never re-read (int codes
    * recovered from store bytes), and cost is reseed + iters scans of
    * the packed store. Returns the post-train occupancy — the balance
    * dashboard trained centroids exist to improve.
    */
  def ivfIndexStoreTrain(spark: org.apache.spark.sql.SparkSession,
                         dir: String, nList: Int = 16,
                         iters: Int = 2): DataFrame = {
    import graft.functions.Int8Unpack.int8_unpack
    import graft.functions.PqCodes.pq_encode
    if (Curation.storeSwapRecover(spark, dir) == "absent")
      throw new java.io.IOException(
        s"no IVF index store (live, old, or staged) at $dir")
    val codes = ivfIndexStoreLiveAssignments(spark, dir)
      .select(col("vec_id"), int8_unpack(col("qb")).as("qv"), col("qb"),
        col("qsq"), col("dig"))
      .persist()
    val seeds0 = seedPickFromCodes(codes, nList)
    val trained = (1 to iters).scanLeft(
      seeds0.map { case (cid, _, cv, csq) => (cid, cv, csq) })(
      (cur, _) => lloydUpdate(codes, cur)).last
    // lineage: trained centroid i descends from seed i
    val picked = trained.zip(seeds0).map {
      case ((cid, cv, csq), (_, vid, _, _)) => (cid, vid, cv, csq)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageThenSwap(spark, dir) { staging =>
      // every staged write reads the still-live target or the PERSISTED
      // trained-assignment frame, and finishes before any rename — no
      // lineage reaches the swapped paths afterwards. The frame is
      // persisted ONCE and every derived artifact (assignment rows,
      // sidecar cells, PQ re-encode, prefix truncations) comes from it
      // in memory: the old shape wrote assignments and then re-read the
      // staged bytes three separate times — three extra scan jobs per
      // train (guide §1.2 don't compute twice). The independent staged
      // writes then run as CONCURRENT jobs (guide §2.6), so their
      // per-job fixed costs overlap instead of adding up.
      val assigned = assignCodes(codes, trained).persist()
      try {
        val writeCentroids = () =>
          seedsToDf(spark, picked).write.parquet(s"$staging/centroids")
        val writeAssignments = () => clusterForWrite(assigned
          .select((STORE_COLS :+ "centroid_id").map(col): _*), "centroid_id")
          .write.partitionBy("centroid_id").parquet(s"$staging/assignments")
        // the statistics sidecar, under the NEW centroids/lists:
        // aggregated off the persisted frame (no extra argmax) — train
        // is the moment the sidecar re-bases, day partitions fold in here
        val writeStats = () => writeLloydStats(spark, staging,
          collectAssignmentStats(assigned))
        // PQ-sidecar REBUILD-IN-SWAP (round-16 lifecycle pin): if the
        // live store carries a PQ sidecar, the trained store keeps it
        // usable — the codebook is copied VERBATIM (its md5 draw reads
        // vec_ids, which training never changes, and a pinned codebook
        // keeps every already-issued code byte valid), and pq_codes are
        // re-encoded off the trained assignment frame so they land
        // partitioned by the NEW list ids. Per-vector (pcodes, rsq) are
        // unchanged by construction (same codebook, same codes —
        // spec-pinned); only the hive partitioning moves. Without this,
        // the swap silently dropped the sidecar and the next ADC probe
        // failed on a missing path.
        val pqThunk: Option[() => Unit] =
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_codebook")))
            None
          else Some { () =>
            val (matrix, nSub, layout, residual) =
              ivfIndexStorePqCodebook(spark, dir)
            spark.read.parquet(s"$dir/pq_codebook")
              .write.parquet(s"$staging/pq_codebook")
            val back = assigned.select(col("vec_id"), col("qv"),
              col("centroid_id"))
            val rebuilt =
              if (!residual)
                back.select(col("vec_id"),
                  pq_encode(applyLayout(col("qv"), layout), matrix, nSub)
                    .as("pq"),
                  col("centroid_id"))
                  .select(col("vec_id"), col("pq.codes").as("pcodes"),
                    col("pq.rsq").as("rsq"), col("centroid_id"))
              else {
                // residual sidecar: residuals are RE-TAKEN under the
                // TRAINED centroids (they changed — a residual is not a
                // per-vector fact across a retrain, unlike raw codes)
                // while the stored codebook stays verbatim (any pinned
                // integer matrix is a valid codebook; its entries just
                // stop being self-residuals)
                import graft.functions.PqCodes.{pq_recon, int_vec_add,
                  int_vec_sub}
                import graft.functions.IntDot.int_dot
                val nBook = matrix.length / trained.head._2.length
                val centDf = {
                  import spark.implicits._
                  trained.toSeq.map { case (cid, cv, _) => (cid, cv) }
                    .toDF("centroid_id", "cv")
                }
                back.join(broadcast(centDf), Seq("centroid_id"))
                  .select(col("vec_id"), col("centroid_id"),
                    applyLayout(int_vec_sub(col("qv"), col("cv")), layout)
                      .as("rv"),
                    applyLayout(col("cv"), layout).as("cvl"))
                  .withColumn("pq", pq_encode(col("rv"), matrix, nSub))
                  .withColumn("wv", int_vec_add(col("cvl"),
                    pq_recon(col("pq.codes"), matrix, nBook)))
                  .select(col("vec_id"), col("pq.codes").as("pcodes"),
                    int_dot(col("wv"), col("wv")).as("rsq"),
                    col("centroid_id"))
              }
            clusterForWrite(rebuilt, "centroid_id")
              .write.partitionBy("centroid_id").parquet(s"$staging/pq_codes")
          }
        // prefix-sidecar rebuild-in-swap (the PQ rule): prefixes are
        // pure byte truncations of per-vector codes — values unchanged
        // by a retrain; only the hive partitioning moves to the new
        // list ids, so they re-derive off the trained frame in one
        // substring pass
        val pdims = ivfIndexStorePrefixDims(spark, dir)
        val prefixThunk: Option[() => Unit] =
          if (pdims.isEmpty) None
          else Some { () =>
            clusterForWrite(prefixRowsOf(assigned
              .select("vec_id", "qb", "centroid_id"), pdims),
              "d", "centroid_id")
              .write.partitionBy("d", "centroid_id")
              .parquet(s"$staging/prefix_codes")
          }
        Jobs.concurrently(
          Seq(writeCentroids, writeAssignments, writeStats) ++
            pqThunk ++ prefixThunk)
      } finally {
        assigned.unpersist(blocking = false)
        codes.unpersist(blocking = false)
      }
    }
    ivfIndexStoreOccupancy(spark, dir)
  }

  // ───────────────────── product-quantization (PQ) tier ─────────────────────

  /** Flat `K × dim` byte codebook for the PQ family: entry `c` is the
    * `c`-th md5-ranked non-degenerate vector's int8 codes (the seed-IVF
    * centroid draw); subspace `j`'s codebook is the `j`-th slice of
    * every entry. Seed-drawn rather than kmeans-trained, so encoding,
    * distortion, and ADC rankings are all exact integer arithmetic —
    * the property that puts the PQ tier under the DuckDB hash oracle
    * (trained-codebook PQ's float iteration would be rows-only). K is
    * capped at 255 — the byte's full addressing ceiling
    * ([[graft.functions.PqEncode]] rejects wider codebooks as NULL):
    * every entry-id decode goes through the UNSIGNED `uint8_unpack`
    * ([[pqEncodeSummary]], [[pqLloydCodebook]]), so ids >= 128 render
    * and index faithfully (the signed decode that capped the tier at
    * 127 entries was replaced in round 16; spec-pinned with a
    * 200-entry codebook in PqSpec).
    */
  private def pqPackSeeds(seeds: Array[(Int, Long, Seq[Int], Long)]): Array[Int] = {
    require(seeds.nonEmpty, "PQ codebook needs at least one seed")
    require(seeds.length <= 255, s"PQ codebook capped at 255 entries, got ${seeds.length}")
    val dim = seeds.head._3.length
    require(seeds.forall(_._3.length == dim),
      "PQ seed codes must share one dimensionality")
    val matrix = new Array[Int](seeds.length * dim)
    seeds.foreach { case (cid, _, cv, _) =>
      var i = 0
      while (i < dim) { matrix(cid * dim + i) = cv(i); i += 1 }
    }
    matrix
  }

  /** The PQ codebook off a float corpus — what a persisted PQ index
    * stores next to its codes (the IVF store's `centroids/` discipline
    * applied to sub-quantizers). Bounded driver fetch: nBook × dim
    * bytes.
    */
  def pqCodebookFromEmbeddings(embeddings: DataFrame, nBook: Int = 16): Array[Int] =
    pqPackSeeds(seedPickFromCodes(
      quantizedQv(embeddings).filter(col("qsq") > 0), nBook))

  /** The storable PQ code form: (vec_id, pcodes binary, rsq) — nSub
    * bytes per vector plus one long; what an ADC scan reads instead of
    * the int8 store's dim bytes (8× narrower at dim=64/nSub=8, 32× vs
    * floats).
    */
  def pqCodesFrame(embeddings: DataFrame, matrix: Array[Int],
                   nSub: Int = 8): DataFrame = {
    import graft.functions.PqCodes.pq_encode
    quantizedQv(embeddings).filter(col("qsq") > 0)
      .select(col("vec_id"), pq_encode(col("qv"), matrix, nSub).as("pq"))
      .select(col("vec_id"), col("pq.codes").as("pcodes"), col("pq.rsq").as("rsq"))
  }

  /** ADC top-k over an EXISTING PQ code store — the scan a persisted
    * PQ index actually runs (codes + rsq written once; queries arrive
    * as floats and quantize on the bounded side only). The corpus-side
    * read is nSub bytes + one long per vector; per pair, nSub lookup
    * adds off the per-query table.
    */
  def pqStoredTopK(pqCodes: DataFrame, queryVecs: DataFrame,
                   matrix: Array[Int], nSub: Int = 8,
                   numQueries: Int = 10, k: Int = 5): DataFrame = {
    import graft.functions.PqCodes.{pq_lut, pq_adc}
    val q = quantizedQv(queryVecs).filter(col("qsq") > 0)
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        pq_lut(col("qv"), matrix, nSub).as("lut"), col("qsq").as("sqa"))
    val sims = pqCodes
      .select(col("vec_id").as("neighbor_id"), col("pcodes"), col("rsq"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", pq_adc(col("lut"), col("pcodes")))
      .withColumn("sim", when(col("rsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("rsq").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_dot"), round(col("sim"), 6).as("pq_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Per-vector PQ encoding audit (`q_pq_encode`): the code ids, the
    * exact summed distortion (the build-quality number — what a real
    * pipeline tracks to size nBook/nSub), and the reconstruction's
    * squared norm (the ADC cosine denominator, computed once at encode
    * time so probes never re-touch the codebook for the corpus side).
    * One scan; the codebook is a broadcast-scale literal inside ONE
    * constant-size codegen loop ([[graft.functions.PqEncode]] — the
    * [[graft.functions.CentroidScores]] discipline, so production
    * nBook never outgrows Janino). Storage story at 100 TB: nSub bytes
    * per vector (8 here) vs dim int8 bytes (64) vs 4·dim float bytes
    * (256) — a 1000-executor ADC scan reads 32× less than the float
    * scan and 8× less than the int8 scan.
    */
  def pqEncodeSummary(embeddings: DataFrame, nBook: Int = 16,
                      nSub: Int = 8): DataFrame = {
    import graft.functions.PqCodes.pq_encode
    import graft.functions.Uint8Unpack.uint8_unpack
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0)
    val matrix = pqPackSeeds(seedPickFromCodes(codes, nBook))
    codes
      .select(col("vec_id"), pq_encode(col("qv"), matrix, nSub).as("pq"))
      .select(col("vec_id"),
        // UNSIGNED decode: the bytes are codebook ENTRY IDS (0..254),
        // not int8 codes — sign extension would print >= 128 negative
        concat_ws(",", uint8_unpack(col("pq.codes")).cast("array<string>"))
          .as("pq_csv"),
        col("pq.dist").as("pq_dist"), col("pq.rsq").as("recon_sq"))
      .orderBy("vec_id")
  }

  /** ADC (asymmetric-distance) top-k over PQ codes (`q_pq_topk`): the
    * corpus side is scanned as nSub-byte codes; each query precomputes
    * ONE `nSub × nBook` integer lookup table ([[graft.functions.PqLut]])
    * and a pair costs nSub table adds ([[graft.functions.PqAdc]]) —
    * PQ's scan trick: at dim=64/nSub=8, 8× less bandwidth AND 8× less
    * arithmetic than the int8 scan, the tier below it in the ladder
    * (float scan → int8 scan → THIS → IVF pruning → IVF+PQ). The ADC
    * similarity is `adc / sqrt(q_sq · recon_sq)` — the exact cosine
    * of the query against the RECONSTRUCTION (`pq_adc ≡ int_dot(q,
    * pq_recon(codes))`, spec-pinned), so every value is deterministic
    * and the approximate ranking itself hash-matches. A zero
    * reconstruction (possible only when every chosen codebook slice is
    * all-zero) scores 0 by definition on both engines.
    */
  def pqTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
             nBook: Int = 16, nSub: Int = 8): DataFrame =
    pqTopKFromCodes(quantizedQv(embeddings).filter(col("qsq") > 0),
      numQueries, k, nBook, nSub)

  /** [[pqTopK]] over an EXISTING non-degenerate code frame — lets
    * recall audits thread ONE persisted quantization pass into the
    * exact scan and the ADC ranking instead of re-quantizing per
    * ranking (the `ivfPqAdcSims` discipline).
    */
  private def pqTopKFromCodes(codes: DataFrame, numQueries: Int, k: Int,
                              nBook: Int, nSub: Int): DataFrame =
    pqTopKWithMatrix(codes, pqPackSeeds(seedPickFromCodes(codes, nBook)),
      numQueries, k, nSub)

  /** The ADC ranking under a CALLER-SUPPLIED flat codebook — the
    * seed-drawn and Lloyd-trained arms of the training A/B share this
    * one ranking body, so the comparison can only differ in the
    * codebook.
    */
  private def pqTopKWithMatrix(codes: DataFrame, matrix: Array[Int],
                               numQueries: Int, k: Int,
                               nSub: Int): DataFrame = {
    import graft.functions.PqCodes.{pq_encode, pq_lut, pq_adc}
    val corpus = codes
      .select(col("vec_id").as("neighbor_id"),
        pq_encode(col("qv"), matrix, nSub).as("pq"))
      .select(col("neighbor_id"), col("pq.codes").as("pcodes"),
        col("pq.rsq").as("rsq"))
    val q = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        pq_lut(col("qv"), matrix, nSub).as("lut"), col("qsq").as("sqa"))
    val sims = corpus.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", pq_adc(col("lut"), col("pcodes")))
      .withColumn("sim", when(col("rsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("rsq").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_dot"), round(col("sim"), 6).as("pq_sim"))
      .orderBy("query_id", "rnk")
  }

  /** PQ recall audit (`q_pq_recall`): per query, the exact number of
    * the int8-exact top-k recovered by the ADC ranking — deterministic
    * integer counts, so the lossy tier's recall/compression trade-off
    * sits under the hash oracle with no sampling (the
    * [[ivfIndexSpilledRecall]] discipline applied to quantization loss
    * instead of probe width).
    */
  def pqRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
               nBook: Int = 16, nSub: Int = 8): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val approx = pqTopKFromCodes(codes, numQueries, k, nBook, nSub)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("pq_hits"))
    val out = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("pq_hits"), lit(0L)).as("pq_hits"),
        round(coalesce(col("pq_hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("pq_recall"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** OPQ-lite's seed-derived coordinate permutation: dims `1..dim`
    * ordered by `(md5(i.toString), i)` — the seed-draw discipline
    * applied to coordinates. Deterministic, engine-portable (DuckDB's
    * `ORDER BY md5(CAST(i AS VARCHAR)), i` yields the identical
    * order: lowercase-hex strings compare byte-lexicographically on
    * both engines), and a pure relabeling — dot products, norms, and
    * the per-vector symmetric quantization are all permutation-
    * equivariant, so ONLY the subspace grouping changes.
    */
  def opqPermutation(dim: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).sortBy { i =>
      val h = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (h, i)
    }
  }

  /** OPQ-lite recall A/B (`q_pq_recall_opq`): per query at EQUAL
    * stored bytes (same nBook, same nSub), the exact int8-top-k hit
    * counts of the raw-layout ADC ranking vs the ranking after a
    * seed-derived coordinate permutation ahead of `pq_encode` — the
    * cheapest member of the OPQ family (Ge et al., CVPR 2013 train a
    * rotation; a permutation is the rotation that stays in exact
    * integers and therefore under the hash oracle). Sub-quantizer
    * alignment is the binding constraint PQ recall measured in round
    * 14; this instrument measures whether a re-grouping of
    * coordinates moves recall on a given corpus BEFORE a deployment
    * commits a layout. The permuted arm permutes the ALREADY-
    * quantized codes (per-vector symmetric quantization is
    * permutation-equivariant — spec-pinned), so one quantization pass
    * feeds the exact scan and both ADC arms.
    */
  def pqRecallOpq(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                  nBook: Int = 16, nSub: Int = 8): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val dim = 64
    val perm = opqPermutation(dim)
    val permuted = codes.select(col("vec_id"),
      expr(s"transform(array(${perm.mkString(", ")}), p -> get(qv, p - 1))")
        .as("qv"),
      col("qsq"))
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val raw = pqTopKFromCodes(codes, numQueries, k, nBook, nSub)
      .select("query_id", "neighbor_id")
    val opq = pqTopKFromCodes(permuted, numQueries, k, nBook, nSub)
      .select("query_id", "neighbor_id")
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val out = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .join(hits(raw, "hits_pq"), Seq("query_id"), "left")
      .join(hits(opq, "hits_opq"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_pq"), lit(0L)).as("hits_pq"),
        coalesce(col("hits_opq"), lit(0L)).as("hits_opq"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** One per-subspace Lloyd round over a flat PQ codebook: encode the
    * corpus under `matrix` (one [[graft.functions.PqCodes]] codegen
    * pass), then recompute each (subspace, entry) codeword slice as the
    * per-coordinate HALF-UP integer mean of its assigned sub-vectors —
    * the [[lloydUpdate]] arithmetic applied one level down. The
    * rounded mean is the CLOSEST integer vector to the true mean
    * (componentwise nearest-integer minimizes Σ(xᵢ−c)² over integer c),
    * and the old codeword is also an integer vector, so the update
    * never increases within-entry distortion; the re-encode is an
    * argmin, so it never increases it either — total PQ distortion is
    * monotone NON-INCREASING across rounds even in the rounded-integer
    * regime (a theorem here, unlike the cosine-metric IVF Lloyd, where
    * the mean is not the metric's minimizer — and unlike RECALL, which
    * is measured, never asserted). Entries that attract no sub-vectors
    * keep their slice (the clone starts from `matrix`, so carry-over is
    * free). Scale shape: map-side combine collapses the posexplode to
    * nSub × nBook × subDim cells before the exchange; the driver fetch
    * is the bounded codebook itself.
    */
  private[ext] def pqLloydCodebook(codes: DataFrame, matrix: Array[Int],
                                   nBook: Int, nSub: Int): Array[Int] = {
    import graft.functions.PqCodes.pq_encode
    import graft.functions.Uint8Unpack.uint8_unpack
    val dim = matrix.length / nBook
    val subDim = dim / nSub
    // the encode MUST be its own projection BELOW the explode: a
    // select that mixes a generator with a heavy expression puts that
    // expression in the Project ABOVE the Generate, where it re-runs
    // once per EXPLODED row — measured 64 encodes/vector, 30s vs 2s a
    // round at StressBench ×100 (the round-12 re-evaluation cliff, the
    // Generate variant). As a pass-through column the entry ids are
    // computed once per vector and only COPIED per row.
    val cells = codes
      .select(col("qv"),
        // UNSIGNED decode: the bytes are entry ids (0..254) used as
        // array indices below — sign extension would index negatively
        // for codebooks past 128 entries
        uint8_unpack(pq_encode(col("qv"), matrix, nSub)
          .getField("codes")).as("ents"))
      .select(col("ents"), posexplode(col("qv")).as(Seq("pos", "v")))
      .select((col("pos") / subDim).cast("int").as("j"),
        (col("pos") % subDim).cast("int").as("spos"), col("v"), col("ents"))
      .select(col("j"), element_at(col("ents"), col("j") + 1).as("entry"),
        col("spos"), col("v"))
      .groupBy("j", "entry", "spos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
    val out = matrix.clone()
    cells.foreach { r =>
      val j = r.getInt(0); val entry = r.getInt(1); val spos = r.getInt(2)
      out(entry * dim + j * subDim + spos) =
        Math.floorDiv(2L * r.getLong(3) + r.getLong(4),
          2L * r.getLong(4)).toInt
    }
    out
  }

  /** Codebook epochs 0..`iters`: epoch 0 the md5 seed draw, each later
    * epoch one [[pqLloydCodebook]] round.
    */
  private def pqLloydEpochs(codes: DataFrame, nBook: Int, nSub: Int,
                            iters: Int): IndexedSeq[Array[Int]] =
    (1 to iters).scanLeft(pqPackSeeds(seedPickFromCodes(codes, nBook)))(
      (m, _) => pqLloydCodebook(codes, m, nBook, nSub))

  /** Codebook-training distortion audit (`q_pq_train_distortion`): per
    * training round, the exact total and max per-vector PQ distortion
    * and the encoded count — integer sums, order-independent, so the
    * monotone descent is itself hash-certified. ONE final corpus pass
    * scores every round's codebook side by side (each is a fixed
    * literal inside the constant-size `pq_encode` loop).
    */
  def pqTrainDistortion(embeddings: DataFrame, nBook: Int = 16,
                        nSub: Int = 8, iters: Int = 2): DataFrame = {
    import graft.functions.PqCodes.pq_encode
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val mats = pqLloydEpochs(codes, nBook, nSub, iters)
    val perRound = array(mats.zipWithIndex.map { case (m, t) =>
      struct(lit(t).as("round"),
        pq_encode(col("qv"), m, nSub).getField("dist").as("dist"))
    }: _*)
    val out = codes.select(explode(perRound).as("r"))
      .select(col("r.round").as("round"), col("r.dist").as("dist"))
      .groupBy("round")
      .agg(sum(col("dist")).as("total_dist"), max(col("dist")).as("max_dist"),
        count(lit(1)).as("n_vec"))
      .orderBy("round")
    Dedup.scopeCaches(out, codes)
  }

  /** Codebook-training recall A/B (`q_pq_trained_recall`): per query at
    * EQUAL stored bytes, exact int8-top-k hit counts of the ADC ranking
    * under the seed codebook vs the Lloyd-trained one. Measured, not
    * assumed — and the planted-cluster variant is the cautionary
    * instrument: training collapses distortion ~200× there yet recall
    * CRATERS, because a distortion-optimal codebook reconstructs every
    * cluster-mate identically and the ADC ranking loses within-cluster
    * resolution — the measured reason production retrieval reranks
    * exactly ([[ivfPqRerankTopK]]) or encodes residuals ([[ivfAdcTopK]])
    * instead of trusting raw ADC order on clustered corpora.
    */
  def pqTrainedRecall(embeddings: DataFrame, numQueries: Int = 10,
                      k: Int = 5, nBook: Int = 16, nSub: Int = 8,
                      iters: Int = 2): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val mats = pqLloydEpochs(codes, nBook, nSub, iters)
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val seed = pqTopKWithMatrix(codes, mats.head, numQueries, k, nSub)
      .select("query_id", "neighbor_id")
    val trained = pqTopKWithMatrix(codes, mats.last, numQueries, k, nSub)
      .select("query_id", "neighbor_id")
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val out = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .join(hits(seed, "hits_seed"), Seq("query_id"), "left")
      .join(hits(trained, "hits_trained"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_seed"), lit(0L)).as("hits_seed"),
        coalesce(col("hits_trained"), lit(0L)).as("hits_trained"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** IVF+PQ top-k (`q_ivfpq_topk`) — the composed production
    * architecture (Jégou et al., TPAMI 2011; FAISS's IVFPQ): coarse
    * seed-IVF lists prune the candidate space to `nProbe` lists
    * (corpus/nList × nProbe candidates, shuffle on the list id), and
    * the surviving candidates are ranked by the ADC similarity off
    * nSub-byte codes. At 100 TB both factors compound: probe cost is
    * decoupled from corpus size by partition pruning AND each probed
    * byte row is 8× narrower than int8 — while every step (integer
    * centroid argmax, integer sub-quantizer argmin, integer lookup
    * adds, one double division) stays deterministic, so the full
    * composed index is hash-matched. With nProbe = nList it equals
    * [[pqTopK]] row-for-row (spec-pinned) — pruning changes candidates,
    * never scores.
    */
  def ivfPqTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                nList: Int = 16, nProbe: Int = 4, nBook: Int = 16,
                nSub: Int = 8): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val out = ivfPqTopKFromCodes(codes, numQueries, k, nList, nProbe,
      nBook, nSub)
    Dedup.scopeCaches(out, codes)
  }

  /** [[ivfPqTopK]]'s ranking over an EXISTING code frame (the caller
    * owns the persist) — recall audits thread one quantization pass
    * into every ranking they compare.
    */
  private def ivfPqTopKFromCodes(codes: DataFrame, numQueries: Int, k: Int,
                                 nList: Int, nProbe: Int, nBook: Int,
                                 nSub: Int): DataFrame = {
    val sims = ivfPqAdcSims(codes, numQueries, nList, nProbe, nBook, nSub)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_dot"), round(col("sim"), 6).as("pq_sim"))
      .orderBy("query_id", "rnk")
  }

  /** The shared IVF+PQ candidate machinery: coarse seed-IVF probe
    * lists equi-joined against the one-pass (list id, PQ codes)
    * corpus, ADC-scored. Returns the unranked per-pair frame
    * (query_id, neighbor_id, adc_dot, sim); `codes` must be the
    * caller-persisted non-degenerate code frame.
    */
  private def ivfPqAdcSims(codes: DataFrame, numQueries: Int, nList: Int,
                           nProbe: Int, nBook: Int, nSub: Int): DataFrame = {
    import graft.functions.PqCodes.{pq_encode, pq_lut, pq_adc}
    val seeds = seedPickFromCodes(codes, nList)
    val scored = seedScoreArray(seeds.map { case (cid, _, cv, csq) => (cid, cv, csq) })
    val matrix = pqPackSeeds(seedPickFromCodes(codes, nBook))
    // corpus: one pass emits the coarse list id AND the PQ codes
    val assigned = codes
      .withColumn("best", array_max(scored))
      .withColumn("pq", pq_encode(col("qv"), matrix, nSub))
      .select(col("vec_id").as("neighbor_id"),
        listIdOf(col("best.nid")).as("cluster"),
        col("pq.codes").as("pcodes"), col("pq.rsq").as("rsq"))
    // queries: ranked probe lists + the ADC lookup table, both bounded
    val q = codes.filter(col("vec_id") < numQueries)
      .withColumn("probe", slice(reverse(array_sort(scored)), 1, nProbe))
      .select(col("vec_id").as("query_id"),
        explode(col("probe")).as("p"),
        pq_lut(col("qv"), matrix, nSub).as("lut"), col("qsq").as("sqa"))
      .select(col("query_id"), listIdOf(col("p.nid")).as("cluster"),
        col("lut"), col("sqa"))
    assigned.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", pq_adc(col("lut"), col("pcodes")))
      .withColumn("sim", when(col("rsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("rsq").cast("double"))))
      .select(col("query_id"), col("neighbor_id"), col("adc_dot"), col("sim"))
  }

  /** Apply a stored coordinate LAYOUT (OPQ-lite's permutation, 1-based
    * positions) to a code array; the empty layout is the identity. A
    * pure relabeling: dots, norms, and the per-vector quantization are
    * unchanged — only the subspace grouping the PQ encode sees.
    */
  private def applyLayout(qv: Column, layout: Seq[Int]): Column =
    if (layout.isEmpty) qv
    else transform(array(layout.map(i => lit(i)): _*),
      p => get(qv, p - lit(1)))

  /** Build the persisted index's PQ SIDECAR — the derived artifact
    * that makes the hive store ADC-scannable: `dir/pq_codebook` (the
    * nBook md5-ranked STORED vectors' codes + nSub, the reseed
    * discipline applied to sub-quantizers) and `dir/pq_codes`
    * (vec_id, pcodes, rsq) hive-partitioned BY THE SAME list ids as
    * the assignments, so an ADC probe partition-prunes exactly like
    * the int8 probe while reading nSub-byte rows instead of dim-byte
    * ones. Everything derives from store bytes (`int8_unpack`) — the
    * float embeddings are never re-read. Rebuildable at will (derived
    * artifact); appends encode against the FIXED stored codebook via
    * [[ivfIndexStorePqAppend]].
    *
    * `layout` (optional — [[opqPermutation]] or any bijection on
    * 1..dim) is the OPQ-lite coordinate re-grouping applied ahead of
    * subspacing, and it is RECORDED IN THE STORE: a layout is part of
    * the index's identity (codes encoded under one grouping are
    * gibberish to a probe using another), so probes and appends read
    * it back from `pq_codebook` instead of trusting the caller to
    * re-supply it. The coarse tier is layout-invariant (centroid dots
    * are permutation-equivariant) and stays on raw stored codes.
    *
    * `residual = true` builds the IVFADC sidecar instead (round 16 —
    * the [[ivfAdcTopK]] configuration as a maintained artifact):
    * vectors PQ-encode their RESIDUAL against their assigned stored
    * centroid, the codebook is the md5 ranks [nCoarse, nCoarse+nBook)'s
    * own residuals (the disjoint-draw rule — a coarse seed's
    * self-residual is zero), and `rsq` stores the squared norm of the
    * full reconstruction `w = cv + r̂` (the ADC cosine denominator).
    * Residual-ness is RECORDED in the codebook like the layout — it is
    * equally part of the index's identity. A probe then pays the same
    * nSub-byte partition-pruned scan, plus one bounded per-(query,
    * probed-list) centroid dot. On a static store the residual probe ≡
    * [[ivfAdcTopK]] row-for-row (spec-pinned; shares its oracle).
    * Layout and residual compose: the layout permutes the RESIDUAL
    * space (norms and dots are permutation-invariant, so `rsq` and the
    * centroid dot stay raw-space exact).
    */
  def ivfIndexStorePqBuild(spark: org.apache.spark.sql.SparkSession,
                           dir: String, nBook: Int = 16,
                           nSub: Int = 8,
                           layout: Seq[Int] = Nil,
                           residual: Boolean = false): Unit = {
    import graft.functions.Int8Unpack.int8_unpack
    import graft.functions.PqCodes.{pq_encode, pq_recon, int_vec_add,
      int_vec_sub}
    import graft.functions.IntDot.int_dot
    val raw = ivfIndexStoreLiveAssignments(spark, dir)
      .select(col("vec_id"), int8_unpack(col("qb")).as("qv"), col("qsq"),
        col("centroid_id"))
    if (!residual) {
      val codes = raw.select(col("vec_id"),
        applyLayout(col("qv"), layout).as("qv"), col("qsq"),
        col("centroid_id"))
      val picked = seedPickFromCodes(codes, nBook)
      val matrix = pqPackSeeds(picked)
      seedsToDf(spark, picked).withColumn("n_sub", lit(nSub))
        .withColumn("perm", typedLit(layout))
        .withColumn("residual", lit(false))
        .write.mode("overwrite").parquet(s"$dir/pq_codebook")
      clusterForWrite(codes
        .select(col("vec_id"), pq_encode(col("qv"), matrix, nSub).as("pq"),
          col("centroid_id"))
        .select(col("vec_id"), col("pq.codes").as("pcodes"),
          col("pq.rsq").as("rsq"), col("centroid_id")), "centroid_id")
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$dir/pq_codes")
    } else {
      val cents = collectSeedCentroids(ivfIndexStoreCentroids(spark, dir))
      val centDf = {
        import spark.implicits._
        cents.toSeq.map { case (cid, cv, _) => (cid, cv) }
          .toDF("centroid_id", "cv")
      }
      // residuals in LAYOUT space; cv is layouted too so w = cv + r̂
      // adds componentwise in one space (norms are permutation-
      // invariant, so rsq equals the raw-space |cv + r̂|²)
      val resid = raw.join(broadcast(centDf), Seq("centroid_id"))
        .select(col("vec_id"), col("centroid_id"),
          applyLayout(int_vec_sub(col("qv"), col("cv")), layout).as("rv"),
          applyLayout(col("cv"), layout).as("cvl"))
      val rbookIds = rankedVecIds(raw, cents.length, nBook)
      val rvById = resid
        .filter(col("vec_id").isInCollection(rbookIds.map(java.lang.Long.valueOf)))
        .select("vec_id", "rv").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val picked = rbookIds.zipWithIndex.map { case (vid, idx) =>
        (idx, vid, rvById(vid), rvById(vid).map(v => v.toLong * v).sum)
      }
      val matrix = pqPackSeeds(picked)
      seedsToDf(spark, picked).withColumn("n_sub", lit(nSub))
        .withColumn("perm", typedLit(layout))
        .withColumn("residual", lit(true))
        .write.mode("overwrite").parquet(s"$dir/pq_codebook")
      clusterForWrite(resid
        .withColumn("pq", pq_encode(col("rv"), matrix, nSub))
        .withColumn("wv", int_vec_add(col("cvl"),
          pq_recon(col("pq.codes"), matrix, nBook)))
        .select(col("vec_id"), col("pq.codes").as("pcodes"),
          int_dot(col("wv"), col("wv")).as("rsq"), col("centroid_id")),
        "centroid_id")
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$dir/pq_codes")
    }
  }

  /** The stored PQ codebook: (flat matrix, nSub, layout, residual).
    * Bounded driver fetch (nBook × dim ints), the probe/append-side
    * twin of [[collectSeedCentroids]].
    */
  private[graft] def ivfIndexStorePqCodebook(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Int], Int, Seq[Int], Boolean) = {
    val df = spark.read.parquet(s"$dir/pq_codebook")
    // a codebook written before the residual tier existed has no
    // `residual` column — those sidecars are raw by construction, so
    // the absent column defaults to false instead of failing the read
    // (and with it the train migration path for old stores)
    val resCol = if (df.columns.contains("residual")) col("residual")
                 else lit(false)
    val rows = df
      .select(col("centroid_id"), col("seed_vec_id"), col("cv"), col("csq"),
        col("n_sub"), col("perm"), resCol.as("residual"))
      .collect()
    require(rows.nonEmpty, s"empty PQ codebook at $dir/pq_codebook")
    val picked = rows.map(r => (r.getInt(0), r.getLong(1),
      r.getSeq[Int](2), r.getLong(3))).sortBy(_._1)
    (pqPackSeeds(picked), rows.head.getInt(4), rows.head.getSeq[Int](5),
      rows.head.getBoolean(6))
  }

  /** Encode an appended batch into the PQ sidecar under the FIXED
    * stored codebook (sub-quantizer twin of the fixed-centroid append
    * rule: codes are pure per-vector facts once the codebook is
    * pinned, so append-then-read equals encoding the union corpus with
    * that codebook). `assigned` is [[ivfIndexStoreAppend]]'s return —
    * the batch's (vec_id, qv, qsq, centroid_id) after assignment.
    */
  def ivfIndexStorePqAppend(spark: org.apache.spark.sql.SparkSession,
                            assigned: DataFrame, dir: String): Unit = {
    import graft.functions.PqCodes.{pq_encode, pq_recon, int_vec_add,
      int_vec_sub}
    import graft.functions.IntDot.int_dot
    val (matrix, nSub, layout, residual) = ivfIndexStorePqCodebook(spark, dir)
    val rows =
      if (!residual)
        assigned.select(col("vec_id"),
          pq_encode(applyLayout(col("qv"), layout), matrix, nSub).as("pq"),
          col("centroid_id"))
          .select(col("vec_id"), col("pq.codes").as("pcodes"),
            col("pq.rsq").as("rsq"), col("centroid_id"))
      else {
        // the batch's residuals against the FIXED stored centroids —
        // still pure per-vector facts, so the append rule is unchanged
        val cents = collectSeedCentroids(ivfIndexStoreCentroids(spark, dir))
        val centDf = {
          import spark.implicits._
          cents.toSeq.map { case (cid, cv, _) => (cid, cv) }
            .toDF("centroid_id", "cv")
        }
        val nBook = matrix.length / cents.head._2.length
        assigned.join(broadcast(centDf), Seq("centroid_id"))
          .select(col("vec_id"), col("centroid_id"),
            applyLayout(int_vec_sub(col("qv"), col("cv")), layout).as("rv"),
            applyLayout(col("cv"), layout).as("cvl"))
          .withColumn("pq", pq_encode(col("rv"), matrix, nSub))
          .withColumn("wv", int_vec_add(col("cvl"),
            pq_recon(col("pq.codes"), matrix, nBook)))
          .select(col("vec_id"), col("pq.codes").as("pcodes"),
            int_dot(col("wv"), col("wv")).as("rsq"), col("centroid_id"))
      }
    clusterForWrite(rows, "centroid_id")
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/pq_codes")
  }

  /** ADC probe of the PERSISTED index's PQ sidecar
    * (`q_ivfpq_store_probe`): rank the stored centroids per query,
    * read ONLY the probed hive partitions of `pq_codes`, and rank the
    * candidates by the ADC similarity off nSub-byte rows — the
    * [[ivfIndexStoreProbe]] partition-pruning arc with the wide-code
    * read replaced by lookup adds. On a static store this equals
    * [[ivfPqTopK]] over the same corpus row-for-row (spec-pinned;
    * same SQL oracle), because the sidecar's codebook is drawn from
    * the same md5 rule over the same stored codes.
    */
  def ivfIndexStorePqProbe(spark: org.apache.spark.sql.SparkSession,
                           queryVecs: DataFrame, dir: String,
                           k: Int = 5, nProbe: Int = 4): DataFrame = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.IntDot.int_dot
    import graft.functions.PqCodes.{pq_lut, pq_adc}
    val cents = collectSeedCentroids(ivfIndexStoreCentroids(spark, dir))
    val scored = seedScoreArray(cents)
    val (matrix, nSub, layout, residual) = ivfIndexStorePqCodebook(spark, dir)
    // the ivfIndexStoreProbe discipline: ONE bounded evaluation of the
    // query-side quantization + centroid ranking + lookup tables,
    // re-fed as a local relation (numQueries × nProbe rows). The
    // centroid ranking reads RAW codes (the coarse tier is layout-
    // invariant); the lookup table reads the STORED layout's grouping.
    // On a residual sidecar the frame also carries the exact per-
    // (query, probed list) centroid dot — the `q·cv` half of the
    // IVFADC score (`q·w = q·cv + q·r̂`), bounded like everything else
    // on this side. `cdot` is raw-space (dots are layout-invariant).
    val centMap = typedlit(cents.map { case (cid, cv, _) => cid -> cv }.toMap)
    val q0 = queryVecs
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .filter(col("qsq") > 0)
      .select(col("vec_id").as("query_id"),
        pq_lut(applyLayout(col("qv"), layout), matrix, nSub).as("lut"),
        col("qsq").as("sqa"), col("qv"),
        explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"))
      .select(col("query_id"), col("lut"), col("sqa"),
        listIdOf(col("p.nid")).as("cluster"),
        (if (residual)
           int_dot(col("qv"), element_at(centMap, listIdOf(col("p.nid"))))
         else lit(0L)).as("cdot"))
    val probeRows = q0.collect()
    val clusterIdx = q0.schema.fieldIndex("cluster")
    val lists = probeRows.map(_.getInt(clusterIdx)).distinct
    val q = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), q0.schema)
    adoptDeleteStaged(spark, s"$dir/pq_codes")
    val cands0 = spark.read.parquet(s"$dir/pq_codes")
      .filter(col("centroid_id").isin(lists.map(Integer.valueOf): _*))
    val cands = ivfIndexReadTombstones(spark, dir)
      .fold(cands0)(ts => cands0.join(ts, Seq("vec_id"), "left_anti"))
      .select(col("vec_id").as("neighbor_id"), col("pcodes"), col("rsq"),
        col("centroid_id").as("cluster"))
    val sims = cands.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", col("cdot") + pq_adc(col("lut"), col("pcodes")))
      .withColumn("sim", when(col("rsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("rsq").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val simCol = if (residual) "ivfadc_sim" else "pq_sim"
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_dot"), round(col("sim"), 6).as(simCol))
      .orderBy("query_id", "rnk")
  }

  // ------------------------------------------------------------------
  // Matryoshka PREFIX sidecar: the byte-TRUE truncated two-stage probe
  // ------------------------------------------------------------------

  /** Build the persisted index's PREFIX SIDECAR (round 18 — cashing in
    * [[truncatedRerank]]'s calibration at the BYTE level): for each
    * calibrated width `d`, `dir/prefix_codes/d=D/centroid_id=L/` holds
    * (vec_id, pb, psq) where `pb` is the FIRST d bytes of the stored
    * packed code (`substring` of `qb` — Matryoshka prefixes are
    * literal truncations, so no re-quantization and no float re-read)
    * and `psq` its exact squared norm. The layout mirrors `pq_codes`
    * deliberately: hive-partitioned by the SAME list ids as the
    * assignments, so a truncated probe partition-prunes exactly like
    * every other probe while its shortlist scan reads d/dim of the
    * ranking bytes PHYSICALLY — the saving [[truncatedRerank]] could
    * only model logically (its own doc promised this column family).
    * Derived artifact (rebuildable at will from store bytes); the
    * widths are recorded in the store as the `d=D` partitions
    * themselves. Lifecycle mirrors the PQ sidecar: appends encode the
    * batch under the stored widths ([[ivfIndexStorePrefixAppend]]),
    * deletes drop rows of affected (d, list) partitions, compact
    * copies verbatim, train re-partitions by the new list ids.
    */
  def ivfIndexStorePrefixBuild(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               dims: Seq[Int] = Seq(16, 32, 64)): Unit = {
    require(dims.nonEmpty && dims == dims.distinct,
      s"prefix widths must be distinct and nonempty, got $dims")
    val rows = ivfIndexStoreLiveAssignments(spark, dir)
      .select(col("vec_id"), col("qb"), col("centroid_id"))
    clusterForWrite(prefixRowsOf(rows, dims), "d", "centroid_id")
      .write.mode("overwrite").partitionBy("d", "centroid_id")
      .parquet(s"$dir/prefix_codes")
  }

  /** The width-exploded prefix rows of an assignment-shaped frame
    * (vec_id, qb, centroid_id) — ONE copy of the prefix encoding shared
    * by build, append, and the train rebuild: per width d, the first d
    * PACKED bytes and their exact squared norm.
    */
  private def prefixRowsOf(rows: DataFrame, dims: Seq[Int]): DataFrame = {
    import graft.functions.IntDotBytes.int_dot_bytes
    dims.map { d =>
      rows.select(col("vec_id"),
        substring(col("qb"), 1, d).as("pb"),
        col("centroid_id"))
        .withColumn("psq", int_dot_bytes(col("pb"), col("pb")))
        .withColumn("d", lit(d))
        .select("vec_id", "pb", "psq", "d", "centroid_id")
    }.reduce(_.unionByName(_))
  }

  /** The prefix widths recorded in the store — the `d=D` hive
    * partitions of `prefix_codes` (empty if no prefix sidecar exists).
    */
  def ivfIndexStorePrefixDims(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/prefix_codes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("d="))
      .map(_.stripPrefix("d=").toInt).sorted.toSeq
  }

  /** Encode an appended batch into the prefix sidecar under the FIXED
    * stored widths — prefixes are pure per-vector facts (a byte
    * truncation of the batch's own packed code), so append-then-probe
    * equals building over the union, the PQ-append rule verbatim.
    * `assigned` is [[ivfIndexStoreAppend]]'s return.
    */
  def ivfIndexStorePrefixAppend(spark: org.apache.spark.sql.SparkSession,
                                assigned: DataFrame, dir: String): Unit = {
    val dims = ivfIndexStorePrefixDims(spark, dir)
    require(dims.nonEmpty, s"no prefix sidecar at $dir/prefix_codes")
    clusterForWrite(prefixRowsOf(assigned.select("vec_id", "qb",
      "centroid_id"), dims), "d", "centroid_id")
      .write.mode("append").partitionBy("d", "centroid_id")
      .parquet(s"$dir/prefix_codes")
  }

  /** The byte-TRUE truncated two-stage probe over the persisted index
    * (`q_truncated_store_probe`): shortlist each query's top-`rerank`
    * candidates by the width-`d` prefix ranking — a scan that READS
    * ONLY the `prefix_codes/d=D` partitions of the probed lists, d/dim
    * of the ranking bytes — then rerank ONLY the shortlist by the
    * exact full-dim cosine (full `qb` rows fetched for shortlist ids
    * alone) and keep the top-`k`. The [[ivfIndexStorePqProbe]] probe
    * arc with the ADC scorer replaced by the Matryoshka prefix scorer,
    * and the physical consumer [[truncatedRerank]]'s calibration was
    * missing. On a static store at nProbe = nList this equals
    * [[truncatedRerank]]'s (d, rerank) cell row-for-row — which is how
    * the grid form below hash-certifies under the SAME oracle.
    */
  def ivfIndexStoreTruncatedProbe(spark: org.apache.spark.sql.SparkSession,
                                  queryVecs: DataFrame, dir: String,
                                  d: Int, k: Int = 5, nProbe: Int = 4,
                                  rerank: Int = 10): DataFrame = {
    val cells = truncatedStoreCells(spark, queryVecs, dir, Seq(d),
      Seq(rerank), k, nProbe, withRecall = false)
    cells.select(col("query_id"), col("rnk"), col("neighbor_id"),
      col("qdot"), round(col("sim_full"), 6).as("q_cosine"))
      .orderBy("query_id", "rnk")
  }

  /** The (d, rerank) GRID of the byte-true store probe vs the exact
    * full-dim top-k (`q_truncated_store_probe[_clustered]`): per cell
    * and query, hits against the exact top-k — [[truncatedRerank]]'s
    * instrument served from persisted prefix bytes. At nProbe = nList
    * on a static store the numbers are IDENTICAL to the in-memory
    * grid's (the d = dim arm is the built-in recall-1.0 row), so the
    * query shares `q_truncated_rerank`'s oracle verbatim.
    */
  def ivfIndexStoreTruncatedGrid(spark: org.apache.spark.sql.SparkSession,
                                 queryVecs: DataFrame, dir: String,
                                 dims: Seq[Int] = Seq(16, 32, 64),
                                 reranks: Seq[Int] = Seq(10, 20),
                                 k: Int = 5, nProbe: Int = 16): DataFrame =
    truncatedStoreCells(spark, queryVecs, dir, dims, reranks, k, nProbe,
      withRecall = true)

  /** The bounded query-side frame of the truncated probe: per (query,
    * probed list), the full packed code, its norm, and the width-d
    * prefix slices + norms for every requested width — ONE evaluation,
    * re-fed as a local relation (the ivfIndexStoreProbe discipline).
    * Returns (frame, probed list ids).
    */
  private def truncatedQueryFrame(spark: org.apache.spark.sql.SparkSession,
                                  queryVecs: DataFrame, dir: String,
                                  dims: Seq[Int], nProbe: Int)
      : (DataFrame, Seq[Int]) = {
    import graft.functions.Int8Codes.int8_codes
    import graft.functions.Int8Bytes.int8_bytes
    import graft.functions.IntDot.int_dot
    import graft.functions.IntDotBytes.int_dot_bytes
    val scored = seedScoreArray(
      collectSeedCentroids(ivfIndexStoreCentroids(spark, dir)))
    val q0 = queryVecs
      .select(col("vec_id"), int8_codes(col("embedding")).as("qv"),
        int8_bytes(col("embedding")).as("qa"))
      .withColumn("qsq", int_dot(col("qv"), col("qv")))
      .filter(col("qsq") > 0)
      .select(Seq(col("vec_id").as("query_id"), col("qa"),
        col("qsq").as("sqa")) ++
        dims.flatMap(d => Seq(
          substring(col("qa"), 1, d).as(s"qa$d"),
          int_dot_bytes(substring(col("qa"), 1, d),
            substring(col("qa"), 1, d)).as(s"sqa$d"))) :+
        explode(slice(reverse(array_sort(scored)), 1, nProbe)).as("p"): _*)
      .select(Seq(col("query_id"), col("qa"), col("sqa")) ++
        dims.flatMap(d => Seq(col(s"qa$d"), col(s"sqa$d"))) :+
        listIdOf(col("p.nid")).as("cluster"): _*)
    val probeRows = q0.collect()
    val clusterIdx = q0.schema.fieldIndex("cluster")
    val lists = probeRows.map(_.getInt(clusterIdx)).distinct.toSeq
    (spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), q0.schema), lists)
  }

  /** The shared engine of the truncated store probe and its grid:
    * per (d, rerank) cell, the prefix-shortlisted, exactly-reranked
    * top-k — either as ranked rows (`withRecall = false`, one cell)
    * or as per-query hit counts vs the exact full-dim top-k. The
    * shortlist scan per width d reads ONLY `prefix_codes/d=D` of the
    * probed lists; full `qb` bytes are fetched for shortlist ids
    * alone (a broadcast-scale semi-join — numQueries × rerank rows).
    */
  private def truncatedStoreCells(spark: org.apache.spark.sql.SparkSession,
                                  queryVecs: DataFrame, dir: String,
                                  dims: Seq[Int], reranks: Seq[Int],
                                  k: Int, nProbe: Int,
                                  withRecall: Boolean): DataFrame = {
    import graft.functions.IntDotBytes.int_dot_bytes
    import spark.implicits._
    val stored = ivfIndexStorePrefixDims(spark, dir)
    require(dims.forall(stored.contains),
      s"prefix sidecar at $dir holds widths $stored; requested $dims — " +
        "rebuild with ivfIndexStorePrefixBuild")
    val (q, lists) = truncatedQueryFrame(spark, queryVecs, dir, dims, nProbe)
    val listKeys = lists.map(Integer.valueOf)
    val qOnce = q.drop("cluster").dropDuplicates("query_id")
    val tombs = ivfIndexReadTombstones(spark, dir)
    // full-dim rows of the probed lists, scanned once and reused by
    // every cell's rerank and (grid form) the exact baseline
    val full0 = ivfIndexStoreAssignments(spark, dir)
      .filter(col("centroid_id").isin(listKeys: _*))
    val full = tombs.fold(full0)(ts =>
      full0.join(ts, Seq("vec_id"), "left_anti"))
      .select(col("vec_id").as("neighbor_id"), col("qb"),
        col("qsq").as("sqb"))
      .persist()
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_full").desc, col("neighbor_id"))
    val cells = for (d <- dims; r <- reranks) yield {
      // the BYTE-TRUE shortlist: only d-byte prefix rows are scanned
      adoptDeleteStaged(spark, s"$dir/prefix_codes/d=$d")
      val prefix0 = spark.read.parquet(s"$dir/prefix_codes/d=$d")
        .filter(col("centroid_id").isin(listKeys: _*))
      val prefix = tombs.fold(prefix0)(ts =>
        prefix0.join(ts, Seq("vec_id"), "left_anti"))
        .select(col("vec_id").as("neighbor_id"), col("pb"), col("psq"),
          col("centroid_id").as("cluster"))
      val qd = q.select(col("query_id"), col(s"qa$d"), col(s"sqa$d"),
        col("cluster"))
      val wd = Window.partitionBy(col("query_id"))
        .orderBy(col("sim_d").desc, col("neighbor_id"))
      val short = prefix.join(broadcast(qd), Seq("cluster"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim_d",
          when(col(s"sqa$d") === 0 || col("psq") === 0, lit(0.0))
            .otherwise(int_dot_bytes(col("pb"), col(s"qa$d")) /
              sqrt(col(s"sqa$d").cast("double") * col("psq").cast("double"))))
        .withColumn("srnk", row_number().over(wd))
        .filter(col("srnk") <= r)
        .select("query_id", "neighbor_id")
      // exact rerank of the shortlist alone: full bytes for
      // numQueries × r ids, never the whole probed population
      broadcast(short)
        .join(full, Seq("neighbor_id"))
        .join(broadcast(qOnce.select("query_id", "qa", "sqa")),
          Seq("query_id"))
        .withColumn("qdot", int_dot_bytes(col("qb"), col("qa")))
        .withColumn("sim_full",
          col("qdot") / sqrt(col("sqa").cast("double") *
            col("sqb").cast("double")))
        .withColumn("rnk", row_number().over(wf))
        .filter(col("rnk") <= k)
        .select(lit(d).as("dims"), lit(r).as("rerank"), col("query_id"),
          col("rnk"), col("neighbor_id"), col("qdot"), col("sim_full"))
    }
    val out = cells.reduce(_.unionByName(_))
    if (!withRecall) Dedup.scopeCaches(out, full)
    else {
      // the exact full-dim top-k, computed ONCE off the same cached
      // probed-list scan (exact in the instrument sense only when the
      // probe covers every list — the grid query runs nProbe = nList)
      val exact = full.join(broadcast(qOnce.select("query_id", "qa", "sqa")),
        col("neighbor_id") =!= col("query_id"))
        .withColumn("sim_full", int_dot_bytes(col("qb"), col("qa")) /
          sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
        .withColumn("rnk", row_number().over(wf))
        .filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
      val hits = exact
        .join(out.select("dims", "rerank", "query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy("dims", "rerank", "query_id")
        .agg(count(lit(1)).as("hits"))
      val grid = qOnce.select("query_id")
        .crossJoin(dims.toDF("dims")).crossJoin(reranks.toDF("rerank"))
      val res = grid.join(hits, Seq("dims", "rerank", "query_id"), "left")
        .select(col("dims"), col("rerank"), col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6)
            .as("recall"))
        .orderBy("dims", "rerank", "query_id")
      Dedup.scopeCaches(res, full)
    }
  }

  /** The md5-ranked vec_ids in rank order, ranks `[from, from + n)` —
    * the seed draw generalized to DISJOINT deterministic picks, so the
    * residual codebook (ranks nList..nList+nBook) never collides with
    * the coarse centroids (ranks 0..nList): a coarse seed's residual
    * against itself is the zero vector, which would make a useless
    * sub-quantizer entry.
    */
  private def rankedVecIds(codes: DataFrame, from: Int, n: Int): Array[Long] = {
    val picked = codes
      .select(md5(col("vec_id").cast("string")).as("mkey"), col("vec_id"))
      .orderBy("mkey", "vec_id").limit(from + n).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity)
      .drop(from).map(_._2)
    require(picked.length == n,
      s"residual codebook needs $n non-degenerate vectors past rank $from, " +
        s"got ${picked.length}")
    picked
  }

  /** Residual-quantized IVF top-k (`q_ivfadc_topk`) — the faithful
    * IVFADC cell of Jégou et al. (TPAMI 2011): vectors are PQ-encoded
    * as RESIDUALS against their assigned coarse centroid (`r = qv −
    * cv`), which is what makes PQ effective — residuals concentrate
    * near zero, so a fixed codebook spends its entries where the data
    * actually lives instead of spanning the whole space. The residual
    * codebook is the md5-ranked vectors AT RANKS nList..nList+nBook's
    * own residuals (disjoint from the coarse seeds, whose residuals
    * are zero); everything — subtraction, argmin encode,
    * reconstruction `w = cv + r̂`, its squared norm, the ADC dot
    * `q·w = q·cv + q·r̂` — is exact 32-bit integer arithmetic
    * ([[graft.functions.IntVecOp]]), so the residual index
    * hash-matches like the raw-PQ one. Scan shape: identical to
    * [[ivfPqTopK]] (nSub-byte codes + one long per row; the per-list
    * `q·cv` term rides the bounded probe frame), with `adc_dot ≡
    * int_dot(q, w)` spec-pinned.
    */
  def ivfAdcTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                 nList: Int = 16, nProbe: Int = 4, nBook: Int = 16,
                 nSub: Int = 8): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val out = ivfAdcTopKFromCodes(codes, numQueries, k, nList, nProbe,
      nBook, nSub)
    Dedup.scopeCaches(out, codes)
  }

  /** [[ivfAdcTopK]]'s ranking over an EXISTING code frame (the caller
    * owns the persist).
    */
  private def ivfAdcTopKFromCodes(codes: DataFrame, numQueries: Int, k: Int,
                                  nList: Int, nProbe: Int, nBook: Int,
                                  nSub: Int): DataFrame = {
    val sims = ivfAdcSims(codes, numQueries, nList, nProbe, nBook, nSub)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc_dot"), round(col("sim"), 6).as("ivfadc_sim"))
      .orderBy("query_id", "rnk")
  }

  /** The unranked residual-ADC pair frame (query_id, neighbor_id,
    * adc_dot, sim) over the IVF-pruned candidates; `codes` must be the
    * caller-persisted non-degenerate code frame.
    */
  private def ivfAdcSims(codes: DataFrame, numQueries: Int, nList: Int,
                         nProbe: Int, nBook: Int, nSub: Int): DataFrame =
    ivfAdcSimsWith(codes,
      seedPickFromCodes(codes, nList).map { case (cid, _, cv, csq) => (cid, cv, csq) },
      numQueries, nProbe, nBook, nSub, pqIters = 0)

  /** [[ivfAdcSims]] under CALLER-SUPPLIED coarse centroids and
    * `pqIters` per-subspace Lloyd rounds on the RESIDUAL codebook —
    * the generalization that lets the trained-IVFADC A/B differ from
    * the seed arm ONLY in what was trained. `cents` is any centroid
    * matrix in [[collectSeedCentroids]]'s shape (the seed draw, a
    * Lloyd epoch, or a store's table); the residual codebook's epoch 0
    * is the md5 ranks [cents.length, cents.length + nBook)'s own
    * residuals UNDER those centroids (the disjoint-draw rule), and
    * each Lloyd round is [[pqLloydCodebook]] run on the residual frame
    * (residuals are plain int vectors, so the sub-quantizer trainer
    * applies unchanged — this is "PQ trained on residuals", the
    * production IVFADC configuration of Jégou et al.). Scale shape per
    * round: one argmin encode pass over the residuals + the map-side-
    * combined nSub × nBook × subDim cell aggregate — the coarse
    * [[lloydEpochs]] cost class one level down.
    */
  private def ivfAdcSimsWith(codes: DataFrame,
                             cents: Array[(Int, Seq[Int], Long)],
                             numQueries: Int, nProbe: Int, nBook: Int,
                             nSub: Int, pqIters: Int): DataFrame = {
    import graft.functions.PqCodes.{pq_encode, pq_lut, pq_adc, pq_recon,
      int_vec_add, int_vec_sub}
    import graft.functions.IntDot.int_dot
    val spark = codes.sparkSession
    val nList = cents.length
    val scored = seedScoreArray(cents)
    val centDf = {
      import spark.implicits._
      cents.toSeq.map { case (cid, cv, _) => (cid, cv) }
        .toDF("cluster", "cv")
    }
    // one pass: coarse list id + residual against the assigned centroid
    val assigned = codes
      .withColumn("best", array_max(scored))
      .select(col("vec_id"), col("qv"), col("qsq"),
        listIdOf(col("best.nid")).as("cluster"))
      .join(broadcast(centDf), Seq("cluster"))
      .withColumn("rv", int_vec_sub(col("qv"), col("cv")))
    // residual codebook: ranks [nList, nList + nBook)'s own residuals,
    // fetched through the SAME assignment pipeline (bounded: nBook rows)
    val rbookIds = rankedVecIds(codes, nList, nBook)
    val rvById = assigned
      .filter(col("vec_id").isInCollection(rbookIds.map(java.lang.Long.valueOf)))
      .select("vec_id", "rv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rMatrix0 = pqPackSeeds(rbookIds.zipWithIndex.map { case (vid, idx) =>
      (idx, vid, rvById(vid), 0L) })
    // `pqIters` per-subspace Lloyd rounds ON THE RESIDUALS: the
    // sub-quantizer trainer applied to the residual frame (rv rides in
    // as the trainer's qv) — residual codes concentrate near zero, so
    // this is where a trained codebook has real structure to spend its
    // entries on (the distortion-descent theorem holds unchanged)
    val rMatrix = (1 to pqIters).foldLeft(rMatrix0) { (m, _) =>
      pqLloydCodebook(assigned.select(col("vec_id"), col("rv").as("qv")),
        m, nBook, nSub)
    }
    // encode: residual codes + the reconstruction w = cv + r̂ and its
    // exact squared norm (the ADC cosine denominator, stored per row)
    val enc = assigned
      .withColumn("pq", pq_encode(col("rv"), rMatrix, nSub))
      .withColumn("recon", pq_recon(col("pq.codes"), rMatrix, nBook))
      .withColumn("wv", int_vec_add(col("cv"), col("recon")))
      .select(col("vec_id").as("neighbor_id"), col("cluster"),
        col("pq.codes").as("rcodes"),
        int_dot(col("wv"), col("wv")).as("wsq"))
    // queries: probe lists + residual lookup table + the per-(query,
    // list) exact centroid dot — all bounded (numQueries × nProbe)
    val q = codes.filter(col("vec_id") < numQueries)
      .withColumn("probe", slice(reverse(array_sort(scored)), 1, nProbe))
      .select(col("vec_id").as("query_id"), explode(col("probe")).as("p"),
        pq_lut(col("qv"), rMatrix, nSub).as("lut"), col("qsq").as("sqa"),
        col("qv"))
      .select(col("query_id"), listIdOf(col("p.nid")).as("cluster"),
        col("lut"), col("sqa"), col("qv"))
      .join(broadcast(centDf), Seq("cluster"))
      .select(col("query_id"), col("cluster"), col("lut"), col("sqa"),
        int_dot(col("qv"), col("cv")).as("cdot"))
    enc.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", col("cdot") + pq_adc(col("lut"), col("rcodes")))
      .withColumn("sim", when(col("wsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("wsq").cast("double"))))
      .select(col("query_id"), col("neighbor_id"), col("adc_dot"), col("sim"))
  }

  /** Planted-cluster embedding fixture (`q_ivfadc_recall_clustered`'s
    * input): 8 well-separated integer centers — cluster `c = vec_id % 8`
    * puts 80 on the 8 dims where `(c + i) % 8 == 0` and −10 elsewhere,
    * so any two clusters differ by 90 on 16 dims (inter-cluster cosine
    * ≈ −0.14) — plus a small deterministic per-(vector, dim) jitter in
    * [−2, 2]. The jitter is drawn per (vector, dim) from
    * `md5(vec_id·64 + i)`'s first hex char — inputs are globally
    * unique, so every vector's 64-dim jitter pattern is distinct
    * (spec-pinned on the testdata) and the recall A/B never collapses
    * into tie-breaking. (A linear mixer mod a prime was tried first
    * and left 153/500 duplicate vectors: the final mod 5 erases
    * residue differences ≡ 0 (mod 5) unless a modular wrap separates
    * the pair inside the 64-dim window.) Derived from
    * `embeddings`' vec_ids alone (the media planted-cluster
    * discipline), exactly reproducible in the DuckDB oracle, and
    * integer-valued so the float→int8 step is noise-free. This is the
    * corpus regime the IVFADC literature assumes: the coarse pass
    * lands each vector on a same-cluster centroid, residuals collapse
    * to jitter scale, and the residual codebook's entries are ALL
    * viable for every vector — unlike the raw codebook, where only the
    * same-cluster entries' slices are close enough to matter.
    */
  def plantedClusterEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      expr("""transform(sequence(1, 64), i -> CAST(
          CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
          + ascii(substr(md5(CAST(vec_id * 64 + i AS STRING)), 1, 1)) % 5 - 2
          AS FLOAT))""").as("embedding"))

  /** Residual-vs-raw recall A/B (`q_ivfadc_recall`): per query at the
    * SAME probe width and the SAME stored bytes, the exact number of
    * int8-exact top-k neighbors recovered by the raw-PQ ADC ranking
    * ([[ivfPqTopK]]) and by the residual-quantized one
    * ([[ivfAdcTopK]]) — the [[ivfIndexSpilledRecall]] discipline
    * applied to the ENCODING choice, hash-matched with no sampling.
    * The textbook claim (residuals concentrate near zero, so a fixed
    * codebook spends its entries where the data lives) holds on
    * CLUSTERED corpora; on this near-isotropic testdata the instrument
    * measures the opposite regime — a 16-centroid coarse pass barely
    * shrinks a random 64-dim vector, the residual codebook is
    * residuals-of-random (no better aligned than the raw seeds), and
    * raw PQ wins (sf0.1: 14 vs 8 of 50 exact hits). Surfacing WHICH
    * regime a corpus is in before committing an index layout is
    * exactly what this A/B is for, and the hash oracle certifies the
    * counts either way.
    */
  def ivfAdcRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                   nList: Int = 16, nProbe: Int = 4, nBook: Int = 16,
                   nSub: Int = 8): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val raw = ivfPqTopKFromCodes(codes, numQueries, k, nList, nProbe,
      nBook, nSub).select("query_id", "neighbor_id")
    val res = ivfAdcTopKFromCodes(codes, numQueries, k, nList, nProbe,
      nBook, nSub).select("query_id", "neighbor_id")
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val out = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .join(hits(raw, "hits_pq"), Seq("query_id"), "left")
      .join(hits(res, "hits_ivfadc"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_pq"), lit(0L)).as("hits_pq"),
        coalesce(col("hits_ivfadc"), lit(0L)).as("hits_ivfadc"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Trained-IVFADC recall A/B (`q_ivfadc_trained_recall[_clustered]`)
    * — the COMPOSITION of the two trained quantizer levels, i.e. the
    * production index configuration (Jégou et al.'s IVFADC with both
    * the coarse quantizer and the residual codebook k-means-trained):
    * coarse centroids refined by `iters` exact-integer Lloyd epochs
    * ([[lloydEpochs]]), residuals re-taken under the TRAINED centroids,
    * and the residual codebook refined by `pqIters` per-subspace Lloyd
    * rounds ([[pqLloydCodebook]] on the residual frame). Per query at
    * EQUAL probe width and EQUAL stored bytes: exact int8-top-k hit
    * counts for the all-seed IVFADC vs the all-trained one. The
    * measured question is sharp: `q_pq_trained_recall_clustered`
    * showed distortion-optimal RAW-PQ training CRATERS clustered
    * recall (5→1 — every cluster-mate reconstructs identically);
    * residual training is the textbook fix (residuals are
    * within-cluster offsets, so codebook entries spend capacity on
    * exactly the resolution raw training erased) — and this A/B
    * certifies whether it actually recovers it, in exact integers
    * under the hash oracle, before a deployment commits the
    * configuration.
    */
  def ivfAdcTrainedRecall(embeddings: DataFrame, numQueries: Int = 10,
                          k: Int = 5, nList: Int = 16, nProbe: Int = 4,
                          nBook: Int = 16, nSub: Int = 8, iters: Int = 2,
                          pqIters: Int = 2): DataFrame = {
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    def rank(sims: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select("query_id", "neighbor_id")
    }
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    val epochs = lloydEpochs(codes, nList, iters)
    val seedArm = rank(ivfAdcSimsWith(codes, epochs.head, numQueries,
      nProbe, nBook, nSub, pqIters = 0))
    val trainedArm = rank(ivfAdcSimsWith(codes, epochs.last, numQueries,
      nProbe, nBook, nSub, pqIters))
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val out = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"))
      .join(hits(seedArm, "hits_seed"), Seq("query_id"), "left")
      .join(hits(trainedArm, "hits_trained"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_seed"), lit(0L)).as("hits_seed"),
        coalesce(col("hits_trained"), lit(0L)).as("hits_trained"))
      .orderBy("query_id")
    Dedup.scopeCaches(out, codes)
  }

  /** Two-stage IVF+PQ retrieval (`q_ivfpq_rerank`) — the standard
    * production pipeline: the ADC stage ranks the IVF-pruned
    * candidates off 8-byte codes and keeps the top `rerank` per query;
    * ONLY those survivors are re-scored with the exact int8 dot (the
    * 8× wider read happens for `rerank` rows per query, not the whole
    * probed space), and the final top-k is ranked by the exact
    * similarity. At 100 TB this is the shape that makes PQ usable with
    * zero ranking loss inside the rerank window: the wide scan cost is
    * O(queries × rerank), decoupled from both corpus and probe width.
    * `adc_rnk` rides along as the witness of the reorder. Deterministic
    * end to end — integer ADC, integer rerank dot, fixed tie-breaks —
    * so the composed two-stage retrieval hash-matches. With rerank ≥
    * the probed candidate count AND nProbe = nList it equals the brute
    * int8 exact top-k row-for-row (spec-pinned).
    */
  def ivfPqRerankTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                      nList: Int = 16, nProbe: Int = 4, nBook: Int = 16,
                      nSub: Int = 8, rerank: Int = 20): DataFrame = {
    import graft.functions.IntDot.int_dot
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val sims = ivfPqAdcSims(codes, numQueries, nList, nProbe, nBook, nSub)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val shortlist = sims.withColumn("adc_rnk", row_number().over(wAdc))
      .filter(col("adc_rnk") <= rerank)
      .select("query_id", "neighbor_id", "adc_rnk")
    val q = codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
        col("qsq").as("sqa"))
    val exact = shortlist
      .join(broadcast(q), Seq("query_id"))
      .join(codes.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
        col("qsq").as("sqb")), Seq("neighbor_id"))
      .withColumn("qdot", int_dot(col("qb"), col("qa")))
      .withColumn("esim", col("qdot") /
        sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("esim").desc, col("neighbor_id"))
    val out = exact.withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_rnk"),
        col("qdot"), round(col("esim"), 6).as("q_cosine"))
      .orderBy("query_id", "rnk")
    Dedup.scopeCaches(out, codes)
  }

  /** Recall-vs-cost calibration of the two-stage IVF+PQ retrieval
    * (`q_ivfpq_tradeoff`) — the [[lshTopK]] recall-curve discipline
    * applied to the composed index: ONE candidate pass at the WIDEST
    * probe width with each pair's admitting probe rank attached (each
    * corpus vector lives in exactly one list and a query's probe
    * lists are distinct, so `probe_rnk <= p` reproduces the nProbe=p
    * candidate set row-for-row), both scores computed per pair (the
    * ADC lookup-add AND the exact int8 dot the rerank stage would
    * pay), then the (nProbe × rerank-width) grid read off as filtered
    * re-rankings of that same frame. Stored bytes are FIXED across
    * the grid — nSub codes + one long per vector — so the two knobs
    * measured are exactly the two a deployment can turn at query time
    * without re-encoding. Per cell: candidate pairs (the probe-cost
    * axis: corpus reads scale with it), exact-top-k hits across the
    * query set, and recall. All counts are exact integer arithmetic
    * off deterministic rankings, so the calibration table itself
    * hash-matches. 12 rows.
    */
  def ivfPqTradeoff(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                    nList: Int = 16, nBook: Int = 16, nSub: Int = 8,
                    probeGrid: Seq[Int] = Seq(1, 2, 4, 8),
                    rerankGrid: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    import graft.functions.PqCodes.{pq_encode, pq_lut, pq_adc}
    import graft.functions.IntDot.int_dot
    val codes = quantizedQv(embeddings).filter(col("qsq") > 0).persist()
    val seeds = seedPickFromCodes(codes, nList)
    val scored = seedScoreArray(seeds.map { case (cid, _, cv, csq) => (cid, cv, csq) })
    val matrix = pqPackSeeds(seedPickFromCodes(codes, nBook))
    val maxProbe = probeGrid.max
    // corpus: one pass — coarse list id, PQ codes, and the int8 codes
    // the rerank stage reads
    val assigned = codes
      .withColumn("best", array_max(scored))
      .withColumn("pq", pq_encode(col("qv"), matrix, nSub))
      .select(col("vec_id").as("neighbor_id"),
        listIdOf(col("best.nid")).as("cluster"),
        col("pq.codes").as("pcodes"), col("pq.rsq").as("rsq"),
        col("qv").as("qb"), col("qsq").as("sqb"))
    // queries: probe lists at the WIDEST width, each with its rank
    val q = codes.filter(col("vec_id") < numQueries)
      .withColumn("probe", slice(reverse(array_sort(scored)), 1, maxProbe))
      .select(col("vec_id").as("query_id"),
        posexplode(col("probe")).as(Seq("pos", "p")),
        pq_lut(col("qv"), matrix, nSub).as("lut"), col("qsq").as("sqa"),
        col("qv").as("qa"))
      .select(col("query_id"), (col("pos") + 1).as("probe_rnk"),
        listIdOf(col("p.nid")).as("cluster"), col("lut"), col("sqa"),
        col("qa"))
    val pairs = assigned.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dot", pq_adc(col("lut"), col("pcodes")))
      .withColumn("sim", when(col("rsq") === 0, lit(0.0))
        .otherwise(col("adc_dot") /
          sqrt(col("sqa").cast("double") * col("rsq").cast("double"))))
      .withColumn("esim", int_dot(col("qb"), col("qa")) /
        sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      .select(col("query_id"), col("neighbor_id"), col("probe_rnk"),
        col("sim"), col("esim"))
      .persist()
    val exact = storedCodesTopK(codes, numQueries, k)
      .select("query_id", "neighbor_id")
    // the ADC ranking depends on the probe width only — rank ONCE per
    // width, cap at the widest rerank, and PERSIST that shortlist
    // (numQueries × max-rerank rows) so the per-cell re-rankings read
    // a tiny cached frame instead of re-windowing the pair space
    val shortlists = probeGrid.map { p =>
      val cp = pairs.filter(col("probe_rnk") <= p)
      val ranked = cp.withColumn("adc_rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("adc_rnk") <= rerankGrid.max)
        .select("query_id", "neighbor_id", "adc_rnk", "esim")
        .persist()
      (p, cp.agg(count(lit(1)).as("n_cands")), ranked)
    }
    val cells = shortlists.flatMap { case (p, nCands, ranked) =>
      rerankGrid.map { r =>
        val fin = ranked.filter(col("adc_rnk") <= r)
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("esim").desc, col("neighbor_id"))))
          .filter(col("rnk") <= k)
          .select("query_id", "neighbor_id")
        val hits = fin.join(exact, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        hits.crossJoin(nCands).select(
          lit(p).as("n_probe"), lit(r).as("rerank"), col("n_cands"),
          col("hits"),
          round(col("hits") / lit((numQueries * k).toDouble), 6).as("recall"))
      }
    }
    val out = cells.reduce(_.unionByName(_)).orderBy("n_probe", "rerank")
    Dedup.scopeCaches(out, codes +: pairs +: shortlists.map(_._3): _*)
  }
}
