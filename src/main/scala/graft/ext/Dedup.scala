package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (SURVEY §2.10):
  * exact (hash groupBy), n-gram-Jaccard near-dup, MinHash+LSH near-dup,
  * and SimHash near-dup.
  *
  * Scale design: everything is expressed as shuffles on content-derived
  * keys (text hash, shingle, band bucket) — no driver-side state, no
  * pairwise O(n²) over the corpus. The only quadratic step is *within* an
  * LSH/band bucket or a shared-shingle group, which is bounded by
  * `maxShingleDf` (drop shingles whose document frequency explodes a
  * group — the standard guard against 50M-doc buckets at 100 TB).
  */
object Dedup {

  /** Scoped-cache materializer: forces `result` into its own (small)
    * cache while the bulky `intermediates` are still cached, then
    * releases the intermediates — so repeated calls in a long-lived
    * session don't accumulate cached shingle/signature tables. The
    * returned frame is persisted and already materialized; the caller
    * owns its lifetime (`.unpersist()` when done).
    */
  private[ext] def scopeCaches(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count()
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Exact dedup: one representative (min doc_id) per distinct text,
    * with the duplicate count. A single hash aggregation on the full
    * text; at scale, group on `xxhash64(text)` first and only compare
    * texts within a hash bucket (collision-safe two-level form) — here
    * the direct groupBy is the oracle-matched form.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(col("text")).agg(
      min(col("doc_id")).as("doc_id"),
      count(lit(1)).as("n_copies"),
      min(col("n_chars")).as("n_chars"))
      .select("doc_id", "n_copies", "n_chars")
      .orderBy("doc_id")

  /** Distinct word-k-gram shingles per document: (doc_id, shingle).
    * Documents with fewer than k tokens produce no shingles (guarded —
    * `sequence(0, negative)` would descend).
    */
  def shingles(documents: DataFrame, k: Int = 5, carry: Seq[String] = Nil): DataFrame = {
    val tokens = split(col("text"), " ")
    val carryCols = carry.map(col)
    documents
      .select(col("doc_id") +: carryCols :+ tokens.as("toks"): _*)
      .filter(size(col("toks")) >= k)
      .select(col("doc_id") +: carryCols :+ explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k)))))).as("shingle"): _*)
  }

  /** Exact n-gram (word 5-shingle) Jaccard near-dup pairs ≥ `threshold`.
    * Pipeline: distinct shingles → document-frequency cap → shared-shingle
    * pair counts (shuffle on shingle) → Jaccard from |A∩B|/(|A|+|B|-|A∩B|).
    * Fully SQL-expressible → oracle-checked.
    */
  def ngramJaccard(documents: DataFrame, k: Int = 5, threshold: Double = 0.5,
                   maxShingleDf: Int = 1000): DataFrame = {
    // the shingle table feeds the df-cap, the per-doc sizes, AND both
    // sides of the pair self-join — pin it once instead of re-running
    // tokenize+explode four times through the lineage. `kept` is NOT
    // persisted: it is one cheap anti-join away from cached `sh`, and a
    // second near-identical cached copy costs more to build than the
    // anti-join costs to recompute (measured: double-persist regressed
    // the query 2.6× in BENCH_r04).
    val sh = shingles(documents, k).persist()
    val result = ngramJaccardFromShingles(sh, threshold, maxShingleDf)
    scopeCaches(result, sh)
  }

  /** The [[ngramJaccard]] pair core over a PRE-BUILT (doc_id, shingle)
    * table: callers that already pay a corpus tokenization (the
    * curation funnel shares one shingle table between its near-dup and
    * decontamination stages) pass their cached table and skip a second
    * pass — at 100 TB tokenization is a top-3 cost. Caching and
    * release of `sh` (and of the result) are the CALLER's concern; the
    * df-cap is computed over exactly the rows passed in, so a filtered
    * view gives the same pairs as tokenizing the filtered corpus.
    */
  def ngramJaccardFromShingles(sh: DataFrame, threshold: Double = 0.5,
                               maxShingleDf: Int = 1000): DataFrame =
    ngramJaccardPairsUnordered(sh, threshold, maxShingleDf)
      .orderBy("doc_a", "doc_b")

  /** [[ngramJaccardFromShingles]] without the final presentation sort —
    * for callers that consume the pairs as an EDGE SET (the curation
    * funnel's component stage): the global sort of the pair table is a
    * range-sampling pass plus a full extra exchange of the biggest
    * intermediate, bought for an ordering the component walk ignores.
    */
  private[ext] def ngramJaccardPairsUnordered(
      sh: DataFrame, threshold: Double = 0.5,
      maxShingleDf: Int = 1000): DataFrame = {
    // document-frequency cap as a map-side-combined aggregate + anti-join
    // against the overflow "stop-shingle" set (df > maxShingleDf). No
    // broadcast hint: the overflow set is ≈ totalShingles/maxShingleDf —
    // corpus-proportional, not constant — so a forced broadcast could OOM
    // the driver at the 100 TB design point; AQE picks broadcast when the
    // runtime size actually fits.
    val overflow = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("shingle")
    val kept = sh.join(overflow, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = kept.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash signature per document: `numHashes` permutations simulated
    * as `min(xxhash64(shingle, i))` per seed i (the standard one-hash-
    * family trick), fused into a single native sketch aggregate
    * ([[graft.functions.MinHashSketch]] — one buffer, one pass; the
    * composed `numHashes`-column form below is its correctness twin).
    * Returns (doc_id, sig array<long>).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 64): DataFrame = {
    val sig = graft.functions.MinHashSketch
      .minhash_sketch(col("shingle"), numHashes)
    sh.groupBy("doc_id").agg(sig.as("sig"))
  }

  /** Composed-builtins twin of [[minhashSignatures]] (numHashes separate
    * min-aggregates) — same signatures bit-for-bit, kept as the
    * no-custom-code reference implementation.
    */
  def minhashSignaturesComposed(sh: DataFrame, numHashes: Int = 64): DataFrame = {
    val minCols = (0 until numHashes)
      .map(i => min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Engine-portable 60-bit hash of (value, seed): the first 15 hex
    * chars of `md5(value <0x01> seed)` as a LONG. Unlike `xxhash64`
    * (Spark-only), md5 is bit-identical across engines — DuckDB computes
    * the same value as `('0x' || substr(md5(v || chr(1) || seed), 1,
    * 15))::BIGINT` — which is what lets the minhash near-dup family run
    * under a DuckDB oracle (the `_md5` twins below). 60 bits keep the
    * value positive in a signed 64-bit long in both engines.
    */
  private[graft] def md5HashLong(c: Column, seed: Int): Column =
    conv(substring(md5(concat_ws("\u0001", c, lit(seed.toString))), 1, 15), 16, 10)
      .cast("long")

  /** [[minhashSignatures]] over the portable md5 hash family — same
    * algorithm, every hash value reproducible by any engine with md5.
    * The oracle-checkable twin's signature source. Fused
    * [[graft.functions.Md5MinHashSketch]] aggregate (byte-level
    * digests, no per-hash string traffic);
    * [[minhashSignaturesMd5Composed]] is the built-in-expression twin
    * it is equality-pinned against.
    */
  def minhashSignaturesMd5(sh: DataFrame, numHashes: Int = 16): DataFrame = {
    val sig = graft.functions.Md5MinHashSketch
      .md5_minhash_sketch(col("shingle"), numHashes)
    sh.groupBy("doc_id").agg(sig.as("sig"))
  }

  /** The composed md5 signature build — `numHashes` separate
    * `min(md5HashLong)` aggregate columns over built-in expressions
    * only. Kept as the equality twin for [[minhashSignaturesMd5]]
    * (identical signatures pinned in DedupSpec).
    */
  def minhashSignaturesMd5Composed(sh: DataFrame, numHashes: Int = 16): DataFrame = {
    val minCols = (0 until numHashes)
      .map(i => min(md5HashLong(col("shingle"), i)).as(s"h$i"))
    sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding near-dup: band the signature (`numBands` bands
    * of `numHashes/numBands` rows), bucket-join on (band index, band
    * hash) to get candidate pairs, then verify candidates with exact
    * shingle Jaccard ≥ `threshold`. With the default xxhash64 family,
    * candidate generation is engine-specific (no SQL oracle — the
    * verify step still makes every *emitted* pair exact); with
    * `portableHash = true` signatures and band keys come from the
    * [[md5HashLong]] family, so the WHOLE pipeline — banding,
    * candidates, verification — is reproducible in any md5-capable
    * engine and runs under a DuckDB oracle (`q_minhash_neardup_md5`).
    * Same algorithm and plan shape either way; xxhash64 stays the
    * production default (one fused sketch aggregate vs numHashes
    * md5 min-columns).
    */
  def minhashNearDup(documents: DataFrame, k: Int = 5, numHashes: Int = 64,
                     numBands: Int = 16, threshold: Double = 0.5,
                     pruneVerifyShingles: Boolean = false,
                     portableHash: Boolean = false): DataFrame = {
    // e.g. 64/12 would silently drop the trailing 4 signature components
    // and lower recall below the banding guarantee
    require(numBands > 0 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    val sh = shingles(documents, k).cache()
    val sig =
      if (portableHash) minhashSignaturesMd5(sh, numHashes)
      else minhashSignatures(sh, numHashes)
    val bandCols = (0 until numBands).map { bnd =>
      val parts = (0 until rowsPerBand).map(r => col("sig").getItem(bnd * rowsPerBand + r))
      // portable band key: the components themselves (":"-joined) — a
      // separator-delimited long tuple cannot collide, and any engine
      // reproduces it; xxhash64 otherwise (constant-width shuffle key)
      if (portableHash) concat_ws(":", parts.map(_.cast("string")): _*)
      else xxhash64(lit(bnd) +: parts: _*)
    }
    val banded = sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band_idx", "band_hash")
    val candRaw = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // pruning reads the candidate table twice (doc set + verify join) —
    // pin it so band self-join + distinct run once
    val cand = if (pruneVerifyShingles) candRaw.persist() else candRaw
    // `pruneVerifyShingles` = the 100 TB regime: semi-join-prune the
    // shingle table to candidate docs before the verify intersection
    // (candidates are a tiny fraction of a healthy corpus, so the verify
    // join then touches only their shingles). A semi-join keeps every
    // shingle row of a kept doc, so per-doc sizes and pair intersections
    // — and therefore the emitted pairs — are identical to the direct
    // form (pinned in DedupSpec). OFF by default: at dimension-table
    // corpus sizes the extra distinct+semi-join stages cost more than
    // they save (StressBench ×20 A/B in RESULTS.md).
    val verifySh = if (pruneVerifyShingles) {
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      sh.join(candDocs, Seq("doc_id"), "left_semi")
    } else sh
    val sizes = verifySh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val interA = verifySh.select(col("doc_id").as("doc_a"), col("shingle"))
    val interB = verifySh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = cand.join(interA, "doc_a").join(interB, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val result = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
    scopeCaches(result, (if (pruneVerifyShingles) Seq(sh, cand) else Seq(sh)): _*)
  }

  /** Connected components: every node ends up labeled with the smallest
    * doc_id reachable from it.
    *
    * ADAPTIVE execution, the same regime split Spark applies to
    * broadcast joins: a post-filter dedup edge set is usually a tiny
    * fraction of the corpus, so when it is broadcast-sized it is
    * collected once and solved with union-find on the driver (zero jobs
    * per round); above the threshold the distributed min-label
    * propagation below runs. Both paths produce identical labels
    * (pinned in DedupSpec).
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIters: Int = 20,
                          localEdgeThreshold: Long = 500000L): DataFrame = {
    // persist only what the CALLER hasn't: most cluster operators hand
    // in an edge union they already persisted and counted — persisting
    // the same plan again fired CacheManager's "already cached" WARN on
    // every clustering query, and the matching unpersist here DROPPED
    // the caller's cache entry out from under its later reads
    // (storageLevel is a CacheManager lookup, so it sees the caller's
    // persist even though this is a different Dataset object)
    val eCached = edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val nCached = nodes.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e = if (eCached) edges else edges.persist()
    val n = if (nCached) nodes else nodes.persist()
    // The regime choice and the local path's inputs come from the same
    // bounded collects: limit(threshold+1) answers "small enough?" AND
    // hands the local union-find its arrays — two jobs where
    // count+count+collect+collect paid four per clustering call (the
    // collected prefix is discarded only in the rare above-threshold
    // regime, bounded by the threshold itself).
    val lim = (math.min(localEdgeThreshold, Int.MaxValue - 1L) + 1L).toInt
    val esLim = e.select(col("src"), col("dst")).limit(lim).collect()
    val nsLim =
      if (esLim.length > localEdgeThreshold) null
      else n.select(col("doc_id")).limit(lim).collect()
    val out =
      if (nsLim != null && nsLim.length <= localEdgeThreshold)
        connectedComponentsLocal(
          esLim.map(r => (r.get(0), r.get(1))), nsLim.map(_.get(0)), n)
      else connectedComponentsDistributed(e, n, maxIters)
    if (!eCached) e.unpersist(false)
    if (!nCached) n.unpersist(false)
    out
  }

  /** Driver-local union-find over a collected edge list — the
    * "broadcast" regime. Labels = min doc_id per component, identical to
    * the converged min-label propagation. Output covers nodes ∪ all edge
    * endpoints (the same set the distributed loop converges over).
    */
  private def connectedComponentsLocal(es: Array[(Any, Any)], ns: Array[Any],
                                       nodes: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = nodes.sparkSession
    val all = (ns ++ es.map(_._1) ++ es.map(_._2)).distinct
    val parent = scala.collection.mutable.HashMap[Any, Any](all.map(v => v -> v): _*)
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) => val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb }
    // min doc_id per component (doc_ids are Comparable at runtime —
    // long/int/string keys all qualify)
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val minLabel = scala.collection.mutable.HashMap[Any, Any]()
    all.foreach { v =>
      val r = find(v)
      minLabel.get(r) match {
        case Some(m) => if (lt(v, m)) minLabel(r) = v
        case None => minLabel(r) = v
      }
    }
    val idField = nodes.select(col("doc_id")).schema.fields.head
    val schema = StructType(Seq(
      StructField("doc_id", idField.dataType, nullable = idField.nullable),
      StructField("label", idField.dataType, nullable = idField.nullable)))
    val rows = all.map(v => Row(v, minLabel(find(v)))).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Distributed min-label propagation — the at-scale regime. Each
    * round is pure DataFrame ops (symmetric edge join + min-aggregate);
    * the driver only checks the converged flag — no vertex data ever
    * leaves the cluster, and rounds are O(diameter), which for dedup
    * graphs (dense cliques of copies) is 1-2. The `maxIters` guard
    * bounds pathological chains.
    */
  def connectedComponentsDistributed(edges: DataFrame, nodes: DataFrame,
                                     maxIters: Int = 20): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    // seed from nodes ∪ edge endpoints — the same vertex set the local
    // union-find covers. Seeding from `nodes` alone would (a) silently
    // drop components whose edges touch no listed node and (b) let an
    // endpoint-only vertex receive a label without ever contributing its
    // own id, so the two regimes could disagree on the component min.
    val vertices = nodes.select(col("doc_id"))
      .unionByName(edges.select(col("src").as("doc_id")))
      .unionByName(edges.select(col("dst").as("doc_id")))
      .distinct()
    var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(true)
    // labels only ever decrease (min-propagation), so the label sum is
    // strictly monotone until the fixpoint: convergence = unchanged sum.
    // One scalar aggregate per round instead of a next-vs-old join.
    // decimal(38,0) sum: exact at any node count (a wrapped long sum
    // could in principle alias two distinct label states); null on an
    // empty node set → 0
    def labelSum(df: DataFrame): BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
      if (d == null) BigDecimal(0) else BigDecimal(d)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbors = sym.join(labels, sym("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("label"))
      // lazy checkpoint: the convergence aggregate right below is the
      // action that materializes it — one job per round, not two
      val next = labels.unionByName(viaNeighbors)
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .localCheckpoint(false) // truncate the growing lineage each round
      val nextSum = labelSum(next)
      labels.unpersist(false)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    labels
  }

  /** Duplicate-cluster resolution — pair lists are not enough for a real
    * dedup pass: (a,b),(b,c) must collapse into ONE keep-decision. Runs
    * exact n-gram Jaccard pair generation, then connected components;
    * emits one row per document in a multi-doc cluster with its cluster
    * id (= min doc_id in the cluster, the canonical "keep" doc) and the
    * cluster size. Deterministic end-to-end → recursive-CTE oracle.
    */
  def dedupClusters(documents: DataFrame, k: Int = 5,
                    threshold: Double = 0.5): DataFrame = {
    // the edge table feeds EVERY label-propagation round (plus the
    // node-set build); [[ngramJaccard]] already returns it persisted
    // AND materialized (scopeCaches contract) — re-persisting the same
    // plan here was a no-op that fired CacheManager's "already cached"
    // WARN on every clustering query
    val pairs = ngramJaccard(documents, k, threshold)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // only pair-participating docs can land in a multi-doc cluster, and
    // singletons are filtered below — propagate over the (much smaller)
    // edge-node set, not the whole corpus
    val pairNodes = edges.select(col("src").as("doc_id"))
      .unionByName(edges.select(col("dst").as("doc_id"))).distinct()
    val labels = connectedComponents(edges, pairNodes)
    pairs.unpersist(false) // labels are checkpointed; edge cache done
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Canonicalization — the keep-decision that turns [[dedupClusters]]
    * into an actual dedup pass: per multi-doc cluster, keep the highest-
    * quality member (here: max `n_chars`, ties to the smallest doc_id)
    * and account for what gets dropped. Emits one row per cluster with
    * the representative and the dropped-volume tally. The ranking window
    * partitions by cluster_id — already the data's key after clustering,
    * so no extra shuffle beyond the doc-metadata join.
    */
  def clusterRepresentatives(documents: DataFrame, k: Int = 5,
                             threshold: Double = 0.5): DataFrame = {
    val clusters = dedupClusters(documents, k, threshold)
    val member = clusters.join(documents.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id"))
    member.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id").agg(
        max(col("cluster_size")).cast("int").as("cluster_size"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
        min(when(col("rn") === 1, col("n_chars"))).cast("int").as("rep_chars"),
        sum(when(col("rn") > 1, col("n_chars")).otherwise(0L)).as("dropped_chars"))
      .orderBy("cluster_id")
  }

  /** Estimated Jaccard from two MinHash signatures: the fraction of
    * equal components (the unbiased MinHash estimator).
    */
  def sigJaccard(a: Column, b: Column, numHashes: Int): Column =
    round(aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 6)

  /** Incremental near-dup — the daily-ingest shape: dedup a NEW batch of
    * documents against an already-ingested corpus using only the
    * corpus's STORED MinHash signatures (written once per batch by
    * [[minhashSignatures]], reused forever — the corpus text is never
    * re-shingled or re-read). Candidate pairs come from LSH band-bucket
    * joins and must involve ≥ 1 new document (stored×stored pairs were
    * reported when those batches were ingested); pair similarity is the
    * signature-estimated Jaccard (fraction of equal minhash components),
    * the standard trade-off for not re-reading corpus text. Emits
    * (doc_a, doc_b, est_jaccard, is_cross) with est ≥ `threshold`;
    * `is_cross` marks new-vs-stored pairs (true duplicates of existing
    * corpus content → drop the new copy) vs new-vs-new.
    *
    * `portableHash = true` switches the new batch's signatures and the
    * band keys to the [[md5HashLong]] family (stored sigs must then
    * come from [[minhashSignaturesMd5]]), making candidates AND
    * estimates engine-reproducible — the DuckDB-oracle-matched twin
    * `q_incremental_neardup_md5`.
    */
  def incrementalMinhashNearDup(newDocs: DataFrame, storedSigs: DataFrame,
                                k: Int = 5, numHashes: Int = 64, numBands: Int = 16,
                                threshold: Double = 0.5,
                                portableHash: Boolean = false): DataFrame = {
    val newSh = shingles(newDocs, k)
    val newSigs =
      if (portableHash) minhashSignaturesMd5(newSh, numHashes)
      else minhashSignatures(newSh, numHashes)
    incrementalMinhashNearDupFromSigs(newSigs, storedSigs,
      numHashes, numBands, threshold, portableHash)
  }

  /** [[incrementalMinhashNearDup]] from PRE-COMPUTED new-batch
    * signatures — for compositions that already paid the shingle pass
    * (the doc-ingest audit computes rep signatures once and reuses
    * them for both the banded join and the store fold).
    */
  def incrementalMinhashNearDupFromSigs(newSigs: DataFrame, storedSigs: DataFrame,
                                        numHashes: Int = 64, numBands: Int = 16,
                                        threshold: Double = 0.5,
                                        portableHash: Boolean = false): DataFrame = {
    require(numBands > 0 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    val all = storedSigs.select(col("doc_id"), col("sig"), lit(false).as("is_new"))
      .unionByName(newSigs.select(col("doc_id"), col("sig"), lit(true).as("is_new")))
    val bandCols = (0 until numBands).map { bnd =>
      val parts = (0 until rowsPerBand).map(r => col("sig").getItem(bnd * rowsPerBand + r))
      if (portableHash) concat_ws(":", parts.map(_.cast("string")): _*)
      else xxhash64(lit(bnd) +: parts: _*)
    }
    val banded = all.select(col("doc_id"), col("sig"), col("is_new"),
      posexplode(array(bandCols: _*)))
      .toDF("doc_id", "sig", "is_new", "band_idx", "band_hash")
    // NEW × ALL, never ALL × ALL with the new-side rule as a residual
    // predicate — a stored-heavy band bucket must cost O(new · stored),
    // not O(stored²) enumerated-then-discarded (see
    // bandedHammingPairsIncremental). New/new pairs arrive from both
    // sides; the least/greatest normalization + distinct collapses them.
    val cand = banded.filter(col("is_new")).as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        when(col("x.doc_id") < col("y.doc_id"), col("x.sig"))
          .otherwise(col("y.sig")).as("sig_a"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.sig"))
          .otherwise(col("x.sig")).as("sig_b"),
        (col("x.is_new") =!= col("y.is_new")).as("is_cross"))
      .distinct()
    cand.withColumn("est_jaccard", sigJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard", "is_cross")
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash fingerprint per document: per-token xxhash64, each
    * bit votes ±1, fingerprint bit = sign of the vote sum. One shuffle
    * (groupBy doc_id) through the native single-buffer sketch aggregate
    * ([[graft.functions.SimHashSketch]]; composed twin below).
    */
  def simhash(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    tok.groupBy("doc_id").agg(graft.functions.SimHashSketch
      .simhash_sketch(col("token")).as("simhash"))
  }

  /** Composed-builtins twin of [[simhash]]: 64 conditional-sum
    * aggregates + bit assembly — same fingerprints bit-for-bit.
    */
  def simhashComposed(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val fp = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found
    * by band blocking then exact `bit_count(a^b)` check. Band count is
    * DERIVED as `maxHamming + 1` (pigeonhole: ≤ maxHamming differing
    * bits over maxHamming+1 disjoint bands leaves ≥ 1 band identical),
    * so recall is complete for ANY threshold — a fixed 4-band split
    * would silently miss pairs for maxHamming > 3. Default (3 → four
    * 16-bit bands) is bit-identical to the original scheme.
    *
    * `maxBandBucket` is the corpus-scale skew guard: a heavy band
    * value — canonically the all-zeros fingerprint a mass of
    * empty/near-empty documents shares — makes the band self-join
    * quadratic in that one bucket. Buckets holding more than
    * `maxBandBucket` fingerprints are dropped BEFORE the self-join
    * (same anti-join shape as [[ngramJaccard]]'s shingle df-cap), which
    * bounds per-bucket candidates at maxBandBucket² while keeping every
    * pair that agrees on any NON-degenerate band. Pairs only reachable
    * through a dropped bucket are sacrificed knowingly: such buckets
    * are mass-duplicate clusters that exact dedup ([[exactDedup]])
    * already catches upstream for far less work than a quadratic join.
    *
    * The guard is ON BY DEFAULT with a data-derived cap (`-1` = auto):
    * `max(64, ceil(sqrt(4·R)))` where `R` is the band-row count
    * (fingerprints × bands). The sqrt law is the natural "degenerate"
    * line — a single bucket of size m emits ~m²/2 candidate pairs, so
    * m > sqrt(4R) is precisely when ONE bucket alone exceeds a
    * linear-in-corpus 2R pair budget; any smaller bucket is cheap by
    * definition, and the 64 floor keeps small corpora recall-complete.
    * Duplicate-cluster buckets in a real (exact-deduped) corpus sit far
    * below sqrt(4R), so auto is a no-op outside the degenerate regime —
    * verified on the driver corpus at every SF (rows identical to the
    * unguarded form) and bound-pinned on a mostly-empty corpus in
    * DedupSpec, both with no caller-supplied parameter. `0` disables
    * the guard explicitly (the provably recall-complete form); `> 0`
    * sets a manual cap.
    */
  def simhashNearDup(documents: DataFrame, maxHamming: Int = 3,
                     maxBandBucket: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32): $maxHamming")
    bandedHammingPairs(simhash(documents), "simhash", 64, maxHamming, maxBandBucket)
  }

  /** Shared core of the fingerprint-banding near-dup family: pigeonhole
    * `maxHamming + 1` contiguous bit-slices of a `bits`-wide long
    * fingerprint, band-bucket self-join (with the [[simhashNearDup]]
    * cap law applied to heavy buckets), exact `bit_count(a^b)` verify.
    * The fingerprint frame is cached for the banding pass and released
    * via [[scopeCaches]].
    */
  private[ext] def bandedHammingPairs(fp0: DataFrame, fpCol: String, bits: Int,
                                      maxHamming: Int, maxBandBucket: Int): DataFrame = {
    val fp = fp0.cache()
    val result = bandedHammingPairsLazy(fp, fpCol, bits, maxHamming, maxBandBucket)
      .orderBy("doc_a", "doc_b")
    scopeCaches(result, fp)
  }

  /** The LAZY core of [[bandedHammingPairs]]: assumes `fp` is already
    * cached by the caller and returns the unordered pair frame without
    * materializing anything — for composed consumers (the cluster
    * cores) that fold the pairs into a larger pipeline and must not pay
    * an extra count-and-sort job per sub-step.
    */
  private[graft] def bandedHammingPairsLazy(fp: DataFrame, fpCol: String, bits: Int,
                                            maxHamming: Int, maxBandBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits): $maxHamming")
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * bits / nb)
    val cap: Long =
      if (maxBandBucket > 0) maxBandBucket.toLong
      else if (maxBandBucket == 0) 0L
      else {
        // auto: the fp.count() action doubles as the cache
        // materialisation the banding pass reuses
        val bandRows = fp.count() * nb
        math.max(64L, math.ceil(math.sqrt(4.0 * bandRows)).toLong)
      }
    val bandCols = (0 until nb).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col(fpCol), lo).bitwiseAND(mask)
    }
    val allBands = fp.select(col("doc_id"), col(fpCol),
      posexplode(array(bandCols: _*)))
      .toDF("doc_id", fpCol, "band_idx", "band_val")
    val bands = if (cap <= 0) allBands else {
      val heavy = allBands.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .select("band_idx", "band_val")
      allBands.join(heavy, Seq("band_idx", "band_val"), "left_anti")
    }
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col(s"x.$fpCol").bitwiseXOR(col(s"y.$fpCol"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental twin of [[bandedHammingPairs]]: a NEW batch of
    * fingerprints against a STORED fingerprint table — the daily-ingest
    * regime shared by the perceptual families (image dHash, audio
    * eHash). Banding covers stored ∪ new but candidate pairs require
    * ≥ 1 new side, so stored×stored work is never redone; `is_cross`
    * marks new-vs-stored pairs (true duplicates of already-ingested
    * media). The same safe-by-default heavy-bucket cap guards the join
    * that runs *every day* (degenerate corpora — flat images, silent
    * audio — pile into one bucket per band otherwise): `-1`
    * auto-derives from stored ∪ new size, `0` disables, `> 0` manual.
    */
  private[graft] def bandedHammingPairsIncremental(
      newFp: DataFrame, storedFp: DataFrame, fpCol: String, bits: Int,
      maxHamming: Int, maxBandBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits): $maxHamming")
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * bits / nb)
    val all = storedFp.select(col("doc_id"), col(fpCol), lit(false).as("is_new"))
      .unionByName(newFp.select(col("doc_id"), col(fpCol), lit(true).as("is_new")))
      .cache()
    val cap: Long =
      if (maxBandBucket > 0) maxBandBucket.toLong
      else if (maxBandBucket == 0) 0L
      else {
        // auto: the count() action doubles as cache materialisation —
        // the new batch's decode runs once, not once per banding pass
        val bandRows = all.count() * nb
        math.max(64L, math.ceil(math.sqrt(4.0 * bandRows)).toLong)
      }
    val bandCols = (0 until nb).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftright(col(fpCol), lo).bitwiseAND(mask)
    }
    val allBands = all.select(col("doc_id"), col(fpCol), col("is_new"),
      posexplode(array(bandCols: _*)))
      .toDF("doc_id", fpCol, "is_new", "band_idx", "band_val")
    val banded = if (cap <= 0) allBands else {
      val heavy = allBands.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .select("band_idx", "band_val")
      allBands.join(heavy, Seq("band_idx", "band_val"), "left_anti")
    }
    // candidate pairs require >= 1 new side, so enumerate NEW × ALL —
    // never ALL × ALL with the new-side requirement as a residual
    // predicate, which would enumerate every stored×stored pair inside
    // a bucket before discarding it. In the daily regime (store >> new)
    // that is the difference between O(S²) and O(N·S) per bucket — the
    // join that runs every day must be bounded by the batch, not the
    // store. A new/new pair arrives twice (once per side); the
    // least/greatest normalization + distinct collapses it.
    val result = banded.filter(col("is_new")).as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col(s"x.$fpCol").bitwiseXOR(col(s"y.$fpCol"))).as("hamming"),
        (col("x.is_new") =!= col("y.is_new")).as("is_cross"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
    scopeCaches(result, all)
  }

  /** Engine-portable SimHash twin over the [[md5HashLong]] family: a
    * 60-bit fingerprint (one md5-60bit hash per whitespace token, bit b
    * votes ±1, fingerprint bit = sign of the vote sum). Same algorithm
    * as [[simhash]], but every hash value is reproducible by any
    * md5-capable engine — which is what puts the simhash near-dup path
    * under the DuckDB oracle the way `q_minhash_neardup_md5` did for
    * minhash (xxhash64 stays the production default: one fused sketch
    * aggregate vs 60 vote columns).
    */
  def simhashMd5(documents: DataFrame, bits: Int = 60): DataFrame = {
    require(bits > 0 && bits <= 60, s"md5HashLong yields 60 bits: $bits")
    val tok = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .withColumn("h", md5HashLong(col("token"), 0))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** [[simhashNearDup]] over the portable [[simhashMd5]] fingerprints —
    * the oracle-matched twin (`q_simhash_neardup_md5`): same pigeonhole
    * banding (recall-complete, so banded ≡ exact quadratic) and the
    * same heavy-bucket cap semantics, over 60 portable bits.
    */
  def simhashNearDupMd5(documents: DataFrame, maxHamming: Int = 3,
                        maxBandBucket: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32): $maxHamming")
    bandedHammingPairs(simhashMd5(documents), "simhash", 60, maxHamming, maxBandBucket)
  }

  /** Cross-document repeated spans: word k-grams occurring in at least
    * `minDocs` DISTINCT documents, with occurrence totals — the
    * span-level exact-duplication audit (the signal behind
    * substring-dedup pipelines: memorization-prone spans repeat across
    * documents, not within one). Unlike [[shingles]] this keeps every
    * occurrence (no array_distinct), so within-doc repeats count toward
    * `n_occurrences` but only cross-doc presence passes the `minDocs`
    * gate. One shuffle on the span key with map-side combine; the
    * top-N emission bounds output at any corpus size.
    */
  def repeatedSpans(documents: DataFrame, k: Int = 5, minDocs: Int = 2,
                    topN: Int = 50): DataFrame = {
    val tokens = split(col("text"), " ")
    documents
      .select(col("doc_id"), tokens.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k))))).as("span"))
      // two-level aggregation instead of COUNT(DISTINCT …): the
      // (span, doc) pre-agg gets map-side combine and the second agg is
      // plain counts — no Expand doubling the exploded span volume
      .groupBy("span", "doc_id").agg(count(lit(1)).as("n_occ"))
      .groupBy("span").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_occ")).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(topN)
  }

  /** Containment (asymmetric) near-dup — |A∩B| / |A| instead of
    * Jaccard's symmetric ratio. The excerpt/quote detector: a short
    * document wholly quoted inside a long one scores containment ≈ 1.0
    * while its Jaccard stays near |A|/|B| — symmetric dedup never sees
    * it. Emits DIRECTED pairs (contained_doc, container_doc); both
    * directions of each undirected shingle intersection are scored
    * from the same aggregated row, so the pair join runs once.
    *
    * Same scale shape as [[ngramJaccard]] (shared shingle cache,
    * df-cap anti-join against corpus-proportional stop-shingles, AQE
    * picks the join strategies); containment ≥ jaccard always, so the
    * default threshold is set above the jaccard default.
    */
  def containmentNearDup(documents: DataFrame, k: Int = 5,
                         threshold: Double = 0.6,
                         maxShingleDf: Int = 1000): DataFrame = {
    val sh = shingles(documents, k).persist()
    val overflow = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("shingle")
    val kept = sh.join(overflow, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = kept.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val sized = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
    // both directions from ONE aggregated pair row via conditional
    // explode (the SCD2 pattern) — a two-select union would re-run the
    // pair join + aggregation once per direction through the lineage
    val result = sized.select(explode(array(
        struct(col("doc_a").as("contained_doc"), col("doc_b").as("container_doc"),
          round(col("n_inter").cast("double") / col("n_a"), 6).as("containment")),
        struct(col("doc_b").as("contained_doc"), col("doc_a").as("container_doc"),
          round(col("n_inter").cast("double") / col("n_b"), 6).as("containment"))))
        .as("p"))
      .select(col("p.contained_doc"), col("p.container_doc"), col("p.containment"))
      .filter(col("containment") >= threshold)
      .orderBy("contained_doc", "container_doc")
    scopeCaches(result, sh)
  }

  /** Repeated-span REMOVAL — the surgery step [[repeatedSpans]] only
    * audits (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": cross-document duplicated substrings are
    * the memorization-prone content worth cutting, not whole docs).
    * Every token covered by any word `k`-gram that appears in ≥
    * `minDocs` distinct documents is dropped; the document is
    * reassembled from the surviving tokens in position order.
    *
    * Scale design: the gram stream is reduced to a portable 60-bit
    * [[md5HashLong]] BEFORE any shuffle, so the duplicated-span set and
    * the coverage join move fixed-width longs instead of k-token
    * strings (at 100 TB the gram shuffle is the whole cost). The hash
    * is engine-reproducible, so the DuckDB oracle runs the identical
    * pipeline — a collision would merge two spans for BOTH engines
    * (and at 60 bits is vanishing anyway). Three shuffles total: the
    * dup-set aggregation, the coverage join, the per-doc rebuild —
    * each keyed to spread (hash / doc_id), none global.
    */
  def removeRepeatedSpans(documents: DataFrame, k: Int = 5,
                          minDocs: Int = 2): DataFrame = {
    val toks = split(col("text"), " ")
    val base = documents.select(col("doc_id"), toks.as("toks"))
    // (doc_id, start, gram-hash) — one row per k-gram occurrence
    val grams = base.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("toks")) - k),
          i => md5HashLong(concat_ws(" ", slice(col("toks"), i + 1, lit(k))), 0))))
      .toDF("doc_id", "start", "h")
    // spans present in >= minDocs docs: two-level agg (map-side combine,
    // no COUNT-DISTINCT Expand), same shape as repeatedSpans
    val dup = grams.groupBy("h", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("h")
    // token positions covered by any duplicated gram occurrence
    val covered = grams.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val tokensPos = base
      .select(col("doc_id"), posexplode(col("toks"))).toDF("doc_id", "pos", "tok")
    // rebuild from surviving tokens; array_sort on (pos, tok) structs
    // restores order (collect_list order is partition-nondeterministic)
    val kept = tokensPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id").agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    // left join from base: a fully-covered doc has NO surviving tokens
    // (empty result string), and short docs (< k tokens) pass through
    base.join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("kept_text"), lit("")).as("text_clean"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
      .orderBy("doc_id")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm). Text is normalized (lowercase,
    * non-alphanumerics stripped), char `k`-grams are hashed with the
    * engine-portable [[md5HashLong]] family, and each sliding window of
    * `w` consecutive gram hashes contributes its minimum — the
    * fingerprint set is the distinct (doc_id, fp) pairs. Guarantee: any
    * shared substring of at least `w + k - 1` chars yields at least one
    * shared fingerprint, while storing only ~2/(w+1) of the gram hashes.
    *
    * Scale design: the explode is per-char but strictly linear, and the
    * window is PARTITIONED BY doc_id (ordered by gram position) — one
    * hash shuffle on doc_id, never a global window. The portable hash
    * makes the whole pipeline reproducible in any md5-capable engine,
    * so it runs under the DuckDB oracle (`q_winnow_fingerprints`).
    * Documents shorter than `k + w - 1` normalized chars produce no
    * fingerprints (no full window exists — guarded, `sequence` never
    * descends).
    */
  def winnowFingerprints(documents: DataFrame, k: Int = 8, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    val norm = lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", ""))
    val fps = org.apache.spark.sql.GraftBridge.column(
      graft.functions.WinnowFps(
        org.apache.spark.sql.GraftBridge.expression(norm), k, w))
    // the expression returns the doc's DISTINCT minima, so exploding it
    // IS the distinct (doc_id, fp) set — no exchange anywhere in the
    // plan: scan → project → generate, all inside one codegen stage
    documents
      .select(col("doc_id"), explode(fps).as("fp"))
  }

  /** The pre-expression winnowing pipeline — one row per character
    * through a doc-partitioned sliding-min window, then distinct. Kept
    * as the equality twin for [[winnowFingerprints]] (identical output
    * pinned in DedupSpec): same normalization, same portable hash, same
    * full-window rule, expressed in built-in operators only.
    */
  def winnowFingerprintsComposed(documents: DataFrame, k: Int = 8, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val norm = lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", ""))
    documents
      .select(col("doc_id"), norm.as("t"))
      .filter(length(col("t")) >= k + w - 1)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5HashLong(col("t").substr(col("pos"), lit(k)), 0).as("h"),
        (length(col("t")) - (k - 1)).as("n_grams"))
      .select(col("doc_id"), col("pos"), col("n_grams"),
        min(col("h")).over(win).as("fp"))
      // only full windows — AFTER the min, so boundary windows see all
      // their grams: a window starting at pos covers grams
      // [pos, pos + w - 1], so pos must not exceed n_grams - w + 1
      .filter(col("pos") <= col("n_grams") - (w - 1))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Near-duplicate pairs by winnowing-fingerprint overlap: documents
    * whose shared fingerprints cover at least `overlapThreshold` of the
    * smaller document's fingerprint set (each shared fingerprint
    * witnesses a common substring of `w + k - 1`+ chars; the fraction
    * makes the test length-invariant — an absolute count would flag
    * template-corpus noise and miss short dups). Fingerprints appearing
    * in more than `maxDf` documents are dropped before the self-join —
    * the boilerplate guard that also bounds bucket size at scale (same
    * posture as the shingle df-cap: the join is bucketed by
    * fingerprint, never all-pairs). Fully oracle-expressible
    * (`q_winnow_neardup`).
    */
  /** LSH banding calibration: the measured recall S-curve of
    * md5-minhash band-bucket candidate generation against EXACT shingle
    * Jaccard ground truth, one row per 0.1-wide similarity bucket
    * (`bucket10` = ⌊10·jaccard⌋) with the true-pair count, the count
    * the banding caught, and the caught fraction. This is the "measure,
    * don't guess" knob-tuner for (numHashes, numBands): the curve makes
    * the banding threshold ≈ (1/b)^(1/r) and its sharpness visible on
    * the operator's own corpus instead of trusting the textbook
    * formula.
    *
    * Truth pairs follow the [[ngramJaccard]] contract (df-capped
    * intersection, full-set sizes); candidates replay
    * [[minhashNearDup]]'s portable-hash banding, so the whole
    * evaluation — including the probabilistic LSH side — runs under the
    * DuckDB oracle (`q_lsh_recall_curve`). The ground-truth self-join
    * is the quadratic exact baseline: at 100 TB you run this on a
    * sampled slice (the curve is a per-pair property, so uniform doc
    * sampling preserves it), never the full corpus.
    */
  def lshRecallCurve(documents: DataFrame, k: Int = 5, numHashes: Int = 16,
                     numBands: Int = 8, minJaccard: Double = 0.1,
                     maxShingleDf: Int = 1000): DataFrame = {
    require(numBands > 0 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    val sh = shingles(documents, k).persist()
    val overflow = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("shingle")
    val kept = sh.join(overflow, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = kept.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = kept.select(col("doc_id").as("doc_b"), col("shingle"))
    val truth = a.join(b, "shingle").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= minJaccard)
    val sig = minhashSignaturesMd5(sh, numHashes)
    val bandCols = (0 until numBands).map { bnd =>
      val parts = (0 until rowsPerBand).map(r => col("sig").getItem(bnd * rowsPerBand + r))
      concat_ws(":", parts.map(_.cast("string")): _*)
    }
    val banded = sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band_idx", "band_hash")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val curve = truth
      .join(cand.withColumn("caught", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("int").as("bucket10"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall", round(col("n_caught").cast("double") / col("n_pairs"), 6))
      .orderBy("bucket10")
    scopeCaches(curve, sh)
  }

  def winnowNearDup(documents: DataFrame, k: Int = 8, w: Int = 8,
                    overlapThreshold: Double = 0.4, maxDf: Int = 50): DataFrame = {
    val fps = winnowFingerprints(documents, k, w)
    val kept = fps.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= maxDf).drop("df")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("sa.n"), col("sb.n")), 6).as("overlap"))
      .filter(col("overlap") >= overlapThreshold)
      .orderBy("doc_a", "doc_b")
  }
}
