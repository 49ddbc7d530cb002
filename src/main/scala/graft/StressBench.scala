package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress harness: replicates the sf0.1 tables ×N with key offsets
  * (join semantics preserved — each replica is a disjoint key space) to
  * exercise the heavy operators at sf1-equivalent volume on this
  * machine. Prints one JSON line of per-query seconds.
  *
  * Replication is an `explode(sequence(...))` fan-out (one scan, no
  * N-way union) with shifted keys: equi-joins stay 1:1 per replica —
  * naive duplication would square join outputs and measure the blowup,
  * not the operator. So the harness grows the NUMBER of groups, never
  * their size: each replica's keys form groups of their own.
  *
  * Usage: StressBench [sfDir] [factor]   (CPUs from SPARK_GRAFT_CPUS, default 4)
  */
object StressBench {

  val KEY_OFFSET = 100000000L

  /** Fan out `df` ×n; columns in `keyCols` get a disjoint value range
    * per replica (`+ rep * KEY_OFFSET`), everything else duplicates.
    */
  def replicate(df: DataFrame, n: Int, keyCols: Seq[String]): DataFrame = {
    val rep = df.withColumn("__rep", explode(sequence(lit(0), lit(n - 1))))
    keyCols.foldLeft(rep) { (d, c) =>
      d.withColumn(c, d(c) + col("__rep").cast("long") * KEY_OFFSET)
    }.drop("__rep")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warmup

    val li = replicate(Tables.lineitem(spark, sfDir), factor, Seq("l_orderkey"))
    val o = replicate(Tables.orders(spark, sfDir), factor, Seq("o_orderkey", "o_custkey"))
    val c = replicate(Tables.customer(spark, sfDir), factor, Seq("c_custkey"))
    val docs = replicate(Tables.documents(spark, sfDir), factor, Seq("doc_id"))
    val emb = replicate(Tables.embeddings(spark, sfDir), factor, Seq("vec_id"))
    def ev = replicate(Tables.events(spark, sfDir), factor, Seq("event_id", "user_id"))
    // per-run staging root: suffixed with the applicationId so two
    // concurrent StressBench runs on one host never scan each other's
    // half-written parquet (the MediaFixtures staging discipline), and
    // registered for shutdown deletion so repeated runs don't
    // accumulate replicated corpora in tmpdir unboundedly
    def stressTmp(name: String): String = {
      val p =
        s"${System.getProperty("java.io.tmpdir")}/${name}_${spark.sparkContext.applicationId}"
      Tables.deleteOnExit(p)
      p
    }
    val sketchDir = stressTmp("graft_stress_sketches")
    // materialized replicated corpus (see the global-order A/B below);
    // lazy so runs that filter those queries out never pay the write
    lazy val docsPq = {
      val p = stressTmp("graft_stress_docs")
      docs.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    // SPARK_GRAFT_ONLY=a,b restricts the run (same contract as Bench) —
    // the by-name body never evaluates for filtered-out entries, so a
    // targeted re-measure pays only its own queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    def time(name: String, f: => Long): Option[(String, Double, Long)] =
      if (!selected(name)) None
      else {
        val t0 = System.nanoTime()
        val n = f
        Some((name, (System.nanoTime() - t0) / 1e9, n))
      }
    // pay the corpus materialization OUTSIDE the timed bodies
    val corpusConsumers = Set("token_budget_twopass", "token_budget_window",
      "curriculum_twopass", "curriculum_window", "negative_samples_twopass",
      "negative_samples_window", "shard_manifest_export", "curation_funnel",
      "multimodal_funnel", "media_curation_report")
    if (only.forall(o => (o & corpusConsumers).nonEmpty)) { docsPq; () }

    // ×factor media corpora on parquet sidecars, pre-materialized
    // UNTIMED — a stress row that encodes ~325k PNG frames inside its
    // timed body measures the fixture encoder, not the operator (the
    // encode share depressed the capped-vs-uncapped guard ratios it
    // exists to demonstrate). A real pipeline reads stored payloads.
    val mediaRowKinds: Map[String, Seq[String]] = Map(
      "image_dhash" -> Seq("png_clusters"),
      "audio_ehash" -> Seq("wav_clusters"),
      "video_phash" -> Seq("video_clusters"),
      "video_scenes" -> Seq("video_scenes"),
      "multimodal_funnel" -> Seq("png_skewed"),
      "image_neardup_skew_capped" -> Seq("png_skewed"),
      "image_neardup_skew_uncapped" -> Seq("png_skewed"),
      "image_neardup_inc_skew_capped" -> Seq("png_skewed"),
      "image_neardup_inc_skew_uncapped" -> Seq("png_skewed"),
      "image_clusters_skew_uncapped" -> Seq("png_skewed"),
      "audio_clusters_skew_uncapped" -> Seq("wav_skewed"),
      "video_clusters_junk_uncapped" -> Seq("video_junk"),
      "audio_neardup_inc_skew_capped" -> Seq("wav_skewed"),
      "audio_neardup_inc_skew_uncapped" -> Seq("wav_skewed"),
      "video_neardup_inc_skew_capped" -> Seq("video_junk"),
      "video_neardup_inc_skew_uncapped" -> Seq("video_junk"),
      "media_curation_report" -> Seq("png_skewed", "wav_skewed", "video_junk"),
      "media_ingest_day_small_store" -> Seq("png_skewed", "wav_skewed", "video_junk"),
      "media_ingest_day_large_store" -> Seq("png_skewed", "wav_skewed", "video_junk"),
      "media_ingest_day_exemplar_store" -> Seq("png_skewed", "wav_skewed", "video_junk"),
      "media_ingest_day_exemplar_store_x10" -> Seq("png_skewed", "wav_skewed", "video_junk"),
      "media_ingest_day_redundant_store_x10" -> Seq("png_skewed", "wav_skewed", "video_junk"))
    // same warm read as MediaFixtures.ensureFor: a bare count() answers
    // from row-group metadata and leaves pre-existing sidecars' payload
    // pages cold, so the first timed pass would pay the cold read
    mediaRowKinds.collect { case (row, ks) if selected(row) => ks }
      .flatten.toSeq.distinct
      .foreach { k =>
        MediaFixtures.tableReplicated(spark, sfDir, k, factor)
          .selectExpr("sum(length(payload))").collect()
        (): Unit
      }
    def fixture(kind: String): DataFrame =
      MediaFixtures.tableReplicated(spark, sfDir, kind, factor)

    // stored-side fingerprint tables for the incremental (daily-ingest)
    // rows, computed UNTIMED: the incremental operators take stored
    // HASHES as input by contract — in the daily regime yesterday's
    // hashes are a stored table, so charging the timed body for
    // producing its own input misstated what a day costs. 80/20
    // stored/new split as before.
    def prepped(f: => DataFrame): DataFrame = { val d = f.persist(); d.count(); d }
    lazy val storedIdh = prepped(ext.Multimodal.imageDhash(spark,
      fixture("png_skewed").filter(col("doc_id") % 5 =!= 0)))
    lazy val storedAeh = prepped(ext.Multimodal.audioEhash(spark,
      fixture("wav_skewed").filter(col("doc_id") % 5 =!= 0)))
    lazy val storedVph = prepped(ext.Multimodal.videoPhash(spark,
      fixture("video_junk").filter(col("doc_id") % 5 =!= 0))
      .select("doc_id", "slot", "dhash"))
    if (Seq("image_neardup_inc_skew_capped", "image_neardup_inc_skew_uncapped")
      .exists(selected)) { storedIdh; () }
    if (Seq("audio_neardup_inc_skew_capped", "audio_neardup_inc_skew_uncapped")
      .exists(selected)) { storedAeh; () }
    if (Seq("video_neardup_inc_skew_capped", "video_neardup_inc_skew_uncapped")
      .exists(selected)) { storedVph; () }
    // the daily-cadence claim, measured two ways against the SAME new
    // batch (10% of the corpus):
    //
    //   raw stores (small = 10%, large = 90% of the corpus, near-dup
    //   mass and all): the audit collapses IDENTICAL fingerprints on
    //   both sides, but the fixture's non-flat cluster members sit 1
    //   bit apart — distinct hashes that share 6 of 7 bands — so a
    //   raw store pays stored×stored candidate enumeration inside the
    //   heavy buckets (the residual is_new predicate drops the pairs
    //   AFTER the bucket join emits them). Day cost therefore tracks
    //   the store's NEAR-DUP structure, not its row count — the
    //   measured small-vs-large gap is the cost of ingesting against
    //   an undeduplicated store;
    //
    //   exemplar stores (x1 = batch-sized, x10 = 10× that): the store
    //   the multi-day chain actually keeps — deduplicated exemplar
    //   fingerprints, mutually non-near-dup (synthesized spread
    //   hashes: that IS a deduped store's shape; stored payloads never
    //   exist server-side, the audit takes hash tables by contract).
    //   No heavy buckets by construction, so 10× store must cost far
    //   less than 10× wall — the flat-day-cost evidence the chain
    //   (CurationSpec) rests on at scale.
    def storeHashes(pred: org.apache.spark.sql.Column): (DataFrame, DataFrame, DataFrame) = (
      prepped(ext.Multimodal.imageDhash(spark, fixture("png_skewed").filter(pred))),
      prepped(ext.Multimodal.audioEhash(spark, fixture("wav_skewed").filter(pred))),
      prepped(ext.Multimodal.videoPhash(spark, fixture("video_junk").filter(pred))
        .select("doc_id", "slot", "dhash")))
    lazy val smallStore = storeHashes(col("doc_id") % 10 === 1)
    lazy val largeStore = storeHashes(col("doc_id") % 10 =!= 0)
    def exemplarStore(n: Long): (DataFrame, DataFrame, DataFrame) = {
      val mask = Long.MaxValue // fingerprints are 63-bit
      val ids = spark.range(n).select((col("id") + 1000000000L).as("doc_id"))
      (prepped(ids.select(col("doc_id"),
          xxhash64(col("doc_id")).bitwiseAND(lit(mask)).as("dhash"))),
        prepped(ids.select(col("doc_id"),
          xxhash64(col("doc_id"), lit("a")).bitwiseAND(lit(mask)).as("ehash"))),
        prepped(ids.select(col("doc_id"),
            explode(sequence(lit(0), lit(3))).as("slot"))
          .select(col("doc_id"), col("slot"),
            xxhash64(col("doc_id"), col("slot")).bitwiseAND(lit(mask)).as("dhash"))))
    }
    lazy val exemplarX1 = exemplarStore(5000L * factor / 10)
    lazy val exemplarX10 = exemplarStore(5000L * factor)
    // the compaction-payoff twin: the SAME distinct content as
    // exemplarX1 but with every fingerprint stored 10× under distinct
    // doc_ids — the raw store an append-only fold accumulates before
    // ingestStoreCompact runs. The audit collapses stored sides to
    // distinct fingerprints by contract, so the wall delta vs the
    // exemplar row is the pure scan+collapse cost redundancy adds —
    // i.e. what compaction reclaims per day, measured.
    def redundantStore(n: Long, copies: Int): (DataFrame, DataFrame, DataFrame) = {
      val mask = Long.MaxValue
      val fan = spark.range(n).select((col("id") + 1000000000L).as("base"))
        .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
        .select((col("base") + col("c") * 10000000L).as("doc_id"), col("base"))
      (prepped(fan.select(col("doc_id"),
          xxhash64(col("base")).bitwiseAND(lit(mask)).as("dhash"))),
        prepped(fan.select(col("doc_id"),
          xxhash64(col("base"), lit("a")).bitwiseAND(lit(mask)).as("ehash"))),
        prepped(fan.select(col("doc_id"), col("base"),
            explode(sequence(lit(0), lit(3))).as("slot"))
          .select(col("doc_id"), col("slot"),
            xxhash64(col("base"), col("slot")).bitwiseAND(lit(mask)).as("dhash"))))
    }
    lazy val redundantX1x10 = redundantStore(5000L * factor / 10, 10)
    // the TEXT ingest audit's stores (doc_ingest_day rows): canonical
    // urls + text md5s + MinHash signatures, computed UNTIMED (stored
    // fingerprints are a table by contract, as in the media rows).
    // Replication preserves doc_id % 10 (KEY_OFFSET ≡ 0 mod 10), so
    // the 10%-new batch is every replica of every %10==0 text — the
    // identical-text collapse carries ~500 reps into the banding.
    lazy val docsFix = prepped(ext.TextOps.withSyntheticDupText(
      ext.WebOps.withSyntheticMessyUrl(docsPq)))
    def docStore(pred: org.apache.spark.sql.Column)
        : (DataFrame, DataFrame, DataFrame) = (
      prepped(ext.WebOps.canonicalizeUrl(docsFix.filter(pred))
        .select("canonical_url")),
      prepped(docsFix.filter(pred).select(md5(col("text")).as("text_md5"))),
      prepped(ext.Dedup.minhashSignaturesMd5(
        ext.Dedup.shingles(docsFix.filter(pred)), numHashes = 16)))
    lazy val docSmallStore = docStore(col("doc_id") % 10 === 1)
    lazy val docLargeStore = docStore(col("doc_id") % 10 =!= 0)
    def docIngestDay(store: (DataFrame, DataFrame, DataFrame)): Long = {
      val a = ext.Curation.docIngestAudit(spark,
        docsFix.filter(col("doc_id") % 10 === 0), store._1, store._2, store._3)
      val n = a.count(); a.unpersist(false); n
    }
    if (selected("media_ingest_day_small_store")) { smallStore; () }
    if (selected("media_ingest_day_large_store")) { largeStore; () }
    if (selected("media_ingest_day_exemplar_store")) { exemplarX1; () }
    if (selected("media_ingest_day_exemplar_store_x10")) { exemplarX10; () }
    if (selected("media_ingest_day_redundant_store_x10")) { redundantX1x10; () }
    if (selected("doc_ingest_day_small_store")) { docSmallStore; () }
    if (selected("doc_ingest_day_large_store")) { docLargeStore; () }
    // the EMBEDDING ingest audit's stores (emb_ingest_day rows): int8
    // code tables computed UNTIMED (stored codes are a table by
    // contract — the fold writes them once; a day never re-quantizes
    // the store). KEY_OFFSET ≡ 0 mod 10, so the 10%-new batch is every
    // replica of every %10==0 vector; replicas share the embedding, so
    // identical codes collapse to reps before the broadcast scan
    lazy val embSmallCodes = prepped(ext.Similarity.quantizedCodes(
      emb.filter(col("vec_id") % 10 === 1)).filter(col("qsq") > 0)
      .select("vec_id", "qv", "qsq", "dig"))
    lazy val embLargeCodes = prepped(ext.Similarity.quantizedCodes(
      emb.filter(col("vec_id") % 10 =!= 0)).filter(col("qsq") > 0)
      .select("vec_id", "qv", "qsq", "dig"))
    def embIngestDay(store: DataFrame): Long = {
      val a = ext.Similarity.embeddingIngestAudit(
        emb.filter(col("vec_id") % 10 === 0), store)
      val n = a.count(); a.unpersist(false); n
    }
    if (selected("emb_ingest_day_small_store")) { embSmallCodes; () }
    if (selected("emb_ingest_day_large_store")) { embLargeCodes; () }
    // the IVF index rows run over a MATERIALIZED parquet corpus: the
    // index paths persist their one quantization pass, and against the
    // replicate() explode lineage a persist only adds cost (recompute
    // is free there — a fixture artifact; production corpora are bytes
    // on disk). quantized_scan_stored is their brute A/B on the same
    // corpus form.
    lazy val embPq = {
      val p = stressTmp("graft_stress_emb")
      emb.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    // seed-code IVF index: the stored side's centroids are a persisted
    // artifact (ivfIndexStoreInit writes them once), so the incremental
    // day row builds them UNTIMED — the timed body is exactly what a
    // day pays: quantize the batch + one O(batch × nList) argmax
    lazy val ivfDayCents =
      ext.Similarity.ivfSeedCentroids(embPq.filter(col("vec_id") % 10 =!= 0))
    if (selected("ivf_index_assign_day")) { ivfDayCents; () }
    if (selected("ivf_index_topk") || selected("ivf_index_build")) { embPq; () }
    // the production QUERY path: the index is a persisted artifact
    // (built once, untimed); the timed body is what a query batch
    // pays — rank 16 centroids, then read ONLY the probed hive
    // partitions of the assignment store
    lazy val ivfStoreDir = {
      val p = stressTmp("graft_stress_ivf_store")
      ext.Similarity.ivfIndexStoreInit(embPq, p)
      p
    }
    if (Seq("ivf_store_probe", "ivf_store_stream_day",
        "ivf_store_compact").exists(selected)) { ivfStoreDir; () }
    // the same persisted index with its PQ sidecar built (untimed —
    // a derived artifact written once); the timed row is the ADC probe
    // that reads the SAME probed partitions at 8 bytes/row instead of
    // the int8 probe's 64
    lazy val ivfPqStoreDir = {
      val p = ivfStoreDir
      ext.Similarity.ivfIndexStorePqBuild(spark, p)
      p
    }
    if (Seq("ivfpq_store_probe", "ivfpq_store_probe_w1",
        "ivfpq_store_probe_w8").exists(selected)) { ivfPqStoreDir; () }
    // round-18: the same store with its Matryoshka prefix sidecar
    // (untimed build); the timed probe's shortlist reads d/dim of the
    // ranking bytes of the probed lists, then exactly reranks only the
    // shortlist
    lazy val ivfPrefixStoreDir = {
      val p = ivfStoreDir
      ext.Similarity.ivfIndexStorePrefixBuild(spark, p)
      p
    }
    if (selected("ivf_truncated_probe_d16")) { ivfPrefixStoreDir; () }
    // round-18 session 2: the MANIFESTED store over the SAME corpus as
    // ivf_store_compact's flat store, with one pending day of ~50
    // near-identical vectors (a planted single-cluster batch) that all
    // land in ONE list — the matched A/B: the incremental fold rewrites
    // that one partition's files; the flat compact rewrites the whole
    // store. Setup (init + day stream) untimed, like every store row.
    lazy val ivfIncDir = {
      val p = stressTmp("graft_stress_ivf_inc")
      ext.IvfIncremental.init(embPq, p)
      ext.Similarity.ivfIndexStreamDay(spark,
        ext.Similarity.plantedClusterEmbeddings(embPq)
          .filter(col("vec_id") % 8 === 2 && col("vec_id") < 400)
          .withColumn("vec_id", col("vec_id") + lit(4000000000L)),
        0L, p)
      p
    }
    if (selected("ivf_store_incfold")) { ivfIncDir; () }
    // the LEXICAL manifested store with one pending single-bucket day
    // (a tiny fixed vocabulary hashes to one bucket) — the matched A/B
    // vs bm25_store_compact's whole-store fold, like the IVF pair
    lazy val lexIncDir = {
      val p = stressTmp("graft_stress_lex_inc")
      ext.LexIncremental.init(docsPq, p)
      ext.TextOps.bm25IndexStreamDay(spark,
        docsPq.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + lit(4000000000L))
          .withColumn("text", lit("daytoken daytoken daytoken")),
        0L, p)
      p
    }
    if (selected("bm25_store_incfold")) { lexIncDir; () }
    // round-17: the persisted LEXICAL index — built once over the
    // MATERIALIZED replicated corpus (untimed, like every store
    // artifact), probed per query batch. The timed row below reads
    // ONLY the query-vocabulary buckets of postings/dfreq plus the one
    // stats row — the per-call bill no longer contains the corpus tf
    // aggregate, so its growth must track the matched postings rows,
    // not the corpus (compare hybrid_rrf, which re-pays the aggregate)
    lazy val lexStoreDir = {
      val p = stressTmp("graft_stress_lex_store")
      ext.TextOps.bm25IndexInit(docsPq, p)
      p
    }
    if (Seq("bm25_store_probe", "bm25_store_stream_day",
        "bm25_store_compact", "bm25_store_append").exists(selected)) {
      lexStoreDir; ()
    }
    // round-18: the lexical store WITH its block-max impact sidecar
    // (untimed build — a derived artifact); the timed A/B below is the
    // exhaustive vs pruned ranker at EQUAL output
    lazy val lexImpactDir = {
      val p = lexStoreDir
      ext.TextOps.bm25ImpactBuild(spark, p)
      p
    }
    if (Seq("bm25_exhaustive_rank", "bm25_pruned_rank")
        .exists(selected)) { lexImpactDir; () }
    // DELIBERATELY skewed persisted index (untimed setup): seeds drawn
    // from the replicas of just TWO base vectors — most seeds carry an
    // identical code, ties break to the lowest centroid id, so the
    // whole corpus crowds into ~2 giant lists (max share ≈ 0.5). The
    // probe/reseed rows below price that skew and its repair.
    lazy val ivfSkewDir = {
      val p = stressTmp("graft_stress_ivf_skew")
      ext.Similarity.ivfIndexStoreInit(
        emb.filter(col("vec_id") % KEY_OFFSET <= 1), p)
      ext.Similarity.ivfIndexStoreAppend(spark,
        emb.filter(col("vec_id") % KEY_OFFSET > 1), p)
      p
    }
    Seq("ivf_store_probe_skewed", "ivf_store_occupancy_skewed",
      "ivf_store_reseed", "ivf_store_probe_reseeded").foreach(n =>
      if (selected(n)) { ivfSkewDir; () })
    // centroid-scoring A/B setup (shared, untimed): seed matrices at
    // the production nList (16) and at the size that killed the
    // unrolled form (256); the timed bodies run the full-corpus argmax
    lazy val cents16 =
      ext.Similarity.collectSeedCentroids(ext.Similarity.ivfSeedCentroids(embPq, 16))
    lazy val cents256 =
      ext.Similarity.collectSeedCentroids(ext.Similarity.ivfSeedCentroids(embPq, 256))
    Seq("centroid_score_native_16", "centroid_score_unrolled_16").foreach(n =>
      if (selected(n)) { cents16; () })
    Seq("centroid_score_native_256", "centroid_score_unrolled_256").foreach(n =>
      if (selected(n)) { cents256; () })
    // the sum over best.sim/nid forces the score loop on every row —
    // a bare count would let column pruning skip the computation
    def centroidArgmaxSum(score: org.apache.spark.sql.Column): Long = {
      val best = ext.Similarity.quantizedCodes(embPq).filter(col("qsq") > 0)
        .select(array_max(score).as("best"))
      best.agg(sum(col("best.nid"))).collect()(0).getLong(0)
    }
    if (selected("quantized_scan_stored")) { embPq; () }
    // stored-code scan A/B: the same brute top-k from a code TABLE in
    // both physical forms — array<int> vs packed binary (1 byte per
    // element). Stores written untimed (codes are written once by the
    // ingest fold); the timed body is purely the scan + integer dots,
    // so the delta is the bandwidth the packing saves
    lazy val codeStores = {
      val base = stressTmp("graft_stress_codes")
      ext.Similarity.quantizedCodes(embPq).filter(col("qsq") > 0)
        .select("vec_id", "qv", "qsq")
        .write.mode("overwrite").parquet(s"$base/ints")
      ext.Similarity.quantizedByteCodes(embPq).filter(col("qsq") > 0)
        .write.mode("overwrite").parquet(s"$base/bytes")
      base
    }
    if (selected("quantized_store_scan_ints") ||
      selected("quantized_store_scan_bytes")) { codeStores; () }
    // PQ tier of the same A/B: an ADC scan reads nSub bytes + one long
    // per vector (vs the int8 store's dim bytes) and pays nSub lookup
    // adds per pair (vs dim multiply-adds). Codebook + codes written
    // untimed (a persisted PQ index encodes once at ingest); the timed
    // body is the asymmetric scan — float queries quantize on the
    // bounded side only
    lazy val pqStore = {
      val base = stressTmp("graft_stress_pq")
      val matrix = ext.Similarity.pqCodebookFromEmbeddings(embPq)
      ext.Similarity.pqCodesFrame(embPq, matrix)
        .write.mode("overwrite").parquet(s"$base/codes")
      (base, matrix)
    }
    if (selected("pq_store_scan")) { pqStore; () }
    // the native centroid loop at PRODUCTION nList: 4096 lists is the
    // real coarse-quantizer size for a 100 TB corpus (FAISS-style
    // sqrt(N) sizing); the unrolled twin is not even attempted there —
    // its generated code died past a few hundred. The row exists to
    // show the native loop's cost scales only in arithmetic.
    lazy val cents4096 =
      ext.Similarity.collectSeedCentroids(ext.Similarity.ivfSeedCentroids(embPq, 4096))
    if (selected("centroid_score_native_4096")) { cents4096; () }
    def ingestDay(store: (DataFrame, DataFrame, DataFrame)): Long = {
      val a = ext.Curation.mediaIngestAudit(spark,
        fixture("png_skewed").filter(col("doc_id") % 10 === 0),
        fixture("wav_skewed").filter(col("doc_id") % 10 === 0),
        fixture("video_junk").filter(col("doc_id") % 10 === 0),
        store._1, store._2, store._3)
      val n = a.count(); a.unpersist(false); n
    }

    val results = Seq(
      time("star_join", ops.Relational.starJoin(li, o, Tables.part(spark, sfDir),
        Tables.supplier(spark, sfDir), c, Tables.nation(spark, sfDir)).count()),
      time("groupby_sum", ops.Relational.groupBySum(li).count()),
      time("equi_join", {
        val orJ = o.select(col("o_orderkey"), col("o_orderstatus"))
        li.join(orJ, li("l_orderkey") === orJ("o_orderkey"))
          .agg(count(lit(1))).collect()(0).getLong(0)
      }),
      time("window_topk", ops.Relational.windowTopK(o).count()),
      time("custom_topk", plans.TopKPerKey(o, Seq("o_custkey"), "o_totalprice",
        "o_orderkey", 3).count()),
      time("sessionize", ext.Events.sessionize(ev).count()),
      time("funnel", ext.Events.funnel(ev).count()),
      time("tfidf", ext.TextOps.tfidfTopTerms(docs).count()),
      time("bigram_lm", ext.TextOps.bigramLmScore(docs).count()),
      time("minhash_neardup", {
        // near-dup returns a persisted frame (caller owns the lifetime) —
        // release it so later queries don't run under its memory pressure
        val dup = ext.Dedup.minhashNearDup(docs)
        val n = dup.count()
        dup.unpersist(false)
        n
      }),
      time("minhash_neardup_pruned", {
        // A/B twin: semi-join-prune the verify shingles to candidate docs
        // (the 100 TB regime) — measures what the prune costs/saves here
        val dup = ext.Dedup.minhashNearDup(docs, pruneVerifyShingles = true)
        val n = dup.count()
        dup.unpersist(false)
        n
      }),
      time("dedup_exact", ext.Dedup.exactDedup(docs).count()),
      time("boilerplate", ext.TextOps.boilerplateRemoval(docs).count()),
      time("cluster_rep", {
        // replicated corpus → every text ×factor → the near-dup graph is a
        // pathological clique bed; exercises pair-gen + label propagation +
        // canonicalization end to end
        val rep = ext.Dedup.clusterRepresentatives(docs)
        rep.count()
      }),
      time("temperature_mix", ext.DataPrep.temperatureResample(docs).count()),
      // the sketch-table story, measured in its real three parts: pay the
      // raw-events aggregation ONCE to build+store the daily buffers, then
      // answer range queries from the stored table — vs the exact sweep
      // that re-reads raw events every time it is asked
      time("sketch_daily_build_store", {
        ops.Sketches.dailyUserSketches(ev)
          .write.mode("overwrite").parquet(s"$sketchDir/hll")
        ops.Sketches.dailyUserSketchesKmv(ev)
          .write.mode("overwrite").parquet(s"$sketchDir/kmv")
        spark.read.parquet(s"$sketchDir/hll").count()
      }),
      time("sketch_range_hll_stored", ops.Sketches.weeklyDistinctUsers(
        spark.read.parquet(s"$sketchDir/hll")).collect().length.toLong),
      time("sketch_range_kmv_stored", ops.Sketches.weeklyDistinctUsersKmv(
        spark.read.parquet(s"$sketchDir/kmv")).collect().length.toLong),
      // quantile family: build+store is the one raw scan; range p50/p90/p99
      // then comes off the stored table, vs the exact quantile sweep that
      // re-sorts raw values per ask
      time("qsketch_daily_build_store", {
        ops.Sketches.dailyValueSketches(ev)
          .write.mode("overwrite").parquet(s"$sketchDir/qsk")
        spark.read.parquet(s"$sketchDir/qsk").count()
      }),
      time("qsketch_range_stored", ops.Sketches.weeklyValueQuantiles(
        spark.read.parquet(s"$sketchDir/qsk")).collect().length.toLong),
      time("exact_quantile_sweep", ev.filter(col("value").isNotNull)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week_start"))
        .agg(expr("percentile(CAST(round(value*100) AS BIGINT), array(0.5, 0.9, 0.99))"))
        .collect().length.toLong),
      time("exact_range_sweep", ev
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week_start"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .collect().length.toLong),
      time("cosine_topk", ext.Similarity.cosineTopK(emb).count()),
      // quantized-scan A/B twin: int8 codes + integer dot vs the float
      // scan above, INCLUDING the quantization pass in the timed body
      // (production stores pre-computed codes, so this is the
      // conservative bound on the scan win)
      time("quantized_topk", ext.Similarity.quantizedCosineTopK(emb).count()),
      // round-12: the seed-code IVF index at scale, over the
      // MATERIALIZED corpus (embPq) — the index paths persist their
      // one quantization pass, and against the replicate() explode
      // lineage a persist only adds cost (recompute is free there, a
      // fixture artifact; production corpora are bytes on disk). Their
      // A/B is quantized_scan_stored below (same corpus form); build =
      // the full-corpus assignment (corpus × nList integer dots); the
      // day row is the incremental cell — a 10% batch against FIXED
      // stored-side centroids, independent of everything already
      // indexed
      time("ivf_index_topk", ext.Similarity.ivfIndexTopK(embPq).count()),
      time("ivf_index_build", ext.Similarity.ivfIndexBuildSummary(embPq).count()),
      // round-15: the trained-quantizer rows. Each Lloyd epoch is one
      // corpus scan through the constant-size codegen argmax plus a
      // map-side-combined nList × dim cell aggregate, so training cost
      // must scale like the build row times the epoch count — these
      // rows pin that (a super-linear drift here means the posexplode
      // combine stopped collapsing). kmeans_refine = 2 epochs (2
      // update scans) + the one side-by-side audit scan;
      // pq_train_distortion likewise at the sub-quantizer level.
      time("kmeans_refine", ext.Similarity.kmeansRefineSummary(embPq).count()),
      time("pq_train_distortion",
        ext.Similarity.pqTrainDistortion(embPq).count()),
      time("ivf_index_assign_day", ext.Similarity.ivfIndexAssign(
        embPq.filter(col("vec_id") % 10 === 0), ivfDayCents).count()),
      // round-14: batched centroid scoring A/B — the native
      // constant-size codegen loop (centroid_scores over a flat packed
      // matrix) vs the literal-unrolled per-centroid structs it
      // replaced. At nList=16 the two are equal; at nList=256 the
      // unrolled form's generated code outgrows JIT/Janino method
      // budgets (the scale boundary the native loop removes) while the
      // native row scales only in arithmetic. Timed body = full-corpus
      // argmax with the score forced per row (sum over best.sim so
      // column pruning can't skip the loop); the seed pick is shared
      // setup, untimed.
      time("centroid_score_native_16",
        centroidArgmaxSum(ext.Similarity.seedScoreArray(cents16))),
      time("centroid_score_unrolled_16",
        centroidArgmaxSum(ext.Similarity.seedScoreArrayUnrolled(cents16))),
      time("centroid_score_native_256",
        centroidArgmaxSum(ext.Similarity.seedScoreArray(cents256))),
      time("centroid_score_unrolled_256",
        centroidArgmaxSum(ext.Similarity.seedScoreArrayUnrolled(cents256))),
      time("quantized_scan_stored",
        ext.Similarity.quantizedCosineTopK(embPq).count()),
      time("quantized_store_scan_ints", ext.Similarity.storedCodesTopK(
        spark.read.parquet(s"$codeStores/ints")).count()),
      time("quantized_store_scan_bytes", ext.Similarity.storedCodesTopK(
        spark.read.parquet(s"$codeStores/bytes")).count()),
      time("pq_store_scan", ext.Similarity.pqStoredTopK(
        spark.read.parquet(s"${pqStore._1}/codes"), embPq, pqStore._2).count()),
      time("centroid_score_native_4096",
        centroidArgmaxSum(ext.Similarity.seedScoreArray(cents4096))),
      time("ivf_store_probe", ext.Similarity.ivfIndexStoreProbe(spark,
        emb.filter(col("vec_id") < 10), ivfStoreDir).count()),
      time("ivfpq_store_probe", ext.Similarity.ivfIndexStorePqProbe(spark,
        emb.filter(col("vec_id") < 10), ivfPqStoreDir).count()),
      // round-18: the byte-true truncated probe vs the full-width probe
      // above at equal probed lists — its shortlist scan reads 16/64 of
      // the ranking bytes; the rerank fetches full rows for ONLY the
      // shortlist ids (numQueries × rerank)
      time("ivf_truncated_probe_d16",
        ext.Similarity.ivfIndexStoreTruncatedProbe(spark,
          emb.filter(col("vec_id") < 10), ivfPrefixStoreDir, d = 16,
          rerank = 10).count()),
      // q_ivfpq_tradeoff's cost axis, proven on stored bytes: the SAME
      // sidecar probed at nProbe=1 vs 8 — partition-pruned reads (and
      // the candidate volume the grid counts) scale with probe width
      time("ivfpq_store_probe_w1", ext.Similarity.ivfIndexStorePqProbe(spark,
        emb.filter(col("vec_id") < 10), ivfPqStoreDir, nProbe = 1).count()),
      time("ivfpq_store_probe_w8", ext.Similarity.ivfIndexStorePqProbe(spark,
        emb.filter(col("vec_id") < 10), ivfPqStoreDir, nProbe = 8).count()),
      // round-16: the sidecar-maintenance cells. The centroid update
      // reads ONLY the lloyd_stats sidecar + centroid table (nList ×
      // dim cells) — cost FLAT in store size by construction, and this
      // row pins it at ×factor (compare with ivf_store_reseed, the
      // full-rescan alternative it replaces between retrains). The
      // append row pays the batch assignment + the O(batch) stats
      // merge — the whole day-ingest bill. Both run AFTER every other
      // ivfStoreDir consumer (they mutate the store).
      time("ivf_store_update_centroids",
        ext.Similarity.ivfIndexStoreUpdateCentroids(spark, ivfStoreDir).count()),
      time("ivf_store_append_day", ext.Similarity.ivfIndexStoreAppend(spark,
        embPq.filter(col("vec_id") % 10 === 0)
          .withColumn("vec_id", col("vec_id") + lit(2000000000L)),
        ivfStoreDir).count()),
      // round-17: the exactly-once streamed day (one argmax pass over
      // the batch, zero store mutation) and the centroid-preserving
      // COMPACT that folds it (one columnar rewrite + sidecar re-base,
      // NO re-assignment) — contrast ivf_store_reseed, the full
      // re-partition that folding previously required. Runs AFTER
      // every other ivfStoreDir consumer (they mutate the store).
      time("ivf_store_stream_day", {
        ext.Similarity.ivfIndexStreamDay(spark,
          embPq.filter(col("vec_id") % 10 === 1)
            .withColumn("vec_id", col("vec_id") + lit(3000000000L))
            .select("vec_id", "embedding"), 0L, ivfStoreDir)
        1L
      }),
      time("ivf_store_compact", ext.Similarity.ivfIndexStoreCompact(
        spark, ivfStoreDir).count()),
      // the incremental fold A/B against ivf_store_compact (same
      // corpus, same store bytes): one pending single-list day folded
      // by rewriting ONE partition's files + one manifest commit vs the
      // flat compact's whole-store rewrite. `rows` = affected lists —
      // the claim is 1, and the cost tracking IT, not the store
      time("ivf_store_incfold",
        ext.IvfIncremental.fold(spark, ivfIncDir).count()),
      // lexical twin: fold a single-bucket day; `rows` = affected
      // buckets (claim: 1), vs bm25_store_compact's whole-store rewrite
      time("bm25_store_incfold",
        ext.LexIncremental.fold(spark, lexIncDir).count()),
      // skew → reseed → repair arc (rows run IN ORDER; the reseed row
      // mutates the store between the two probes). Occupancy rows
      // return the MAX list size — the number probe cost follows.
      time("ivf_store_probe_skewed", ext.Similarity.ivfIndexStoreProbe(spark,
        emb.filter(col("vec_id") < 10), ivfSkewDir).count()),
      time("ivf_store_occupancy_skewed",
        ext.Similarity.ivfIndexStoreOccupancy(spark, ivfSkewDir)
          .agg(max(col("list_size"))).collect()(0).getLong(0)),
      time("ivf_store_reseed",
        ext.Similarity.ivfIndexStoreReseed(spark, ivfSkewDir)
          .agg(max(col("list_size"))).collect()(0).getLong(0)),
      time("ivf_store_probe_reseeded", ext.Similarity.ivfIndexStoreProbe(spark,
        emb.filter(col("vec_id") < 10), ivfSkewDir).count()),
      time("hll_distinct", {
        li.agg(functions.HllSketch.hll_distinct(col("l_partkey"))).collect()(0).getLong(0)
      }),
      // round-5 additions: the new curation/signal operators at scale
      time("gopher_rules", ext.TextOps.gopherRules(docs).count()),
      time("classifier_score", ext.TextOps.classifierQualityScore(docs).count()),
      // round-16: hybrid retrieval at scale — the lexical arm's one
      // corpus shuffle is the tf aggregate, the query side is
      // broadcast-bounded, the fusion is two bounded windows; growth
      // must track the tf aggregate, not the pair space
      time("hybrid_rrf", ext.TextOps.hybridRrfTopDocs(docs, emb).count()),
      // round-17: the lexical-store A/B at EQUAL output — the same
      // doc-as-query BM25 arm computed (a) from the raw corpus (the
      // pre-round-17 hybrid bill: tokenize + tf/df/dl aggregates over
      // every token occurrence, per call) vs (b) from the persisted
      // index (a pruned columnar read of pre-aggregated postings rows
      // in the query-vocab buckets + the dfreq/stats sidecars). The
      // store row's growth tracks MATCHED POSTINGS ROWS (long lists
      // for common terms are real reads at any scale), never the
      // corpus tokenization
      time("bm25_brute_arm", ext.TextOps.bm25DocQueryArm(
        docsPq, numQueries = 10, arm = 10).count()),
      time("bm25_store_probe", ext.TextOps.bm25StoreQueryArm(spark,
        docsPq.filter(col("doc_id") < 10), lexStoreDir).count()),
      // round-18: block-max pruned vs exhaustive store ranker at EQUAL
      // output (both serve q_bm25's top-3-per-top-10-term off the same
      // store; pruning is LOSSLESS — hash-certified by
      // q_bm25_store_pruned). The pruned row's bill is the impact scan
      // (nTerms × blocks rows) + only the admitted blocks' postings —
      // on common terms that is a few percent of the matched pairs
      time("bm25_exhaustive_rank",
        ext.TextOps.bm25StoreTopDocs(spark, lexImpactDir).count()),
      time("bm25_pruned_rank",
        ext.TextOps.bm25StoreTopDocsPruned(spark, lexImpactDir).count()),
      // the lexical fold at the same scale: day write + compact —
      // AFTER the brute-vs-store A/B rows above (these two MUTATE
      // lexStoreDir; running them first would grow the store ~10% and
      // silently invalidate the equal-output comparison)
      time("bm25_store_stream_day", {
        ext.TextOps.bm25IndexStreamDay(spark,
          docsPq.filter(col("doc_id") % 10 === 1)
            .withColumn("doc_id", col("doc_id") + lit(3000000000L)),
          0L, lexStoreDir)
        1L
      }),
      time("bm25_store_compact", {
        ext.TextOps.bm25IndexCompact(spark, lexStoreDir); 1L
      }),
      // round-18 (closing r17's weak): the batch append's mutation cost
      // must track the BATCH vocabulary, not the store's — the dfreq
      // (and impact, when built) merges read and rewrite ONLY the
      // buckets the batch's tokens hash into. The batch here is FIXED
      // (the unreplicated corpus's first docs), so this row staying
      // flat across ×10/×30/×100 while the store vocabulary grows is
      // the claim, measured
      time("bm25_store_append", {
        ext.TextOps.bm25IndexAppend(spark,
          Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(4000000000L)),
          lexStoreDir)
        1L
      }),
      time("compression_ratio", ext.Compression.compressionSignal(spark, docs).count()),
      time("heavy_hitters_mg", ops.Sketches.heavyHitterTokens(docs).count()),
      // exact twin of the MG sketch for the same heavy-hitter answer
      time("heavy_hitters_exact", docs
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1))).count()),
      // MG's actual regime: high key cardinality (replicated partkeys ->
      // ~200k distinct at x10). The exact form shuffles the full key
      // domain; MG ships <= 64 counters per map partition.
      time("highcard_mg", li
        .agg(functions.FreqSketch.mg_topk(col("l_partkey").cast("string"), 64))
        .count()),
      time("highcard_exact_top64", li
        .groupBy(col("l_partkey").cast("string").as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("k")).limit(64).count()),
      time("repeated_spans", ext.Dedup.repeatedSpans(docs).count()),
      // round-7: the surgery twin — same gram volume as repeated_spans
      // plus the coverage anti-join and per-doc rebuild. A replicated
      // corpus makes EVERY gram cross-doc-duplicated, so this measures
      // the worst case where all tokens are covered and every doc is
      // rewritten to empty.
      time("remove_spans", ext.Dedup.removeRepeatedSpans(docs).count()),
      time("quality_quantile", ext.DataPrep.qualityQuantileFilter(docs).count()),
      time("leakage_safe_split", ext.DataPrep.leakageSafeSplit(docs).count()),
      // round-6: the two-pass global-order forms vs their single-reducer
      // window twins at replication scale — the A/B the scale-safety
      // claim rests on (budget scaled with the corpus so admission stays
      // a corpus-wide sweep, not a tiny prefix). The corpus is
      // MATERIALIZED to parquet first: the two-pass form re-traverses
      // its input (range-boundary sampling + pass-1 stats), and against
      // the replicate() explode lineage those re-traversals would be
      // charged the full fan-out recompute — a fixture artifact no real
      // pipeline pays (corpus inputs are parquet on disk).
      time("token_budget_twopass", ext.DataPrep.tokenBudgetSelect(
        docsPq, budget = 2000000L * factor).count()),
      time("token_budget_window", ext.DataPrep.tokenBudgetSelectWindow(
        docsPq, budget = 2000000L * factor).count()),
      time("curriculum_twopass", ext.DataPrep.curriculumDeciles(docsPq).count()),
      time("curriculum_window", ext.DataPrep.curriculumDecilesWindow(docsPq).count()),
      time("negative_samples_twopass", ext.DataPrep.negativeSamples(docsPq).count()),
      time("negative_samples_window", ext.DataPrep.negativeSamplesWindow(docsPq).count()),
      // round-7: semantic dedup at replication scale — the cluster-
      // blocked pair space vs brute force. Replication copies every
      // direction ×factor, so the near-dup graph is maximally dense and
      // the drop-candidate join is the worst case; the A/B measures what
      // IVF blocking saves as the corpus doubles (brute grows ~4×).
      time("semantic_dedup_clustered", ext.Similarity.semanticDedup(emb, nList = 16)
        .filter(col("is_dropped")).count()),
      time("semantic_dedup_brute", ext.Similarity.semanticDedup(emb, nList = 1)
        .filter(col("is_dropped")).count()),
      // round-8: winnowing — native row-local expression vs the
      // explode-per-character window twin; the near-dup overlap join on
      // top of the native path
      time("winnow_fps_native", ext.Dedup.winnowFingerprints(docs).count()),
      time("winnow_fps_window", ext.Dedup.winnowFingerprintsComposed(docs).count()),
      time("winnow_neardup", ext.Dedup.winnowNearDup(docs).count()),
      // round-8: portable md5 signatures — fused byte-level sketch
      // aggregate vs 16 composed min(string-pipeline) columns. The
      // consumer SUMS a signature component: a bare count() lets
      // column pruning delete the unused min-aggregates and measures
      // an empty groupBy (observed: "composed" 3× faster, falsely)
      time("md5_sig_fused",
        ext.Dedup.minhashSignaturesMd5(ext.Dedup.shingles(docs))
          .select((element_at(col("sig"), 1) % 1000000007L).as("h"))
          .agg(sum(col("h"))).collect().length.toLong),
      time("md5_sig_composed",
        ext.Dedup.minhashSignaturesMd5Composed(ext.Dedup.shingles(docs))
          .select((element_at(col("sig"), 1) % 1000000007L).as("h"))
          .agg(sum(col("h"))).collect().length.toLong),
      // round-8: perceptual image hashing — real PNG decode + dHash per
      // image, narrow end to end (the near-dup pair space on a
      // replicated corpus is fixture-quadratic, so only the linear
      // decode+hash path is stress-relevant). All media rows scan the
      // pre-materialized parquet sidecars: the timed body is decode +
      // operator, never fixture encode.
      time("image_dhash", ext.Multimodal.imageDhash(spark,
        fixture("png_clusters")).count()),
      // round-9: the audio twin's linear path — WAV decode + energy
      // hash per clip, narrow end to end like image_dhash
      time("audio_ehash", ext.Multimodal.audioEhash(spark,
        fixture("wav_clusters")).count()),
      // round-9: the video tier's linear paths (near-dup pair spaces on
      // a replicated corpus are fixture-quadratic, as for images) —
      // header probe + SELECTIVE frame decode + per-slot dHash, narrow
      // end to end; and the scene path, which decodes EVERY frame then
      // pays its one exchange on doc_id for the per-video lag window
      time("video_phash", ext.Multimodal.videoPhash(spark,
        fixture("video_clusters")).count()),
      time("video_scenes", ext.Multimodal.videoScenes(spark,
        fixture("video_scenes")).count()),
      // round-9: the media-aware funnel at replication scale — the
      // skewed image fixture plants the flat junk mass at 25%, so the
      // stage-1 gate does real pruning before the banded stage-4 join
      // (which runs with the default auto cap here, unlike the
      // guard-off oracle path)
      time("multimodal_funnel", {
        val f = ext.Curation.multimodalFunnel(spark,
          ext.TextOps.withSyntheticDupText(
            ext.WebOps.withSyntheticCrawlUrl(docsPq)),
          fixture("png_skewed"))
        val n = f.count(); f.unpersist(false); n
      }),
      // round-9: the band-bucket cap under planted skew — 25% of the
      // corpus is flat images (all sharing the all-zeros dHash, the
      // degenerate mass the guard exists for). Capped (auto, default)
      // anti-joins the heavy buckets before the self-join; uncapped
      // measures the quadratic blowup it prevents. Same A/B on the
      // incremental (daily-ingest) path — the route the cap was ported
      // to this round — with an 80/20 stored/new split.
      time("image_neardup_skew_capped", {
        val p = ext.Multimodal.imageNearDup(spark, fixture("png_skewed"))
        val n = p.count(); p.unpersist(false); n
      }),
      time("image_neardup_skew_uncapped", {
        val p = ext.Multimodal.imageNearDup(spark, fixture("png_skewed"),
          maxBandBucket = 0)
        val n = p.count(); p.unpersist(false); n
      }),
      time("image_neardup_inc_skew_capped", {
        val p = ext.Multimodal.imageNearDupIncremental(spark,
          fixture("png_skewed").filter(col("doc_id") % 5 === 0), storedIdh)
        val n = p.count(); p.unpersist(false); n
      }),
      time("image_neardup_inc_skew_uncapped", {
        val p = ext.Multimodal.imageNearDupIncremental(spark,
          fixture("png_skewed").filter(col("doc_id") % 5 === 0), storedIdh,
          maxBandBucket = 0)
        val n = p.count(); p.unpersist(false); n
      }),
      // round-10: the identical-fingerprint collapse at scale — the
      // CLUSTER path on a 25%-degenerate corpus with the guard OFF,
      // which before the collapse was the quadratic nightmare (the
      // round-9 pair-path A/B measured 603s at x10 for uncapped image
      // pairs). Clusters collapse identical hashes to min-id-rep stars
      // before banding, so the same corpus now clusters in linear time
      // with NO cap at all; per-modality rows because the video slot
      // variant is separate code.
      time("image_clusters_skew_uncapped", {
        val c = ext.Multimodal.imageClusters(spark,
          fixture("png_skewed"), maxBandBucket = 0)
        val n = c.count(); c.unpersist(false); n
      }),
      time("audio_clusters_skew_uncapped", {
        val c = ext.Multimodal.audioClusters(spark,
          fixture("wav_skewed"), maxBandBucket = 0)
        val n = c.count(); c.unpersist(false); n
      }),
      time("video_clusters_junk_uncapped", {
        val c = ext.Multimodal.videoClusters(spark,
          fixture("video_junk"), maxBandBucket = 0)
        val n = c.count(); c.unpersist(false); n
      }),
      // round-10: the same incremental skew A/B for the OTHER two
      // modalities — the shared banding core makes image coverage
      // suggestive, but the audio route runs through its own fixture
      // (silent clips all sharing eHash 0) and the video route is
      // SEPARATE code (slot-pigeonhole banding in
      // videoNearDupIncremental, not bandedHammingPairsIncremental),
      // so each earns its own capped-vs-uncapped row. 25% degenerate
      // fraction, 80/20 stored/new split, as for images.
      time("audio_neardup_inc_skew_capped", {
        val p = ext.Multimodal.audioNearDupIncremental(spark,
          fixture("wav_skewed").filter(col("doc_id") % 5 === 0), storedAeh)
        val n = p.count(); p.unpersist(false); n
      }),
      time("audio_neardup_inc_skew_uncapped", {
        val p = ext.Multimodal.audioNearDupIncremental(spark,
          fixture("wav_skewed").filter(col("doc_id") % 5 === 0), storedAeh,
          maxBandBucket = 0)
        val n = p.count(); p.unpersist(false); n
      }),
      time("video_neardup_inc_skew_capped", {
        val p = ext.Multimodal.videoNearDupIncremental(spark,
          fixture("video_junk").filter(col("doc_id") % 5 === 0), storedVph)
        val n = p.count(); p.unpersist(false); n
      }),
      time("video_neardup_inc_skew_uncapped", {
        val p = ext.Multimodal.videoNearDupIncremental(spark,
          fixture("video_junk").filter(col("doc_id") % 5 === 0), storedVph,
          maxBandBucket = 0)
        val n = p.count(); p.unpersist(false); n
      }),
      // round-10: the FULL-modality audit at replication scale, on the
      // PRODUCTION configuration (auto cap on): three fused decode
      // stages + three collapse-then-cluster paths + the text verdicts
      // over 50k docs per modality at x10 — the composition's scale
      // evidence. The skewed/junk fixtures plant 25% identical-content
      // mass per modality, which the identical-fingerprint collapse
      // turns into linear star edges instead of M^2/2 cliques.
      time("media_curation_report", {
        val r = ext.Curation.mediaCurationReport(spark,
          ext.TextOps.withSyntheticDupText(
            ext.WebOps.withSyntheticCrawlUrl(docsPq)),
          fixture("png_skewed"), fixture("wav_skewed"), fixture("video_junk"))
        val n = r.count(); r.unpersist(false); n
      }),
      time("media_ingest_day_small_store", ingestDay(smallStore)),
      time("media_ingest_day_large_store", ingestDay(largeStore)),
      time("media_ingest_day_exemplar_store", ingestDay(exemplarX1)),
      time("media_ingest_day_exemplar_store_x10", ingestDay(exemplarX10)),
      time("media_ingest_day_redundant_store_x10", ingestDay(redundantX1x10)),
      time("doc_ingest_day_small_store", docIngestDay(docSmallStore)),
      time("doc_ingest_day_large_store", docIngestDay(docLargeStore)),
      time("emb_ingest_day_small_store", embIngestDay(embSmallCodes)),
      time("emb_ingest_day_large_store", embIngestDay(embLargeCodes)),
      // round-9: the composed curation funnel at replication scale —
      // replicated texts make exact-dedup collapse ×factor and the
      // near-dup graph maximally dense; budget scaled with the corpus
      time("curation_funnel", {
        val f = ext.Curation.curationFunnel(
          ext.WebOps.withSyntheticCrawlUrl(docsPq), tokenBudget = 2000L * factor)
        val n = f.count(); f.unpersist(false); n
      }),
      // round-7: the deterministic shard export end to end (two-pass
      // ordinal + closed-form shard + dynamic partitionBy write + manifest
      // read-back) — the write path's scale evidence
      time("shard_manifest_export", {
        val out = stressTmp("graft_stress_shards")
        val m = ops.Layout.writeShardsManifest(docsPq, out, "doc_id",
          numShards = 32, maxRecordsPerFile = 5000)
        m.count()
      })).flatten

    val rows = li.count()
    val qs = results.map { case (k, v, n) => s""""$k":{"sec":$v,"rows":$n}""" }
      .mkString("{", ",", "}")
    println(s"""{"factor":$factor,"lineitem_rows":$rows,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
