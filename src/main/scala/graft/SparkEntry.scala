package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.ext._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry
  * (Spark impl over `sfDir/<table>.parquet`) and, where ANSI-SQL
  * expressible, an `oracleSql` twin the driver runs in DuckDB over the
  * same parquet files. Column names and value formats are aligned
  * engine-to-engine (decimal-exact sums, string-formatted dates,
  * deterministic ORDER BY) so the hash compare is stable.
  */
object SparkEntry {

  /** Build-once-per-session store fixtures for the IMMUTABLE-store
    * query family (round 18 — verdict ask #7, the `StressBench.
    * lexStoreDir` pattern): the hybrid/probe queries each used to
    * build their own full-corpus store per invocation, so the sweep
    * timed ~6 redundant index builds. Stores are deterministic
    * functions of (testdata dir), so sharing one build per
    * (applicationId, testdata dir) leaves every hash unchanged and
    * makes the bench measure PROBES (after the family's first member
    * pays the build — bench numbers for this family are probe-cost,
    * annotated in RESULTS.md). ONLY read-only consumers share a
    * fixture; every mutating query (append/delete/stream/compact/
    * reseed/train/update/fsck-inject) keeps its private dir. Sidecar
    * builds (impact, prefix) are one-time additive artifacts guarded
    * by their own key — they never change what other readers of the
    * base store serve.
    */
  private val storeFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fixture(s: SparkSession, key: String)
                     (build: String => Unit): String =
    storeFixtures.computeIfAbsent(
      key + "_" + s.sparkContext.applicationId,
      k => {
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_fx_" + k).getPath
        graft.Tables.deleteOnExit(dir)
        build(dir)
        dir
      })
  private def lexStoreFixture(s: SparkSession, d: String): String =
    fixture(s, "lex_" + new java.io.File(d).getName) { dir =>
      TextOps.bm25IndexInit(Tables.documents(s, d), dir)
    }
  private def lexImpactFixture(s: SparkSession, d: String): String = {
    val base = lexStoreFixture(s, d)
    fixture(s, "leximp_" + new java.io.File(d).getName) { _ =>
      TextOps.bm25ImpactBuild(s, base)
    }
    base
  }
  private def ivfStoreFixture(s: SparkSession, d: String): String =
    fixture(s, "ivf_" + new java.io.File(d).getName) { dir =>
      Similarity.ivfIndexStoreInit(Tables.embeddings(s, d), dir)
    }
  private def ivfPrefixFixture(s: SparkSession, d: String): String = {
    val base = ivfStoreFixture(s, d)
    fixture(s, "ivfpre_" + new java.io.File(d).getName) { _ =>
      Similarity.ivfIndexStorePrefixBuild(s, base)
    }
    base
  }
  private def ivfPrefixClusteredFixture(s: SparkSession, d: String): String = {
    val base = fixture(s, "ivfc_" + new java.io.File(d).getName) { dir =>
      Similarity.ivfIndexStoreInit(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)), dir)
    }
    fixture(s, "ivfcpre_" + new java.io.File(d).getName) { _ =>
      Similarity.ivfIndexStorePrefixBuild(s, base)
    }
    base
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Relational.starJoin(
      Tables.lineitem(spark, d), Tables.orders(spark, d), Tables.part(spark, d),
      Tables.supplier(spark, d), Tables.customer(spark, d), Tables.nation(spark, d))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_star_join" -> ((s, d) => Relational.starJoin(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d),
      Tables.supplier(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q_groupby_sum" -> ((s, d) => Relational.groupBySum(Tables.lineitem(s, d))),
    "q_agg_join_back" -> ((s, d) => Relational.aggJoinBack(
      Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q_filter_sentinel" -> ((s, d) => Relational.filterSentinel(Tables.orders(s, d))),
    "q_regexp_replace" -> ((s, d) => Relational.regexpNormalize(Tables.part(s, d))),
    "q_split_parts" -> ((s, d) => Relational.splitParts(Tables.part(s, d))),
    "q_capstone_fact" -> ((s, d) => graft.pipeline.CapstoneEtl.capstoneFactFromTestdata(
      s, Tables.orders(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_capstone_port_demographics" -> ((s, d) =>
      graft.pipeline.CapstoneEtl.portDemographicsFromTestdata(
        s, Tables.customer(s, d), Tables.nation(s, d))),
    "q_sas_date" -> ((s, d) => Dates.sasDateConvert(Tables.lineitem(s, d))),
    "q_sas_date_udf" -> ((s, d) => Dates.sasDateConvert(Tables.lineitem(s, d), useUdf = true)),
    "q_window_topk" -> ((s, d) => Relational.windowTopK(Tables.orders(s, d))),
    "q_window_pack" -> ((s, d) => Relational.windowPack(Tables.orders(s, d))),
    "q_window_frames" -> ((s, d) => Relational.windowFrames(Tables.orders(s, d))),
    "q_array_pack" -> ((s, d) => Relational.arrayPack(Tables.part(s, d))),
    "q_string_pack" -> ((s, d) => Relational.stringPack(Tables.part(s, d))),
    "q_conditional_pack" -> ((s, d) => Relational.conditionalPack(Tables.customer(s, d))),
    "q_custom_topk" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.plans.TopKPerKey(Tables.orders(s, d),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
        .select(col("o_custkey").as("customer_key"), col("o_orderkey").as("order_key"),
          col("o_totalprice").as("total_price"))
        .orderBy("customer_key", "order_key")
    }),
    "q_rollup" -> ((s, d) => Relational.rollupAgg(Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => Relational.groupingSets(Tables.lineitem(s, d))),
    "q_full_outer" -> ((s, d) => Relational.fullOuterBalances(
      Tables.customer(s, d), Tables.supplier(s, d))),
    "q_cross_join" -> ((s, d) => Relational.crossRegionSegments(
      Tables.region(s, d), Tables.customer(s, d))),
    "q_unpivot" -> ((s, d) => Relational.unpivotPart(Tables.part(s, d))),
    "q_cube" -> ((s, d) => Relational.cubeAgg(Tables.lineitem(s, d))),
    "q_count_distinct" -> ((s, d) => Relational.countDistinct(Tables.lineitem(s, d))),
    "q_hll_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        graft.functions.HllSketch.hll_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),
    "q_topn" -> ((s, d) => Relational.topNOrders(Tables.orders(s, d))),
    "q_pivot" -> ((s, d) => Relational.pivotLineStatus(Tables.lineitem(s, d))),
    "q_percentile" -> ((s, d) => Relational.percentiles(Tables.lineitem(s, d))),
    "q_agg_pack" -> ((s, d) => Relational.aggPack(Tables.lineitem(s, d))),
    "q_minmax_by" -> ((s, d) => Relational.minMaxBy(Tables.orders(s, d))),
    "q_json_shape" -> ((s, d) => TextOps.jsonShape(Tables.documents(s, d))),
    "q_union" -> ((s, d) => Relational.unionNames(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_distinct" -> ((s, d) => Relational.distinctSegments(Tables.customer(s, d))),
    "q_semi_join" -> ((s, d) => Relational.semiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    "q_intersect" -> ((s, d) => Relational.intersectKeys(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_except" -> ((s, d) => Relational.exceptKeys(Tables.orders(s, d), Tables.customer(s, d))),
    "q_scalar_subquery" -> ((s, d) => Relational.scalarSubquery(s, Tables.orders(s, d))),
    "q_lateral_topn" -> ((s, d) => Relational.lateralTopPerGroup(s,
      Tables.customer(s, d), Tables.nation(s, d))),
    "q_date_functions" -> ((s, d) => Relational.dateFunctions(Tables.orders(s, d))),
    "q_typed_agg" -> ((s, d) => graft.functions.QtyStats.perReturnFlag(s, Tables.lineitem(s, d))),
    "q_anti_join" -> ((s, d) => Relational.antiJoin(Tables.orders(s, d), Tables.lineitem(s, d))),
    // §2.10 extension surface: event-time ops
    "q_event_windows" -> ((s, d) => Events.tumblingWindows(Tables.events(s, d))),
    "q_json_extract" -> ((s, d) => Events.jsonExtract(Tables.events(s, d))),
    "q_sessionize" -> ((s, d) => Events.sessionize(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) => Events.asofJoin(Tables.events(s, d), Tables.orders(s, d))),
    "q_range_join" -> ((s, d) => Events.rangeSelfJoin(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => Events.funnel(Tables.events(s, d))),
    "q_hourly_spikes" -> ((s, d) => Events.hourlySpikes(Tables.events(s, d))),
    "q_sliding_windows" -> ((s, d) => Events.slidingWindows(Tables.events(s, d))),
    "q_session_paths" -> ((s, d) => Events.sessionPaths(Tables.events(s, d))),
    "q_daily_features" -> ((s, d) => Events.dailyFeatures(Tables.events(s, d))),
    // PageRank over the event-type transition graph (stationary "which
    // event is most central" distribution). Distributed double sums are
    // order-nondeterministic → rows-only; GraphSpec pins the math against
    // an independent in-memory simulation to 1e-9.
    "q_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      val tr = Events.eventTransitions(Tables.events(s, d))
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n_transitions").cast("double").as("weight"))
      graft.ops.Graph.pageRank(tr)
        .select(col("node").as("event_type"), round(col("rank"), 6).as("rank"))
        .orderBy("event_type")
    }),
    "q_event_transitions" -> ((s, d) => Events.eventTransitions(Tables.events(s, d))),
    "q_skew_histogram" -> ((s, d) => Relational.skewHistogram(Tables.lineitem(s, d), "l_orderkey")),
    "q_cohort_retention" -> ((s, d) => Events.cohortRetention(Tables.events(s, d))),
    "q_scd2_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val cust = Tables.customer(s, d)
      // versioned dimension: every row open since epoch; the update batch
      // re-segments every 10th customer and inserts brand-new keys
      val current = cust.select(col("c_custkey").as("customer_key"),
        col("c_mktsegment").as("segment"), col("c_nationkey").as("nation_key"),
        lit("1992-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"))
      val updates = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey").as("customer_key"), lit("PROMO").as("segment"),
          col("c_nationkey").as("nation_key"))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
          .select((col("c_custkey") + 1000000L).as("customer_key"),
            lit("NEW").as("segment"), lit(0).as("nation_key")))
      graft.ops.Scd.scd2Merge(current, updates, "customer_key",
        Seq("segment", "nation_key"), "1998-01-01")
    }),
    // §2.10: text analysis
    "q_text_stats" -> ((s, d) => TextOps.textStats(Tables.documents(s, d))),
    "q_top_tokens" -> ((s, d) => TextOps.topTokens(Tables.documents(s, d))),
    "q_collect_list" -> ((s, d) => TextOps.docIdsPerLang(Tables.documents(s, d))),
    "q_token_count" -> ((s, d) => TextOps.tokenCount(Tables.documents(s, d))),
    "q_lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "q_quality_score" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "q_fingerprint_md5" -> ((s, d) => TextOps.fingerprintMd5(Tables.documents(s, d))),
    "q_rolling_hash" -> ((s, d) => TextOps.rollingHash(Tables.documents(s, d))),
    "q_repetition_ratio" -> ((s, d) => TextOps.repetitionRatio(Tables.documents(s, d))),
    "q_pii_redact" -> ((s, d) => TextOps.piiRedact(TextOps.withSyntheticPii(Tables.documents(s, d)))),
    "q_tfidf" -> ((s, d) => TextOps.tfidfTopTerms(Tables.documents(s, d))),
    // Okapi BM25 (Robertson & Zaragoza 2009) — the lexical-retrieval
    // ranker of hybrid search: top-3 docs per top-10 corpus term, with
    // the smooth Lucene idf; every constant the same literal on both
    // engines, avgdl one exact-long division, so scores hash-match
    "q_bm25" -> ((s, d) => TextOps.bm25TopDocs(Tables.documents(s, d))),
    // hybrid retrieval (round 16): doc-as-query BM25 + exact int8
    // cosine, fused by reciprocal rank (1/(60+rank) per arm) — rank-
    // only fusion over integer-micro lexical sums, so the composed
    // two-arm retrieval itself hash-matches
    "q_hybrid_rrf" -> ((s, d) => TextOps.hybridRrfTopDocs(
      Tables.documents(s, d), Tables.embeddings(s, d))),
    // the production hybrid shape, whole as of round 17: BOTH arms
    // served by persisted indexes — the lexical arm reads the bucket-
    // pruned lexical store (query-vocab partitions of postings +
    // dfreq), the semantic arm the IVF store's partition-pruned probe;
    // NEITHER arm scans the raw corpus per query
    "q_hybrid_rrf_store" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
      // shared read-only fixtures (round 18): the stores build once per
      // session — the query's bill is the two persisted-arm PROBES
      TextOps.hybridRrfStoreTopDocs(docs.filter(col("doc_id") < 10),
        emb.filter(col("vec_id") < 10), lexStoreFixture(s, d),
        ivfStoreFixture(s, d))
    }),
    // the FILTERED store hybrid (round 17): retrieve among only the
    // docs matching a predicate — the keep-set in-filtered into BOTH
    // persisted arms before their rankings (the strategy the filtered-
    // probe instrument measured as strictly better at equal bytes)
    "q_hybrid_rrf_store_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d)
      TextOps.hybridRrfStoreFilteredTopDocs(
        docs.filter(col("doc_id") < 10), emb.filter(col("vec_id") < 10),
        lexStoreFixture(s, d), ivfStoreFixture(s, d),
        lexKeep = docs.filter(col("doc_id") % 3 === 1).select("doc_id"),
        annKeep = emb.filter(col("vec_id") % 3 === 1).select("vec_id"))
    }),
    // q_bm25 served from the PERSISTED lexical index: term selection
    // off the vocab-sized dfreq sidecar, postings scan pruned to the
    // terms' buckets, scoring off stored tf/dl/df + the one stats row
    // — same oracle as q_bm25 (store build ≡ raw corpus, row for row)
    "q_bm25_store" -> ((s, d) =>
      TextOps.bm25StoreTopDocs(s, lexStoreFixture(s, d))),
    // BLOCK-MAX pruned probe (round 18) — lossless top-k early
    // termination, the lexical twin of nProbe pruning: per (token,
    // block) max-tf/min-dl impact bounds let the probe skip scoring
    // any block that provably cannot crack the term's top-k; the
    // result is IDENTICAL to the exhaustive store ranker, so the same
    // q_bm25 oracle certifies the pruned protocol end to end
    "q_bm25_store_pruned" -> ((s, d) =>
      TextOps.bm25StoreTopDocsPruned(s, lexImpactFixture(s, d))),
    // the lexical day-ingest law: init on the md5-stored side, append
    // the rest — postings rows append, df/n_docs/total_len merge BY
    // ADDITION (a doc lives in one batch, so token stats are additive
    // sufficient statistics — the lloyd_stats discipline on text) —
    // and the served ranking equals the union build's, same oracle
    "q_bm25_store_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val docs = Tables.documents(s, d)
      val storedSide = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_inc_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs.filter(storedSide), lexDir)
      TextOps.bm25IndexAppend(s, docs.filter(!storedSide), lexDir)
      TextOps.bm25StoreTopDocs(s, lexDir)
    }),
    // lexical DELETION — the union-minus law on text (round 17): drop
    // the victims' postings rows (only their buckets rewritten) and
    // SUBTRACT their token statistics from the sidecars; the served
    // ranking then equals the build over survivors, which is exactly
    // what the survivor-filtered q_bm25 oracle computes
    "q_bm25_store_del" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_del_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs, lexDir)
      TextOps.bm25IndexDelete(s,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), lexDir)
      TextOps.bm25StoreTopDocs(s, lexDir)
    }),
    // streamed lexical days (round 17): init on the md5-stored side,
    // two exactly-once day writes for the rest (pure per-day facts,
    // overwrite-by-day), the probe serving consolidated ∪ days — the
    // served ranking equals the union build, same q_bm25 oracle
    "q_bm25_store_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_stream_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs.filter(h < "8"), lexDir)
      TextOps.bm25IndexStreamDay(s,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, lexDir)
      TextOps.bm25IndexStreamDay(s, docs.filter(h >= "c"), 1L, lexDir)
      TextOps.bm25StoreTopDocs(s, lexDir)
    }),
    // ... and the FOLD: compact rewrites consolidated ∪ days into a
    // fresh store through storeSwapRecover's staging protocol; the
    // served ranking is invariant (fold ≡ union build), same oracle
    "q_bm25_store_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_compact_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs.filter(h < "8"), lexDir)
      TextOps.bm25IndexStreamDay(s,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, lexDir)
      TextOps.bm25IndexStreamDay(s, docs.filter(h >= "c"), 1L, lexDir)
      TextOps.bm25IndexCompact(s, lexDir)
      TextOps.bm25StoreTopDocs(s, lexDir)
    }),
    // the lexical INCREMENTAL fold (round 18, session 2 — the IVF
    // incfold's twin): manifested postings, streamed days + a
    // tombstone folded into ONLY the buckets their tokens touch, day
    // retirement atomic with the data flip; served ranking ≡ the
    // survivor build (the streamed-delete oracle verbatim)
    "q_bm25_store_incfold" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_incf_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      LexIncremental.init(docs.filter(h < "8"), dir)
      TextOps.bm25IndexStreamDay(s,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      TextOps.bm25IndexStreamDay(s, docs.filter(h >= "c"), 1L, dir)
      LexIncremental.tombstone(s,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), dir, 2L)
      LexIncremental.fold(s, dir)
      LexIncremental.topDocs(s, dir)
    }),
    // the lexical manifest's integrity law at the TOTALS level (bucket
    // ids are xxhash64-keyed — engine-local, so per-bucket would be
    // rows-only; the total stays under the hash oracle): after the
    // full incfold lifecycle, manifest-claimed rows ≡ file rows ≡ the
    // survivors' distinct (doc, token) pairs
    "q_bm25_store_inc_fsck" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_incfs_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      LexIncremental.init(docs.filter(h < "8"), dir)
      TextOps.bm25IndexStreamDay(s,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      TextOps.bm25IndexStreamDay(s, docs.filter(h >= "c"), 1L, dir)
      LexIncremental.tombstone(s,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), dir, 2L)
      LexIncremental.fold(s, dir)
      LexIncremental.fsck(s, dir)
    }),
    // lexical ATOMIC append under the manifest: batch postings as new
    // per-bucket entries, one commit, selective dfreq merge — the
    // union-build law (q_bm25_store_inc's oracle verbatim)
    "q_bm25_store_inc_append" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_inca_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      LexIncremental.init(docs.filter(h < "8"), dir)
      LexIncremental.append(s, docs.filter(h >= "8"), dir)
      LexIncremental.topDocs(s, dir)
    }),
    // STREAMED deletion (round 18): a store with unfolded days cannot
    // run the batch delete (sidecars don't cover days — refused loud);
    // the tombstone day cell closes that gap. Init + two streamed days,
    // tombstone the victims (facts derived once, written ids → dfreq →
    // stats-marker), COMPACT applies them physically — the served
    // ranking then equals the build over survivors: q_bm25_store_del's
    // exact oracle (stream + tombstone + compact ≡ survivor build)
    "q_bm25_store_stream_del" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_sdel_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs.filter(h < "8"), lexDir)
      TextOps.bm25IndexStreamDay(s,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, lexDir)
      TextOps.bm25IndexStreamDay(s, docs.filter(h >= "c"), 1L, lexDir)
      TextOps.bm25IndexTombstone(s,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), lexDir, 2L)
      TextOps.bm25IndexCompact(s, lexDir)
      TextOps.bm25StoreTopDocs(s, lexDir)
    }),
    // the lexical sidecar fsck — the invariant certifier, symmetric
    // with q_ivf_store_fsck: df per token and the corpus stats
    // recomputed from the postings bytes vs the sidecars, cell by
    // cell over the full-outer token join, TRUE-iff-equal booleans
    "q_bm25_store_fsck" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val docs = Tables.documents(s, d)
      val storedSide = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
      val lexDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bm25_fsck_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(lexDir)
      TextOps.bm25IndexInit(docs.filter(storedSide), lexDir)
      TextOps.bm25IndexAppend(s, docs.filter(!storedSide), lexDir)
      TextOps.bm25StoreFsck(s, lexDir)
    }),
    "q_token_map" -> ((s, d) => TextOps.repeatedTokenMap(Tables.documents(s, d))),
    "q_vocab_coverage" -> ((s, d) => TextOps.vocabCoverage(Tables.documents(s, d))),
    "q_ngram_lm" -> ((s, d) => TextOps.bigramLmScore(Tables.documents(s, d))),
    "q_token_entropy" -> ((s, d) => TextOps.tokenEntropy(Tables.documents(s, d))),
    "q_synthetic_url" -> ((s, d) => TextOps.withSyntheticUrl(Tables.documents(s, d))
      .select("doc_id", "lang", "url").orderBy("doc_id")),
    "q_domain_stats" -> ((s, d) => TextOps.domainStats(Tables.documents(s, d))),
    "q_url_canon" -> ((s, d) =>
      WebOps.canonicalizeUrl(WebOps.withSyntheticMessyUrl(Tables.documents(s, d)))
        .select("doc_id", "url", "canonical_url").orderBy("doc_id")),
    "q_url_dedup" -> ((s, d) =>
      WebOps.urlDedup(WebOps.withSyntheticMessyUrl(Tables.documents(s, d)))),
    // the whole curation pipeline as one verified funnel: URL dedup ->
    // exact dedup -> near-dup canonicalization -> SEMANTIC dedup (int8
    // exact regime over the embeddings table) -> quality gate ->
    // decontamination (train side) -> token budget, each stage the same
    // arithmetic as its standalone operator, composition oracle-matched
    "q_curation_funnel" -> ((s, d) => Curation.curationFunnel(
      WebOps.withSyntheticCrawlUrl(Tables.documents(s, d)), tokenBudget = 2000L,
      embeddings = Some(Tables.embeddings(s, d)))),
    "q_pmi_pairs" -> ((s, d) => TextOps.pmiPairs(Tables.documents(s, d))),
    "q_gopher_rules" -> ((s, d) => TextOps.gopherRules(Tables.documents(s, d))),
    "q_classifier_score" -> ((s, d) =>
      TextOps.classifierQualityScore(Tables.documents(s, d))),
    // threshold knob-tuner: docs/tokens surviving each 0.1 quality
    // cutoff — one agg into <=21 bucket rows + a constant-size window
    "q_quality_retention" -> ((s, d) =>
      DataPrep.qualityRetentionCurve(Tables.documents(s, d))),
    "q_strip_markup" -> ((s, d) =>
      TextOps.stripMarkup(TextOps.withSyntheticHtml(Tables.documents(s, d)))),
    // NFC via the native codegen expression; fixture injects decomposed
    // accents / zero-width chars so the normalize actually has work
    "q_normalize_text" -> ((s, d) => TextOps.normalizeText(Tables.documents(s, d))),
    // deterministic (fixed zlib level) but not SQL-expressible in the
    // oracle engine -> rows-only; determinism pinned in CompressionSpec
    "q_compression_ratio" -> ((s, d) =>
      graft.ext.Compression.compressionSignal(s, Tables.documents(s, d))),
    // the zlib signal's contract under the exact oracle: the oracle has
    // no zlib, but the invariants (bounded expansion, determinism,
    // repetition sub-additivity) are boolean-expressible and asserted
    // TRUE per doc — the estimator-bounds pattern for the codec tier
    "q_compression_bounds" -> ((s, d) =>
      graft.ext.Compression.compressionBounds(s, Tables.documents(s, d))),
    // Misra-Gries in the exact regime (capacity >= distinct tokens), so
    // the oracle is the plain token-count aggregation; requireExact
    // raises in-plan instead of hash-mismatching if a regenerated
    // corpus ever leaves that regime
    "q_heavy_hitters" -> ((s, d) =>
      graft.ops.Sketches.heavyHitterTokens(Tables.documents(s, d), requireExact = true)),
    // §2.10: dedup family
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(Tables.documents(s, d))),
    "q_hash_sample" -> ((s, d) => DataPrep.hashSample(Tables.documents(s, d))),
    "q_dataset_split" -> ((s, d) => DataPrep.datasetSplit(Tables.documents(s, d))),
    "q_sequence_packing" -> ((s, d) => DataPrep.sequencePacking(Tables.documents(s, d))),
    "q_decontaminate" -> ((s, d) => DataPrep.decontaminate(Tables.documents(s, d))),
    "q_decontaminate_bloom" -> ((s, d) => DataPrep.decontaminateBloom(Tables.documents(s, d))),
    "q_source_mixture" -> ((s, d) => DataPrep.sourceMixture(Tables.documents(s, d),
      Map("src0" -> "ff", "src1" -> "20"))),
    "q_length_histogram" -> ((s, d) => DataPrep.lengthHistogram(Tables.documents(s, d))),
    "q_stratified_sample" -> ((s, d) => DataPrep.stratifiedSample(Tables.documents(s, d))),
    "q_fuzzy_match" -> ((s, d) => graft.ops.Fuzzy.fuzzyNameMatch(
      Tables.part(s, d), "p_name")),
    "q_zorder_layout" -> ((s, d) => graft.ops.Layout.zorderFileStats(Tables.orders(s, d))),
    // real parquet export + read-back: shard ids, row/file counts, and key
    // ranges are all closed-form deterministic (ordinal sharding +
    // maxRecordsPerFile), so the manifest is oracle-checkable
    "q_shard_manifest" -> ((s, d) => {
      // applicationId in the path: two concurrent runs against the same
      // SF would otherwise race on a shared overwrite target. The
      // export is scratch output — reclaimed on JVM exit.
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_shards_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(out)
      graft.ops.Layout.writeShardsManifest(Tables.documents(s, d), out, "doc_id")
    }),
    "q_dq_checks" -> ((s, d) => graft.ops.Quality.checkSuite(
      Tables.orders(s, d), Tables.lineitem(s, d), Tables.customer(s, d))),
    "q_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // CDC fixture: the "new" snapshot drops every 13th key, re-segments
      // every 10th surviving key, and appends a shifted-key batch
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val mutated = base.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 10 === 0, lit("PROMO")).otherwise(col("c_mktsegment")))
      val inserts = base.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit("NEW").as("c_mktsegment"), lit(0).as("c_nationkey"))
      graft.ops.Diff.snapshotDiff(base, mutated.unionByName(inserts),
        "c_custkey", Seq("c_mktsegment", "c_nationkey"))
    }),
    "q_boilerplate" -> ((s, d) => TextOps.boilerplateRemoval(Tables.documents(s, d))),
    "q_cluster_rep" -> ((s, d) => Dedup.clusterRepresentatives(Tables.documents(s, d))),
    "q_curriculum" -> ((s, d) => DataPrep.curriculumDeciles(Tables.documents(s, d))),
    "q_temperature_mix" -> ((s, d) => DataPrep.temperatureResample(Tables.documents(s, d))),
    "q_leakage_safe_split" -> ((s, d) => DataPrep.leakageSafeSplit(Tables.documents(s, d))),
    "q_token_budget" -> ((s, d) => DataPrep.tokenBudgetSelect(Tables.documents(s, d))),
    "q_token_budget_by_source" -> ((s, d) =>
      DataPrep.tokenBudgetBySource(Tables.documents(s, d))),
    "q_contamination_report" -> ((s, d) =>
      DataPrep.contaminationReport(Tables.documents(s, d))),
    "q_quality_quantile" -> ((s, d) => DataPrep.qualityQuantileFilter(Tables.documents(s, d))),
    "q_negative_samples" -> ((s, d) => DataPrep.negativeSamples(Tables.documents(s, d))),
    "q_repeated_spans" -> ((s, d) => Dedup.repeatedSpans(Tables.documents(s, d))),
    // the surgery twin of the audit above: tokens covered by cross-doc
    // duplicated k-grams are cut, docs reassembled (Lee et al. 2021)
    "q_remove_spans" -> ((s, d) => Dedup.removeRepeatedSpans(Tables.documents(s, d))),
    "q_context_windows" -> ((s, d) => DataPrep.contextWindows(Tables.documents(s, d))),
    "q_quantize_int8" -> ((s, d) => Similarity.quantizeInt8(Tables.embeddings(s, d))),
    // vector junk gate: zero/non-finite detection + norm — the
    // embedding modality's quality row, on the real embeddings table
    "q_embedding_quality" -> ((s, d) =>
      Similarity.embeddingQualityStats(Tables.embeddings(s, d))),
    // incremental materialized-view maintenance: history rollup + new
    // batch rollup merged WITHOUT rescanning history; the oracle
    // recomputes from scratch — hash equality IS the correctness claim
    "q_incremental_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, to_date, lit}
      val ev = Tables.events(s, d)
      val stored = graft.ops.Incremental.dailyRollup(
        ev.filter(to_date(col("ts")) <= lit("2024-01-20")))
      val delta = graft.ops.Incremental.dailyRollup(
        ev.filter(to_date(col("ts")) > lit("2024-01-20")))
      graft.ops.Incremental.present(
        graft.ops.Incremental.mergeRollup(stored, delta))
    }),
    // mergeable-sketch table pattern: per-day HLL buffers → range merge.
    // Estimates aren't SQL-replicable → rows-only; SketchesSpec pins
    // merged ≡ single-pass bit-identically (incl. parquet round-trip).
    "q_sketch_merge" -> ((s, d) => graft.ops.Sketches.weeklyDistinctUsers(
      graft.ops.Sketches.dailyUserSketches(Tables.events(s, d)))),
    // KMV twin of q_sketch_merge: same stored-daily-buffer shape, but the
    // sketch also yields a uniform distinct-user SAMPLE per range (HLL
    // can't). Estimates → rows-only; KmvSketchSpec pins exactness below
    // k, the error envelope, and merge ≡ single-pass bit-identity.
    "q_kmv_users" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val K = graft.functions.KmvSketch
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(K.kmv_sketch_buffer(col("user_id"), 64).as("sketch"))
      daily.groupBy(date_trunc("week", col("day")).cast("date").as("wk"))
        .agg(K.kmv_merge_estimate(col("sketch")).as("est_users"),
          K.kmv_merge_sample(col("sketch")).as("sample"))
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
          col("est_users"), size(col("sample")).as("n_sample"),
          array_min(col("sample")).as("sample_min"),
          array_max(col("sample")).as("sample_max"))
        .orderBy("week_start")
    }),
    // Quantile twin of q_sketch_merge: per-day QuantileSketch buffers,
    // weekly p50/p90/p99 by merge. Integer-cents values keep the domain
    // bounded (< 65536 distinct at any SF) so the default k IS the
    // exact regime -> oracle-matched against DuckDB quantile_disc;
    // under-capacity estimation is spec-pinned (QuantileSketchSpec).
    "q_quantile_sketch" -> ((s, d) => graft.ops.Sketches.weeklyValueQuantiles(
      graft.ops.Sketches.dailyValueSketches(Tables.events(s, d)))),
    "q_profile" -> ((s, d) => Relational.profileOrders(Tables.orders(s, d))),
    "q_approx_profile" -> ((s, d) => Relational.approxProfile(Tables.lineitem(s, d))),
    // the approx profile's ERROR CONTRACT under the exact oracle: per
    // group, exact aggregates + a TRUE-iff-in-envelope boolean per
    // estimate (the oracle asserts every bound TRUE, so a hash match
    // certifies the estimators kept their envelopes)
    "q_approx_profile_bounds" -> ((s, d) =>
      Relational.approxProfileBounds(Tables.lineitem(s, d))),
    // the sketch family's error contracts under the exact oracle: per
    // scope, the exact distinct count + TRUE-iff-held booleans for the
    // error envelope, merge ≡ single-pass identity, and below-capacity
    // KMV exactness — certifying what q_hll_distinct / q_kmv_users /
    // q_sketch_merge (rows-only by necessity) contractually promise
    "q_sketch_bounds" -> ((s, d) => graft.ops.Sketches.sketchBounds(
      Tables.lineitem(s, d), Tables.events(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "q_minhash_neardup" -> ((s, d) => Dedup.minhashNearDup(Tables.documents(s, d))),
    // md5-family twin: same LSH pipeline, portable hash -> the banding,
    // candidates, AND verify are all DuckDB-reproducible (oracle-matched),
    // closing the "banding is engine-specific" gap for the family
    "q_minhash_neardup_md5" -> ((s, d) => Dedup.minhashNearDup(
      Tables.documents(s, d), numHashes = 16, numBands = 8, portableHash = true)),
    "q_incremental_neardup_md5" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val storedSigs = Dedup.minhashSignaturesMd5(
        Dedup.shingles(docs.filter(col("doc_id") < 250)), numHashes = 16)
      Dedup.incrementalMinhashNearDup(docs.filter(col("doc_id") >= 250), storedSigs,
        numHashes = 16, numBands = 8, portableHash = true)
    }),
    "q_incremental_neardup" -> ((s, d) => {
      // daily-ingest shape: docs < 250 are the already-ingested corpus
      // (only their STORED signatures are used), the rest are the new batch
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val storedSigs = Dedup.minhashSignatures(
        Dedup.shingles(docs.filter(col("doc_id") < 250)))
      Dedup.incrementalMinhashNearDup(docs.filter(col("doc_id") >= 250), storedSigs)
    }),
    "q_simhash_neardup" -> ((s, d) => Dedup.simhashNearDup(Tables.documents(s, d))),
    // md5-family simhash twin: portable 60-bit fingerprints put the
    // whole simhash near-dup path (fingerprint, banding, verify) under
    // the DuckDB oracle; guard off on the oracle path (exact regime)
    "q_simhash_neardup_md5" -> ((s, d) => Dedup.simhashNearDupMd5(
      Tables.documents(s, d), maxBandBucket = 0)),
    // LSH calibration harness: measured banding recall per exact-jaccard
    // bucket — the probabilistic side itself under the DuckDB oracle
    "q_lsh_recall_curve" -> ((s, d) => Dedup.lshRecallCurve(Tables.documents(s, d))),
    // winnowing (SIGMOD'03 / MOSS) fingerprints over the portable md5
    // hash: selection AND overlap near-dup run under the DuckDB oracle
    "q_winnow_fingerprints" -> ((s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d))
        .orderBy("doc_id", "fp")),
    "q_winnow_neardup" -> ((s, d) => Dedup.winnowNearDup(Tables.documents(s, d))),
    // asymmetric containment |A∩B|/|A|: the excerpt/quote detector
    "q_containment_neardup" -> ((s, d) =>
      Dedup.containmentNearDup(Tables.documents(s, d))),
    // §2.10: similarity search
    "q_cosine_topk" -> ((s, d) => Similarity.cosineTopK(Tables.embeddings(s, d))),
    "q_embedding_neardup" -> ((s, d) => Similarity.embeddingNearDup(Tables.embeddings(s, d))),
    // components over the exact cosine-threshold pair graph — the
    // duplicate-clusters cell for the embedding modality (every vector
    // labeled min-id-of-component, singletons label themselves)
    "q_embedding_clusters" -> ((s, d) =>
      Similarity.embeddingClusters(Tables.embeddings(s, d))),
    // daily-ingest shape for the embedding modality (the vector twin of
    // q_doc_ingest_audit): md5-random stored/new split, store = int8
    // CODE exemplars only, all verdicts exact integer arithmetic ->
    // fully hash-matched
    "q_embedding_neardup_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val stored = Similarity.quantizedCodes(emb.filter(storedSide))
        .filter(col("qsq") > 0)
      Similarity.embeddingIngestAudit(emb.filter(!storedSide), stored)
    }),
    // the IVF-list-blocked form of the audit above — the production
    // pair space (equi-join on the probed list ids instead of the
    // broadcast full-store scan). Seed-code centroids are
    // deterministic, so even the pruned candidate set hash-matches
    "q_embedding_neardup_blocked" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val cents = Similarity.ivfSeedCentroids(emb.filter(storedSide))
      Similarity.embeddingIngestAuditBlocked(emb.filter(!storedSide),
        Similarity.ivfIndexAssign(emb.filter(storedSide), cents), cents)
    }),
    // the CHAINED 3-day form of the audit above, still fully
    // hash-matched: md5-assigned day batches, day k's store =
    // seed ∪ novel(days < k) — the ingest-loop law (chain ≡
    // sequential store folds, spec-pinned) plus cross-day novelty
    // propagation, all under one DuckDB SQL
    "q_embedding_ingest_chain" -> ((s, d) =>
      Similarity.embeddingIngestChainAudit(Tables.embeddings(s, d))),
    // store-maintenance audit for the EMBEDDING code store — the
    // compaction row's third modality family (media, text, vectors):
    // rows stored, distinct-digest exemplars, redundant rows, largest
    // identical-code group. The planted redundancy is the
    // scale-invariance collapse itself: every vector is stored at
    // ×1, ×2, and ×0.5 magnitude (exact power-of-two scalings ⇒
    // byte-identical int8 codes ⇒ one digest group per direction)
    "q_embedding_store_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, transform}
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      def scaled(off: Long, f: Float) = emb.select(
        (col("vec_id") + lit(off)).as("vec_id"),
        transform(col("embedding"), x => x * lit(f)).as("embedding"))
      Similarity.embeddingStoreCompactionSummary(Similarity.quantizedCodes(
        emb.unionByName(scaled(1000000L, 2.0f))
          .unionByName(scaled(2000000L, 0.5f))))
    }),
    "q_lsh_topk" -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d))),
    "q_ivf_topk" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d))),
    // IVF with nProbe = nList IS brute force (every list probed) -> the
    // exact cosine top-k oracle applies; q_ivf_topk above stays the
    // pruned-probe demo (rows-only by design)
    "q_ivf_exact" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d), nProbe = 16)),
    // seed-code IVF: the coarse quantizer as a maintained artifact in
    // the exact int8 regime (centroids = the nList smallest-md5 seeds'
    // codes), which puts the whole index family — build audit,
    // incremental assignment, pruned probe — under the hash oracle,
    // unlike the float-kmeans q_ivf_topk
    "q_ivf_index_build" -> ((s, d) =>
      Similarity.ivfIndexBuildSummary(Tables.embeddings(s, d))),
    // the index's daily-ingest cell: a NEW md5-split batch assigned
    // against centroids built from the STORED side only — O(batch ×
    // nList), no scan of stored assignments at all
    "q_ivf_index_assign_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      Similarity.ivfIndexAssign(emb.filter(!storedSide),
          Similarity.ivfSeedCentroids(emb.filter(storedSide)))
        .select("vec_id", "centroid_id", "centroid_sim")
        .orderBy("vec_id")
    }),
    // pruned-probe ANN over the seed index: deterministic end to end,
    // so THIS pruned probe is hash-matched (nProbe = nList degenerates
    // to q_quantized_topk row-for-row, spec-pinned)
    "q_ivf_index_topk" -> ((s, d) =>
      Similarity.ivfIndexTopK(Tables.embeddings(s, d))),
    // lifecycle audit of the PERSISTED index: init on the md5-stored
    // side, append the drifted rest under the FIXED day-0 seeds, then
    // read the hive store's per-list occupancy — counts are exact
    // integers, so the drifted skew itself is hash-matched
    "q_ivf_store_occupancy" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_occ_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(!storedSide), dir)
      Similarity.ivfIndexStoreOccupancy(s, dir)
    }),
    // the centroid-preserving FOLD (round 17): init on the md5-stored
    // side, stream the rest as two exactly-once days, then COMPACT —
    // days fold into the consolidated lists without moving a single
    // assignment (centroids verbatim, sidecar re-based off the staged
    // bytes), so the post-compact occupancy is the drifted store's own
    "q_ivf_store_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val emb = Tables.embeddings(s, d)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_compact_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(h < "8"), dir)
      Similarity.ivfIndexStreamDay(s,
        emb.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      Similarity.ivfIndexStreamDay(s, emb.filter(h >= "c"), 1L, dir)
      Similarity.ivfIndexStoreCompact(s, dir)
    }),
    // the rebalance step: same drifted store, re-seeded from the FULL
    // stored codes (packed bytes unpacked; embeddings never re-read)
    // through the rename-aside swap — the post-reseed occupancy equals
    // a fresh build's, which is what the oracle computes
    "q_ivf_store_reseed" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_reseed_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(!storedSide), dir)
      Similarity.ivfIndexStoreReseed(s, dir)
    }),
    // the deploy step of the trained-quantizer tier: init + drifted
    // append, then TRAIN the store in place (fresh seeds off the full
    // stored codes + 2 integer Lloyd epochs, rename-aside swap) — the
    // post-train occupancy equals the trained assignment of the full
    // corpus, which is what the oracle computes
    "q_ivf_store_trained_occupancy" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_train_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(!storedSide), dir)
      Similarity.ivfIndexStoreTrain(s, dir)
    }),
    // the MULTI-CYCLE day-ingest law (round 16): append → update →
    // append → update. The second batch assigns under the MOVED
    // centroids and the lists now hold mixed-epoch members — the
    // historical-assignment semantics (a centroid is the mean of its
    // members AS ASSIGNED) is exactly what the sidecar's additive
    // cells encode, and the oracle recomputes the whole two-cycle
    // trajectory from scratch to certify it cross-engine
    "q_ivf_store_update_inc2" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val emb = Tables.embeddings(s, d)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_upd2_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(h < "8"), dir)
      Similarity.ivfIndexStoreAppend(s,
        emb.filter(h >= lit("8") && h < lit("c")), dir)
      Similarity.ivfIndexStoreUpdateCentroids(s, dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(h >= "c"), dir)
      Similarity.ivfIndexStoreUpdateCentroids(s, dir)
    }),
    // O(batch) centroid maintenance WIRED INTO THE ARTIFACT (round 16):
    // init persists the stored side's Lloyd sufficient statistics as a
    // store sidecar, the append merges the batch's stats by addition,
    // and the update recomputes the rounded means off the sidecar alone
    // — NO stored-corpus rescan at any size. The oracle computes the
    // union one-epoch update, so the hash match certifies the
    // sufficient-statistics exactness theorem against the PERSISTED
    // store lifecycle, not just the in-memory split of
    // q_kmeans_update_inc
    "q_ivf_store_update_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_upd_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(!storedSide), dir)
      Similarity.ivfIndexStoreUpdateCentroids(s, dir)
    }),
    // the sidecar-invariant FSCK as a query (round 17): per list, the
    // member count and per-coordinate integer sums recomputed from the
    // STORED assignment bytes vs the lloyd_stats sidecar, cell by cell
    // — TRUE-iff-equal booleans, so the documented append crash window
    // (rows committed, cell merge not) is DETECTABLE by a query, not
    // just recoverable by a hatch someone must remember
    "q_ivf_store_fsck" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_fsck_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(storedSide), dir)
      Similarity.ivfIndexStoreAppend(s, emb.filter(!storedSide), dir)
      Similarity.ivfIndexStoreFsck(s, dir)
    }),
    // DELETION from the persisted index (round 17) — the lifecycle step
    // real corpora force (takedowns, dedup retractions, privacy
    // erasure): drop the ids' rows from ONLY the hive partitions that
    // held one and SUBTRACT their cells from the sidecar (additivity
    // runs both directions). Per affected list: ids dropped and rows
    // remaining — both exact integers, so the delete is hash-matched
    "q_ivf_store_delete" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_del_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStoreDelete(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir)
    }),
    // the delete → update COMPOSITION law (the union-minus theorem):
    // after subtracting the victims' cells, the O(batch) centroid
    // update off the sidecar alone equals the one-epoch Lloyd update
    // of the SURVIVOR corpus under the init centroids — the oracle
    // recomputes that from scratch, so the hash match certifies that
    // deletion composes with the whole maintenance loop, not just
    // with reads
    "q_ivf_store_delete_upd" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_delupd_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStoreDelete(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir)
      Similarity.ivfIndexStoreUpdateCentroids(s, dir)
    }),
    // STREAMED deletion for the IVF store (round 18): stream-ingest +
    // tombstone + compact ≡ a build over the survivors. The tombstone
    // day is a pure function of the id batch (overwrite-by-day —
    // exactly-once extended to deletions); readers subtract it at
    // merge-on-read; the centroid-preserving compact applies it
    // physically and re-derives every sidecar from the staged bytes.
    // Oracle = the drifted-occupancy oracle counting only survivors
    // (centroids verbatim: seeds stay drawn from the full stored side)
    "q_ivf_store_stream_del" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val emb = Tables.embeddings(s, d)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_sdel_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb.filter(h < "8"), dir)
      Similarity.ivfIndexStreamDay(s,
        emb.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      Similarity.ivfIndexStreamDay(s, emb.filter(h >= "c"), 1L, dir)
      Similarity.ivfIndexStoreTombstone(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir, 2L)
      Similarity.ivfIndexStoreCompact(s, dir)
    }),
    // the INCREMENTAL fold (round 18, session 2): the same lifecycle
    // as q_ivf_store_stream_del — init + two streamed days + a
    // tombstone batch — but the store's consolidated rows live under a
    // FILE-LIST MANIFEST (ManifestedTable, the Iceberg shape), so the
    // fold rewrites ONLY the partitions a day row or victim touched
    // (unaffected entries carry their old paths verbatim) and retires
    // the day/tombstone cells ATOMICALLY with the data flip in one
    // manifest commit — the mid-fold double-count a directory layout
    // cannot avoid is structurally impossible. Occupancy over the
    // folded store ≡ a fresh build over the survivors: the streamed-
    // delete oracle verbatim (same law, different fold machinery)
    "q_ivf_store_incfold" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val emb = Tables.embeddings(s, d)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_incf_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      // rerun-safe: a fresh store per invocation (a re-init against an
      // existing manifest is a loud duplicate-version error BY DESIGN)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      IvfIncremental.init(emb.filter(h < "8"), dir)
      Similarity.ivfIndexStreamDay(s,
        emb.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      Similarity.ivfIndexStreamDay(s, emb.filter(h >= "c"), 1L, dir)
      Similarity.ivfIndexStoreTombstone(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir, 2L)
      IvfIncremental.fold(s, dir)
      IvfIncremental.occupancy(s, dir)
    }),
    // ATOMIC append under the manifest: the batch's files land as NEW
    // entries (multiple entries per partition — the LSM shape; no
    // existing file read or rewritten, O(batch) at any store size) and
    // ONE manifest commit makes them all visible, closing the flat
    // append's non-atomic parquet-append window. Occupancy ≡ the flat
    // init+append law (q_ivf_store_occupancy's oracle verbatim)
    "q_ivf_store_inc_append" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, md5, substring}
      val emb = Tables.embeddings(s, d)
      val storedSide = substring(md5(col("vec_id").cast("string")), 1, 1) < "8"
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_inca_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      IvfIncremental.init(emb.filter(storedSide), dir)
      IvfIncremental.append(s, emb.filter(!storedSide), dir)
      IvfIncremental.occupancy(s, dir)
    }),
    // the manifest's own integrity law, certified after the full
    // lifecycle (init + days + tombstone + fold): per list, the row
    // count the manifest CLAIMS (entries' recorded counts) vs the rows
    // actually in the referenced files, full-outer so a one-sided
    // list fails — rows_ok is TRUE-iff-held over real counts, and the
    // counts themselves hash against the survivor law
    "q_ivf_store_inc_fsck" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, md5, substring}
      val emb = Tables.embeddings(s, d)
      val h = substring(md5(col("vec_id").cast("string")), 1, 1)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_incfs_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      val dp = new org.apache.hadoop.fs.Path(dir)
      dp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dp, true)
      IvfIncremental.init(emb.filter(h < "8"), dir)
      Similarity.ivfIndexStreamDay(s,
        emb.filter(h >= lit("8") && h < lit("c")), 0L, dir)
      Similarity.ivfIndexStreamDay(s, emb.filter(h >= "c"), 1L, dir)
      Similarity.ivfIndexStoreTombstone(s,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), dir, 2L)
      IvfIncremental.fold(s, dir)
      IvfIncremental.fsck(s, dir)
    }),
    // FILTERED ANN over the store (round 17): top-k among only the
    // vectors passing a metadata predicate, post-filter vs in-filter
    // measured head-to-head off ONE scored pruned scan — hits/recall
    // vs the filtered exact top-k, and the post ⊆ in containment as
    // the TRUE-iff-held witness; deterministic int8 end to end
    "q_ivf_store_probe_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.ivfIndexStoreProbeFiltered(s,
        emb.filter(col("vec_id") < 10), ivfStoreFixture(s, d),
        emb.select(col("vec_id"), (col("vec_id") % 3 === 1).as("keep")))
    }),
    // the probabilistic side of q_ivf_topk under the oracle (the
    // bounds-twin pattern): per query, recall@k of the pruned probe vs
    // the exact top-k >= the documented floor, as a TRUE-iff-held
    // boolean — deterministic because ivfCentroids is
    "q_ivf_recall" -> ((s, d) => Similarity.ivfRecall(Tables.embeddings(s, d))),
    // SOAR-style spilled assignment A/B: each vector indexed under its
    // top-2 centroids; per query at EQUAL nProbe, candidate count and
    // exact-top-k hits for single vs spilled — fully deterministic int8
    // arithmetic, so the recall/cost trade-off is itself hash-matched
    "q_ivf_spilled_recall" -> ((s, d) =>
      Similarity.ivfIndexSpilledRecall(Tables.embeddings(s, d))),
    // distributed Lloyd training in the exact int8 regime: per-epoch
    // per-list size, moved-member count, exact centroid checksums, and
    // min/max member sim — integer mean updates (floor(mean + 1/2)),
    // so the whole k-means loop is hash-matched, unlike the driver-
    // sampled float path behind q_ivf_topk
    "q_kmeans_refine" -> ((s, d) =>
      Similarity.kmeansRefineSummary(Tables.embeddings(s, d))),
    // the day-ingest cell of training: stored-side sufficient stats
    // (retained at train time) + ONE O(batch) scan of the new batch,
    // merged by addition — EXACTLY the union update (integer sums are
    // sufficient statistics); the oracle computes the union form while
    // Spark computes the split-merge, so the hash match certifies the
    // exactness theorem cross-engine
    "q_kmeans_update_inc" -> ((s, d) =>
      Similarity.kmeansUpdateIncSummary(Tables.embeddings(s, d))),
    // does training the coarse quantizer pay? seed (epoch-0) vs
    // Lloyd-refined (epoch-2) index at EQUAL probe width and bytes:
    // per query, candidate count and exact-top-k hits for both —
    // no invariant column because there is no theorem (rounded-integer
    // Lloyd CAN lose recall; that is why it is measured)
    "q_ivf_trained_recall" -> ((s, d) =>
      Similarity.ivfTrainedRecall(Tables.embeddings(s, d))),
    // the same A/B on the planted-cluster corpus — where a coarse
    // quantizer has real structure to learn (measured: training lifts
    // recall to the ceiling at sf0.1, vs ~neutral on the isotropic
    // corpus — the corpus-specificity lesson of the OPQ A/B again)
    "q_ivf_trained_recall_clustered" -> ((s, d) =>
      Similarity.ivfTrainedRecall(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // the Matryoshka instrument (round 16): per query and prefix width
    // d ∈ {16, 32, 64}, exact full-dim top-k hits recovered by ranking
    // on the FIRST d coordinates only — "can this corpus rank on a
    // prefix and read 4× fewer index bytes?" measured, never assumed;
    // the d = 64 arm is the exact ranking (built-in recall-1.0 row)
    "q_dim_truncation_recall" -> ((s, d) =>
      Similarity.dimTruncationRecall(Tables.embeddings(s, d))),
    // the same calibration on the planted-cluster corpus: the centers
    // repeat every 8 dims, so a 16-dim prefix already sees two peaks
    // per cluster — prefix ranking recovers cluster structure where
    // the isotropic corpus has none to recover
    "q_dim_truncation_recall_clustered" -> ((s, d) =>
      Similarity.dimTruncationRecall(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // the calibration CASHED IN (round 17): prefix-width-d shortlist of
    // size r, exact full-dim rerank to top-k — per (d, r) cell, hits
    // vs the exact top-k, off ONE cached pairs frame (the tradeoff-
    // grid discipline); the d = 64 arm is the built-in recall-1.0 row
    "q_truncated_rerank" -> ((s, d) =>
      Similarity.truncatedRerank(Tables.embeddings(s, d))),
    // on the planted-cluster corpus — where the calibration predicted
    // prefixes carry the structure, so a small exact rerank recovers
    // most of what pure prefix ranking loses
    "q_truncated_rerank_clustered" -> ((s, d) =>
      Similarity.truncatedRerank(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // the calibration cashed in at the BYTE level (round 18): the store
    // carries a Matryoshka prefix sidecar (prefix_codes/d=D/centroid_id=L,
    // the pq_codes layout and lifecycle), and the two-stage probe's
    // shortlist scan READS only d/dim of the ranking bytes before the
    // exact full-dim rerank of the shortlist alone. At nProbe = nList
    // on the static store the (d, r) grid equals q_truncated_rerank
    // cell for cell — same oracle certifies the persisted form
    "q_truncated_store_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.ivfIndexStoreTruncatedGrid(s,
        Tables.embeddings(s, d).filter(col("vec_id") < 10),
        ivfPrefixFixture(s, d))
    }),
    // ... and on the planted-cluster corpus, where the calibration said
    // prefixes carry the structure — the byte-true probe recovers it
    // from d/dim of the index bytes (recall ceiling at small d)
    "q_truncated_store_probe_clustered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.ivfIndexStoreTruncatedGrid(s,
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d))
          .filter(col("vec_id") < 10),
        ivfPrefixClusteredFixture(s, d))
    }),
    // quantized-scan ANN: cosine top-k over int8 codes — per-vector
    // scales cancel, so the ranking is pure integer arithmetic and
    // (unlike trained-codebook PQ) exactly oracle-matched
    "q_quantized_topk" -> ((s, d) =>
      Similarity.quantizedCosineTopK(Tables.embeddings(s, d))),
    // the PACKED-codes twin: binary codes (1 byte/element vs
    // array<int>'s 4 — the store/scan-bandwidth form), identical
    // values, same oracle SQL
    "q_quantized_topk_bytes" -> ((s, d) =>
      Similarity.quantizedCosineTopKBytes(Tables.embeddings(s, d))),
    // product quantization with a SEED-drawn (md5-ranked) codebook
    // instead of trained kmeans: encoding, distortion, and ADC rankings
    // are exact integer arithmetic, so — unlike classical trained PQ —
    // the whole lossy tier sits under the hash oracle. Storage ladder:
    // float 256 B/vec → int8 64 B → PQ 8 B (nSub bytes)
    "q_pq_encode" -> ((s, d) =>
      Similarity.pqEncodeSummary(Tables.embeddings(s, d))),
    // ADC top-k: per-query integer lookup table, nSub adds per pair —
    // 8× less bandwidth AND arithmetic than the int8 scan
    "q_pq_topk" -> ((s, d) => Similarity.pqTopK(Tables.embeddings(s, d))),
    // exact per-query hit counts of the ADC ranking vs the int8-exact
    // top-k — the lossy tier's recall audited under the oracle
    "q_pq_recall" -> ((s, d) => Similarity.pqRecall(Tables.embeddings(s, d))),
    // IVF+PQ (Jégou et al., TPAMI 2011): coarse seed-IVF pruning over
    // nSub-byte ADC candidates — the composed production architecture,
    // deterministic end to end (nProbe = nList ≡ q_pq_topk, spec-pinned)
    "q_ivfpq_topk" -> ((s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d))),
    // two-stage retrieval: ADC shortlist (8-byte reads) → exact int8
    // rerank of the top-20 only → final top-k by exact similarity,
    // with the ADC rank riding along as the reorder witness
    "q_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqRerankTopK(Tables.embeddings(s, d))),
    // recall-vs-cost calibration of the two-stage retrieval: exact hit
    // counts + candidate counts over the (nProbe × rerank) grid at
    // FIXED stored bytes — the two query-time knobs, hash-certified
    "q_ivfpq_tradeoff" -> ((s, d) =>
      Similarity.ivfPqTradeoff(Tables.embeddings(s, d))),
    // per-subspace Lloyd codebook training in the exact integer
    // regime: per round, total/max PQ distortion — integer sums, and
    // the descent is a THEOREM here (rounded mean = closest integer
    // vector to the true mean; re-encode is an argmin), so the
    // monotone collapse is itself hash-certified
    "q_pq_train_distortion" -> ((s, d) =>
      Similarity.pqTrainDistortion(Tables.embeddings(s, d))),
    // does training the PQ codebook pay? seed vs 2-round-Lloyd ADC
    // recall at equal stored bytes — measured, never assumed
    "q_pq_trained_recall" -> ((s, d) =>
      Similarity.pqTrainedRecall(Tables.embeddings(s, d))),
    // the cautionary instrument: on the planted-cluster corpus
    // training collapses distortion ~200x yet recall CRATERS — a
    // distortion-optimal codebook reconstructs cluster-mates
    // identically, so raw ADC order loses within-cluster resolution
    // (the measured case FOR exact rerank / residual encoding)
    "q_pq_trained_recall_clustered" -> ((s, d) =>
      Similarity.pqTrainedRecall(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // OPQ-lite A/B: raw-layout ADC recall vs recall after a seed-
    // derived coordinate permutation ahead of pq_encode, at equal
    // stored bytes — measures whether re-grouping coordinates moves
    // recall on this corpus before a deployment commits a layout
    "q_pq_recall_opq" -> ((s, d) =>
      Similarity.pqRecallOpq(Tables.embeddings(s, d))),
    // the same layout A/B on the planted-cluster corpus, where the
    // identity layout is peak-ALIGNED (one peak per subspace) and the
    // codebook co-permutes with the data — measures the permutation's
    // effect when cluster alignment is preserved by construction
    "q_pq_recall_opq_clustered" -> ((s, d) => Similarity.pqRecallOpq(
      Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // the PERSISTED composed index: hive store + PQ sidecar (codebook
    // drawn from the stored codes, pq_codes partitioned by the same
    // list ids), ADC probe reads only the probed partitions at nSub
    // bytes/row — on a static store ≡ q_ivfpq_topk, so it shares that
    // oracle (the q_quantized_topk_bytes discipline)
    // IVFADC (residual quantization — the faithful Jégou et al. cell):
    // vectors PQ-encoded as residuals against their coarse centroid,
    // codebook = the md5 ranks 16..31's own residuals (disjoint from
    // the seeds, whose residuals are zero); all-integer, hash-matched
    "q_ivfadc_topk" -> ((s, d) => Similarity.ivfAdcTopK(Tables.embeddings(s, d))),
    // the residual (IVFADC) sidecar as a MAINTAINED ARTIFACT (round
    // 16): pq_codes hold residual encodings with |cv + r̂|² as the
    // stored denominator, the codebook records residual-ness like the
    // layout, and the probe adds the bounded per-(query, list) q·cv
    // term — on a static store ≡ q_ivfadc_topk row-for-row (same
    // oracle; the q_ivfpq_store_probe discipline applied to the
    // residual configuration)
    "q_ivfadc_store_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfadc_store_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStorePqBuild(s, dir, residual = true)
      Similarity.ivfIndexStorePqProbe(s, emb.filter(col("vec_id") < 10), dir)
    }),
    // the FULL trained lifecycle of the residual configuration: train
    // the store first, THEN build the residual sidecar — its codebook
    // draws from residuals under the TRAINED centroids, its codes
    // encode trained-residuals, and the probe ranks trained centroids
    "q_ivfadc_store_probe_trained" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfadc_store_tr_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStoreTrain(s, dir)
      Similarity.ivfIndexStorePqBuild(s, dir, residual = true)
      Similarity.ivfIndexStorePqProbe(s, emb.filter(col("vec_id") < 10), dir)
    }),
    // residual-vs-raw recall A/B at equal probe width and equal bytes —
    // exact hit counts per query against the int8-exact top-k
    "q_ivfadc_recall" -> ((s, d) => Similarity.ivfAdcRecall(Tables.embeddings(s, d))),
    // the SAME A/B over a planted-cluster corpus (8 separated integer
    // centers + per-(vector,dim) jitter, derived from vec_ids alone) —
    // the clustered regime the IVFADC literature assumes, vs
    // q_ivfadc_recall's near-isotropic testdata regime
    "q_ivfadc_recall_clustered" -> ((s, d) => Similarity.ivfAdcRecall(
      Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    // the COMPOSED trained configuration (round 16): coarse centroids
    // Lloyd-trained AND the residual codebook Lloyd-trained on the
    // residuals under them — all-seed vs all-trained IVFADC at equal
    // probe width and bytes, per query in exact hit counts
    "q_ivfadc_trained_recall" -> ((s, d) =>
      Similarity.ivfAdcTrainedRecall(Tables.embeddings(s, d))),
    // the same composition on the planted-cluster corpus — the sharp
    // question: q_pq_trained_recall_clustered measured raw-PQ training
    // CRATERING clustered recall (5→1); does residual training under
    // trained centroids recover it?
    "q_ivfadc_trained_recall_clustered" -> ((s, d) =>
      Similarity.ivfAdcTrainedRecall(
        Similarity.plantedClusterEmbeddings(Tables.embeddings(s, d)))),
    "q_ivfpq_store_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfpq_store_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStorePqBuild(s, dir)
      Similarity.ivfIndexStorePqProbe(s, emb.filter(col("vec_id") < 10), dir)
    }),
    // the layout-recording store: same lifecycle with the OPQ-lite
    // permutation RECORDED in the codebook, so the probe encodes its
    // lookup tables under the stored layout with no caller re-supply;
    // the coarse tier stays on raw codes (layout-invariant)
    // the PQ-sidecar LIFECYCLE pin (round 16): build the sidecar, TRAIN
    // the store in place (rebuild-in-swap keeps the codebook verbatim
    // and re-partitions the codes under the trained lists), then ADC-
    // probe the retrained store — before this round the swap silently
    // dropped the sidecar and this probe failed on a missing path
    "q_ivfpq_store_probe_trained" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfpq_store_tr_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStorePqBuild(s, dir)
      Similarity.ivfIndexStoreTrain(s, dir)
      Similarity.ivfIndexStorePqProbe(s, emb.filter(col("vec_id") < 10), dir)
    }),
    "q_ivfpq_store_probe_opq" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfpq_store_opq_" + new java.io.File(d).getName + "_" +
          s.sparkContext.applicationId).getPath
      graft.Tables.deleteOnExit(dir)
      Similarity.ivfIndexStoreInit(emb, dir)
      Similarity.ivfIndexStorePqBuild(s, dir,
        layout = Similarity.opqPermutation(64))
      Similarity.ivfIndexStorePqProbe(s, emb.filter(col("vec_id") < 10), dir)
    }),
    "q_centroid_outliers" -> ((s, d) => Similarity.centroidSim(Tables.embeddings(s, d))),
    // SemDeDup: cluster-blocked semantic near-dup drop (rows-only —
    // cluster boundaries are kmeans-dependent); the nList=1 regime below
    // is brute force and carries the SQL oracle for the drop rule
    "q_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d))),
    "q_semantic_dedup_exact" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), nList = 1)),
    "q_vectorized_cosine" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      val emb = Tables.embeddings(s, d)
      // driver-side fetch of ONE query vector (k×dim-scale, like IVF centroids)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect()(0).getSeq[Double](0).toArray
      graft.plans.VectorizedCosine.score(emb, q)
        .select(col("neighbor_id"), round(col("cosine_sim"), 6).as("cosine_sim"))
        .orderBy("neighbor_id")
    }),
    // §2.10: multimodal binary plumbing
    "q_multimodal_binary" -> ((s, d) => Multimodal.binaryStats(Tables.documents(s, d))),
    "q_aspect_batches" -> ((s, d) => Multimodal.aspectBatches(
      Multimodal.toMediaTable(Tables.documents(s, d)))),
    "q_multimodal_frames" -> ((s, d) => {
      // Scalar digest of the frame/feature pipeline (the driver's compare
      // can't sort array columns): every feature value still flows through
      // the array via aggregate/get, so the mapPartitions batch path and
      // the resize arithmetic are what's being checked.
      import org.apache.spark.sql.functions._
      Multimodal.sampleFrames(s, Multimodal.toMediaTable(Tables.documents(s, d)))
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"),
          size(col("features")).as("n_features"),
          aggregate(col("features"), lit(0L),
            (acc, v) => acc + v.cast("long")).as("feat_sum"),
          get(col("features"), lit(0)).cast("int").as("feat_first"),
          get(col("features"), size(col("features")) - 1).cast("int").as("feat_last"))
        .orderBy("doc_id", "frame_idx")
    }),
    // REAL codec: javax.imageio PNG encode → decode round-trip; the
    // aggregates below are over DECODED pixels, oracle = closed form of
    // the deterministic pattern (PNG is lossless)
    "q_png_decode" -> ((s, d) => Multimodal.decodePngFeatures(s,
      MediaFixtures.table(s, d, "png")).orderBy("doc_id")),
    // REAL audio codec: javax.sound.sampled WAV/PCM16 encode → decode
    // round-trip; lossless, so the decoded-sample aggregates are the
    // closed form of the deterministic pattern (the audio member of
    // the multimodal family)
    "q_wav_decode" -> ((s, d) => Multimodal.decodeWavFeatures(s,
      MediaFixtures.table(s, d, "wav")).orderBy("doc_id")),
    // perceptual audio dedup over DECODED samples: 63-bit energy-
    // difference hash (closed-form oracle — PCM lossless), then the
    // shared pigeonhole-banded Hamming near-dup; guard off on the
    // oracle path (exact quadratic twin), as for the image family
    "q_audio_ehash" -> ((s, d) => Multimodal.audioEhash(s,
      MediaFixtures.table(s, d, "wav_clusters")).orderBy("doc_id")),
    "q_audio_neardup" -> ((s, d) => Multimodal.audioNearDup(s,
      MediaFixtures.table(s, d, "wav_clusters"),
      maxBandBucket = 0)),
    // perceptual duplicate-audio clusters (components over the banded
    // pair graph), completing the clusters cell for every modality
    "q_audio_clusters" -> ((s, d) => Multimodal.audioClusters(s,
      MediaFixtures.table(s, d, "wav_clusters"),
      maxBandBucket = 0)),
    // junk-video gate: per-frame flatness + distinct-frame-hash count
    // with static/flat flags, on the junk fixture (every 4th video is
    // a static flat clip; the rest carry the scene pattern)
    "q_video_quality" -> ((s, d) => Multimodal.videoQualityStats(s,
      MediaFixtures.table(s, d, "video_junk")).orderBy("doc_id")),
    // daily-ingest shape (audio twin of q_image_neardup_inc): stored
    // side contributes only (doc_id, ehash), new batch decodes; shares
    // the generalized incremental banding core with the image path
    "q_audio_neardup_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val media = MediaFixtures.table(s, d, "wav_clusters")
      val stored = Multimodal.audioEhash(s, media.filter(col("doc_id") < 250))
      Multimodal.audioNearDupIncremental(s, media.filter(col("doc_id") >= 250),
        stored, maxBandBucket = 0)
    }),
    // lossy tier: real JPEG encode->decode; reconstruction isn't
    // closed-form SQL, so rows-only here with the per-channel error
    // bound pinned in MultimodalSpec
    "q_jpeg_decode" -> ((s, d) => Multimodal.decodeImageFeatures(s,
      MediaFixtures.table(s, d, "jpeg")).orderBy("doc_id")),
    // the lossy tier's CONTRACT under the oracle (bounds-twin): exact
    // dims + TRUE-iff-held reconstruction-error/determinism booleans
    "q_jpeg_bounds" -> ((s, d) => Multimodal.jpegBoundsAudit(s,
      MediaFixtures.table(s, d, "jpeg"))),
    // perceptual image dedup over DECODED pixels: 63-bit dHash per
    // image (closed-form oracle — PNG lossless), then pigeonhole-banded
    // Hamming near-dup, the image twin of simhashNearDup
    "q_image_dhash" -> ((s, d) => Multimodal.imageDhash(s,
      MediaFixtures.table(s, d, "png_clusters")).orderBy("doc_id")),
    // maxBandBucket = 0 (guard off) on the ORACLE paths: the DuckDB
    // twin is the exact quadratic join, and the auto cap knowingly
    // drops heavy buckets — exact here keeps verification valid at any
    // SF while the capped default stays the production behavior (the
    // cap itself is bound-pinned on a degenerate corpus in MultimodalSpec)
    "q_image_neardup" -> ((s, d) => Multimodal.imageNearDup(s,
      MediaFixtures.table(s, d, "png_clusters"),
      maxBandBucket = 0)),
    "q_image_clusters" -> ((s, d) => Multimodal.imageClusters(s,
      MediaFixtures.table(s, d, "png_clusters"),
      maxBandBucket = 0)),
    // daily-ingest shape (image twin of q_incremental_neardup_md5):
    // stored side contributes only (doc_id, dhash), new batch decodes
    "q_image_neardup_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val media = MediaFixtures.table(s, d, "png_clusters")
      val stored = Multimodal.imageDhash(s, media.filter(col("doc_id") < 250))
      Multimodal.imageNearDupIncremental(s, media.filter(col("doc_id") >= 250), stored,
        maxBandBucket = 0)
    }),
    // REAL video container tier (GVID: length-prefixed real PNG frames
    // — lossless end to end, so the whole tier is oracle-matched in
    // closed form): full decode, uniform frame sampling (selective
    // decode via the container's length prefixes), per-frame dHash
    // fingerprints, scene-cut detection, and banded near-dup
    "q_video_decode" -> ((s, d) => Multimodal.decodeVideoFeatures(s,
      MediaFixtures.table(s, d, "video"))
      .orderBy("doc_id", "frame_idx")),
    "q_video_frames" -> ((s, d) => Multimodal.videoFrameSample(s,
      MediaFixtures.table(s, d, "video"))
      .orderBy("doc_id", "slot")),
    "q_video_phash" -> ((s, d) => Multimodal.videoPhash(s,
      MediaFixtures.table(s, d, "video"))
      .orderBy("doc_id", "slot")),
    "q_video_scenes" -> ((s, d) => Multimodal.videoScenes(s,
      MediaFixtures.table(s, d, "video_scenes"))),
    // guard off on the oracle path (exact quadratic DuckDB twin), as
    // for the image/audio near-dup families
    "q_video_neardup" -> ((s, d) => Multimodal.videoNearDup(s,
      MediaFixtures.table(s, d, "video_clusters"),
      maxBandBucket = 0)),
    // perceptual duplicate-video clusters (components over the banded
    // pair graph), the video twin of q_image_clusters
    "q_video_clusters" -> ((s, d) => Multimodal.videoClusters(s,
      MediaFixtures.table(s, d, "video_clusters"),
      maxBandBucket = 0)),
    // daily-ingest shape (video twin of q_image_neardup_inc): stored
    // side contributes only (doc_id, slot, dhash), new batch decodes
    "q_video_neardup_inc" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val media = MediaFixtures.table(s, d, "video_clusters")
      val stored = Multimodal.videoPhash(s, media.filter(col("doc_id") < 250))
        .select("doc_id", "slot", "dhash")
      Multimodal.videoNearDupIncremental(s, media.filter(col("doc_id") >= 250),
        stored, maxBandBucket = 0)
    }),
    // junk-media quality gates: decoded-pixel luma stats with the
    // degenerate distinct-luma=1 flat detector (on the SKEWED fixture,
    // which plants flat images), and decoded-PCM clipping/silence
    // counts — all-integer outputs, fully oracle-matched
    "q_image_quality" -> ((s, d) => Multimodal.imageQualityStats(s,
      MediaFixtures.table(s, d, "png_skewed")).orderBy("doc_id")),
    // the FUSED one-decode stage: quality stats + dHash from the same
    // decoded frame — the stage the media compositions share so the
    // corpus is decoded once (oracle = the q_image_quality arithmetic
    // joined with the dhash grid replay, flat images hashing to 0)
    "q_image_stats_dhash" -> ((s, d) => Multimodal.imageStatsDhash(s,
      MediaFixtures.table(s, d, "png_skewed")).orderBy("doc_id")),
    "q_audio_quality" -> ((s, d) => Multimodal.audioQualityStats(s,
      MediaFixtures.table(s, d, "wav_clusters")).orderBy("doc_id")),
    // cross-modal composition: per-doc verdict over three independent
    // duplicate classes — canonical-URL re-crawl, byte-identical text,
    // perceptual image near-dup cluster — each planted by its own
    // fixture; guard off on the oracle path (recursive-walk twin)
    "q_crossmodal_dedup" -> ((s, d) => Curation.crossModalDedup(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_clusters"),
      maxBandBucket = 0)),
    // the media-aware curation funnel: junk gate → URL dedup → exact
    // dedup → image near-dup components → quality, the COMPOSITION
    // oracle-verified (skewed image fixture plants the junk mass)
    "q_multimodal_funnel" -> ((s, d) => Curation.multimodalFunnel(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_skewed"),
      maxBandBucket = 0,
      videos = Some(MediaFixtures.table(s, d, "video_clusters37")))),
    // per-document audit report: every gate's verdict in one wide row
    // (the provenance artifact); skewed media so the flat gate and the
    // dhash-0 mega-cluster both appear in the flags
    "q_curation_report" -> ((s, d) => Curation.curationReport(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_skewed"),
      maxBandBucket = 0)),
    // the fused one-decode audio stage (quality stats + eHash from one
    // WAV decode), on the SKEWED fixture so both flag values occur and
    // the silent mass's all-zero eHash is visible in the fused row
    "q_audio_stats_ehash" -> ((s, d) => Multimodal.audioStatsEhash(s,
      MediaFixtures.table(s, d, "wav_skewed")).orderBy("doc_id")),
    // the fused one-decode video stage: junk-gate frame stats + the
    // k-slot signature from the SAME full decode (the gate needs every
    // frame anyway, so the signature is free); sig projected to one
    // column per slot for the oracle compare
    "q_video_stats_phash" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, get, lit}
      Multimodal.videoStatsPhash(s, MediaFixtures.table(s, d, "video_junk"))
        .select(col("doc_id"), col("n_frames"), col("fps"),
          col("n_flat_frames"), col("n_distinct_hashes"),
          col("is_static"), col("is_flat"),
          get(col("sig"), lit(0)).as("sig0"), get(col("sig"), lit(1)).as("sig1"),
          get(col("sig"), lit(2)).as("sig2"), get(col("sig"), lit(3)).as("sig3"))
        .orderBy("doc_id")
    }),
    // the FULL-modality audit: every gate and every dedup class for
    // image + audio + video in one wide row per doc, each modality
    // decoded exactly once (fused stages + FromHashes cluster cores);
    // guard off on the oracle path, as for every perceptual family
    "q_media_curation_report" -> ((s, d) => Curation.mediaCurationReport(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_skewed"),
      MediaFixtures.table(s, d, "wav_skewed"),
      MediaFixtures.table(s, d, "video_junk"),
      maxBandBucket = 0)),
    // cluster canonicalization for media: keep the RICHEST member (max
    // distinct-luma, ties min doc) per perceptual cluster — one decode
    // serves both the clustering hash and the quality ranking; guard
    // off on the oracle path (recursive-walk + arg-max replay)
    "q_image_cluster_reps" -> ((s, d) => Multimodal.imageClusterRepresentatives(s,
      MediaFixtures.table(s, d, "png_skewed"), maxBandBucket = 0)),
    // the audio and video members of the keep-decision family: richest
    // clip = max |amplitude| sum; richest video = max distinct frame
    // hashes; both fused-stage-fed, guard off on the oracle path
    "q_audio_cluster_reps" -> ((s, d) => Multimodal.audioClusterRepresentatives(s,
      MediaFixtures.table(s, d, "wav_skewed"), maxBandBucket = 0)),
    "q_video_cluster_reps" -> ((s, d) => Multimodal.videoClusterRepresentatives(s,
      MediaFixtures.table(s, d, "video_clusters"), maxBandBucket = 0)),
    // the DAILY-INGEST audit: per-NEW-doc verdicts against the stored
    // fingerprint tables (stored payloads never re-decoded); stored =
    // doc_id % 50 < 25, so half the planted cluster keys exist in the
    // store (dup_stored) and half only within the batch (dup_new) —
    // both flag values occur for every column
    "q_media_ingest_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val stored = col("doc_id") % 50 < 25
      val imgs = MediaFixtures.table(s, d, "png_skewed")
      val auds = MediaFixtures.table(s, d, "wav_skewed")
      val vids = MediaFixtures.table(s, d, "video_junk")
      Curation.mediaIngestAudit(s,
        imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
        Multimodal.imageDhash(s, imgs.filter(stored)),
        Multimodal.audioEhash(s, auds.filter(stored)),
        Multimodal.videoPhash(s, vids.filter(stored))
          .select("doc_id", "slot", "dhash"),
        maxBandBucket = 0)
    }),
    // PRODUCTION configurations of the heavy compositions — the auto
    // band-bucket cap ON, the shape a cluster actually runs — so the
    // driver's timed suite tracks both the guard-off oracle shape and
    // the production shape (previously the production numbers lived
    // only in StressBench). Rows-only BY DESIGN: the cap may prune
    // degenerate band buckets, so dup flags can diverge from the exact
    // oracle; CurationSpec pins prod dup flags ⊆ guard-off flags and
    // junk/quality gates identical.
    "q_multimodal_funnel_prod" -> ((s, d) => Curation.multimodalFunnel(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_skewed"),
      videos = Some(MediaFixtures.table(s, d, "video_clusters37")))),
    "q_media_curation_report_prod" -> ((s, d) => Curation.mediaCurationReport(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d))),
      MediaFixtures.table(s, d, "png_skewed"),
      MediaFixtures.table(s, d, "wav_skewed"),
      MediaFixtures.table(s, d, "video_junk"))),
    "q_media_ingest_audit_prod" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val stored = col("doc_id") % 50 < 25
      val imgs = MediaFixtures.table(s, d, "png_skewed")
      val auds = MediaFixtures.table(s, d, "wav_skewed")
      val vids = MediaFixtures.table(s, d, "video_junk")
      Curation.mediaIngestAudit(s,
        imgs.filter(!stored), auds.filter(!stored), vids.filter(!stored),
        Multimodal.imageDhash(s, imgs.filter(stored)),
        Multimodal.audioEhash(s, auds.filter(stored)),
        Multimodal.videoPhash(s, vids.filter(stored))
          .select("doc_id", "slot", "dhash"))
    }),
    // store-maintenance audit: what compacting the ingest fingerprint
    // store to distinct min-id exemplars would reclaim, per modality —
    // rows stored, exemplars kept, redundant rows dropped, and the
    // largest identical-fingerprint group; one hash aggregate per
    // modality over hashes only (the stored half of the skewed/junk
    // corpora, whose planted flat/static mass is the degenerate store
    // the audit exists to measure)
    "q_store_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val stored = col("doc_id") % 2 === 0
      Curation.storeCompactionSummary(s,
        Multimodal.imageDhash(s,
          MediaFixtures.table(s, d, "png_skewed").filter(stored)),
        Multimodal.audioEhash(s,
          MediaFixtures.table(s, d, "wav_skewed").filter(stored)),
        Multimodal.videoPhash(s,
          MediaFixtures.table(s, d, "video_junk").filter(stored))
          .select("doc_id", "slot", "dhash"))
    }),
    // the TEXT side's daily-ingest audit, fully oracle-matched: per
    // new doc, stored-vs-new verdicts for canonical-URL, exact-text
    // (md5), and md5-MinHash near-dup duplicate classes + the
    // classifier gate; stored side is fingerprints only (canon urls,
    // text digests, signatures), guard conventions as everywhere in
    // the portable-hash family
    "q_doc_ingest_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, conv, md5, substring}
      val docs = TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d)))
      // md5-based split (~1/3 stored), genuinely pseudorandom w.r.t.
      // the URL fixture's mod-100 canonical groups and the donor
      // adjacency, so every stored/new flag class is reachable AND
      // refutable: any ARITHMETIC split degenerates - %50 aligns with
      // the URL groups (url_dup_stored can never fire), any modulus
      // coprime with 100 visits a fixed residue progression inside
      // every >=3-member group (a stored doc lands in each, nothing
      // is novel). ~14 of the 100 groups end up all-new under md5
      val stored = conv(substring(md5(col("doc_id").cast("string")), 1, 2),
        16, 10).cast("int") % 3 === 0
      val sDocs = docs.filter(stored)
      Curation.docIngestAudit(s, docs.filter(!stored),
        WebOps.canonicalizeUrl(sDocs).select("canonical_url"),
        sDocs.select(md5(col("text")).as("text_md5")),
        Dedup.minhashSignaturesMd5(Dedup.shingles(sDocs), numHashes = 16))
    }),
    // the CHAINED 3-day text ingest loop under the oracle — the
    // embedding chain's sibling: md5-assigned day batches against
    // url/text/signature fingerprint stores, day k's store = seed ∪
    // novel(days < k); cross-day dup_stored propagation (a day-1
    // novel exemplar flagging a day-3 re-crawl) hash-certified
    "q_doc_ingest_chain" -> ((s, d) => Curation.docIngestChainAudit(s,
      TextOps.withSyntheticDupText(
        WebOps.withSyntheticMessyUrl(Tables.documents(s, d)))))
  )

  /** The LSH bucketing is data-INDEPENDENT (seeded ±1 hyperplanes), so
    * the whole approximate pipeline is SQL-replicable by embedding the
    * plane matrix as literals: same projections (sequential fold ≡
    * list_inner_product), same sign buckets, same within-bucket exact
    * cosine and ranking — an oracle for an "approximate" operator.
    */
  private def lshTopKOracle: String = {
    val planes = graft.ext.Similarity.hyperplanes(numPlanes = 8, dim = 64)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |    $bucketExpr AS bucket
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
       |s AS (
       |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
       |  FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
       |      AS INTEGER) AS rnk
       |  FROM s)
       |SELECT query_id, rnk, neighbor_id, round(sim, 6) AS cosine_sim
       |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  /** The Morton interleave is pure integer bit-arithmetic, so the
    * "exotic" layout expression has an EXACT SQL twin: the same 5
    * mask/shift spread rounds, generated stage-wise as CTEs (every
    * shift is overflow-free by the preceding mask — DuckDB checks).
    */
  private def zorderOracle: String = {
    val stages = Seq(
      (16, "281470681808895"),        // 0x0000FFFF0000FFFF
      (8, "71777214294589695"),       // 0x00FF00FF00FF00FF
      (4, "1085102592571150095"),     // 0x0F0F0F0F0F0F0F0F
      (2, "3689348814741910323"),     // 0x3333333333333333
      (1, "6148914691236517205"))     // 0x5555555555555555
    val spreadCtes = stages.zipWithIndex.map { case ((sh, mask), i) =>
      val prev = s"s$i"
      s"""s${i + 1} AS (
         |  SELECT o_orderkey, o_custkey, day,
         |    ((x | (x << $sh)) & $mask) AS x, ((y | (y << $sh)) & $mask) AS y
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT o_orderkey, o_custkey,
       |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
       |  FROM orders),
       |s0 AS (SELECT o_orderkey, o_custkey, day,
       |  o_custkey & 2147483647 AS x, day & 2147483647 AS y FROM b),
       |$spreadCtes,
       |z AS (SELECT o_orderkey, o_custkey, day, x | (y << 1) AS z FROM s5),
       |f AS (SELECT *, (row_number() OVER (ORDER BY z, o_orderkey) - 1) // 1000 AS file_id
       |      FROM z)
       |SELECT file_id, COUNT(*) AS n_rows,
       |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       |  CAST(MIN(day) AS INTEGER) AS min_day, CAST(MAX(day) AS INTEGER) AS max_day,
       |  MIN(z) AS min_z, MAX(z) AS max_z
       |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared by q_quantized_topk and its packed-codes twin: byte codes
    * equal int codes element-wise (spec-pinned), so both compute the
    * identical values and one SQL is both oracles.
    */
  private val QUANTIZED_TOPK_SQL: String =
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale
      |      FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |qs AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
      |  FROM base WHERE vec_id < 10),
      |cs AS (SELECT vec_id AS neighbor_id, qv AS qb, qsq AS sqb FROM base),
      |d AS (SELECT query_id, neighbor_id, sqa, sqb,
      |    list_sum(list_transform(range(1, len(qa) + 1),
      |      i -> CAST(qa[CAST(i AS INTEGER)] AS BIGINT)
      |        * qb[CAST(i AS INTEGER)])) AS qdot
      |  FROM qs, cs WHERE neighbor_id <> query_id),
      |r AS (SELECT query_id, neighbor_id, qdot,
      |    CAST(qdot AS DOUBLE) / sqrt(CAST(sqa AS DOUBLE) * CAST(sqb AS DOUBLE))
      |      AS sim
      |  FROM d),
      |rr AS (SELECT query_id, neighbor_id, qdot, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM r)
      |SELECT query_id, rnk, neighbor_id, CAST(qdot AS BIGINT) AS qdot,
      |  round(sim, 6) AS q_cosine
      |FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** The hybrid oracles' shared prefix: the doc-as-query BM25 lexical
    * arm (per-term contributions rounded to integer MICROS before the
    * per-doc sum — float-sum order is engine-dependent, integer sums
    * are not) followed by the q_quantized_topk int8 chain. Shared by
    * q_hybrid_rrf (brute semantic arm) and q_hybrid_rrf_store
    * (IVF-pruned semantic arm), so the BM25 arithmetic can never
    * silently drift between the two.
    */
  private val HYBRID_LEX_QUANT_FRAG: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |qtok AS (SELECT DISTINCT doc_id AS query_id, token FROM tok WHERE doc_id < 10),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (1.0 - 0.75
      |          + 0.75 * dl.dl / (CAST(total_len AS DOUBLE) / n_docs)))
      |      * 1000000.0) AS BIGINT) AS cm
      |  FROM tf JOIN qtok q USING (token) JOIN dfreq USING (token)
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  WHERE tf.doc_id <> q.query_id),
      |lex AS (SELECT query_id, doc_id, CAST(SUM(cm) AS BIGINT) AS lex_micro
      |  FROM contrib GROUP BY query_id, doc_id),
      |lexarm AS (SELECT query_id, doc_id, lex_rnk FROM (
      |    SELECT query_id, doc_id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY lex_micro DESC, doc_id) AS INTEGER) AS lex_rnk
      |    FROM lex) WHERE lex_rnk <= 10),
      |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0)""".stripMargin

  /** The hybrid oracles' shared fusion tail over `lexarm` and an
    * `embarm(query_id, neighbor_id, emb_rnk)` CTE: rank-only RRF with
    * NULL-rank witnesses, fused top-5.
    */
  private val HYBRID_FUSE_TAIL: String = """,
    |fused AS (
    |  SELECT COALESCE(l.query_id, e.query_id) AS query_id,
    |    COALESCE(l.doc_id, e.neighbor_id) AS doc_id,
    |    l.lex_rnk, e.emb_rnk,
    |    round(COALESCE(1.0 / (60 + l.lex_rnk), 0.0) +
    |          COALESCE(1.0 / (60 + e.emb_rnk), 0.0), 6) AS rrf_score
    |  FROM lexarm l FULL OUTER JOIN embarm e
    |    ON l.query_id = e.query_id AND l.doc_id = e.neighbor_id),
    |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
    |    ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rnk FROM fused)
    |SELECT query_id, rnk, doc_id, lex_rnk, emb_rnk, rrf_score
    |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** q_hybrid_rrf: the brute int8-cosine semantic arm. */
  /** Drifted-store occupancy: seeds from the md5-stored side (the
    * fixed day-0 centroids), EVERY vector assigned against them, exact
    * counts + share per list — shared by `q_ivf_store_occupancy`
    * (batch append) and `q_ivf_store_compact` (streamed days folded by
    * the centroid-preserving compact: same assignment facts, so the
    * same oracle certifies the fold).
    */
  private val IVF_STORE_OCC_SQL: String =
"""WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
      |          'string_agg', ',')) AS dig,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
      |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |seeds AS (SELECT * FROM (
      |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
      |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |        vec_id) AS INTEGER) - 1 AS centroid_id
      |    FROM base WHERE stored) WHERE centroid_id < 16),
      |sc AS (SELECT base.vec_id, base.dig, seeds.centroid_id,
      |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
      |  FROM base, seeds),
      |asg AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
      |  WHERE rn = 1),
      |per AS (SELECT centroid_id, COUNT(*) AS list_size,
      |    COUNT(DISTINCT dig) AS n_codes FROM asg GROUP BY centroid_id),
      |tot AS (SELECT SUM(list_size) AS total FROM per)
      |SELECT per.centroid_id, seeds.seed_vec_id, per.list_size, per.n_codes,
      |  round(CAST(per.list_size AS DOUBLE) / tot.total, 6) AS share
      |FROM per CROSS JOIN tot
      |JOIN seeds ON seeds.centroid_id = per.centroid_id
      |ORDER BY per.centroid_id""".stripMargin

  /** IVF_STORE_OCC_SQL counting only the SURVIVORS of the tombstoned
    * ids (`q_ivf_store_stream_del`): seeds stay drawn from the full
    * stored side — the compact is centroid-preserving, so the engine's
    * post-fold centroids are the init centroids verbatim — while the
    * per-list counts and shares cover the surviving population alone.
    */
  private val IVF_STORE_STREAM_DEL_SQL: String = IVF_STORE_OCC_SQL.replace(
    "COUNT(DISTINCT dig) AS n_codes FROM asg GROUP BY centroid_id",
    "COUNT(DISTINCT dig) AS n_codes FROM asg WHERE vec_id % 7 <> 3 " +
      "GROUP BY centroid_id")
  require(IVF_STORE_STREAM_DEL_SQL != IVF_STORE_OCC_SQL,
    "IVF_STORE_STREAM_DEL_SQL replace matched nothing — the per CTE changed")

  /** Okapi BM25 top-3 docs per top-10 corpus term — ONE oracle text
    * for the raw-corpus ranker (`q_bm25`), the store-served ranker
    * (`q_bm25_store`, store build ≡ raw corpus row for row), and the
    * lexical day-ingest law (`q_bm25_store_inc`, init + append ≡ the
    * union build by token-stat additivity).
    */
  private val BM25_SQL: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |terms AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 10),
      |scored AS (
      |  SELECT tf.token, tf.doc_id, tf.tf, dl.dl,
      |    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2)
      |      / (tf + 1.2 * (1.0 - 0.75
      |          + 0.75 * dl / (CAST(total_len AS DOUBLE) / n_docs))), 6)
      |      AS bm25
      |  FROM tf JOIN terms USING (token) JOIN dl USING (doc_id)
      |  CROSS JOIN stats),
      |ranked AS (
      |  SELECT token, doc_id, tf, dl, bm25,
      |    CAST(row_number() OVER (PARTITION BY token ORDER BY bm25 DESC, doc_id)
      |      AS INTEGER) AS rnk
      |  FROM scored)
      |SELECT token, rnk, doc_id, tf, dl, bm25 FROM ranked WHERE rnk <= 3
      |ORDER BY token, rnk""".stripMargin

  /** BM25_SQL over the survivor corpus — the delete ≡
    * build-over-survivors law (`q_bm25_store_del`).
    */
  private val BM25_DEL_SQL: String = BM25_SQL.replace(
    "AS token FROM documents)",
    "AS token FROM documents WHERE doc_id % 5 <> 2)")
  require(BM25_DEL_SQL != BM25_SQL,
    "BM25_DEL_SQL replace matched nothing — BM25_SQL's tok CTE changed")

  private val HYBRID_RRF_SQL: String = HYBRID_LEX_QUANT_FRAG + """,
    |qs AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
    |  FROM base WHERE vec_id < 10),
    |embarm AS (SELECT query_id, neighbor_id, emb_rnk FROM (
    |    SELECT qs.query_id, nb.vec_id AS neighbor_id,
    |      CAST(row_number() OVER (PARTITION BY qs.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qs.qa) + 1),
    |          i -> CAST(qs.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qs.sqa AS DOUBLE) * nb.qsq) DESC,
    |        nb.vec_id) AS INTEGER) AS emb_rnk
    |    FROM qs JOIN base nb ON nb.vec_id <> qs.query_id)
    |  WHERE emb_rnk <= 10)""".stripMargin + HYBRID_FUSE_TAIL


  /** q_hybrid_rrf_store: the IVF-pruned semantic arm (top-4 seed lists
    * per query, exact int8 ranking of the pruned candidates).
    */
  private val HYBRID_RRF_STORE_SQL: String = HYBRID_LEX_QUANT_FRAG + """,
    |seeds AS (SELECT * FROM (
    |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
    |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
    |        vec_id) AS INTEGER) - 1 AS centroid_id
    |    FROM base) WHERE centroid_id < 16),
    |sc AS (SELECT base.vec_id, seeds.centroid_id,
    |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
    |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
    |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
    |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
    |  FROM base, seeds),
    |asg AS (SELECT * FROM (
    |    SELECT *, row_number() OVER (PARTITION BY vec_id
    |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
    |  WHERE rn = 1),
    |qp AS (SELECT * FROM (
    |    SELECT vec_id AS query_id, centroid_id,
    |      row_number() OVER (PARTITION BY vec_id
    |        ORDER BY sim DESC, centroid_id) AS prn
    |    FROM sc WHERE vec_id < 10) WHERE prn <= 4),
    |qq AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
    |  FROM base WHERE vec_id < 10),
    |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id
    |  FROM qp JOIN asg a ON a.centroid_id = qp.centroid_id
    |    AND a.vec_id <> qp.query_id),
    |embarm AS (SELECT query_id, neighbor_id, emb_rnk FROM (
    |    SELECT c.query_id, c.neighbor_id,
    |      CAST(row_number() OVER (PARTITION BY c.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
    |        c.neighbor_id) AS INTEGER) AS emb_rnk
    |    FROM cand c JOIN qq ON c.query_id = qq.query_id
    |      JOIN base nb ON c.neighbor_id = nb.vec_id)
    |  WHERE emb_rnk <= 10)""".stripMargin + HYBRID_FUSE_TAIL

  /** The FILTERED store hybrid's oracle: the store hybrid with the
    * keep predicate (id % 3 = 1) injected into BOTH arms — the lexical
    * arm's contributions and the semantic arm's candidates, each
    * BEFORE its ranking (in-filter on both sides).
    */
  private val HYBRID_RRF_STORE_FILTERED_SQL: String = HYBRID_RRF_STORE_SQL
    .replace("  WHERE tf.doc_id <> q.query_id),",
      "  WHERE tf.doc_id <> q.query_id AND tf.doc_id % 3 = 1),")
    .replace("    AND a.vec_id <> qp.query_id),",
      "    AND a.vec_id <> qp.query_id AND a.vec_id % 3 = 1),")
  require(HYBRID_RRF_STORE_FILTERED_SQL != HYBRID_RRF_STORE_SQL &&
    HYBRID_RRF_STORE_FILTERED_SQL.contains("tf.doc_id % 3 = 1") &&
    HYBRID_RRF_STORE_FILTERED_SQL.contains("a.vec_id % 3 = 1"),
    "HYBRID_RRF_STORE_FILTERED_SQL replaces matched nothing — the hybrid CTEs changed")

  /** One prefix-width arm of the dimension-truncation oracle: prefix
    * norms, ranking on the first `d` coordinates (truncated-zero
    * vectors score 0), top-5, and hit counts vs the full-dim exact
    * top-5 CTE `ex`.
    */
  private def dimArmCtes(d: Int): String =
    s"""bd$d AS (SELECT vec_id, qv,
       |    CAST(list_sum(list_transform(range(1, ${d + 1}),
       |      i -> CAST(qv[CAST(i AS INTEGER)] AS BIGINT)
       |        * qv[CAST(i AS INTEGER)])) AS BIGINT) AS sqd
       |  FROM base),
       |arm$d AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        CASE WHEN q.sqd = 0 OR c.sqd = 0 THEN 0.0
       |             ELSE CAST(list_sum(list_transform(range(1, ${d + 1}),
       |               i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
       |                 * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
       |               / sqrt(CAST(q.sqd AS DOUBLE) * c.sqd) END DESC,
       |        c.vec_id) AS rnk
       |    FROM bd$d q JOIN bd$d c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rnk <= 5),
       |h$d AS (SELECT e.query_id, COUNT(*) AS hits FROM ex e
       |  JOIN arm$d a ON e.query_id = a.query_id
       |    AND e.neighbor_id = a.neighbor_id
       |  GROUP BY e.query_id)""".stripMargin

  /** q_dim_truncation_recall: prefix-ranking arms at widths 16/32/64
    * against the full-dim exact top-5.
    */
  private val DIM_TRUNCATION_SQL: String =
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |          i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |            * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
      |          / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) DESC,
      |        c.vec_id) AS rnk
      |    FROM base q JOIN base c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rnk <= 5),
      |""".stripMargin +
    dimArmCtes(16) + ",\n" + dimArmCtes(32) + ",\n" + dimArmCtes(64) +
    """,
      |qs AS (SELECT vec_id AS query_id FROM base WHERE vec_id < 10)
      |SELECT 16 AS dims, q.query_id,
      |  CAST(COALESCE(h16.hits, 0) AS BIGINT) AS hits,
      |  round(COALESCE(h16.hits, 0) / 5.0, 6) AS recall
      |FROM qs q LEFT JOIN h16 ON q.query_id = h16.query_id
      |UNION ALL
      |SELECT 32 AS dims, q.query_id,
      |  CAST(COALESCE(h32.hits, 0) AS BIGINT) AS hits,
      |  round(COALESCE(h32.hits, 0) / 5.0, 6) AS recall
      |FROM qs q LEFT JOIN h32 ON q.query_id = h32.query_id
      |UNION ALL
      |SELECT 64 AS dims, q.query_id,
      |  CAST(COALESCE(h64.hits, 0) AS BIGINT) AS hits,
      |  round(COALESCE(h64.hits, 0) / 5.0, 6) AS recall
      |FROM qs q LEFT JOIN h64 ON q.query_id = h64.query_id
      |ORDER BY dims, query_id""".stripMargin

  /** DIM_TRUNCATION_SQL over the planted-cluster corpus — the same
    * corpus-CTE swap (and non-vacuousness pin) as PLANTED_PQ_CHAIN.
    */
  private val PLANTED_DIM_TRUNCATION_SQL: String = DIM_TRUNCATION_SQL.replace(
    "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    """WITH t AS (SELECT vec_id,
      |    list_transform(range(1, 65), i -> CAST(
      |      CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
      |      + ascii(substr(md5(CAST(vec_id * 64 + i AS VARCHAR)), 1, 1)) % 5 - 2
      |      AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin)
  require(PLANTED_DIM_TRUNCATION_SQL != DIM_TRUNCATION_SQL,
    "PLANTED_DIM_TRUNCATION_SQL replace matched nothing — the corpus CTE changed")

  /** One (d, r) cell of the truncated-rerank grid: prefix-width-`d`
    * shortlist of size `r`, exact full-dim rerank to top-5, hits vs
    * the full-dim exact top-5 (`ex`). Reads the per-width CTE `td$d`.
    */
  private def truncArmCtes(d: Int, r: Int): String =
    s"""tr${d}_$r AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim_full DESC, neighbor_id) AS rr
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
       |          i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
       |            * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
       |          / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim_full,
       |        row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |          CASE WHEN q.sqd = 0 OR c.sqd = 0 THEN 0.0
       |               ELSE CAST(list_sum(list_transform(range(1, ${d + 1}),
       |                 i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
       |                   * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
       |                 / sqrt(CAST(q.sqd AS DOUBLE) * c.sqd) END DESC,
       |          c.vec_id) AS sr
       |      FROM td$d q JOIN td$d c ON c.vec_id <> q.vec_id
       |      WHERE q.vec_id < 10) WHERE sr <= $r)
       |  WHERE rr <= 5),
       |th${d}_$r AS (SELECT e.query_id, COUNT(*) AS hits FROM ex e
       |  JOIN tr${d}_$r a ON e.query_id = a.query_id
       |    AND e.neighbor_id = a.neighbor_id
       |  GROUP BY e.query_id)""".stripMargin

  private def truncWidthCte(d: Int): String =
    s"""td$d AS (SELECT vec_id, qv, qsq,
       |    CAST(list_sum(list_transform(range(1, ${d + 1}),
       |      i -> CAST(qv[CAST(i AS INTEGER)] AS BIGINT)
       |        * qv[CAST(i AS INTEGER)])) AS BIGINT) AS sqd
       |  FROM base)""".stripMargin

  private def truncCellSelect(d: Int, r: Int): String =
    s"""SELECT $d AS dims, $r AS rerank, q.query_id,
       |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  round(COALESCE(h.hits, 0) / 5.0, 6) AS recall
       |FROM qs q LEFT JOIN th${d}_$r h ON q.query_id = h.query_id""".stripMargin

  /** q_truncated_rerank: the two-stage prefix-shortlist → exact-rerank
    * grid over (d ∈ {16,32,64}) × (r ∈ {10,20}) vs the full-dim exact
    * top-5 — the Matryoshka calibration's consumer.
    */
  private val TRUNC_RERANK_SQL: String =
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |          i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |            * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
      |          / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) DESC,
      |        c.vec_id) AS rnk
      |    FROM base q JOIN base c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10)
      |  WHERE rnk <= 5),
      |""".stripMargin +
    Seq(16, 32, 64).map(truncWidthCte).mkString(",\n") + ",\n" +
    (for (d <- Seq(16, 32, 64); r <- Seq(10, 20))
      yield truncArmCtes(d, r)).mkString(",\n") +
    ",\nqs AS (SELECT vec_id AS query_id FROM base WHERE vec_id < 10)\n" +
    (for (d <- Seq(16, 32, 64); r <- Seq(10, 20))
      yield truncCellSelect(d, r)).mkString("\nUNION ALL\n") +
    "\nORDER BY dims, rerank, query_id"

  /** TRUNC_RERANK_SQL over the planted-cluster corpus — the same
    * corpus-CTE swap (and non-vacuousness pin) as the calibration's.
    */
  private val PLANTED_TRUNC_RERANK_SQL: String = TRUNC_RERANK_SQL.replace(
    "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    """WITH t AS (SELECT vec_id,
      |    list_transform(range(1, 65), i -> CAST(
      |      CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
      |      + ascii(substr(md5(CAST(vec_id * 64 + i AS VARCHAR)), 1, 1)) % 5 - 2
      |      AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin)
  require(PLANTED_TRUNC_RERANK_SQL != TRUNC_RERANK_SQL,
    "PLANTED_TRUNC_RERANK_SQL replace matched nothing — the corpus CTE changed")

  /** The PQ family's shared prefix: the q_quantized_topk int8 chain,
    * the 16 md5-ranked seeds (serving as BOTH the coarse IVF centroids
    * and the per-subspace codebook — the same deterministic draw as
    * q_ivf_index_build), per-(vector, subspace) exact integer argmin
    * over the codebook slices (ties to the lowest entry id), and the
    * chosen entries with their slices — everything q_pq_encode /
    * q_pq_topk / q_pq_recall / q_ivfpq_topk read.
    */
  /** The seed-codebook PQ encode block over CTEs named `base` (the
    * non-degenerate int8 codes) and `seeds` (the 16-entry codebook):
    * per-(vector, subspace) exact integer argmin, the chosen slices,
    * and the reconstruction norms — shared by PQ_CHAIN and the
    * trained-store probe oracle (whose coarse tier trains but whose
    * codebook stays the same md5 draw).
    */
  private val PQ_ENCODE_BLOCK: String =
    """subs AS (SELECT CAST(j AS INTEGER) AS j FROM range(8) r(j)),
      |dists AS (
      |  SELECT base.vec_id, subs.j, seeds.centroid_id,
      |    list_sum(list_transform(range(1, 9),
      |      i -> CAST(base.qv[subs.j * 8 + CAST(i AS INTEGER)]
      |             - seeds.cv[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * (base.qv[subs.j * 8 + CAST(i AS INTEGER)]
      |             - seeds.cv[subs.j * 8 + CAST(i AS INTEGER)]))) AS d
      |  FROM base, seeds, subs),
      |pick AS (SELECT vec_id, j, centroid_id, d FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
      |      ORDER BY d, centroid_id) AS rn FROM dists)
      |  WHERE rn = 1),
      |chosen AS (SELECT pick.vec_id, pick.j, pick.centroid_id, pick.d, seeds.cv
      |  FROM pick JOIN seeds USING (centroid_id)),
      |rsqs AS (SELECT vec_id,
      |    CAST(sum(list_sum(list_transform(range(1, 9),
      |      i -> CAST(cv[j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * cv[j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS rsq
      |  FROM chosen GROUP BY vec_id)""".stripMargin

  private val PQ_CHAIN: String =
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |seeds AS (SELECT * FROM (
      |    SELECT vec_id AS seed_vec_id, qv AS cv,
      |      list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS csq,
      |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |        vec_id) AS INTEGER) - 1 AS centroid_id
      |    FROM base) WHERE centroid_id < 16),
      |""".stripMargin + PQ_ENCODE_BLOCK

  /** The ADC ranking tail over a candidate CTE named `cands(query_id,
    * neighbor_id)` — shared by the brute scan (all pairs) and the
    * IVF-pruned form.
    */
  private val PQ_ADC_TAIL: String =
    """adc AS (
      |  SELECT cands.query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(list_sum(list_transform(range(1, 9),
      |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
      |  FROM cands
      |  JOIN base q ON cands.query_id = q.vec_id
      |  JOIN chosen c ON cands.neighbor_id = c.vec_id
      |  GROUP BY cands.query_id, c.vec_id),
      |sims AS (
      |  SELECT adc.query_id, adc.neighbor_id, adc.adc_dot,
      |    CASE WHEN r.rsq = 0 THEN 0.0
      |         ELSE CAST(adc.adc_dot AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
      |  FROM adc JOIN rsqs r ON adc.neighbor_id = r.vec_id
      |  JOIN base q ON adc.query_id = q.vec_id),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk FROM sims)
      |SELECT query_id, rnk, neighbor_id, adc_dot, round(sim, 6) AS pq_sim
      |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Shared by q_ivfpq_topk and the persisted-store twin
    * q_ivfpq_store_probe: on a static store the sidecar's codebook and
    * the coarse lists are the same md5 draws over the same codes, so
    * both compute identical values and one SQL is both oracles.
    */
  private val IVFPQ_TOPK_SQL: String = PQ_CHAIN +
    """,
      |coarse AS (SELECT base.vec_id, seeds.centroid_id,
      |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
      |  FROM base, seeds),
      |asg AS (SELECT vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn FROM coarse)
      |  WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn
      |    FROM coarse WHERE vec_id < 10) WHERE rn <= 4),
      |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN asg a USING (centroid_id)
      |  WHERE a.vec_id <> p.query_id),
      |""".stripMargin + PQ_ADC_TAIL

  /** The residual-quantization (IVFADC) fragment over PQ_CHAIN's
    * names: coarse assignment, per-vector residuals, the residual
    * codebook at md5 ranks 16..31, residual argmin, and the
    * reconstruction `w = cv + r̂` with its exact squared norm. The
    * raw-PQ CTEs of PQ_CHAIN (dists/pick/chosen/rsqs) stay available
    * for the recall A/B; DuckDB leaves unused CTEs unexecuted.
    */
  private val IVFADC_FRAG: String =
    """ranked AS (
      |    SELECT vec_id AS seed_vec_id, qv AS cv,
      |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |        vec_id) AS INTEGER) - 1 AS rank_id
      |    FROM base),
      |coarse AS (SELECT base.vec_id, seeds.centroid_id,
      |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
      |  FROM base, seeds),
      |asg AS (SELECT vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn FROM coarse)
      |  WHERE rn = 1),
      |resid AS (
      |  SELECT base.vec_id, asg.centroid_id,
      |    list_transform(range(1, len(base.qv) + 1),
      |      i -> base.qv[CAST(i AS INTEGER)] - seeds.cv[CAST(i AS INTEGER)]) AS rv
      |  FROM base JOIN asg USING (vec_id)
      |  JOIN seeds ON asg.centroid_id = seeds.centroid_id),
      |rbook AS (
      |  SELECT CAST(ranked.rank_id - 16 AS INTEGER) AS entry_id, resid.rv AS ev
      |  FROM ranked JOIN resid ON ranked.seed_vec_id = resid.vec_id
      |  WHERE ranked.rank_id >= 16 AND ranked.rank_id < 32),
      |rdists AS (
      |  SELECT resid.vec_id, subs.j, rbook.entry_id,
      |    list_sum(list_transform(range(1, 9),
      |      i -> CAST(resid.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |             - rbook.ev[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * (resid.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |             - rbook.ev[subs.j * 8 + CAST(i AS INTEGER)]))) AS d
      |  FROM resid, rbook, subs),
      |rpick AS (SELECT vec_id, j, entry_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
      |      ORDER BY d, entry_id) AS rn FROM rdists)
      |  WHERE rn = 1),
      |rrecon AS (
      |  SELECT rpick.vec_id, rpick.j,
      |    list_transform(range(1, 9),
      |      i -> rbook.ev[rpick.j * 8 + CAST(i AS INTEGER)]) AS rhat
      |  FROM rpick JOIN rbook USING (entry_id)),
      |w AS (
      |  SELECT resid.vec_id,
      |    list_transform(range(1, len(seeds.cv) + 1),
      |      i -> seeds.cv[CAST(i AS INTEGER)]
      |        + flat.rhat_full[CAST(i AS INTEGER)]) AS wv
      |  FROM resid
      |  JOIN seeds ON resid.centroid_id = seeds.centroid_id
      |  JOIN (SELECT vec_id, flatten(list(rhat ORDER BY j)) AS rhat_full
      |        FROM rrecon GROUP BY vec_id) flat ON resid.vec_id = flat.vec_id),
      |wsq AS (SELECT vec_id,
      |    CAST(list_sum(list_transform(wv, x -> CAST(x AS BIGINT) * x))
      |      AS BIGINT) AS wsq,
      |    wv FROM w),
      |probes AS (SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn
      |    FROM coarse WHERE vec_id < 10) WHERE rn <= 4),
      |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN asg a USING (centroid_id)
      |  WHERE a.vec_id <> p.query_id),
      |adcres AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * ww.wv[CAST(i AS INTEGER)])) AS BIGINT) AS adc_dot,
      |    CASE WHEN ww.wsq = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |             i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |               * ww.wv[CAST(i AS INTEGER)])) AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * ww.wsq) END AS sim
      |  FROM cands c
      |  JOIN base q ON c.query_id = q.vec_id
      |  JOIN wsq ww ON c.neighbor_id = ww.vec_id)""".stripMargin

  /** PQ_CHAIN with the corpus swapped for the planted-cluster fixture
    * ([[graft.ext.Similarity.plantedClusterEmbeddings]]): 8 separated
    * integer centers + a distinct-per-vector jitter, computed from
    * vec_ids alone so DuckDB reproduces the floats exactly (all values
    * are small integers — exact in FLOAT, DOUBLE, and the int8 step).
    * The replace is pinned non-vacuous below.
    */
  private val PLANTED_PQ_CHAIN: String = PQ_CHAIN.replace(
    "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    """WITH t AS (SELECT vec_id,
      |    list_transform(range(1, 65), i -> CAST(
      |      CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
      |      + ascii(substr(md5(CAST(vec_id * 64 + i AS VARCHAR)), 1, 1)) % 5 - 2
      |      AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin)
  require(PLANTED_PQ_CHAIN != PQ_CHAIN,
    "PLANTED_PQ_CHAIN replace matched nothing — PQ_CHAIN's corpus CTE changed")

  /** The recall-A/B tail over IVFADC_FRAG's names (adcres, cands, base,
    * chosen, rsqs): residual top-5, raw-ADC top-5 over the same pruned
    * candidates, the exact int8 top-5, and per-query hit counts —
    * shared verbatim by q_ivfadc_recall and its planted-cluster twin.
    */
  private val IVFADC_RECALL_TAIL: String =
    """,
      |restop AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM adcres)
      |  WHERE rnk <= 5),
      |rawadc AS (
      |  SELECT cands.query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(list_sum(list_transform(range(1, 9),
      |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
      |  FROM cands
      |  JOIN base q ON cands.query_id = q.vec_id
      |  JOIN chosen c ON cands.neighbor_id = c.vec_id
      |  GROUP BY cands.query_id, c.vec_id),
      |rawsim AS (
      |  SELECT a.query_id, a.neighbor_id,
      |    CASE WHEN r.rsq = 0 THEN 0.0
      |         ELSE CAST(a.adc_dot AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
      |  FROM rawadc a JOIN rsqs r ON a.neighbor_id = r.vec_id
      |  JOIN base q ON a.query_id = q.vec_id),
      |rawtop AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM rawsim)
      |  WHERE rnk <= 5),
      |exact0 AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
      |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |exact AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM exact0)
      |  WHERE rnk <= 5),
      |hraw AS (SELECT e.query_id, count(*) AS n FROM exact e
      |  JOIN rawtop a ON e.query_id = a.query_id
      |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id),
      |hres AS (SELECT e.query_id, count(*) AS n FROM exact e
      |  JOIN restop a ON e.query_id = a.query_id
      |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id)
      |SELECT q.vec_id AS query_id,
      |  CAST(COALESCE(hraw.n, 0) AS BIGINT) AS hits_pq,
      |  CAST(COALESCE(hres.n, 0) AS BIGINT) AS hits_ivfadc
      |FROM base q
      |LEFT JOIN hraw ON q.vec_id = hraw.query_id
      |LEFT JOIN hres ON q.vec_id = hres.query_id
      |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin

  /** The OPQ-lite A/B tail over PQ_CHAIN's names (base/seeds/subs/
    * chosen/rsqs): the md5 coordinate order, the permuted encode arm,
    * both ADC top-5s, the exact top-5, and per-query hit counts —
    * shared verbatim by q_pq_recall_opq and its planted-cluster twin.
    */
  /** The permuted-encode fragment over PQ_CHAIN's names: the md5
    * coordinate order, the permuted base/seeds, and the permuted
    * subspace argmin chain (pdists/ppick/pchosen/prsqs) — shared by
    * the OPQ recall A/Bs and the layout-recording store probe.
    */
  private val PERM_ENCODE_FRAG: String =
    """permc AS (SELECT list(CAST(i AS INTEGER)
        |    ORDER BY md5(CAST(i AS VARCHAR)), i) AS pm
        |  FROM range(1, 65) AS r(i)),
        |pbase AS (SELECT vec_id, list_transform(pm, p -> qv[p]) AS qv, qsq
        |  FROM base, permc),
        |pseeds AS (SELECT seed_vec_id,
        |    list_transform(pm, p -> cv[p]) AS cv, csq, centroid_id
        |  FROM seeds, permc),
        |pdists AS (
        |  SELECT pbase.vec_id, subs.j, pseeds.centroid_id,
        |    list_sum(list_transform(range(1, 9),
        |      i -> CAST(pbase.qv[subs.j * 8 + CAST(i AS INTEGER)]
        |             - pseeds.cv[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * (pbase.qv[subs.j * 8 + CAST(i AS INTEGER)]
        |             - pseeds.cv[subs.j * 8 + CAST(i AS INTEGER)]))) AS d
        |  FROM pbase, pseeds, subs),
        |ppick AS (SELECT vec_id, j, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
        |      ORDER BY d, centroid_id) AS rn FROM pdists)
        |  WHERE rn = 1),
        |pchosen AS (SELECT ppick.vec_id, ppick.j, ppick.centroid_id,
        |    pseeds.cv
        |  FROM ppick JOIN pseeds USING (centroid_id)),
        |prsqs AS (SELECT vec_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(cv[j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * cv[j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS rsq
        |  FROM pchosen GROUP BY vec_id)""".stripMargin

  /** The OPQ recall-A/B tail over PQ_CHAIN + PERM_ENCODE_FRAG's names:
    * both ADC top-5s, the exact top-5, per-query hit counts.
    */
  private val OPQ_RECALL_TAIL: String = ",\n" + PERM_ENCODE_FRAG +
    """,
        |adc0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
        |  FROM base q, chosen c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, c.vec_id),
        |adcsim AS (
        |  SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN r.rsq = 0 THEN 0.0
        |         ELSE CAST(a.adc_dot AS DOUBLE)
        |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
        |  FROM adc0 a JOIN rsqs r ON a.neighbor_id = r.vec_id
        |  JOIN base q ON a.query_id = q.vec_id),
        |adctop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM adcsim)
        |  WHERE rnk <= 5),
        |padc0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
        |  FROM pbase q, pchosen c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, c.vec_id),
        |padcsim AS (
        |  SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN r.rsq = 0 THEN 0.0
        |         ELSE CAST(a.adc_dot AS DOUBLE)
        |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
        |  FROM padc0 a JOIN prsqs r ON a.neighbor_id = r.vec_id
        |  JOIN pbase q ON a.query_id = q.vec_id),
        |padctop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM padcsim)
        |  WHERE rnk <= 5),
        |exact0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
        |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM exact0)
        |  WHERE rnk <= 5),
        |hraw AS (SELECT e.query_id, count(*) AS n FROM exact e
        |  JOIN adctop a ON e.query_id = a.query_id
        |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id),
        |hopq AS (SELECT e.query_id, count(*) AS n FROM exact e
        |  JOIN padctop a ON e.query_id = a.query_id
        |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id)
        |SELECT q.vec_id AS query_id,
        |  CAST(COALESCE(hraw.n, 0) AS BIGINT) AS hits_pq,
        |  CAST(COALESCE(hopq.n, 0) AS BIGINT) AS hits_opq
        |FROM base q
        |LEFT JOIN hraw ON q.vec_id = hraw.query_id
        |LEFT JOIN hopq ON q.vec_id = hopq.query_id
        |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin

  /** The layout-recording store probe's oracle: raw coarse pruning
    * (layout-invariant) over the permuted encode — PQ_CHAIN +
    * PERM_ENCODE_FRAG + the IVFPQ candidate block + a permuted ADC
    * tail (pbase/pchosen/prsqs in place of base/chosen/rsqs).
    */
  private val IVFPQ_OPQ_SQL: String = PQ_CHAIN + ",\n" + PERM_ENCODE_FRAG +
    """,
      |coarse AS (SELECT base.vec_id, seeds.centroid_id,
      |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
      |  FROM base, seeds),
      |asg AS (SELECT vec_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn FROM coarse)
      |  WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, centroid_id) AS rn
      |    FROM coarse WHERE vec_id < 10) WHERE rn <= 4),
      |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN asg a USING (centroid_id)
      |  WHERE a.vec_id <> p.query_id),
      |adcp AS (
      |  SELECT cands.query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(list_sum(list_transform(range(1, 9),
      |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
      |  FROM cands
      |  JOIN pbase q ON cands.query_id = q.vec_id
      |  JOIN pchosen c ON cands.neighbor_id = c.vec_id
      |  GROUP BY cands.query_id, c.vec_id),
      |simsp AS (
      |  SELECT a.query_id, a.neighbor_id, a.adc_dot,
      |    CASE WHEN r.rsq = 0 THEN 0.0
      |         ELSE CAST(a.adc_dot AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
      |  FROM adcp a JOIN prsqs r ON a.neighbor_id = r.vec_id
      |  JOIN pbase q ON a.query_id = q.vec_id),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk FROM simsp)
      |SELECT query_id, rnk, neighbor_id, adc_dot, round(sim, 6) AS pq_sim
      |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** One nearest-centroid assignment CTE over `base` against centroid
    * table `cents` (columns centroid_id/cv/csq) — the q_ivf_index_build
    * scoring block parameterized by training epoch, for the Lloyd
    * chain below.
    */
  private def lloydAsgCte(out: String, cents: String): String =
    s"""$out AS (SELECT vec_id, qv, qsq, centroid_id, sim FROM (
       |    SELECT base.vec_id, base.qv, base.qsq, c.centroid_id,
       |      CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
       |        i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
       |          * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
       |        / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) AS sim,
       |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
       |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
       |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
       |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
       |        c.centroid_id) AS rn
       |    FROM base, $cents c) WHERE rn = 1)""".stripMargin

  /** One Lloyd mean-update CTE block: per-dimension HALF-UP integer
    * mean of `asg`'s members — floor((2·sum + n) / (2·n)) computed as a
    * double floor over exact integer operands (2·sum + n ≤ 2·127·N, so
    * the quotient is ≥ 1/(2n) away from any integer it doesn't equal;
    * a correctly-rounded double division can never bridge that gap —
    * the same value Math.floorDiv yields on the Spark side). Empty
    * clusters and all-zero rounded means carry the previous epoch's
    * centroid, mirroring [[graft.ext.Similarity]]'s lloydUpdate.
    */
  private def lloydUpdCte(out: String, asg: String, prev: String): String =
    s"""${out}_cells AS (SELECT centroid_id,
       |      unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS v
       |    FROM $asg),
       |${out}_u AS (SELECT centroid_id,
       |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
       |        ORDER BY pos) AS cv
       |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
       |            COUNT(*) AS n
       |          FROM ${out}_cells GROUP BY centroid_id, pos)
       |    GROUP BY centroid_id),
       |${out}_n AS (SELECT centroid_id, cv,
       |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
       |        AS BIGINT) AS csq
       |    FROM ${out}_u),
       |$out AS (SELECT p.centroid_id,
       |      CASE WHEN u.csq IS NULL OR u.csq = 0 THEN p.cv ELSE u.cv END AS cv,
       |      CAST(CASE WHEN u.csq IS NULL OR u.csq = 0 THEN p.csq ELSE u.csq END
       |        AS BIGINT) AS csq
       |    FROM $prev p LEFT JOIN ${out}_n u USING (centroid_id))""".stripMargin

  /** The distributed-Lloyd chain: the q_quantized_topk quantization
    * CTEs, the md5 seed draw as epoch-0 centroids (ce0), then two
    * assign→integer-mean-update rounds (asg0→ce1→asg1→ce2→asg2) — the
    * exact-integer k-means loop behind q_kmeans_refine and
    * q_ivf_trained_recall.
    */
  private val LLOYD_CHAIN: String =
    """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
      |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
      |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
      |q0 AS (SELECT vec_id,
      |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
      |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
      |      FROM s),
      |b AS (SELECT vec_id, qv,
      |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
      |          'string_agg', ',')) AS dig,
      |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
      |      FROM q0),
      |base AS (SELECT * FROM b WHERE qsq > 0),
      |ce0 AS (SELECT centroid_id, seed_vec_id, cv, CAST(csq AS BIGINT) AS csq FROM (
      |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
      |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |        vec_id) AS INTEGER) - 1 AS centroid_id
      |    FROM base) WHERE centroid_id < 16),
      |""".stripMargin +
    lloydAsgCte("asg0", "ce0") + ",\n" +
    lloydUpdCte("ce1", "asg0", "ce0") + ",\n" +
    lloydAsgCte("asg1", "ce1") + ",\n" +
    lloydUpdCte("ce2", "asg1", "ce1") + ",\n" +
    lloydAsgCte("asg2", "ce2")

  /** Per-epoch training-audit tail over LLOYD_CHAIN's names: list
    * sizes, moved-member counts vs the previous epoch's assignment,
    * exact centroid checksums, min/max member sim (rounded before
    * min/max).
    */
  private val LLOYD_REFINE_SQL: String = LLOYD_CHAIN + """,
    |e0 AS (SELECT 0 AS epoch, centroid_id, COUNT(*) AS list_size,
    |    CAST(0 AS BIGINT) AS n_moved,
    |    min(round(sim, 6)) AS min_sim, max(round(sim, 6)) AS max_sim
    |  FROM asg0 GROUP BY centroid_id),
    |e1 AS (SELECT 1 AS epoch, a.centroid_id, COUNT(*) AS list_size,
    |    CAST(SUM(CASE WHEN a.centroid_id <> p.centroid_id THEN 1 ELSE 0 END)
    |      AS BIGINT) AS n_moved,
    |    min(round(a.sim, 6)) AS min_sim, max(round(a.sim, 6)) AS max_sim
    |  FROM asg1 a JOIN asg0 p USING (vec_id) GROUP BY a.centroid_id),
    |e2 AS (SELECT 2 AS epoch, a.centroid_id, COUNT(*) AS list_size,
    |    CAST(SUM(CASE WHEN a.centroid_id <> p.centroid_id THEN 1 ELSE 0 END)
    |      AS BIGINT) AS n_moved,
    |    min(round(a.sim, 6)) AS min_sim, max(round(a.sim, 6)) AS max_sim
    |  FROM asg2 a JOIN asg1 p USING (vec_id) GROUP BY a.centroid_id),
    |st AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1
    |  UNION ALL SELECT * FROM e2),
    |cent AS (SELECT 0 AS epoch, centroid_id, cv, csq FROM ce0
    |  UNION ALL SELECT 1 AS epoch, centroid_id, cv, csq FROM ce1
    |  UNION ALL SELECT 2 AS epoch, centroid_id, cv, csq FROM ce2)
    |SELECT st.epoch, st.centroid_id, st.list_size, st.n_moved,
    |  CAST(list_sum(list_transform(c.cv, x -> CAST(x AS BIGINT))) AS BIGINT)
    |    AS cv_sum,
    |  c.csq, st.min_sim, st.max_sim
    |FROM st JOIN cent c ON st.epoch = c.epoch
    |  AND st.centroid_id = c.centroid_id
    |ORDER BY st.epoch, st.centroid_id""".stripMargin

  /** Seed-vs-trained recall tail over LLOYD_CHAIN's names: probe ranks
    * per epoch (nProbe = 2), candidate sets off each epoch's
    * single-assignment index, exact brute top-5 baseline, per-query
    * candidate and hit counts for both sides.
    */
  private val LLOYD_RECALL_SQL: String = LLOYD_CHAIN + """,
    |qq AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
    |  FROM base WHERE vec_id < 10),
    |pr0 AS (SELECT query_id, centroid_id FROM (
    |    SELECT qq.query_id, c.centroid_id,
    |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * c.csq) DESC,
    |        c.centroid_id) AS rn
    |    FROM qq, ce0 c) WHERE rn <= 2),
    |pr2 AS (SELECT query_id, centroid_id FROM (
    |    SELECT qq.query_id, c.centroid_id,
    |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * c.csq) DESC,
    |        c.centroid_id) AS rn
    |    FROM qq, ce2 c) WHERE rn <= 2),
    |cand0 AS (SELECT p.query_id, a.vec_id AS neighbor_id
    |  FROM pr0 p JOIN asg0 a ON a.centroid_id = p.centroid_id
    |    AND a.vec_id <> p.query_id),
    |cand2 AS (SELECT p.query_id, a.vec_id AS neighbor_id
    |  FROM pr2 p JOIN asg2 a ON a.centroid_id = p.centroid_id
    |    AND a.vec_id <> p.query_id),
    |ex AS (SELECT query_id, neighbor_id FROM (
    |    SELECT qq.query_id, nb.vec_id AS neighbor_id,
    |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
    |        nb.vec_id) AS rnk
    |    FROM qq JOIN base nb ON nb.vec_id <> qq.query_id)
    |  WHERE rnk <= 5),
    |tk0 AS (SELECT query_id, neighbor_id FROM (
    |    SELECT c.query_id, c.neighbor_id,
    |      row_number() OVER (PARTITION BY c.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
    |        c.neighbor_id) AS rnk
    |    FROM cand0 c JOIN qq ON c.query_id = qq.query_id
    |      JOIN base nb ON c.neighbor_id = nb.vec_id)
    |  WHERE rnk <= 5),
    |tk2 AS (SELECT query_id, neighbor_id FROM (
    |    SELECT c.query_id, c.neighbor_id,
    |      row_number() OVER (PARTITION BY c.query_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
    |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
    |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
    |        c.neighbor_id) AS rnk
    |    FROM cand2 c JOIN qq ON c.query_id = qq.query_id
    |      JOIN base nb ON c.neighbor_id = nb.vec_id)
    |  WHERE rnk <= 5),
    |cc0 AS (SELECT query_id, COUNT(*) AS cand_seed FROM cand0 GROUP BY query_id),
    |cc2 AS (SELECT query_id, COUNT(*) AS cand_trained FROM cand2 GROUP BY query_id),
    |h0 AS (SELECT ex.query_id, COUNT(*) AS hits_seed
    |  FROM ex JOIN tk0 ON ex.query_id = tk0.query_id
    |    AND ex.neighbor_id = tk0.neighbor_id GROUP BY ex.query_id),
    |h2 AS (SELECT ex.query_id, COUNT(*) AS hits_trained
    |  FROM ex JOIN tk2 ON ex.query_id = tk2.query_id
    |    AND ex.neighbor_id = tk2.neighbor_id GROUP BY ex.query_id)
    |SELECT qq.query_id,
    |  COALESCE(cc0.cand_seed, 0) AS cand_seed,
    |  COALESCE(cc2.cand_trained, 0) AS cand_trained,
    |  COALESCE(h0.hits_seed, 0) AS hits_seed,
    |  COALESCE(h2.hits_trained, 0) AS hits_trained
    |FROM qq
    |LEFT JOIN cc0 ON qq.query_id = cc0.query_id
    |LEFT JOIN cc2 ON qq.query_id = cc2.query_id
    |LEFT JOIN h0 ON qq.query_id = h0.query_id
    |LEFT JOIN h2 ON qq.query_id = h2.query_id
    |ORDER BY qq.query_id""".stripMargin

  /** Post-train store occupancy over LLOYD_CHAIN's names: training the
    * persisted store re-draws seeds from the FULL stored codes then
    * refines them two epochs, so the store's lists equal asg2's — the
    * q_ivf_store_occupancy aggregation over the trained assignment,
    * with each list's epoch-0 ancestor seed as lineage.
    */
  private val LLOYD_STORE_OCC_SQL: String = LLOYD_CHAIN + """,
    |per AS (SELECT a.centroid_id, COUNT(*) AS list_size,
    |    COUNT(DISTINCT b.dig) AS n_codes
    |  FROM asg2 a JOIN base b USING (vec_id) GROUP BY a.centroid_id),
    |tot AS (SELECT SUM(list_size) AS total FROM per)
    |SELECT per.centroid_id, c.seed_vec_id, per.list_size, per.n_codes,
    |  round(CAST(per.list_size AS DOUBLE) / tot.total, 6) AS share
    |FROM per
    |JOIN ce0 c ON c.centroid_id = per.centroid_id
    |CROSS JOIN tot
    |ORDER BY per.centroid_id""".stripMargin

  /** LLOYD_RECALL_SQL over the planted-cluster corpus — the same
    * corpus-CTE swap (and non-vacuousness pin) as PLANTED_PQ_CHAIN.
    */
  private val PLANTED_LLOYD_RECALL_SQL: String = LLOYD_RECALL_SQL.replace(
    "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    """WITH t AS (SELECT vec_id,
      |    list_transform(range(1, 65), i -> CAST(
      |      CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
      |      + ascii(substr(md5(CAST(vec_id * 64 + i AS VARCHAR)), 1, 1)) % 5 - 2
      |      AS DOUBLE)) AS emb
      |  FROM embeddings)""".stripMargin)
  require(PLANTED_LLOYD_RECALL_SQL != LLOYD_RECALL_SQL,
    "PLANTED_LLOYD_RECALL_SQL replace matched nothing — LLOYD_CHAIN's corpus CTE changed")

  /** The RETRAINED store's ADC probe (`q_ivfpq_store_probe_trained`):
    * coarse pruning under the trained (2-epoch) centroids and their
    * re-assigned lists (LLOYD_CHAIN's ce2/asg2), ADC scoring under the
    * UNCHANGED md5-drawn codebook — exactly the state the
    * rebuild-in-swap guarantees (codebook copied verbatim, per-vector
    * codes identical, partitioning moved to the trained lists).
    */
  private val TRAINED_IVFPQ_PROBE_SQL: String = LLOYD_CHAIN + """,
    |seeds AS (SELECT seed_vec_id, cv, csq, centroid_id FROM ce0),
    |""".stripMargin + PQ_ENCODE_BLOCK + """,
    |probes AS (SELECT query_id, centroid_id FROM (
    |    SELECT base.vec_id AS query_id, c.centroid_id,
    |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
    |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
    |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
    |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
    |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
    |        c.centroid_id) AS rn
    |    FROM base, ce2 c WHERE base.vec_id < 10) WHERE rn <= 4),
    |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
    |  FROM probes p JOIN asg2 a USING (centroid_id)
    |  WHERE a.vec_id <> p.query_id),
    |""".stripMargin + PQ_ADC_TAIL

  /** One per-subspace Lloyd round on the RESIDUAL codebook: argmin
    * assignment of every residual's subspace slice to `inBook`, then
    * per-(subspace, entry) HALF-UP integer slice means with untouched
    * slices carried verbatim — [[graft.ext.Similarity.pqLloydCodebook]]
    * run on the residual frame (`tresid`), entry ids in rank order.
    */
  private def resPqRound(pick: String, inBook: String,
                         outBook: String): String =
    s"""$pick AS (SELECT vec_id, j, entry_id FROM (
       |    SELECT r.vec_id, subs.j, b.entry_id,
       |      row_number() OVER (PARTITION BY r.vec_id, subs.j ORDER BY
       |        list_sum(list_transform(range(1, 9),
       |          i -> CAST(r.rv[subs.j * 8 + CAST(i AS INTEGER)]
       |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
       |               * (r.rv[subs.j * 8 + CAST(i AS INTEGER)]
       |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)]))),
       |        b.entry_id) AS rn
       |    FROM tresid r, $inBook b, subs) WHERE rn = 1),
       |${outBook}_cells AS (SELECT p.j, p.entry_id,
       |      unnest(range(1, 9)) AS spos,
       |      unnest(list_transform(range(1, 9),
       |        i -> r.rv[p.j * 8 + CAST(i AS INTEGER)])) AS v
       |    FROM $pick p JOIN tresid r ON p.vec_id = r.vec_id),
       |${outBook}_u AS (SELECT j, entry_id,
       |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
       |        ORDER BY spos) AS sub_ev
       |    FROM (SELECT j, entry_id, spos, SUM(CAST(v AS BIGINT)) AS s,
       |            COUNT(*) AS n
       |          FROM ${outBook}_cells GROUP BY j, entry_id, spos)
       |    GROUP BY j, entry_id),
       |$outBook AS (
       |  SELECT b.entry_id,
       |    flatten(list(COALESCE(u.sub_ev,
       |        list_transform(range(1, 9),
       |          i -> b.ev[sj.j * 8 + CAST(i AS INTEGER)]))
       |      ORDER BY sj.j)) AS ev
       |  FROM $inBook b CROSS JOIN subs sj
       |  LEFT JOIN ${outBook}_u u ON u.j = sj.j AND u.entry_id = b.entry_id
       |  GROUP BY b.entry_id)""".stripMargin

  /** The trained-IVFADC arm + recall tail over PQ_CHAIN + IVFADC_FRAG's
    * names: coarse centroids refined two exact-integer Lloyd epochs
    * (tce0 → tasg2, the LLOYD_CHAIN arithmetic rebased on the PQ
    * chain's seeds), residuals re-taken under the TRAINED centroids,
    * the residual codebook (md5 ranks 16..31's trained-residuals)
    * refined two per-subspace Lloyd rounds, the trained encode /
    * probe / ADC ranking, and per-query hit counts of the all-seed
    * IVFADC (IVFADC_FRAG's `adcres`) vs the all-trained one against
    * the exact int8 top-5.
    */
  /** The trained-coarse prefix shared by the trained-IVFADC recall A/B
    * and the trained residual-store probe: two Lloyd epochs off the PQ
    * chain's seeds (tce0 → tasg2), residuals RE-TAKEN under the
    * trained centroids, and the residual codebook's epoch-0 draw (md5
    * ranks 16..31's trained-residuals).
    */
  private val TRAINED_COARSE_FRAG: String = ",\n" +
    "tce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM seeds),\n" +
    lloydAsgCte("tasg0", "tce0") + ",\n" +
    lloydUpdCte("tce1", "tasg0", "tce0") + ",\n" +
    lloydAsgCte("tasg1", "tce1") + ",\n" +
    lloydUpdCte("tce2", "tasg1", "tce1") + ",\n" +
    lloydAsgCte("tasg2", "tce2") + ",\n" +
    """tresid AS (SELECT a.vec_id, a.centroid_id,
      |    list_transform(range(1, len(a.qv) + 1),
      |      i -> a.qv[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS rv
      |  FROM tasg2 a JOIN tce2 c USING (centroid_id)),
      |trbook0 AS (SELECT CAST(ranked.rank_id - 16 AS INTEGER) AS entry_id,
      |    r.rv AS ev
      |  FROM ranked JOIN tresid r ON ranked.seed_vec_id = r.vec_id
      |  WHERE ranked.rank_id >= 16 AND ranked.rank_id < 32)""".stripMargin

  private val TRAINED_IVFADC_TAIL: String = TRAINED_COARSE_FRAG + ",\n" +
    resPqRound("trpick1", "trbook0", "trbook1") + ",\n" +
    resPqRound("trpick2", "trbook1", "trbook2") + ",\n" +
    """trpick AS (SELECT vec_id, j, entry_id FROM (
      |    SELECT r.vec_id, subs.j, b.entry_id,
      |      row_number() OVER (PARTITION BY r.vec_id, subs.j ORDER BY
      |        list_sum(list_transform(range(1, 9),
      |          i -> CAST(r.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |               * (r.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)]))),
      |        b.entry_id) AS rn
      |    FROM tresid r, trbook2 b, subs) WHERE rn = 1),
      |trrecon AS (SELECT p.vec_id, p.j,
      |    list_transform(range(1, 9),
      |      i -> b.ev[p.j * 8 + CAST(i AS INTEGER)]) AS rhat
      |  FROM trpick p JOIN trbook2 b USING (entry_id)),
      |tw AS (SELECT r.vec_id,
      |    list_transform(range(1, len(c.cv) + 1),
      |      i -> c.cv[CAST(i AS INTEGER)] + f.rhat_full[CAST(i AS INTEGER)]) AS wv
      |  FROM tresid r
      |  JOIN tce2 c ON r.centroid_id = c.centroid_id
      |  JOIN (SELECT vec_id, flatten(list(rhat ORDER BY j)) AS rhat_full
      |        FROM trrecon GROUP BY vec_id) f ON r.vec_id = f.vec_id),
      |twsq AS (SELECT vec_id,
      |    CAST(list_sum(list_transform(wv, x -> CAST(x AS BIGINT) * x))
      |      AS BIGINT) AS wsq,
      |    wv FROM tw),
      |tprobes AS (SELECT query_id, centroid_id FROM (
      |    SELECT base.vec_id AS query_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
      |        c.centroid_id) AS rn
      |    FROM base, tce2 c WHERE base.vec_id < 10) WHERE rn <= 4),
      |tcands AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM tprobes p JOIN tasg2 a USING (centroid_id)
      |  WHERE a.vec_id <> p.query_id),
      |tadc AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    CASE WHEN ww.wsq = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |             i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |               * ww.wv[CAST(i AS INTEGER)])) AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * ww.wsq) END AS sim
      |  FROM tcands c
      |  JOIN base q ON c.query_id = q.vec_id
      |  JOIN twsq ww ON c.neighbor_id = ww.vec_id),
      |trestop AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM tadc)
      |  WHERE rnk <= 5),
      |srestop AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM adcres)
      |  WHERE rnk <= 5),
      |texact0 AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
      |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
      |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |texact AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rnk FROM texact0)
      |  WHERE rnk <= 5),
      |hseed AS (SELECT e.query_id, count(*) AS n FROM texact e
      |  JOIN srestop a ON e.query_id = a.query_id
      |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id),
      |htr AS (SELECT e.query_id, count(*) AS n FROM texact e
      |  JOIN trestop a ON e.query_id = a.query_id
      |    AND e.neighbor_id = a.neighbor_id GROUP BY e.query_id)
      |SELECT q.vec_id AS query_id,
      |  CAST(COALESCE(hseed.n, 0) AS BIGINT) AS hits_seed,
      |  CAST(COALESCE(htr.n, 0) AS BIGINT) AS hits_trained
      |FROM base q
      |LEFT JOIN hseed ON q.vec_id = hseed.query_id
      |LEFT JOIN htr ON q.vec_id = htr.query_id
      |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin

  /** Shared by q_ivfadc_topk and the persisted residual-sidecar twin
    * q_ivfadc_store_probe (static store ≡ in-memory IVFADC).
    */
  private val IVFADC_TOPK_SQL: String = PQ_CHAIN + ",\n" + IVFADC_FRAG +
    """,
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk FROM adcres)
      |SELECT query_id, rnk, neighbor_id, adc_dot, round(sim, 6) AS ivfadc_sim
      |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  private val TRAINED_IVFADC_RECALL_SQL: String =
    PQ_CHAIN + ",\n" + IVFADC_FRAG + TRAINED_IVFADC_TAIL
  private val PLANTED_TRAINED_IVFADC_RECALL_SQL: String =
    PLANTED_PQ_CHAIN + ",\n" + IVFADC_FRAG + TRAINED_IVFADC_TAIL

  /** The TRAINED residual store's ADC probe
    * (`q_ivfadc_store_probe_trained`): the store is trained first, so
    * the residual sidecar built afterwards draws its codebook from the
    * md5 ranks' residuals UNDER THE TRAINED CENTROIDS (trbook0 — the
    * epoch-0 draw; no codebook Lloyd rounds in the store build),
    * encodes every vector's trained-residual against it, and the probe
    * ranks the trained centroids. IVFADC_FRAG rides along only for its
    * `ranked` CTE (unused CTEs stay unexecuted).
    */
  private val TRAINED_IVFADC_STORE_SQL: String =
    PQ_CHAIN + ",\n" + IVFADC_FRAG + TRAINED_COARSE_FRAG + """,
      |tspick AS (SELECT vec_id, j, entry_id FROM (
      |    SELECT r.vec_id, subs.j, b.entry_id,
      |      row_number() OVER (PARTITION BY r.vec_id, subs.j ORDER BY
      |        list_sum(list_transform(range(1, 9),
      |          i -> CAST(r.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
      |               * (r.rv[subs.j * 8 + CAST(i AS INTEGER)]
      |                 - b.ev[subs.j * 8 + CAST(i AS INTEGER)]))),
      |        b.entry_id) AS rn
      |    FROM tresid r, trbook0 b, subs) WHERE rn = 1),
      |tsrecon AS (SELECT p.vec_id, p.j,
      |    list_transform(range(1, 9),
      |      i -> b.ev[p.j * 8 + CAST(i AS INTEGER)]) AS rhat
      |  FROM tspick p JOIN trbook0 b USING (entry_id)),
      |tsw AS (SELECT r.vec_id,
      |    list_transform(range(1, len(c.cv) + 1),
      |      i -> c.cv[CAST(i AS INTEGER)] + f.rhat_full[CAST(i AS INTEGER)]) AS wv
      |  FROM tresid r
      |  JOIN tce2 c ON r.centroid_id = c.centroid_id
      |  JOIN (SELECT vec_id, flatten(list(rhat ORDER BY j)) AS rhat_full
      |        FROM tsrecon GROUP BY vec_id) f ON r.vec_id = f.vec_id),
      |tswsq AS (SELECT vec_id,
      |    CAST(list_sum(list_transform(wv, x -> CAST(x AS BIGINT) * x))
      |      AS BIGINT) AS wsq,
      |    wv FROM tsw),
      |tsprobes AS (SELECT query_id, centroid_id FROM (
      |    SELECT base.vec_id AS query_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
      |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
      |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
      |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
      |        c.centroid_id) AS rn
      |    FROM base, tce2 c WHERE base.vec_id < 10) WHERE rn <= 4),
      |tscands AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM tsprobes p JOIN tasg2 a USING (centroid_id)
      |  WHERE a.vec_id <> p.query_id),
      |tsadc AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |        * ww.wv[CAST(i AS INTEGER)])) AS BIGINT) AS adc_dot,
      |    CASE WHEN ww.wsq = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |             i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
      |               * ww.wv[CAST(i AS INTEGER)])) AS DOUBLE)
      |           / sqrt(CAST(q.qsq AS DOUBLE) * ww.wsq) END AS sim
      |  FROM tscands c
      |  JOIN base q ON c.query_id = q.vec_id
      |  JOIN tswsq ww ON c.neighbor_id = ww.vec_id),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk FROM tsadc)
      |SELECT query_id, rnk, neighbor_id, adc_dot, round(sim, 6) AS ivfadc_sim
      |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** One per-subspace Lloyd mean-update over PQ_CHAIN's names: the
    * lloydUpdCte arithmetic keyed by (subspace j, codebook entry),
    * slices re-listed in coordinate order, empty entries carrying the
    * previous codebook's slice.
    */
  private def pqUpdCte(out: String, pick: String, prevcb: String): String =
    s"""${out}_cells AS (SELECT p.j, p.centroid_id,
       |      unnest(range(1, 9)) AS spos,
       |      unnest(list_transform(range(1, 9),
       |        i -> b.qv[p.j * 8 + CAST(i AS INTEGER)])) AS v
       |    FROM $pick p JOIN base b USING (vec_id)),
       |${out}_u AS (SELECT j, centroid_id,
       |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
       |        ORDER BY spos) AS sub_cv
       |    FROM (SELECT j, centroid_id, spos, SUM(CAST(v AS BIGINT)) AS s,
       |            COUNT(*) AS n
       |          FROM ${out}_cells GROUP BY j, centroid_id, spos)
       |    GROUP BY j, centroid_id),
       |$out AS (SELECT pc.centroid_id, pc.j,
       |      COALESCE(u.sub_cv, pc.sub_cv) AS sub_cv
       |    FROM $prevcb pc LEFT JOIN ${out}_u u
       |      ON pc.centroid_id = u.centroid_id AND pc.j = u.j)""".stripMargin

  /** Per-(vector, subspace) exact integer argmin re-encode against a
    * slice-form codebook `cb(centroid_id, j, sub_cv)` — PQ_CHAIN's
    * dists/pick block parameterized by training round.
    */
  private def pqPickCte(out: String, cb: String): String =
    s"""${out}_d AS (SELECT b.vec_id, c.j, c.centroid_id,
       |    list_sum(list_transform(range(1, 9),
       |      i -> CAST(b.qv[c.j * 8 + CAST(i AS INTEGER)]
       |             - c.sub_cv[CAST(i AS INTEGER)] AS BIGINT)
       |           * (b.qv[c.j * 8 + CAST(i AS INTEGER)]
       |             - c.sub_cv[CAST(i AS INTEGER)]))) AS d
       |  FROM base b, $cb c),
       |$out AS (SELECT vec_id, j, centroid_id, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY d, centroid_id) AS rn FROM ${out}_d) WHERE rn = 1)""".stripMargin

  /** PQ_CHAIN extended with two per-subspace Lloyd training rounds:
    * cb0 = the seed codebook in slice form, then
    * pick→cb1→pk1→cb2→pk2 (PQ_CHAIN's own `pick` IS the round-0
    * assignment — same argmin, same tie rule).
    */
  private val PQ_TRAIN_CHAIN: String = PQ_CHAIN + ",\n" +
    """cb0 AS (SELECT s.centroid_id, subs.j,
      |    list_transform(range(1, 9),
      |      i -> s.cv[subs.j * 8 + CAST(i AS INTEGER)]) AS sub_cv
      |  FROM seeds s, subs)""".stripMargin + ",\n" +
    pqUpdCte("cb1", "pick", "cb0") + ",\n" + pqPickCte("pk1", "cb1") + ",\n" +
    pqUpdCte("cb2", "pk1", "cb1") + ",\n" + pqPickCte("pk2", "cb2")

  /** Per-round distortion audit tail: exact integer totals — the
    * monotone-descent theorem made visible in the certified artifact.
    */
  private val PQ_TRAIN_DIST_SQL: String = PQ_TRAIN_CHAIN + """,
    |rounds AS (
    |  SELECT 0 AS round, vec_id, CAST(SUM(d) AS BIGINT) AS dist
    |    FROM pick GROUP BY vec_id
    |  UNION ALL SELECT 1 AS round, vec_id, CAST(SUM(d) AS BIGINT) AS dist
    |    FROM pk1 GROUP BY vec_id
    |  UNION ALL SELECT 2 AS round, vec_id, CAST(SUM(d) AS BIGINT) AS dist
    |    FROM pk2 GROUP BY vec_id)
    |SELECT round, CAST(SUM(dist) AS BIGINT) AS total_dist,
    |  CAST(MAX(dist) AS BIGINT) AS max_dist, COUNT(*) AS n_vec
    |FROM rounds GROUP BY round ORDER BY round""".stripMargin

  /** Seed-vs-trained ADC recall tail: the q_pq_recall exact/ADC blocks
    * for the seed arm (chosen/rsqs are the seed-codebook forms), the
    * same ranking under the round-2 codebook (chosen2/rsq2/tadc), hit
    * counts per side.
    */
  private val PQ_TRAINED_RECALL_SQL: String = PQ_TRAIN_CHAIN + """,
    |exact0 AS (
    |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
    |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
    |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
    |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
    |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
    |exact AS (SELECT query_id, neighbor_id FROM (
    |    SELECT *, row_number() OVER (PARTITION BY query_id
    |      ORDER BY sim DESC, neighbor_id) AS rnk FROM exact0)
    |  WHERE rnk <= 5),
    |adc0 AS (
    |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    |    CAST(sum(list_sum(list_transform(range(1, 9),
    |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
    |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
    |  FROM base q, chosen c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    |  GROUP BY q.vec_id, c.vec_id),
    |adcsim AS (
    |  SELECT a.query_id, a.neighbor_id,
    |    CASE WHEN r.rsq = 0 THEN 0.0
    |         ELSE CAST(a.adc_dot AS DOUBLE)
    |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
    |  FROM adc0 a JOIN rsqs r ON a.neighbor_id = r.vec_id
    |  JOIN base q ON a.query_id = q.vec_id),
    |adctop AS (SELECT query_id, neighbor_id FROM (
    |    SELECT *, row_number() OVER (PARTITION BY query_id
    |      ORDER BY sim DESC, neighbor_id) AS rnk FROM adcsim)
    |  WHERE rnk <= 5),
    |chosen2 AS (SELECT p.vec_id, p.j, c.sub_cv
    |  FROM pk2 p JOIN cb2 c ON p.centroid_id = c.centroid_id AND p.j = c.j),
    |rsq2 AS (SELECT vec_id,
    |    CAST(sum(list_sum(list_transform(range(1, 9),
    |      i -> CAST(sub_cv[CAST(i AS INTEGER)] AS BIGINT)
    |           * sub_cv[CAST(i AS INTEGER)]))) AS BIGINT) AS rsq
    |  FROM chosen2 GROUP BY vec_id),
    |tadc0 AS (
    |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    |    CAST(sum(list_sum(list_transform(range(1, 9),
    |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
    |           * c.sub_cv[CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
    |  FROM base q, chosen2 c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    |  GROUP BY q.vec_id, c.vec_id),
    |tadcsim AS (
    |  SELECT a.query_id, a.neighbor_id,
    |    CASE WHEN r.rsq = 0 THEN 0.0
    |         ELSE CAST(a.adc_dot AS DOUBLE)
    |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
    |  FROM tadc0 a JOIN rsq2 r ON a.neighbor_id = r.vec_id
    |  JOIN base q ON a.query_id = q.vec_id),
    |tadctop AS (SELECT query_id, neighbor_id FROM (
    |    SELECT *, row_number() OVER (PARTITION BY query_id
    |      ORDER BY sim DESC, neighbor_id) AS rnk FROM tadcsim)
    |  WHERE rnk <= 5),
    |h0 AS (SELECT e.query_id, count(*) AS n
    |  FROM exact e JOIN adctop a
    |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    |  GROUP BY e.query_id),
    |h2 AS (SELECT e.query_id, count(*) AS n
    |  FROM exact e JOIN tadctop a
    |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    |  GROUP BY e.query_id)
    |SELECT q.vec_id AS query_id,
    |  CAST(COALESCE(h0.n, 0) AS BIGINT) AS hits_seed,
    |  CAST(COALESCE(h2.n, 0) AS BIGINT) AS hits_trained
    |FROM base q
    |LEFT JOIN h0 ON q.vec_id = h0.query_id
    |LEFT JOIN h2 ON q.vec_id = h2.query_id
    |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin

  /** The trained-recall A/B over the planted-cluster corpus — the
    * PLANTED_PQ_CHAIN swap applied to the training chain.
    */
  private val PLANTED_PQ_TRAINED_RECALL_SQL: String =
    PQ_TRAINED_RECALL_SQL.replace(
      "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
      """WITH t AS (SELECT vec_id,
        |    list_transform(range(1, 65), i -> CAST(
        |      CASE WHEN (vec_id % 8 + i) % 8 = 0 THEN 80 ELSE -10 END
        |      + ascii(substr(md5(CAST(vec_id * 64 + i AS VARCHAR)), 1, 1)) % 5 - 2
        |      AS DOUBLE)) AS emb
        |  FROM embeddings)""".stripMargin)
  require(PLANTED_PQ_TRAINED_RECALL_SQL != PQ_TRAINED_RECALL_SQL,
    "PLANTED_PQ_TRAINED_RECALL_SQL replace matched nothing — PQ_CHAIN's corpus CTE changed")

  def oracleSql: Map[String, String] = Map(
    "q_lsh_topk" -> lshTopKOracle,
    "q_zorder_layout" -> zorderOracle,
    // q_capstone_fact: the reference pipeline's own fact query
    // (etl.py:159-191) — fact input derived from orders, dims from
    // nation/region + the real mode/visa label rows; joins, WHERE, and
    // the SAS-day arrival conversion mirror CapstoneEtl.immigrationFact
    "q_capstone_fact" ->
      """WITH imm AS (
        |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS DOUBLE) AS i94yr,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS DOUBLE) AS i94mon,
        |    CAST(o_custkey % 26 AS DOUBLE) AS i94res,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'XXX'
        |      ELSE 'P' || CAST(o_orderkey % 25 AS VARCHAR) END AS i94port,
        |    CAST(CASE WHEN o_orderkey % 5 = 3 THEN 9 WHEN o_orderkey % 5 = 4 THEN 7
        |      ELSE o_orderkey % 5 + 1 END AS DOUBLE) AS i94mode,
        |    CAST(o_custkey % 6 AS VARCHAR) AS i94addr,
        |    CAST(o_orderkey % 5 + 1 AS DOUBLE) AS i94visa,
        |    CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS arrdate,
        |    CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) + 7 AS DOUBLE) AS depdate,
        |    CAST(o_custkey % 80 AS DOUBLE) AS i94bir,
        |    CAST(2016 - o_custkey % 80 AS DOUBLE) AS biryear,
        |    CASE WHEN o_orderkey % 11 = 0 THEN CAST(NULL AS VARCHAR)
        |      ELSE 'OCC' || CAST(o_orderkey % 11 AS VARCHAR) END AS occup,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS gender,
        |    CAST(o_orderkey % 30 AS VARCHAR) AS dtaddto,
        |    'AL' || CAST(o_orderkey % 9 AS VARCHAR) AS airline,
        |    CAST(o_orderkey AS DOUBLE) AS admnum,
        |    CAST(o_orderkey % 1000 AS VARCHAR) AS fltno
        |  FROM orders),
        |lu_countries AS (SELECT CAST(n_nationkey AS VARCHAR) AS code FROM nation),
        |lu_ports AS (SELECT 'P' || CAST(n_nationkey AS VARCHAR) AS code FROM nation),
        |lu_states AS (SELECT CAST(r_regionkey AS VARCHAR) AS code FROM region),
        |lu_modes AS (SELECT * FROM (VALUES ('1'), ('2'), ('3'), ('9')) AS t(code)),
        |lu_visa_types AS (SELECT * FROM (VALUES ('1', 'Business'), ('2', 'Pleasure'),
        |  ('3', 'Student')) AS t(code, visa_type))
        |SELECT tid.i94yr AS year, tid.i94mon AS month,
        |  lc.code AS residence_country, lp.code AS port,
        |  CASE WHEN tid.arrdate IS NULL OR tid.arrdate = 0 THEN NULL
        |    ELSE strftime(DATE '1960-01-01' + CAST(tid.arrdate AS INTEGER), '%Y-%m-%d')
        |    END AS arrival_date,
        |  lm.code AS mode, ls.code AS state_code,
        |  tid.depdate AS departure_date, tid.i94bir AS age,
        |  lvt.code AS visa_type_code, tid.occup AS occupation,
        |  tid.gender, lvt.visa_type, tid.biryear AS birth_year,
        |  tid.dtaddto AS allowed_date, tid.airline,
        |  tid.admnum AS admission_number, tid.fltno AS flight_number
        |FROM imm tid
        |LEFT JOIN lu_countries lc ON lc.code = CAST(CAST(tid.i94res AS INT) AS VARCHAR)
        |LEFT JOIN lu_ports lp ON lp.code = tid.i94port
        |LEFT JOIN lu_modes lm ON lm.code = CAST(CAST(tid.i94mode AS INT) AS VARCHAR)
        |LEFT JOIN lu_states ls ON ls.code = tid.i94addr
        |LEFT JOIN lu_visa_types lvt ON lvt.code = CAST(CAST(tid.i94visa AS INT) AS VARCHAR)
        |WHERE lp.code IS NOT NULL AND lc.code IS NOT NULL AND lm.code IS NOT NULL
        |  AND ls.code IS NOT NULL AND lvt.code IS NOT NULL
        |ORDER BY admission_number""".stripMargin,
    // q_capstone_port_demographics: the reference's second and last
    // query entry point (etl.py:194-221) — demographics derived from
    // customer (UPPER-case cities, string-typed populations), ports from
    // nation (Title-case city twins, sentinel states) so the string-cast
    // SUMs, the lower() compound join, and the inner-join elimination
    // all do real work. The aggregate + join mirror
    // CapstoneEtl.portDemographics byte for byte; the SUM(INT) columns
    // are cast to BIGINT because DuckDB widens integer SUM to HUGEINT
    // while Spark yields LONG.
    "q_capstone_port_demographics" ->
      """WITH demo AS (
        |  SELECT 'CITY ' || CAST(c_custkey % 40 AS VARCHAR) AS city,
        |    CAST(c_custkey % 5 AS VARCHAR) AS state_code,
        |    CAST(c_custkey % 997 AS VARCHAR) AS male_population,
        |    CAST(c_custkey % 787 AS VARCHAR) AS female_population,
        |    CAST(c_custkey % 1000 + 500 AS INTEGER) AS total_population,
        |    CAST(c_custkey % 97 AS INTEGER) AS number_of_veterans,
        |    CAST(c_custkey % 211 AS INTEGER) AS number_of_foreign_born
        |  FROM customer),
        |ports AS (
        |  SELECT 'P' || CAST(n_nationkey AS VARCHAR) AS code,
        |    CASE WHEN n_nationkey = 3 THEN 'Nowhere'
        |      ELSE 'City ' || CAST(n_nationkey AS VARCHAR) END AS city,
        |    CAST(CASE WHEN n_nationkey % 7 = 0 THEN 9
        |      ELSE n_nationkey % 5 END AS VARCHAR) AS state_code
        |  FROM nation),
        |agg AS (
        |  SELECT td.city, td.state_code,
        |    SUM(CAST(td.male_population AS DOUBLE)) AS total_male_population,
        |    SUM(CAST(td.female_population AS DOUBLE)) AS total_female_population,
        |    CAST(SUM(td.total_population) AS BIGINT) AS total_population,
        |    CAST(SUM(td.number_of_veterans) AS BIGINT) AS number_of_veterans,
        |    CAST(SUM(td.number_of_foreign_born) AS BIGINT) AS number_of_foreign_born
        |  FROM demo td
        |  GROUP BY td.city, td.state_code)
        |SELECT lp.code AS port_code, td.*
        |FROM ports lp
        |JOIN agg td
        |  ON lower(td.city) = lower(lp.city) AND td.state_code = lp.state_code
        |ORDER BY port_code""".stripMargin,
    "q_star_join" ->
      """SELECT l.l_orderkey AS order_key, l.l_linenumber AS line_number,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
        |  o.o_orderstatus AS order_status, o.o_orderpriority AS order_priority,
        |  p.p_name AS part_name, p.p_brand AS brand,
        |  s.s_name AS supplier_name, c.c_name AS customer_name,
        |  c.c_mktsegment AS market_segment, n.n_name AS nation_name,
        |  l.l_quantity AS quantity, l.l_extendedprice AS extended_price,
        |  l.l_returnflag AS return_flag, l.l_linestatus AS line_status
        |FROM lineitem l
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderkey IS NOT NULL AND p.p_partkey IS NOT NULL
        |  AND s.s_suppkey IS NOT NULL AND c.c_custkey IS NOT NULL
        |  AND n.n_nationkey IS NOT NULL
        |ORDER BY order_key, line_number""".stripMargin,
    "q_groupby_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_join_back" ->
      """WITH ca AS (
        |  SELECT c_nationkey,
        |    round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS cust_balance,
        |    COUNT(*) AS n_customers
        |  FROM customer GROUP BY c_nationkey),
        |sa AS (
        |  SELECT s_nationkey,
        |    round(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS supp_balance,
        |    COUNT(*) AS n_suppliers
        |  FROM supplier GROUP BY s_nationkey),
        |cn AS (
        |  SELECT lower(n.n_name) AS nation_name, n.n_regionkey AS region_key,
        |    ca.cust_balance, ca.n_customers
        |  FROM ca JOIN nation n ON ca.c_nationkey = n.n_nationkey),
        |sn AS (
        |  SELECT lower(n.n_name) AS s_nation_name, n.n_regionkey AS s_region_key,
        |    sa.supp_balance, sa.n_suppliers
        |  FROM sa JOIN nation n ON sa.s_nationkey = n.n_nationkey)
        |SELECT cn.nation_name, cn.region_key, cn.cust_balance, cn.n_customers,
        |  sn.supp_balance, sn.n_suppliers
        |FROM cn JOIN sn ON cn.nation_name = sn.s_nation_name
        |  AND cn.region_key = sn.s_region_key
        |ORDER BY nation_name""".stripMargin,
    "q_filter_sentinel" ->
      """SELECT o_orderkey AS order_key, o_orderstatus AS order_status,
        |  o_custkey AS customer_key
        |FROM orders
        |WHERE o_orderstatus <> 'P' AND o_custkey IS NOT NULL
        |ORDER BY order_key""".stripMargin,
    "q_regexp_replace" ->
      """SELECT p_partkey AS part_key, p_type AS part_type,
        |  regexp_replace(p_type, '^PROMO.*|^ECONOMY.*', 'NA') AS type_norm
        |FROM part ORDER BY part_key""".stripMargin,
    "q_split_parts" ->
      """SELECT p_partkey AS part_key,
        |  trim(string_split(p_name, ' ')[1]) AS name_head,
        |  trim(string_split(p_name, ' ')[2]) AS name_tail,
        |  string_split(p_name, ',')[2] AS missing_token
        |FROM part ORDER BY part_key""".stripMargin,
    "q_sas_date" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |  CAST(datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) AS INTEGER) AS sas_days,
        |  CASE WHEN datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) IS NULL
        |         OR datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) = 0
        |    THEN NULL
        |    ELSE strftime(DATE '1960-01-01' + CAST(datediff('day', DATE '1960-01-01',
        |      CAST(l_shipdate AS DATE)) AS INTEGER), '%Y-%m-%d') END AS ship_date_iso
        |FROM lineitem ORDER BY order_key, line_number""".stripMargin,
    "q_sas_date_udf" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |  CAST(datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) AS INTEGER) AS sas_days,
        |  CASE WHEN datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) IS NULL
        |         OR datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE)) = 0
        |    THEN NULL
        |    ELSE strftime(DATE '1960-01-01' + CAST(datediff('day', DATE '1960-01-01',
        |      CAST(l_shipdate AS DATE)) AS INTEGER), '%Y-%m-%d') END AS ship_date_iso
        |FROM lineitem ORDER BY order_key, line_number""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey AS customer_key,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk,
        |  o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders
        |QUALIFY rnk <= 3
        |ORDER BY customer_key, rnk""".stripMargin,
    "q_window_pack" ->
      """SELECT o_custkey AS customer_key, o_orderkey AS order_key,
        |  o_totalprice AS total_price,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_orderkey) OVER w AS best_order,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY customer_key, order_key""".stripMargin,
    "q_window_frames" ->
      """SELECT o_custkey AS customer_key, o_orderkey AS order_key,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER run AS DOUBLE), 2)
        |    AS running_total,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER m3 AS DOUBLE), 2)
        |    AS moving_sum3,
        |  COUNT(*) OVER m3 AS n_in_frame,
        |  round(MAX(o_totalprice) OVER ahead, 2) AS max_next2
        |FROM orders
        |WINDOW
        |  run AS (PARTITION BY o_custkey ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING),
        |  m3 AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  ahead AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING)
        |ORDER BY order_key""".stripMargin,
    "q_array_pack" ->
      """WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS l FROM part)
        |SELECT p_partkey AS part_key,
        |  CAST(len(l) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(l, x -> len(x) > 4)) AS INTEGER) AS n_long_tokens,
        |  len(list_filter(l, x -> len(x) <= 3)) > 0 AS has_short,
        |  len(list_filter(l, x -> len(x) < 2)) = 0 AS all_ge2,
        |  list_sort(l)[1] AS first_sorted,
        |  array_to_string(list_sort(l)[1:3], '-') AS sorted_head3,
        |  CAST(list_sum(list_transform(l, x -> len(x))) AS INTEGER) AS sum_token_lens
        |FROM t ORDER BY part_key""".stripMargin,
    "q_string_pack" ->
      """SELECT p_partkey AS part_key,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
        |  reverse(p_name) AS name_rev,
        |  repeat(p_brand, 2) AS brand_x2,
        |  substr(p_name, 1, 3) AS name_left3,
        |  CAST(strpos(p_name, ' ') AS INTEGER) AS space_pos,
        |  CAST(levenshtein(p_name, 'cold widget') AS INTEGER) AS edit_dist
        |FROM part ORDER BY part_key""".stripMargin,
    "q_conditional_pack" ->
      """SELECT c_custkey AS customer_key,
        |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_norm,
        |  greatest(c_acctbal, 1000.0) AS floor_bal,
        |  least(c_acctbal, 5000.0) AS cap_bal,
        |  CASE WHEN c_acctbal > 5000 THEN 'high'
        |       WHEN c_acctbal > 1000 THEN 'mid' ELSE 'low' END AS tier,
        |  map(['seg'], [c_mktsegment])['seg'][1] AS seg_from_map
        |FROM customer ORDER BY customer_key""".stripMargin,
    "q_custom_topk" ->
      """SELECT o_custkey AS customer_key, o_orderkey AS order_key,
        |  o_totalprice AS total_price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY customer_key, order_key""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // Spark grouping_id bit order: first group-by column = most
    // significant bit → DuckDB twin is 2*GROUPING(flag) + GROUPING(status)
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(2*GROUPING(l_returnflag) + GROUPING(l_linestatus) AS INTEGER) AS gid,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_full_outer" ->
      """WITH ca AS (
        |  SELECT c_nationkey AS nk,
        |    round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS cust_balance,
        |    COUNT(*) AS n_customers
        |  FROM customer GROUP BY c_nationkey),
        |sa AS (
        |  SELECT s_nationkey AS snk,
        |    round(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS supp_balance,
        |    COUNT(*) AS n_suppliers
        |  FROM supplier GROUP BY s_nationkey)
        |SELECT coalesce(nk, snk) AS nation_key,
        |  cust_balance, n_customers, supp_balance, n_suppliers
        |FROM ca FULL OUTER JOIN sa ON ca.nk = sa.snk
        |ORDER BY nation_key ASC NULLS FIRST""".stripMargin,
    "q_cross_join" ->
      """SELECT r.r_regionkey AS region_key, r.r_name AS region_name, s.market_segment
        |FROM region r CROSS JOIN
        |  (SELECT DISTINCT c_mktsegment AS market_segment FROM customer) s
        |ORDER BY region_key, market_segment""".stripMargin,
    "q_unpivot" ->
      """SELECT part_key, attribute, round(value, 2) AS value FROM (
        |  UNPIVOT (SELECT p_partkey AS part_key, CAST(p_size AS DOUBLE) AS size,
        |           CAST(p_retailprice AS DOUBLE) AS retail_price FROM part)
        |  ON size, retail_price INTO NAME attribute VALUE value)
        |ORDER BY part_key, attribute""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_topn" ->
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders ORDER BY total_price DESC, order_key LIMIT 10""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F')
        |    AS DOUBLE), 2) AS "F",
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O')
        |    AS DOUBLE), 2) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the estimator audit: exact aggregates + the error-contract
    // booleans, which the oracle asserts TRUE — a hash mismatch means
    // an estimator broke its envelope
    "q_approx_profile_bounds" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_suppliers,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS exact_median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS exact_p90_qty,
        |  TRUE AS parts_ok, TRUE AS suppliers_ok,
        |  TRUE AS median_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the sketch-family audit: exact distinct counts per scope + the
    // three contract booleans (error envelope, merge ≡ single-pass,
    // below-capacity KMV exactness), all asserted TRUE by the oracle —
    // a hash mismatch means an estimator broke its contract
    "q_sketch_bounds" ->
      """WITH f AS (
        |  SELECT 'hll_flag:' || l_returnflag AS scope,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_n
        |  FROM lineitem GROUP BY l_returnflag),
        |w AS (
        |  SELECT 'hll_week:' ||
        |      strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS scope,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n
        |  FROM events GROUP BY 1),
        |k AS (
        |  SELECT 'kmv_week:' ||
        |      strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS scope,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n
        |  FROM events GROUP BY 1)
        |SELECT scope, exact_n, TRUE AS within_envelope,
        |  TRUE AS merge_eq_single, TRUE AS exact_when_small
        |FROM (SELECT * FROM f UNION ALL SELECT * FROM w
        |      UNION ALL SELECT * FROM k)
        |ORDER BY scope""".stripMargin,
    // the zlib-signal audit: exact UTF-8 byte counts + the codec
    // contract booleans asserted TRUE (the deflate sizes themselves
    // stay rows-only in q_compression_ratio — no zlib in the oracle)
    "q_compression_bounds" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  TRUE AS size_bounded, TRUE AS deterministic,
        |  TRUE AS repetition_subadditive
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_minmax_by" ->
      """SELECT o_orderpriority,
        |  arg_max(o_totalprice, o_orderkey) AS price_of_latest_order,
        |  arg_min(o_totalprice, o_orderkey) AS price_of_earliest_order,
        |  max(o_orderkey) AS latest_order,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_agg_pack" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_quantity > 49) AS any_large,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(stddev_samp(l_quantity), 4) AS qty_stddev,
        |  round(var_samp(l_quantity), 4) AS qty_var,
        |  round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_json_shape" ->
      """SELECT doc_id,
        |  to_json(struct_pack(id := doc_id, lang := lang)) AS doc_json,
        |  regexp_extract(text, '(\w+) (\w+)', 2) AS second_word
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin,
    // the component labels replay with the same recursive walk as the
    // funnel's near-dup stage; pair arithmetic is q_embedding_neardup's
    "q_embedding_clusters" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |edges AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |walk(node, label) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT ed.dst, w.label FROM walk w JOIN edges ed ON ed.src = w.node)
        |SELECT node AS vec_id, MIN(label) AS cluster_id,
        |  (MIN(label) = node) AS is_rep
        |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin,
    // the embedding daily-ingest audit replayed in ONE SQL: the
    // q_quantized_topk quantization chain + the md5 code digest, the
    // md5-random stored/new split, identical-code collapse to min-id
    // reps, NEW-reps x (stored-exemplars ∪ new-reps) integer-cosine
    // candidates, and the doc-audit flag rules — every verdict exact
    // integer arithmetic, so the whole incremental form hash-matches
    "q_embedding_neardup_inc" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |newv AS (SELECT * FROM b WHERE NOT stored),
        |base AS (SELECT * FROM newv WHERE qsq > 0),
        |sb AS (SELECT * FROM b WHERE stored AND qsq > 0),
        |gmin AS (SELECT dig, min(vec_id) AS grp_min FROM base GROUP BY dig),
        |wm AS (SELECT base.*, grp_min FROM base JOIN gmin USING (dig)),
        |reps AS (SELECT vec_id, qv, qsq FROM wm WHERE vec_id = grp_min),
        |pr AS (SELECT r.vec_id AS rep_id, o.vec_id AS o_id, o.o_stored
        |  FROM reps r JOIN (
        |      SELECT vec_id, qv, qsq, TRUE AS o_stored FROM sb
        |      UNION ALL SELECT vec_id, qv, qsq, FALSE FROM reps) o
        |    ON r.vec_id <> o.vec_id AND (o.o_stored OR r.vec_id < o.vec_id)
        |  WHERE CAST(list_sum(list_transform(range(1, len(r.qv) + 1),
        |      i -> CAST(r.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * o.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(r.qsq AS DOUBLE) * o.qsq) >= 0.35),
        |cross_reps AS (SELECT DISTINCT rep_id FROM pr WHERE o_stored),
        |new_reps AS (SELECT DISTINCT o_id AS rep_id FROM pr WHERE NOT o_stored),
        |flags AS (SELECT wm.vec_id,
        |    EXISTS (SELECT 1 FROM sb WHERE sb.dig = wm.dig) AS code_dup_stored,
        |    wm.vec_id <> wm.grp_min AS code_dup_new,
        |    (cr.rep_id IS NOT NULL) AS neardup_stored,
        |    (wm.vec_id <> wm.grp_min OR nr.rep_id IS NOT NULL) AS neardup_new
        |  FROM wm LEFT JOIN cross_reps cr ON wm.grp_min = cr.rep_id
        |          LEFT JOIN new_reps nr ON wm.grp_min = nr.rep_id)
        |SELECT n.vec_id, (n.qsq = 0) AS is_degenerate,
        |  coalesce(f.code_dup_stored, FALSE) AS code_dup_stored,
        |  coalesce(f.code_dup_new, FALSE) AS code_dup_new,
        |  coalesce(f.neardup_stored, FALSE) AS neardup_stored,
        |  coalesce(f.neardup_new, FALSE) AS neardup_new,
        |  (n.qsq > 0 AND NOT coalesce(f.code_dup_stored, FALSE)
        |    AND NOT coalesce(f.code_dup_new, FALSE)
        |    AND NOT coalesce(f.neardup_stored, FALSE)
        |    AND NOT coalesce(f.neardup_new, FALSE)) AS novel
        |FROM newv n LEFT JOIN flags f ON n.vec_id = f.vec_id
        |ORDER BY n.vec_id""".stripMargin,
    // the blocked audit: same flag rules, but near-dup candidates are
    // only the members of the 4 lists each new rep probes (seed-code
    // centroids from the stored side). Deterministic seeds make even
    // the pruned candidate set hash-matchable
    "q_embedding_neardup_blocked" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |allb AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM allb WHERE stored) WHERE centroid_id < 16),
        |sc AS (SELECT allb.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(allb.qv) + 1),
        |      i -> CAST(allb.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(allb.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM allb, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1),
        |newv AS (SELECT * FROM b WHERE NOT stored),
        |base AS (SELECT * FROM newv WHERE qsq > 0),
        |sb AS (SELECT * FROM b WHERE stored AND qsq > 0),
        |gmin AS (SELECT dig, min(vec_id) AS grp_min FROM base GROUP BY dig),
        |wm AS (SELECT base.*, grp_min FROM base JOIN gmin USING (dig)),
        |reps AS (SELECT vec_id, qv, qsq FROM wm WHERE vec_id = grp_min),
        |probes AS (SELECT * FROM (
        |    SELECT sc.vec_id AS rep_id, sc.centroid_id,
        |      row_number() OVER (PARTITION BY sc.vec_id
        |        ORDER BY sim DESC, centroid_id) AS prn
        |    FROM sc JOIN reps ON sc.vec_id = reps.vec_id) WHERE prn <= 4),
        |others AS (
        |  SELECT sb.vec_id AS o_id, sb.qv AS oqv, sb.qsq AS osq,
        |    a.centroid_id AS cluster, TRUE AS o_stored
        |  FROM sb JOIN asg a ON sb.vec_id = a.vec_id
        |  UNION ALL
        |  SELECT r.vec_id, r.qv, r.qsq, a.centroid_id, FALSE
        |  FROM reps r JOIN asg a ON r.vec_id = a.vec_id),
        |pr AS (SELECT p.rep_id, o.o_id, o.o_stored,
        |    r.qv AS rqv, r.qsq AS rsq, o.oqv, o.osq
        |  FROM probes p
        |  JOIN others o ON o.cluster = p.centroid_id AND p.rep_id <> o.o_id
        |  JOIN reps r ON r.vec_id = p.rep_id),
        |hits AS (SELECT rep_id, o_id, o_stored FROM pr
        |  WHERE CAST(list_sum(list_transform(range(1, len(rqv) + 1),
        |      i -> CAST(rqv[CAST(i AS INTEGER)] AS BIGINT)
        |        * oqv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(rsq AS DOUBLE) * osq) >= 0.35),
        |cross_reps AS (SELECT DISTINCT rep_id FROM hits WHERE o_stored),
        |new_reps AS (SELECT DISTINCT greatest(rep_id, o_id) AS rep_id
        |  FROM hits WHERE NOT o_stored),
        |flags AS (SELECT wm.vec_id,
        |    EXISTS (SELECT 1 FROM sb WHERE sb.dig = wm.dig) AS code_dup_stored,
        |    wm.vec_id <> wm.grp_min AS code_dup_new,
        |    (cr.rep_id IS NOT NULL) AS neardup_stored,
        |    (wm.vec_id <> wm.grp_min OR nr.rep_id IS NOT NULL) AS neardup_new
        |  FROM wm LEFT JOIN cross_reps cr ON wm.grp_min = cr.rep_id
        |          LEFT JOIN new_reps nr ON wm.grp_min = nr.rep_id)
        |SELECT n.vec_id, (n.qsq = 0) AS is_degenerate,
        |  coalesce(f.code_dup_stored, FALSE) AS code_dup_stored,
        |  coalesce(f.code_dup_new, FALSE) AS code_dup_new,
        |  coalesce(f.neardup_stored, FALSE) AS neardup_stored,
        |  coalesce(f.neardup_new, FALSE) AS neardup_new,
        |  (n.qsq > 0 AND NOT coalesce(f.code_dup_stored, FALSE)
        |    AND NOT coalesce(f.code_dup_new, FALSE)
        |    AND NOT coalesce(f.neardup_stored, FALSE)
        |    AND NOT coalesce(f.neardup_new, FALSE)) AS novel
        |FROM newv n LEFT JOIN flags f ON n.vec_id = f.vec_id
        |ORDER BY n.vec_id""".stripMargin,
    // the chained 3-day ingest loop in one SQL: the day-audit block
    // above repeated per day, each day's store = seed exemplars ∪
    // prior days' novel codes (the fold's append contract)
    "q_embedding_ingest_chain" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS seed,
        |        CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 2, 1) < '6' THEN 1
        |             WHEN substr(md5(CAST(vec_id AS VARCHAR)), 2, 1) < 'b' THEN 2
        |             ELSE 3 END AS day
        |      FROM q0),
        |sex AS (SELECT dig, min(vec_id) AS vec_id
        |        FROM b WHERE seed AND qsq > 0 GROUP BY dig),
        |store1 AS (SELECT b.vec_id, b.qv, b.qsq, b.dig FROM b
        |  JOIN sex ON b.dig = sex.dig AND b.vec_id = sex.vec_id),
        |newv1 AS (SELECT vec_id, qv, qsq, dig FROM b WHERE NOT seed AND day = 1),
        |base1 AS (SELECT * FROM newv1 WHERE qsq > 0),
        |gmin1 AS (SELECT dig, min(vec_id) AS grp_min FROM base1 GROUP BY dig),
        |wm1 AS (SELECT base1.*, grp_min FROM base1 JOIN gmin1 USING (dig)),
        |reps1 AS (SELECT vec_id, qv, qsq FROM wm1 WHERE vec_id = grp_min),
        |pr1 AS (SELECT r.vec_id AS rep_id, o.vec_id AS o_id, o.o_stored
        |  FROM reps1 r JOIN (
        |      SELECT vec_id, qv, qsq, TRUE AS o_stored FROM store1
        |      UNION ALL SELECT vec_id, qv, qsq, FALSE FROM reps1) o
        |    ON r.vec_id <> o.vec_id AND (o.o_stored OR r.vec_id < o.vec_id)
        |  WHERE CAST(list_sum(list_transform(range(1, len(r.qv) + 1),
        |      i -> CAST(r.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * o.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(r.qsq AS DOUBLE) * o.qsq) >= 0.35),
        |cr1 AS (SELECT DISTINCT rep_id FROM pr1 WHERE o_stored),
        |nr1 AS (SELECT DISTINCT o_id AS rep_id FROM pr1 WHERE NOT o_stored),
        |fl1 AS (SELECT wm1.vec_id,
        |    EXISTS (SELECT 1 FROM store1 s WHERE s.dig = wm1.dig) AS code_dup_stored,
        |    wm1.vec_id <> wm1.grp_min AS code_dup_new,
        |    (cr.rep_id IS NOT NULL) AS neardup_stored,
        |    (wm1.vec_id <> wm1.grp_min OR nr.rep_id IS NOT NULL) AS neardup_new
        |  FROM wm1 LEFT JOIN cr1 cr ON wm1.grp_min = cr.rep_id
        |          LEFT JOIN nr1 nr ON wm1.grp_min = nr.rep_id),
        |aud1 AS (SELECT n.vec_id, (n.qsq = 0) AS is_degenerate,
        |  coalesce(f.code_dup_stored, FALSE) AS code_dup_stored,
        |  coalesce(f.code_dup_new, FALSE) AS code_dup_new,
        |  coalesce(f.neardup_stored, FALSE) AS neardup_stored,
        |  coalesce(f.neardup_new, FALSE) AS neardup_new,
        |  (n.qsq > 0 AND NOT coalesce(f.code_dup_stored, FALSE)
        |    AND NOT coalesce(f.code_dup_new, FALSE)
        |    AND NOT coalesce(f.neardup_stored, FALSE)
        |    AND NOT coalesce(f.neardup_new, FALSE)) AS novel
        |  FROM newv1 n LEFT JOIN fl1 f ON n.vec_id = f.vec_id),
        |store2 AS (SELECT * FROM store1 UNION ALL
        |  SELECT n.vec_id, n.qv, n.qsq, n.dig FROM newv1 n
        |    JOIN aud1 a ON n.vec_id = a.vec_id WHERE a.novel),
        |newv2 AS (SELECT vec_id, qv, qsq, dig FROM b WHERE NOT seed AND day = 2),
        |base2 AS (SELECT * FROM newv2 WHERE qsq > 0),
        |gmin2 AS (SELECT dig, min(vec_id) AS grp_min FROM base2 GROUP BY dig),
        |wm2 AS (SELECT base2.*, grp_min FROM base2 JOIN gmin2 USING (dig)),
        |reps2 AS (SELECT vec_id, qv, qsq FROM wm2 WHERE vec_id = grp_min),
        |pr2 AS (SELECT r.vec_id AS rep_id, o.vec_id AS o_id, o.o_stored
        |  FROM reps2 r JOIN (
        |      SELECT vec_id, qv, qsq, TRUE AS o_stored FROM store2
        |      UNION ALL SELECT vec_id, qv, qsq, FALSE FROM reps2) o
        |    ON r.vec_id <> o.vec_id AND (o.o_stored OR r.vec_id < o.vec_id)
        |  WHERE CAST(list_sum(list_transform(range(1, len(r.qv) + 1),
        |      i -> CAST(r.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * o.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(r.qsq AS DOUBLE) * o.qsq) >= 0.35),
        |cr2 AS (SELECT DISTINCT rep_id FROM pr2 WHERE o_stored),
        |nr2 AS (SELECT DISTINCT o_id AS rep_id FROM pr2 WHERE NOT o_stored),
        |fl2 AS (SELECT wm2.vec_id,
        |    EXISTS (SELECT 1 FROM store2 s WHERE s.dig = wm2.dig) AS code_dup_stored,
        |    wm2.vec_id <> wm2.grp_min AS code_dup_new,
        |    (cr.rep_id IS NOT NULL) AS neardup_stored,
        |    (wm2.vec_id <> wm2.grp_min OR nr.rep_id IS NOT NULL) AS neardup_new
        |  FROM wm2 LEFT JOIN cr2 cr ON wm2.grp_min = cr.rep_id
        |          LEFT JOIN nr2 nr ON wm2.grp_min = nr.rep_id),
        |aud2 AS (SELECT n.vec_id, (n.qsq = 0) AS is_degenerate,
        |  coalesce(f.code_dup_stored, FALSE) AS code_dup_stored,
        |  coalesce(f.code_dup_new, FALSE) AS code_dup_new,
        |  coalesce(f.neardup_stored, FALSE) AS neardup_stored,
        |  coalesce(f.neardup_new, FALSE) AS neardup_new,
        |  (n.qsq > 0 AND NOT coalesce(f.code_dup_stored, FALSE)
        |    AND NOT coalesce(f.code_dup_new, FALSE)
        |    AND NOT coalesce(f.neardup_stored, FALSE)
        |    AND NOT coalesce(f.neardup_new, FALSE)) AS novel
        |  FROM newv2 n LEFT JOIN fl2 f ON n.vec_id = f.vec_id),
        |store3 AS (SELECT * FROM store2 UNION ALL
        |  SELECT n.vec_id, n.qv, n.qsq, n.dig FROM newv2 n
        |    JOIN aud2 a ON n.vec_id = a.vec_id WHERE a.novel),
        |newv3 AS (SELECT vec_id, qv, qsq, dig FROM b WHERE NOT seed AND day = 3),
        |base3 AS (SELECT * FROM newv3 WHERE qsq > 0),
        |gmin3 AS (SELECT dig, min(vec_id) AS grp_min FROM base3 GROUP BY dig),
        |wm3 AS (SELECT base3.*, grp_min FROM base3 JOIN gmin3 USING (dig)),
        |reps3 AS (SELECT vec_id, qv, qsq FROM wm3 WHERE vec_id = grp_min),
        |pr3 AS (SELECT r.vec_id AS rep_id, o.vec_id AS o_id, o.o_stored
        |  FROM reps3 r JOIN (
        |      SELECT vec_id, qv, qsq, TRUE AS o_stored FROM store3
        |      UNION ALL SELECT vec_id, qv, qsq, FALSE FROM reps3) o
        |    ON r.vec_id <> o.vec_id AND (o.o_stored OR r.vec_id < o.vec_id)
        |  WHERE CAST(list_sum(list_transform(range(1, len(r.qv) + 1),
        |      i -> CAST(r.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * o.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(r.qsq AS DOUBLE) * o.qsq) >= 0.35),
        |cr3 AS (SELECT DISTINCT rep_id FROM pr3 WHERE o_stored),
        |nr3 AS (SELECT DISTINCT o_id AS rep_id FROM pr3 WHERE NOT o_stored),
        |fl3 AS (SELECT wm3.vec_id,
        |    EXISTS (SELECT 1 FROM store3 s WHERE s.dig = wm3.dig) AS code_dup_stored,
        |    wm3.vec_id <> wm3.grp_min AS code_dup_new,
        |    (cr.rep_id IS NOT NULL) AS neardup_stored,
        |    (wm3.vec_id <> wm3.grp_min OR nr.rep_id IS NOT NULL) AS neardup_new
        |  FROM wm3 LEFT JOIN cr3 cr ON wm3.grp_min = cr.rep_id
        |          LEFT JOIN nr3 nr ON wm3.grp_min = nr.rep_id),
        |aud3 AS (SELECT n.vec_id, (n.qsq = 0) AS is_degenerate,
        |  coalesce(f.code_dup_stored, FALSE) AS code_dup_stored,
        |  coalesce(f.code_dup_new, FALSE) AS code_dup_new,
        |  coalesce(f.neardup_stored, FALSE) AS neardup_stored,
        |  coalesce(f.neardup_new, FALSE) AS neardup_new,
        |  (n.qsq > 0 AND NOT coalesce(f.code_dup_stored, FALSE)
        |    AND NOT coalesce(f.code_dup_new, FALSE)
        |    AND NOT coalesce(f.neardup_stored, FALSE)
        |    AND NOT coalesce(f.neardup_new, FALSE)) AS novel
        |  FROM newv3 n LEFT JOIN fl3 f ON n.vec_id = f.vec_id)
        |SELECT 1 AS day, * FROM aud1
        |UNION ALL SELECT 2 AS day, * FROM aud2
        |UNION ALL SELECT 3 AS day, * FROM aud3
        |ORDER BY day, vec_id""".stripMargin,
    // the embedding store-compaction audit: the quantization replay
    // over the corpus ∪ its ×2 and ×0.5 magnitude twins (exact
    // power-of-two scalings — byte-identical codes by construction on
    // BOTH engines), then one digest-group aggregate
    "q_embedding_store_compact" ->
      """WITH t0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |t AS (
        |  SELECT vec_id, emb FROM t0
        |  UNION ALL SELECT vec_id + 1000000, list_transform(emb, v -> v * 2) FROM t0
        |  UNION ALL SELECT vec_id + 2000000, list_transform(emb, v -> v * 0.5) FROM t0),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |g AS (SELECT dig, COUNT(*) AS n FROM b WHERE qsq > 0 GROUP BY dig)
        |SELECT 'embedding' AS modality,
        |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS rows_before,
        |  CAST(COUNT(*) AS BIGINT) AS exemplars,
        |  CAST(COALESCE(SUM(n) - COUNT(*), 0) AS BIGINT) AS dropped,
        |  CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_group
        |FROM g""".stripMargin,
    // nList=1 semantic dedup IS brute force: drop rule = "has a lower-id
    // neighbor with cosine >= 0.35"; raw-cosine filter parity with the
    // engine is the same as q_embedding_neardup's
    "q_semantic_dedup_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |drp AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        |SELECT e.vec_id, CAST(0 AS INTEGER) AS cluster,
        |  (d.vec_id IS NOT NULL) AS is_dropped
        |FROM e LEFT JOIN drp d ON e.vec_id = d.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "q_union" ->
      """SELECT c_name AS name FROM customer
        |UNION
        |SELECT s_name AS name FROM supplier
        |ORDER BY name""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment AS market_segment FROM customer
        |ORDER BY market_segment""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey AS customer_key, c_name AS customer_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY customer_key""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey AS order_key, o_orderstatus AS order_status
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY order_key""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nation_key FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nation_key FROM supplier
        |ORDER BY nation_key""".stripMargin,
    // non-empty at every test SF, with heavy left-side multiplicity —
    // the match certifies EXCEPT's dedup-on-survivors semantics on
    // real rows (the prior pair matched on an empty result)
    "q_except" ->
      """SELECT o_custkey AS customer_key FROM orders
        |EXCEPT
        |SELECT c_custkey AS customer_key FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY customer_key""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o.o_orderkey AS order_key, o.o_custkey AS customer_key,
        |  o.o_totalprice AS total_price
        |FROM orders o
        |WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > (SELECT CAST(SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY order_key""".stripMargin,
    "q_lateral_topn" ->
      """SELECT n.n_name AS nation_name, t.customer_name, t.balance
        |FROM nation n,
        |LATERAL (
        |  SELECT c_name AS customer_name, c_acctbal AS balance
        |  FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY nation_name, balance DESC, customer_name""".stripMargin,
    "q_date_functions" ->
      """SELECT o_orderkey AS order_key,
        |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
        |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
        |  CAST(day(o_orderdate) AS INTEGER) AS order_day,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
        |  CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
        |    AS days_since_1992
        |FROM orders ORDER BY order_key""".stripMargin,
    "q_typed_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_top_tokens" ->
      """SELECT token, COUNT(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20""".stripMargin,
    "q_collect_list" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // sliding 1h/30min: each event belongs to exactly 2 epoch-aligned
    // windows — time_bucket(30min) and the one 30 minutes earlier
    "q_sliding_windows" ->
      """WITH m AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL '30 minutes', ts),
        |            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
        |      AS window_start
        |  FROM events)
        |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // 10 unrolled power-iteration rounds over the transition graph.
    // PageRank is deterministic double arithmetic on a fixed iteration
    // count; every constant is CAST AS DOUBLE so DuckDB's decimal
    // literals don't diverge from Scala's double literals ((1.0-0.85) is
    // 0.15000000000000002 in IEEE doubles but exactly 0.15 in decimal).
    // Residual engine noise is summation order (~1e-15); round(,6)
    // absorbs it, as in the TF-IDF/bigram-LM oracles.
    "q_pagerank" -> {
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each round references the previous one twice (contrib join +
      // dangling sum) → exponential plan blowup without it.
      val rounds = (1 to 10).map { k =>
        s"""d$k AS MATERIALIZED (SELECT COALESCE(SUM(rank), CAST(0 AS DOUBLE)) AS d
           |  FROM r${k - 1} WHERE node NOT IN (SELECT src FROM t)),
           |c$k AS MATERIALIZED (SELECT t.dst AS node, SUM(t.p * r.rank) AS c
           |  FROM t JOIN r${k - 1} r ON r.node = t.src GROUP BY t.dst),
           |r$k AS MATERIALIZED (
           |  SELECT n.node,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           |      + CAST(0.85 AS DOUBLE) * (COALESCE(c.c, CAST(0 AS DOUBLE))
           |        + (SELECT d FROM d$k) / (SELECT n FROM nn)) AS rank
           |  FROM nodes n LEFT JOIN c$k c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH p0 AS (
         |  SELECT event_type AS src,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM events),
         |e AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS weight
         |      FROM p0 WHERE dst IS NOT NULL GROUP BY 1, 2),
         |ow AS (SELECT src, SUM(weight) AS w_out FROM e GROUP BY 1),
         |t AS MATERIALIZED (SELECT e.src, e.dst, e.weight / ow.w_out AS p
         |      FROM e JOIN ow USING (src)),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
         |      FROM nodes),
         |$rounds
         |SELECT node AS event_type, round(rank, 6) AS rank FROM r10
         |ORDER BY event_type""".stripMargin
    },
    "q_event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n_transitions
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT from_type, to_type, n_transitions,
        |  round(CAST(n_transitions AS DOUBLE) / n_from, 6) AS p
        |FROM c JOIN d USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_token_map" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |d AS (SELECT doc_id, l, list_distinct(l) AS dl FROM t),
        |c AS (SELECT doc_id, dl,
        |    list_transform(dl, x -> len(list_filter(l, y -> y = x))) AS cnts FROM d),
        |z AS (SELECT doc_id, CAST(len(dl) AS INTEGER) AS n_distinct,
        |    list_sort(list_filter(list_zip(dl, cnts), p -> p[2] >= 2)) AS rep FROM c)
        |SELECT doc_id, n_distinct, CAST(len(rep) AS INTEGER) AS n_repeated,
        |  COALESCE(array_to_string(list_transform(rep,
        |    p -> p[1] || ':' || CAST(p[2] AS VARCHAR) || ':'
        |      || CAST(len(p[1]) * p[2] AS VARCHAR)), ','), '') AS repeated_digest
        |FROM z ORDER BY doc_id""".stripMargin,
    // exact regime: cents domain < k=65536 distinct, so the sketch holds
    // every distinct value with exact counts and the ceil-rank quantile
    // equals DuckDB's quantile_disc definition
    "q_quantile_sketch" ->
      """WITH e AS (
        |  SELECT date_trunc('week', CAST(ts AS DATE)) AS week_start,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL)
        |SELECT strftime(week_start, '%Y-%m-%d') AS week_start,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(count(*) AS BIGINT) AS n_sketch_total,
        |  quantile_disc(cents, 0.5) AS p50_cents,
        |  quantile_disc(cents, 0.9) AS p90_cents,
        |  quantile_disc(cents, 0.99) AS p99_cents
        |FROM e GROUP BY week_start ORDER BY week_start""".stripMargin,
    "q_daily_features" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT *, date_diff('day', DATE '2024-01-01', day) AS day_num FROM d)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
        |  CAST(SUM(n_events) OVER w7 AS BIGINT) AS n_7day,
        |  COUNT(*) OVER w7 AS days_in_window,
        |  lag(n_events, 1) OVER wo AS lag_1,
        |  lag(n_events, 7) OVER wo AS lag_7,
        |  n_events - lag(n_events, 1) OVER wo AS delta_1
        |FROM n
        |WINDOW
        |  w7 AS (PARTITION BY event_type ORDER BY day_num
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
        |  wo AS (PARTITION BY event_type ORDER BY day_num)
        |ORDER BY event_type, day""".stripMargin,
    "q_session_paths" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM lagged),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q_sessionize" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM lagged),
        |sess AS (
        |  SELECT *, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey AS key, o_orderdate AS t, max(o_orderkey) AS order_key
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
        |  r.order_key AS last_order_key
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.key AND e.ts >= r.t
        |ORDER BY e.event_id""".stripMargin,
    "q_range_join" ->
      """SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_micros
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        |  AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY event_a, event_b""".stripMargin,
    "q_hourly_spikes" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n_events
        |  FROM events GROUP BY event_type, hr),
        |stats AS (
        |  SELECT event_type, AVG(n_events) AS m, stddev_samp(n_events) AS sd
        |  FROM hourly GROUP BY event_type)
        |SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  n_events, round((n_events - m) / sd, 4) AS z
        |FROM hourly JOIN stats USING (event_type)
        |WHERE abs(round((n_events - m) / sd, 4)) >= 2.0
        |ORDER BY event_type, window_start""".stripMargin,
    "q_skew_histogram" ->
      """SELECT group_size, COUNT(*) AS n_keys FROM (
        |  SELECT l_orderkey, COUNT(*) AS group_size FROM lineitem GROUP BY l_orderkey)
        |GROUP BY group_size ORDER BY group_size""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM s1
        |UNION ALL
        |SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', COUNT(*) FROM s3
        |ORDER BY stage_idx""".stripMargin,
    "q_cohort_retention" ->
      """WITH fs AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |cs AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM fs GROUP BY cohort_day),
        |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_day FROM events),
        |r AS (
        |  SELECT cohort_day, CAST(datediff('day', cohort_day, event_day) AS INTEGER)
        |      AS offset_days,
        |    COUNT(*) AS n_active
        |  FROM ud JOIN fs USING (user_id)
        |  WHERE datediff('day', cohort_day, event_day) <= 7
        |  GROUP BY cohort_day, offset_days)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, offset_days, n_active,
        |  cohort_size, round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
        |FROM r JOIN cs USING (cohort_day)
        |ORDER BY cohort_day, offset_days""".stripMargin,
    "q_scd2_merge" ->
      """WITH current AS (
        |  SELECT c_custkey AS customer_key, c_mktsegment AS segment,
        |    c_nationkey AS nation_key,
        |    '1992-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |  FROM customer),
        |updates AS (
        |  SELECT c_custkey AS customer_key, 'PROMO' AS segment, c_nationkey AS nation_key
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEW', CAST(0 AS INTEGER)
        |  FROM customer WHERE c_custkey % 97 = 0),
        |matched_changed AS (
        |  SELECT c.customer_key, c.segment AS old_segment, c.nation_key AS old_nation,
        |    c.valid_from, u.segment AS new_segment, u.nation_key AS new_nation
        |  FROM current c JOIN updates u USING (customer_key)
        |  WHERE c.segment IS DISTINCT FROM u.segment
        |     OR c.nation_key IS DISTINCT FROM u.nation_key)
        |SELECT customer_key, old_segment AS segment, old_nation AS nation_key,
        |  valid_from, '1998-01-01' AS valid_to
        |FROM matched_changed
        |UNION ALL
        |SELECT customer_key, new_segment, new_nation, '1998-01-01', NULL
        |FROM matched_changed
        |UNION ALL
        |SELECT customer_key, segment, nation_key, valid_from, valid_to FROM current
        |WHERE customer_key NOT IN (SELECT customer_key FROM matched_changed)
        |UNION ALL
        |SELECT customer_key, segment, nation_key, '1998-01-01', NULL FROM updates
        |WHERE customer_key NOT IN (SELECT customer_key FROM current)
        |ORDER BY customer_key, valid_from""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  round(AVG(n_chars), 2) AS avg_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH scored AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|or|and|of)\b')) AS INTEGER) AS score_en,
        |    CAST(len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS INTEGER) AS score_es,
        |    CAST(len(regexp_extract_all(text, '\b(le|la|de|et|les)\b')) AS INTEGER) AS score_fr,
        |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS INTEGER) AS score_de,
        |    CAST(len(regexp_extract_all(text, '\b(de|shi|le|wo|ni)\b')) AS INTEGER) AS score_zh
        |  FROM documents)
        |SELECT doc_id, labeled_lang, score_en, score_es, score_fr, score_de, score_zh,
        |  CASE
        |    WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_fr
        |      AND score_en >= score_de AND score_en >= score_zh THEN 'en'
        |    WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_fr
        |      AND score_es >= score_de AND score_es >= score_zh THEN 'es'
        |    WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_es
        |      AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
        |    WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_es
        |      AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |    WHEN score_zh > 0 AND score_zh >= score_en AND score_zh >= score_es
        |      AND score_zh >= score_fr AND score_zh >= score_de THEN 'zh'
        |    ELSE 'und' END AS predicted_lang
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / n_chars, 4) AS punct_ratio,
        |  round(CAST(len(regexp_extract_all(text, '\b(the|a|or|and|of)\b')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint_md5" ->
      """SELECT doc_id, md5(text) AS fingerprint FROM documents ORDER BY doc_id""",
    // Same Rabin-Karp fold as TextOps.rollingHash; list_filter drops the
    // [''] DuckDB returns for empty text (unicode('') = -1 there, while
    // Spark's ascii('') = 0 — filtered, both engines yield the init 0).
    "q_rolling_hash" ->
      """SELECT doc_id,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(list_filter(string_split(text, ''), c -> c <> ''),
        |      c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies, min(n_chars) AS n_chars
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_repetition_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(l) AS INTEGER) AS n_tokens,
        |    CASE WHEN len(l) >= 3
        |      THEN list_transform(range(1, len(l) - 1), i -> array_to_string(l[i:i+2], ' '))
        |      ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(len(grams) AS INTEGER) AS n_ngrams,
        |  CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |    THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
        |  END AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |      || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |      || ' tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |r1 AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS after_email
        |  FROM aug),
        |r2 AS (
        |  SELECT doc_id, text, after_email,
        |    regexp_replace(after_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |      '<IP>', 'g') AS after_ip
        |  FROM r1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(after_email,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(after_ip,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phones,
        |  regexp_replace(after_ip, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean_text
        |FROM r2 ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token)
        |      AS INTEGER) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, token, tfidf FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    // Okapi BM25 over the same whitespace tokens as q_tfidf: top-3
    // docs per top-10 df term; k1 = 1.2, b = 0.75, Lucene smooth idf
    "q_bm25" -> BM25_SQL,
    // the persisted lexical index serves the IDENTICAL ranking: store
    // build ≡ raw corpus row for row, so q_bm25's oracle certifies it
    "q_bm25_store" -> BM25_SQL,
    // block-max pruning is LOSSLESS — the pruned probe's result is the
    // exhaustive ranker's row for row, under the very same oracle
    "q_bm25_store_pruned" -> BM25_SQL,
    // and init + day-append ≡ the union build (df/n_docs/total_len are
    // additive over an append-only corpus; tf/dl are per-doc facts) —
    // the same oracle again, now certifying the merge law
    "q_bm25_store_inc" -> BM25_SQL,
    // delete ≡ build over survivors: the SAME oracle over the
    // survivor-filtered corpus (term selection, df, dl, stats — all
    // recomputed over the survivors, which is the union-minus claim)
    "q_bm25_store_del" -> BM25_DEL_SQL,
    // stream + tombstone + compact ≡ the survivor build — the batch
    // delete's exact oracle certifies the streamed deletion law too
    "q_bm25_store_stream_del" -> BM25_DEL_SQL,
    // the lexical incremental fold obeys the SAME survivor law
    "q_bm25_store_incfold" -> BM25_DEL_SQL,
    // the lexical atomic append obeys the union-build law
    "q_bm25_store_inc_append" -> BM25_SQL,
    // lexical manifest fsck: both totals equal the survivors' distinct
    // (doc, token) pair count, TRUE-iff-held
    "q_bm25_store_inc_fsck" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 5 <> 2),
        |pairs AS (SELECT doc_id, token FROM tok GROUP BY doc_id, token)
        |SELECT CAST(COUNT(*) AS BIGINT) AS manifest_rows,
        |  CAST(COUNT(*) AS BIGINT) AS file_rows, TRUE AS rows_ok
        |FROM pairs""".stripMargin,
    // streamed days ≡ union build (day facts are pure per-batch;
    // the view merges df/stats by addition) — and compact ≡ the same
    // (fold invariance): one oracle certifies the whole trajectory
    "q_bm25_store_stream" -> BM25_SQL,
    "q_bm25_store_compact" -> BM25_SQL,
    // lexical sidecar fsck: postings-derived totals vs the sidecars,
    // booleans TRUE-iff-held, real counts pinned by the hash
    "q_bm25_store_fsck" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |agg AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS pairs FROM tf),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS total_len FROM dl)
        |SELECT agg.n_tokens, agg.pairs AS df_rows_total,
        |  agg.pairs AS df_side_total, TRUE AS df_ok,
        |  st.n_docs AS n_docs_rows, st.n_docs AS n_docs_side,
        |  st.total_len AS total_len_rows, st.total_len AS total_len_side,
        |  TRUE AS n_docs_ok, TRUE AS total_len_ok
        |FROM agg CROSS JOIN st""".stripMargin,
    // hybrid RRF: doc-as-query BM25 (integer-micro contributions) +
    // the exact int8 cosine arm, fused by 1/(60+rank) per arm, ranks
    // only; the lexical/quant prefix and the fusion tail are shared
    // with the store-served variant below
    "q_hybrid_rrf" -> HYBRID_RRF_SQL,
    // the store-served hybrid: the semantic arm is the IVF-pruned
    // probe (top-4 seed lists per query, exact int8 ranking of the
    // pruned candidates) instead of the brute scan
    "q_hybrid_rrf_store" -> HYBRID_RRF_STORE_SQL,
    // the filtered store hybrid: the same fusion with the keep
    // predicate in-filtered into both arms before their rankings
    "q_hybrid_rrf_store_filtered" -> HYBRID_RRF_STORE_FILTERED_SQL,
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (
        |  SELECT token FROM (SELECT token, COUNT(*) AS n_occ FROM tok GROUP BY token)
        |  ORDER BY n_occ DESC, token LIMIT 50)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_in_vocab,
        |  round(1.0 - CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS oov_rate
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ngram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w FROM t),
        |bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
        |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(SUM(ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v))) / COUNT(*), 6) AS avg_logprob
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_token_entropy" ->
      """WITH cnt AS (
        |  SELECT doc_id, token, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY doc_id, token)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  round(ln(CAST(SUM(c) AS DOUBLE)) -
        |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE),
        |    6) AS entropy
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_synthetic_url" ->
      """SELECT doc_id, lang,
        |  'https://' || ['news.example.com', 'blog.example.org', 'wiki.example.net',
        |    'forum.example.io', 'docs.example.dev'][CAST(doc_id % 5 AS INTEGER) + 1]
        |  || '/' || lang || '/page-' || CAST(doc_id AS VARCHAR) AS url
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    'https://' || ['news.example.com', 'blog.example.org', 'wiki.example.net',
        |      'forum.example.io', 'docs.example.dev'][CAST(doc_id % 5 AS INTEGER) + 1]
        |    || '/' || lang || '/page-' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents)
        |SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(doc_id) AS first_doc
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    // WebOps.canonicalizeUrl twin: the messy-URL fixture is doc_id
    // arithmetic, and every canonicalization step (fragment strip,
    // scheme/host lowercase, default-port strip, trailing-slash trim,
    // tracking-param drop + param sort) is in the regex subset shared
    // by Java regex (Spark) and RE2 (DuckDB).
    "q_url_canon" ->
      """WITH msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |r AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM q)
        |SELECT doc_id, url,
        |  scheme || '://' || host ||
        |  (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |  (CASE WHEN len(params) > 0
        |    THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_url_dedup" ->
      """WITH msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |r AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM q),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM r)
        |SELECT canonical_url, CAST(COUNT(*) AS INTEGER) AS n_docs,
        |  min(doc_id) AS keep_doc
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    // end-to-end funnel: each stage CTE is the proven fragment of its
    // standalone oracle, chained; counts verify the COMPOSITION
    "q_curation_funnel" ->
      """WITH RECURSIVE
        |msgurl AS (
        |  SELECT doc_id, text,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev']
        |      [CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END) % 5
        |        AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END)
        |      AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |cq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |cr AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM cq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM cr),
        |tok AS (
        |  SELECT d.doc_id,
        |    CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(d.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998) ) AS sum_milli
        |  FROM documents d),
        |tokq AS (
        |  SELECT doc_id, n_tokens, sum_milli,
        |    CASE WHEN n_tokens > 0
        |      THEN round(CAST(sum_milli AS DOUBLE) / (n_tokens * 998.0), 6) END
        |      AS quality_score
        |  FROM tok),
        |s1 AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
        |s2 AS (SELECT min(d.doc_id) AS doc_id FROM documents d JOIN s1 USING (doc_id)
        |       GROUP BY d.text),
        |toks2 AS (SELECT d.doc_id, string_split(d.text, ' ') AS l
        |          FROM documents d JOIN s2 USING (doc_id)),
        |sh2 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks2 WHERE len(l) >= 5),
        |kept2 AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh2)
        |  WHERE df <= 1000),
        |sizes2 AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
        |inter2 AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept2 a JOIN kept2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac2 AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter2 JOIN sizes2 sa ON doc_a = sa.doc_id
        |  JOIN sizes2 sb ON doc_b = sb.doc_id),
        |pairs2 AS (SELECT doc_a AS src, doc_b AS dst FROM jac2 WHERE jaccard >= 0.5),
        |edges2 AS (SELECT src, dst FROM pairs2 UNION ALL SELECT dst, src FROM pairs2),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM s2
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges2 e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |s3 AS (SELECT doc_id FROM lab WHERE cluster_id = doc_id),
        |qm AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |qmx AS (SELECT vec_id, emb,
        |  list_max(list_transform(emb, v -> abs(v))) AS mx FROM qm),
        |qsc AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |  WHEN mx > 0 THEN mx / 127.0 END AS scale FROM qmx),
        |qcv AS (SELECT vec_id, list_transform(emb,
        |  v -> CASE WHEN scale IS NULL THEN 0
        |    ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv FROM qsc),
        |qcd AS (SELECT vec_id, qv,
        |  list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq FROM qcv),
        |s3v AS (SELECT s3.doc_id, qcd.qv, qcd.qsq
        |  FROM s3 JOIN qcd ON s3.doc_id = qcd.vec_id WHERE qcd.qsq > 0),
        |semdrop AS (
        |  SELECT DISTINCT b.doc_id FROM s3v a JOIN s3v b ON a.doc_id < b.doc_id
        |  WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |      i -> CAST(a.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * b.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |    / sqrt(CAST(a.qsq AS DOUBLE) * b.qsq) >= 0.35),
        |s3s AS (SELECT doc_id FROM s3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)),
        |s4 AS (
        |  SELECT s3s.doc_id FROM s3s JOIN tokq USING (doc_id)
        |  WHERE n_tokens > 0 AND sum_milli >= 0),
        |sp AS (SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train' ELSE 'eval' END AS split
        |  FROM documents),
        |s4t AS (SELECT s4.doc_id FROM s4 JOIN sp USING (doc_id) WHERE split = 'train'),
        |tokse AS (SELECT d.doc_id, string_split(d.text, ' ') AS l, sp.split
        |          FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
        |she AS (
        |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM tokse WHERE len(l) >= 5),
        |contaminated AS (
        |  SELECT DISTINCT t.doc_id
        |  FROM (SELECT s.doc_id, s.shingle FROM she s JOIN s4t USING (doc_id)) t
        |  JOIN (SELECT doc_id AS eval_doc, shingle FROM she WHERE split = 'eval') e
        |    ON t.shingle = e.shingle
        |  GROUP BY t.doc_id, e.eval_doc
        |  HAVING COUNT(*) >= 3),
        |s5 AS (SELECT doc_id FROM s4t WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |s6 AS (
        |  SELECT doc_id FROM (
        |    SELECT s5.doc_id,
        |      SUM(q.n_tokens) OVER (ORDER BY q.quality_score DESC, s5.doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM s5 JOIN tokq q USING (doc_id))
        |  WHERE cum <= 2000),
        |stg AS (
        |  SELECT 0 AS stage, 'input' AS stage_name, d.doc_id FROM documents d
        |  UNION ALL SELECT 1, 'url_dedup', doc_id FROM s1
        |  UNION ALL SELECT 2, 'exact_dedup', doc_id FROM s2
        |  UNION ALL SELECT 3, 'near_dup', doc_id FROM s3
        |  UNION ALL SELECT 4, 'semantic_dedup', doc_id FROM s3s
        |  UNION ALL SELECT 5, 'quality', doc_id FROM s4
        |  UNION ALL SELECT 6, 'decontaminate_train', doc_id FROM s5
        |  UNION ALL SELECT 7, 'token_budget', doc_id FROM s6)
        |SELECT stage, stage_name, COUNT(*) AS n_docs,
        |  CAST(COALESCE(SUM(t.n_tokens), 0) AS BIGINT) AS n_tokens
        |FROM stg JOIN tokq t USING (doc_id)
        |GROUP BY stage, stage_name ORDER BY stage""".stripMargin,
    "q_pmi_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')[1:40]) AS t FROM documents),
        |tokc AS (SELECT token, COUNT(*) AS c_tok
        |         FROM (SELECT unnest(t) AS token FROM d) GROUP BY token),
        |p1 AS (SELECT tok_a, unnest(t) AS tok_b
        |       FROM (SELECT unnest(t) AS tok_a, t FROM d)),
        |pairs AS (SELECT tok_a, tok_b, COUNT(*) AS c_pair FROM p1
        |          WHERE tok_a < tok_b GROUP BY tok_a, tok_b HAVING COUNT(*) >= 5)
        |SELECT p.tok_a, p.tok_b, CAST(p.c_pair AS BIGINT) AS c_pair,
        |  round(ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) * p.c_pair /
        |    (CAST(a.c_tok AS DOUBLE) * b.c_tok)), 6) AS pmi
        |FROM pairs p
        |JOIN tokc a ON a.token = p.tok_a
        |JOIN tokc b ON b.token = p.tok_b
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""".stripMargin,
    // hashing-trick classifier scoring: bucket/weight arithmetic is all
    // portable integers (md5 60-bit hash, milli-weights, exact BIGINT
    // sum); the single float step is the final division, rounded
    "q_classifier_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    list_sum(list_transform(toks, x ->
        |      (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998)) AS sum_milli
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  round(CAST(sum_milli AS DOUBLE) / (n_tokens * 998.0), 6) AS quality_score,
        |  CAST(sum_milli >= 0 AS INTEGER) AS kept
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_quality_retention" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    list_sum(list_transform(toks, x ->
        |      (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998)) AS sum_milli
        |  FROM t WHERE len(toks) > 0),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    round(CAST(sum_milli AS DOUBLE) / (n_tokens * 998.0), 6) AS quality_score
        |  FROM s),
        |b AS (
        |  SELECT CAST(floor(quality_score * 10) AS INTEGER) AS cutoff10,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_toks
        |  FROM q GROUP BY 1),
        |c AS (
        |  SELECT cutoff10,
        |    SUM(n_docs) OVER (ORDER BY cutoff10 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS docs_retained,
        |    SUM(n_toks) OVER (ORDER BY cutoff10 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tokens_retained,
        |    SUM(n_docs) OVER () AS total_docs,
        |    SUM(n_toks) OVER () AS total_toks
        |  FROM b)
        |SELECT cutoff10, CAST(docs_retained AS BIGINT) AS docs_retained,
        |  CAST(tokens_retained AS BIGINT) AS tokens_retained,
        |  round(CAST(docs_retained AS DOUBLE) / total_docs, 6) AS doc_fraction,
        |  round(CAST(tokens_retained AS DOUBLE) / total_toks, 6) AS token_fraction
        |FROM c ORDER BY cutoff10""".stripMargin,
    // Spark computes the same signals with HOFs over split();
    // thresholds are inlined identically on both sides
    "q_gopher_rules" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    string_split(text, ' ') AS words,
        |    string_split(text, chr(10)) AS lines,
        |    CAST(len(regexp_extract_all(text, '[#…]')) AS DOUBLE) AS n_sym,
        |    CAST(len(regexp_extract_all(text,
        |      '\b(the|be|to|of|and|that|have|with)\b')) AS INTEGER) AS stop_hits
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS INTEGER) AS n_words,
        |    CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
        |      / len(words) AS mean_word_len,
        |    n_sym / len(words) AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'
        |      OR l LIKE '•%')) AS DOUBLE) / len(lines) AS bullet_line_ratio,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
        |      AS DOUBLE) / len(lines) AS ellipsis_line_ratio,
        |    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS DOUBLE) / len(words) AS alpha_word_ratio,
        |    stop_hits AS n_stopword_hits
        |  FROM s)
        |SELECT doc_id, n_words, round(mean_word_len, 4) AS mean_word_len,
        |  round(symbol_ratio, 4) AS symbol_ratio,
        |  round(bullet_line_ratio, 4) AS bullet_line_ratio,
        |  round(ellipsis_line_ratio, 4) AS ellipsis_line_ratio,
        |  round(alpha_word_ratio, 4) AS alpha_word_ratio,
        |  n_stopword_hits,
        |  (n_words BETWEEN 40 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
        |    AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
        |    AND n_stopword_hits >= 2) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    // same fixture + regexp chain on both engines; Java regex and RE2
    // agree on the non-greedy block matches
    "q_strip_markup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Document ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><script type="text/javascript">var tracker = 1;</script>' ||
        |    '<style>.p { margin: 0; }</style></head><body><p class="main"><b>' ||
        |    text ||
        |    '</b></p><div><a href="/next">next page</a></div></body></html>' AS html
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>', ' ', 'g'),
        |      '<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      ' +', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, clean AS clean_text,
        |  CAST(len(clean) AS INTEGER) AS n_chars_clean,
        |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS INTEGER) AS n_tags
        |FROM s ORDER BY doc_id""".stripMargin,
    // identical fixture rebuilt from chr() codepoints; DuckDB's
    // nfc_normalize is the same Unicode NFC the JDK Normalizer
    // implements, and the \x{...} regex escapes parse identically in
    // Java regex and RE2 (see normalizeText for the \s caveat: VT is
    // stripped by the control class before either engine's \s differs)
    "q_normalize_text" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN ' re' || chr(769) || 'sume' || chr(769) ||
        |        ' from cafe' || chr(769) || ' ' || chr(8491)
        |      WHEN 1 THEN ' data' || chr(8203) || 'set' || chr(8204) ||
        |        ' final' || chr(65279) || chr(7) || ' list' || chr(160) || 'item'
        |      ELSE '' END AS raw
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |      '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]',
        |      '', 'g'),
        |      '[\s\x{00A0}]+', ' ', 'g')) AS text_norm
        |  FROM raw)
        |SELECT doc_id, text_norm,
        |  CAST(length(raw) AS INTEGER) AS n_chars_raw,
        |  CAST(length(text_norm) AS INTEGER) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    // Misra-Gries exact regime (31 distinct tokens << capacity 64), so
    // the sketch result IS the plain token-count aggregation
    "q_heavy_hitters" ->
      """SELECT token, COUNT(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token""".stripMargin,
    "q_stratified_sample" ->
      """WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
        |m AS (SELECT MIN(n_total) AS min_total FROM counts),
        |cut AS (SELECT lang, n_total, min_total * 256 // n_total AS cutoff_bucket
        |        FROM counts CROSS JOIN m)
        |SELECT d.lang, MAX(c.n_total) AS n_total, MAX(c.cutoff_bucket) AS cutoff_bucket,
        |  CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(d.text), 1, 2)) AS INTEGER)
        |    < c.cutoff_bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN cut c USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_centroid_outliers" ->
      """WITH ex AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cen AS (SELECT label, dim, AVG(v) AS c FROM ex GROUP BY label, dim),
        |s AS (
        |  SELECT vec_id, label, SUM(v * c) AS dot, SUM(v * v) AS na, SUM(c * c) AS nc
        |  FROM ex JOIN cen USING (label, dim)
        |  GROUP BY vec_id, label)
        |SELECT vec_id, label,
        |  round(dot / (sqrt(na) * sqrt(nc)), 5) AS centroid_sim,
        |  round(dot / (sqrt(na) * sqrt(nc)), 5) < 0.2 AS is_outlier
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_decontaminate" ->
      """WITH ds AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train' ELSE 'eval' END AS split
        |  FROM documents),
        |toks AS (SELECT doc_id, split, string_split(text, ' ') AS l FROM ds),
        |sh AS (
        |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5)
        |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS n_shared
        |FROM sh t JOIN sh e ON t.shingle = e.shingle
        |WHERE t.split = 'train' AND e.split = 'eval'
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY train_doc, eval_doc""".stripMargin,
    // transitive closure of the exact near-dup pairs via recursive CTE:
    // label = min doc_id reachable (same fixpoint the iterative Spark
    // min-label propagation converges to)
    "q_fuzzy_match" ->
      """WITH n AS (SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1),
        |a AS (SELECT name AS name_a, n_rows AS n_rows_a, substr(name,1,1) AS blk FROM n),
        |b AS (SELECT name AS name_b, n_rows AS n_rows_b, substr(name,1,1) AS blk FROM n)
        |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
        |  n_rows_a, n_rows_b
        |FROM a JOIN b USING (blk)
        |WHERE name_a < name_b AND abs(len(name_a) - len(name_b)) <= 2
        |  AND levenshtein(name_a, name_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "q_dq_checks" ->
      """SELECT check_name, n_rows, n_violations, (n_violations = 0) AS pass FROM (
        |  SELECT 'orders_pk_unique' AS check_name, count(*) AS n_rows,
        |    count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
        |  UNION ALL SELECT 'orders_custkey_positive', count(*),
        |    CAST(SUM(CASE WHEN o_custkey <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orders_status_enum', count(*),
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orders_price_positive', count(*),
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'lineitem_qty_range', count(*),
        |    CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'lineitem_discount_range', count(*),
        |    CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'lineitem_fk_orders', count(*),
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |      ON l.l_orderkey = o.o_orderkey
        |  UNION ALL SELECT 'orders_fk_customer', count(*),
        |    CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |      ON o.o_custkey = c.c_custkey
        |) ORDER BY check_name""".stripMargin,
    "q_snapshot_diff" ->
      """WITH oldt AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg, c_nationkey AS nk FROM customer),
        |newt AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN 'PROMO' ELSE seg END AS seg, nk
        |  FROM oldt WHERE k % 13 <> 0
        |  UNION ALL
        |  SELECT k + 1000000, 'NEW', 0 FROM oldt WHERE k % 97 = 0),
        |j AS (
        |  SELECT o.k AS ok, n.k AS nk2, o.seg AS oseg, o.nk AS onk,
        |    n.seg AS nseg, n.nk AS nnk
        |  FROM oldt o FULL OUTER JOIN newt n ON o.k = n.k)
        |SELECT CASE WHEN ok IS NULL THEN 'insert' WHEN nk2 IS NULL THEN 'delete'
        |    WHEN oseg IS NOT DISTINCT FROM nseg AND onk IS NOT DISTINCT FROM nnk
        |    THEN 'unchanged' ELSE 'update' END AS change_type,
        |  count(*) AS n_keys, CAST(SUM(COALESCE(ok, nk2)) AS BIGINT) AS sum_keys
        |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin,
    "q_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |c0 AS (
        |  SELECT doc_id, unnest(list_transform(range(0, (len(l) + 4) // 5),
        |    i -> {'pos': i, 'chunk': array_to_string(l[i*5+1:i*5+5], ' ')})) AS u
        |  FROM t),
        |c AS (SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM c0),
        |boiler AS (SELECT chunk FROM c GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2),
        |flagged AS (SELECT c.doc_id, c.pos, c.chunk, (b.chunk IS NOT NULL) AS is_boiler
        |            FROM c LEFT JOIN boiler b USING (chunk))
        |SELECT doc_id,
        |  CAST(COUNT(*) AS INTEGER) AS n_chunks,
        |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS INTEGER) AS n_boiler,
        |  md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' ' ORDER BY pos),
        |    '')) AS clean_hash
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all default
    "q_leakage_safe_split" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |      ' +', ' ', 'g') AS canon
        |  FROM documents),
        |g AS (SELECT canon, MIN(doc_id) AS group_rep, COUNT(*) AS n_variants
        |      FROM k GROUP BY canon)
        |SELECT k.doc_id,
        |  CASE WHEN substr(md5(k.canon), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(k.canon), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  g.group_rep, g.n_variants
        |FROM k JOIN g USING (canon) ORDER BY k.doc_id""".stripMargin,
    // the export's shard assignment is the closed form
    // floor(ord * numShards / N) over the doc_id order, and the writer
    // emits ceil(rows/maxRecordsPerFile) files per shard directory —
    // both reproducible in SQL, so the manifest hash-matches
    "q_shard_manifest" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS ord,
        |    COUNT(*) OVER () AS n
        |  FROM documents),
        |s AS (SELECT doc_id, CAST((ord * 8) // n AS INTEGER) AS shard FROM o)
        |SELECT shard, COUNT(*) AS n_rows,
        |  CAST(ceil(COUNT(*) / 200.0) AS BIGINT) AS n_files,
        |  MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,
    // the same cumsum admission PARTITIONED by source
    "q_token_budget_by_source" ->
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin,
    // per-train-doc contaminated-shingle fraction; same split/shingle
    // CTEs as q_decontaminate, LEFT JOIN against the distinct eval set
    "q_contamination_report" ->
      """WITH ds AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train' ELSE 'eval' END AS split
        |  FROM documents),
        |toks AS (SELECT doc_id, split, string_split(text, ' ') AS l FROM ds),
        |sh AS (
        |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE split = 'eval'),
        |j AS (
        |  SELECT t.doc_id AS train_doc, (e.shingle IS NOT NULL) AS hit
        |  FROM sh t LEFT JOIN ev e ON t.shingle = e.shingle
        |  WHERE t.split = 'train'),
        |a AS (
        |  SELECT train_doc, COUNT(*) AS n_shingles,
        |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |  FROM j GROUP BY train_doc)
        |SELECT train_doc, n_shingles, n_contaminated,
        |  round(n_contaminated / n_shingles, 6) AS contamination,
        |  (n_contaminated / n_shingles >= 0.2) AS flagged
        |FROM a ORDER BY train_doc""".stripMargin,
    "q_quality_quantile" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |      AS pr
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  round(pr, 6) AS quality_rank
        |FROM r WHERE pr <= 0.5 ORDER BY doc_id""".stripMargin,
    "q_negative_samples" ->
      """WITH ids AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1
        |    AS ord FROM documents),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |raw AS (
        |  SELECT doc_id, ord, n_docs, unnest(range(0, 3)) AS sample_idx
        |  FROM ids, n),
        |hx AS (
        |  SELECT doc_id, ord, n_docs, CAST(sample_idx AS INTEGER) AS sample_idx,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(sample_idx AS VARCHAR)), 1, 8)) AS BIGINT) % n_docs AS neg0
        |  FROM raw),
        |fixed AS (
        |  SELECT doc_id, sample_idx,
        |    CASE WHEN neg0 = ord THEN (neg0 + 1) % n_docs ELSE neg0 END AS neg_ord
        |  FROM hx)
        |SELECT f.doc_id, f.sample_idx, i.doc_id AS neg_doc_id
        |FROM fixed f JOIN ids i ON i.ord = f.neg_ord
        |ORDER BY f.doc_id, f.sample_idx""".stripMargin,
    "q_repeated_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |s AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(toks) - 4),
        |      i -> array_to_string(toks[i + 1:i + 5], ' '))) AS span
        |  FROM t)
        |SELECT span, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
        |FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_occurrences DESC, span LIMIT 50""".stripMargin,
    // identical pipeline over the portable md5-60bit gram hash (the
    // '0x'-prefix cast ≡ Spark's conv(substr(md5)) — the proven twin
    // form); NOT EXISTS spells the left-anti coverage join
    "q_remove_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(range(0, len(toks) - 4)) AS start, toks
        |  FROM t WHERE len(toks) >= 5),
        |g AS (
        |  SELECT doc_id, start,
        |    ('0x' || substr(md5(array_to_string(toks[start + 1:start + 5], ' ')
        |      || chr(1) || '0'), 1, 15))::BIGINT AS h
        |  FROM g0),
        |dup AS (
        |  SELECT h FROM (SELECT h, doc_id FROM g GROUP BY h, doc_id)
        |  GROUP BY h HAVING COUNT(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT g.doc_id, unnest(range(g.start, g.start + 5)) AS pos
        |    FROM g JOIN dup USING (h))),
        |tp AS (
        |  SELECT doc_id, unnest(range(0, len(toks))) AS pos,
        |    unnest(toks) AS tok FROM t),
        |kept AS (
        |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS kept_text,
        |    COUNT(*) AS n_kept
        |  FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = tp.doc_id AND cov.pos = tp.pos)
        |  GROUP BY tp.doc_id)
        |SELECT t.doc_id, COALESCE(kept.kept_text, '') AS text_clean,
        |  CAST(len(t.toks) AS INTEGER) AS n_tokens,
        |  CAST(len(t.toks) - COALESCE(kept.n_kept, 0) AS INTEGER) AS n_removed
        |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_context_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS start FROM t)
        |SELECT doc_id, CAST(start // 32 AS INTEGER) AS window_idx,
        |  CAST(start AS INTEGER) AS start,
        |  CAST(len(toks[start + 1:start + 64]) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[start + 1:start + 64], ' ') AS window_text
        |FROM s ORDER BY doc_id, window_idx""".stripMargin,
    // floor(v/scale + 0.5) spelled out on BOTH sides: engine round()
    // half-case conventions differ, floor does not
    "q_quantize_int8" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale
        |      FROM m),
        |q AS (SELECT vec_id, emb, scale,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s)
        |SELECT vec_id, CAST(len(emb) AS INTEGER) AS n_dims,
        |  round(scale, 9) AS scale,
        |  array_to_string(qv, ',') AS qvec_csv,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin,
    // vector junk gate: exact zero/non-finite counts; norm rounded past
    // float-fold noise (the same cross-engine float contract as the
    // cosine oracles); sequential fold ≡ list_sum over the same doubles
    "q_embedding_quality" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_sum(list_transform(v, x -> x * x)) AS sum_sq,
        |        len(list_filter(v, x -> isnan(x) OR abs(x) = 'infinity'::DOUBLE))
        |          AS nf
        |      FROM t)
        |SELECT vec_id, CAST(len(v) AS INTEGER) AS dim,
        |  CAST(len(list_filter(v, x -> x = 0)) AS INTEGER) AS n_zero,
        |  CAST(nf AS INTEGER) AS n_nonfinite,
        |  round(sqrt(sum_sq), 6) AS norm,
        |  sum_sq = 0 AS is_zero,
        |  sum_sq = 0 OR nf > 0 AS is_degenerate
        |FROM s ORDER BY vec_id""".stripMargin,
    // full recompute over ALL events — the incremental merge must hash-
    // equal it; decimal sums keep addition order-independent
    "q_incremental_rollup" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n_events,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value,
        |  round(MIN(value), 4) AS min_value,
        |  round(MAX(value), 4) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_curriculum" ->
      """SELECT decile, COUNT(*) AS n_docs,
        |  CAST(MIN(n_chars) AS INTEGER) AS min_chars,
        |  CAST(MAX(n_chars) AS INTEGER) AS max_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(doc_id) AS min_doc
        |FROM (SELECT doc_id, n_chars,
        |    CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS decile
        |  FROM documents)
        |GROUP BY decile ORDER BY decile""".stripMargin,
    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
        |m AS (SELECT MAX(n_total) AS n_max FROM c),
        |f AS (SELECT lang, n_total,
        |    CAST(ceil(sqrt(CAST(n_max AS DOUBLE) / CAST(n_total AS DOUBLE))) AS INTEGER)
        |      AS factor
        |  FROM c, m)
        |SELECT d.doc_id, d.lang, f.factor,
        |  CAST(unnest(range(1, f.factor + 1)) AS INTEGER) AS copy_idx
        |FROM documents d JOIN f USING (lang)
        |ORDER BY doc_id, copy_idx""".stripMargin,
    // q_cluster_rep: the q_dedup_clusters recursive-CTE pipeline plus the
    // keep-decision (rank members by n_chars DESC, doc_id; rn=1 is kept)
    "q_cluster_rep" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |kept AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id),
        |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |member AS (
        |  SELECT l.doc_id, l.cluster_id, cs.cluster_size, d.n_chars
        |  FROM lab l JOIN cs USING (cluster_id) JOIN documents d USING (doc_id)
        |  WHERE cs.cluster_size > 1),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM member)
        |SELECT cluster_id, CAST(MAX(cluster_size) AS INTEGER) AS cluster_size,
        |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
        |  CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS INTEGER) AS rep_chars,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
        |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |kept AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id),
        |pairs AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, cs.cluster_size
        |FROM lab l JOIN cs USING (cluster_id)
        |WHERE cs.cluster_size > 1 ORDER BY l.doc_id""".stripMargin,
    // identical output contract to q_decontaminate: the bloom pre-filter
    // only prunes shuffle input; false positives die in the exact join
    "q_decontaminate_bloom" ->
      """WITH ds AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train' ELSE 'eval' END AS split
        |  FROM documents),
        |toks AS (SELECT doc_id, split, string_split(text, ' ') AS l FROM ds),
        |sh AS (
        |  SELECT doc_id, split, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5)
        |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS n_shared
        |FROM sh t JOIN sh e ON t.shingle = e.shingle
        |WHERE t.split = 'train' AND e.split = 'eval'
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY train_doc, eval_doc""".stripMargin,
    "q_source_mixture" ->
      """SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN substr(md5(text), 1, 2) <
        |    (CASE WHEN source = 'src1' THEN '20'
        |          WHEN source = 'src0' THEN 'ff' ELSE '80' END)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,
    "q_length_histogram" ->
      """SELECT CAST((n_chars // 100) * 100 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY bucket ASC NULLS FIRST""".stripMargin,
    "q_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |  COUNT(DISTINCT o_custkey) AS distinct_custkey,
        |  COUNT(DISTINCT o_orderstatus) AS distinct_status,
        |  COUNT(DISTINCT o_orderpriority) AS distinct_priority,
        |  MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey,
        |  round(MIN(o_totalprice), 2) AS min_price,
        |  round(MAX(o_totalprice), 2) AS max_price,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
        |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
        |FROM orders""".stripMargin,
    "q_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(text), 1, 2) < '40'
        |ORDER BY doc_id""".stripMargin,
    "q_dataset_split" ->
      """SELECT lang,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q_sequence_packing" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
        |  FROM t)
        |SELECT lang, tokens_before // 2048 AS pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |kept AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // portable-hash minhash: DuckDB reproduces the md5-family signatures
    // bit-for-bit (('0x'||substr(md5(...),1,15))::BIGINT == Spark's
    // conv(substring(md5(...),1,15),16,10) cast long), so banding,
    // candidate generation and the exact-Jaccard verify are all checked
    "q_minhash_neardup_md5" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |mins AS (
        |  SELECT doc_id, seeds.i,
        |    min(('0x' || substr(md5(shingle || chr(1) || CAST(seeds.i AS VARCHAR)),
        |      1, 15))::BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) seeds
        |  GROUP BY doc_id, seeds.i),
        |bands AS (
        |  SELECT a.doc_id, a.i // 2 AS band_idx,
        |    CAST(a.h AS VARCHAR) || ':' || CAST(b.h AS VARCHAR) AS band_key
        |  FROM mins a JOIN mins b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.doc_a
        |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // portable-hash simhash: DuckDB reproduces the 60-bit md5-family
    // fingerprints (per-token hash, ±1 bit votes, sign of the sum), and
    // the Spark side's pigeonhole banding is recall-complete with the
    // guard off, so the exact quadratic Hamming join IS its oracle
    "q_simhash_neardup_md5" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |hh AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(token || chr(1) || '0'), 1, 15))::BIGINT AS h
        |  FROM tok),
        |hb AS (SELECT doc_id, h, unnest(range(0, 60)) AS b FROM hh),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hb GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
        |      AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // banding-recall calibration: truth = df-capped exact jaccard
    // (ngramJaccard contract), candidates = the same md5 banding as
    // q_minhash_neardup_md5, bucketed by floor(10*jaccard)
    "q_lsh_recall_curve" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |overflow AS (
        |  SELECT shingle FROM (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1)
        |  WHERE c > 1000),
        |kept AS (
        |  SELECT s.doc_id, s.shingle FROM sh s
        |  LEFT JOIN overflow o ON s.shingle = o.shingle WHERE o.shingle IS NULL),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) >= 0.1),
        |mins AS (
        |  SELECT doc_id, seeds.i,
        |    min(('0x' || substr(md5(shingle || chr(1) || CAST(seeds.i AS VARCHAR)),
        |      1, 15))::BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) seeds
        |  GROUP BY doc_id, seeds.i),
        |bands AS (
        |  SELECT a.doc_id, a.i // 2 AS band_idx,
        |    CAST(a.h AS VARCHAR) || ':' || CAST(b.h AS VARCHAR) AS band_key
        |  FROM mins a JOIN mins b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id)
        |SELECT CAST(floor(t.jaccard * 10) AS INTEGER) AS bucket10,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_caught,
        |  round(CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS recall
        |FROM truth t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // incremental twin: same portable signatures; stored side (doc_id <
    // 250) contributes ONLY its signature components, candidates need
    // >= 1 new doc, similarity is the signature-estimated Jaccard
    "q_incremental_neardup_md5" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |mins AS (
        |  SELECT doc_id, seeds.i,
        |    min(('0x' || substr(md5(shingle || chr(1) || CAST(seeds.i AS VARCHAR)),
        |      1, 15))::BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) seeds
        |  GROUP BY doc_id, seeds.i),
        |bands AS (
        |  SELECT a.doc_id, a.doc_id >= 250 AS is_new, a.i // 2 AS band_idx,
        |    CAST(a.h AS VARCHAR) || ':' || CAST(b.h AS VARCHAR) AS band_key
        |  FROM mins a JOIN mins b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    (x.is_new <> y.is_new) AS is_cross
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id AND (x.is_new OR y.is_new)),
        |est AS (
        |  SELECT c.doc_a, c.doc_b, c.is_cross,
        |    round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) / 16.0, 6) AS est_jaccard
        |  FROM cand c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2, 3)
        |SELECT doc_a, doc_b, est_jaccard, is_cross FROM est
        |WHERE est_jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // winnowing (SIGMOD'03): char-8-gram md5-60bit hashes, min per
    // 8-gram sliding window of 8 — full windows only, distinct per doc.
    // Engine-identical: same normalization, same portable hash, same
    // ROWS window frame, min over BIGINTs
    "q_winnow_fingerprints" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS t
        |  FROM documents),
        |grams0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos
        |  FROM norm WHERE len(t) >= 15),
        |grams AS (
        |  SELECT doc_id, pos, len(t) - 7 AS n_grams,
        |    ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER), 8)
        |      || chr(1) || '0'), 1, 15))::BIGINT AS h
        |  FROM grams0),
        |wins AS (
        |  SELECT doc_id, pos, n_grams,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM grams)
        |SELECT DISTINCT doc_id, fp FROM wins
        |WHERE pos <= n_grams - 7
        |ORDER BY doc_id, fp""".stripMargin,
    "q_winnow_neardup" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS t
        |  FROM documents),
        |grams0 AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos
        |  FROM norm WHERE len(t) >= 15),
        |grams AS (
        |  SELECT doc_id, pos, len(t) - 7 AS n_grams,
        |    ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER), 8)
        |      || chr(1) || '0'), 1, 15))::BIGINT AS h
        |  FROM grams0),
        |wins AS (
        |  SELECT doc_id, pos, n_grams,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        |  FROM grams),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n_grams - 7),
        |kept AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df
        |    FROM fps) WHERE df <= 50),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ov AS (
        |  SELECT doc_a, doc_b, n_shared,
        |    round(CAST(n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
        |  FROM shared JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, n_shared, overlap FROM ov
        |WHERE overlap >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin,
    // asymmetric containment over the same shingle pipeline as
    // q_ngram_jaccard: sizes from the UNCAPPED shingle set, intersection
    // from the df-capped one, both directions scored from each pair row
    "q_containment_neardup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |kept AS (
        |  SELECT doc_id, shingle FROM (
        |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
        |  WHERE df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sized AS (
        |  SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b
        |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id),
        |dir AS (
        |  SELECT doc_a AS contained_doc, doc_b AS container_doc,
        |    round(CAST(n_inter AS DOUBLE) / n_a, 6) AS containment FROM sized
        |  UNION ALL
        |  SELECT doc_b AS contained_doc, doc_a AS container_doc,
        |    round(CAST(n_inter AS DOUBLE) / n_b, 6) AS containment FROM sized)
        |SELECT contained_doc, container_doc, containment FROM dir
        |WHERE containment >= 0.6
        |ORDER BY contained_doc, container_doc""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q, c WHERE neighbor_id <> query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
        |      AS INTEGER) AS rnk
        |  FROM s)
        |SELECT query_id, rnk, neighbor_id, round(sim, 6) AS cosine_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // ivfCentroids is deterministic (fixed sample/init/in-order means),
    // so per-query recall of the pruned probe is a pure function of the
    // data; the oracle emits the contract (TRUE) and the hash compare
    // certifies recall@5 >= 0.6 for every query — measured minima are
    // well above the floor at sf0.001/0.01/0.1 (see SimilaritySpec)
    "q_ivf_recall" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    // nProbe = nList probes every inverted list -> IVF degenerates to
    // brute force, so the exact cosine top-k oracle applies verbatim
    "q_ivf_exact" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q, c WHERE neighbor_id <> query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
        |      AS INTEGER) AS rnk
        |  FROM s)
        |SELECT query_id, rnk, neighbor_id, round(sim, 6) AS cosine_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // seed-code IVF build audit: the q_quantized_topk quantization
    // chain, centroids = the 16 smallest-md5 non-degenerate seeds'
    // codes, nearest-centroid assignment by exact integer-dot cosine
    // (ties to the lowest centroid id) — per-list size, distinct
    // codes, and min/max member similarity all hash-match
    "q_ivf_index_build" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |sc AS (SELECT base.vec_id, base.dig, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT asg.centroid_id, seeds.seed_vec_id,
        |  COUNT(*) AS list_size, COUNT(DISTINCT dig) AS n_codes,
        |  min(round(sim, 6)) AS min_sim, max(round(sim, 6)) AS max_sim
        |FROM asg JOIN seeds USING (centroid_id)
        |GROUP BY asg.centroid_id, seeds.seed_vec_id
        |ORDER BY centroid_id""".stripMargin,
    // the index's incremental cell: seeds drawn from the md5-random
    // STORED side only, the NEW batch assigned against those fixed
    // centroids — O(batch x nList) with no stored-assignment scan
    "q_ivf_index_assign_inc" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base WHERE stored) WHERE centroid_id < 16),
        |nb AS (SELECT * FROM base WHERE NOT stored),
        |sc AS (SELECT nb.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(nb.qv) + 1),
        |      i -> CAST(nb.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(nb.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM nb, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT vec_id, centroid_id, round(sim, 6) AS centroid_sim
        |FROM asg ORDER BY vec_id""".stripMargin,
    // spilled-assignment recall/cost A/B: asg1 = primary-only index,
    // asg2 = top-2 spilled index; candidates distinct per (query,
    // neighbor); exact baseline = brute top-k over all codes; hit
    // counts vs that baseline at equal probe width
    "q_ivf_spilled_recall" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |sc AS (SELECT base.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |scr AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, centroid_id) AS rn FROM sc),
        |asg1 AS (SELECT vec_id, centroid_id FROM scr WHERE rn = 1),
        |asg2 AS (SELECT vec_id, centroid_id FROM scr WHERE rn <= 2),
        |qp AS (SELECT vec_id AS query_id, centroid_id FROM scr
        |  WHERE vec_id < 10 AND rn <= 4),
        |qq AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
        |  FROM base WHERE vec_id < 10),
        |cand1 AS (SELECT DISTINCT qp.query_id, a.vec_id AS neighbor_id
        |  FROM qp JOIN asg1 a ON a.centroid_id = qp.centroid_id
        |    AND a.vec_id <> qp.query_id),
        |cand2 AS (SELECT DISTINCT qp.query_id, a.vec_id AS neighbor_id
        |  FROM qp JOIN asg2 a ON a.centroid_id = qp.centroid_id
        |    AND a.vec_id <> qp.query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT qq.query_id, nb.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
        |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
        |        nb.vec_id) AS rnk
        |    FROM qq JOIN base nb ON nb.vec_id <> qq.query_id)
        |  WHERE rnk <= 5),
        |t1 AS (SELECT query_id, neighbor_id FROM (
        |    SELECT c.query_id, c.neighbor_id,
        |      row_number() OVER (PARTITION BY c.query_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
        |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
        |        c.neighbor_id) AS rnk
        |    FROM cand1 c JOIN qq ON c.query_id = qq.query_id
        |      JOIN base nb ON c.neighbor_id = nb.vec_id)
        |  WHERE rnk <= 5),
        |t2 AS (SELECT query_id, neighbor_id FROM (
        |    SELECT c.query_id, c.neighbor_id,
        |      row_number() OVER (PARTITION BY c.query_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
        |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
        |        c.neighbor_id) AS rnk
        |    FROM cand2 c JOIN qq ON c.query_id = qq.query_id
        |      JOIN base nb ON c.neighbor_id = nb.vec_id)
        |  WHERE rnk <= 5),
        |c1 AS (SELECT query_id, COUNT(*) AS cand_single FROM cand1 GROUP BY query_id),
        |c2 AS (SELECT query_id, COUNT(*) AS cand_spilled FROM cand2 GROUP BY query_id),
        |h1 AS (SELECT ex.query_id, COUNT(*) AS hits_single
        |  FROM ex JOIN t1 ON ex.query_id = t1.query_id
        |    AND ex.neighbor_id = t1.neighbor_id GROUP BY ex.query_id),
        |h2 AS (SELECT ex.query_id, COUNT(*) AS hits_spilled
        |  FROM ex JOIN t2 ON ex.query_id = t2.query_id
        |    AND ex.neighbor_id = t2.neighbor_id GROUP BY ex.query_id)
        |SELECT qq.query_id,
        |  COALESCE(c1.cand_single, 0) AS cand_single,
        |  COALESCE(c2.cand_spilled, 0) AS cand_spilled,
        |  COALESCE(h1.hits_single, 0) AS hits_single,
        |  COALESCE(h2.hits_spilled, 0) AS hits_spilled,
        |  COALESCE(h2.hits_spilled, 0) >= COALESCE(h1.hits_single, 0)
        |    AS spill_no_worse
        |FROM qq
        |LEFT JOIN c1 ON qq.query_id = c1.query_id
        |LEFT JOIN c2 ON qq.query_id = c2.query_id
        |LEFT JOIN h1 ON qq.query_id = h1.query_id
        |LEFT JOIN h2 ON qq.query_id = h2.query_id
        |ORDER BY qq.query_id""".stripMargin,
    // distributed Lloyd in the exact int8 regime: two assign→integer-
    // mean-update rounds off the md5 seed draw; per (epoch, centroid)
    // sizes, moved counts, exact checksums, min/max member sim
    "q_kmeans_refine" -> LLOYD_REFINE_SQL,
    // the incremental update's oracle is the UNION one-epoch update —
    // seeds from the md5-stored side, every vector assigned, one
    // integer-mean round; Spark computes the split-stats merge, so the
    // hash match IS the sufficient-statistics exactness theorem
    "q_kmeans_update_inc" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base WHERE stored) WHERE centroid_id < 16),
        |asg AS (SELECT vec_id, stored, centroid_id FROM (
        |    SELECT base.vec_id, base.stored, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c) WHERE rn = 1),
        |cells AS (SELECT a.centroid_id,
        |      unnest(range(1, len(b2.qv) + 1)) AS pos, unnest(b2.qv) AS v
        |    FROM asg a JOIN base b2 USING (vec_id)),
        |u AS (SELECT centroid_id,
        |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
        |        ORDER BY pos) AS cv
        |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
        |            COUNT(*) AS n
        |          FROM cells GROUP BY centroid_id, pos)
        |    GROUP BY centroid_id),
        |un AS (SELECT centroid_id, cv,
        |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
        |        AS BIGINT) AS csq
        |    FROM u),
        |ce1 AS (SELECT p.centroid_id,
        |      CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.cv ELSE n.cv END AS cv,
        |      CAST(CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.csq ELSE n.csq END
        |        AS BIGINT) AS csq
        |    FROM ce0 p LEFT JOIN un n USING (centroid_id)),
        |counts AS (SELECT centroid_id,
        |      CAST(SUM(CASE WHEN stored THEN 1 ELSE 0 END) AS BIGINT) AS n_stored,
        |      CAST(SUM(CASE WHEN stored THEN 0 ELSE 1 END) AS BIGINT) AS n_batch
        |    FROM asg GROUP BY centroid_id)
        |SELECT c.centroid_id,
        |  COALESCE(k.n_stored, 0) AS n_stored,
        |  COALESCE(k.n_batch, 0) AS n_batch,
        |  CAST(list_sum(list_transform(c.cv, x -> CAST(x AS BIGINT))) AS BIGINT)
        |    AS cv_sum,
        |  c.csq
        |FROM ce1 c LEFT JOIN counts k USING (centroid_id)
        |ORDER BY c.centroid_id""".stripMargin,
    // two full maintenance cycles recomputed from scratch: ce0 = seeds
    // from the stored side; cycle 1 = (stored ∪ batch1) assigned under
    // ce0, integer-mean update → ce1; cycle 2 = batch2 assigned under
    // ce1, cells of BOTH epochs' members summed per list, update → the
    // final centroids. The Spark side reads only its sidecar — the
    // match certifies the mixed-epoch member-sums semantics
    "q_ivf_store_update_inc2" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) AS h
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base WHERE h < '8') WHERE centroid_id < 16),
        |asg01 AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c WHERE base.h < 'c') WHERE rn = 1),
        |cells1 AS (SELECT a.centroid_id,
        |      unnest(range(1, len(b2.qv) + 1)) AS pos, unnest(b2.qv) AS v
        |    FROM asg01 a JOIN base b2 USING (vec_id)),
        |u1 AS (SELECT centroid_id,
        |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
        |        ORDER BY pos) AS cv
        |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
        |            COUNT(*) AS n
        |          FROM cells1 GROUP BY centroid_id, pos)
        |    GROUP BY centroid_id),
        |un1 AS (SELECT centroid_id, cv,
        |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
        |        AS BIGINT) AS csq
        |    FROM u1),
        |ce1 AS (SELECT p.centroid_id,
        |      CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.cv ELSE n.cv END AS cv,
        |      CAST(CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.csq ELSE n.csq END
        |        AS BIGINT) AS csq
        |    FROM ce0 p LEFT JOIN un1 n USING (centroid_id)),
        |asg2 AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce1 c WHERE base.h >= 'c') WHERE rn = 1),
        |allasg AS (SELECT vec_id, centroid_id FROM asg01
        |  UNION ALL SELECT vec_id, centroid_id FROM asg2),
        |cells2 AS (SELECT a.centroid_id,
        |      unnest(range(1, len(b2.qv) + 1)) AS pos, unnest(b2.qv) AS v
        |    FROM allasg a JOIN base b2 USING (vec_id)),
        |u2 AS (SELECT centroid_id,
        |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
        |        ORDER BY pos) AS cv
        |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
        |            COUNT(*) AS n
        |          FROM cells2 GROUP BY centroid_id, pos)
        |    GROUP BY centroid_id),
        |un2 AS (SELECT centroid_id, cv,
        |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
        |        AS BIGINT) AS csq
        |    FROM u2),
        |ce2 AS (SELECT p.centroid_id,
        |      CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.cv ELSE n.cv END AS cv,
        |      CAST(CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.csq ELSE n.csq END
        |        AS BIGINT) AS csq
        |    FROM ce1 p LEFT JOIN un2 n USING (centroid_id)),
        |counts AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |    FROM allasg GROUP BY centroid_id)
        |SELECT c.centroid_id,
        |  COALESCE(k.n_members, 0) AS n_members,
        |  CAST(list_sum(list_transform(c.cv, x -> CAST(x AS BIGINT))) AS BIGINT)
        |    AS cv_sum,
        |  c.csq
        |FROM ce2 c LEFT JOIN counts k USING (centroid_id)
        |ORDER BY c.centroid_id""".stripMargin,
    // the PERSISTED-store form of the same theorem: Spark computes
    // init-stats + batch-stats merged in the store sidecar and updates
    // centroids off the sidecar alone; the oracle computes the union
    // one-epoch update under the stored-side seeds — identical numbers
    // iff integer sums are sufficient statistics AND the store's
    // sidecar discipline (init write, append merge) holds
    "q_ivf_store_update_inc" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base WHERE stored) WHERE centroid_id < 16),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c) WHERE rn = 1),
        |cells AS (SELECT a.centroid_id,
        |      unnest(range(1, len(b2.qv) + 1)) AS pos, unnest(b2.qv) AS v
        |    FROM asg a JOIN base b2 USING (vec_id)),
        |u AS (SELECT centroid_id,
        |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
        |        ORDER BY pos) AS cv
        |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
        |            COUNT(*) AS n
        |          FROM cells GROUP BY centroid_id, pos)
        |    GROUP BY centroid_id),
        |un AS (SELECT centroid_id, cv,
        |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
        |        AS BIGINT) AS csq
        |    FROM u),
        |ce1 AS (SELECT p.centroid_id,
        |      CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.cv ELSE n.cv END AS cv,
        |      CAST(CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.csq ELSE n.csq END
        |        AS BIGINT) AS csq
        |    FROM ce0 p LEFT JOIN un n USING (centroid_id)),
        |counts AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |    FROM asg GROUP BY centroid_id)
        |SELECT c.centroid_id,
        |  COALESCE(k.n_members, 0) AS n_members,
        |  CAST(list_sum(list_transform(c.cv, x -> CAST(x AS BIGINT))) AS BIGINT)
        |    AS cv_sum,
        |  c.csq
        |FROM ce1 c LEFT JOIN counts k USING (centroid_id)
        |ORDER BY c.centroid_id""".stripMargin,
    // sidecar fsck on the init+append store: the oracle recomputes the
    // per-list member count and total coordinate sum from the
    // assignment law (stored-side seeds, union assignment), and the
    // invariant booleans hold TRUE — the TRUE-iff-held pattern; the
    // counts/sums are real data, so the hash also pins the aggregate
    "q_ivf_store_fsck" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq,
        |        substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS stored
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base WHERE stored) WHERE centroid_id < 16),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c) WHERE rn = 1),
        |cells AS (SELECT a.centroid_id, unnest(b2.qv) AS v
        |    FROM asg a JOIN base b2 USING (vec_id)),
        |counts AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        |    FROM asg GROUP BY centroid_id),
        |sums AS (SELECT centroid_id, CAST(SUM(CAST(v AS BIGINT)) AS BIGINT)
        |      AS sum_rows
        |    FROM cells GROUP BY centroid_id)
        |SELECT c.centroid_id, c.n_rows, c.n_rows AS n_sidecar, s2.sum_rows,
        |  TRUE AS count_ok, TRUE AS cells_ok
        |FROM counts c JOIN sums s2 USING (centroid_id)
        |ORDER BY c.centroid_id""".stripMargin,
    // delete summary on the full-corpus store: seeds from ALL
    // non-degenerate codes (init saw everything), every vector
    // assigned, victims = vec_id % 7 = 3 — per affected list, the
    // victim count and the surviving row count
    "q_ivf_store_delete" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c) WHERE rn = 1),
        |vic AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_deleted
        |    FROM asg WHERE vec_id % 7 = 3 GROUP BY centroid_id),
        |rem AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_remaining
        |    FROM asg WHERE vec_id % 7 <> 3 GROUP BY centroid_id)
        |SELECT v.centroid_id, v.n_deleted,
        |  COALESCE(r.n_remaining, 0) AS n_remaining
        |FROM vic v LEFT JOIN rem r USING (centroid_id)
        |ORDER BY v.centroid_id""".stripMargin,
    // delete → update composition (the union-minus law): the O(batch)
    // update off the subtracted sidecar ≡ the one-epoch Lloyd update
    // of the SURVIVORS under the full-corpus init centroids
    "q_ivf_store_delete_upd" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |ce0 AS (SELECT centroid_id, cv, CAST(csq AS BIGINT) AS csq FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT base.vec_id, c.centroid_id,
        |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |          i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |            * c.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(base.qsq AS DOUBLE) * c.csq) DESC,
        |        c.centroid_id) AS rn
        |    FROM base, ce0 c) WHERE rn = 1),
        |surv AS (SELECT vec_id, centroid_id FROM asg WHERE vec_id % 7 <> 3),
        |cells AS (SELECT a.centroid_id,
        |      unnest(range(1, len(b2.qv) + 1)) AS pos, unnest(b2.qv) AS v
        |    FROM surv a JOIN base b2 USING (vec_id)),
        |u AS (SELECT centroid_id,
        |      list(CAST(floor(CAST(2 * s + n AS DOUBLE) / (2 * n)) AS INTEGER)
        |        ORDER BY pos) AS cv
        |    FROM (SELECT centroid_id, pos, SUM(CAST(v AS BIGINT)) AS s,
        |            COUNT(*) AS n
        |          FROM cells GROUP BY centroid_id, pos)
        |    GROUP BY centroid_id),
        |un AS (SELECT centroid_id, cv,
        |      CAST(list_sum(list_transform(cv, x -> CAST(x AS BIGINT) * x))
        |        AS BIGINT) AS csq
        |    FROM u),
        |ce1 AS (SELECT p.centroid_id,
        |      CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.cv ELSE n.cv END AS cv,
        |      CAST(CASE WHEN n.csq IS NULL OR n.csq = 0 THEN p.csq ELSE n.csq END
        |        AS BIGINT) AS csq
        |    FROM ce0 p LEFT JOIN un n USING (centroid_id)),
        |counts AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |    FROM surv GROUP BY centroid_id)
        |SELECT c.centroid_id,
        |  COALESCE(k.n_members, 0) AS n_members,
        |  CAST(list_sum(list_transform(c.cv, x -> CAST(x AS BIGINT))) AS BIGINT)
        |    AS cv_sum,
        |  c.csq
        |FROM ce1 c LEFT JOIN counts k USING (centroid_id)
        |ORDER BY c.centroid_id""".stripMargin,
    // seed-vs-Lloyd-trained index recall at equal probe width —
    // candidate and exact-top-k hit counts per query, both epochs
    "q_ivf_trained_recall" -> LLOYD_RECALL_SQL,
    // post-train store occupancy ≡ the trained assignment of the full
    // corpus (seeds re-drawn from all stored codes, 2 Lloyd epochs)
    "q_ivf_store_trained_occupancy" -> LLOYD_STORE_OCC_SQL,
    // the same A/B where the corpus HAS learnable cluster structure
    "q_ivf_trained_recall_clustered" -> PLANTED_LLOYD_RECALL_SQL,
    // occupancy of the drifted store: seeds from the md5-stored side
    // only (the store's FIXED day-0 centroids), every vector (stored +
    // appended) assigned against them, exact counts + share per list
    "q_ivf_store_occupancy" -> IVF_STORE_OCC_SQL,
    // streamed days folded by the centroid-preserving compact: the
    // assignment facts are unchanged, so the SAME occupancy oracle
    // certifies the fold (and that day rows entered the lists once)
    "q_ivf_store_compact" -> IVF_STORE_OCC_SQL,
    "q_ivf_store_stream_del" -> IVF_STORE_STREAM_DEL_SQL,
    // the incremental fold obeys the SAME survivor law — different
    // fold machinery (manifest flip vs whole-store swap), same result
    "q_ivf_store_incfold" -> IVF_STORE_STREAM_DEL_SQL,
    // the atomic append obeys the flat init+append occupancy law
    "q_ivf_store_inc_append" -> IVF_STORE_OCC_SQL,
    // manifest fsck: both sides' counts equal the survivor law's list
    // sizes, TRUE-iff-held
    "q_ivf_store_inc_fsck" ->
      s"""WITH o AS ($IVF_STORE_STREAM_DEL_SQL)
         |SELECT centroid_id, list_size AS manifest_rows,
         |  list_size AS file_rows, TRUE AS rows_ok
         |FROM o ORDER BY centroid_id""".stripMargin,
    // post-reseed occupancy ≡ a fresh build's: seeds from ALL
    // non-degenerate codes, every vector re-assigned, same aggregation
    "q_ivf_store_reseed" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        md5(list_aggr(list_transform(qv, x -> CAST(x AS VARCHAR)),
        |          'string_agg', ',')) AS dig,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |sc AS (SELECT base.vec_id, base.dig, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1),
        |per AS (SELECT centroid_id, COUNT(*) AS list_size,
        |    COUNT(DISTINCT dig) AS n_codes FROM asg GROUP BY centroid_id),
        |tot AS (SELECT SUM(list_size) AS total FROM per)
        |SELECT per.centroid_id, seeds.seed_vec_id, per.list_size, per.n_codes,
        |  round(CAST(per.list_size AS DOUBLE) / tot.total, 6) AS share
        |FROM per CROSS JOIN tot
        |JOIN seeds ON seeds.centroid_id = per.centroid_id
        |ORDER BY per.centroid_id""".stripMargin,
    // pruned-probe IVF top-k over the seed index: probes = each
    // query's 4 nearest centroids, candidates = vectors assigned to
    // those lists, ranking = the exact integer-dot cosine — the whole
    // pruned probe is deterministic, hence hash-matched (the kmeans
    // q_ivf_topk stays rows-only; this is its exact-regime twin)
    "q_ivf_index_topk" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |sc AS (SELECT base.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1),
        |qp AS (SELECT * FROM (
        |    SELECT vec_id AS query_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, centroid_id) AS prn
        |    FROM sc WHERE vec_id < 10) WHERE prn <= 4),
        |qq AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
        |  FROM base WHERE vec_id < 10),
        |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id
        |  FROM qp JOIN asg a ON a.centroid_id = qp.centroid_id
        |    AND a.vec_id <> qp.query_id),
        |d AS (SELECT c.query_id, c.neighbor_id, qq.sqa, nb.qsq AS sqb,
        |    list_sum(list_transform(range(1, len(qq.qa) + 1),
        |      i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |        * nb.qv[CAST(i AS INTEGER)])) AS qdot
        |  FROM cand c JOIN qq ON c.query_id = qq.query_id
        |    JOIN base nb ON c.neighbor_id = nb.vec_id),
        |r AS (SELECT query_id, neighbor_id, qdot,
        |    CAST(qdot AS DOUBLE) / sqrt(CAST(sqa AS DOUBLE) * sqb) AS sim
        |  FROM d),
        |rr AS (SELECT query_id, neighbor_id, qdot, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM r)
        |SELECT query_id, rnk, neighbor_id, CAST(qdot AS BIGINT) AS qdot,
        |  round(sim, 6) AS q_cosine
        |FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // filtered ANN A/B: same probe arithmetic, keep = vec_id % 3 = 1;
    // post-filter (rank all, keep survivors of the unfiltered top-5)
    // vs in-filter (rank the keepers), both vs the filtered exact
    // top-5; post ⊆ in makes in_no_worse a theorem (TRUE-iff-held)
    "q_ivf_store_probe_filtered" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |        list_max(list_transform(emb, v -> abs(v))) AS mx FROM t),
        |s AS (SELECT vec_id, emb, CASE WHEN isnan(mx) THEN NULL
        |        WHEN mx > 0 THEN mx / 127.0 END AS scale FROM m),
        |q0 AS (SELECT vec_id,
        |        list_transform(emb, v -> CASE WHEN scale IS NULL THEN 0
        |          ELSE CAST(floor(v / scale + 0.5) AS INTEGER) END) AS qv
        |      FROM s),
        |b AS (SELECT vec_id, qv,
        |        list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS qsq
        |      FROM q0),
        |base AS (SELECT * FROM b WHERE qsq > 0),
        |seeds AS (SELECT * FROM (
        |    SELECT vec_id AS seed_vec_id, qv AS cv, qsq AS csq,
        |      CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS INTEGER) - 1 AS centroid_id
        |    FROM base) WHERE centroid_id < 16),
        |sc AS (SELECT base.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM sc)
        |  WHERE rn = 1),
        |qp AS (SELECT * FROM (
        |    SELECT vec_id AS query_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, centroid_id) AS prn
        |    FROM sc WHERE vec_id < 10) WHERE prn <= 4),
        |qq AS (SELECT vec_id AS query_id, qv AS qa, qsq AS sqa
        |  FROM base WHERE vec_id < 10),
        |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
        |    (a.vec_id % 3 = 1) AS keep
        |  FROM qp JOIN asg a ON a.centroid_id = qp.centroid_id
        |    AND a.vec_id <> qp.query_id),
        |d AS (SELECT c.query_id, c.neighbor_id, c.keep,
        |    CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
        |      i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |        * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) AS sim
        |  FROM cand c JOIN qq ON c.query_id = qq.query_id
        |    JOIN base nb ON c.neighbor_id = nb.vec_id),
        |post AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, keep,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rnk
        |    FROM d) WHERE rnk <= 5 AND keep),
        |infil AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rnk
        |    FROM d WHERE keep) WHERE rnk <= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT qq.query_id, nb.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, len(qq.qa) + 1),
        |          i -> CAST(qq.qa[CAST(i AS INTEGER)] AS BIGINT)
        |            * nb.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |          / sqrt(CAST(qq.sqa AS DOUBLE) * nb.qsq) DESC,
        |        nb.vec_id) AS rnk
        |    FROM qq JOIN base nb ON nb.vec_id <> qq.query_id
        |      AND nb.vec_id % 3 = 1)
        |  WHERE rnk <= 5),
        |np AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_post
        |  FROM post GROUP BY query_id),
        |hp AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits_post
        |  FROM ex e JOIN post p ON e.query_id = p.query_id
        |    AND e.neighbor_id = p.neighbor_id GROUP BY e.query_id),
        |hi AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits_in
        |  FROM ex e JOIN infil f ON e.query_id = f.query_id
        |    AND e.neighbor_id = f.neighbor_id GROUP BY e.query_id)
        |SELECT q.query_id,
        |  COALESCE(np.n_post, 0) AS n_post,
        |  COALESCE(hp.hits_post, 0) AS hits_post,
        |  COALESCE(hi.hits_in, 0) AS hits_in,
        |  round(COALESCE(hp.hits_post, 0) / 5.0, 6) AS recall_post,
        |  round(COALESCE(hi.hits_in, 0) / 5.0, 6) AS recall_in,
        |  TRUE AS in_no_worse
        |FROM (SELECT DISTINCT query_id FROM qq) q
        |LEFT JOIN np ON q.query_id = np.query_id
        |LEFT JOIN hp ON q.query_id = hp.query_id
        |LEFT JOIN hi ON q.query_id = hi.query_id
        |ORDER BY q.query_id""".stripMargin,
    // the q_quantize_int8 code arithmetic + an exact integer dot
    // product (scales cancel in cosine), ranked per query — the
    // quantized ANN scan under the exact oracle. The PACKED-codes twin
    // computes the identical values from binary codes (byte ≡ int
    // codes element-wise, spec-pinned), so the same SQL is its oracle
    "q_quantized_topk_bytes" -> QUANTIZED_TOPK_SQL,
    "q_quantized_topk" -> QUANTIZED_TOPK_SQL,
    // Matryoshka calibration: prefix-width arms vs the full-dim exact
    "q_dim_truncation_recall" -> DIM_TRUNCATION_SQL,
    // the two-stage prefix-shortlist → exact-rerank grid and its
    // planted-cluster twin — the calibration's consumer
    "q_truncated_rerank" -> TRUNC_RERANK_SQL,
    "q_truncated_rerank_clustered" -> PLANTED_TRUNC_RERANK_SQL,
    // the byte-true store probe serves the SAME grid from persisted
    // prefix bytes (nProbe = nList on a static store ≡ the in-memory
    // two-stage form) — one oracle certifies both, like q_bm25_store
    "q_truncated_store_probe" -> TRUNC_RERANK_SQL,
    "q_truncated_store_probe_clustered" -> PLANTED_TRUNC_RERANK_SQL,
    "q_dim_truncation_recall_clustered" -> PLANTED_DIM_TRUNCATION_SQL,
    // seed-codebook product quantization: per-(vector, subspace) exact
    // integer argmin over the 16 md5-ranked seeds' slices — code ids,
    // summed distortion, and the reconstruction's squared norm are all
    // integers, so the lossy encoding itself hash-matches
    "q_pq_encode" -> (PQ_CHAIN +
      """,
        |enc AS (SELECT vec_id,
        |    string_agg(CAST(centroid_id AS VARCHAR), ',' ORDER BY j) AS pq_csv,
        |    CAST(sum(d) AS BIGINT) AS pq_dist
        |  FROM chosen GROUP BY vec_id)
        |SELECT enc.vec_id, pq_csv, pq_dist, rsqs.rsq AS recon_sq
        |FROM enc JOIN rsqs USING (vec_id) ORDER BY vec_id""".stripMargin),
    // brute ADC scan: candidates = all non-degenerate pairs
    "q_pq_topk" -> (PQ_CHAIN +
      """,
        |cands AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |""".stripMargin + PQ_ADC_TAIL),
    // exact hit count of the ADC ranking against the int8-exact top-k
    "q_pq_recall" -> (PQ_CHAIN +
      """,
        |exact0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
        |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM exact0)
        |  WHERE rnk <= 5),
        |adc0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
        |  FROM base q, chosen c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, c.vec_id),
        |adcsim AS (
        |  SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN r.rsq = 0 THEN 0.0
        |         ELSE CAST(a.adc_dot AS DOUBLE)
        |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
        |  FROM adc0 a JOIN rsqs r ON a.neighbor_id = r.vec_id
        |  JOIN base q ON a.query_id = q.vec_id),
        |adctop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM adcsim)
        |  WHERE rnk <= 5),
        |hits AS (SELECT e.query_id, count(*) AS n
        |  FROM exact e JOIN adctop a
        |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |  GROUP BY e.query_id)
        |SELECT q.vec_id AS query_id,
        |  CAST(COALESCE(h.n, 0) AS BIGINT) AS pq_hits,
        |  round(CAST(COALESCE(h.n, 0) AS DOUBLE) / 5.0, 6) AS pq_recall
        |FROM base q LEFT JOIN hits h ON q.vec_id = h.query_id
        |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin),
    // per-subspace Lloyd training: per round, exact integer distortion
    // totals — the monotone descent certified in the artifact itself
    "q_pq_train_distortion" -> PQ_TRAIN_DIST_SQL,
    // seed-vs-trained ADC recall at equal stored bytes
    "q_pq_trained_recall" -> PQ_TRAINED_RECALL_SQL,
    // the cautionary planted-cluster variant (distortion collapses,
    // recall craters — the case FOR rerank/residuals, measured)
    "q_pq_trained_recall_clustered" -> PLANTED_PQ_TRAINED_RECALL_SQL,
    // OPQ-lite A/B: the raw arm IS q_pq_recall's; the permuted arm
    // relabels coordinates by the md5 order (a pure permutation —
    // quantization and exact sims are equivariant, only the subspace
    // grouping changes) and re-runs the identical encode + ADC
    "q_pq_recall_opq" -> (PQ_CHAIN + OPQ_RECALL_TAIL),
    // the same layout A/B over the planted-cluster corpus: the
    // codebook co-permutes with the data, so this measures whether a
    // re-grouping moves recall even when cluster alignment is
    // preserved — only the input CTE differs
    "q_pq_recall_opq_clustered" ->
      (PLANTED_PQ_CHAIN + OPQ_RECALL_TAIL),
    // IVF+PQ: coarse nearest-seed lists prune the pair space (each
    // corpus vector sits in exactly ONE list, so probe ∩ assignment
    // yields each candidate at most once), then the ADC tail ranks.
    // The persisted-store twin computes identical values off the hive
    // sidecar, so one SQL is both oracles.
    "q_ivfpq_topk" -> IVFPQ_TOPK_SQL,
    "q_ivfpq_store_probe" -> IVFPQ_TOPK_SQL,
    // the retrained store: trained coarse pruning, unchanged codebook
    "q_ivfpq_store_probe_trained" -> TRAINED_IVFPQ_PROBE_SQL,
    // the layout-recording store probe: raw coarse + permuted encode
    "q_ivfpq_store_probe_opq" -> IVFPQ_OPQ_SQL,
    // residual IVFADC: same probe discipline, ADC dot = q·(cv + r̂)
    "q_ivfadc_topk" -> IVFADC_TOPK_SQL,
    // the persisted residual sidecar: static store ≡ the in-memory
    // IVFADC (same seed draws over the same stored codes), so one SQL
    // is both oracles — the q_ivfpq_store_probe sharing discipline
    "q_ivfadc_store_probe" -> IVFADC_TOPK_SQL,
    // the trained residual store: trained centroids everywhere, the
    // residual codebook drawn under them (epoch-0; no codebook rounds)
    "q_ivfadc_store_probe_trained" -> TRAINED_IVFADC_STORE_SQL,
    // residual-vs-raw recall A/B at equal probe width: exact top-5 ∩
    // each ADC ranking, counted per query
    "q_ivfadc_recall" -> (PQ_CHAIN + ",\n" + IVFADC_FRAG + IVFADC_RECALL_TAIL),
    // the same A/B over the planted-cluster corpus — only the input
    // CTE differs; the entire index + recall machinery is shared
    "q_ivfadc_recall_clustered" ->
      (PLANTED_PQ_CHAIN + ",\n" + IVFADC_FRAG + IVFADC_RECALL_TAIL),
    // trained-IVFADC A/B: both quantizer levels Lloyd-trained (coarse
    // epochs + residual-codebook rounds), vs the all-seed configuration
    "q_ivfadc_trained_recall" -> TRAINED_IVFADC_RECALL_SQL,
    "q_ivfadc_trained_recall_clustered" -> PLANTED_TRAINED_IVFADC_RECALL_SQL,
    // recall-vs-cost grid: ONE candidate pass at the widest probe
    // width with each pair's admitting probe rank (one list per
    // corpus vector ⇒ probe_rnk <= p IS the nProbe=p candidate set),
    // both scores per pair, then each (nProbe, rerank) cell read off
    // as a filtered re-ranking of the same frame
    "q_ivfpq_tradeoff" -> (PQ_CHAIN +
      """,
        |coarse AS (SELECT base.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM coarse)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, centroid_id,
        |    CAST(rn AS INTEGER) AS probe_rnk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn
        |    FROM coarse WHERE vec_id < 10) WHERE rn <= 8),
        |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.probe_rnk
        |  FROM probes p JOIN asg a USING (centroid_id)
        |  WHERE a.vec_id <> p.query_id),
        |adc AS (
        |  SELECT cands.query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
        |  FROM cands
        |  JOIN base q ON cands.query_id = q.vec_id
        |  JOIN chosen c ON cands.neighbor_id = c.vec_id
        |  GROUP BY cands.query_id, c.vec_id),
        |adcsim AS (
        |  SELECT a.query_id, a.neighbor_id,
        |    CASE WHEN r.rsq = 0 THEN 0.0
        |         ELSE CAST(a.adc_dot AS DOUBLE)
        |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
        |  FROM adc a JOIN rsqs r ON a.neighbor_id = r.vec_id
        |  JOIN base q ON a.query_id = q.vec_id),
        |exd AS (
        |  SELECT c.query_id, c.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * n.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(q.qsq AS DOUBLE) * n.qsq) AS esim
        |  FROM cands c JOIN base q ON c.query_id = q.vec_id
        |  JOIN base n ON c.neighbor_id = n.vec_id),
        |pairs AS (SELECT c.query_id, c.neighbor_id, c.probe_rnk,
        |    s.sim, e.esim
        |  FROM cands c
        |  JOIN adcsim s ON c.query_id = s.query_id
        |    AND c.neighbor_id = s.neighbor_id
        |  JOIN exd e ON c.query_id = e.query_id
        |    AND c.neighbor_id = e.neighbor_id),
        |grid AS (SELECT np, rr
        |  FROM (VALUES (1), (2), (4), (8)) AS p(np)
        |  CROSS JOIN (VALUES (5), (10), (20)) AS r(rr)),
        |adcrnk AS (SELECT g.np, g.rr, p.query_id, p.neighbor_id, p.esim,
        |    row_number() OVER (PARTITION BY g.np, g.rr, p.query_id
        |      ORDER BY p.sim DESC, p.neighbor_id) AS adc_rnk
        |  FROM grid g JOIN pairs p ON p.probe_rnk <= g.np),
        |finrnk AS (SELECT np, rr, query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY np, rr, query_id
        |      ORDER BY esim DESC, neighbor_id) AS rnk
        |  FROM adcrnk WHERE adc_rnk <= rr),
        |fin AS (SELECT np, rr, query_id, neighbor_id FROM finrnk
        |  WHERE rnk <= 5),
        |exact0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS sim
        |  FROM base q, base c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rnk FROM exact0)
        |  WHERE rnk <= 5),
        |h AS (SELECT f.np, f.rr, count(*) AS hits FROM fin f
        |  JOIN exact e ON f.query_id = e.query_id
        |    AND f.neighbor_id = e.neighbor_id
        |  GROUP BY f.np, f.rr),
        |nc AS (SELECT g.np, g.rr, count(*) AS n_cands
        |  FROM grid g JOIN pairs p ON p.probe_rnk <= g.np
        |  GROUP BY g.np, g.rr)
        |SELECT nc.np AS n_probe, nc.rr AS rerank,
        |  CAST(nc.n_cands AS BIGINT) AS n_cands,
        |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 50.0, 6) AS recall
        |FROM nc LEFT JOIN h ON nc.np = h.np AND nc.rr = h.rr
        |ORDER BY n_probe, rerank""".stripMargin),
    // two-stage retrieval: the q_ivfpq_topk candidate machinery, ADC
    // shortlist capped at 20 per query, exact int8 rerank of ONLY the
    // shortlist, final top-5 by exact similarity
    "q_ivfpq_rerank" -> (PQ_CHAIN +
      """,
        |coarse AS (SELECT base.vec_id, seeds.centroid_id,
        |    CAST(list_sum(list_transform(range(1, len(base.qv) + 1),
        |      i -> CAST(base.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * seeds.cv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(base.qsq AS DOUBLE) * seeds.csq) AS sim
        |  FROM base, seeds),
        |asg AS (SELECT vec_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn FROM coarse)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, centroid_id) AS rn
        |    FROM coarse WHERE vec_id < 10) WHERE rn <= 4),
        |cands AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probes p JOIN asg a USING (centroid_id)
        |  WHERE a.vec_id <> p.query_id),
        |adc AS (
        |  SELECT cands.query_id, c.vec_id AS neighbor_id,
        |    CAST(sum(list_sum(list_transform(range(1, 9),
        |      i -> CAST(q.qv[c.j * 8 + CAST(i AS INTEGER)] AS BIGINT)
        |           * c.cv[c.j * 8 + CAST(i AS INTEGER)]))) AS BIGINT) AS adc_dot
        |  FROM cands
        |  JOIN base q ON cands.query_id = q.vec_id
        |  JOIN chosen c ON cands.neighbor_id = c.vec_id
        |  GROUP BY cands.query_id, c.vec_id),
        |adcsim AS (
        |  SELECT adc.query_id, adc.neighbor_id,
        |    CASE WHEN r.rsq = 0 THEN 0.0
        |         ELSE CAST(adc.adc_dot AS DOUBLE)
        |           / sqrt(CAST(q.qsq AS DOUBLE) * r.rsq) END AS sim
        |  FROM adc JOIN rsqs r ON adc.neighbor_id = r.vec_id
        |  JOIN base q ON adc.query_id = q.vec_id),
        |shortlist AS (SELECT query_id, neighbor_id, adc_rnk FROM (
        |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS adc_rnk
        |    FROM adcsim) WHERE adc_rnk <= 20),
        |exact AS (
        |  SELECT s.query_id, s.neighbor_id, s.adc_rnk,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * c.qv[CAST(i AS INTEGER)])) AS BIGINT) AS qdot,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |      i -> CAST(q.qv[CAST(i AS INTEGER)] AS BIGINT)
        |        * c.qv[CAST(i AS INTEGER)])) AS DOUBLE)
        |      / sqrt(CAST(q.qsq AS DOUBLE) * c.qsq) AS esim
        |  FROM shortlist s
        |  JOIN base q ON s.query_id = q.vec_id
        |  JOIN base c ON s.neighbor_id = c.vec_id),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY esim DESC, neighbor_id) AS INTEGER) AS rnk FROM exact)
        |SELECT query_id, rnk, neighbor_id, adc_rnk, qdot,
        |  round(esim, 6) AS q_cosine
        |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // same arithmetic whether the columnar-fused exec or the row
    // fallback runs (plan-shape-independent, tested) — so it can be
    // oracle-matched even though it is a custom physical operator
    "q_vectorized_cosine" ->
      """SELECT e.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6)
        |    AS cosine_sim
        |FROM embeddings e ORDER BY neighbor_id""".stripMargin,
    "q_multimodal_binary" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_aspect_batches" ->
      """WITH m AS (
        |  SELECT doc_id, n_chars % 640 AS w, n_chars % 480 AS h FROM documents),
        |b AS (
        |  SELECT doc_id, CASE WHEN h > 0 THEN (w * 10) // h END AS aspect_bucket
        |  FROM m),
        |r AS (
        |  SELECT doc_id, aspect_bucket,
        |    CAST(row_number() OVER (PARTITION BY aspect_bucket ORDER BY doc_id) - 1
        |      AS BIGINT) AS rn
        |  FROM b)
        |SELECT aspect_bucket, rn // 8 AS batch_id, COUNT(*) AS n_items,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM r GROUP BY aspect_bucket, batch_id
        |ORDER BY aspect_bucket ASC NULLS FIRST, batch_id""".stripMargin,
    // Replicates FakeCodec exactly (text is ASCII, so unicode(char) ==
    // payload byte): frame size = max(1, nb/4); grouped().take(4) keeps
    // only FULL chunks -> floor(nb/sz) capped at 4, each exactly sz
    // bytes; resize picks indices floor(i*sz/16) when sz > 16.
    "q_multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents),
        |p AS (SELECT doc_id, text, nb, greatest(nb // 4, 1) AS sz FROM d),
        |fr AS (
        |  SELECT doc_id, text, sz,
        |    unnest(range(0, least(4, nb // sz))) AS fi
        |  FROM p),
        |feats AS (
        |  SELECT doc_id, fi, sz,
        |    CASE WHEN sz <= 16
        |      THEN list_transform(range(0, sz),
        |        i -> unicode(substr(text, CAST(fi*sz + i + 1 AS INTEGER), 1)))
        |      ELSE list_transform(range(0, 16),
        |        i -> unicode(substr(text, CAST(fi*sz + (i*sz // 16) + 1 AS INTEGER), 1)))
        |    END AS f
        |  FROM fr)
        |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(sz AS INTEGER) AS frame_bytes,
        |  CAST(len(f) AS INTEGER) AS n_features,
        |  CAST(list_sum(f) AS BIGINT) AS feat_sum,
        |  CAST(f[1] AS INTEGER) AS feat_first,
        |  CAST(f[-1] AS INTEGER) AS feat_last
        |FROM feats ORDER BY doc_id, frame_idx""".stripMargin,
    // Closed form of the deterministic PCM pattern the Spark side
    // pushes through a REAL WAV encode → javax.sound.sampled decode
    // round-trip (16-bit PCM is lossless, so decoded-sample aggregates
    // equal the direct arithmetic).
    "q_wav_decode" ->
      """WITH d AS (
        |  SELECT doc_id, 200 + doc_id % 100 AS n,
        |    8000 + (doc_id % 4) * 4000 AS rate
        |  FROM documents),
        |s AS (SELECT doc_id, rate, n, unnest(range(0, n)) AS i FROM d),
        |a AS (SELECT doc_id, rate, n,
        |  (doc_id * 31 + i * 17) % 2003 - 1001 AS amp FROM s)
        |SELECT doc_id, CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(amp) AS BIGINT) AS sum_amp,
        |  CAST(MIN(amp) AS INTEGER) AS min_amp,
        |  CAST(MAX(amp) AS INTEGER) AS max_amp,
        |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs
        |FROM a GROUP BY doc_id, rate, n ORDER BY doc_id""".stripMargin,
    // Closed form of the clustered PCM fixture: per-window energies →
    // neighbor-comparison bits → the eHash the Spark side computes from
    // REAL WAV decode output (lossless ⇒ identical integers)
    "q_audio_ehash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, key, bump, 200 + key % 100 AS n FROM d),
        |s AS (SELECT doc_id, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n, i,
        |  (key * 31 + i * 17) % 2003 - 1001
        |    + CASE WHEN i = 0 THEN bump ELSE 0 END AS amp FROM s),
        |e AS (SELECT doc_id, (i * 64) // n AS w, SUM(amp * amp) AS energy
        |  FROM a GROUP BY doc_id, (i * 64) // n),
        |b AS (SELECT x.doc_id, x.w,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 63)
        |SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << w) AS BIGINT) AS ehash
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_audio_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, key, bump, 200 + key % 100 AS n FROM d),
        |s AS (SELECT doc_id, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n, i,
        |  (key * 31 + i * 17) % 2003 - 1001
        |    + CASE WHEN i = 0 THEN bump ELSE 0 END AS amp FROM s),
        |e AS (SELECT doc_id, (i * 64) // n AS w, SUM(amp * amp) AS energy
        |  FROM a GROUP BY doc_id, (i * 64) // n),
        |b AS (SELECT x.doc_id, x.w,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 63),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << w) AS BIGINT) AS ehash
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.ehash, b.ehash)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ehash, b.ehash)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // audio clusters: the eHash pair graph closed under the same
    // recursive min-label walk as the image/video cluster oracles
    "q_audio_clusters" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, key, bump, 200 + key % 100 AS n FROM d),
        |s AS (SELECT doc_id, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n, i,
        |  (key * 31 + i * 17) % 2003 - 1001
        |    + CASE WHEN i = 0 THEN bump ELSE 0 END AS amp FROM s),
        |e AS (SELECT doc_id, (i * 64) // n AS w, SUM(amp * amp) AS energy
        |  FROM a GROUP BY doc_id, (i * 64) // n),
        |b AS (SELECT x.doc_id, x.w,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 63),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << w) AS BIGINT) AS ehash
        |  FROM b GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.ehash, b.ehash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e2.dst AS node, w2.label FROM walk w2 JOIN edges e2 ON e2.src = w2.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, cs.cluster_size
        |FROM lab l JOIN cs USING (cluster_id)
        |WHERE cs.cluster_size > 1 ORDER BY l.doc_id""".stripMargin,
    // junk-video gate: per-frame distinct-luma flatness + per-frame
    // dHash distinctness over the junk fixture (junk videos: constant
    // color; others: the scene pattern — distinct hashes = scene count)
    "q_video_quality" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS junk, 6 + doc_id % 7 AS n,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 7 END AS h
        |  FROM documents),
        |f AS (SELECT doc_id, junk, n, w, h, unnest(range(0, n)) AS fr FROM d),
        |sc AS (SELECT doc_id, junk, n, w, h, fr, fr // 3 AS scene FROM f),
        |px AS (SELECT doc_id, junk, scene, fr, w, h, unnest(range(0, w)) AS x FROM sc),
        |py AS (SELECT doc_id, junk, scene, fr, w, h, x, unnest(range(0, h)) AS y FROM px),
        |flum AS (SELECT doc_id, fr,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM py),
        |flatf AS (SELECT doc_id, fr,
        |  CASE WHEN COUNT(DISTINCT l) = 1 THEN 1 ELSE 0 END AS flat
        |  FROM flum GROUP BY doc_id, fr),
        |js AS (SELECT doc_id, junk, scene, fr, w, h, unnest(range(0, 7)) AS j FROM sc),
        |g0 AS (SELECT doc_id, junk, scene, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, junk, scene, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, fr, j, i,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, fr),
        |agg AS (SELECT d.doc_id, d.n,
        |    (SELECT SUM(flat) FROM flatf WHERE flatf.doc_id = d.doc_id) AS n_flat,
        |    (SELECT COUNT(DISTINCT dhash) FROM hsh WHERE hsh.doc_id = d.doc_id)
        |      AS n_hashes
        |  FROM d)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_frames, 12 AS fps,
        |  CAST(n_flat AS INTEGER) AS n_flat_frames,
        |  CAST(n_hashes AS INTEGER) AS n_distinct_hashes,
        |  n_hashes = 1 AS is_static,
        |  n_flat = n AS is_flat
        |FROM agg ORDER BY doc_id""".stripMargin,
    // incremental twin: stored side = doc_id < 250 (eHashes only),
    // pairs need >= 1 new side; is_cross marks new-vs-stored
    "q_audio_neardup_inc" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, key, bump, 200 + key % 100 AS n FROM d),
        |s AS (SELECT doc_id, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n, i,
        |  (key * 31 + i * 17) % 2003 - 1001
        |    + CASE WHEN i = 0 THEN bump ELSE 0 END AS amp FROM s),
        |e AS (SELECT doc_id, (i * 64) // n AS w, SUM(amp * amp) AS energy
        |  FROM a GROUP BY doc_id, (i * 64) // n),
        |b AS (SELECT x.doc_id, x.w,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 63),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << w) AS BIGINT) AS ehash
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.ehash, b.ehash)) AS INTEGER) AS hamming,
        |  (a.doc_id >= 250) <> (b.doc_id >= 250) AS is_cross
        |FROM h a JOIN h b
        |  ON a.doc_id < b.doc_id AND (a.doc_id >= 250 OR b.doc_id >= 250)
        |WHERE bit_count(xor(a.ehash, b.ehash)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Closed form of the deterministic pixel pattern the Spark side
    // pushes through a REAL PNG encode → javax.imageio decode round-trip
    // (lossless, so decoded sums equal the direct arithmetic).
    "q_png_decode" ->
      """WITH px AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM px),
        |ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(SUM((doc_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 11 + x + y * 2) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 13 + x * 4 + y) % 256) AS BIGINT) AS sum_b
        |FROM ys GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // the JPEG lossy tier's contract under the oracle (bounds-twin):
    // dims are exact closed forms of doc_id; the reconstruction-error,
    // dimension, and determinism bounds are TRUE-iff-held booleans the
    // Spark side computes against the generator's replayed gradient —
    // a hash match certifies every bound on every image
    "q_jpeg_bounds" ->
      """SELECT doc_id,
        |  CAST(16 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 7 AS INTEGER) AS height,
        |  CAST((16 + doc_id % 9) * (16 + doc_id % 7) AS BIGINT) AS n_pixels,
        |  TRUE AS width_ok, TRUE AS height_ok,
        |  TRUE AS err_r_ok, TRUE AS err_g_ok, TRUE AS err_b_ok,
        |  TRUE AS decode_deterministic
        |FROM documents ORDER BY doc_id""".stripMargin,
    // dHash twin: the decoded pixels are the closed-form cluster
    // pattern (PNG lossless), so the sample grid, integer luma, and
    // bit packing replay exactly; 63 bits keeps every shift inside
    // BIGINT (DuckDB errors on shift overflow)
    "q_image_dhash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |js AS (SELECT doc_id, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9)
        |SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_image_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |js AS (SELECT doc_id, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // image clusters: the dhash pair graph closed under the same
    // recursive min-label walk as q_dedup_clusters
    "q_image_clusters" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |js AS (SELECT doc_id, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, cs.cluster_size
        |FROM lab l JOIN cs USING (cluster_id)
        |WHERE cs.cluster_size > 1 ORDER BY l.doc_id""".stripMargin,
    // incremental twin: stored side = doc_id < 250 (hashes only), pairs
    // need >= 1 new side; is_cross marks new-vs-stored
    "q_image_neardup_inc" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |js AS (SELECT doc_id, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming,
        |  (a.doc_id >= 250) <> (b.doc_id >= 250) AS is_cross
        |FROM h a JOIN h b
        |  ON a.doc_id < b.doc_id AND (a.doc_id >= 250 OR b.doc_id >= 250)
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // GVID video tier: every frame is a real PNG (lossless), so the
    // per-frame pixel pattern replays in closed form — the video
    // extension of the q_png_decode / q_image_dhash oracles with one
    // more unnest level (the frame index)
    "q_video_decode" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS n, 10 + (doc_id % 3) * 5 AS fps,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |f AS (SELECT doc_id, fps, w, h, unnest(range(0, n)) AS fr FROM d),
        |xs AS (SELECT doc_id, fps, w, h, fr, unnest(range(0, w)) AS x FROM f),
        |px AS (SELECT doc_id, fps, w, h, fr, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(fr AS INTEGER) AS frame_idx,
        |  CAST(fps AS INTEGER) AS fps,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(SUM((doc_id*7 + fr*19 + x*3 + y*5) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id*11 + fr*23 + x + y*2) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id*13 + fr*29 + x*4 + y) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, fr, fps, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // uniform sampling layout: slot j -> frame (j*n) div 4, integer
    // floor — closed form on both engines; integer luma, no division
    "q_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS n,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n, w, h, unnest(range(0, 4)) AS slot FROM d),
        |sf AS (SELECT doc_id, slot, (slot * n) // 4 AS fr, w, h FROM s),
        |xs AS (SELECT doc_id, slot, fr, w, h, unnest(range(0, w)) AS x FROM sf),
        |px AS (SELECT doc_id, slot, fr, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(slot AS INTEGER) AS slot,
        |  CAST(fr AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(SUM(299 * ((doc_id*7 + fr*19 + x*3 + y*5) % 256)
        |         + 587 * ((doc_id*11 + fr*23 + x + y*2) % 256)
        |         + 114 * ((doc_id*13 + fr*29 + x*4 + y) % 256)) AS BIGINT) AS sum_luma
        |FROM px GROUP BY doc_id, slot, fr, w, h
        |ORDER BY doc_id, slot""".stripMargin,
    // per-slot dHash: the q_image_dhash grid/luma/bit-pack CTEs with
    // the sampled frame index as one more phase term
    "q_video_phash" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS n,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n, w, h, unnest(range(0, 4)) AS slot FROM d),
        |sf AS (SELECT doc_id, slot, (slot * n) // 4 AS fr, w, h FROM s),
        |js AS (SELECT doc_id, slot, fr, w, h, unnest(range(0, 7)) AS j FROM sf),
        |g0 AS (SELECT doc_id, slot, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, slot, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, slot, fr, j, i,
        |  299 * ((doc_id*7 + fr*19 + x*3 + y*5) % 256)
        |  + 587 * ((doc_id*11 + fr*23 + x + y*2) % 256)
        |  + 114 * ((doc_id*13 + fr*29 + x*4 + y) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.slot, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.slot = a.slot
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9)
        |SELECT doc_id, CAST(slot AS INTEGER) AS slot,
        |  CAST(fr AS INTEGER) AS frame_idx,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |FROM bits GROUP BY doc_id, slot, fr
        |ORDER BY doc_id, slot""".stripMargin,
    // scene fixture: frames share their scene's (fr div 3) pattern, so
    // consecutive in-scene hashes are identical and cuts are exactly
    // the scene boundaries; the cut rule (Hamming >= 10 between
    // consecutive frame hashes) replays on the closed-form hashes
    "q_video_scenes" ->
      """WITH d AS (
        |  SELECT doc_id, 6 + doc_id % 7 AS n,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |f AS (SELECT doc_id, n, w, h, unnest(range(0, n)) AS fr FROM d),
        |sc AS (SELECT doc_id, n, w, h, fr, fr // 3 AS scene FROM f),
        |js AS (SELECT doc_id, scene, fr, w, h, unnest(range(0, 7)) AS j FROM sc),
        |g0 AS (SELECT doc_id, scene, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, scene, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, fr, j, i,
        |  299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |  + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, fr),
        |cuts AS (SELECT a.doc_id,
        |    CASE WHEN bit_count(xor(a.dhash, b.dhash)) >= 10 THEN 1 ELSE 0 END AS c
        |  FROM hsh a JOIN hsh b ON b.doc_id = a.doc_id AND b.fr = a.fr - 1)
        |SELECT d.doc_id, CAST(d.n AS INTEGER) AS n_frames,
        |  CAST(COALESCE(SUM(c), 0) AS INTEGER) AS n_cuts
        |FROM d LEFT JOIN cuts ON cuts.doc_id = d.doc_id
        |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin,
    // near-dup twin: per-slot hashes over the CLUSTER fixture
    // (pattern from doc_id % 50, one red channel of frame 0's corner
    // bumped), exact quadratic pair join summing per-slot Hamming
    "q_video_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    4 + (doc_id % 50) % 5 AS n,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, key, bump, n, w, h, unnest(range(0, 4)) AS slot FROM d),
        |sf AS (SELECT doc_id, key, bump, slot, (slot * n) // 4 AS fr, w, h FROM s),
        |js AS (SELECT doc_id, key, bump, slot, fr, w, h, unnest(range(0, 7)) AS j FROM sf),
        |g0 AS (SELECT doc_id, key, bump, slot, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, slot, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, slot, j, i,
        |  299 * (CASE WHEN fr = 0 AND x = 0 AND y = 0
        |    THEN ((key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + fr*23 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + fr*29 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.slot, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.slot = a.slot
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |h AS (SELECT doc_id, slot,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, slot)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(SUM(bit_count(xor(a.dhash, b.dhash))) AS INTEGER) AS total_hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.slot = b.slot
        |GROUP BY a.doc_id, b.doc_id
        |HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // video clusters: the slot-hash pair graph closed under the same
    // recursive min-label walk as q_image_clusters
    "q_video_clusters" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    4 + (doc_id % 50) % 5 AS n,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, key, bump, n, w, h, unnest(range(0, 4)) AS slot FROM d),
        |sf AS (SELECT doc_id, key, bump, slot, (slot * n) // 4 AS fr, w, h FROM s),
        |js AS (SELECT doc_id, key, bump, slot, fr, w, h, unnest(range(0, 7)) AS j FROM sf),
        |g0 AS (SELECT doc_id, key, bump, slot, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, slot, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, slot, j, i,
        |  299 * (CASE WHEN fr = 0 AND x = 0 AND y = 0
        |    THEN ((key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + fr*23 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + fr*29 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.slot, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.slot = a.slot
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |h AS (SELECT doc_id, slot,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, slot),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.slot = b.slot
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, cs.cluster_size
        |FROM lab l JOIN cs USING (cluster_id)
        |WHERE cs.cluster_size > 1 ORDER BY l.doc_id""".stripMargin,
    // incremental twin: stored side = doc_id < 250 (slot hashes only),
    // pairs need >= 1 new side; is_cross marks new-vs-stored
    "q_video_neardup_inc" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    4 + (doc_id % 50) % 5 AS n,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |s AS (SELECT doc_id, key, bump, n, w, h, unnest(range(0, 4)) AS slot FROM d),
        |sf AS (SELECT doc_id, key, bump, slot, (slot * n) // 4 AS fr, w, h FROM s),
        |js AS (SELECT doc_id, key, bump, slot, fr, w, h, unnest(range(0, 7)) AS j FROM sf),
        |g0 AS (SELECT doc_id, key, bump, slot, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, slot, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, slot, j, i,
        |  299 * (CASE WHEN fr = 0 AND x = 0 AND y = 0
        |    THEN ((key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + fr*23 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + fr*29 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.slot, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.slot = a.slot
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |h AS (SELECT doc_id, slot,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, slot)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(SUM(bit_count(xor(a.dhash, b.dhash))) AS INTEGER) AS total_hamming,
        |  (a.doc_id >= 250) <> (b.doc_id >= 250) AS is_cross
        |FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.slot = b.slot
        |  AND (a.doc_id >= 250 OR b.doc_id >= 250)
        |GROUP BY a.doc_id, b.doc_id
        |HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // junk-image gate: luma replay over the SKEWED fixture (flat
    // constant-color images for doc_id % 4 = 0, the cluster pattern
    // otherwise); distinct-luma = 1 is the flat detector
    "q_image_quality" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM d),
        |ys AS (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |lum AS (SELECT doc_id, w, h,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM ys)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(MIN(l) AS BIGINT) AS min_luma, CAST(MAX(l) AS BIGINT) AS max_luma,
        |  CAST(SUM(l) AS BIGINT) AS sum_luma,
        |  CAST(SUM(l * l) AS BIGINT) AS sum_luma_sq,
        |  CAST(COUNT(DISTINCT l) AS INTEGER) AS n_distinct_luma,
        |  COUNT(DISTINCT l) = 1 AS is_flat
        |FROM lum GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // fused one-decode stage: the q_image_quality pixel stats joined
    // with the dhash grid replay over the SAME skewed fixture (flat
    // images have constant luma => every direction bit 0 => dhash 0)
    "q_image_stats_dhash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM d),
        |ys AS (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |lum AS (SELECT doc_id, w, h,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM ys),
        |stats AS (SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(MIN(l) AS BIGINT) AS min_luma, CAST(MAX(l) AS BIGINT) AS max_luma,
        |  CAST(SUM(l) AS BIGINT) AS sum_luma,
        |  CAST(SUM(l * l) AS BIGINT) AS sum_luma_sq,
        |  CAST(COUNT(DISTINCT l) AS INTEGER) AS n_distinct_luma,
        |  COUNT(DISTINCT l) = 1 AS is_flat
        |  FROM lum GROUP BY doc_id, w, h),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |slum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM slum a JOIN slum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id)
        |SELECT s.doc_id, s.width, s.height, s.n_pixels, s.min_luma, s.max_luma,
        |  s.sum_luma, s.sum_luma_sq, s.n_distinct_luma, s.is_flat, h.dhash
        |FROM stats s JOIN hsh h ON h.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // junk-audio gate: the clustered PCM pattern's amplitude profile —
    // near-clipping and near-silence counts, integer flags
    "q_audio_quality" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, key, bump, 200 + key % 100 AS n FROM d),
        |s AS (SELECT doc_id, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n,
        |  (key * 31 + i * 17) % 2003 - 1001
        |    + CASE WHEN i = 0 THEN bump ELSE 0 END AS amp FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(MIN(amp) AS INTEGER) AS min_amp,
        |  CAST(MAX(amp) AS INTEGER) AS max_amp,
        |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs,
        |  CAST(SUM(CASE WHEN ABS(amp) >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |  SUM(CASE WHEN ABS(amp) >= 1000 THEN 1 ELSE 0 END) > 0 AS is_clipped,
        |  SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) * 2 >= n AS is_quiet
        |FROM a GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // multimodal funnel: junk gate (honest luma replay) → URL canon
    // chain → donor-join text groups → component walk over surviving
    // images → classifier gate, with per-stage doc/token counts
    // every CTE is AS MATERIALIZED: DuckDB 1.0 inlines CTEs, and this
    // chain of CTEs that reference earlier ones then outgrows memory
    "q_multimodal_funnel" ->
      """WITH RECURSIVE
        |geo AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |qx AS MATERIALIZED (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM geo),
        |qy AS MATERIALIZED (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM qx),
        |qlum AS MATERIALIZED (SELECT doc_id,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM qy),
        |vd AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 37 AS vkey, doc_id // 37 AS vbump,
        |    4 + (doc_id % 37) % 5 AS vn,
        |    8 + (doc_id % 37) % 9 AS vw, 8 + (doc_id % 37) % 7 AS vh
        |  FROM documents),
        |vf AS MATERIALIZED (SELECT doc_id, vkey, vbump, vn, vw, vh, unnest(range(0, vn)) AS fr FROM vd),
        |vjs AS MATERIALIZED (SELECT doc_id, vkey, vbump, fr, vw, vh, unnest(range(0, 7)) AS j FROM vf),
        |vg0 AS MATERIALIZED (SELECT doc_id, vkey, vbump, fr, vw, vh, j, unnest(range(0, 10)) AS i FROM vjs),
        |vgrid AS MATERIALIZED (SELECT doc_id, vkey, vbump, fr, j, i,
        |  ((2*i+1)*vw) // 20 AS x, ((2*j+1)*vh) // 14 AS y FROM vg0),
        |vlum AS MATERIALIZED (SELECT doc_id, fr, j, i,
        |  299 * (CASE WHEN fr = 0 AND x = 0 AND y = 0
        |    THEN ((vkey*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 + vbump) % 256
        |    ELSE (vkey*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((vkey*11 + fr*23 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((vkey*13 + fr*29 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM vgrid),
        |vbits AS MATERIALIZED (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM vlum a JOIN vlum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |vhsh AS MATERIALIZED (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM vbits GROUP BY doc_id, fr),
        |vstat AS MATERIALIZED (SELECT vd.doc_id,
        |    (SELECT COUNT(DISTINCT dhash) FROM vhsh
        |     WHERE vhsh.doc_id = vd.doc_id) = 1 AS is_static
        |  FROM vd),
        |vsl AS MATERIALIZED (SELECT doc_id, vn, unnest(range(0, 4)) AS sj FROM vd),
        |vsig AS MATERIALIZED (SELECT vsl.doc_id, vsl.sj, h2.dhash
        |  FROM vsl JOIN vhsh h2 ON h2.doc_id = vsl.doc_id
        |    AND h2.fr = (vsl.sj * vsl.vn) // 4),
        |s1 AS MATERIALIZED (
        |  SELECT q.doc_id FROM
        |    (SELECT doc_id FROM qlum GROUP BY doc_id
        |     HAVING COUNT(DISTINCT l) > 1) q
        |  JOIN vstat ON vstat.doc_id = q.doc_id
        |  WHERE NOT vstat.is_static),
        |msgurl AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    (CASE WHEN d.doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(d.doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN d.doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(d.doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN d.doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN d.doc_id % 2 = 0
        |      THEN '?b=' || CAST((d.doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((d.doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((d.doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((d.doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(d.doc_id AS VARCHAR) END) ||
        |    (CASE WHEN d.doc_id % 2 = 1
        |      THEN '#sec-' || CAST(d.doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents d JOIN s1 USING (doc_id)),
        |uq AS MATERIALIZED (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS MATERIALIZED (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS MATERIALIZED (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |s2 AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
        |txt AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |s3 AS MATERIALIZED (SELECT MIN(t.doc_id) AS doc_id FROM txt t JOIN s2 USING (doc_id)
        |       GROUP BY t.text),
        |js AS MATERIALIZED (SELECT g.doc_id, g.key, g.bump, g.w, g.h, unnest(range(0, 7)) AS j
        |  FROM geo g JOIN s3 USING (doc_id)),
        |g0 AS MATERIALIZED (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS MATERIALIZED (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS MATERIALIZED (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS MATERIALIZED (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS MATERIALIZED (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS MATERIALIZED (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM s3
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |s4 AS MATERIALIZED (SELECT doc_id FROM lab WHERE cluster_id = doc_id),
        |vsig4 AS MATERIALIZED (SELECT v.* FROM vsig v JOIN s4 ON s4.doc_id = v.doc_id),
        |vpairs AS MATERIALIZED (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM vsig4 a JOIN vsig4 b ON b.doc_id > a.doc_id AND b.sj = a.sj
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3),
        |vedges AS MATERIALIZED (SELECT src, dst FROM vpairs UNION ALL SELECT dst, src FROM vpairs),
        |vwalk(node, label) AS (
        |  SELECT doc_id, doc_id FROM s4
        |  UNION
        |  SELECT e.dst AS node, w.label FROM vwalk w JOIN vedges e ON e.src = w.node),
        |vlab AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS cluster_id
        |  FROM vwalk GROUP BY node),
        |s5 AS MATERIALIZED (SELECT doc_id FROM vlab WHERE cluster_id = doc_id),
        |tok AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    CAST(len(list_filter(string_split(t.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(t.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998) ) AS sum_milli
        |  FROM txt t),
        |s6 AS MATERIALIZED (SELECT s5.doc_id FROM s5 JOIN tok USING (doc_id)
        |       WHERE n_tokens > 0 AND sum_milli >= 0),
        |stg AS MATERIALIZED (
        |  SELECT 0 AS stage, 'input' AS stage_name, COUNT(*) AS n_docs,
        |    COALESCE(SUM(n_tokens), 0) AS n_tokens FROM documents JOIN tok USING (doc_id)
        |  UNION ALL SELECT 1, 'junk_media', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s1 JOIN tok USING (doc_id)
        |  UNION ALL SELECT 2, 'url_dedup', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s2 JOIN tok USING (doc_id)
        |  UNION ALL SELECT 3, 'exact_dedup', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s3 JOIN tok USING (doc_id)
        |  UNION ALL SELECT 4, 'image_neardup', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s4 JOIN tok USING (doc_id)
        |  UNION ALL SELECT 5, 'video_neardup', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s5 JOIN tok USING (doc_id)
        |  UNION ALL SELECT 6, 'quality', COUNT(*), COALESCE(SUM(n_tokens), 0)
        |    FROM s6 JOIN tok USING (doc_id))
        |SELECT CAST(stage AS INTEGER) AS stage, stage_name,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM stg ORDER BY stage""".stripMargin,
    // per-document audit report: the cross-modal verdict CTEs over the
    // SKEWED media fixture (flat branch in both the flatness and dHash
    // luma replays) + the classifier gate, one wide row per doc
    "q_curation_report" ->
      """WITH RECURSIVE
        |geo AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |qx AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM geo),
        |qy AS (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM qx),
        |qlum AS (SELECT doc_id,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM qy),
        |flatdoc AS (SELECT doc_id, COUNT(DISTINCT l) = 1 AS flat_image
        |  FROM qlum GROUP BY doc_id),
        |msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |uq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |umin AS (SELECT canonical_url, MIN(doc_id) AS url_min
        |  FROM canon GROUP BY canonical_url),
        |txt AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |tmin AS (SELECT text, MIN(doc_id) AS text_min FROM txt GROUP BY text),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM geo),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |tok AS (
        |  SELECT t.doc_id,
        |    CAST(len(list_filter(string_split(t.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(t.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998) ) AS sum_milli
        |  FROM txt t)
        |SELECT c.doc_id,
        |  c.doc_id > u.url_min AS url_dup,
        |  t2.doc_id > tm.text_min AS text_dup,
        |  l.cluster_id < c.doc_id AS image_dup,
        |  fd.flat_image,
        |  COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |  NOT (c.doc_id > u.url_min) AND NOT (t2.doc_id > tm.text_min)
        |    AND NOT (l.cluster_id < c.doc_id) AND NOT fd.flat_image
        |    AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |FROM canon c
        |JOIN umin u USING (canonical_url)
        |JOIN txt t2 ON t2.doc_id = c.doc_id
        |JOIN tmin tm ON tm.text = t2.text
        |JOIN lab l ON l.doc_id = c.doc_id
        |JOIN flatdoc fd ON fd.doc_id = c.doc_id
        |JOIN tok k ON k.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    // fused one-decode audio stage: the q_audio_quality amplitude
    // arithmetic + the q_audio_ehash energy-window replay over the SAME
    // skewed fixture (silent clips: 256 zero samples -> all stats 0,
    // is_quiet, ehash 0)
    "q_audio_stats_ehash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS silent,
        |    doc_id % 50 AS key, doc_id // 50 AS bump FROM documents),
        |p AS (SELECT doc_id, silent, key, bump,
        |  CASE WHEN silent THEN 256 ELSE 200 + key % 100 END AS n FROM d),
        |s AS (SELECT doc_id, silent, key, bump, n, unnest(range(0, n)) AS i FROM p),
        |a AS (SELECT doc_id, n, i,
        |  CASE WHEN silent THEN 0
        |    ELSE (key * 31 + i * 17) % 2003 - 1001
        |      + CASE WHEN i = 0 THEN bump ELSE 0 END END AS amp FROM s),
        |q AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(MIN(amp) AS INTEGER) AS min_amp,
        |  CAST(MAX(amp) AS INTEGER) AS max_amp,
        |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs,
        |  CAST(SUM(CASE WHEN ABS(amp) >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |  SUM(CASE WHEN ABS(amp) >= 1000 THEN 1 ELSE 0 END) > 0 AS is_clipped,
        |  SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) * 2 >= n AS is_quiet
        |  FROM a GROUP BY doc_id, n),
        |e AS (SELECT doc_id, (i * 64) // n AS w, SUM(amp * amp) AS energy
        |  FROM a GROUP BY doc_id, (i * 64) // n),
        |b AS (SELECT x.doc_id, x.w,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM e x JOIN e y ON y.doc_id = x.doc_id AND y.w = x.w + 1
        |  WHERE x.w < 63),
        |h AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << w) AS BIGINT) AS ehash
        |  FROM b GROUP BY doc_id)
        |SELECT q.doc_id, q.n_samples, q.min_amp, q.max_amp, q.sum_abs,
        |  q.n_clipped, q.n_silent, q.is_clipped, q.is_quiet, h.ehash
        |FROM q JOIN h ON h.doc_id = q.doc_id ORDER BY q.doc_id""".stripMargin,
    // fused one-decode video stage: the q_video_quality per-frame
    // replay + the slot signature read off the SAME frame-hash table
    // (slot j = frame (j*n)//4), pivoted to one column per slot
    "q_video_stats_phash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS junk, 6 + doc_id % 7 AS n,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 7 END AS h
        |  FROM documents),
        |f AS (SELECT doc_id, junk, n, w, h, unnest(range(0, n)) AS fr FROM d),
        |sc AS (SELECT doc_id, junk, n, w, h, fr, fr // 3 AS scene FROM f),
        |px AS (SELECT doc_id, junk, scene, fr, w, h, unnest(range(0, w)) AS x FROM sc),
        |py AS (SELECT doc_id, junk, scene, fr, w, h, x, unnest(range(0, h)) AS y FROM px),
        |flum AS (SELECT doc_id, fr,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM py),
        |flatf AS (SELECT doc_id, fr,
        |  CASE WHEN COUNT(DISTINCT l) = 1 THEN 1 ELSE 0 END AS flat
        |  FROM flum GROUP BY doc_id, fr),
        |js AS (SELECT doc_id, junk, scene, fr, w, h, unnest(range(0, 7)) AS j FROM sc),
        |g0 AS (SELECT doc_id, junk, scene, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, junk, scene, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, fr, j, i,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, fr),
        |agg AS (SELECT d.doc_id, d.n,
        |    (SELECT SUM(flat) FROM flatf WHERE flatf.doc_id = d.doc_id) AS n_flat,
        |    (SELECT COUNT(DISTINCT dhash) FROM hsh WHERE hsh.doc_id = d.doc_id)
        |      AS n_hashes
        |  FROM d),
        |sl AS (SELECT doc_id, n, unnest(range(0, 4)) AS sj FROM d),
        |sig AS (SELECT sl.doc_id, sl.sj, h2.dhash
        |  FROM sl JOIN hsh h2 ON h2.doc_id = sl.doc_id
        |    AND h2.fr = (sl.sj * sl.n) // 4)
        |SELECT a.doc_id, CAST(a.n AS INTEGER) AS n_frames, 12 AS fps,
        |  CAST(a.n_flat AS INTEGER) AS n_flat_frames,
        |  CAST(a.n_hashes AS INTEGER) AS n_distinct_hashes,
        |  a.n_hashes = 1 AS is_static,
        |  a.n_flat = a.n AS is_flat,
        |  MAX(CASE WHEN s.sj = 0 THEN s.dhash END) AS sig0,
        |  MAX(CASE WHEN s.sj = 1 THEN s.dhash END) AS sig1,
        |  MAX(CASE WHEN s.sj = 2 THEN s.dhash END) AS sig2,
        |  MAX(CASE WHEN s.sj = 3 THEN s.dhash END) AS sig3
        |FROM agg a JOIN sig s ON s.doc_id = a.doc_id
        |GROUP BY a.doc_id, a.n, a.n_flat, a.n_hashes
        |ORDER BY a.doc_id""".stripMargin,
    // the FULL-modality audit: the q_curation_report oracle extended
    // with the audio block (skewed eHash replay + quiet gate +
    // recursive walk over hamming<=6 pairs) and the video block (junk
    // slot signatures + static gate + recursive walk over
    // total-hamming<=3 pairs) — three independent component walks in
    // one WITH RECURSIVE
    "q_media_curation_report" ->
      """WITH RECURSIVE
        |geo AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |qx AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM geo),
        |qy AS (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM qx),
        |qlum AS (SELECT doc_id,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM qy),
        |flatdoc AS (SELECT doc_id, COUNT(DISTINCT l) = 1 AS flat_image
        |  FROM qlum GROUP BY doc_id),
        |msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |uq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |umin AS (SELECT canonical_url, MIN(doc_id) AS url_min
        |  FROM canon GROUP BY canonical_url),
        |txt AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |tmin AS (SELECT text, MIN(doc_id) AS text_min FROM txt GROUP BY text),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM geo),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |ad AS (SELECT doc_id, doc_id % 4 = 0 AS silent,
        |    doc_id % 50 AS akey, doc_id // 50 AS abump FROM documents),
        |ap AS (SELECT doc_id, silent, akey, abump,
        |  CASE WHEN silent THEN 256 ELSE 200 + akey % 100 END AS an FROM ad),
        |asamp AS (SELECT doc_id, silent, akey, abump, an,
        |  unnest(range(0, an)) AS ai FROM ap),
        |aamp AS (SELECT doc_id, an, ai,
        |  CASE WHEN silent THEN 0
        |    ELSE (akey * 31 + ai * 17) % 2003 - 1001
        |      + CASE WHEN ai = 0 THEN abump ELSE 0 END END AS amp FROM asamp),
        |aquiet AS (SELECT doc_id,
        |  SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) * 2 >= an AS quiet
        |  FROM aamp GROUP BY doc_id, an),
        |ae AS (SELECT doc_id, (ai * 64) // an AS aw, SUM(amp * amp) AS energy
        |  FROM aamp GROUP BY doc_id, (ai * 64) // an),
        |ab AS (SELECT x.doc_id, x.aw,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM ae x JOIN ae y ON y.doc_id = x.doc_id AND y.aw = x.aw + 1
        |  WHERE x.aw < 63),
        |ah AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << aw) AS BIGINT) AS ehash
        |  FROM ab GROUP BY doc_id),
        |apairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.ehash, b.ehash)) <= 6),
        |aedges AS (SELECT src, dst FROM apairs UNION ALL SELECT dst, src FROM apairs),
        |awalk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM awalk w JOIN aedges e ON e.src = w.node),
        |alab AS (SELECT node AS doc_id, MIN(label) AS cluster_id
        |  FROM awalk GROUP BY node),
        |vd AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS junk, 6 + doc_id % 7 AS vn,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 9 END AS vw,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 7 END AS vh
        |  FROM documents),
        |vf AS (SELECT doc_id, junk, vn, vw, vh, unnest(range(0, vn)) AS fr FROM vd),
        |vsc AS (SELECT doc_id, junk, vn, vw, vh, fr, fr // 3 AS scene FROM vf),
        |vjs AS (SELECT doc_id, junk, scene, fr, vw, vh, unnest(range(0, 7)) AS j FROM vsc),
        |vg0 AS (SELECT doc_id, junk, scene, fr, vw, vh, j, unnest(range(0, 10)) AS i FROM vjs),
        |vgrid AS (SELECT doc_id, junk, scene, fr, j, i,
        |  ((2*i+1)*vw) // 20 AS x, ((2*j+1)*vh) // 14 AS y FROM vg0),
        |vlum AS (SELECT doc_id, fr, j, i,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM vgrid),
        |vbits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM vlum a JOIN vlum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |vhsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM vbits GROUP BY doc_id, fr),
        |vstat AS (SELECT vd.doc_id,
        |    (SELECT COUNT(DISTINCT dhash) FROM vhsh
        |     WHERE vhsh.doc_id = vd.doc_id) = 1 AS is_static
        |  FROM vd),
        |vsl AS (SELECT doc_id, vn, unnest(range(0, 4)) AS sj FROM vd),
        |vsig AS (SELECT vsl.doc_id, vsl.sj, h2.dhash
        |  FROM vsl JOIN vhsh h2 ON h2.doc_id = vsl.doc_id
        |    AND h2.fr = (vsl.sj * vsl.vn) // 4),
        |vpairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM vsig a JOIN vsig b ON b.doc_id > a.doc_id AND b.sj = a.sj
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3),
        |vedges AS (SELECT src, dst FROM vpairs UNION ALL SELECT dst, src FROM vpairs),
        |vwalk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM vwalk w JOIN vedges e ON e.src = w.node),
        |vlab AS (SELECT node AS doc_id, MIN(label) AS cluster_id
        |  FROM vwalk GROUP BY node),
        |tok AS (
        |  SELECT t.doc_id,
        |    CAST(len(list_filter(string_split(t.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(t.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998) ) AS sum_milli
        |  FROM txt t)
        |SELECT c.doc_id,
        |  c.doc_id > u.url_min AS url_dup,
        |  t2.doc_id > tm.text_min AS text_dup,
        |  l.cluster_id < c.doc_id AS image_dup,
        |  fd.flat_image,
        |  al.cluster_id < c.doc_id AS audio_dup,
        |  aqt.quiet AS quiet_audio,
        |  vl.cluster_id < c.doc_id AS video_dup,
        |  vst.is_static AS static_video,
        |  COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |  NOT (c.doc_id > u.url_min) AND NOT (t2.doc_id > tm.text_min)
        |    AND NOT (l.cluster_id < c.doc_id) AND NOT fd.flat_image
        |    AND NOT (al.cluster_id < c.doc_id) AND NOT aqt.quiet
        |    AND NOT (vl.cluster_id < c.doc_id) AND NOT vst.is_static
        |    AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |FROM canon c
        |JOIN umin u USING (canonical_url)
        |JOIN txt t2 ON t2.doc_id = c.doc_id
        |JOIN tmin tm ON tm.text = t2.text
        |JOIN lab l ON l.doc_id = c.doc_id
        |JOIN flatdoc fd ON fd.doc_id = c.doc_id
        |JOIN alab al ON al.doc_id = c.doc_id
        |JOIN aquiet aqt ON aqt.doc_id = c.doc_id
        |JOIN vlab vl ON vl.doc_id = c.doc_id
        |JOIN vstat vst ON vst.doc_id = c.doc_id
        |JOIN tok k ON k.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    // media cluster canonicalization: the skewed dhash replay + the
    // recursive component walk + per-cluster arg-max on the replayed
    // distinct-luma quality signal (rank: n_distinct_luma desc, doc asc)
    "q_image_cluster_reps" ->
      """WITH RECURSIVE
        |geo AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |qx AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, w)) AS x FROM geo),
        |qy AS (SELECT doc_id, flat, key, bump, w, h, x, unnest(range(0, h)) AS y FROM qx),
        |qlum AS (SELECT doc_id,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM qy),
        |ndl AS (SELECT doc_id, COUNT(DISTINCT l) AS n_distinct_luma
        |  FROM qlum GROUP BY doc_id),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM geo),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |mem AS (SELECT l.doc_id, l.cluster_id, cs.cluster_size,
        |    nd.n_distinct_luma, CAST(g.w * g.h AS BIGINT) AS n_pixels
        |  FROM lab l JOIN cs ON cs.cluster_id = l.cluster_id
        |  JOIN ndl nd ON nd.doc_id = l.doc_id
        |  JOIN geo g ON g.doc_id = l.doc_id
        |  WHERE cs.cluster_size > 1),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY n_distinct_luma DESC, doc_id) AS rn FROM mem)
        |SELECT cluster_id, CAST(MAX(cluster_size) AS INTEGER) AS cluster_size,
        |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
        |  CAST(MIN(CASE WHEN rn = 1 THEN n_distinct_luma END) AS INTEGER)
        |    AS rep_distinct_luma,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_pixels ELSE 0 END) AS BIGINT)
        |    AS dropped_pixels
        |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // audio cluster canonicalization: skewed eHash replay + walk +
    // arg-max on the exact |amplitude| sum
    "q_audio_cluster_reps" ->
      """WITH RECURSIVE
        |ad AS (SELECT doc_id, doc_id % 4 = 0 AS silent,
        |    doc_id % 50 AS akey, doc_id // 50 AS abump FROM documents),
        |ap AS (SELECT doc_id, silent, akey, abump,
        |  CASE WHEN silent THEN 256 ELSE 200 + akey % 100 END AS an FROM ad),
        |asamp AS (SELECT doc_id, silent, akey, abump, an,
        |  unnest(range(0, an)) AS ai FROM ap),
        |aamp AS (SELECT doc_id, an, ai,
        |  CASE WHEN silent THEN 0
        |    ELSE (akey * 31 + ai * 17) % 2003 - 1001
        |      + CASE WHEN ai = 0 THEN abump ELSE 0 END END AS amp FROM asamp),
        |astat AS (SELECT doc_id, CAST(an AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs
        |  FROM aamp GROUP BY doc_id, an),
        |ae AS (SELECT doc_id, (ai * 64) // an AS aw, SUM(amp * amp) AS energy
        |  FROM aamp GROUP BY doc_id, (ai * 64) // an),
        |ab AS (SELECT x.doc_id, x.aw,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM ae x JOIN ae y ON y.doc_id = x.doc_id AND y.aw = x.aw + 1
        |  WHERE x.aw < 63),
        |ah AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << aw) AS BIGINT) AS ehash
        |  FROM ab GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.ehash, b.ehash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |mem AS (SELECT l.doc_id, l.cluster_id, cs.cluster_size,
        |    st.n_samples, st.sum_abs
        |  FROM lab l JOIN cs ON cs.cluster_id = l.cluster_id
        |  JOIN astat st ON st.doc_id = l.doc_id
        |  WHERE cs.cluster_size > 1),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY sum_abs DESC, doc_id) AS rn FROM mem)
        |SELECT cluster_id, CAST(MAX(cluster_size) AS INTEGER) AS cluster_size,
        |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
        |  CAST(MIN(CASE WHEN rn = 1 THEN sum_abs END) AS BIGINT) AS rep_sum_abs,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_samples ELSE 0 END) AS BIGINT)
        |    AS dropped_samples
        |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // video cluster canonicalization: ALL-frame hash replay (for the
    // distinct-hash richness census) + slot-sig pair rule + walk +
    // arg-max
    "q_video_cluster_reps" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    4 + (doc_id % 50) % 5 AS n,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |f AS (SELECT doc_id, key, bump, n, w, h, unnest(range(0, n)) AS fr FROM d),
        |js AS (SELECT doc_id, key, bump, fr, w, h, unnest(range(0, 7)) AS j FROM f),
        |g0 AS (SELECT doc_id, key, bump, fr, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, fr, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, fr, j, i,
        |  299 * (CASE WHEN fr = 0 AND x = 0 AND y = 0
        |    THEN ((key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + fr*19 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + fr*23 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + fr*29 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |fh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id, fr),
        |nh AS (SELECT doc_id, COUNT(DISTINCT dhash) AS n_distinct_hashes
        |  FROM fh GROUP BY doc_id),
        |sl AS (SELECT doc_id, n, unnest(range(0, 4)) AS sj FROM d),
        |vsig AS (SELECT sl.doc_id, sl.sj, h2.dhash
        |  FROM sl JOIN fh h2 ON h2.doc_id = sl.doc_id
        |    AND h2.fr = (sl.sj * sl.n) // 4),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM vsig a JOIN vsig b ON a.doc_id < b.doc_id AND a.sj = b.sj
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |mem AS (SELECT l.doc_id, l.cluster_id, cs.cluster_size,
        |    nh.n_distinct_hashes, d2.n
        |  FROM lab l JOIN cs ON cs.cluster_id = l.cluster_id
        |  JOIN nh ON nh.doc_id = l.doc_id
        |  JOIN d d2 ON d2.doc_id = l.doc_id
        |  WHERE cs.cluster_size > 1),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY n_distinct_hashes DESC, doc_id) AS rn FROM mem)
        |SELECT cluster_id, CAST(MAX(cluster_size) AS INTEGER) AS cluster_size,
        |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
        |  CAST(MIN(CASE WHEN rn = 1 THEN n_distinct_hashes END) AS INTEGER)
        |    AS rep_distinct_hashes,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS dropped_frames
        |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // daily-ingest audit: EXISTS pair rules per modality (no component
    // walk — the verdicts are per-NEW-doc, not transitive) over the
    // same skewed/junk fingerprint replays; stored = doc_id % 50 < 25
    "q_media_ingest_audit" ->
      """WITH geo AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM geo),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |ips AS (SELECT DISTINCT n.doc_id FROM hsh n JOIN hsh o
        |  ON n.doc_id % 50 >= 25 AND o.doc_id % 50 < 25
        |  AND bit_count(xor(n.dhash, o.dhash)) <= 6),
        |ipn AS (SELECT DISTINCT n.doc_id FROM hsh n JOIN hsh o
        |  ON n.doc_id % 50 >= 25 AND o.doc_id % 50 >= 25 AND o.doc_id < n.doc_id
        |  AND bit_count(xor(n.dhash, o.dhash)) <= 6),
        |ad AS (SELECT doc_id, doc_id % 4 = 0 AS silent,
        |    doc_id % 50 AS akey, doc_id // 50 AS abump FROM documents),
        |ap AS (SELECT doc_id, silent, akey, abump,
        |  CASE WHEN silent THEN 256 ELSE 200 + akey % 100 END AS an FROM ad),
        |asamp AS (SELECT doc_id, silent, akey, abump, an,
        |  unnest(range(0, an)) AS ai FROM ap),
        |aamp AS (SELECT doc_id, an, ai,
        |  CASE WHEN silent THEN 0
        |    ELSE (akey * 31 + ai * 17) % 2003 - 1001
        |      + CASE WHEN ai = 0 THEN abump ELSE 0 END END AS amp FROM asamp),
        |aquiet AS (SELECT doc_id,
        |  SUM(CASE WHEN ABS(amp) <= 50 THEN 1 ELSE 0 END) * 2 >= an AS quiet
        |  FROM aamp GROUP BY doc_id, an),
        |ae AS (SELECT doc_id, (ai * 64) // an AS aw, SUM(amp * amp) AS energy
        |  FROM aamp GROUP BY doc_id, (ai * 64) // an),
        |ab AS (SELECT x.doc_id, x.aw,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM ae x JOIN ae y ON y.doc_id = x.doc_id AND y.aw = x.aw + 1
        |  WHERE x.aw < 63),
        |ah AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << aw) AS BIGINT) AS ehash
        |  FROM ab GROUP BY doc_id),
        |aps AS (SELECT DISTINCT n.doc_id FROM ah n JOIN ah o
        |  ON n.doc_id % 50 >= 25 AND o.doc_id % 50 < 25
        |  AND bit_count(xor(n.ehash, o.ehash)) <= 6),
        |apn AS (SELECT DISTINCT n.doc_id FROM ah n JOIN ah o
        |  ON n.doc_id % 50 >= 25 AND o.doc_id % 50 >= 25 AND o.doc_id < n.doc_id
        |  AND bit_count(xor(n.ehash, o.ehash)) <= 6),
        |vd AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS junk, 6 + doc_id % 7 AS vn,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 9 END AS vw,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 7 END AS vh
        |  FROM documents),
        |vf AS (SELECT doc_id, junk, vn, vw, vh, unnest(range(0, vn)) AS fr FROM vd),
        |vsc AS (SELECT doc_id, junk, vn, vw, vh, fr, fr // 3 AS scene FROM vf),
        |vjs AS (SELECT doc_id, junk, scene, fr, vw, vh, unnest(range(0, 7)) AS j FROM vsc),
        |vg0 AS (SELECT doc_id, junk, scene, fr, vw, vh, j, unnest(range(0, 10)) AS i FROM vjs),
        |vgrid AS (SELECT doc_id, junk, scene, fr, j, i,
        |  ((2*i+1)*vw) // 20 AS x, ((2*j+1)*vh) // 14 AS y FROM vg0),
        |vlum AS (SELECT doc_id, fr, j, i,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM vgrid),
        |vbits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM vlum a JOIN vlum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |vhsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM vbits GROUP BY doc_id, fr),
        |vstat AS (SELECT vd.doc_id,
        |    (SELECT COUNT(DISTINCT dhash) FROM vhsh
        |     WHERE vhsh.doc_id = vd.doc_id) = 1 AS is_static
        |  FROM vd),
        |vsl AS (SELECT doc_id, vn, unnest(range(0, 4)) AS sj FROM vd),
        |vsig AS (SELECT vsl.doc_id, vsl.sj, h2.dhash
        |  FROM vsl JOIN vhsh h2 ON h2.doc_id = vsl.doc_id
        |    AND h2.fr = (vsl.sj * vsl.vn) // 4),
        |vps AS (SELECT DISTINCT doc_id FROM (
        |  SELECT a.doc_id, b.doc_id AS o
        |  FROM vsig a JOIN vsig b ON a.sj = b.sj
        |    AND a.doc_id % 50 >= 25 AND b.doc_id % 50 < 25
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3)),
        |vpn AS (SELECT DISTINCT doc_id FROM (
        |  SELECT a.doc_id, b.doc_id AS o
        |  FROM vsig a JOIN vsig b ON a.sj = b.sj
        |    AND a.doc_id % 50 >= 25 AND b.doc_id % 50 >= 25
        |    AND b.doc_id < a.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING SUM(bit_count(xor(a.dhash, b.dhash))) <= 3))
        |SELECT d.doc_id,
        |  ips.doc_id IS NOT NULL AS image_dup_stored,
        |  ipn.doc_id IS NOT NULL AS image_dup_new,
        |  g.flat AS flat_image,
        |  aps.doc_id IS NOT NULL AS audio_dup_stored,
        |  apn.doc_id IS NOT NULL AS audio_dup_new,
        |  aq.quiet AS quiet_audio,
        |  vps.doc_id IS NOT NULL AS video_dup_stored,
        |  vpn.doc_id IS NOT NULL AS video_dup_new,
        |  vst.is_static AS static_video,
        |  ips.doc_id IS NULL AND ipn.doc_id IS NULL AND NOT g.flat
        |    AND aps.doc_id IS NULL AND apn.doc_id IS NULL AND NOT aq.quiet
        |    AND vps.doc_id IS NULL AND vpn.doc_id IS NULL AND NOT vst.is_static
        |    AS keep
        |FROM documents d
        |JOIN geo g ON g.doc_id = d.doc_id
        |JOIN aquiet aq ON aq.doc_id = d.doc_id
        |JOIN vstat vst ON vst.doc_id = d.doc_id
        |LEFT JOIN ips ON ips.doc_id = d.doc_id
        |LEFT JOIN ipn ON ipn.doc_id = d.doc_id
        |LEFT JOIN aps ON aps.doc_id = d.doc_id
        |LEFT JOIN apn ON apn.doc_id = d.doc_id
        |LEFT JOIN vps ON vps.doc_id = d.doc_id
        |LEFT JOIN vpn ON vpn.doc_id = d.doc_id
        |WHERE d.doc_id % 50 >= 25
        |ORDER BY d.doc_id""".stripMargin,
    // the same skewed-image dHash / skewed-audio eHash / junk-video
    // slot-signature CTE blocks as q_media_ingest_audit, restricted to
    // the stored half (even doc_ids), aggregated per fingerprint group
    "q_store_compact" ->
      """WITH geo AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS flat,
        |    doc_id % 50 AS key, doc_id // 50 AS bump,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 9 END AS w,
        |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 + (doc_id % 50) % 7 END AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |js AS (SELECT doc_id, flat, key, bump, w, h, unnest(range(0, 7)) AS j FROM geo),
        |g0 AS (SELECT doc_id, flat, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, flat, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  CASE WHEN flat THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * (CASE WHEN x = 0 AND y = 0
        |        THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |        ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |      + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |ad AS (SELECT doc_id, doc_id % 4 = 0 AS silent,
        |    doc_id % 50 AS akey, doc_id // 50 AS abump
        |  FROM documents WHERE doc_id % 2 = 0),
        |ap AS (SELECT doc_id, silent, akey, abump,
        |  CASE WHEN silent THEN 256 ELSE 200 + akey % 100 END AS an FROM ad),
        |asamp AS (SELECT doc_id, silent, akey, abump, an,
        |  unnest(range(0, an)) AS ai FROM ap),
        |aamp AS (SELECT doc_id, an, ai,
        |  CASE WHEN silent THEN 0
        |    ELSE (akey * 31 + ai * 17) % 2003 - 1001
        |      + CASE WHEN ai = 0 THEN abump ELSE 0 END END AS amp FROM asamp),
        |ae AS (SELECT doc_id, (ai * 64) // an AS aw, SUM(amp * amp) AS energy
        |  FROM aamp GROUP BY doc_id, (ai * 64) // an),
        |ab AS (SELECT x.doc_id, x.aw,
        |    CASE WHEN y.energy > x.energy THEN 1 ELSE 0 END AS bit
        |  FROM ae x JOIN ae y ON y.doc_id = x.doc_id AND y.aw = x.aw + 1
        |  WHERE x.aw < 63),
        |ah AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << aw) AS BIGINT) AS ehash
        |  FROM ab GROUP BY doc_id),
        |vd AS (
        |  SELECT doc_id, doc_id % 4 = 0 AS junk, 6 + doc_id % 7 AS vn,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 9 END AS vw,
        |    CASE WHEN doc_id % 4 = 0 THEN 12 ELSE 8 + doc_id % 7 END AS vh
        |  FROM documents WHERE doc_id % 2 = 0),
        |vf AS (SELECT doc_id, junk, vn, vw, vh, unnest(range(0, vn)) AS fr FROM vd),
        |vsc AS (SELECT doc_id, junk, vn, vw, vh, fr, fr // 3 AS scene FROM vf),
        |vjs AS (SELECT doc_id, junk, scene, fr, vw, vh, unnest(range(0, 7)) AS j FROM vsc),
        |vg0 AS (SELECT doc_id, junk, scene, fr, vw, vh, j, unnest(range(0, 10)) AS i FROM vjs),
        |vgrid AS (SELECT doc_id, junk, scene, fr, j, i,
        |  ((2*i+1)*vw) // 20 AS x, ((2*j+1)*vh) // 14 AS y FROM vg0),
        |vlum AS (SELECT doc_id, fr, j, i,
        |  CASE WHEN junk THEN 1000 * ((doc_id * 31) % 256)
        |    ELSE 299 * ((doc_id*7 + scene*97 + x*37 + y*59 + x*y*13) % 256)
        |      + 587 * ((doc_id*11 + scene*89 + x*23 + y*41 + x*y*7) % 256)
        |      + 114 * ((doc_id*13 + scene*83 + x*29 + y*31 + x*y*17) % 256) END AS l
        |  FROM vgrid),
        |vbits AS (SELECT a.doc_id, a.fr, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM vlum a JOIN vlum b ON b.doc_id = a.doc_id AND b.fr = a.fr
        |    AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |vhsh AS (SELECT doc_id, fr,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM vbits GROUP BY doc_id, fr),
        |vsl AS (SELECT doc_id, vn, unnest(range(0, 4)) AS sj FROM vd),
        |vsig AS (SELECT vsl.doc_id, vsl.sj, h2.dhash
        |  FROM vsl JOIN vhsh h2 ON h2.doc_id = vsl.doc_id
        |    AND h2.fr = (vsl.sj * vsl.vn) // 4),
        |ig AS (SELECT dhash, COUNT(*) AS n FROM hsh GROUP BY dhash),
        |ag AS (SELECT ehash, COUNT(*) AS n FROM ah GROUP BY ehash),
        |vsigl AS (SELECT doc_id, list(dhash ORDER BY sj) AS sig
        |  FROM vsig GROUP BY doc_id),
        |vg AS (SELECT sig, COUNT(*) AS n FROM vsigl GROUP BY sig)
        |SELECT * FROM (
        |  SELECT 'image' AS modality, CAST(SUM(n) AS BIGINT) AS rows_before,
        |    COUNT(*) AS exemplars, CAST(SUM(n) - COUNT(*) AS BIGINT) AS dropped,
        |    CAST(MAX(n) AS BIGINT) AS max_group FROM ig
        |  UNION ALL
        |  SELECT 'audio', CAST(SUM(n) AS BIGINT), COUNT(*),
        |    CAST(SUM(n) - COUNT(*) AS BIGINT), CAST(MAX(n) AS BIGINT) FROM ag
        |  UNION ALL
        |  SELECT 'video', CAST(SUM(n) AS BIGINT), COUNT(*),
        |    CAST(SUM(n) - COUNT(*) AS BIGINT), CAST(MAX(n) AS BIGINT) FROM vg)
        |ORDER BY modality""".stripMargin,
    // the q_url_dedup canonicalization chain + the planted dup-text
    // donor rule + the q_incremental_neardup_md5 minhash CTEs (over
    // stored docs ∪ one rep per distinct new text) + the classifier
    // token replay, joined into per-new-doc stored/new verdicts
    "q_doc_ingest_audit" ->
      """WITH msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |uq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |scanon AS (SELECT DISTINCT canonical_url FROM canon WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 = 0),
        |numin AS (SELECT canonical_url, MIN(doc_id) AS url_min
        |  FROM canon WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 <> 0 GROUP BY canonical_url),
        |txt AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |stext AS (SELECT DISTINCT text FROM txt WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 = 0),
        |ntmin AS (SELECT text, MIN(doc_id) AS text_min
        |  FROM txt WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 <> 0 GROUP BY text),
        |sigdocs AS (
        |  SELECT doc_id, text, FALSE AS is_new FROM txt WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 = 0
        |  UNION ALL
        |  SELECT text_min AS doc_id, text, TRUE AS is_new FROM ntmin),
        |toks AS (SELECT doc_id, is_new, string_split(text, ' ') AS l FROM sigdocs),
        |sh AS (
        |  SELECT doc_id, is_new, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |mins AS (
        |  SELECT doc_id, is_new, seeds.i,
        |    min(('0x' || substr(md5(shingle || chr(1) || CAST(seeds.i AS VARCHAR)),
        |      1, 15))::BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) seeds
        |  GROUP BY doc_id, is_new, seeds.i),
        |bands AS (
        |  SELECT a.doc_id, a.is_new, a.i // 2 AS band_idx,
        |    CAST(a.h AS VARCHAR) || ':' || CAST(b.h AS VARCHAR) AS band_key
        |  FROM mins a JOIN mins b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.is_new AS a_new, y.is_new AS b_new
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id AND (x.is_new OR y.is_new)),
        |est AS (
        |  SELECT c.doc_a, c.doc_b, c.a_new, c.b_new,
        |    round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) / 16.0, 6) AS ej
        |  FROM cand c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2, 3, 4),
        |hits AS (SELECT * FROM est WHERE ej >= 0.5),
        |nds AS (SELECT DISTINCT CASE WHEN a_new THEN doc_a ELSE doc_b END AS rep
        |  FROM hits WHERE a_new <> b_new),
        |ndn AS (SELECT DISTINCT doc_b AS rep FROM hits WHERE a_new AND b_new),
        |tok AS (
        |  SELECT t.doc_id,
        |    CAST(len(list_filter(string_split(t.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(t.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998)) AS sum_milli
        |  FROM txt t WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 <> 0)
        |SELECT t.doc_id,
        |  sc.canonical_url IS NOT NULL AS url_dup_stored,
        |  t.doc_id <> u.url_min AS url_dup_new,
        |  stx.text IS NOT NULL AS text_dup_stored,
        |  t.doc_id <> tm.text_min AS text_dup_new,
        |  nds.rep IS NOT NULL AS neardup_stored,
        |  (t.doc_id <> tm.text_min OR ndn.rep IS NOT NULL) AS neardup_new,
        |  COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |  sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |    AND stx.text IS NULL AND t.doc_id = tm.text_min
        |    AND nds.rep IS NULL AND ndn.rep IS NULL AS novel,
        |  sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |    AND stx.text IS NULL AND t.doc_id = tm.text_min
        |    AND nds.rep IS NULL AND ndn.rep IS NULL
        |    AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |FROM txt t
        |JOIN canon c ON c.doc_id = t.doc_id
        |JOIN numin u ON u.canonical_url = c.canonical_url
        |JOIN ntmin tm ON tm.text = t.text
        |LEFT JOIN scanon sc ON sc.canonical_url = c.canonical_url
        |LEFT JOIN stext stx ON stx.text = t.text
        |LEFT JOIN nds ON nds.rep = tm.text_min
        |LEFT JOIN ndn ON ndn.rep = tm.text_min
        |LEFT JOIN tok k ON k.doc_id = t.doc_id
        |WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 <> 0
        |ORDER BY t.doc_id""".stripMargin,
    // the chained 3-day text ingest loop in one SQL: the day-audit
    // block above repeated per day, each day's stored url/text/sig
    // sets = seed ∪ prior days' novel fingerprints (the fold's append
    // contract). Signatures are per-doc and chain-independent, so the
    // minhash CTEs run ONCE over seed docs + each day's text reps;
    // only the band-join MEMBERSHIP (and its is_new labeling — a
    // day-1 novel rep is a STORED side in days 2-3) varies per day
    // every CTE is AS MATERIALIZED: DuckDB 1.0 inlines CTEs, and this
    // chain of CTEs that reference earlier ones then outgrows memory
    "q_doc_ingest_chain" ->
      """WITH msgurl AS MATERIALIZED (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |uq AS MATERIALIZED (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS MATERIALIZED (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS MATERIALIZED (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |spl AS MATERIALIZED (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INTEGER % 3 = 0 AS seed,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < '6' THEN 1
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) < 'b' THEN 2
        |         ELSE 3 END AS day
        |  FROM documents),
        |txt AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |tok AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    CAST(len(list_filter(string_split(t.text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    list_sum(list_transform(list_filter(string_split(t.text, ' '), x -> x <> ''),
        |      x -> (((('0x' || substr(md5(x || chr(1) || '0'), 1, 15))::BIGINT % 1024)
        |        * 2654435761) % 1997) - 998)) AS sum_milli
        |  FROM txt t JOIN spl p ON p.doc_id = t.doc_id WHERE NOT p.seed),
        |tmin1 AS MATERIALIZED (SELECT t.text, MIN(t.doc_id) AS text_min FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id
        |  WHERE NOT p.seed AND p.day = 1 GROUP BY t.text),
        |tmin2 AS MATERIALIZED (SELECT t.text, MIN(t.doc_id) AS text_min FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id
        |  WHERE NOT p.seed AND p.day = 2 GROUP BY t.text),
        |tmin3 AS MATERIALIZED (SELECT t.text, MIN(t.doc_id) AS text_min FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id
        |  WHERE NOT p.seed AND p.day = 3 GROUP BY t.text),
        |sigdocs AS MATERIALIZED (
        |  SELECT t.doc_id, t.text FROM txt t
        |    JOIN spl p ON p.doc_id = t.doc_id WHERE p.seed
        |  UNION ALL SELECT text_min AS doc_id, text FROM tmin1
        |  UNION ALL SELECT text_min AS doc_id, text FROM tmin2
        |  UNION ALL SELECT text_min AS doc_id, text FROM tmin3),
        |toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS l FROM sigdocs),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 3),
        |    i -> array_to_string(l[i:i+4], ' ')))) AS shingle
        |  FROM toks WHERE len(l) >= 5),
        |mins AS MATERIALIZED (
        |  SELECT doc_id, seeds.i,
        |    min(('0x' || substr(md5(shingle || chr(1) || CAST(seeds.i AS VARCHAR)),
        |      1, 15))::BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) seeds
        |  GROUP BY doc_id, seeds.i),
        |bands AS MATERIALIZED (
        |  SELECT a.doc_id, a.i // 2 AS band_idx,
        |    CAST(a.h AS VARCHAR) || ':' || CAST(b.h AS VARCHAR) AS band_key
        |  FROM mins a JOIN mins b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 0),
        |scanon1 AS MATERIALIZED (SELECT DISTINCT c.canonical_url FROM canon c
        |  JOIN spl p ON p.doc_id = c.doc_id WHERE p.seed),
        |stext1 AS MATERIALIZED (SELECT DISTINCT t.text FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id WHERE p.seed),
        |numin1 AS MATERIALIZED (SELECT c.canonical_url, MIN(c.doc_id) AS url_min FROM canon c
        |  JOIN spl p ON p.doc_id = c.doc_id
        |  WHERE NOT p.seed AND p.day = 1 GROUP BY c.canonical_url),
        |mem1 AS MATERIALIZED (
        |  SELECT doc_id, FALSE AS is_new FROM spl WHERE seed
        |  UNION ALL SELECT text_min AS doc_id, TRUE FROM tmin1),
        |cand1 AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    mx.is_new AS a_new, my.is_new AS b_new
        |  FROM bands x JOIN mem1 mx ON mx.doc_id = x.doc_id
        |  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id
        |  JOIN mem1 my ON my.doc_id = y.doc_id
        |  WHERE mx.is_new OR my.is_new),
        |est1 AS MATERIALIZED (
        |  SELECT c.doc_a, c.doc_b, c.a_new, c.b_new,
        |    round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) / 16.0, 6) AS ej
        |  FROM cand1 c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2, 3, 4),
        |hits1 AS MATERIALIZED (SELECT * FROM est1 WHERE ej >= 0.5),
        |nds1 AS MATERIALIZED (SELECT DISTINCT CASE WHEN a_new THEN doc_a ELSE doc_b END AS rep
        |  FROM hits1 WHERE a_new <> b_new),
        |ndn1 AS MATERIALIZED (SELECT DISTINCT doc_b AS rep FROM hits1 WHERE a_new AND b_new),
        |aud1 AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    sc.canonical_url IS NOT NULL AS url_dup_stored,
        |    t.doc_id <> u.url_min AS url_dup_new,
        |    stx.text IS NOT NULL AS text_dup_stored,
        |    t.doc_id <> tm.text_min AS text_dup_new,
        |    nds1.rep IS NOT NULL AS neardup_stored,
        |    (t.doc_id <> tm.text_min OR ndn1.rep IS NOT NULL) AS neardup_new,
        |    COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds1.rep IS NULL AND ndn1.rep IS NULL AS novel,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds1.rep IS NULL AND ndn1.rep IS NULL
        |      AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |  FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id AND NOT p.seed AND p.day = 1
        |  JOIN canon c ON c.doc_id = t.doc_id
        |  JOIN numin1 u ON u.canonical_url = c.canonical_url
        |  JOIN tmin1 tm ON tm.text = t.text
        |  LEFT JOIN scanon1 sc ON sc.canonical_url = c.canonical_url
        |  LEFT JOIN stext1 stx ON stx.text = t.text
        |  LEFT JOIN nds1 ON nds1.rep = tm.text_min
        |  LEFT JOIN ndn1 ON ndn1.rep = tm.text_min
        |  LEFT JOIN tok k ON k.doc_id = t.doc_id),
        |nov1 AS MATERIALIZED (SELECT doc_id FROM aud1 WHERE novel),
        |scanon2 AS MATERIALIZED (SELECT canonical_url FROM scanon1
        |  UNION SELECT c.canonical_url FROM canon c JOIN nov1 ON nov1.doc_id = c.doc_id),
        |stext2 AS MATERIALIZED (SELECT text FROM stext1
        |  UNION SELECT t.text FROM txt t JOIN nov1 ON nov1.doc_id = t.doc_id),
        |numin2 AS MATERIALIZED (SELECT c.canonical_url, MIN(c.doc_id) AS url_min FROM canon c
        |  JOIN spl p ON p.doc_id = c.doc_id
        |  WHERE NOT p.seed AND p.day = 2 GROUP BY c.canonical_url),
        |mem2 AS MATERIALIZED (
        |  SELECT doc_id, FALSE AS is_new FROM spl WHERE seed
        |  UNION ALL SELECT doc_id, FALSE FROM nov1
        |  UNION ALL SELECT text_min AS doc_id, TRUE FROM tmin2),
        |cand2 AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    mx.is_new AS a_new, my.is_new AS b_new
        |  FROM bands x JOIN mem2 mx ON mx.doc_id = x.doc_id
        |  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id
        |  JOIN mem2 my ON my.doc_id = y.doc_id
        |  WHERE mx.is_new OR my.is_new),
        |est2 AS MATERIALIZED (
        |  SELECT c.doc_a, c.doc_b, c.a_new, c.b_new,
        |    round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) / 16.0, 6) AS ej
        |  FROM cand2 c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2, 3, 4),
        |hits2 AS MATERIALIZED (SELECT * FROM est2 WHERE ej >= 0.5),
        |nds2 AS MATERIALIZED (SELECT DISTINCT CASE WHEN a_new THEN doc_a ELSE doc_b END AS rep
        |  FROM hits2 WHERE a_new <> b_new),
        |ndn2 AS MATERIALIZED (SELECT DISTINCT doc_b AS rep FROM hits2 WHERE a_new AND b_new),
        |aud2 AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    sc.canonical_url IS NOT NULL AS url_dup_stored,
        |    t.doc_id <> u.url_min AS url_dup_new,
        |    stx.text IS NOT NULL AS text_dup_stored,
        |    t.doc_id <> tm.text_min AS text_dup_new,
        |    nds2.rep IS NOT NULL AS neardup_stored,
        |    (t.doc_id <> tm.text_min OR ndn2.rep IS NOT NULL) AS neardup_new,
        |    COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds2.rep IS NULL AND ndn2.rep IS NULL AS novel,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds2.rep IS NULL AND ndn2.rep IS NULL
        |      AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |  FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id AND NOT p.seed AND p.day = 2
        |  JOIN canon c ON c.doc_id = t.doc_id
        |  JOIN numin2 u ON u.canonical_url = c.canonical_url
        |  JOIN tmin2 tm ON tm.text = t.text
        |  LEFT JOIN scanon2 sc ON sc.canonical_url = c.canonical_url
        |  LEFT JOIN stext2 stx ON stx.text = t.text
        |  LEFT JOIN nds2 ON nds2.rep = tm.text_min
        |  LEFT JOIN ndn2 ON ndn2.rep = tm.text_min
        |  LEFT JOIN tok k ON k.doc_id = t.doc_id),
        |nov2 AS MATERIALIZED (SELECT doc_id FROM aud2 WHERE novel),
        |scanon3 AS MATERIALIZED (SELECT canonical_url FROM scanon2
        |  UNION SELECT c.canonical_url FROM canon c JOIN nov2 ON nov2.doc_id = c.doc_id),
        |stext3 AS MATERIALIZED (SELECT text FROM stext2
        |  UNION SELECT t.text FROM txt t JOIN nov2 ON nov2.doc_id = t.doc_id),
        |numin3 AS MATERIALIZED (SELECT c.canonical_url, MIN(c.doc_id) AS url_min FROM canon c
        |  JOIN spl p ON p.doc_id = c.doc_id
        |  WHERE NOT p.seed AND p.day = 3 GROUP BY c.canonical_url),
        |mem3 AS MATERIALIZED (
        |  SELECT doc_id, FALSE AS is_new FROM spl WHERE seed
        |  UNION ALL SELECT doc_id, FALSE FROM nov1
        |  UNION ALL SELECT doc_id, FALSE FROM nov2
        |  UNION ALL SELECT text_min AS doc_id, TRUE FROM tmin3),
        |cand3 AS MATERIALIZED (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    mx.is_new AS a_new, my.is_new AS b_new
        |  FROM bands x JOIN mem3 mx ON mx.doc_id = x.doc_id
        |  JOIN bands y ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        |    AND x.doc_id < y.doc_id
        |  JOIN mem3 my ON my.doc_id = y.doc_id
        |  WHERE mx.is_new OR my.is_new),
        |est3 AS MATERIALIZED (
        |  SELECT c.doc_a, c.doc_b, c.a_new, c.b_new,
        |    round(sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) / 16.0, 6) AS ej
        |  FROM cand3 c
        |  JOIN mins ma ON ma.doc_id = c.doc_a
        |  JOIN mins mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
        |  GROUP BY 1, 2, 3, 4),
        |hits3 AS MATERIALIZED (SELECT * FROM est3 WHERE ej >= 0.5),
        |nds3 AS MATERIALIZED (SELECT DISTINCT CASE WHEN a_new THEN doc_a ELSE doc_b END AS rep
        |  FROM hits3 WHERE a_new <> b_new),
        |ndn3 AS MATERIALIZED (SELECT DISTINCT doc_b AS rep FROM hits3 WHERE a_new AND b_new),
        |aud3 AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    sc.canonical_url IS NOT NULL AS url_dup_stored,
        |    t.doc_id <> u.url_min AS url_dup_new,
        |    stx.text IS NOT NULL AS text_dup_stored,
        |    t.doc_id <> tm.text_min AS text_dup_new,
        |    nds3.rep IS NOT NULL AS neardup_stored,
        |    (t.doc_id <> tm.text_min OR ndn3.rep IS NOT NULL) AS neardup_new,
        |    COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS quality_kept,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds3.rep IS NULL AND ndn3.rep IS NULL AS novel,
        |    sc.canonical_url IS NULL AND t.doc_id = u.url_min
        |      AND stx.text IS NULL AND t.doc_id = tm.text_min
        |      AND nds3.rep IS NULL AND ndn3.rep IS NULL
        |      AND COALESCE(k.n_tokens > 0 AND k.sum_milli >= 0, FALSE) AS keep
        |  FROM txt t
        |  JOIN spl p ON p.doc_id = t.doc_id AND NOT p.seed AND p.day = 3
        |  JOIN canon c ON c.doc_id = t.doc_id
        |  JOIN numin3 u ON u.canonical_url = c.canonical_url
        |  JOIN tmin3 tm ON tm.text = t.text
        |  LEFT JOIN scanon3 sc ON sc.canonical_url = c.canonical_url
        |  LEFT JOIN stext3 stx ON stx.text = t.text
        |  LEFT JOIN nds3 ON nds3.rep = tm.text_min
        |  LEFT JOIN ndn3 ON ndn3.rep = tm.text_min
        |  LEFT JOIN tok k ON k.doc_id = t.doc_id)
        |SELECT 1 AS day, * FROM aud1
        |UNION ALL SELECT 2 AS day, * FROM aud2
        |UNION ALL SELECT 3 AS day, * FROM aud3
        |ORDER BY day, doc_id""".stripMargin,
    // cross-modal composition: the q_url_dedup canonicalization chain
    // (messy-URL fixture), the planted dup-text donor join, and the
    // q_image_clusters dHash + recursive component walk, disjoined into
    // one verdict per doc
    "q_crossmodal_dedup" ->
      """WITH RECURSIVE
        |msgurl AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    ['News.Example.COM', 'BLOG.Example.org', 'Wiki.EXAMPLE.net',
        |     'Forum.example.IO', 'DOCS.Example.dev'][CAST(doc_id % 5 AS INTEGER) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN '?b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&utm_source=feed&a=' || CAST((doc_id % 100) % 5 AS VARCHAR)
        |      ELSE '?a=' || CAST((doc_id % 100) % 5 AS VARCHAR) ||
        |           '&b=' || CAST((doc_id % 100) % 7 AS VARCHAR) ||
        |           '&gclid=g' || CAST(doc_id AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 2 = 1
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) AS url
        |  FROM documents),
        |uq AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
        |  FROM msgurl),
        |ur AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|igshid)='))) AS params
        |  FROM uq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |    (CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(params, '&') ELSE '' END) AS canonical_url
        |  FROM ur),
        |umin AS (SELECT canonical_url, MIN(doc_id) AS url_min
        |  FROM canon GROUP BY canonical_url),
        |txt AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 7 = 3 AND donor.text IS NOT NULL
        |      THEN donor.text ELSE d.text END AS text
        |  FROM documents d LEFT JOIN documents donor
        |    ON donor.doc_id = d.doc_id - 1),
        |tmin AS (SELECT text, MIN(doc_id) AS text_min FROM txt GROUP BY text),
        |d AS (
        |  SELECT doc_id, doc_id % 50 AS key, doc_id // 50 AS bump,
        |    8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h
        |  FROM documents),
        |js AS (SELECT doc_id, key, bump, w, h, unnest(range(0, 7)) AS j FROM d),
        |g0 AS (SELECT doc_id, key, bump, w, h, j, unnest(range(0, 10)) AS i FROM js),
        |grid AS (SELECT doc_id, key, bump, j, i,
        |  ((2*i+1)*w) // 20 AS x, ((2*j+1)*h) // 14 AS y FROM g0),
        |lum AS (SELECT doc_id, j, i,
        |  299 * (CASE WHEN x = 0 AND y = 0
        |    THEN ((key*7 + x*37 + y*59 + x*y*13) % 256 + bump) % 256
        |    ELSE (key*7 + x*37 + y*59 + x*y*13) % 256 END)
        |  + 587 * ((key*11 + x*23 + y*41 + x*y*7) % 256)
        |  + 114 * ((key*13 + x*29 + y*31 + x*y*17) % 256) AS l
        |  FROM grid),
        |bits AS (SELECT a.doc_id, a.j, a.i,
        |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
        |  WHERE a.i < 9),
        |hsh AS (SELECT doc_id,
        |  CAST(SUM(CAST(bit AS BIGINT) << (j*9 + i)) AS BIGINT) AS dhash
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
        |SELECT c.doc_id,
        |  c.doc_id > u.url_min AS url_dup,
        |  t2.doc_id > tm.text_min AS text_dup,
        |  l.cluster_id < c.doc_id AS image_dup,
        |  NOT (c.doc_id > u.url_min OR t2.doc_id > tm.text_min
        |       OR l.cluster_id < c.doc_id) AS keep
        |FROM canon c
        |JOIN umin u USING (canonical_url)
        |JOIN txt t2 ON t2.doc_id = c.doc_id
        |JOIN tmin tm ON tm.text = t2.text
        |JOIN lab l ON l.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin
  )
}
