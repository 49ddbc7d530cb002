package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Jobs

/** The end-to-end curation pipeline, as one operator: the stage
  * sequence a web-scale training corpus actually runs —
  *
  *   0 input
  *   1 URL dedup            (cheapest first: string arithmetic only)
  *   2 exact text dedup     (hash aggregation)
  *   3 near-dup canonicalization (shingle jaccard pairs → components →
  *                           keep the min-doc_id representative)
  *   4 quality gate         (hashing-trick classifier, kept = score ≥ 0)
  *   5 decontamination      (train side only; drop docs sharing ≥
  *                           `minShared` shingles with any eval doc)
  *   6 token budget         (greedy admission by quality, two-pass
  *                           global order — never a single-task sort)
  *
  * ordered so each stage shrinks the corpus the next (more expensive)
  * stage sees. Returns the funnel: one row per stage with surviving
  * doc and token counts — the artifact a data-curation run reports.
  *
  * Every stage rule is the same arithmetic as its standalone operator
  * (canonicalizeUrl, exactDedup's min-per-text, ngramJaccard +
  * connectedComponents, classifierQualityScore, decontaminate's
  * pair rule, tokenBudgetSelect's cumulative admission), so the whole
  * funnel is DuckDB-expressible and runs under the exact oracle
  * (`q_curation_funnel`) — the composition is verified end to end, not
  * just its parts.
  */
object Curation {

  /** The funnel's per-stage (n_docs, n_tokens) report in ONE
    * aggregation pass instead of one global-aggregate job per stage:
    * tag every stage's id set, union, join the token counts once,
    * aggregate by stage. One exchange where the per-stage form paid
    * one per stage (guide §2.4), and — since every stage list is
    * already cached by the time this runs — one job instead of N at
    * the final materialization. The static stage dimension is LEFT-
    * joined back so an empty stage still reports its (0, 0) row,
    * exactly as the old per-stage global aggregate did.
    */
  private def stageFunnel(allTok: DataFrame,
                          stages: Seq[(String, DataFrame)]): DataFrame = {
    val spark = allTok.sparkSession
    import spark.implicits._
    val tagged = stages.zipWithIndex.map { case ((_, ids), i) =>
      ids.select(col("doc_id"), lit(i).as("stage"))
    }.reduce(_.unionByName(_))
    val counts = tagged.join(allTok, "doc_id")
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val dim = stages.zipWithIndex
      .map { case ((name, _), i) => (i, name) }.toDF("stage", "stage_name")
    dim.join(counts, Seq("stage"), "left")
      .select(col("stage"), col("stage_name"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("stage")
  }

  def curationFunnel(documents: DataFrame, urlCol: String = "url",
                     k: Int = 5, jaccardThreshold: Double = 0.5,
                     minShared: Int = 3, tokenBudget: Long = 5000L,
                     embeddings: Option[DataFrame] = None,
                     semanticThreshold: Double = 0.35): DataFrame = {
    // ONE tokenization pass serves the stage token sums AND the
    // classifier gate: token counts and scores come from the same
    // cached per-doc frame (the funnel used to tokenize the corpus
    // once for allTok and again inside the classifier — at 100 TB
    // tokenization is a top-3 cost). Both views are projections of the
    // shared cache; the quality view re-applies the public operator's
    // zero-token filter so `kept` semantics are untouched.
    val tokStats = TextOps.classifierTokenStats(documents).persist()
    val allTok = tokStats.select(col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"))
    val quality = tokStats.filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("quality_score"), col("kept"))

    // 1: first fetch per canonical URL wins
    val s1 = WebOps.canonicalizeUrl(documents, urlCol)
      .groupBy("canonical_url").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // 2: min doc_id per exact text among URL survivors
    val s2 = documents.join(s1, "doc_id")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val docs2 = documents.join(s2, "doc_id").persist()
    // 3: near-dup components over the s2 subset; keep the min-label
    // representative of each cluster (singletons pass untouched)
    // ONE corpus tokenization serves stage 3 (near-dup pairs over the
    // exact-dedup survivors) AND both stage-5 decontamination sides: at
    // 100 TB tokenization is a top-3 cost, and stage 3's operator call
    // used to pay its own pass over docs2 while stage 5 paid another
    // over train ∪ eval. The membership flags are tagged on the DOC
    // table BEFORE the explode (doc-id joins over narrow doc rows, one
    // row per doc — never a join against the exploded shingle table,
    // which is corpus × k wider), so stage 3 and the eval side are pure
    // narrow filters of the shared cached table; only the train side —
    // unknowable before stages 3–4 run — joins, and against the cached
    // table, not a re-tokenization.
    val splitDf = documents.select(col("doc_id"),
      when(substring(md5(col("text")), 1, 2) < "cc", "train")
        .otherwise("eval").as("split"))
    val evalIds = splitDf.filter(col("split") === "eval").select("doc_id")
    val docsTagged = documents
      .join(docs2.select("doc_id").withColumn("in_s2", lit(true)), Seq("doc_id"), "left")
      .join(evalIds.withColumn("is_eval", lit(true)), Seq("doc_id"), "left")
      .withColumn("in_s2", coalesce(col("in_s2"), lit(false)))
      .withColumn("is_eval", coalesce(col("is_eval"), lit(false)))
      .filter(col("in_s2") || col("is_eval"))
    // unordered pair core: the component walk consumes an edge SET —
    // the public operator's presentation sort of the pair table would
    // be a wasted range-sampling pass + exchange
    val sh = Dedup.shingles(docsTagged, k, carry = Seq("in_s2", "is_eval")).persist()
    val pairs = Dedup.ngramJaccardPairsUnordered(
      sh.filter(col("in_s2")).select("doc_id", "shingle"), jaccardThreshold).persist()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // no explicit node table: the component machinery seeds its vertex
    // set from edge endpoints itself, and only pair-participating docs
    // can be dropped — the distinct-endpoints build was a redundant
    // exchange + collect per funnel run
    val noNodes = edges.select(col("src").as("doc_id")).limit(0)
    val labels = Dedup.connectedComponents(edges, noNodes)
    val dropped = labels.filter(col("label") =!= col("doc_id")).select("doc_id")
    pairs.unpersist(false)
    val s3 = docs2.select("doc_id").join(dropped, Seq("doc_id"), "left_anti").persist()
    // 3b (when an embedding table is supplied): SEMANTIC dedup — the
    // SemDeDup stage token-overlap near-dup can't see (paraphrases,
    // re-crawls, boilerplate variants). Runs AFTER MinHash-tier
    // near-dup (cheaper signals first) in the exact int8 regime: a
    // survivor is dropped iff a LOWER-ID survivor's vector sits at
    // quantized cosine ≥ `semanticThreshold` (the q_quantized_topk
    // arithmetic — scales cancel, all-integer, so the COMPOSED funnel
    // stays DuckDB-oracle-matched; this is the guard-off oracle shape,
    // like the stage-3 exact-jaccard pairs: at production scale the
    // pair space is IVF-list-blocked, semanticDedup's machinery).
    // Docs without a vector (or with a degenerate one) pass untouched —
    // no semantic signal is not a duplicate verdict.
    val semOpt = embeddings.map { emb =>
      import graft.functions.IntDot.int_dot
      val codes = Similarity.quantizedCodes(emb.select(col("vec_id"), col("embedding")))
        .filter(col("qsq") > 0)
      val s3v = s3.join(codes, s3("doc_id") === codes("vec_id"))
        .select(col("doc_id"), col("qv"), col("qsq"))
      val a = s3v.select(col("doc_id").as("da"), col("qv").as("qa"), col("qsq").as("sa"))
      val b = s3v.select(col("doc_id").as("db"), col("qv").as("qb"), col("qsq").as("sb"))
      val semDropped = a.join(b, col("da") < col("db"))
        .filter(int_dot(col("qa"), col("qb")).cast("double") /
          sqrt(col("sa").cast("double") * col("sb").cast("double"))
          >= semanticThreshold)
        .select(col("db").as("doc_id")).distinct()
      s3.join(semDropped, Seq("doc_id"), "left_anti").persist()
    }
    val afterSem = semOpt.getOrElse(s3)
    // 4: classifier gate (kept requires n_tokens > 0 and score >= 0)
    val s4 = afterSem.join(quality.filter(col("kept") === 1).select("doc_id"), "doc_id")
      .persist()
    // 5: train docs only, minus those sharing >= minShared shingles
    // with ANY eval doc of the ORIGINAL corpus (the eval set is not
    // subject to curation — it is the contamination reference). Both
    // sides are views of the shared shingle table.
    val s4train = s4.join(splitDf.filter(col("split") === "train")
      .select("doc_id"), "doc_id")
    val trainSh = sh.filter(col("in_s2") && !col("is_eval"))
      .join(s4train.select("doc_id"), "doc_id")
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val evalSh = sh.filter(col("is_eval"))
      .select(col("doc_id").as("eval_doc"), col("shingle"))
    val contaminated = trainSh.join(evalSh, "shingle")
      .groupBy("train_doc", "eval_doc").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_doc").as("doc_id")).distinct()
    val s5 = s4train.join(contaminated, Seq("doc_id"), "left_anti").persist()
    // 6: greedy token-budget admission by (quality desc, doc_id),
    // cumulative sum via the range-partitioned two-pass global order
    val s5doc = s5.join(quality, "doc_id").join(allTok, "doc_id")
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    val ordered = graft.ops.GlobalOrder.withOrdinal(s5doc,
      Seq(col("quality_score").desc, col("doc_id")),
      valueCol = Some("n_tokens"), ordName = "_ord", cumName = "cum_tokens")
    val s6 = ordered.df.filter(col("cum_tokens") <= tokenBudget)
      .select("doc_id").persist()

    val stages: Seq[(String, DataFrame)] =
      Seq("input" -> documents.select("doc_id"),
        "url_dedup" -> s1, "exact_dedup" -> s2, "near_dup" -> s3) ++
      semOpt.map(s => "semantic_dedup" -> s) ++
      Seq("quality" -> s4, "decontaminate_train" -> s5, "token_budget" -> s6)
    val out = stageFunnel(allTok, stages)
    Dedup.scopeCaches(out,
      Seq(tokStats, docs2, s3, s4, sh, s5, s6) ++ semOpt: _*)
  }

  /** The MULTIMODAL curation funnel — the media-aware sibling of
    * [[curationFunnel]], ordered cheapest-signal-first for a corpus
    * where every document carries an image payload (and, when a video
    * corpus is supplied, a video payload):
    *
    *   0 input
    *   1 junk-media gate   (drop flat/monochrome images —
    *                        [[Multimodal.imageQualityStats]]' degenerate
    *                        distinct-luma detector; the cheapest decode-
    *                        derived signal, and it removes exactly the
    *                        mass that would pile into the near-dup
    *                        band buckets at stage 4 — and, with videos,
    *                        static single-hash clips too)
    *   2 URL dedup         (first fetch per canonical URL)
    *   3 exact text dedup  (min doc per byte-identical text)
    *   4 image near-dup    (dHash banding → components → keep the
    *                        min-label representative)
    *   5 video near-dup    (with videos: scene-sampled k-slot signatures
    *                        from the SAME fused decode as the stage-1
    *                        gate, slot-pigeonhole banding → components →
    *                        min-label representative)
    *   5/6 quality gate    (hashing-trick classifier, kept = score ≥ 0)
    *
    * Every stage rule is its standalone operator's arithmetic, so the
    * COMPOSITION is DuckDB-expressible and oracle-verified end to end
    * (`q_multimodal_funnel`) — luma replay for the junk gate, the
    * canonicalization chain, the donor-join text groups, the recursive
    * component walks over surviving images and videos, and the
    * classifier score. The video corpus is decoded exactly ONCE
    * ([[Multimodal.videoStatsPhash]] feeds gate and signatures — the
    * scene-aware sampling happens inside that fused pass, before any
    * pair work). Returns one row per stage with surviving doc and
    * token counts.
    */
  def multimodalFunnel(spark: org.apache.spark.sql.SparkSession,
                       documents: DataFrame, media: DataFrame,
                       urlCol: String = "url", maxHamming: Int = 6,
                       maxBandBucket: Int = -1,
                       videos: Option[DataFrame] = None, k: Int = 4,
                       maxTotalHamming: Int = 3): DataFrame = {
    // one tokenization pass for the stage token sums AND the final
    // classifier gate (see curationFunnel)
    val tokStats = TextOps.classifierTokenStats(documents).persist()
    val allTok = tokStats.select(col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"))
    // ONE decode pass serves stage 1 (flatness gate) AND stage 4 (the
    // dHash fingerprints): the fused stats stage decodes each payload
    // once, where the stage-4 operator call used to decode the stage-3
    // survivors a second time
    val stats = Multimodal.imageStatsDhash(spark, media).persist()
    // same one-decode discipline for the video corpus: the fused pass
    // yields the static gate AND the scene-sampled slot signatures
    val vstatsOpt = videos.map(v =>
      Multimodal.videoStatsPhash(spark, v, k).persist())
    // 1: junk-media gate (narrow decode + stats, no shuffle); a doc
    // with no video row has no video junk signal — it passes
    val s1img = stats.filter(!col("is_flat")).select("doc_id")
    val s1 = vstatsOpt.fold(s1img)(vs => s1img.join(
        vs.filter(col("is_static")).select("doc_id"),
        Seq("doc_id"), "left_anti")).persist()
    // 2: first fetch per canonical URL among survivors
    val s2 = WebOps.canonicalizeUrl(documents.join(s1, "doc_id"), urlCol)
      .groupBy("canonical_url").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").persist()
    // 3: min doc_id per exact text among survivors
    val s3 = documents.join(s2, "doc_id")
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").persist()
    // 4: perceptual components over SURVIVING images only (the flat
    // mass never reaches the banded join), min-label representative —
    // fingerprints come from the shared decoded-stats stage, filtered
    // to survivors; no second decode
    val clusters = Multimodal.imageClustersFromHashes(
      stats.select("doc_id", "dhash").join(s3, "doc_id"),
      maxHamming, maxBandBucket)
    val dropped = clusters.filter(col("cluster_id") =!= col("doc_id"))
      .select("doc_id")
    val s4 = s3.join(dropped, Seq("doc_id"), "left_anti").persist()
    // 5 (with videos): perceptual VIDEO near-dup among survivors —
    // slot signatures sliced from the fused stage-1 decode (survivors
    // only reach the banded join; absent/zero-frame videos survive)
    val vstage = vstatsOpt.map { vs =>
      val vslots = vs.select(col("doc_id"), posexplode(col("sig")))
        .toDF("doc_id", "slot", "dhash")
      val vclusters = Multimodal.videoClustersFromSlotHashes(
        vslots.join(s4, "doc_id"), k, maxTotalHamming, maxBandBucket)
      val vdropped = vclusters.filter(col("cluster_id") =!= col("doc_id"))
        .select("doc_id")
      (s4.join(vdropped, Seq("doc_id"), "left_anti").persist(), vclusters)
    }
    val preQuality = vstage.map(_._1).getOrElse(s4)
    // final stage: classifier quality gate — the shared tokenization's
    // verdict column (zero-token docs excluded, the public filter)
    val squal = preQuality.join(tokStats
      .filter(col("n_tokens") > 0 && col("kept") === 1)
      .select("doc_id"), "doc_id").persist()
    val tail: Seq[(String, DataFrame)] = vstage match {
      case Some((s5, _)) => Seq("video_neardup" -> s5, "quality" -> squal)
      case None => Seq("quality" -> squal)
    }
    val out = stageFunnel(allTok,
      Seq("input" -> documents.select("doc_id"), "junk_media" -> s1,
        "url_dedup" -> s2, "exact_dedup" -> s3, "image_neardup" -> s4) ++ tail)
    // clusters is persisted+materialized by its core ("caller owns its
    // lifetime") — release it with the other intermediates, or repeated
    // funnel calls in a long-lived session accumulate cached tables
    Dedup.scopeCaches(out,
      Seq(tokStats, stats, s1, s2, s3, s4, squal, clusters) ++
        vstatsOpt ++ vstage.toSeq.flatMap { case (s5, vc) => Seq(s5, vc) }: _*)
  }

  /** Per-document curation AUDIT report — the provenance artifact a
    * production pipeline emits beside its output: one wide row per doc
    * with every gate's individual verdict (`url_dup`, `text_dup`,
    * `image_dup`, `flat_image`, `quality_kept`) and the final `keep`
    * conjunction, so any document's exclusion is explainable from the
    * flags alone (which gate, not just that it was dropped). Unlike the
    * funnels (which report per-stage survivor COUNTS), this keeps the
    * per-document resolution; unlike [[crossModalDedup]] it folds in
    * the junk-media and classifier gates. Every flag is its standalone
    * operator's arithmetic ⇒ oracle-matched (`q_curation_report`).
    */
  def curationReport(spark: org.apache.spark.sql.SparkSession,
                     documents: DataFrame, media: DataFrame,
                     urlCol: String = "url", maxHamming: Int = 6,
                     maxBandBucket: Int = -1): DataFrame = {
    // ONE decode pass serves both media signals: the dHash feeding the
    // near-dup clusters AND the flatness stats for the junk gate come
    // from the same fused stage (at 100 TB the codec is the dominant
    // media cost — this report used to decode the corpus twice)
    val stats = Multimodal.imageStatsDhash(spark, media).persist()
    val clusters = Multimodal.imageClustersFromHashes(
      stats.select("doc_id", "dhash"), maxHamming, maxBandBucket)
    // keep the persisted frame in hand: unpersisting a projection of a
    // cached plan is a CacheManager no-op (sameResult match only), so
    // releasing `.drop("keep")` would leak the verdict cache
    val verdictsAll = crossModalVerdicts(documents, clusters, urlCol)
    val verdicts = verdictsAll.drop("keep")
    val flat = stats.select(col("doc_id"), col("is_flat").as("flat_image"))
    // classifier verdict via the unsorted core: the public operator's
    // presentation sort is wasted on a join input
    val qual = TextOps.classifierTokenStats(documents)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), (col("kept") === 1).as("quality_kept"))
    val out = verdicts
      .join(flat, "doc_id")
      // zero-token docs have no classifier row: not kept
      .join(qual, Seq("doc_id"), "left")
      .withColumn("quality_kept", coalesce(col("quality_kept"), lit(false)))
      .withColumn("keep",
        !col("url_dup") && !col("text_dup") && !col("image_dup") &&
        !col("flat_image") && col("quality_kept"))
      .orderBy("doc_id")
    Dedup.scopeCaches(out, stats, verdictsAll, clusters)
  }

  /** The FULL-modality curation audit — [[curationReport]] extended to
    * every payload class a multimodal corpus carries: one wide row per
    * document with
    *
    *   - `url_dup` / `text_dup`      (the cross-modal text signals),
    *   - `image_dup` / `flat_image`  (perceptual dHash cluster + junk gate),
    *   - `audio_dup` / `quiet_audio` (eHash cluster + near-silence gate),
    *   - `video_dup` / `static_video`(slot-signature cluster + frozen-clip gate),
    *   - `quality_kept`, and the final `keep` conjunction,
    *
    * so any document's exclusion is explainable from the flags alone in
    * ANY modality. The decode discipline is the point at 100 TB: each
    * modality's corpus is decoded EXACTLY ONCE — the fused stages
    * ([[Multimodal.imageStatsDhash]], [[Multimodal.audioStatsEhash]],
    * [[Multimodal.videoStatsPhash]]) emit the junk-gate stats AND the
    * dedup fingerprints from one codec pass, and the cluster paths band
    * precomputed hashes (`...FromHashes`). Documents missing a modality
    * keep NULL-free flags (left joins, absent ⇒ not dup / not junk).
    * Every flag is its standalone operator's arithmetic ⇒ the
    * COMPOSITION is oracle-matched (`q_media_curation_report`).
    */
  def mediaCurationReport(spark: org.apache.spark.sql.SparkSession,
                          documents: DataFrame, images: DataFrame,
                          audios: DataFrame, videos: DataFrame,
                          urlCol: String = "url", maxHamming: Int = 6,
                          k: Int = 4, maxTotalHamming: Int = 3,
                          maxBandBucket: Int = -1): DataFrame = {
    // the three modality pipelines (fused decode -> banded clusters)
    // are independent until the final join — run them as concurrent
    // jobs (guide §2.6; the image branch also carries the text verdict
    // chain, which depends on its clusters)
    val Seq(ib, ab, vb) = Jobs.concurrently(Seq(
      () => {
        val istats = Multimodal.imageStatsDhash(spark, images).persist()
        val iclusters = Multimodal.imageClustersFromHashes(
          istats.select("doc_id", "dhash"), maxHamming, maxBandBucket)
        // persisted handle, not the projection (see curationReport)
        Seq(istats, iclusters, crossModalVerdicts(documents, iclusters, urlCol))
      },
      () => {
        val astats = Multimodal.audioStatsEhash(spark, audios).persist()
        // keep the persisted core results in hand (not just their column
        // projections) so the final scopeCaches can release them — the
        // cores return frames the caller owns
        Seq(astats, Multimodal.audioClustersFromHashes(
          astats.select("doc_id", "ehash"), maxHamming, maxBandBucket))
      },
      () => {
        val vstats = Multimodal.videoStatsPhash(spark, videos, k).persist()
        val vslots = vstats.select(col("doc_id"), posexplode(col("sig")))
          .toDF("doc_id", "slot", "dhash")
        Seq(vstats, Multimodal.videoClustersFromSlotHashes(vslots, k,
          maxTotalHamming, maxBandBucket))
      }))
    val Seq(istats, iclusters, verdictsAll) = ib
    val Seq(astats, aclustersAll) = ab
    val Seq(vstats, vclustersAll) = vb
    val verdicts = verdictsAll.drop("keep")
    val aclusters = aclustersAll
      .select(col("doc_id"), col("cluster_id").as("audio_cluster"))
    val vclusters = vclustersAll
      .select(col("doc_id"), col("cluster_id").as("video_cluster"))
    val qual = TextOps.classifierTokenStats(documents)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), (col("kept") === 1).as("quality_kept"))
    val out = verdicts
      .join(istats.select(col("doc_id"), col("is_flat").as("flat_image")),
        Seq("doc_id"), "left")
      .join(aclusters, Seq("doc_id"), "left")
      .join(astats.select(col("doc_id"), col("is_quiet").as("quiet_audio")),
        Seq("doc_id"), "left")
      .join(vclusters, Seq("doc_id"), "left")
      .join(vstats.select(col("doc_id"), col("is_static").as("static_video")),
        Seq("doc_id"), "left")
      // zero-token docs have no classifier row: not kept
      .join(qual, Seq("doc_id"), "left")
      .withColumn("flat_image", coalesce(col("flat_image"), lit(false)))
      .withColumn("audio_dup",
        coalesce(col("audio_cluster") < col("doc_id"), lit(false)))
      .withColumn("quiet_audio", coalesce(col("quiet_audio"), lit(false)))
      .withColumn("video_dup",
        coalesce(col("video_cluster") < col("doc_id"), lit(false)))
      .withColumn("static_video", coalesce(col("static_video"), lit(false)))
      .withColumn("quality_kept", coalesce(col("quality_kept"), lit(false)))
      .withColumn("keep",
        !col("url_dup") && !col("text_dup") && !col("image_dup") &&
        !col("flat_image") && !col("audio_dup") && !col("quiet_audio") &&
        !col("video_dup") && !col("static_video") && col("quality_kept"))
      .select(col("doc_id"), col("url_dup"), col("text_dup"), col("image_dup"),
        col("flat_image"), col("audio_dup"), col("quiet_audio"),
        col("video_dup"), col("static_video"), col("quality_kept"), col("keep"))
      .orderBy("doc_id")
    Dedup.scopeCaches(out, istats, astats, vstats, verdictsAll,
      iclusters, aclustersAll, vclustersAll)
  }

  /** The DAILY-INGEST audit — [[mediaCurationReport]]'s incremental
    * twin, the artifact the production regime actually emits every day:
    * one wide row per document of TODAY'S batch with, per modality,
    *
    *   - `<m>_dup_stored`: duplicates content already in the corpus
    *     (the new copy should be dropped — the exemplar is ingested);
    *   - `<m>_dup_new`: duplicates a lower-id document of the same
    *     batch (in-batch dedup, min-id wins);
    *   - the junk gate (`flat_image` / `quiet_audio` / `static_video`);
    *   - and the final `keep` conjunction.
    *
    * Yesterday's corpus contributes ONLY its fingerprint tables
    * (`(doc_id, dhash)`, `(doc_id, ehash)`, `(doc_id, slot, dhash)`) —
    * stored payloads are never re-decoded, stored×stored pairs never
    * re-reported. Today's batch is decoded EXACTLY ONCE per modality by
    * the fused stages, which feed both the junk gates and the
    * incremental banded joins ([[graft.ext.Dedup]]'s shared core, with
    * the same safe-by-default heavy-bucket cap — this join runs every
    * day). A cross pair has exactly one new side, so a new doc in any
    * cross pair IS that side; in-batch duplicates are `doc_b` of a
    * non-cross pair (lower id wins). Oracle-matched
    * (`q_media_ingest_audit`) — EXISTS rules, no component walk needed.
    */
  def mediaIngestAudit(spark: org.apache.spark.sql.SparkSession,
                       newImages: DataFrame, newAudios: DataFrame,
                       newVideos: DataFrame,
                       storedImageHashes: DataFrame,
                       storedAudioHashes: DataFrame,
                       storedVideoSlotHashes: DataFrame,
                       maxHamming: Int = 6, k: Int = 4,
                       maxTotalHamming: Int = 3,
                       maxBandBucket: Int = -1): DataFrame = {
    val (out, istats, astats, vstats, pairs) = ingestAuditCore(spark,
      newImages, newAudios, newVideos, storedImageHashes, storedAudioHashes,
      storedVideoSlotHashes, maxHamming, k, maxTotalHamming, maxBandBucket)
    Dedup.scopeCaches(out, (Seq(istats, astats, vstats) ++ pairs): _*)
  }

  /** The audit pipeline WITHOUT the final cache release: returns the
    * (unmaterialized) audit frame plus the still-cached fused stats
    * and pair frames, so [[ingestDayFold]] can extract the kept docs'
    * fingerprints from the SAME decode before releasing — the caller
    * MUST release everything (directly or via scopeCaches).
    */
  private def ingestAuditCore(spark: org.apache.spark.sql.SparkSession,
                              newImages: DataFrame, newAudios: DataFrame,
                              newVideos: DataFrame,
                              storedImageHashes: DataFrame,
                              storedAudioHashes: DataFrame,
                              storedVideoSlotHashes: DataFrame,
                              maxHamming: Int, k: Int,
                              maxTotalHamming: Int, maxBandBucket: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    lazy val istats = Multimodal.imageStatsDhash(spark, newImages).persist()
    lazy val astats = Multimodal.audioStatsEhash(spark, newAudios).persist()
    lazy val vstats = Multimodal.videoStatsPhash(spark, newVideos, k).persist()
    // Both verdicts are FINGERPRINT-GROUP properties — dup_stored
    // depends only on a doc's hash, and dup_new is "not my group's min,
    // OR my group's min has a lower-id neighbor group" — so both sides
    // collapse to DISTINCT fingerprints (min-id representative) before
    // the banded join, exactly as in the cluster cores: an
    // identical-content mass of M stored copies and M new junk arrivals
    // costs ONE pair, not an M² clique, and the per-doc flags are
    // provably the same EXISTS answers:
    //   - a new doc whose group rep sits in any cross pair duplicates
    //     stored content (the rep and the doc share the hash);
    //   - a doc that is not its group's min duplicates the min
    //     (Hamming 0); a group-min doc duplicates in-batch iff its rep
    //     appears as doc_b of a non-cross pair (reps ARE group mins, so
    //     doc_a < doc_b order is min-id order across groups).
    // returns the flags AND the persisted pair frame the banding core
    // produced ("caller owns its lifetime") so the final scopeCaches
    // can release it — repeated daily runs must not accumulate caches
    def groupFlags(newFp: DataFrame, repPairs: DataFrame => DataFrame,
                   hashCols: Seq[String], pfx: String): (DataFrame, DataFrame) = {
      val groups = newFp.groupBy(hashCols.map(col): _*)
        .agg(min(col("doc_id")).as("gmin"))
      val pairs = repPairs(groups)
      val crossReps = pairs.filter(col("is_cross"))
        .select(explode(array(col("doc_a"), col("doc_b"))).as("gmin"))
        .distinct().withColumn("g_stored", lit(true))
      val newReps = pairs.filter(!col("is_cross"))
        .select(col("doc_b").as("gmin"))
        .distinct().withColumn("g_new", lit(true))
      val flags = newFp.join(groups, hashCols)
        .join(crossReps, Seq("gmin"), "left")
        .join(newReps, Seq("gmin"), "left")
        .select(col("doc_id"),
          coalesce(col("g_stored"), lit(false)).as(s"${pfx}_dup_stored"),
          (col("doc_id") =!= col("gmin") ||
            coalesce(col("g_new"), lit(false))).as(s"${pfx}_dup_new"))
      (flags, pairs)
    }
    // stored sides collapse to distinct fingerprints too (min stored id)
    val storedI = storedImageHashes.groupBy("dhash")
      .agg(min(col("doc_id")).as("doc_id"))
    val storedA = storedAudioHashes.groupBy("ehash")
      .agg(min(col("doc_id")).as("doc_id"))
    // video: the group key is the FULL signature array
    val storedV = storedVideoSlotHashes.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("slot"), col("dhash"))))
        .as("pairs"))
      .groupBy("pairs").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), explode(col("pairs")).as("p"))
      .select(col("doc_id"), col("p.slot").as("slot"), col("p.dhash").as("dhash"))
    // zero-frame/undecodable videos carry the EMPTY signature: they are
    // never perceptual duplicates anywhere else in the family (batch
    // videoPhash emits no slots and never pairs them; videoDedupStream
    // emits nothing for them), so they must not enter the grouping —
    // two undecodable arrivals in one batch would otherwise share the
    // empty-sig group and the higher id would be flagged video_dup_new.
    // They rejoin below with all-false dup flags (left join).
    //
    // The three modality audits (fused decode of the new batch + the
    // banded NEW×ALL join against that modality's stored fingerprints)
    // are independent until the final per-doc join — concurrent jobs,
    // guide §2.6.
    val Seq((imgFlags, ipairs), (audFlags, apairs), (vidFlags, vpairs)) =
      Jobs.concurrently[(DataFrame, DataFrame)](Seq(
        () => groupFlags(istats.select("doc_id", "dhash"),
          g => Dedup.bandedHammingPairsIncremental(
            g.select(col("gmin").as("doc_id"), col("dhash")), storedI,
            "dhash", 63, maxHamming, maxBandBucket),
          Seq("dhash"), "image"),
        () => groupFlags(astats.select("doc_id", "ehash"),
          g => Dedup.bandedHammingPairsIncremental(
            g.select(col("gmin").as("doc_id"), col("ehash")), storedA,
            "ehash", 63, maxHamming, maxBandBucket),
          Seq("ehash"), "audio"),
        () => groupFlags(
          vstats.filter(size(col("sig")) > 0).select(col("doc_id"), col("sig")),
          g => Multimodal.videoNearDupIncrementalFromSlotHashes(
            g.select(col("gmin").as("doc_id"), posexplode(col("sig")))
              .toDF("doc_id", "slot", "dhash"),
            storedV, k, maxTotalHamming, maxBandBucket),
          Seq("sig"), "video")))
    val img = istats.select(col("doc_id"), col("is_flat").as("flat_image"))
      .join(imgFlags, "doc_id")
    val aud = astats.select(col("doc_id"), col("is_quiet").as("quiet_audio"))
      .join(audFlags, "doc_id")
    val vid = vstats.select(col("doc_id"), col("is_static").as("static_video"))
      .join(vidFlags, Seq("doc_id"), "left")
      .withColumn("video_dup_stored", coalesce(col("video_dup_stored"), lit(false)))
      .withColumn("video_dup_new", coalesce(col("video_dup_new"), lit(false)))
    val out = img.join(aud, "doc_id").join(vid, "doc_id")
      .withColumn("keep",
        !col("image_dup_stored") && !col("image_dup_new") && !col("flat_image") &&
        !col("audio_dup_stored") && !col("audio_dup_new") && !col("quiet_audio") &&
        !col("video_dup_stored") && !col("video_dup_new") && !col("static_video"))
      .select(col("doc_id"),
        col("image_dup_stored"), col("image_dup_new"), col("flat_image"),
        col("audio_dup_stored"), col("audio_dup_new"), col("quiet_audio"),
        col("video_dup_stored"), col("video_dup_new"), col("static_video"),
        col("keep"))
      .orderBy("doc_id")
    (out, istats, astats, vstats, Seq(ipairs, apairs, vpairs))
  }

  /** One DAY of the operational ingest loop, one call: audit today's
    * batch against the parquet fingerprint store, then fold the KEPT
    * docs' fingerprints into the store for tomorrow — the loop the
    * multi-day chain property (CurationSpec) pins, packaged.
    *
    *   - the store is three append-only parquet tables of HASH rows
    *     (`image`: doc_id+dhash, `audio`: doc_id+ehash, `video`:
    *     doc_id+slot+dhash) under `storeDir` — KiBs per thousand docs,
    *     the sketch-table pattern: payloads never enter storage, and
    *     day N+1 reads a plain scan;
    *   - kept fingerprints are sliced from the SAME cached fused-stats
    *     frames the audit decoded — the fold never re-decodes a
    *     payload (zero-frame videos contribute no slot rows, matching
    *     the family convention);
    *   - returns the audit frame (caller owns it); all internal caches
    *     are released after the store append.
    *
    * Seed the store once with [[ingestStoreInit]] (empty frames are
    * fine for a cold start — day 1 then only dedups in-batch).
    */
  def ingestDayFold(spark: org.apache.spark.sql.SparkSession,
                    newImages: DataFrame, newAudios: DataFrame,
                    newVideos: DataFrame, storeDir: String,
                    maxHamming: Int = 6, k: Int = 4,
                    maxTotalHamming: Int = 3,
                    maxBandBucket: Int = -1): DataFrame = {
    val (sI, sA, sV) = ingestReadStore(spark, storeDir)
    val (out0, istats, astats, vstats, pairs) = ingestAuditCore(spark,
      newImages, newAudios, newVideos, sI, sA, sV,
      maxHamming, k, maxTotalHamming, maxBandBucket)
    // materialize the audit (while the stats are still cached) DECOUPLED
    // from the store files: the appends below fire refreshByPath on the
    // store, which would invalidate a CacheManager entry and eagerly
    // recompute the audit against the post-append store — the verdicts
    // the caller reads must be the ones computed against the PRE-append
    // store. (The banded pair paths happen to be fixpoint-stable under
    // that recompute only because they exclude same-id pairs; the doc
    // audit's id-less url/text stored sets are not — see
    // docIngestDayFold.) localCheckpoint cuts the file lineage; its
    // blocks are freed by the ContextCleaner once the caller drops the
    // frame (the audit is one boolean row per new doc — tiny).
    val out = out0.localCheckpoint(true)
    val keptIds = out.filter(col("keep")).select("doc_id")
    istats.select("doc_id", "dhash").join(keptIds, "doc_id")
      .write.mode("append").parquet(s"$storeDir/image")
    astats.select("doc_id", "ehash").join(keptIds, "doc_id")
      .write.mode("append").parquet(s"$storeDir/audio")
    vstats.select(col("doc_id"), posexplode(col("sig")))
      .toDF("doc_id", "slot", "dhash")
      .join(keptIds, "doc_id")
      .write.mode("append").parquet(s"$storeDir/video")
    (Seq(istats, astats, vstats) ++ pairs).foreach(_.unpersist(false))
    out
  }

  /** Seed (or reset) the [[ingestDayFold]] fingerprint store. */
  def ingestStoreInit(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String,
                      imageHashes: DataFrame, audioHashes: DataFrame,
                      videoSlotHashes: DataFrame): Unit = {
    imageHashes.select(col("doc_id"), col("dhash"))
      .write.mode("overwrite").parquet(s"$storeDir/image")
    audioHashes.select(col("doc_id"), col("ehash"))
      .write.mode("overwrite").parquet(s"$storeDir/audio")
    videoSlotHashes.select(col("doc_id"), col("slot"), col("dhash"))
      .write.mode("overwrite").parquet(s"$storeDir/video")
  }

  /** The three stored fingerprint tables under `storeDir`. */
  def ingestReadStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$storeDir/image"),
      spark.read.parquet(s"$storeDir/audio"),
      spark.read.parquet(s"$storeDir/video"))

  /** One micro-batch "day" of the STREAMING ingest loop — the
    * [[ingestDayFold]] arithmetic re-keyed for exactly-once delivery
    * under Structured Streaming's foreachBatch replay contract:
    *
    *   - the store is DAY-PARTITIONED (`storeDir/image/day=N/…` etc.),
    *     and every write this call makes goes to the current day's
    *     partition with `overwrite` — a replayed micro-batch (failure
    *     between commit and checkpoint) REPLACES its own partial output
    *     instead of appending a second copy;
    *   - the stored side is read with `day < day` — partition pruning
    *     keeps a replay from seeing its own first attempt's fold (which
    *     would flag every kept doc as a stored-dup of itself) and makes
    *     the audit of day N a pure function of days < N;
    *   - per-day audit verdicts land under `auditDir/day=N` with the
    *     same overwrite key, so the audit sink is idempotent too.
    *
    * Callable directly for backfill/replay of a historical day; the
    * live loop is [[graft.streaming.StreamingOps.mediaIngestStream]],
    * whose foreachBatch body is exactly this call with `day` =
    * micro-batch id. Chain ≡ one-batch semantics are the same
    * CurationSpec-pinned law as the batch fold (doc_ids arrival-
    * ordered across days).
    */
  def ingestStreamDay(spark: org.apache.spark.sql.SparkSession,
                      media: DataFrame, day: Long,
                      storeDir: String, auditDir: String,
                      maxHamming: Int = 6, k: Int = 4,
                      maxTotalHamming: Int = 3,
                      maxBandBucket: Int = -1): Unit = {
    val b = media.persist()
    try {
      if (!b.isEmpty) {
        val (sI, sA, sV) = ingestReadDayStore(spark, storeDir, day)
        val (out0, istats, astats, vstats, pairs) = ingestAuditCore(spark,
          b.select(col("doc_id"), col("image").as("payload")),
          b.select(col("doc_id"), col("audio").as("payload")),
          b.select(col("doc_id"), col("video").as("payload")),
          sI, sA, sV, maxHamming, k, maxTotalHamming, maxBandBucket)
        // pre-append materialization decoupled from the store files —
        // see ingestDayFold; also keeps the final audit write from
        // re-running the whole decode after the store writes refresh
        // the path
        val audit = out0.localCheckpoint(true)
        val keptIds = audit.filter(col("keep")).select("doc_id")
        istats.select("doc_id", "dhash").join(keptIds, "doc_id")
          .write.mode("overwrite").parquet(s"$storeDir/image/day=$day")
        astats.select("doc_id", "ehash").join(keptIds, "doc_id")
          .write.mode("overwrite").parquet(s"$storeDir/audio/day=$day")
        vstats.select(col("doc_id"), posexplode(col("sig")))
          .toDF("doc_id", "slot", "dhash")
          .join(keptIds, "doc_id")
          .write.mode("overwrite").parquet(s"$storeDir/video/day=$day")
        audit.write.mode("overwrite").parquet(s"$auditDir/day=$day")
        (Seq(istats, astats, vstats) ++ pairs).foreach(_.unpersist(false))
      }
    } finally b.unpersist(false)
  }

  /** The day-partitioned stream store's three tables, restricted to
    * days strictly BEFORE `beforeDay` (the point-in-time store day
    * `beforeDay`'s audit must see). A modality with no prior day yet
    * (cold start) reads as an empty frame of the store schema.
    */
  def ingestReadDayStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, beforeDay: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    def rd(sub: String, schema: StructType): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$storeDir/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a day dir is only visible once at least one prior day committed
      if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("day=")))
        spark.read.parquet(p.toString)
          .filter(col("day") < lit(beforeDay))
          .select(schema.fieldNames.map(col): _*)
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val idSchema = new StructType().add("doc_id", LongType)
    (rd("image", idSchema.add("dhash", LongType)),
      rd("audio", idSchema.add("ehash", LongType)),
      rd("video", idSchema.add("slot", IntegerType).add("dhash", LongType)))
  }

  /** Compact the [[ingestDayFold]] fingerprint store to duplicate-free
    * exemplars: one stored row per distinct fingerprint (the min-doc_id
    * representative; for video, per distinct full slot signature). The
    * audit ALREADY collapses the stored side to exactly this frame on
    * every run ([[ingestAuditCore]]'s min-id group collapse), so
    * compaction provably cannot change any audit verdict — it only
    * removes the redundant rows the store accumulated, which is what
    * keeps day-N scan cost tracking DISTINCT stored content (the
    * RESULTS.md exemplar-store rows: 10× exemplars → 1.23× wall, vs
    * raw-store rows that are pure waste). Run it at whatever cadence
    * duplicate mass accumulates — the rewrite is three hash
    * aggregations, staged to sibling dirs and atomically renamed in.
    * Returns (rows_before, rows_after) per modality name.
    */
  /** What [[ingestStoreCompact]] WOULD reclaim, as a query — the
    * "should I compact?" audit a store owner runs at cadence: one row
    * per modality with the stored row count, the distinct-exemplar
    * count compaction would keep, the redundant rows it would drop,
    * and the largest identical-fingerprint group (the degenerate mass
    * driving the gap). Pure aggregation over the three hash tables —
    * one hash aggregate per modality (video groups whole slot
    * signatures), no payloads, no joins — so it runs beside any
    * pipeline at sketch-table cost and is DuckDB-oracle-matched
    * (`q_store_compact`).
    */
  def storeCompactionSummary(spark: org.apache.spark.sql.SparkSession,
                             imageHashes: DataFrame, audioHashes: DataFrame,
                             videoSlotHashes: DataFrame): DataFrame = {
    def summary(groups: DataFrame, modality: String): DataFrame =
      groups.agg(
        coalesce(sum(col("n")), lit(0L)).cast("long").as("rows_before"),
        count(lit(1)).as("exemplars"),
        coalesce(sum(col("n")) - count(lit(1)), lit(0L)).cast("long").as("dropped"),
        coalesce(max(col("n")), lit(0L)).cast("long").as("max_group"))
        .withColumn("modality", lit(modality))
    val ig = imageHashes.groupBy("dhash").agg(count(lit(1)).as("n"))
    val ag = audioHashes.groupBy("ehash").agg(count(lit(1)).as("n"))
    val vg = videoSlotHashes.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("slot"), col("dhash")))).as("sig"))
      .groupBy("sig").agg(count(lit(1)).as("n"))
    summary(ig, "image").unionByName(summary(ag, "audio"))
      .unionByName(summary(vg, "video"))
      .select("modality", "rows_before", "exemplars", "dropped", "max_group")
      .orderBy("modality")
  }

  /** Repair a store dir that [[compactRewrite]] may have left
    * mid-swap (process killed between its renames), restoring a live
    * store at `path` without losing either the pre- or post-compaction
    * content. The swap's crash states are fully enumerable from the
    * three paths involved — the live target `T`, the rename-aside
    * `.T.compact-old`, and the staged output `.T.compact-staging`
    * (complete iff Spark's `_SUCCESS` commit marker is present):
    *
    *   - `T` exists → it is authoritative whatever else is on disk
    *     (crash before the first rename, or after the second): delete
    *     the leftover siblings → `"live"`;
    *   - `T` missing, staging COMPLETE → the crash hit the window
    *     between the two renames: adopt the compacted store (the
    *     swap's intent; rename staging → `T`), drop the old copy →
    *     `"recovered-staging"`;
    *   - `T` missing, staging incomplete/absent, old exists → roll
    *     back (rename old → `T`), drop the partial staging →
    *     `"recovered-old"`;
    *   - nothing at any path → `"absent"` (caller decides — for
    *     [[compactRewrite]] it is an error).
    *
    * Idempotent (every terminal state maps to `"live"` on a second
    * call) and audit-invariant by construction: both recovery sources
    * hold verdict-equivalent content (compaction invariance is
    * spec-pinned), so EITHER outcome is correct — recovery only
    * guarantees there IS a live store again. Called automatically at
    * the top of [[compactRewrite]], so a compaction RETRY after a
    * crash self-heals instead of failing on the missing target;
    * also callable directly at ingest-loop startup.
    */
  def storeSwapRecover(spark: org.apache.spark.sql.SparkSession,
                       path: String): String = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staging, old) = Similarity.swapSiblings(target)
    def stagingComplete =
      fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
    if (fs.exists(target)) {
      fs.delete(staging, true); fs.delete(old, true); "live"
    } else if (fs.exists(staging) && stagingComplete) {
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"recovery rename $staging -> $target failed")
      fs.delete(old, true); "recovered-staging"
    } else if (fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new java.io.IOException(s"recovery rename $old -> $target failed")
      fs.delete(staging, true); "recovered-old"
    } else "absent"
  }

  /** [[storeSwapRecover]] over every table of a media fingerprint
    * store ([[ingestStoreCompact]]'s layout) — call at ingest-loop
    * startup before the first [[ingestReadStore]].
    */
  def ingestStoreRecover(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String): Map[String, String] =
    Seq("image", "audio", "video")
      .map(s => s -> storeSwapRecover(spark, s"$storeDir/$s")).toMap

  /** [[storeSwapRecover]] over every table of a text fingerprint
    * store ([[docIngestStoreInit]]'s layout).
    */
  def docIngestStoreRecover(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String): Map[String, String] =
    Seq("urls", "texts", "sigs")
      .map(s => s -> storeSwapRecover(spark, s"$storeDir/$s")).toMap

  /** Staged, crash-recoverable rewrite of one parquet store dir —
    * shared by the media, text, and embedding compactions. Reads the
    * live store, applies `compact`, and writes the result through
    * [[Similarity.stageThenSwap]]'s rename-ASIDE swap (live →
    * .compact-old, staging → live, delete .compact-old): a crash at
    * any point leaves the store recoverable ([[storeSwapRecover]], invoked
    * automatically on entry, restores a live target from the aside or
    * staging copy — a delete-then-rename window would instead leave
    * NO copy outside a hidden staging dir). Returns
    * (rows_before, rows_after).
    */
  private[ext] def compactRewrite(spark: org.apache.spark.sql.SparkSession,
                                  path: String,
                                  compact: DataFrame => DataFrame): (Long, Long) = {
    if (storeSwapRecover(spark, path) == "absent")
      throw new java.io.IOException(s"no store (live, old, or staged) at $path")
    val cur = spark.read.parquet(path)
    val before = cur.count()
    // localCheckpoint cuts the lineage off the files about to be
    // replaced — the staged write must not re-scan the target dir
    val out = compact(cur).localCheckpoint(true)
    val after = out.count()
    Similarity.stageThenSwap(spark, path)(out.write.mode("overwrite").parquet(_))
    (before, after)
  }

  def ingestStoreCompact(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String): Map[String, (Long, Long)] = {
    def rewrite(sub: String, compact: DataFrame => DataFrame): (Long, Long) =
      compactRewrite(spark, s"$storeDir/$sub", compact)
    Map(
      "image" -> rewrite("image", _.groupBy("dhash")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id", "dhash")),
      "audio" -> rewrite("audio", _.groupBy("ehash")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id", "ehash")),
      // video: a stored exemplar is a whole slot SIGNATURE — keep the
      // min-doc_id holder of each distinct (slot, dhash) array
      "video" -> rewrite("video", v =>
        v.groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("slot"), col("dhash"))))
            .as("pairs"))
          .groupBy("pairs").agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), explode(col("pairs")).as("p"))
          .select(col("doc_id"), col("p.slot").as("slot"),
            col("p.dhash").as("dhash"))))
  }

  /** The TEXT side's daily-ingest audit — [[mediaIngestAudit]]'s
    * sibling for a document corpus, fully under the DuckDB oracle
    * (`q_doc_ingest_audit`): per NEW doc, stored-vs-new duplicate
    * verdicts for the three text duplicate classes plus the quality
    * gate —
    *
    *   - `url_dup_stored` / `url_dup_new`: canonical URL already
    *     fetched (stored set membership / lower-id new doc);
    *   - `text_dup_stored` / `text_dup_new`: byte-identical text
    *     (portable md5 fingerprint — the store keeps 32-hex digests,
    *     never text);
    *   - `neardup_stored` / `neardup_new`: md5-MinHash banded
    *     near-dup vs stored SIGNATURES (corpus text never re-read)
    *     and vs lower-id new docs;
    *   - `quality_kept`: the hashing-trick classifier's verdict;
    *   - `novel`: no duplicate flag — the docs whose fingerprints the
    *     fold adds to the store (novelty is deliberately independent
    *     of quality: a low-quality novel doc's fingerprints must
    *     still be stored, or tomorrow's near-copy of it would be
    *     re-admitted — and this independence is what makes the
    *     chained loop ≡ the one-batch audit);
    *   - `keep` = novel AND quality_kept.
    *
    * The near-dup stage banding runs over one REPRESENTATIVE per
    * distinct new text (the identical-fingerprint collapse at the
    * text level — sound here, unlike the df-capped shingle-jaccard
    * path, because the md5-MinHash family has no corpus-wide df
    * semantics: identical texts have identical signatures, so the
    * group rule "not my group's min, or my group's min has a
    * lower-id neighbor" gives provably the same EXISTS answers).
    * Scale shape: two hash aggregations (canonical url, text md5),
    * one shingle pass over distinct new texts, the NEW×ALL banded
    * signature join, joins back on doc_id — no window, nothing
    * quadratic in the store.
    */
  def docIngestAudit(spark: org.apache.spark.sql.SparkSession,
                     newDocs: DataFrame,
                     storedUrls: DataFrame, storedTextMd5: DataFrame,
                     storedSigs: DataFrame,
                     k: Int = 5, numHashes: Int = 16, numBands: Int = 8,
                     threshold: Double = 0.5): DataFrame = {
    val (out, docs, _, _, repSigs) = docIngestAuditCore(spark, newDocs,
      storedUrls, storedTextMd5, storedSigs, k, numHashes, numBands, threshold)
    Dedup.scopeCaches(out, docs, repSigs)
  }

  /** [[docIngestAudit]] WITHOUT the final cache release: returns the
    * audit plus the persisted new-docs frame and rep signatures so
    * [[docIngestDayFold]] can slice the novel docs' fingerprints from
    * the SAME pass before releasing — caller MUST release everything.
    */
  private def docIngestAuditCore(spark: org.apache.spark.sql.SparkSession,
                                 newDocs: DataFrame,
                                 storedUrls: DataFrame, storedTextMd5: DataFrame,
                                 storedSigs: DataFrame,
                                 k: Int, numHashes: Int, numBands: Int,
                                 threshold: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = newDocs.persist()
    val canon = WebOps.canonicalizeUrl(docs)
      .select(col("doc_id"), col("canonical_url"))
    val su = storedUrls.select("canonical_url").distinct()
      .withColumn("u_stored", lit(true))
    val umin = canon.groupBy("canonical_url").agg(min(col("doc_id")).as("url_min"))
    val urlFlags = canon.join(su, Seq("canonical_url"), "left")
      .join(umin, "canonical_url")
      .select(col("doc_id"),
        coalesce(col("u_stored"), lit(false)).as("url_dup_stored"),
        (col("doc_id") =!= col("url_min")).as("url_dup_new"))
    val tmd5 = docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
    val st = storedTextMd5.select("text_md5").distinct()
      .withColumn("t_stored", lit(true))
    val tmin = tmd5.groupBy("text_md5").agg(min(col("doc_id")).as("text_min"))
    val textFlags = tmd5.join(st, Seq("text_md5"), "left").join(tmin, "text_md5")
      .select(col("doc_id"),
        coalesce(col("t_stored"), lit(false)).as("text_dup_stored"),
        (col("doc_id") =!= col("text_min")).as("text_dup_new"))
    // near-dup over one rep (min id) per distinct new text; signatures
    // computed ONCE and reused by the fold
    val reps = docs.join(tmin.select(col("text_min").as("doc_id")), "doc_id")
    val repSigs = Dedup.minhashSignaturesMd5(
      Dedup.shingles(reps, k), numHashes).persist()
    val pairs = Dedup.incrementalMinhashNearDupFromSigs(repSigs, storedSigs,
      numHashes, numBands, threshold, portableHash = true)
    val crossReps = pairs.filter(col("is_cross"))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("rep_id"))
      .distinct().withColumn("nd_stored", lit(true))
    val newReps = pairs.filter(!col("is_cross"))
      .select(col("doc_b").as("rep_id"))
      .distinct().withColumn("nd_new", lit(true))
    val ndFlags = tmd5.join(tmin, "text_md5")
      .join(crossReps, col("text_min") === col("rep_id"), "left").drop("rep_id")
      .join(newReps, col("text_min") === col("rep_id"), "left").drop("rep_id")
      .select(col("doc_id"),
        coalesce(col("nd_stored"), lit(false)).as("neardup_stored"),
        (col("doc_id") =!= col("text_min") ||
          coalesce(col("nd_new"), lit(false))).as("neardup_new"))
    val quality = TextOps.classifierTokenStats(docs)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), (col("kept") === 1).as("q_kept"))
    val out = urlFlags.join(textFlags, "doc_id").join(ndFlags, "doc_id")
      .join(quality, Seq("doc_id"), "left")
      .withColumn("quality_kept", coalesce(col("q_kept"), lit(false)))
      .withColumn("novel",
        !col("url_dup_stored") && !col("url_dup_new") &&
        !col("text_dup_stored") && !col("text_dup_new") &&
        !col("neardup_stored") && !col("neardup_new"))
      .withColumn("keep", col("novel") && col("quality_kept"))
      .select(col("doc_id"),
        col("url_dup_stored"), col("url_dup_new"),
        col("text_dup_stored"), col("text_dup_new"),
        col("neardup_stored"), col("neardup_new"),
        col("quality_kept"), col("novel"), col("keep"))
      .orderBy("doc_id")
    (out, docs, canon, tmd5, repSigs)
  }

  /** One DAY of the text ingest loop: audit today's batch against the
    * parquet fingerprint store (`urls`: canonical_url, `texts`:
    * text_md5, `sigs`: doc_id + MinHash signature — digests and
    * signatures only, never text), then append the NOVEL docs'
    * fingerprints for tomorrow. Novel ⊆ reps, so the appended
    * signatures are sliced from the audit's own cached shingle pass —
    * nothing is re-shingled. Returns the audit (caller owns it).
    * Seed with [[docIngestStoreInit]].
    */
  def docIngestDayFold(spark: org.apache.spark.sql.SparkSession,
                       newDocs: DataFrame, storeDir: String,
                       k: Int = 5, numHashes: Int = 16, numBands: Int = 8,
                       threshold: Double = 0.5): DataFrame = {
    val (sU, sT, sS) = docIngestReadStore(spark, storeDir)
    val (out0, docs, canon, tmd5, repSigs) = docIngestAuditCore(spark, newDocs,
      sU, sT, sS, k, numHashes, numBands, threshold)
    // pre-append materialization DECOUPLED from the store files: the
    // appends below fire refreshByPath, which would invalidate a
    // CacheManager entry and eagerly recompute the audit against the
    // post-append store — and the url/text stored sets are id-less, so
    // every novel doc would self-match its own just-folded canonical
    // URL / text digest and flip to dup_stored. localCheckpoint cuts
    // the file lineage; blocks are freed by the ContextCleaner once
    // the caller drops the frame.
    val out = out0.localCheckpoint(true)
    val novelIds = out.filter(col("novel")).select("doc_id")
    canon.join(novelIds, "doc_id").select("canonical_url")
      .write.mode("append").parquet(s"$storeDir/urls")
    tmd5.join(novelIds, "doc_id").select("text_md5")
      .write.mode("append").parquet(s"$storeDir/texts")
    repSigs.join(novelIds, "doc_id")
      .write.mode("append").parquet(s"$storeDir/sigs")
    Seq(docs, repSigs).foreach(_.unpersist(false))
    out
  }

  /** Seed (or reset) the [[docIngestDayFold]] fingerprint store. The
    * url/text tables are id-less SETS, so the seed is de-duplicated on
    * write — folds only ever append NOVEL docs' fingerprints (distinct
    * among themselves and absent from the store by definition), so the
    * store stays duplicate-free for its whole life: compaction is a
    * permanent no-op here, unlike the media store whose per-doc hash
    * rows legitimately repeat (chain-test-pinned).
    */
  def docIngestStoreInit(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, urls: DataFrame,
                         textMd5s: DataFrame, sigs: DataFrame): Unit = {
    urls.select("canonical_url").distinct()
      .write.mode("overwrite").parquet(s"$storeDir/urls")
    textMd5s.select("text_md5").distinct()
      .write.mode("overwrite").parquet(s"$storeDir/texts")
    sigs.select("doc_id", "sig").write.mode("overwrite").parquet(s"$storeDir/sigs")
  }

  /** The three stored text-fingerprint tables under `storeDir`. */
  def docIngestReadStore(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$storeDir/urls"),
      spark.read.parquet(s"$storeDir/texts"),
      spark.read.parquet(s"$storeDir/sigs"))

  /** One micro-batch "day" of the STREAMING text ingest loop — the
    * [[ingestStreamDay]] replay contract (day-partitioned store,
    * overwrite-by-day writes, `day < N` store reads) applied to
    * [[docIngestDayFold]]'s arithmetic. Live loop:
    * [[graft.streaming.StreamingOps.docIngestStream]].
    */
  def docIngestStreamDay(spark: org.apache.spark.sql.SparkSession,
                         docsBatch: DataFrame, day: Long,
                         storeDir: String, auditDir: String,
                         k: Int = 5, numHashes: Int = 16, numBands: Int = 8,
                         threshold: Double = 0.5): Unit = {
    val b = docsBatch.persist()
    try {
      if (!b.isEmpty) {
        val (sU, sT, sS) = docIngestReadDayStore(spark, storeDir, day)
        val (out0, docs, canon, tmd5, repSigs) = docIngestAuditCore(spark, b,
          sU, sT, sS, k, numHashes, numBands, threshold)
        // pre-append materialization — see docIngestDayFold
        val audit = out0.localCheckpoint(true)
        val novelIds = audit.filter(col("novel")).select("doc_id")
        canon.join(novelIds, "doc_id").select("canonical_url")
          .write.mode("overwrite").parquet(s"$storeDir/urls/day=$day")
        tmd5.join(novelIds, "doc_id").select("text_md5")
          .write.mode("overwrite").parquet(s"$storeDir/texts/day=$day")
        repSigs.join(novelIds, "doc_id").select("doc_id", "sig")
          .write.mode("overwrite").parquet(s"$storeDir/sigs/day=$day")
        audit.write.mode("overwrite").parquet(s"$auditDir/day=$day")
        Seq(docs, repSigs).foreach(_.unpersist(false))
      }
    } finally b.unpersist(false)
  }

  /** The day-partitioned text store, restricted to days strictly
    * before `beforeDay`; cold start reads as empty frames.
    */
  def docIngestReadDayStore(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, beforeDay: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    def rd(sub: String, schema: StructType): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$storeDir/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("day=")))
        spark.read.parquet(p.toString)
          .filter(col("day") < lit(beforeDay))
          .select(schema.fieldNames.map(col): _*)
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    (rd("urls", new StructType().add("canonical_url", StringType)),
      rd("texts", new StructType().add("text_md5", StringType)),
      rd("sigs", new StructType().add("doc_id", LongType)
        .add("sig", ArrayType(LongType, containsNull = false))))
  }

  /** The CHAINED multi-day TEXT ingest audit as ONE pure query —
    * [[graft.ext.Similarity.embeddingIngestChainAudit]]'s sibling for
    * the document corpus: `days` md5-assigned micro-batches fold
    * against url/text/signature fingerprint stores seeded from the
    * md5-stored third, entirely in DataFrame algebra (no store
    * writes). Day k audits via [[docIngestAudit]] against
    * seed ∪ novel(days < k) fingerprints, and the fingerprints
    * carried forward are exactly the audit's own `novel` slice — the
    * [[docIngestDayFold]] append contract (novel docs are url/text
    * group minima, so the stored sets stay duplicate-free for the
    * chain's whole life). Every rule is the portable md5 family, so
    * the WHOLE chain — cross-day dup_stored propagation included —
    * sits under the DuckDB oracle (`q_doc_ingest_chain`); chain ≡ the
    * sequential store-dir folds is spec-pinned in CurationSpec. Scale
    * shape per day: one shingle pass over the batch, the NEW×ALL
    * banded signature join, two hash aggregations, doc-id joins — the
    * store side contributes fingerprints only and is never
    * re-shingled (the chain re-derives novel signatures only because
    * it is a pure query; the operational fold slices them from the
    * audit's own cached pass).
    */
  def docIngestChainAudit(spark: org.apache.spark.sql.SparkSession,
                          documents: DataFrame, days: Int = 3,
                          k: Int = 5, numHashes: Int = 16, numBands: Int = 8,
                          threshold: Double = 0.5): DataFrame = {
    val hex = md5(col("doc_id").cast("string"))
    val seedSide = conv(substring(hex, 1, 2), 16, 10).cast("int") % 3 === 0
    // hex digit 0..15 → day 1..days (the embedding chain's floor split)
    val dayNum =
      (floor(conv(substring(hex, 3, 1), 16, 10).cast("int") * days / lit(16)) + 1)
        .cast("int")
    val sDocs = documents.filter(seedSide)
    // every stored-set INCREMENT is persisted: the day-k audit union
    // plan would otherwise re-derive the seed shingle/minhash pass —
    // by far the chain's dominant cost — once per remaining day (the
    // unions stay lazy, their leaves come from cache). Caching alone
    // is NOT enough — see the localCheckpoint below (persist caches
    // DATA, not the analyzed plan; measured 141s → 9.0s at sf0.1)
    val cached = Seq.newBuilder[DataFrame]
    def cache(df: DataFrame): DataFrame = { val c = df.persist(); cached += c; c }
    var sU = cache(WebOps.canonicalizeUrl(sDocs).select("canonical_url").distinct())
    var sT = cache(sDocs.select(md5(col("text")).as("text_md5")).distinct())
    var sS = cache(Dedup.minhashSignaturesMd5(Dedup.shingles(sDocs, k), numHashes))
    val rest = documents.filter(!seedSide).withColumn("ingest_day", dayNum)
    val audits = (1 to days).map { d =>
      val batch = rest.filter(col("ingest_day") === d).drop("ingest_day")
      // Core variant: the audit's one materialization IS the eager
      // localCheckpoint below — the public operator's scopeCaches
      // (persist + count) would materialize the same frame a second
      // time per day (§1.2). The checkpoint also cuts the lineage: the
      // audit's logical plan otherwise embeds every prior day's store
      // unions and plan size compounds per day (day 3 spent minutes in
      // Catalyst analysis at sf0.1); later days plan against a
      // LogicalRDD scan.
      val (audit0, adocs, _, _, repSigs) = docIngestAuditCore(spark, batch,
        sU, sT, sS, k, numHashes, numBands, threshold)
      val audit = audit0.localCheckpoint(true)
      Seq(adocs, repSigs).foreach(_.unpersist(false))
      val novelDocs = batch
        .join(audit.filter(col("novel")).select("doc_id"), "doc_id")
      sU = sU.unionByName(
        cache(WebOps.canonicalizeUrl(novelDocs).select("canonical_url")))
      sT = sT.unionByName(
        cache(novelDocs.select(md5(col("text")).as("text_md5"))))
      sS = sS.unionByName(
        cache(Dedup.minhashSignaturesMd5(Dedup.shingles(novelDocs, k), numHashes)))
      audit.withColumn("day", lit(d))
    }
    val out = audits.reduce(_ unionByName _)
      .select(col("day"), col("doc_id"),
        col("url_dup_stored"), col("url_dup_new"),
        col("text_dup_stored"), col("text_dup_new"),
        col("neardup_stored"), col("neardup_new"),
        col("quality_kept"), col("novel"), col("keep"))
      .orderBy("day", "doc_id")
    Dedup.scopeCaches(out, cached.result(): _*)
  }

  /** Cross-modal duplicate verdicts: one row per document combining
    * three INDEPENDENT dedup signals a multimodal corpus needs —
    *
    *   - `url_dup`:   another doc with a lower id shares this doc's
    *                  canonical URL (first fetch wins);
    *   - `text_dup`:  another doc with a lower id has byte-identical
    *                  text;
    *   - `image_dup`: this doc's image sits in a perceptual near-dup
    *                  cluster ([[Multimodal.imageClusters]]) whose
    *                  min-id representative is another doc;
    *   - `keep`:      none of the above — the doc survives multimodal
    *                  dedup.
    *
    * A page re-crawled under a tracking-param variant, a mirror with
    * identical text under a different URL, and a re-encoded copy of the
    * same image are three different duplicate classes; any ONE makes
    * the document redundant, so the verdict is their disjunction. Each
    * signal is its standalone operator's arithmetic (canonicalizeUrl
    * min-per-key, exactDedup min-per-text, the banded dHash component
    * labels), so the COMPOSITION runs under the exact DuckDB oracle
    * (`q_crossmodal_dedup`).
    *
    * Scale shape: two hash aggregations (canonical_url, text), the
    * image path's narrow decode + capped banded join + components over
    * pair participants only, then three joins back on doc_id — no
    * window, no all-pairs, nothing quadratic. `maxBandBucket` threads
    * through to the image banding (0 on the oracle path, as
    * everywhere in the perceptual family).
    */
  def crossModalDedup(spark: org.apache.spark.sql.SparkSession,
                      documents: DataFrame, media: DataFrame,
                      urlCol: String = "url", maxHamming: Int = 6,
                      maxBandBucket: Int = -1): DataFrame = {
    val clusters = Multimodal.imageClusters(spark, media, maxHamming, maxBandBucket)
    // crossModalVerdicts materializes its result, so the persisted
    // cluster frame (owned by this caller) can be released immediately
    val out = crossModalVerdicts(documents, clusters, urlCol)
    clusters.unpersist(false)
    out
  }

  /** The verdict join of [[crossModalDedup]] over PRECOMPUTED image
    * clusters — so [[curationReport]] can feed it from the single fused
    * decode stage instead of decoding the corpus again. The
    * canonicalization chain runs ONCE: the projection is cached and
    * both the per-key min aggregate and the per-doc join read the
    * cached rows (previously the regex chain executed twice, once per
    * branch). Result is persisted + materialized by scopeCaches; the
    * caller owns its lifetime.
    */
  private[graft] def crossModalVerdicts(documents: DataFrame, clusters: DataFrame,
                                        urlCol: String): DataFrame = {
    val canon = WebOps.canonicalizeUrl(documents, urlCol)
      .select(col("doc_id"), col("text"), col("canonical_url")).persist()
    val urlMin = canon
      .groupBy("canonical_url").agg(min(col("doc_id")).as("url_min"))
    val withUrlMin = canon.join(urlMin, "canonical_url")
    val textMin = documents.groupBy("text").agg(min(col("doc_id")).as("text_min"))
    val out = withUrlMin
      .join(textMin, "text")
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        (col("doc_id") > col("url_min")).as("url_dup"),
        (col("doc_id") > col("text_min")).as("text_dup"),
        coalesce(col("cluster_id") < col("doc_id"), lit(false)).as("image_dup"))
      .withColumn("keep", !(col("url_dup") || col("text_dup") || col("image_dup")))
      .orderBy("doc_id")
    Dedup.scopeCaches(out, canon)
  }
}
