package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge-case behavior pinned explicitly: degenerate inputs that real
  * 100 TB corpora WILL contain eventually (zero vectors, empty/one-row
  * groups, empty corpora). These document what the operators do, so a
  * future change that alters the behavior fails a test instead of
  * silently shifting semantics.
  */
class EdgeCasesSpec extends AnyFunSuite with SparkSpec {

  def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("zero-vector cosine: native yields NaN; ANSI composed form throws (documented divergence)") {
    import spark.implicits._
    val d = Seq((0L, Seq(0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val zero = d.filter($"vec_id" === 0)
    // native expression: raw double arithmetic → IEEE NaN, no error
    val native = zero.select(graft.functions.GraftFunctions.cosine_sim(
      col("embedding").cast("array<double>"), col("embedding").cast("array<double>")))
      .collect()(0).getDouble(0)
    assert(native.isNaN, "native cosine must produce IEEE NaN for 0/0")
    // composed built-ins: ANSI mode raises DIVIDE_BY_ZERO on the 0-norm
    // division — a real divergence between the twins on degenerate input
    val e = intercept[Exception] {
      zero.select(graft.ext.Similarity.cosine(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>"))).collect()
    }
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"))
  }

  test("mismatched-length cosine: native and composed twins both yield NULL") {
    import spark.implicits._
    val d = Seq((0L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
    // native expression: explicit NULL on length mismatch
    val native = d.select(graft.functions.GraftFunctions.cosine_sim(col("a"), col("b")))
      .collect()(0)
    assert(native.isNullAt(0), "native cosine must be NULL on mismatched lengths")
    // composed twin: zip_with null-pads, the null product poisons the fold
    val composed = d.select(graft.ext.Similarity.cosine(col("a"), col("b"))).collect()(0)
    assert(composed.isNullAt(0), "composed cosine must be NULL on mismatched lengths")
  }

  test("dedup operators on an empty corpus return empty, not errors") {
    val empty = docs()
    assert(graft.ext.Dedup.exactDedup(empty).collect().isEmpty)
    assert(graft.ext.Dedup.ngramJaccard(empty).collect().isEmpty)
    assert(graft.ext.Dedup.minhashNearDup(empty).collect().isEmpty)
    assert(graft.ext.Dedup.simhashNearDup(empty).collect().isEmpty)
  }

  test("documents shorter than the shingle width produce no shingles (no negative sequences)") {
    val short = docs((1L, "a b"), (2L, "one two three four")) // 2 and 4 tokens, k=5
    assert(graft.ext.Dedup.shingles(short, 5).collect().isEmpty)
    assert(graft.ext.Dedup.ngramJaccard(short).collect().isEmpty)
  }

  test("sessionize: a single event forms a one-event session; empty input is empty") {
    import spark.implicits._
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = graft.ext.Events.sessionize(one).collect()
    assert(sessions.length === 1)
    assert(sessions(0).getAs[Long]("n_events") === 1)
    assert(graft.ext.Events.sessionize(one.limit(0)).collect().isEmpty)
  }

  test("sequence packing: a document larger than the budget still gets its own pack") {
    val big = docs((1L, Seq.fill(100)("word").mkString(" "))) // 100 tokens, budget 10
    val packs = graft.ext.DataPrep.sequencePacking(big, tokenBudget = 10).collect()
    assert(packs.length === 1)
    assert(packs(0).getAs[Long]("n_docs") === 1)
    assert(packs(0).getAs[Long]("pack_tokens") === 100)
  }

  test("round-2 operators on empty/degenerate input return empty or NULL, not errors") {
    import org.apache.spark.sql.functions.col
    val empty = docs()
    assert(graft.ext.TextOps.repetitionRatio(empty).collect().isEmpty)
    assert(graft.ext.TextOps.rollingHash(empty).collect().isEmpty)
    assert(graft.ext.DataPrep.decontaminateBloom(empty).collect().isEmpty)
    assert(graft.ops.Relational.approxProfile(
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001").limit(0)).collect().isEmpty)
    // incremental dedup: empty new batch → nothing; empty store → only new×new
    val corpusSigs = graft.ext.Dedup.minhashSignatures(
      graft.ext.Dedup.shingles(docs((1L, "the quick brown fox jumps over the lazy dog"))))
    assert(graft.ext.Dedup.incrementalMinhashNearDup(empty, corpusSigs).collect().isEmpty)
    val emptySigs = corpusSigs.limit(0)
    val twice = docs(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"))
    val newOnly = graft.ext.Dedup.incrementalMinhashNearDup(twice, emptySigs).collect()
    assert(newOnly.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((10L, 11L)))
    assert(newOnly.forall(!_.getBoolean(3)), "no stored side → nothing is cross")
  }

  test("continuation-session operators on empty/degenerate input return empty or NULL, not errors") {
    import spark.implicits._
    val empty = docs()
    assert(graft.ext.TextOps.piiRedact(empty).collect().isEmpty)
    assert(graft.ext.TextOps.tfidfTopTerms(empty).collect().isEmpty)
    assert(graft.ext.TextOps.vocabCoverage(empty).collect().isEmpty)
    assert(graft.ext.TextOps.bigramLmScore(empty).collect().isEmpty)
    assert(graft.ext.DataPrep.stratifiedSample(empty).collect().isEmpty)
    // single stratum: it IS the minimum → cutoff 256, everything kept
    val single = graft.ext.DataPrep.stratifiedSample(docs((1L, "a"), (2L, "b"))).collect()
    assert(single.length === 1 && single(0).getLong(3) === 2L)
    // funnel on events missing a stage: later stages report 0, not error
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val f = graft.ext.Events.funnel(ev).collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(f === Map("view" -> 1L, "click" -> 0L, "purchase" -> 0L))
    assert(graft.ext.Events.hourlySpikes(ev).collect().isEmpty,
      "a single hour has null stddev → no spikes, no error")
    // SCD2 with an empty update batch: dimension passes through untouched
    val cur = Seq((1L, "A", "1992-01-01", null.asInstanceOf[String]))
      .toDF("k", "segment", "valid_from", "valid_to")
    val out = graft.ops.Scd.scd2Merge(cur, cur.select($"k", $"segment").limit(0),
      "k", Seq("segment"), "1998-01-01").collect()
    assert(out.length === 1 && out(0).getString(1) === "A" && out(0).isNullAt(3))
    // centroid scoring on an empty embeddings table
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.ext.Similarity.centroidSim(emptyEmb).collect().isEmpty)
  }

  test("second-continuation operators on empty/degenerate input return empty, not errors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = docs()
    assert(graft.ext.TextOps.boilerplateRemoval(empty).collect().isEmpty)
    assert(graft.ext.Dedup.clusterRepresentatives(empty).collect().isEmpty)
    assert(graft.ext.DataPrep.curriculumDeciles(empty).collect().isEmpty)
    assert(graft.ext.DataPrep.temperatureResample(empty).collect().isEmpty)
    // single stratum → n_max = n → factor 1, corpus unchanged
    val one = graft.ext.DataPrep.temperatureResample(docs((1L, "a"), (2L, "b"))).collect()
    assert(one.length === 2 && one.forall(_.getInt(2) == 1))
    // two empty-text docs share their single "" chunk → both all-boilerplate
    val blank = graft.ext.TextOps.boilerplateRemoval(docs((1L, ""), (2L, ""))).collect()
    assert(blank.forall(r => r.getInt(1) == 1 && r.getInt(2) == 1))
    // snapshot diff: empty new snapshot = all deletes; empty old = all inserts
    val s = Seq((1L, "A", 1), (2L, "B", 2)).toDF("k", "seg", "nk")
    val allDel = graft.ops.Diff.snapshotDiff(s, s.limit(0), "k", Seq("seg", "nk")).collect()
    assert(allDel.map(r => r.getString(0) -> r.getLong(1)).toMap === Map("delete" -> 2L))
    val allIns = graft.ops.Diff.snapshotDiff(s.limit(0), s, "k", Seq("seg", "nk")).collect()
    assert(allIns.map(r => r.getString(0) -> r.getLong(1)).toMap === Map("insert" -> 2L))
    // pagerank on an empty edge list → empty ranks, no division blow-up
    val noEdges = Seq.empty[(String, String, Double)].toDF("src", "dst", "weight")
    assert(graft.ops.Graph.pageRank(noEdges, iters = 2).collect().isEmpty)
    // fuzzy match ignores NULL names (null block keys never join)
    val withNull = Seq(Some("abc"), None, Some("abd")).toDF("p_name")
    val fm = graft.ops.Fuzzy.fuzzyNameMatch(withNull, "p_name").collect()
    assert(fm.length === 1)
    // zorder masks negatives into the 31-bit domain (no sign surprises)
    assert(graft.functions.ZOrder.interleave(-1L, 0L) ===
      graft.functions.ZOrder.interleave(0x7FFFFFFFL, 0L))
    // kmv over an all-null column estimates 0
    val nulls = Seq.empty[Option[Long]].toDF("v")
    assert(nulls.agg(graft.functions.KmvSketch.kmv_distinct(col("v")))
      .collect()(0).getLong(0) === 0L)
    assert(graft.ext.TextOps.repeatedTokenMap(empty).collect().isEmpty)
    // a single observed day: RANGE window contains itself; lags are NULL
    val oneDay = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val df1 = graft.ext.Events.dailyFeatures(oneDay).collect()
    assert(df1.length === 1 && df1(0).getLong(3) === 1L && df1(0).isNullAt(5)
      && df1(0).isNullAt(7))
  }

  test("round-10 media compositions on cold-start/degenerate input behave, not error") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val M = graft.ext.Multimodal
    val png = M.PngCodec.encode(8, 8, (x, y) => (x * 37 + y * 59) % 256)
    val wav = M.WavCodec.encode(8000f,
      Array.tabulate(128)(i => ((i * 997) % 2003 - 1001).toShort))
    // distinct frames — a frozen clip would (correctly) fail the
    // static gate and flip keep
    val vid = M.VideoCodec.encode(12, (0 until 4).map(f =>
      M.PngCodec.encode(8, 8, (x, y) => (f * 97 + x * 37 + y * 59) % 256)))
    val imgs = Seq((1L, png)).toDF("doc_id", "payload")
    val auds = Seq((1L, wav)).toDF("doc_id", "payload")
    val vids = Seq((1L, vid)).toDF("doc_id", "payload")
    val emptyHashes = Seq.empty[(Long, Long)].toDF("doc_id", "dhash")
    val emptyEhashes = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val emptySlots = Seq.empty[(Long, Int, Long)].toDF("doc_id", "slot", "dhash")
    // DAY-1 COLD START: empty stored fingerprint tables — the audit
    // must run (no dup_stored anywhere, in-batch logic intact)
    val day1 = graft.ext.Curation.mediaIngestAudit(spark, imgs, auds, vids,
      emptyHashes, emptyEhashes, emptySlots).collect()
    assert(day1.length === 1)
    val r = day1(0)
    Seq("image_dup_stored", "audio_dup_stored", "video_dup_stored",
      "image_dup_new", "audio_dup_new", "video_dup_new").foreach { c =>
      assert(!r.getAs[Boolean](c), s"$c on a 1-doc day-1 batch")
    }
    assert(r.getAs[Boolean]("keep"))
    // cluster representatives on a corpus with NO clusters: empty, not error
    assert(M.imageClusterRepresentatives(spark, imgs).collect().isEmpty)
    assert(M.audioClusterRepresentatives(spark, auds).collect().isEmpty)
    assert(M.videoClusterRepresentatives(spark, vids).collect().isEmpty)
    // fused stages on one row: exactly one output row each
    assert(M.imageStatsDhash(spark, imgs).count() === 1L)
    assert(M.audioStatsEhash(spark, auds).count() === 1L)
    assert(M.videoStatsPhash(spark, vids).count() === 1L)
  }

  test("round-8 operators on empty/degenerate input return empty, not errors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = docs()
    // winnowing: empty corpus and sub-window docs both yield no rows
    assert(graft.ext.Dedup.winnowFingerprints(empty).collect().isEmpty)
    assert(graft.ext.Dedup.winnowFingerprints(docs(1L -> "tiny")).collect().isEmpty)
    assert(graft.ext.Dedup.winnowNearDup(empty).collect().isEmpty)
    // recall curve: with no truth pairs there are no buckets
    assert(graft.ext.Dedup.lshRecallCurve(empty).collect().isEmpty)
    assert(graft.ext.Dedup.lshRecallCurve(docs(1L -> "completely unrelated one",
      2L -> "nothing shared here at all today")).collect().isEmpty)
    // retention curve: empty corpus -> no rows; uniform corpus -> one
    // bucket retaining everything
    assert(graft.ext.DataPrep.qualityRetentionCurve(empty).collect().isEmpty)
    val uni = graft.ext.DataPrep.qualityRetentionCurve(
      docs(1L -> "same words", 2L -> "same words")).collect()
    assert(uni.length === 1 && uni(0).getLong(1) === 2L
      && uni(0).getDouble(3) === 1.0)
    // URL ops: a URL with no scheme/host canonicalizes from empty parts
    // (regexp_extract misses -> empty strings), never throws
    val weird = Seq((1L, "not a url at all"), (2L, "ftp://Host.Example:21/x/"))
      .toDF("doc_id", "url")
    val canon = graft.ext.WebOps.canonicalizeUrl(weird).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(canon(1L) === "://"  + "/")
    assert(canon(2L) === "ftp://host.example:21/x", "non-http scheme keeps its port")
    // image ops: empty media tables flow through hash/near-dup/clusters
    val noMedia = graft.ext.Multimodal.syntheticPngClusters(spark, empty)
    assert(graft.ext.Multimodal.imageDhash(spark, noMedia).collect().isEmpty)
    assert(graft.ext.Multimodal.imageNearDup(spark, noMedia).collect().isEmpty)
    assert(graft.ext.Multimodal.imageClusters(spark, noMedia).collect().isEmpty)
    // incremental image dedup with an empty stored side = new-vs-new only
    val media1 = graft.ext.Multimodal.syntheticPngClusters(spark,
      docs(1L -> "a", 51L -> "b"))
    val inc = graft.ext.Multimodal.imageNearDupIncremental(spark, media1,
      graft.ext.Multimodal.imageDhash(spark, noMedia)).collect()
    assert(inc.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSeq ===
      Seq((1L, 51L, false)), "same residue class pairs; nothing is cross")
  }

  test("round-9 operators on empty/degenerate input return empty, not errors") {
    import org.apache.spark.sql.functions.col
    val empty = docs()
    // portable simhash: empty corpus -> no fingerprints, no pairs
    assert(graft.ext.Dedup.simhashMd5(empty).collect().isEmpty)
    assert(graft.ext.Dedup.simhashNearDupMd5(empty).collect().isEmpty)
    // empty-text docs still fingerprint (split("") = [""]) and pair up
    val fps = graft.ext.Dedup.simhashMd5(docs(1L -> "", 2L -> "")).collect()
    assert(fps.length === 2 && fps.map(_.getLong(1)).distinct.length === 1,
      "identical (empty) token streams share a fingerprint")
    // skewed PNG fixture: empty corpus flows through; the degenerate
    // fraction alone still hashes (all-zeros) without error
    val noSkew = graft.ext.Multimodal.syntheticPngSkewed(spark, empty)
    assert(graft.ext.Multimodal.imageDhash(spark, noSkew).collect().isEmpty)
    val flatOnly = graft.ext.Multimodal.syntheticPngSkewed(spark,
      docs(4L -> "a", 8L -> "b"), flatEvery = 1)
    val flatHashes = graft.ext.Multimodal.imageDhash(spark, flatOnly).collect()
    assert(flatHashes.map(_.getLong(1)).toSeq === Seq(0L, 0L))
  }

  test("round-9 continuation operators on empty/degenerate input return empty, not errors") {
    import org.apache.spark.sql.functions.col
    val empty = docs()
    val M = graft.ext.Multimodal
    // video tier: empty corpus flows through every stage
    val noVideos = M.syntheticVideoTable(spark, empty)
    assert(M.decodeVideoFeatures(spark, noVideos).collect().isEmpty)
    assert(M.videoFrameSample(spark, noVideos).collect().isEmpty)
    assert(M.videoPhash(spark, noVideos).collect().isEmpty)
    assert(M.videoScenes(spark, noVideos).collect().isEmpty)
    val vp = M.videoNearDup(spark, noVideos)
    assert(vp.collect().isEmpty); vp.unpersist(false)
    assert(M.videoClusters(spark, noVideos).collect().isEmpty)
    assert(M.videoQualityStats(spark, noVideos).collect().isEmpty)
    // a ZERO-frame video: every consumer emits nothing for it, no error
    locally {
      import spark.implicits._
      val z = Seq((1L, M.VideoCodec.encode(12, Seq.empty)))
        .toDF("doc_id", "payload")
      assert(M.decodeVideoFeatures(spark, z).collect().isEmpty)
      assert(M.videoPhash(spark, z).collect().isEmpty)
      assert(M.videoScenes(spark, z).collect().isEmpty,
        "a zero-frame video contributes no scene row (nothing to window)")
      val q = M.videoQualityStats(spark, z).collect()
      assert(q.length === 1 && !q(0).getBoolean(5) && !q(0).getBoolean(6),
        "a zero-frame video is neither static nor flat (vacuous truth rejected)")
    }
    // quality gates + crossmodal on empty corpora
    assert(M.imageQualityStats(spark, M.syntheticPngSkewed(spark, empty))
      .collect().isEmpty)
    assert(M.audioQualityStats(spark, M.syntheticWavClusters(spark, empty))
      .collect().isEmpty)
    assert(M.audioClusters(spark, M.syntheticWavClusters(spark, empty))
      .collect().isEmpty)
    val emptyUrl = graft.ext.WebOps.withSyntheticMessyUrl(empty)
    val cm = graft.ext.Curation.crossModalDedup(spark,
      graft.ext.TextOps.withSyntheticDupText(emptyUrl),
      M.syntheticPngClusters(spark, empty))
    assert(cm.collect().isEmpty)
    // the multimodal funnel on an empty corpus: six stage rows, all zero
    val mf = graft.ext.Curation.multimodalFunnel(spark,
      graft.ext.TextOps.withSyntheticDupText(emptyUrl),
      M.syntheticPngSkewed(spark, empty))
    val rows = mf.collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(rows.length === 6 && rows.forall(t => t._2 == 0L && t._3 == 0L))
    mf.unpersist(false)
  }

  test("lloyd_stats sidecar absence fails LOUD, never silently wrong") {
    // a store created under the pre-round-16 layout (or with its
    // sidecar deleted) must refuse the O(batch) cells — updating
    // centroids off missing statistics or appending without the merge
    // would silently break the sidecar ≡ member-sums invariant
    import org.apache.spark.sql.functions.col
    val S = graft.ext.Similarity
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_nostats")
      .toString + "/idx"
    S.ivfIndexStoreInit(d, dir)
    // simulate the old layout
    val p = new org.apache.hadoop.fs.Path(s"$dir/lloyd_stats")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val e1 = intercept[java.io.IOException] {
      S.ivfIndexStoreUpdateCentroids(spark, dir)
    }
    assert(e1.getMessage.contains("lloyd_stats"))
    val e2 = intercept[java.io.IOException] {
      S.ivfIndexStoreAppend(spark, d.filter(col("vec_id") < 5), dir)
    }
    assert(e2.getMessage.contains("lloyd_stats"))
    // the cheap migration: StatsRebuild re-derives the sidecar from
    // the assignment bytes (also the recovery for a crash between an
    // append's two commits), after which the O(batch) cells work
    S.ivfIndexStoreStatsRebuild(spark, dir)
    assert(S.ivfIndexStoreUpdateCentroids(spark, dir).count() > 0)
    // and a train re-bases it as part of its swap, as documented
    S.ivfIndexStoreTrain(spark, dir, iters = 0)
    assert(spark.read.parquet(s"$dir/lloyd_stats").count() > 0)
  }

  test("an append crash between its two commits is DETECTED (fsck FALSE, " +
      "update refuses) and recovered by StatsRebuild") {
    // the documented window: assignment rows committed, the sidecar's
    // cell merge not reached. Injected by replaying exactly the rows
    // half of ivfIndexStoreAppend — assign the batch under the stored
    // centroids and append it to the hive lists directly.
    import org.apache.spark.sql.functions.col
    val S = graft.ext.Similarity
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_crashwin")
      .toString + "/idx"
    S.ivfIndexStoreInit(d.filter(col("vec_id") % 2 === 0), dir)
    val healthy = S.ivfIndexStoreFsck(spark, dir).collect()
    assert(healthy.nonEmpty &&
      healthy.forall(r => r.getBoolean(4) && r.getBoolean(5)),
      "a just-init'd store must fsck clean")
    S.ivfIndexAssign(d.filter(col("vec_id") % 2 === 1),
        S.ivfIndexStoreCentroids(spark, dir))
      .select(col("vec_id"), col("qb"), col("qsq"), col("dig"),
        col("centroid_sim"), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/assignments")
    // detection 1: the fsck law reads FALSE on every list the orphan
    // rows landed in (count and cells disagree)
    val broken = S.ivfIndexStoreFsck(spark, dir).collect()
    assert(broken.exists(r => !r.getBoolean(4) || !r.getBoolean(5)),
      "fsck must flag the under-counting sidecar")
    // detection 2: the O(batch) update cross-checks the sidecar total
    // against the assignment row count and fails LOUD at the hatch —
    // never computes centroids from stale statistics
    val e = intercept[java.io.IOException] {
      S.ivfIndexStoreUpdateCentroids(spark, dir)
    }
    assert(e.getMessage.contains("ivfIndexStoreStatsRebuild"))
    // recovery: one columnar scan re-bases the sidecar; fsck reads
    // clean and the update proceeds
    S.ivfIndexStoreStatsRebuild(spark, dir)
    val fixed = S.ivfIndexStoreFsck(spark, dir).collect()
    assert(fixed.forall(r => r.getBoolean(4) && r.getBoolean(5)))
    assert(S.ivfIndexStoreUpdateCentroids(spark, dir).count() > 0)
  }

  test("rename-aside tables self-heal from every READ path: a headless " +
      "sidecar or centroid table with a completed .next is adopted") {
    // simulate the writer's crash window (live deleted, staged rename
    // not reached) by renaming the live table aside by hand — the
    // staged copy keeps the _SUCCESS marker its parquet write created
    val S = graft.ext.Similarity
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_adopt")
      .toString + "/idx"
    S.ivfIndexStoreInit(d, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def crashAside(name: String): Unit = {
      val live = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val next = new org.apache.hadoop.fs.Path(s"$dir/.$name.next")
      assert(fs.rename(live, next), s"test setup: $name rename failed")
    }
    crashAside("lloyd_stats")
    // any sidecar read adopts it — here via the fsck (a pure reader)
    assert(S.ivfIndexStoreFsck(spark, dir).collect()
      .forall(r => r.getBoolean(4) && r.getBoolean(5)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/lloyd_stats")))
    crashAside("centroids")
    // any centroid read adopts it — here via a probe (the hottest path)
    import org.apache.spark.sql.functions.col
    assert(S.ivfIndexStoreProbe(spark,
      d.filter(col("vec_id") < 3), dir).count() > 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/centroids")))
    // an INCOMPLETE staging copy (no _SUCCESS) is never adopted: the
    // reader fails on the missing table rather than reading torn bytes
    crashAside("lloyd_stats")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/.lloyd_stats.next/_SUCCESS"), false)
    intercept[Exception] {
      S.ivfIndexStoreUpdateCentroids(spark, dir)
    }
    // StatsRebuild recreates a live sidecar from the assignment bytes
    S.ivfIndexStoreStatsRebuild(spark, dir)
    assert(S.ivfIndexStoreFsck(spark, dir).collect()
      .forall(r => r.getBoolean(4) && r.getBoolean(5)))
  }

  test("a pre-residual-tier pq_codebook (no 'residual' column) reads as raw") {
    // stores built before the residual tier carry codebooks without the
    // `residual` column; the reader must default them to raw instead of
    // failing the select — which would also break the train migration
    import org.apache.spark.sql.functions.col
    val S = graft.ext.Similarity
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_oldcb")
      .toString + "/idx"
    S.ivfIndexStoreInit(d, dir)
    S.ivfIndexStorePqBuild(spark, dir)
    val expected = S.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir).collect().map(_.toSeq)
    // rewrite the codebook in the OLD layout (residual column dropped);
    // collect first so the overwrite never races its own read
    val oldRows = spark.read.parquet(s"$dir/pq_codebook")
      .drop("residual").collect().toSeq
    val oldSchema = spark.read.parquet(s"$dir/pq_codebook")
      .drop("residual").schema
    spark.createDataFrame(
      java.util.Arrays.asList(oldRows: _*), oldSchema)
      .write.mode("overwrite").parquet(s"$dir/pq_codebook")
    val got = S.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dir).collect().map(_.toSeq)
    assert(got.toSeq === expected.toSeq)
    // and the train migration path survives the old layout
    S.ivfIndexStoreTrain(spark, dir, iters = 0)
    assert(S.ivfIndexStorePqProbe(spark, d.filter(col("vec_id") < 10), dir)
      .groupBy("query_id").count().collect().forall(_.getLong(1) === 5L))
  }

  test("centroid update refuses a residual-sidecar store (stale-code guard) " +
    "but proceeds under a raw sidecar") {
    val S = graft.ext.Similarity
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // residual sidecar: moving centroids would leave stored r̂/wsq
    // stale while the probe adds q·cv with the NEW centroids
    val dirR = java.nio.file.Files.createTempDirectory("graft_updres")
      .toString + "/idx"
    S.ivfIndexStoreInit(d, dirR)
    S.ivfIndexStorePqBuild(spark, dirR, residual = true)
    val e = intercept[IllegalStateException] {
      S.ivfIndexStoreUpdateCentroids(spark, dirR)
    }
    assert(e.getMessage.contains("RESIDUAL"))
    // raw sidecar: codes are per-vector facts, pruning reads list ids —
    // the update proceeds and the ADC probe still answers complete
    val dirP = java.nio.file.Files.createTempDirectory("graft_updraw")
      .toString + "/idx"
    S.ivfIndexStoreInit(d, dirP)
    S.ivfIndexStorePqBuild(spark, dirP)
    S.ivfIndexStoreUpdateCentroids(spark, dirP)
    import org.apache.spark.sql.functions.col
    val probed = S.ivfIndexStorePqProbe(spark,
      d.filter(col("vec_id") < 10), dirP)
    assert(probed.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("hll on empty input estimates 0") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("v")
    val est = empty.agg(graft.functions.HllSketch.hll_distinct(col("v")))
      .collect()(0).getLong(0)
    assert(est === 0L)
  }
}
