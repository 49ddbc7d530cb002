package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-18 session-2: the file-list manifest ([[ManifestedTable]])
  * and the INCREMENTAL fold ([[IvfIncremental]]). Pins:
  *
  *   1. the manifested store serves the same rows, occupancy, and
  *      probe results as the flat store over identical content;
  *   2. a fold rewrites ONLY affected partitions — unaffected entries
  *      carry their old PATHS verbatim and their files' bytes never
  *      move;
  *   3. the flip is atomic: a reader's pre-fold snapshot serves
  *      exactly the pre-fold rows after the fold commits (no
  *      double-count, no partial application), within the GC grace;
  *   4. uncommitted data is invisible and re-staged by the retry;
  *      a second fold is a version-less no-op;
  *   5. the sidecar equals the per-cell aggregate of the manifested
  *      rows after every fold;
  *   6. day/tombstone cells retire only once EVERY retained manifest
  *      has them folded (a graced reader may still need them);
  *   7. a replayed commit of a committed version fails loud and never
  *      replaces the committed manifest;
  *   8. a retained prior version time-travels to its own rows, and GC
  *      unlinks manifests before data: a GC interrupted between the
  *      two leaves only unreferenced data, which the next GC deletes.
  */
class ManifestedStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.Tables.embeddings(spark, sf)
  private def hashHalf = substring(md5(col("vec_id").cast("string")), 1, 1)
  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"
  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
    df.select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
  private def idsAt(tbl: String, v: Long): Set[Long] =
    ManifestedTable.read(spark, tbl, ManifestedTable.snapshotAt(spark, tbl, v))
      .select("vec_id").as[Long].collect().toSet
  /** vec_id rows of the test corpus, partitioned four ways. */
  private def partRows =
    emb.select(col("vec_id"), (col("vec_id") % 4).cast("int").as("part"))

  test("manifested init serves the flat store's rows, occupancy, and " +
    "probe verbatim") {
    val inc = tmp("graft_inc_init")
    val flat = tmp("graft_inc_flatref")
    IvfIncremental.init(emb, inc)
    Similarity.ivfIndexStoreInit(emb, flat)
    assert(idSet(IvfIncremental.liveAssignments(spark, inc)) ===
      idSet(Similarity.ivfIndexStoreLiveAssignments(spark, flat)))
    assert(IvfIncremental.occupancy(spark, inc).collect().toSeq ===
      Similarity.ivfIndexStoreOccupancy(spark, flat).collect().toSeq)
    val q = emb.filter(col("vec_id") < 5)
    assert(IvfIncremental.probe(spark, q, inc).collect().toSeq ===
      Similarity.ivfIndexStoreProbe(spark, q, flat).collect().toSeq)
  }

  test("incremental fold ≡ full compact over the same lifecycle " +
    "(streamed days + tombstone), and the probe agrees") {
    val inc = tmp("graft_inc_fold")
    val flat = tmp("graft_inc_foldref")
    val h = hashHalf
    for (d <- Seq(inc, flat)) {
      val initFn: org.apache.spark.sql.DataFrame => Unit =
        if (d == inc) IvfIncremental.init(_, d)
        else Similarity.ivfIndexStoreInit(_, d)
      initFn(emb.filter(h < "8"))
      Similarity.ivfIndexStreamDay(spark,
        emb.filter(h >= lit("8") && h < lit("c")), 0L, d)
      Similarity.ivfIndexStreamDay(spark, emb.filter(h >= "c"), 1L, d)
      Similarity.ivfIndexStoreTombstone(spark,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), d, 2L)
    }
    val report = IvfIncremental.fold(spark, inc)
    assert(report.count() > 0)
    Similarity.ivfIndexStoreCompact(spark, flat)
    assert(idSet(IvfIncremental.liveAssignments(spark, inc)) ===
      idSet(Similarity.ivfIndexStoreLiveAssignments(spark, flat)))
    assert(IvfIncremental.occupancy(spark, inc).collect().toSeq ===
      Similarity.ivfIndexStoreOccupancy(spark, flat).collect().toSeq)
    val q = emb.filter(col("vec_id") < 5)
    assert(IvfIncremental.probe(spark, q, inc).collect().toSeq ===
      Similarity.ivfIndexStoreProbe(spark, q, flat).collect().toSeq)
    // no tombstoned id survives anywhere
    assert(IvfIncremental.liveAssignments(spark, inc)
      .filter(col("vec_id") % 7 === 3).count() === 0L)
  }

  test("a tombstone-only fold rewrites ONLY the victims' partitions: " +
    "unaffected entries keep their old paths and bytes") {
    val inc = tmp("graft_inc_partial")
    IvfIncremental.init(emb, inc)
    val before = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    // victims: every consolidated member of ONE list
    val victimList = before.entries.maxBy(_.rows).part
    val victims = IvfIncremental.liveAssignments(spark, inc)
      .filter(col("centroid_id") === victimList)
      .select("vec_id").limit(3)
    Similarity.ivfIndexStoreTombstone(spark, victims, inc, 0L)
    IvfIncremental.fold(spark, inc)
    val after = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    assert(after.version === before.version + 1)
    val beforeByPart = before.entries.map(e => e.part -> e.path).toMap
    val afterByPart = after.entries.map(e => e.part -> e.path).toMap
    // every non-victim partition references its ORIGINAL files
    (beforeByPart - victimList).foreach { case (p, path) =>
      assert(afterByPart(p) === path,
        s"unaffected partition $p was rewritten")
    }
    // the victim partition moved to the new data version
    assert(afterByPart(victimList) !== beforeByPart(victimList))
    assert(afterByPart(victimList).startsWith(s"data/v${after.version}/"))
    assert(IvfIncremental.liveAssignments(spark, inc).count() ===
      before.entries.map(_.rows).sum - 3)
  }

  test("the flip is atomic: a pre-fold snapshot serves exactly the " +
    "pre-fold rows after the fold commits — no mid-fold double-count") {
    val inc = tmp("graft_inc_atomic")
    val h = hashHalf
    IvfIncremental.init(emb.filter(h < "8"), inc)
    Similarity.ivfIndexStreamDay(spark, emb.filter(h >= "8"), 0L, inc)
    val preLive = IvfIncremental.liveAssignments(spark, inc)
    val preCount = preLive.count()
    val preSnap = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    IvfIncremental.fold(spark, inc)
    // the graced reader: old manifest + the day cells it has NOT
    // folded — the day dir must still exist (retire waits for the
    // oldest retained manifest) and the row set must be the pre-fold
    // live set exactly, with every row counted ONCE
    val gracedCons = ManifestedTable.read(spark, s"$inc/assignments_m",
      preSnap)
    val gracedDay = spark.read.parquet(s"$inc/day_assignments")
      .select(gracedCons.columns.map(col).toSeq: _*)
    val graced = gracedCons.unionByName(gracedDay)
    assert(graced.count() === preCount, "graced pre-fold snapshot must " +
      "serve every pre-fold row exactly once")
    assert(graced.select("vec_id").distinct().count() === preCount,
      "a vec_id appearing twice = the double-count the manifest exists " +
        "to prevent")
    // the fresh reader serves the same logical rows post-fold
    assert(IvfIncremental.liveAssignments(spark, inc).count() === preCount)
  }

  test("uncommitted data is invisible; the retry re-stages it; a fold " +
    "with nothing pending is a version-less no-op") {
    val inc = tmp("graft_inc_crash")
    val h = hashHalf
    IvfIncremental.init(emb.filter(h < "8"), inc)
    val v1 = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    Similarity.ivfIndexStreamDay(spark, emb.filter(h >= "8"), 0L, inc)
    // a crashed fold: data staged at v2, manifest never committed
    ManifestedTable.writeData(spark, s"$inc/assignments_m",
      v1.version + 1, ManifestedTable.read(spark, s"$inc/assignments_m", v1)
        .limit(1), "centroid_id")
    assert(ManifestedTable.snapshot(spark, s"$inc/assignments_m")
      .get.version === v1.version, "uncommitted data must be invisible")
    val liveBefore = IvfIncremental.liveAssignments(spark, inc).count()
    val report = IvfIncremental.fold(spark, inc)
    assert(report.count() > 0)
    assert(IvfIncremental.liveAssignments(spark, inc).count() ===
      liveBefore, "the fold moves rows between tables, never changes " +
        "the live set")
    // idempotence: nothing pending → empty report, NO new version
    val v2 = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    assert(IvfIncremental.fold(spark, inc).count() === 0)
    assert(ManifestedTable.snapshot(spark, s"$inc/assignments_m")
      .get.version === v2.version)
  }

  test("the sidecar equals the per-cell aggregate of the manifested " +
    "rows after a fold with both additions and removals") {
    val inc = tmp("graft_inc_sidecar")
    val h = hashHalf
    IvfIncremental.init(emb.filter(h < "8"), inc)
    Similarity.ivfIndexStreamDay(spark, emb.filter(h >= "8"), 0L, inc)
    Similarity.ivfIndexStoreTombstone(spark,
      emb.filter(col("vec_id") % 5 === 2).select("vec_id"), inc, 1L)
    IvfIncremental.fold(spark, inc)
    import graft.functions.Int8Unpack.int8_unpack
    val snap = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    val fromRows = ManifestedTable.read(spark, s"$inc/assignments_m", snap)
      .select(col("centroid_id").as("cluster"),
        posexplode(int8_unpack(col("qb"))).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val sidecar = spark.read.parquet(s"$inc/lloyd_stats")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(sidecar === fromRows)
  }

  test("day and tombstone cells retire only once every retained " +
    "manifest has them folded") {
    val inc = tmp("graft_inc_retire")
    val h = hashHalf
    IvfIncremental.init(emb.filter(h < "8"), inc)
    Similarity.ivfIndexStreamDay(spark,
      emb.filter(h >= lit("8") && h < lit("c")), 0L, inc)
    IvfIncremental.fold(spark, inc)
    // oldest retained manifest (v1) predates the fold — day 0 must
    // survive for its graced readers
    assert(fs(inc).exists(
      new org.apache.hadoop.fs.Path(s"$inc/day_assignments/day=0")))
    Similarity.ivfIndexStreamDay(spark, emb.filter(h >= "c"), 1L, inc)
    IvfIncremental.fold(spark, inc)
    // now the oldest retained manifest (v2) already folds day 0
    assert(!fs(inc).exists(
      new org.apache.hadoop.fs.Path(s"$inc/day_assignments/day=0")))
    assert(fs(inc).exists(
      new org.apache.hadoop.fs.Path(s"$inc/day_assignments/day=1")))
  }

  test("atomic append adds entries without touching existing files, " +
    "matches the flat append's results, and the next fold compacts the " +
    "multi-entry partitions it touches") {
    val inc = tmp("graft_inc_append")
    val flat = tmp("graft_inc_appendref")
    val h = hashHalf
    IvfIncremental.init(emb.filter(h < "8"), inc)
    Similarity.ivfIndexStoreInit(emb.filter(h < "8"), flat)
    val v1 = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    IvfIncremental.append(spark, emb.filter(h >= "8"), inc)
    Similarity.ivfIndexStoreAppend(spark, emb.filter(h >= "8"), flat)
    val v2 = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    // every pre-append entry survives VERBATIM (no file read/rewritten)
    v1.entries.foreach(e => assert(v2.entries.contains(e),
      s"append rewrote pre-existing entry $e"))
    assert(v2.entries.size > v1.entries.size)
    // equivalence with the flat append, row set + occupancy + sidecar
    assert(idSet(IvfIncremental.liveAssignments(spark, inc)) ===
      idSet(Similarity.ivfIndexStoreLiveAssignments(spark, flat)))
    assert(IvfIncremental.occupancy(spark, inc).collect().toSeq ===
      Similarity.ivfIndexStoreOccupancy(spark, flat).collect().toSeq)
    assert(spark.read.parquet(s"$inc/lloyd_stats").collect().toSet ===
      spark.read.parquet(s"$flat/lloyd_stats").collect().toSet)
    // a fold compacts the multi-entry partitions it touches: tombstone
    // one id of a two-entry partition, fold, and that partition's
    // entries collapse to the new data version
    val multi = v2.entries.groupBy(_.part).collect {
      case (p, es) if es.size > 1 => p
    }.head
    val victim = IvfIncremental.liveAssignments(spark, inc)
      .filter(col("centroid_id") === multi).select("vec_id").limit(1)
    Similarity.ivfIndexStoreTombstone(spark, victim, inc, 0L)
    IvfIncremental.fold(spark, inc)
    val v3 = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    val multiEntries = v3.entries.filter(_.part == multi)
    assert(multiEntries.size === 1)
    assert(multiEntries.head.path.startsWith(s"data/v${v3.version}/"))
  }

  test("lexical incremental fold ≡ the flat compact over the same " +
    "lifecycle (streamed days + tombstone), served ranking identical") {
    val inc = tmp("graft_linc_fold")
    val flat = tmp("graft_linc_foldref")
    val docs = graft.Tables.documents(spark, sf)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    LexIncremental.init(docs.filter(h < "8"), inc)
    TextOps.bm25IndexInit(docs.filter(h < "8"), flat)
    for (d <- Seq(inc, flat)) {
      TextOps.bm25IndexStreamDay(spark,
        docs.filter(h >= lit("8") && h < lit("c")), 0L, d)
      TextOps.bm25IndexStreamDay(spark, docs.filter(h >= "c"), 1L, d)
    }
    LexIncremental.tombstone(spark,
      docs.filter(col("doc_id") % 5 === 2).select("doc_id"), inc, 2L)
    TextOps.bm25IndexTombstone(spark,
      docs.filter(col("doc_id") % 5 === 2).select("doc_id"), flat, 2L)
    val report = LexIncremental.fold(spark, inc)
    assert(report.count() > 0)
    TextOps.bm25IndexCompact(spark, flat)
    assert(LexIncremental.topDocs(spark, inc).collect().toSeq ===
      TextOps.bm25StoreTopDocs(spark, flat).collect().toSeq)
    // post-fold sidecars cover exactly the consolidated rows (the fsck
    // contract): stats and df agree with the flat store's
    assert(spark.read.parquet(s"$inc/corpus_stats").collect().toSeq ===
      spark.read.parquet(s"$flat/corpus_stats").collect().toSeq)
    assert(spark.read.parquet(s"$inc/dfreq").collect().toSet ===
      spark.read.parquet(s"$flat/dfreq").collect().toSet)
    // a second fold is a version-less no-op
    val v = ManifestedTable.snapshot(spark, s"$inc/postings_m").get.version
    assert(LexIncremental.fold(spark, inc).count() === 0)
    assert(ManifestedTable.snapshot(spark, s"$inc/postings_m")
      .get.version === v)
  }

  test("lexical atomic append: pre-existing entries verbatim, ranking " +
    "and sidecars ≡ the union build") {
    val inc = tmp("graft_linc_append")
    val flat = tmp("graft_linc_union")
    val docs = graft.Tables.documents(spark, sf)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    LexIncremental.init(docs.filter(h < "8"), inc)
    val v1 = ManifestedTable.snapshot(spark, s"$inc/postings_m").get
    LexIncremental.append(spark, docs.filter(h >= "8"), inc)
    val v2 = ManifestedTable.snapshot(spark, s"$inc/postings_m").get
    v1.entries.foreach(e => assert(v2.entries.contains(e),
      s"append rewrote pre-existing entry $e"))
    TextOps.bm25IndexInit(docs, flat)
    assert(LexIncremental.topDocs(spark, inc).collect().toSeq ===
      TextOps.bm25StoreTopDocs(spark, flat).collect().toSeq)
    assert(spark.read.parquet(s"$inc/corpus_stats").collect().toSeq ===
      spark.read.parquet(s"$flat/corpus_stats").collect().toSeq)
    assert(spark.read.parquet(s"$inc/dfreq").collect().toSet ===
      spark.read.parquet(s"$flat/dfreq").collect().toSet)
  }

  test("full takedown: tombstoning EVERY row folds to an empty store " +
    "that still serves (empty, not a crash) and accepts re-ingest") {
    val inc = tmp("graft_inc_takedown")
    val h = hashHalf
    val half = emb.filter(h < "8")
    IvfIncremental.init(half, inc)
    Similarity.ivfIndexStoreTombstone(spark,
      IvfIncremental.liveAssignments(spark, inc).select("vec_id"), inc, 0L)
    IvfIncremental.fold(spark, inc)
    val snap = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    assert(snap.entries.isEmpty, "a full takedown must empty the entries")
    assert(snap.tombDays === Seq(0L))
    assert(IvfIncremental.liveAssignments(spark, inc).count() === 0L)
    assert(spark.read.parquet(s"$inc/lloyd_stats").count() === 0L,
      "every sidecar cell's count reached zero and left")
    // the retired ids may be ingested anew (the documented contract)
    IvfIncremental.append(spark, half, inc)
    assert(IvfIncremental.liveAssignments(spark, inc).count() > 0L)
    // lexical twin of the crash shape: full takedown folds clean
    val linc = tmp("graft_linc_takedown")
    val docs = graft.Tables.documents(spark, sf)
    LexIncremental.init(docs, linc)
    LexIncremental.tombstone(spark, docs.select("doc_id"), linc, 0L)
    LexIncremental.fold(spark, linc)
    assert(ManifestedTable.snapshot(spark, s"$linc/postings_m")
      .get.entries.isEmpty)
    // every bucket's df reached zero and left; the read path serves
    // the empty frame (lexStoreDfreq's takedown guard)
    assert(!fs(linc).listStatus(
      new org.apache.hadoop.fs.Path(s"$linc/dfreq"))
      .exists(_.getPath.getName.startsWith("bucket=")))
    assert(LexIncremental.topDocs(spark, linc).count() === 0L)
  }

  test("fsck: clean store reads all-ok; a vanished entry dir reads " +
    "rows_ok=false on exactly that list") {
    val inc = tmp("graft_inc_fsck")
    IvfIncremental.init(emb, inc)
    val clean = IvfIncremental.fsck(spark, inc).collect()
    assert(clean.nonEmpty && clean.forall(_.getAs[Boolean]("rows_ok")))
    // corrupt: delete one referenced entry's files out from under the
    // manifest (out-of-API damage — exactly what a certifier is for)
    val victim = ManifestedTable.snapshot(spark, s"$inc/assignments_m")
      .get.entries.head
    fs(inc).delete(new org.apache.hadoop.fs.Path(
      s"$inc/assignments_m/${victim.path}"), true)
    val dirty = IvfIncremental.fsck(spark, inc).collect()
    val bad = dirty.filter(!_.getAs[Boolean]("rows_ok"))
    assert(bad.map(_.getInt(0)).toSeq === Seq(victim.part))
    assert(bad.head.getAs[Long]("file_rows") === 0L)
    assert(bad.head.getAs[Long]("manifest_rows") === victim.rows)
  }

  test("lexical fsck: clean totals agree; a vanished entry reads " +
    "rows_ok=false with the missing rows visible in the delta") {
    val inc = tmp("graft_linc_fsck")
    val docs = graft.Tables.documents(spark, sf)
    LexIncremental.init(docs, inc)
    val clean = LexIncremental.fsck(spark, inc).collect()(0)
    assert(clean.getAs[Boolean]("rows_ok"))
    assert(clean.getAs[Long]("manifest_rows") > 0L)
    val victim = ManifestedTable.snapshot(spark, s"$inc/postings_m")
      .get.entries.head
    fs(inc).delete(new org.apache.hadoop.fs.Path(
      s"$inc/postings_m/${victim.path}"), true)
    val dirty = LexIncremental.fsck(spark, inc).collect()(0)
    assert(!dirty.getAs[Boolean]("rows_ok"))
    assert(dirty.getAs[Long]("manifest_rows") -
      dirty.getAs[Long]("file_rows") === victim.rows)
  }

  test("a replayed commit of a committed version fails loud; the first " +
    "manifest's entries read back unchanged") {
    val tbl = tmp("graft_mf_replay")
    val snap = ManifestedTable.Snapshot(1L,
      ManifestedTable.writeData(spark, tbl, 1L, partRows, "part"), Nil, Nil)
    ManifestedTable.commit(spark, tbl, snap)
    // the replay: same version, different content
    val replay = snap.copy(entries = snap.entries.take(1), foldedDays = Seq(0L))
    val e = intercept[java.io.IOException] {
      ManifestedTable.commit(spark, tbl, replay)
    }
    assert(e.getMessage.contains("already committed"))
    assert(ManifestedTable.versions(spark, tbl) === Seq(1L))
    assert(ManifestedTable.snapshotAt(spark, tbl, 1L) === snap)
    assert(idsAt(tbl, 1L) ===
      partRows.select("vec_id").as[Long].collect().toSet)
  }

  test("time travel and gc: a retained prior snapshot reads its own rows; " +
    "gc unlinks manifests before data, and the data only v1 named goes") {
    val tbl = tmp("graft_mf_gc")
    val all = partRows
    val half = all.filter(hashHalf < "8")
    val allIds = all.select("vec_id").as[Long].collect().toSet
    val halfIds = half.select("vec_id").as[Long].collect().toSet
    assert(halfIds.nonEmpty && halfIds.size < allIds.size)
    def commit(v: Long, entries: Seq[ManifestedTable.Entry]) = {
      val snap = ManifestedTable.Snapshot(v, entries, Nil, Nil)
      ManifestedTable.commit(spark, tbl, snap)
      snap
    }
    def path(rel: String) = new org.apache.hadoop.fs.Path(s"$tbl/$rel")
    val s1 = commit(1L, ManifestedTable.writeData(spark, tbl, 1L, half, "part"))
    val s2 = commit(2L, ManifestedTable.writeData(spark, tbl, 2L, all, "part"))
    // time travel: the previous version serves the previous rows
    assert(idsAt(tbl, 1L) === halfIds)
    assert(idsAt(tbl, 2L) === allIds)
    // v3 carries v2's files for parts 0-1 and rewrites parts 2-3
    commit(3L, s2.entries.filter(_.part < 2) ++ ManifestedTable.writeData(
      spark, tbl, 3L, all.filter(col("part") >= 2), "part"))
    // interrupt gc between its phases: v3's manifest is unreadable when
    // gc collects the kept versions' files
    val v3 = java.nio.file.Paths.get(s"$tbl/manifest/v3.txt")
    val v3Bytes = java.nio.file.Files.readAllBytes(v3)
    java.nio.file.Files.write(v3, "garbage\n".getBytes("UTF-8"))
    intercept[java.io.IOException](ManifestedTable.gc(spark, tbl, retain = 2))
    java.nio.file.Files.write(v3, v3Bytes)
    // manifests went first: v1 no longer resolves, its files remain as
    // unreferenced data
    assert(ManifestedTable.versions(spark, tbl) === Seq(2L, 3L))
    assert(s1.entries.forall(e => fs(tbl).exists(path(e.path))))
    ManifestedTable.gc(spark, tbl, retain = 2)
    assert(ManifestedTable.versions(spark, tbl) === Seq(2L, 3L))
    assert(!fs(tbl).exists(path("manifest/v1.txt")))
    intercept[java.io.IOException](ManifestedTable.snapshotAt(spark, tbl, 1L))
    assert(!fs(tbl).exists(path("data/v1")),
      "data dirs only v1 referenced must be deleted")
    // v2 and v3 read back in full, each row once
    for (v <- Seq(2L, 3L)) {
      assert(idsAt(tbl, v) === allIds)
      assert(ManifestedTable.read(spark, tbl,
        ManifestedTable.snapshotAt(spark, tbl, v)).count() === allIds.size)
    }
  }

  test("the pruned probe reads only the probed lists' manifest entries " +
    "(plus day cells): manifest-entry selection IS partition pruning") {
    val inc = tmp("graft_inc_prune")
    IvfIncremental.init(emb, inc)
    val q = emb.filter(col("vec_id") < 3)
    val res = IvfIncremental.probe(spark, q, inc, k = 3, nProbe = 2)
    assert(res.count() > 0)
    val snap = ManifestedTable.snapshot(spark, s"$inc/assignments_m").get
    val readParts = snap.entries.filter(e =>
      res.inputFiles.exists(_.contains(s"/${e.path}/"))).map(_.part)
    // ≤ numQueries × nProbe lists read, strictly fewer than the table
    // holds — the manifest did the pruning, no data-tree listing
    assert(readParts.nonEmpty)
    assert(readParts.size <= 3 * 2,
      s"probe read ${readParts.size} partitions, expected <= 6")
    assert(readParts.size < snap.entries.size,
      "probe read every entry — no pruning happened")
  }
}
