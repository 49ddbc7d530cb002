package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Jobs

/** FILE-LIST MANIFEST table (round 18, session 2) — the one snapshot
  * protocol of the stores: a reader pinned across a rewrite, a
  * retained prior version for time travel, and GC that unlinks the
  * manifest before the data. An INCREMENTAL fold (day rows into only
  * their affected partitions, days retired) is impossible over raw
  * directories: between the partition swaps and the day-dir
  * deletes a reader counts folded rows TWICE, and no rename ordering
  * fixes it — the flip must cover data files AND day visibility in one
  * atomic act. The industry answer (Iceberg/Delta) is snapshots that
  * list FILES: a new snapshot references the OLD files of unaffected
  * partitions (zero bytes moved) and new files for affected ones, and
  * carries the day/tombstone watermarks, so one manifest commit flips
  * everything a reader resolves.
  *
  * {{{
  *   tbl/
  *     manifest/v{N}.txt    ← committed by RENAME of a fully-written
  *                            writer-unique tmp (atomic — no torn
  *                            read; replayed same-version commits
  *                            fail the exists-check; see [[commit]]
  *                            for the single-writer contract)
  *     data/v{K}/pdir=P/    ← one dir of parquet part-files per
  *                            (writing version, partition); immutable
  *                            once referenced
  * }}}
  *
  * Manifest format (line-based, dependency-free):
  * {{{
  *   version \t N
  *   folded_day \t D        (day ids already folded into the entries)
  *   tomb_day \t D          (tombstone day ids already applied)
  *   entry \t part \t relpath \t rows
  * }}}
  *
  * Readers resolve the highest manifest once per query and hold that
  * SNAPSHOT: its entry paths are immutable (a later commit writes new
  * files and a new manifest — never touches referenced ones), so a
  * reader racing any writer sees exactly one consistent version. The
  * partition column rides INSIDE the data files (the hive dir is a
  * write-layout detail), so partition pruning is manifest-entry
  * selection — no directory listing of the data tree, ever: at 100 TB
  * a probe reads one small manifest plus exactly the probed
  * partitions' files.
  *
  * GC retains the newest `retain` manifests (the in-flight-reader
  * grace: a reader that resolved the previous snapshot finishes on its
  * files, and [[snapshotAt]] time-travels to any retained version) and
  * deletes data dirs referenced by NONE of them — old manifests first,
  * so nothing resolvable ever points at deleted files.
  */
object ManifestedTable {

  final case class Entry(part: Int, path: String, rows: Long)
  final case class Snapshot(version: Long, entries: Seq[Entry],
                            foldedDays: Seq[Long], tombDays: Seq[Long])

  private val MF = "v(\\d+)\\.txt".r

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir(tbl: String) = new Path(s"$tbl/manifest")

  /** Committed manifest versions at `tbl`, ascending. */
  def versions(spark: SparkSession, tbl: String): Seq[Long] = {
    val m = manifestDir(tbl)
    val fs = fsOf(spark, m)
    if (!fs.exists(m)) Seq.empty
    else fs.listStatus(m).toSeq.map(_.getPath.getName).collect {
      case MF(n) => n.toLong
    }.sorted
  }

  /** Parse one committed manifest. */
  def snapshotAt(spark: SparkSession, tbl: String, v: Long): Snapshot = {
    val p = new Path(manifestDir(tbl), s"v$v.txt")
    val fs = fsOf(spark, p)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    var entries = Vector.empty[Entry]
    var folded = Vector.empty[Long]
    var tombs = Vector.empty[Long]
    var ver = -1L
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("version", n)       => ver = n.toLong
        case Array("folded_day", d)    => folded :+= d.toLong
        case Array("tomb_day", d)      => tombs :+= d.toLong
        case Array("entry", pt, rp, r) => entries :+= Entry(pt.toInt, rp, r.toLong)
        case other => throw new java.io.IOException(
          s"corrupt manifest $p: unparseable line '${other.mkString("\\t")}'")
      }
    }
    require(ver == v, s"manifest $p declares version $ver, file names $v")
    Snapshot(ver, entries, folded, tombs)
  }

  /** The CURRENT snapshot — one bounded manifest listing + one small
    * file read; never touches data bytes.
    */
  def snapshot(spark: SparkSession, tbl: String): Option[Snapshot] =
    versions(spark, tbl).lastOption.map(snapshotAt(spark, tbl, _))

  /** Read a snapshot's rows — all partitions, or only `parts` (the
    * pruned probe path: entry selection IS the partition pruning).
    * Paths are immutable post-commit, so the returned frame stays
    * valid across any concurrent commit within the GC grace.
    */
  def read(spark: SparkSession, tbl: String, snap: Snapshot,
           parts: Option[Seq[Int]] = None): DataFrame = {
    require(snap.entries.nonEmpty, s"empty manifested table at $tbl")
    val all = snap.entries.map(e => s"$tbl/${e.path}")
    parts match {
      case None => spark.read.parquet(all: _*)
      case Some(ps) =>
        val want = ps.toSet
        val sel = snap.entries.filter(e => want(e.part)).map(e => s"$tbl/${e.path}")
        if (sel.nonEmpty) spark.read.parquet(sel: _*)
        // no matching entries: an empty frame in the table's own schema
        else spark.read.parquet(all.head).limit(0)
    }
  }

  /** Write `df` as version `v`'s data files, partitioned by `partCol`
    * — which stays a DATA column inside the files (the `pdir=` hive
    * dirs are write layout only, never read back as a partition
    * column). A partial `data/v{K}` from a crashed prior attempt is
    * deleted first: unreferenced by any manifest, it is invisible and
    * safe to re-stage. Returns the entries to commit.
    */
  def writeData(spark: SparkSession, tbl: String, v: Long,
                df: DataFrame, partCol: String,
                cluster: Boolean = true): Seq[Entry] = {
    val dataDir = new Path(s"$tbl/data/v$v")
    val fs = fsOf(spark, dataDir)
    fs.delete(dataDir, true)
    // `cluster = false` for aggregation/join-shaped content whose
    // partitioning AQE already sized to the data (see
    // [[Similarity.rewritePartitions]]); scan-shaped content keeps the
    // rebalance so files track data volume, not scan-task count
    (if (cluster) Similarity.clusterForWrite(
       df.withColumn("pdir", col(partCol)), "pdir")
     else df.withColumn("pdir", col(partCol)))
      .write.partitionBy("pdir").parquet(dataDir.toString)
    val parts = fs.listStatus(dataDir).toSeq
      .filter(_.getPath.getName.startsWith("pdir="))
    // EMPTY content writes no partition dirs (just _SUCCESS): return
    // no entries rather than crash the read-back — a full-takedown
    // fold legitimately empties every affected partition, and its
    // commit must still land so the pending tombstones retire
    if (parts.isEmpty) return Seq.empty
    // row counts off the read-back: the groupBy is on the PARTITION
    // column with count(*) only, so the scan carries an empty data
    // ReadSchema — row-group counts, not data pages
    val rowsOf = spark.read.parquet(dataDir.toString)
      .groupBy("pdir").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    parts.map { st =>
      val part = st.getPath.getName.stripPrefix("pdir=").toInt
      Entry(part, s"data/v$v/pdir=$part", rowsOf.getOrElse(part, 0L))
    }.sortBy(_.part)
  }

  /** Commit a snapshot: serialize fully to a WRITER-UNIQUE hidden tmp,
    * then RENAME into the manifest dir — atomic, so a reader never
    * sees a torn manifest. The exists-check catches a replayed commit
    * of the same version (the realistic single-writer failure), and on
    * HDFS-semantics filesystems a rename onto an existing version also
    * refuses. The contract is SINGLE-WRITER, like every store mutation
    * in this repo: one writer commits at a time, and TRUE concurrent
    * writers are outside it. POSIX rename(2) replaces an existing file
    * silently, so on the local filesystem two writers racing between
    * the exists-check and the rename can both succeed, the later
    * manifest winning; nothing here detects that race.
    */
  def commit(spark: SparkSession, tbl: String, snap: Snapshot): Unit = {
    val m = manifestDir(tbl)
    val fs = fsOf(spark, m)
    fs.mkdirs(m)
    val dst = new Path(m, s"v${snap.version}.txt")
    if (fs.exists(dst))
      throw new java.io.IOException(
        s"manifest version ${snap.version} already committed at $tbl — " +
          "lost single-writer race or replayed commit")
    // writer-unique tmp: even an out-of-contract racer can never clobber
    // another writer's half-serialized bytes
    val tmp = new Path(m, s".v${snap.version}.txt.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder
      sb.append(s"version\t${snap.version}\n")
      snap.foldedDays.sorted.foreach(d => sb.append(s"folded_day\t$d\n"))
      snap.tombDays.sorted.foreach(d => sb.append(s"tomb_day\t$d\n"))
      snap.entries.sortBy(_.part).foreach(e =>
        sb.append(s"entry\t${e.part}\t${e.path}\t${e.rows}\n"))
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"manifest commit rename $tmp -> $dst failed (concurrent commit?)")
  }

  /** Drop all but the newest `retain` manifests, then every data dir
    * referenced by NONE of the kept ones — manifests first, so nothing
    * resolvable ever names a deleted path. Idempotent; a crash between
    * the two phases leaves only unreferenced data for the next gc.
    */
  def gc(spark: SparkSession, tbl: String, retain: Int = 2): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val vs = versions(spark, tbl)
    val keep = vs.takeRight(retain)
    val m = manifestDir(tbl)
    val fs = fsOf(spark, m)
    vs.dropRight(retain).foreach(v => fs.delete(new Path(m, s"v$v.txt"), false))
    val referenced = keep.flatMap(v =>
      snapshotAt(spark, tbl, v).entries.map(_.path)).toSet
    val dataRoot = new Path(s"$tbl/data")
    if (fs.exists(dataRoot))
      fs.listStatus(dataRoot).foreach { vd =>
        if (fs.exists(vd.getPath))
          fs.listStatus(vd.getPath).foreach { pd =>
            val rel = s"data/${vd.getPath.getName}/${pd.getPath.getName}"
            if (!referenced(rel)) fs.delete(pd.getPath, true)
          }
        if (fs.exists(vd.getPath) && fs.listStatus(vd.getPath).isEmpty)
          fs.delete(vd.getPath, true)
      }
  }
}

/** The IVF index store over a [[ManifestedTable]] assignments table —
  * the INCREMENTAL store: streamed days and tombstones fold into ONLY
  * their affected partitions (the full [[Similarity.ivfIndexStoreCompact]]
  * rewrites the whole store per fold — the remaining scale-killer at
  * 100 TB when one day touches a handful of 16k lists), and the fold's
  * day retirement is ATOMIC with the data flip because both live in
  * the same manifest commit. Centroids, the `lloyd_stats` sidecar, day
  * cells, and tombstone days reuse the flat store's artifacts and
  * writers verbatim ([[Similarity.ivfIndexStreamDay]] /
  * [[Similarity.ivfIndexStoreTombstone]] work unchanged on this
  * layout); only the consolidated rows move under the manifest.
  *
  * Law (hash-certified by `q_ivf_store_incfold`, sharing the streamed-
  * delete oracle): init + streamed days + tombstone + incremental fold
  * ≡ a fresh build over the survivors — same occupancy, row for row.
  * Scale shape: the fold reads pending day/tombstone cells plus ONLY
  * the affected partitions' entries, writes only those partitions'
  * replacement files, and merges the sidecar by ±additive cells
  * (day rows add, victims subtract — O(batch × dim), zero unaffected
  * bytes moved; unaffected entries carry their old PATHS into the new
  * manifest, spec-pinned byte-identical).
  */
object IvfIncremental {

  private val TBL = "assignments_m"
  private def tbl(dir: String) = s"$dir/$TBL"

  // ONE copy of the sidecar-cell aggregation ([[Similarity]]'s own,
  // widened for sharing) — two copies could drift, the exact hazard
  // the extracted occupancy/probe internals exist to avoid
  private def statsOfRows(rows: DataFrame): Map[(Int, Int), (Long, Long)] =
    Similarity.collectAssignmentStats(rows)

  /** The store schema, for the empty-entries degenerate (a
    * full-takedown fold legitimately empties the table; reads must
    * serve an empty frame, not crash on schema inference).
    */
  private def emptyRows(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType()
        .add("vec_id", LongType).add("qb", BinaryType).add("qsq", LongType)
        .add("dig", StringType).add("centroid_sim", DoubleType)
        .add("centroid_id", IntegerType))
  }

  private def readRows(spark: SparkSession, dir: String,
                       snap: ManifestedTable.Snapshot,
                       parts: Option[Seq[Int]]): DataFrame =
    if (snap.entries.isEmpty) emptyRows(spark)
    else ManifestedTable.read(spark, tbl(dir), snap, parts)

  /** Build the incremental store: centroids + sidecar exactly as the
    * flat init, assignments committed as manifest v1.
    */
  def init(embeddings: DataFrame, dir: String, nList: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    val cents = Similarity.ivfSeedCentroids(embeddings, nList)
    // ONE persisted quantize+argmax pass feeds the manifested write AND
    // the sidecar cells (same rows the commit references — no second
    // argmax and no read-back scan of the just-committed bytes); the
    // centroid write overlaps the data write (§2.6). The sidecar still
    // lands strictly AFTER the commit — the store's documented
    // rows-ahead-of-cells window is unchanged.
    val assigned = Similarity.ivfIndexAssign(embeddings, cents)
      .select((Similarity.STORE_COLS :+ "centroid_id").map(col): _*)
      .persist()
    try {
      val entries = Jobs.concurrently(Seq(
        () => Some(ManifestedTable.writeData(spark, tbl(dir), 1L, assigned,
          "centroid_id")),
        () => {
          cents.write.mode("overwrite").parquet(s"$dir/centroids"); None
        })).head.get
      ManifestedTable.commit(spark, tbl(dir),
        ManifestedTable.Snapshot(1L, entries, Nil, Nil))
      Similarity.writeLloydStats(spark, dir, statsOfRows(assigned))
    } finally assigned.unpersist(blocking = false)
  }

  private def currentSnap(spark: SparkSession, dir: String)
      : ManifestedTable.Snapshot =
    ManifestedTable.snapshot(spark, tbl(dir)).getOrElse(
      throw new java.io.IOException(
        s"no manifested IVF store at $dir (no committed manifest)"))

  /** Ids of committed day cells under `dir/$table` (day_assignments /
    * day_tombstones), ascending.
    */
  private def dayIds(spark: SparkSession, dir: String,
                     table: String): Seq[Long] = {
    val p = new Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case s if s.startsWith("day=") => s.stripPrefix("day=").toLong
    }.sorted
  }

  private def readDays(spark: SparkSession, dir: String, table: String,
                       days: Seq[Long], cols: Seq[String]): Option[DataFrame] =
    if (days.isEmpty) None
    else Some(spark.read.parquet(s"$dir/$table")
      .filter(col("day").isin(days.map(java.lang.Long.valueOf): _*))
      .select(cols.map(col): _*))

  /** The live rows a probe serves, SNAPSHOT-consistent: the resolved
    * manifest's entries ∪ day cells it does not list as folded, minus
    * tombstone days it does not list as applied. One manifest resolve
    * per call — a concurrent fold can never double-count (the flip
    * moves rows and watermarks together).
    */
  def liveAssignments(spark: SparkSession, dir: String): DataFrame =
    liveOf(spark, dir, currentSnap(spark, dir), None)

  private def liveOf(spark: SparkSession, dir: String,
                     snap: ManifestedTable.Snapshot,
                     parts: Option[Seq[Int]]): DataFrame = {
    val consCols = Seq("vec_id", "qb", "qsq", "dig", "centroid_id",
      "centroid_sim")
    val cons = readRows(spark, dir, snap, parts)
      .select(consCols.map(col): _*)
    val pendDays = dayIds(spark, dir, "day_assignments")
      .filterNot(snap.foldedDays.toSet)
    val days0 = readDays(spark, dir, "day_assignments", pendDays, consCols)
    val days = (days0, parts) match {
      case (Some(d), Some(ps)) =>
        Some(d.filter(col("centroid_id").isin(ps.map(Integer.valueOf): _*)))
      case _ => days0
    }
    val base = days.fold(cons)(cons.unionByName(_))
    val pendTombs = dayIds(spark, dir, "day_tombstones")
      .filterNot(snap.tombDays.toSet)
    readDays(spark, dir, "day_tombstones", pendTombs, Seq("vec_id"))
      .map(_.distinct())
      .fold(base)(t => base.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Occupancy over the live view — the flat store's aggregate
    * verbatim ([[Similarity.occupancySummary]]), so the fold law
    * hash-certifies against the SAME oracles.
    */
  def occupancy(spark: SparkSession, dir: String): DataFrame =
    Similarity.occupancySummary(spark, dir, liveAssignments(spark, dir))

  /** Top-k probe: centroid ranking and exact packed-byte rescore are
    * the flat probe verbatim ([[Similarity.storeProbeWith]]); the
    * candidate read is MANIFEST-ENTRY selection — the probed lists'
    * files only, no data-tree listing — plus pending day cells pruned
    * to the probed lists and the unapplied-tombstone anti-join.
    */
  def probe(spark: SparkSession, queryVecs: DataFrame, dir: String,
            k: Int = 5, nProbe: Int = 4,
            keep: Option[DataFrame] = None): DataFrame = {
    val snap = currentSnap(spark, dir)
    Similarity.storeProbeWith(spark, queryVecs, dir, k, nProbe, keep,
      lists => liveOf(spark, dir, snap, Some(lists)))
      .orderBy("query_id", "rnk")
  }

  /** ATOMIC batch append — the manifest model's third dividend (after
    * the windowless fold and the no-listing probe): the flat store's
    * `mode("append")` parquet write is not atomic (a mid-append crash
    * leaves partial ROWS, documented in [[Similarity.ivfIndexStoreAppend]]);
    * here the batch's files land as NEW entries for their partitions —
    * a manifest may hold MULTIPLE entries per partition, the LSM shape
    * — and one manifest commit makes all of them visible at once, or
    * none. No existing partition file is read or rewritten: append
    * cost is O(batch) regardless of store size, and the next [[fold]]
    * compacts multi-entry partitions back to one file set as a side
    * effect of rewriting whatever it touches (spec-pinned). The steps
    * are the flat store's ([[Similarity.ivfAppendWith]]), with the data
    * write + manifest commit running beside the batch's cell collect;
    * the sidecar merges the batch's additive cells AFTER the commit —
    * the same one documented rows-ahead-of-cells window every mutation
    * has, repaired by [[statsRebuild]]. A crash before the commit
    * leaves only unreferenced data files. Returns the assigned batch,
    * unpersisted.
    */
  def append(spark: SparkSession, newVecs: DataFrame,
             dir: String): DataFrame = {
    val assigned = Similarity.ivfAppendWith(spark, newVecs, dir) { rows =>
      val snap = currentSnap(spark, dir)
      val newEntries = ManifestedTable.writeData(spark, tbl(dir),
        snap.version + 1, rows, "centroid_id")
      ManifestedTable.commit(spark, tbl(dir),
        ManifestedTable.Snapshot(snap.version + 1,
          snap.entries ++ newEntries, snap.foldedDays, snap.tombDays))
    }
    ManifestedTable.gc(spark, tbl(dir))
    assigned
  }

  /** FSCK of the manifest itself (`q_ivf_store_inc_fsck`) — the
    * integrity law every store artifact here gets a certifier for:
    * per inverted list, the row count the MANIFEST claims (the sum of
    * its entries' recorded counts) against the rows actually present
    * in the referenced files, full-outer on the list id so a
    * one-sided list (an entry whose files vanished, or files no entry
    * claims... the latter is unreachable via the API — GC deletes
    * unreferenced dirs — but a certifier must not assume its own
    * writers) is itself a violation. One columnar count scan of the
    * referenced files (empty data ReadSchema), no day cells — the
    * manifest covers exactly the consolidated rows.
    */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnap(spark, dir)
    val claimed = snap.entries.groupBy(_.part)
      .map { case (p, es) => (p, es.map(_.rows).sum) }.toSeq
      .toDF("centroid_id", "manifest_rows")
    // a VANISHED entry dir must read as zero rows on that list, not
    // crash the whole scan: the certifier reads what exists (bounded
    // existence checks — one per entry) and the full-outer surfaces
    // the claimed-but-absent list as rows_ok = false
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = snap.entries.filter(e =>
      fs.exists(new Path(s"${tbl(dir)}/${e.path}")))
    val actual = readRows(spark, dir, snap.copy(entries = present), None)
      .groupBy("centroid_id").agg(count(lit(1)).as("file_rows"))
    claimed.join(actual, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("manifest_rows"), lit(0L)).as("manifest_rows"),
        coalesce(col("file_rows"), lit(0L)).as("file_rows"))
      .withColumn("rows_ok", col("manifest_rows") === col("file_rows"))
      .orderBy("centroid_id")
  }

  /** Re-derive the sidecar from the CURRENT manifest's rows — the
    * recovery hatch for a crash between a fold's manifest commit and
    * its sidecar merge (rows flipped, cells stale): one columnar scan
    * of the consolidated entries, after which a fold retry is a clean
    * no-op (its pending sets emptied at the commit).
    */
  def statsRebuild(spark: SparkSession, dir: String): Unit =
    Similarity.writeLloydStats(spark, dir, statsOfRows(
      readRows(spark, dir, currentSnap(spark, dir), None)))

  /** INCREMENTAL FOLD — apply every pending day and tombstone cell to
    * only their affected partitions, in one atomic manifest flip:
    *
    *   1. pending = committed day/tombstone cells the current manifest
    *      does not list; no pending → no-op (NO new version);
    *   2. affected = the day rows' lists ∪ the tombstone victims'
    *      lists (victims located by one manifest-pruned columnar scan
    *      of the INDEX — never the corpus);
    *   3. new files for affected partitions only: (their surviving
    *      consolidated rows ∪ surviving day rows), written under the
    *      next data version;
    *   4. THE FLIP: one manifest commit carrying unaffected entries'
    *      OLD paths verbatim, the affected partitions' new entries,
    *      and the folded-day / applied-tombstone watermarks — a reader
    *      resolves either wholly-before or wholly-after; the mid-fold
    *      double-count of the directory layout cannot exist;
    *   5. sidecar merge by ±additive cells (day rows add, victims
    *      subtract — the append/delete laws), AFTER the flip: a crash
    *      between leaves rows ahead of cells, the store's one
    *      documented window, detectable cell-by-cell and repaired by
    *      [[statsRebuild]] (after which the retry no-ops);
    *   6. GC: manifests beyond the retain-2 grace, data dirs they
    *      alone referenced, and day/tombstone cells folded in EVERY
    *      retained manifest (a graced reader may still need them).
    *
    * Day ids must be monotonic and never reused after their fold (the
    * exactly-once day-cell contract — a replayed PENDING day rewrites
    * identical bytes; a reused FOLDED id would be invisible forever).
    * Returns one row per affected list: rows added (folded survivors),
    * rows removed (tombstoned consolidated), rows after.
    */
  def fold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnap(spark, dir)
    // sidecar read FIRST: fail loud before any write, the append rule
    val statsBefore = Similarity.ivfIndexStoreLloydStats(spark, dir)
    val pendDays = dayIds(spark, dir, "day_assignments")
      .filterNot(snap.foldedDays.toSet)
    val pendTombs = dayIds(spark, dir, "day_tombstones")
      .filterNot(snap.tombDays.toSet)
    if (pendDays.isEmpty && pendTombs.isEmpty)
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("centroid_id", "n_added", "n_removed", "n_rows")
    val consCols = Seq("vec_id", "qb", "qsq", "dig", "centroid_id",
      "centroid_sim")
    val tombIds = readDays(spark, dir, "day_tombstones", pendTombs,
      Seq("vec_id")).map(_.distinct().persist())
    val adds0 = readDays(spark, dir, "day_assignments", pendDays, consCols)
    val adds = adds0.map(d =>
      tombIds.fold(d)(t => d.join(t, Seq("vec_id"), "left_anti")).persist())
    try {
      // victims located against the MANIFESTED rows only (day victims
      // never entered the entries, so they just don't fold)
      val victims = tombIds.map(t =>
        readRows(spark, dir, snap, None)
          .select(consCols.map(col): _*)
          .join(t, Seq("vec_id"), "left_semi").persist())
      try {
        // the two per-list counts are independent bounded collects over
        // the persisted cells — concurrent jobs (§2.6)
        val Seq(addPerList, vicPerList) = Jobs.concurrently(Seq(
          () => adds.map(_.groupBy("centroid_id")
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap)
            .getOrElse(Map.empty[Int, Long]),
          () => victims.map(_.groupBy("centroid_id")
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap)
            .getOrElse(Map.empty[Int, Long])))
        val affected = (addPerList.keySet ++ vicPerList.keySet).toSeq.sorted
        val newSnap =
          if (affected.isEmpty)
            // tombstones matched nothing / days emptied by tombstones:
            // still advance the watermarks so the cells retire
            ManifestedTable.Snapshot(snap.version + 1, snap.entries,
              snap.foldedDays ++ pendDays, snap.tombDays ++ pendTombs)
          else {
            val affCons = readRows(spark, dir, snap, Some(affected))
              .select(consCols.map(col): _*)
            val affSurv = tombIds.fold(affCons)(t =>
              affCons.join(t, Seq("vec_id"), "left_anti"))
            val content = adds.fold(affSurv)(affSurv.unionByName(_))
            val newEntries = ManifestedTable.writeData(spark, tbl(dir),
              snap.version + 1, content, "centroid_id")
            val affSet = affected.toSet
            ManifestedTable.Snapshot(snap.version + 1,
              snap.entries.filterNot(e => affSet(e.part)) ++ newEntries,
              snap.foldedDays ++ pendDays, snap.tombDays ++ pendTombs)
          }
        ManifestedTable.commit(spark, tbl(dir), newSnap)
        // sidecar AFTER the flip (see scaladoc step 5); the two cell
        // aggregations read disjoint persisted frames — concurrent jobs
        val Seq(addCells, subCells) = Jobs.concurrently(Seq(
          () => adds.map(statsOfRows).getOrElse(
            Map.empty[(Int, Int), (Long, Long)]),
          () => victims.map(statsOfRows).getOrElse(
            Map.empty[(Int, Int), (Long, Long)])
            .map { case (k, (s0, n0)) => k -> (-s0, -n0) }))
        val merged = Similarity.lloydMergeStats(
          Similarity.lloydMergeStats(statsBefore, addCells), subCells)
        val (emptied, kept) = merged.partition(_._2._2 == 0L)
        require(emptied.forall(_._2._1 == 0L),
          "additivity violation: a zero-count cell kept a nonzero sum")
        Similarity.writeLloydStats(spark, dir, kept)
        ManifestedTable.gc(spark, tbl(dir))
        retireFoldedCells(spark, dir)
        val after = newSnap.entries.groupBy(_.part)
          .map { case (p, es) => p -> es.map(_.rows).sum }
        affected.map(p => (p, addPerList.getOrElse(p, 0L),
          vicPerList.getOrElse(p, 0L), after.getOrElse(p, 0L)))
          .toDF("centroid_id", "n_added", "n_removed", "n_rows")
          .orderBy("centroid_id")
      } finally victims.foreach(_.unpersist(blocking = false))
    } finally {
      adds.foreach(_.unpersist(blocking = false))
      tombIds.foreach(_.unpersist(blocking = false))
    }
  }

  /** Delete day/tombstone cells folded in EVERY retained manifest —
    * the oldest retained snapshot's watermarks are the safe line; a
    * graced reader on it still serves anything younger.
    */
  private def retireFoldedCells(spark: SparkSession, dir: String): Unit = {
    val vs = ManifestedTable.versions(spark, tbl(dir))
    if (vs.isEmpty) return
    val oldest = ManifestedTable.snapshotAt(spark, tbl(dir), vs.head)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    oldest.foldedDays.foreach(d =>
      fs.delete(new Path(s"$dir/day_assignments/day=$d"), true))
    oldest.tombDays.foreach(d =>
      fs.delete(new Path(s"$dir/day_tombstones/day=$d"), true))
  }
}

/** The LEXICAL index store over a [[ManifestedTable]] postings table —
  * [[IvfIncremental]]'s twin for text (partition = token bucket, the
  * nProbe-for-text pruning key): streamed days and tombstones fold
  * into ONLY the buckets their tokens touch, the day retirement is
  * atomic with the data flip, and a batch append lands as new
  * per-bucket entries made visible by one manifest commit (the flat
  * store's `mode("append")` window closed). The `dfreq` and
  * `corpus_stats` sidecars, day cells, and the served-view arithmetic
  * are the flat store's VERBATIM ([[TextOps.lexViewOf]] /
  * [[TextOps.bm25IndexStreamDay]] / the extracted
  * [[TextOps.lexTombstoneWith]]); only the consolidated postings move
  * under the manifest.
  *
  * Laws (hash-certified): init + streamed days + tombstone +
  * incremental fold ≡ a build over the survivors
  * (`q_bm25_store_incfold`, the streamed-delete oracle verbatim), and
  * init + atomic append ≡ the union build (`q_bm25_store_inc_append`,
  * the BM25 oracle verbatim — token statistics are additive).
  */
object LexIncremental {

  private val TBL = "postings_m"
  private def tbl(dir: String) = s"$dir/$TBL"
  private val COLS = Seq("token", "doc_id", "tf", "dl", "bucket")

  private def currentSnap(spark: SparkSession, dir: String)
      : ManifestedTable.Snapshot =
    ManifestedTable.snapshot(spark, tbl(dir)).getOrElse(
      throw new java.io.IOException(
        s"no manifested lexical store at $dir (no committed manifest)"))

  /** The postings schema, for the empty-entries degenerate (the
    * [[IvfIncremental.emptyRows]] posture: a full takedown empties the
    * table; reads serve an empty frame, never a schema-inference crash).
    */
  private def emptyRows(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new StructType()
        .add("token", StringType).add("doc_id", LongType)
        .add("tf", LongType).add("dl", LongType).add("bucket", IntegerType))
  }

  private def readRows(spark: SparkSession, dir: String,
                       snap: ManifestedTable.Snapshot,
                       parts: Option[Seq[Int]]): DataFrame =
    if (snap.entries.isEmpty) emptyRows(spark)
    else ManifestedTable.read(spark, tbl(dir), snap, parts)

  /** Build the store: manifested postings (v1) + the flat store's
    * dfreq / corpus_stats sidecars covering exactly those rows.
    */
  def init(documents: DataFrame, dir: String, nBuckets: Int = 16): Unit = {
    val spark = documents.sparkSession
    val (nDocs, totalLen) = TextOps.withLexBatch(documents, nBuckets) { b =>
      // manifested postings and the dfreq sidecar are independent until
      // the commit/stats markers land — concurrent jobs (§2.6) off the
      // one persisted tf pass; commit then stats keep their order
      val entries = Jobs.concurrently(Seq(
        () => Some(ManifestedTable.writeData(spark, tbl(dir), 1L, b.postings,
          "bucket", cluster = false)),
        () => {
          b.dfreq.write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$dir/dfreq")
          None
        })).head.get
      ManifestedTable.commit(spark, tbl(dir),
        ManifestedTable.Snapshot(1L, entries, Nil, Nil))
      (b.nDocs, b.totalLen)
    }
    Similarity.writeRenameAside(
      TextOps.lexStatsDf(spark, nDocs, totalLen, nBuckets),
      dir, "corpus_stats")
  }

  /** The served view, SNAPSHOT-consistent: the resolved manifest's
    * postings, merged with the day / tombstone cells it does NOT list
    * as folded/applied — [[TextOps.lexViewOf]]'s arithmetic verbatim.
    */
  private[ext] def view(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, Long, Int) = {
    val snap = currentSnap(spark, dir)
    val base = readRows(spark, dir, snap, None)
      .select(COLS.map(col): _*)
    TextOps.lexViewOf(spark, dir, base,
      TextOps.lexCompleteDays(spark, dir).filterNot(snap.foldedDays.toSet),
      TextOps.lexCompleteDays(spark, dir, "tomb_stats")
        .filterNot(snap.tombDays.toSet))
  }

  /** Demo ranking over the served view ([[TextOps.lexTopDocsOf]]) —
    * the query surface the oracles certify.
    */
  def topDocs(spark: SparkSession, dir: String, nTerms: Int = 10,
              topK: Int = 3): DataFrame =
    TextOps.lexTopDocsOf(spark, view(spark, dir), nTerms, topK)

  /** Tombstone documents: victim facts derived from THIS store's
    * served view ([[TextOps.lexTombstoneWith]] — re-tombstoning
    * contributes zero), day cells written in the marker-last order.
    */
  def tombstone(spark: SparkSession, docIds: DataFrame, dir: String,
                day: Long): Long = {
    // postings-only served view (the [[TextOps.bm25IndexTombstone]]
    // posture): victim facts never read the merged dfreq or the
    // day/tombstone statistics, so the full view's eager stats
    // collects would be wasted driver jobs
    val snap = currentSnap(spark, dir)
    val base = readRows(spark, dir, snap, None).select(COLS.map(col): _*)
    TextOps.lexTombstoneWith(spark,
      TextOps.lexViewPostings(spark, dir, base,
        TextOps.lexCompleteDays(spark, dir)
          .filterNot(snap.foldedDays.toSet),
        TextOps.lexCompleteDays(spark, dir, "tomb_stats")
          .filterNot(snap.tombDays.toSet)),
      docIds, dir, day)
  }

  /** ATOMIC batch append: the batch's postings land as NEW per-bucket
    * entries — no existing file read or rewritten, O(batch) at any
    * store size — and one manifest commit makes them visible. The
    * steps and commit order are the flat store's
    * ([[TextOps.lexAppendWith]]), with the data write + manifest commit
    * standing where the flat postings append stands: the dfreq merge
    * (only the batch-vocabulary buckets) is staged beside the data
    * write and swapped in after the commit, then the one-row stats add.
    *
    * Crash windows: a crash before the commit leaves unreferenced data
    * files (invisible; the next write of that version re-stages them)
    * and at most an unadopted dfreq staging the next append clears —
    * the store serves its pre-append state exactly. A crash between the
    * commit and the sidecar swaps is the store's documented
    * rows-ahead-of-stats window — [[statsRebuild]] repairs it.
    */
  def append(spark: SparkSession, documents: DataFrame, dir: String): Unit = {
    TextOps.lexAppendWith(spark, documents, dir) { rows =>
      val snap = currentSnap(spark, dir)
      val newEntries = ManifestedTable.writeData(spark, tbl(dir),
        snap.version + 1, rows, "bucket", cluster = false)
      ManifestedTable.commit(spark, tbl(dir),
        ManifestedTable.Snapshot(snap.version + 1,
          snap.entries ++ newEntries, snap.foldedDays, snap.tombDays))
    }
    ManifestedTable.gc(spark, tbl(dir))
  }

  /** FSCK of the lexical manifest (`q_bm25_store_inc_fsck`) —
    * [[IvfIncremental.fsck]]'s law at the TOTALS level: the row count
    * the manifest claims (sum of entries' recorded counts) vs the
    * rows actually present in the referenced files. Totals rather
    * than per-bucket because bucket ids are `xxhash64`-keyed (an
    * engine-local fact a cross-engine oracle cannot reproduce — the
    * same reason the near-dup bucket queries are rows-only); the
    * total IS cross-engine certifiable, so the certifier stays under
    * the hash oracle. Vanished entry dirs read as zero rows, never a
    * crash (bounded existence checks, the IVF fsck's posture).
    */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnap(spark, dir)
    val claimed = snap.entries.map(_.rows).sum
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = snap.entries.filter(e =>
      fs.exists(new Path(s"${tbl(dir)}/${e.path}")))
    val actual =
      if (present.isEmpty) 0L
      else ManifestedTable.read(spark, tbl(dir),
        snap.copy(entries = present), None).count()
    Seq((claimed, actual)).toDF("manifest_rows", "file_rows")
      .withColumn("rows_ok", col("manifest_rows") === col("file_rows"))
  }

  /** Re-derive dfreq + corpus_stats from the CURRENT manifest's rows —
    * the recovery hatch for a crash between a fold/append's manifest
    * commit and its sidecar merges: one columnar scan of the
    * consolidated entries (df = postings rows per (token, bucket);
    * doc/length totals off one first-per-doc pass), after which a
    * retry's arithmetic starts from reconciled sidecars.
    */
  def statsRebuild(spark: SparkSession, dir: String): Unit = {
    val (_, _, nBuckets) = TextOps.lexStoreStats(spark, dir)
    val rows = readRows(spark, dir, currentSnap(spark, dir), None)
      .select(COLS.map(col): _*)
    // the rebuild's lineage reads MANIFESTED files, never dfreq itself,
    // so one rename-aside write suffices (no read-then-overwrite race)
    Similarity.writeRenameAside(
      rows.groupBy("token", "bucket").agg(count(lit(1)).as("df"))
        .select("token", "df", "bucket"),
      dir, "dfreq", Seq("bucket"))
    val Array(st) = rows.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("len"))
      .collect()
    Similarity.writeRenameAside(
      TextOps.lexStatsDf(spark, st.getLong(0), st.getLong(1), nBuckets),
      dir, "corpus_stats")
  }

  /** INCREMENTAL FOLD — [[IvfIncremental.fold]]'s protocol on the
    * lexical artifacts: pending day/tombstone cells applied to ONLY
    * the buckets their tokens touch (affected = the pending day and
    * tombstone `dfreq` cells' buckets — no postings scan locates
    * victims; their token facts were derived at tombstone time), one
    * manifest commit flipping rows + watermarks, then the sidecar
    * merges (selective per-bucket dfreq rewrite, additive stats) and
    * grace-aware GC. Post-fold the consolidated sidecars cover exactly
    * the consolidated rows — the fsck contract — because the merge
    * arithmetic is [[TextOps.lexViewOf]]'s own, applied once
    * physically instead of per read. Returns one row per affected
    * bucket: postings rows added (surviving day rows), removed
    * (tombstoned consolidated rows), and after.
    */
  def fold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnap(spark, dir)
    // stats read FIRST: fail loud before any write, the append rule
    val (nDocs0, totalLen0, nBuckets) = TextOps.lexStoreStats(spark, dir)
    val pendDays = TextOps.lexCompleteDays(spark, dir)
      .filterNot(snap.foldedDays.toSet)
    val pendTombs = TextOps.lexCompleteDays(spark, dir, "tomb_stats")
      .filterNot(snap.tombDays.toSet)
    if (pendDays.isEmpty && pendTombs.isEmpty)
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("bucket", "n_added", "n_removed", "n_rows")
    val dayKeys = pendDays.map(java.lang.Long.valueOf)
    val tKeys = pendTombs.map(java.lang.Long.valueOf)
    // each pending-cell frame read ONCE and reused (buckets derivation
    // + content/merge) — persisted, like the IVF fold's adds/victims
    val dayPostings =
      if (pendDays.isEmpty) None
      else Some(spark.read.parquet(s"$dir/day_postings")
        .filter(col("day").isin(dayKeys: _*)).select(COLS.map(col): _*)
        .persist())
    val tombIds =
      if (pendTombs.isEmpty) None
      else Some(spark.read.parquet(s"$dir/day_tombstones")
        .filter(col("day").isin(tKeys: _*)).select("doc_id").distinct()
        .persist())
    val dayDf =
      if (pendDays.isEmpty) None
      else Some(spark.read.parquet(s"$dir/day_dfreq")
        .filter(col("day").isin(dayKeys: _*))
        .select("token", "df", "bucket").persist())
    val tombDf =
      if (pendTombs.isEmpty) None
      else Some(spark.read.parquet(s"$dir/tomb_dfreq")
        .filter(col("day").isin(tKeys: _*))
        .select(col("token"), (-col("df")).as("df"), col("bucket"))
        .persist())
    try {
      // affected buckets: the pending cells' own dfreq rows name them —
      // a bounded sidecar read, no postings scan to locate victims
      // two independent bounded collects over persisted cells —
      // concurrent jobs (§2.6)
      val Seq(dayBuckets, tombBuckets) = Jobs.concurrently(Seq(
        () => dayDf.map(_.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq).getOrElse(Seq.empty[Int]),
        () => tombDf.map(_.select("bucket").distinct()
          .collect().map(_.getInt(0)).toSeq).getOrElse(Seq.empty[Int])))
      val affected = (dayBuckets ++ tombBuckets).distinct.sorted
      val affCons = readRows(spark, dir, snap, Some(affected))
        .select(COLS.map(col): _*)
      val addsPer = dayPostings.map { d =>
        val surv = tombIds.fold(d)(t => d.join(t, Seq("doc_id"), "left_anti"))
        surv.groupBy("bucket").agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }.getOrElse(Map.empty[Int, Long])
      // removed rows need NO victim scan: the manifest already carries
      // per-entry row counts, and after(b) = affSurv(b) + adds(b), so
      // removed(b) = consBefore(b) − (after(b) − adds(b))
      val consBefore = snap.entries.groupBy(_.part)
        .map { case (p, es) => p -> es.map(_.rows).sum }
      val newSnap =
        if (affected.isEmpty)
          ManifestedTable.Snapshot(snap.version + 1, snap.entries,
            snap.foldedDays ++ pendDays, snap.tombDays ++ pendTombs)
        else {
          val affSurv = tombIds.fold(affCons)(t =>
            affCons.join(t, Seq("doc_id"), "left_anti"))
          val daySurv = dayPostings.map(d => tombIds.fold(d)(t =>
            d.join(t, Seq("doc_id"), "left_anti")))
          val content = daySurv.fold(affSurv)(affSurv.unionByName(_))
          val newEntries = ManifestedTable.writeData(spark, tbl(dir),
            snap.version + 1, content, "bucket")
          val affSet = affected.toSet
          ManifestedTable.Snapshot(snap.version + 1,
            snap.entries.filterNot(e => affSet(e.part)) ++ newEntries,
            snap.foldedDays ++ pendDays, snap.tombDays ++ pendTombs)
        }
      ManifestedTable.commit(spark, tbl(dir), newSnap)
      // sidecars AFTER the flip — the documented window, statsRebuild
      // repairs. dfreq (the view's ±additive merge for ONLY the
      // affected buckets, swapped per-partition) and the one-row
      // corpus_stats are independent artifacts — concurrent jobs (§2.6)
      Jobs.concurrently(Seq(
        () => if (affected.nonEmpty) {
          val baseAff = TextOps.lexStoreDfreq(spark, dir)
            .filter(col("bucket").isin(affected.map(Integer.valueOf): _*))
          val merged = TextOps.lexDfreqSum(baseAff +: (dayDf.toSeq ++ tombDf.toSeq))
            .filter(col("df") > 0)
          Similarity.rewritePartitions(spark, s"$dir/dfreq", affected,
            merged, "bucket", cluster = false)
        },
        () => {
          val dayStats =
            if (pendDays.isEmpty) (0L, 0L)
            else {
              val Array(r) = spark.read.parquet(s"$dir/day_stats")
                .filter(col("day").isin(dayKeys: _*))
                .agg(coalesce(sum("n_docs"), lit(0L)),
                  coalesce(sum("total_len"), lit(0L))).collect()
              (r.getLong(0), r.getLong(1))
            }
          val tombStats =
            if (pendTombs.isEmpty) (0L, 0L)
            else {
              val Array(r) = spark.read.parquet(s"$dir/tomb_stats")
                .filter(col("day").isin(tKeys: _*))
                .agg(coalesce(sum("n_docs"), lit(0L)),
                  coalesce(sum("total_len"), lit(0L))).collect()
              (r.getLong(0), r.getLong(1))
            }
          Similarity.writeRenameAside(
            TextOps.lexStatsDf(spark,
              nDocs0 + dayStats._1 - tombStats._1,
              totalLen0 + dayStats._2 - tombStats._2, nBuckets),
            dir, "corpus_stats")
        }))
      ManifestedTable.gc(spark, tbl(dir))
      retireFoldedCells(spark, dir)
      val after = newSnap.entries.groupBy(_.part)
        .map { case (p, es) => p -> es.map(_.rows).sum }
      affected.map { b =>
        val adds = addsPer.getOrElse(b, 0L)
        val removed = consBefore.getOrElse(b, 0L) -
          (after.getOrElse(b, 0L) - adds)
        (b, adds, removed, after.getOrElse(b, 0L))
      }.toDF("bucket", "n_added", "n_removed", "n_rows")
        .orderBy("bucket")
    } finally Seq(dayPostings, tombIds, dayDf, tombDf)
      .foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** [[IvfIncremental]]'s grace-aware cell retirement over the lexical
    * day tables (ingest triplet + tombstone triplet).
    */
  private def retireFoldedCells(spark: SparkSession, dir: String): Unit = {
    val vs = ManifestedTable.versions(spark, tbl(dir))
    if (vs.isEmpty) return
    val oldest = ManifestedTable.snapshotAt(spark, tbl(dir), vs.head)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    oldest.foldedDays.foreach { d =>
      Seq("day_postings", "day_dfreq", "day_stats").foreach(t =>
        fs.delete(new Path(s"$dir/$t/day=$d"), true))
    }
    oldest.tombDays.foreach { d =>
      Seq("day_tombstones", "tomb_dfreq", "tomb_stats").foreach(t =>
        fs.delete(new Path(s"$dir/$t/day=$d"), true))
    }
  }
}
