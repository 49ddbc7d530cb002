package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-18 crash-safety and scale-shape fixes, spec-pinned:
  *
  *   1. the per-partition swap ([[Similarity.rewritePartitions]] /
  *      [[Similarity.deleteFromPartitioned]]) preserves survivor rows
  *      across a crash in its rename window — the round-17 protocol
  *      (delete live, then rename staged) could destroy a partition's
  *      only copy via the documented StatsRebuild-then-retry recovery;
  *   2. the lexical batch mutators rewrite ONLY the dfreq buckets the
  *      batch's vocabulary touches — untouched buckets byte-identical;
  *   3. a TORN streamed lexical day (postings landed, stats did not)
  *      is invisible to the served view, never under-counted;
  *   4. [[Similarity.ivfIndexStoreProbeFiltered]] treats store ids
  *      missing from the label frame as keep = false on EVERY side;
  *   5. the flat whole-store swap ([[Similarity.stageThenSwap]])
  *      compacts in place: the store keeps serving at its own dir,
  *      with no manifest beside it;
  *   6. a lexical append that crashes before its postings land leaves
  *      only a dfreq merge staging that no reader adopts.
  */
class StoreCrashSafetySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("partition swap crash: a reader adopts the completed staging and a " +
    "retried delete preserves every survivor row") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_crash")
      .toString + "/idx"
    TextOps.bm25IndexInit(d, dir)
    val fs = hadoopFs(dir)
    val victim = col("doc_id") % 5 === 2
    val idFrame = d.filter(victim).select("doc_id")
    val preRows = spark.read.parquet(s"$dir/postings").count()
    val victimRows = spark.read.parquet(s"$dir/postings")
      .join(idFrame, Seq("doc_id")).count()
    assert(victimRows > 0)
    // construct the EXACT mid-swap crash state the old protocol lost
    // data in: survivors staged complete (_SUCCESS), and one affected
    // bucket's live dir already renamed aside — its only full copy is
    // the staged one
    val affected = spark.read.parquet(s"$dir/postings")
      .join(idFrame, Seq("doc_id")).select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(affected.size > 1, "fixture too tame: one affected bucket")
    val staging = new org.apache.hadoop.fs.Path(s"$dir/.postings.delete-next")
    spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(affected.map(Integer.valueOf): _*))
      .join(idFrame, Seq("doc_id"), "left_anti")
      .write.partitionBy("bucket").parquet(staging.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")))
    val b0 = affected.head
    val victimRowsB0 = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket") === b0).join(idFrame, Seq("doc_id")).count()
    assert(victimRowsB0 > 0)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/postings/bucket=$b0"),
      new org.apache.hadoop.fs.Path(staging, s".bucket=$b0.old")))
    // READ-SIDE adoption: a plain read path self-heals the absent
    // bucket from the staged copy instead of serving a truncated table
    TextOps.bm25StoreFsck(spark, dir).collect() // reads postings, adopts
    val afterAdopt = spark.read.parquet(s"$dir/postings")
    assert(afterAdopt.filter(col("bucket") === b0)
      .join(idFrame, Seq("doc_id")).count() === 0,
      "adopted bucket must hold exactly the staged survivors")
    assert(afterAdopt.count() === preRows - victimRowsB0,
      "adoption must lose no survivor row and resurrect no victim of " +
        "the swapped bucket")
    // the documented recovery: StatsRebuild reconciles the sidecars to
    // the adopted rows, the retried delete finds exactly the victims
    // still present — and the final store equals the survivor build
    TextOps.bm25IndexStatsRebuild(spark, dir)
    TextOps.bm25IndexDelete(spark, idFrame, dir)
    val got = TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
    val expected = TextOps.bm25TopDocs(d.filter(!victim))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === expected.toSeq,
      "post-crash recovery must converge to the survivor build")
    val clean = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(clean.getBoolean(3) && clean.getBoolean(8) && clean.getBoolean(9))
    assert(!fs.exists(staging), "retry must clear the staging root")
  }

  test("selective dfreq merge: append rewrites only the batch-vocabulary " +
    "buckets; untouched bucket files are byte-identical; content exact") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_sel")
      .toString + "/idx"
    TextOps.bm25IndexInit(d, dir)
    val fs = hadoopFs(dir)
    def bucketFiles(table: String): Map[String, Seq[(String, Long, Long)]] = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
      fs.listStatus(root).filter(_.getPath.getName.startsWith("bucket="))
        .map { b =>
          b.getPath.getName -> fs.listStatus(b.getPath)
            .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
            .toSeq.sortBy(_._1)
        }.toMap
    }
    val before = bucketFiles("dfreq")
    // a one-token batch: its vocabulary hashes into exactly one bucket
    val batch = Seq((900001L, "qqzz qqzz qqzz", "en"))
      .toDF("doc_id", "text", "lang")
    val nBuckets = spark.read.parquet(s"$dir/corpus_stats")
      .select("n_buckets").collect()(0).getInt(0)
    val batchBucket = spark.range(1)
      .select(pmod(xxhash64(lit("qqzz")), lit(nBuckets.toLong))
        .cast("int")).collect()(0).getInt(0)
    TextOps.bm25IndexAppend(spark, batch, dir)
    val after = bucketFiles("dfreq")
    val touched = after.keySet.filter(k =>
      before.get(k) != after.get(k)) ++ (before.keySet -- after.keySet)
    assert(touched.subsetOf(Set(s"bucket=$batchBucket")),
      s"append must rewrite only the batch bucket; touched $touched, " +
        s"expected at most bucket=$batchBucket")
    // content law unchanged: store dfreq/stats equal a fresh union build
    val dir2 = java.nio.file.Files.createTempDirectory("graft_lex_sel2")
      .toString + "/idx"
    TextOps.bm25IndexInit(d.select("doc_id", "text", "lang")
      .unionByName(batch), dir2)
    def dfOf(p: String) = spark.read.parquet(s"$p/dfreq")
      .select("token", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfOf(dir) === dfOf(dir2))
    assert(spark.read.parquet(s"$dir/corpus_stats").collect().map(_.toSeq)
      .toSeq === spark.read.parquet(s"$dir2/corpus_stats").collect()
      .map(_.toSeq).toSeq)
    // ... and the delete's merge is selective too: victims' buckets only
    val beforeDel = bucketFiles("dfreq")
    val (nd, _) = TextOps.bm25IndexDelete(spark,
      Seq(900001L).toDF("doc_id"), dir)
    assert(nd === 1L)
    val afterDel = bucketFiles("dfreq")
    val touchedDel = afterDel.keySet.filter(k =>
      beforeDel.get(k) != afterDel.get(k)) ++
      (beforeDel.keySet -- afterDel.keySet)
    assert(touchedDel.subsetOf(Set(s"bucket=$batchBucket")),
      s"delete must rewrite only the victims' buckets; touched $touchedDel")
    assert(dfOf(dir) === dfOf(dir2).flatMap { case (t, n) =>
      if (t == "qqzz") None else Some(t -> n)
    }, "deleting the synthetic doc must restore the original dfreq")
  }

  test("append crash before the postings land: a completed dfreq merge " +
    "staging is adopted by no reader; the next append clears it") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_stage")
      .toString + "/idx"
    val old = col("doc_id") % 3 =!= 0
    TextOps.bm25IndexInit(d.filter(old), dir)
    val fs = hadoopFs(dir)
    def files(table: String): Seq[(String, Long, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/$table"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
    }
    val (dfreqBefore, postingsBefore) = (files("dfreq"), files("postings"))
    // the crash state: the append's concurrent phase staged its whole
    // dfreq merge (committed by _SUCCESS), the postings append had not
    // landed yet
    val batch = d.filter(!old)
    val (nDocs0, _, nBuckets) = TextOps.lexStoreStats(spark, dir)
    TextOps.withLexBatch(batch, nBuckets) { b =>
      Similarity.stagePartitions(spark, s"$dir/dfreq", TextOps.lexDfreqSum(Seq(
        TextOps.lexStoreDfreq(spark, dir)
          .filter(col("bucket").isin(b.buckets.map(Integer.valueOf): _*)),
        b.dfreq)), "bucket")
    }
    val staging = new org.apache.hadoop.fs.Path(s"$dir/.dfreq.append-staging")
    assert(fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")))
    // a probe and the fsck serve the pre-append store exactly, and
    // neither moves a sidecar byte
    val preAppend = TextOps.bm25TopDocs(d.filter(old)).collect().map(_.toSeq)
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === preAppend.toSeq)
    val fsck = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(fsck.getBoolean(3) && fsck.getBoolean(8) && fsck.getBoolean(9),
      s"fsck must read the pre-append store as whole: $fsck")
    assert(fsck.getLong(4) === nDocs0 && fsck.getLong(5) === nDocs0)
    assert(files("dfreq") === dfreqBefore && files("postings") === postingsBefore,
      "no reader may adopt the append staging")
    // the retried append clears the staging and lands exactly the batch
    TextOps.bm25IndexAppend(spark, batch, dir)
    assert(!fs.exists(staging), "the next append must clear the staging")
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === TextOps.bm25TopDocs(d).collect().map(_.toSeq).toSeq)
    val after = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(after.getBoolean(3) && after.getBoolean(8) && after.getBoolean(9))
  }

  test("a torn streamed day (no day_stats commit marker) is invisible to " +
    "the served view; its replay completes it") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_torn")
      .toString + "/idx"
    val init = col("doc_id") % 3 === 0
    val day0 = col("doc_id") % 3 === 1
    val day1 = col("doc_id") % 3 === 2
    TextOps.bm25IndexInit(d.filter(init), dir)
    TextOps.bm25IndexStreamDay(spark, d.filter(day0), 0L, dir)
    // tear day 1 by hand: postings land, dfreq and stats do not (the
    // crash between the three per-day commits)
    TextOps.bm25IndexStreamDay(spark, d.filter(day1), 1L, dir)
    val fs = hadoopFs(dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/day_dfreq/day=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/day_stats/day=1"), true)
    // the view serves init ∪ day0 exactly — the torn day is invisible,
    // NOT served with missing df/stats contributions
    val gated = TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
    val expected = TextOps.bm25TopDocs(d.filter(init || day0))
      .collect().map(_.toSeq)
    assert(gated.nonEmpty && gated.toSeq === expected.toSeq,
      "torn day must be invisible to the served ranking")
    // the foreachBatch replay overwrites all three day tables — the day
    // completes and the view serves the full union
    TextOps.bm25IndexStreamDay(spark, d.filter(day1), 1L, dir)
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === TextOps.bm25TopDocs(d).collect().map(_.toSeq).toSeq)
  }

  test("whole-store swap reader race: a reader inside the rename window " +
    "fails loud (never a wrong answer); recovery restores the store") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("graft_swap_race")
      .toString
    val dir = s"$root/idx"
    TextOps.bm25IndexInit(d, dir)
    val want = TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
    val fs = hadoopFs(dir)
    // construct the exact between-renames window stageThenSwap's
    // single-reader contract documents: staging complete (_SUCCESS at
    // its root), target renamed aside, nothing live
    val staging = new org.apache.hadoop.fs.Path(s"$root/.idx.compact-staging")
    val old = new org.apache.hadoop.fs.Path(s"$root/.idx.compact-old")
    Seq("postings", "dfreq", "corpus_stats").foreach { t =>
      spark.read.parquet(s"$dir/$t").write
        .parquet(new org.apache.hadoop.fs.Path(staging, t).toString)
    }
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")).close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir), old))
    // the racing reader: loud missing-store failure, not a wrong answer
    val e = intercept[Exception] { TextOps.bm25StoreTopDocs(spark, dir) }
    assert(e.getMessage != null, s"expected a loud failure, got $e")
    // the enumerated-states recovery adopts the completed staging and
    // the reader then serves the full store again
    assert(Curation.storeSwapRecover(spark, dir) === "recovered-staging")
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === want.toSeq)
  }

  test("flat layout is untouched: stageThenSwap double-renames in " +
    "place and compact returns its own argument") {
    val rng = new scala.util.Random(11)
    val docs = (0L until 60L).map(id => (id,
      Seq.fill(5 + rng.nextInt(10))(s"w${rng.nextInt(20)}").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_flat_lex")
      .toString + "/store"
    TextOps.bm25IndexInit(docs, dir)
    val before = TextOps.bm25StoreTopDocs(spark, dir).collect().toSeq
    assert(before.nonEmpty)
    val live = TextOps.bm25IndexCompact(spark, dir)
    assert(live === dir, "flat compact must keep serving the same root")
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().toSeq === before)
    assert(!hadoopFs(dir).exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir).getParent, "manifest")),
      "flat compact must not invent a manifest")
  }

  test("filtered store probe: ids missing from the label frame read as " +
    "keep = false — identical to labeling them false explicitly") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_lbl")
      .toString + "/idx"
    Similarity.ivfIndexStoreInit(emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
    // partial coverage: only even ids labeled (keep iff % 4 == 0)
    val partial = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), (col("vec_id") % 4 === 0).as("keep"))
    // full coverage with the SAME admissible set: odd ids keep = false
    val full = emb.select(col("vec_id"),
      (col("vec_id") % 2 === 0 && col("vec_id") % 4 === 0).as("keep"))
    val a = Similarity.ivfIndexStoreProbeFiltered(spark, queries, dir, partial)
      .collect().map(_.toSeq)
    val b = Similarity.ivfIndexStoreProbeFiltered(spark, queries, dir, full)
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq === b.toSeq,
      "missing labels must read as keep = false on every side")
  }
}
