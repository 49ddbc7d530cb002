package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class TextOpsSpec extends AnyFunSuite with SparkSpec {

  def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("tokenCount: whitespace vs BPE-ish regex tokens") {
    val d = docs((1L, "hello world 123 foo-bar", "en"))
    val r = TextOps.tokenCount(d).collect()(0)
    assert(r.getAs[Int]("n_ws_tokens") === 4)
    // hello, world, 123, foo, -, bar
    assert(r.getAs[Int]("n_re_tokens") === 6)
  }

  test("langId: marker stopwords drive the prediction with fixed tie-break") {
    val d = docs(
      (1L, "the cat and the dog of the town", "en"),
      (2L, "el gato de la casa que los", "es"),
      (3L, "xyzzy plugh qwerty", "zz"))
    val rows = TextOps.langId(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(rows(1L) === "en")
    assert(rows(2L) === "es")
    assert(rows(3L) === "und")
  }

  test("qualityScore ratios are exact") {
    val d = docs((1L, "ab cd!", "en")) // 6 chars, 2 ws tokens, 1 punct, 0 stopwords
    val r = TextOps.qualityScore(d).collect()(0)
    assert(r.getAs[Double]("avg_token_len") === 3.0)
    assert(r.getAs[Double]("punct_ratio") === math.rint(1.0 / 6.0 * 10000) / 10000)
    assert(r.getAs[Double]("stopword_ratio") === 0.0)
  }

  test("fingerprints: md5 matches java digest; rolling hash is order-sensitive") {
    val d = docs((1L, "a b c", "en"), (2L, "c b a", "en"))
    val md = TextOps.fingerprintMd5(d).collect()(0).getAs[String]("fingerprint")
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md === expected)
    val rh = TextOps.rollingHash(d).collect().map(_.getLong(1))
    assert(rh(0) !== rh(1), "rolling hash must depend on character order")
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 1000000007L)
    assert(rh(0) === ref("a b c"), "must equal the Rabin-Karp reference fold")
    assert(rh(1) === ref("c b a"))
  }

  test("repetitionRatio: exact duplicate-trigram fraction; short docs yield NULL") {
    // "a b a b a b" → trigrams: (a b a),(b a b),(a b a),(b a b) → 4 total, 2 distinct
    val d = docs((1L, "a b a b a b", "en"), (2L, "x y", "en"), (3L, "p q r", "en"))
    val rows = TextOps.repetitionRatio(d).collect()
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Int]("n_ngrams") === 4)
    assert(r1.getAs[Int]("n_distinct") === 2)
    assert(r1.getAs[Double]("dup_ratio") === 0.5)
    val r2 = rows.find(_.getLong(0) == 2L).get // 2 tokens < n → no grams
    assert(r2.getAs[Int]("n_ngrams") === 0)
    assert(r2.isNullAt(r2.fieldIndex("dup_ratio")))
    val r3 = rows.find(_.getLong(0) == 3L).get // exactly one trigram, no repeats
    assert(r3.getAs[Int]("n_ngrams") === 1)
    assert(r3.getAs[Double]("dup_ratio") === 0.0)
  }

  test("piiRedact: typed placeholders, sequential counts, clean rows untouched") {
    val d = docs(
      (1L, "mail bob@corp.example.com and jo.ann+x@a.io tel 555-123-4567 host 192.168.0.1", "en"),
      (2L, "no pii here at all", "en"))
    val rows = TextOps.piiRedact(d).collect()
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Int]("n_emails") === 2)
    assert(r1.getAs[Int]("n_phones") === 1)
    assert(r1.getAs[Int]("n_ips") === 1)
    assert(r1.getAs[String]("clean_text") ===
      "mail <EMAIL> and <EMAIL> tel <PHONE> host <IP>")
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.getAs[Int]("n_emails") === 0)
    assert(r2.getAs[String]("clean_text") === "no pii here at all")
  }

  test("piiRedact: an IP is not double-counted as a phone (sequential counting)") {
    // 3-digit octets separated by dots must not feed the phone pattern,
    // and a redacted email's digits must not resurface in later counts
    val d = docs((1L, "ip 111.222.111.222 mail a1@b2.com", "en"))
    val r = TextOps.piiRedact(d).collect()(0)
    assert(r.getAs[Int]("n_ips") === 1)
    assert(r.getAs[Int]("n_phones") === 0)
    assert(r.getAs[Int]("n_emails") === 1)
  }

  test("tfidfTopTerms: rare terms outrank common ones; ties break lexicographically") {
    // 'rare' appears in 1 of 4 docs → idf ln(4); 'common' in all 4 → idf 0
    val d = docs(
      (1L, "common rare common", "en"),
      (2L, "common zeta zeta", "en"),
      (3L, "common alpha beta", "en"),
      (4L, "common", "en"))
    val rows = TextOps.tfidfTopTerms(d, topK = 2).collect()
    val d1 = rows.filter(_.getLong(0) == 1L).map(r => (r.getAs[Int]("rnk"), r.getAs[String]("token"), r.getAs[Double]("tfidf")))
    assert(d1(0)._2 === "rare")
    assert(d1(0)._3 === math.rint(math.log(4.0) * 1e6) / 1e6)
    assert(d1(1)._2 === "common") // tfidf 0 but still ranked (only 2 distinct terms)
    assert(d1(1)._3 === 0.0)
    val d3 = rows.filter(_.getLong(0) == 3L).map(r => (r.getAs[Int]("rnk"), r.getAs[String]("token")))
    assert(d3.map(_._2).toSeq === Seq("alpha", "beta"), "equal scores break on token order")
  }

  test("bm25TopDocs: hand-computed scores, df-ranked term set, " +
    "saturation orders short docs above long ones at equal tf") {
    // corpus: 'a' appears in all three docs (the top-df query term);
    // doc 10 and doc 12 both have tf(a) = 1 but different lengths —
    // BM25's length normalization must rank the SHORTER doc higher
    // (same numerator, larger denominator for the long doc)
    val d = docs(
      (10L, "a b", "en"),
      (11L, "a a c", "en"),
      (12L, "a x y z w v", "en"))
    val rows = TextOps.bm25TopDocs(d, nTerms = 1, topK = 3).collect()
    assert(rows.map(_.getString(0)).distinct.toSeq === Seq("a"),
      "top-1 df term is 'a' (df = 3)")
    // independent reference: N = 3, df = 3, avgdl = (2 + 3 + 6) / 3
    val idf = math.log((3 - 3 + 0.5) / (3 + 0.5) + 1.0)
    def ref(tf: Long, dl: Long): Double = {
      val avgdl = 11.0 / 3
      val raw = idf * (tf * 2.2) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byDoc = rows.map(r => r.getLong(2) ->
      (r.getInt(1), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(byDoc(10L)._4 === ref(1, 2))
    assert(byDoc(11L)._4 === ref(2, 3))
    assert(byDoc(12L)._4 === ref(1, 6))
    // tf wins (doc 11, tf = 2, rank 1); then the shorter of the tf = 1
    // docs (doc 10 over doc 12)
    assert(rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq ===
      Seq(11L, 10L, 12L))
  }

  test("hybridRrfTopDocs: hand-computed two-arm fusion — symmetric ranks " +
    "tie and break on doc_id, single-arm docs carry a NULL witness") {
    import spark.implicits._
    // query doc 0 ("apple banana"). Lexical: doc 1 (tf(apple)=2) ranks
    // 1, doc 2 (tf(banana)=1) ranks 2, doc 3 shares nothing. Embedding:
    // doc 2 nearly parallel (rank 1), doc 1 orthogonal (rank 2), doc 3
    // opposite (rank 3). Fusion: doc 1 = 1/61 + 1/62 and doc 2 =
    // 1/62 + 1/61 — EQUAL (RRF is arm-symmetric), so doc_id breaks the
    // tie; doc 3 is embedding-only (lex_rnk NULL, score 1/63).
    val d = docs(
      (0L, "apple banana", "en"), (1L, "apple apple", "en"),
      (2L, "banana cherry", "en"), (3L, "x y z", "en"))
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(0f, 1f, 0f, 0f), 0),
      (2L, Seq(1f, 0.1f, 0f, 0f), 0), (3L, Seq(-1f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = TextOps.hybridRrfTopDocs(d, emb, numQueries = 1, k = 3, arm = 3)
      .collect()
    assert(rows.map(r => (r.getInt(1), r.getLong(2))).toSeq ===
      Seq((1, 1L), (2, 2L), (3, 3L)))
    val byDoc = rows.map(r => r.getLong(2) -> r).toMap
    def rrf(l: Option[Int], e: Option[Int]): Double = BigDecimal(
      l.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        e.map(r => 1.0 / (60 + r)).getOrElse(0.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byDoc(1L).getInt(3) === 1 && byDoc(1L).getInt(4) === 2)
    assert(byDoc(2L).getInt(3) === 2 && byDoc(2L).getInt(4) === 1)
    assert(byDoc(1L).getDouble(5) === byDoc(2L).getDouble(5),
      "RRF is arm-symmetric: (lex 1, emb 2) ties (lex 2, emb 1)")
    assert(byDoc(1L).getDouble(5) === rrf(Some(1), Some(2)))
    assert(byDoc(3L).isNullAt(3) && byDoc(3L).getInt(4) === 3,
      "an embedding-only doc keeps a NULL lexical rank as the witness")
    assert(byDoc(3L).getDouble(5) === rrf(None, Some(3)))
  }

  test("hybridRrfTopDocs on the real corpus: complete per query, fused " +
    "score recomputable from the rank witnesses, ordering consistent") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = TextOps.hybridRrfTopDocs(d, emb).collect()
    assert(rows.length === 50, "10 queries x fused top-5")
    def rankOpt(r: org.apache.spark.sql.Row, i: Int): Option[Int] =
      if (r.isNullAt(i)) None else Some(r.getInt(i))
    rows.foreach { r =>
      val expect = BigDecimal(
        rankOpt(r, 3).map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          rankOpt(r, 4).map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) === expect, s"rrf mismatch at $r")
    }
    // per query: scores non-increasing in fused rank, ties broken by id
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(5) > b.getDouble(5) ||
            (a.getDouble(5) == b.getDouble(5) && a.getLong(2) < b.getLong(2)))
        case _ =>
      }
    }
    // the fusion is non-trivially two-armed on this corpus
    assert(rows.exists(r => !r.isNullAt(3) && !r.isNullAt(4)),
      "no doc surfaced by both arms — fixture too tame for the fusion")
  }

  test("lexical index store: served ranking and query arm equal the brute " +
    "forms; probes prune to query-vocab buckets; crash recovery rebuilds") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex")
      .toString + "/idx"
    TextOps.bm25IndexInit(d, dir)
    // store ≡ raw corpus, row for row (the shared-oracle claim, pinned
    // in-engine too)
    val viaStore = TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
    val brute = TextOps.bm25TopDocs(d).collect().map(_.toSeq)
    assert(viaStore.nonEmpty && viaStore.toSeq === brute.toSeq)
    // the doc-as-query arm too (the hybrid's lexical half)
    val queryDocs = d.filter(col("doc_id") < 10)
    val armStore = TextOps.bm25StoreQueryArm(spark, queryDocs, dir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val armBrute = TextOps.bm25DocQueryArm(d, numQueries = 10, arm = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(armStore.toSeq === armBrute.toSeq)
    // the inverted file is bucket-partitioned and a term read PRUNES:
    // the files a bucket-filtered scan reads all live in those buckets
    val buckets = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.length > 1, "expected a bucketed inverted file")
    val readFiles = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(0, 1))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(readFiles.nonEmpty &&
      readFiles.forall(f => f.contains("bucket=0") || f.contains("bucket=1")),
      "postings scan must prune to the requested buckets")
    // day-append ≡ union build at the artifact level: same df cells
    // and stats row as a fresh init over the union
    val dir2 = java.nio.file.Files.createTempDirectory("graft_lex_inc")
      .toString + "/idx"
    val half = col("doc_id") % 2 === 0
    TextOps.bm25IndexInit(d.filter(half), dir2)
    TextOps.bm25IndexAppend(spark, d.filter(!half), dir2)
    def dfOf(p: String) = spark.read.parquet(s"$p/dfreq")
      .select("token", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfOf(dir2) === dfOf(dir))
    assert(spark.read.parquet(s"$dir2/corpus_stats").collect().map(_.toSeq)
      .toSeq === spark.read.parquet(s"$dir/corpus_stats").collect()
      .map(_.toSeq).toSeq)
    // the append crash window (postings landed, sidecars not):
    // inject by appending postings rows directly, then rebuild
    val extra = d.filter(!half).limit(0) // no-op guard: frames compose
    assert(extra.count() === 0)
    val fs = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir2/dfreq"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir2/corpus_stats"), true)
    intercept[java.io.IOException] { TextOps.bm25StoreTopDocs(spark, dir2) }
    // rebuild with NO explicit modulus: corpus_stats is gone, so the
    // hatch must infer n_buckets from the postings' own hive layout
    // (max+1, verified against every stored token) — the exact lost-
    // stats scenario its error message routes operators to
    TextOps.bm25IndexStatsRebuild(spark, dir2)
    assert(TextOps.bm25StoreTopDocs(spark, dir2).collect().map(_.toSeq)
      .toSeq === brute.toSeq)
  }

  test("lexical delete: served ranking equals the survivor build, the fsck " +
    "certifies the subtracted sidecars and detects an injected crash window") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_del")
      .toString + "/idx"
    TextOps.bm25IndexInit(d, dir)
    val victim = col("doc_id") % 5 === 2
    val (nd, nr) = TextOps.bm25IndexDelete(spark,
      d.filter(victim).select("doc_id"), dir)
    assert(nd > 0 && nr >= nd)
    // delete ≡ build over survivors, row for row — ranking, df-based
    // term selection, stats, everything
    val got = TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
    val expected = TextOps.bm25TopDocs(d.filter(!victim))
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq === expected.toSeq)
    // the subtracted sidecars still satisfy the invariant law
    val clean = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(clean.getBoolean(3) && clean.getBoolean(8) && clean.getBoolean(9))
    // deleting unknown ids is a no-op
    import spark.implicits._
    assert(TextOps.bm25IndexDelete(spark, Seq(-1L).toDF("doc_id"), dir)
      === ((0L, 0L)))
    // inject the crash window (postings moved, sidecars not): appending
    // rows directly must flip the fsck booleans; rebuild recovers
    spark.read.parquet(s"$dir/postings").limit(7)
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    val broken = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(!broken.getBoolean(3),
      "fsck must flag df cells lagging the postings")
    TextOps.bm25IndexStatsRebuild(spark, dir)
    val fixed = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(fixed.getBoolean(3) && fixed.getBoolean(8) && fixed.getBoolean(9))
  }

  test("lexical stream days: replays idempotent, probes serve the union " +
    "exactly, compact folds days in and the fsck contract extends") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_stream")
      .toString + "/idx"
    TextOps.bm25IndexInit(d.filter(col("doc_id") % 4 === 0), dir)
    val day0 = d.filter(col("doc_id") % 4 === 1)
    val day1 = d.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    TextOps.bm25IndexStreamDay(spark, day0, 0L, dir)
    TextOps.bm25IndexStreamDay(spark, day1, 1L, dir)
    // the view serves the UNION exactly: ranking and query arm equal
    // the brute forms over the whole corpus
    val brute = TextOps.bm25TopDocs(d).collect().map(_.toSeq)
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === brute.toSeq)
    val armBrute = TextOps.bm25DocQueryArm(d, numQueries = 10, arm = 10)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(TextOps.bm25StoreQueryArm(spark, d.filter(col("doc_id") < 10), dir)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq === armBrute.toSeq)
    // replay contract: a day reads no mutable store state, so
    // re-delivery rewrites its own partitions with identical facts
    TextOps.bm25IndexStreamDay(spark, day1, 1L, dir)
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === brute.toSeq, "replayed day must not change the index")
    // delete refuses while days are unfolded (sidecars don't cover them)
    import spark.implicits._
    val e = intercept[IllegalStateException] {
      TextOps.bm25IndexDelete(spark, Seq(0L).toDF("doc_id"), dir)
    }
    assert(e.getMessage.contains("ompact"))
    // compact: days fold into the consolidated store (dirs gone), the
    // served ranking is invariant, and the fsck contract now covers
    // the WHOLE corpus (sidecars ≡ consolidated postings again)
    TextOps.bm25IndexCompact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/day_postings")))
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === brute.toSeq, "compaction must not change the ranking")
    val clean = TextOps.bm25StoreFsck(spark, dir).collect()(0)
    assert(clean.getBoolean(3) && clean.getBoolean(8) && clean.getBoolean(9))
    // compact is idempotent, and the store stays recoverable/live
    TextOps.bm25IndexCompact(spark, dir)
    assert(graft.ext.Curation.storeSwapRecover(spark, dir) === "live")
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === brute.toSeq)
    // and the delete that was refused now proceeds on the folded store
    val (nd, _) = TextOps.bm25IndexDelete(spark,
      d.filter(col("doc_id") % 4 === 0).select("doc_id"), dir)
    assert(nd > 0)
    assert(TextOps.bm25StoreTopDocs(spark, dir).collect().map(_.toSeq)
      .toSeq === TextOps.bm25TopDocs(d.filter(col("doc_id") % 4 =!= 0))
      .collect().map(_.toSeq).toSeq)
  }

  test("hybridRrfStoreTopDocs at full probe width equals the brute-arm " +
    "hybrid row-for-row; pruned probes still fuse complete") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyb_store")
      .toString + "/idx"
    graft.ext.Similarity.ivfIndexStoreInit(emb, dir)
    val lexDir = java.nio.file.Files.createTempDirectory("graft_hyb_lex")
      .toString + "/idx"
    TextOps.bm25IndexInit(d, lexDir)
    val queries = emb.filter(col("vec_id") < 10)
    val queryDocs = d.filter(col("doc_id") < 10)
    // nProbe = nList: the store probe IS the brute scan (spec-pinned in
    // SimilaritySpec) and the store lexical arm IS the brute arm
    // (TextOps store-arm spec), so the whole fusion must coincide
    val viaStore = TextOps.hybridRrfStoreTopDocs(queryDocs, queries,
      lexDir, dir, nProbe = 16).collect().map(_.toSeq)
    val brute = TextOps.hybridRrfTopDocs(d, emb).collect().map(_.toSeq)
    assert(viaStore.toSeq === brute.toSeq)
    // pruned probes: fused top-5 still complete per query
    val pruned = TextOps.hybridRrfStoreTopDocs(queryDocs, queries,
      lexDir, dir)
    assert(pruned.groupBy("query_id").count().collect()
      .forall(_.getLong(1) === 5L))
  }

  test("filtered store hybrid: keep-all degenerates to the unfiltered " +
    "hybrid; filtered results never surface an excluded doc") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val annDir = java.nio.file.Files.createTempDirectory("graft_hf_ann")
      .toString + "/idx"
    val lexDir = java.nio.file.Files.createTempDirectory("graft_hf_lex")
      .toString + "/idx"
    graft.ext.Similarity.ivfIndexStoreInit(emb, annDir)
    TextOps.bm25IndexInit(d, lexDir)
    val qd = d.filter(col("doc_id") < 10)
    val qv = emb.filter(col("vec_id") < 10)
    val all = TextOps.hybridRrfStoreFilteredTopDocs(qd, qv, lexDir, annDir,
      lexKeep = d.select("doc_id"), annKeep = emb.select("vec_id"))
      .collect().map(_.toSeq)
    val plain = TextOps.hybridRrfStoreTopDocs(qd, qv, lexDir, annDir)
      .collect().map(_.toSeq)
    assert(all.toSeq === plain.toSeq)
    val filtered = TextOps.hybridRrfStoreFilteredTopDocs(qd, qv, lexDir,
      annDir, lexKeep = d.filter(col("doc_id") % 3 === 1).select("doc_id"),
      annKeep = emb.filter(col("vec_id") % 3 === 1).select("vec_id"))
      .collect()
    assert(filtered.nonEmpty && filtered.forall(_.getLong(2) % 3 == 1),
      "every fused result must satisfy the predicate")
  }

  /** A seeded corpus for the store-hybrid tests: `n` documents over a
    * 40-word vocabulary and their 16-dim embeddings, ids shared.
    */
  def storeCorpus(n: Int = 240): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0L until n.toLong).map { id =>
      (id, Seq.fill(5 + rng.nextInt(20))(s"w${rng.nextInt(40)}").mkString(" "),
        Array.fill(16)(rng.nextFloat() * 2 - 1))
    }
    (rows.map(r => (r._1, r._2)).toDF("doc_id", "text"),
      rows.map(r => (r._1, r._3)).toDF("vec_id", "embedding"))
  }

  def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  test("store hybrid serves fresh statistics: after an append and after " +
    "compaction it answers like stores built fresh from the same docs") {
    import org.apache.spark.sql.functions.col
    val (d, emb) = storeCorpus()
    val (lexDir, annDir) = (tmpStore("graft_fresh_lex"), tmpStore("graft_fresh_ann"))
    TextOps.bm25IndexInit(d.filter(col("doc_id") % 2 === 0), lexDir)
    Similarity.ivfIndexStoreInit(emb.filter(col("vec_id") % 2 === 0), annDir)
    TextOps.bm25IndexAppend(spark, d.filter(col("doc_id") % 2 === 1), lexDir)
    Similarity.ivfIndexStoreAppend(spark,
      emb.filter(col("vec_id") % 2 === 1), annDir)
    // nProbe = nList: the semantic arm is exact whatever centroids a
    // store holds, so stores seeded from all docs are a valid reference
    // for stores seeded from half of them
    val (qd, qv) = (d.filter(col("doc_id") < 10), emb.filter(col("vec_id") < 10))
    def probe(lex: String, ann: String) = TextOps.hybridRrfStoreTopDocs(qd, qv,
      lex, ann, nProbe = 16).collect().map(_.toSeq).toSeq
    val (freshLex, freshAnn) = (tmpStore("graft_fresh_lex0"), tmpStore("graft_fresh_ann0"))
    TextOps.bm25IndexInit(d, freshLex)
    Similarity.ivfIndexStoreInit(emb, freshAnn)
    val fresh = probe(freshLex, freshAnn)
    assert(fresh.nonEmpty)
    assert(probe(lexDir, annDir) === fresh, "probe after append")
    val lexLive = TextOps.bm25IndexCompact(spark, lexDir)
    Similarity.ivfIndexStoreCompact(spark, annDir)
    assert(probe(lexLive, annDir) === fresh, "probe after compaction")
  }

  test("store hybrid over a non-store lexDir throws the lexical arm's own " +
    "IOException, and no arm thread outlives the call") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val (d, emb) = storeCorpus()
    val (lexDir, annDir) = (tmpStore("graft_fail_lex"), tmpStore("graft_fail_ann"))
    Similarity.ivfIndexStoreInit(emb, annDir)
    TextOps.bm25IndexInit(d, lexDir)
    // corpus_stats is the init marker: without it the dir is no store
    val fs = new org.apache.hadoop.fs.Path(lexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$lexDir/corpus_stats"), true)
    val (qd, qv) = (d.filter(col("doc_id") < 10), emb.filter(col("vec_id") < 10))
    val sequential = intercept[java.io.IOException] {
      TextOps.bm25StoreQueryArm(spark, qd, lexDir)
    }
    val e = intercept[java.io.IOException] {
      TextOps.hybridRrfStoreTopDocs(qd, qv, lexDir, annDir)
    }
    assert(e.getMessage.startsWith("no corpus_stats"))
    assert(e.getMessage === sequential.getMessage)
    val left = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(graft.Jobs.THREAD_PREFIX))
    assert(left.isEmpty, s"threads outlived the call: $left")
  }

  test("store hybrid's IVF arm never returns a neighbor twice for one " +
    "query, after an append and after a compaction") {
    import org.apache.spark.sql.functions.col
    // fuseRrf's union form assumes each arm holds a (query_id, doc_id)
    // at most once; the lexical arm is unique by construction
    val (_, emb) = storeCorpus()
    val annDir = tmpStore("graft_ivf_unique")
    Similarity.ivfIndexStoreInit(emb.filter(col("vec_id") % 2 === 0), annDir)
    Similarity.ivfIndexStoreAppend(spark,
      emb.filter(col("vec_id") % 2 === 1), annDir)
    val qv = emb.filter(col("vec_id") < 10)
    def dupes(): Seq[(Long, Long)] =
      Similarity.ivfStoreProbeUnsorted(spark, qv, annDir, k = 60, nProbe = 16,
        keep = None).select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).collect { case (p, g) if g.size > 1 => p }.toSeq
    assert(dupes().isEmpty, "after append")
    Similarity.ivfIndexStoreCompact(spark, annDir)
    assert(dupes().isEmpty, "after compaction")
  }

  /** The Spark jobs `body` runs, counted by job group: a marker job
    * after it drains the listener queue, so every earlier job start
    * has been delivered when the count is read.
    */
  def jobsOf[A](name: String)(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val (group, markerGroup) = (s"jobs-of-$name", s"jobs-of-$name-marker")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `markerGroup` => markerJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) drained.countDown()
    }
    def inGroup[A](g: String)(b: => A): A = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(counter)
    try {
      val result = inGroup(group)(body)
      inGroup(markerGroup)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("store hybrid plan shape: the lexical arm caches nothing, the " +
    "fusion has one exchange, and the call's job count is bounded") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import scala.jdk.CollectionConverters._
    val (d, emb) = storeCorpus()
    val (lexDir, annDir) = (tmpStore("graft_shape_lex"), tmpStore("graft_shape_ann"))
    TextOps.bm25IndexInit(d, lexDir)
    Similarity.ivfIndexStoreInit(emb, annDir)
    val (qd, qv) = (d.filter(col("doc_id") < 10), emb.filter(col("vec_id") < 10))
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkPlan]()
    val planner = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = plans.add(qe.executedPlan)
    }
    // suites run one at a time: from an empty cache, any entry found
    // after the call is the call's
    spark.catalog.clearCache()
    spark.listenerManager.register(planner)
    val (fused, jobs) = try jobsOf("textops-plan-shape") {
      val f = TextOps.hybridRrfStoreTopDocs(qd, qv, lexDir, annDir)
      assert(f.collect().length === 50)
      f
    } finally spark.listenerManager.unregister(planner)
    object Aqe extends AdaptiveSparkPlanHelper
    assert(spark.sharedState.cacheManager.isEmpty,
      "the call left a cache entry behind")
    assert(!plans.asScala.exists(p =>
      Aqe.collectWithSubqueries(p) { case s: InMemoryTableScanLike => s }.nonEmpty),
      "a plan run by the call read a cached relation")
    val exchanges = Aqe.collect(fused.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(exchanges.size === 1, fused.queryExecution.executedPlan.toString)
    // 18 jobs; the form before (a cached query-token frame, a bucket
    // distinct-collect, a full-outer-join fusion with four exchanges)
    // ran 25 for this call
    assert(jobs <= 18, s"$jobs jobs")
  }

  test("store appends run their independent work as concurrent jobs, in " +
    "a bounded number of jobs") {
    import org.apache.spark.sql.functions.col
    val (d, emb) = storeCorpus()
    val (lexDir, annDir) = (tmpStore("graft_jobs_lex"), tmpStore("graft_jobs_ann"))
    TextOps.bm25IndexInit(d.filter(col("doc_id") % 2 === 0), lexDir)
    Similarity.ivfIndexStoreInit(emb.filter(col("vec_id") % 2 === 0), annDir)
    val (_, lex) = jobsOf("lex-append") {
      TextOps.bm25IndexAppend(spark, d.filter(col("doc_id") % 2 === 1), lexDir)
    }
    val (_, ivf) = jobsOf("ivf-append") {
      Similarity.ivfIndexStoreAppend(spark,
        emb.filter(col("vec_id") % 2 === 1), annDir)
    }
    info(s"lexical append: $lex jobs, IVF append: $ivf jobs")
    // 11-12 and 8 jobs; the serial forms before ran 18 and 10. A
    // separate bucket distinct-collect adds jobs to the lexical append,
    // and an inferred-schema read of lloyd_stats or centroids adds one
    // each to the IVF append
    assert(lex <= 12, s"lexical append ran $lex jobs")
    assert(ivf <= 8, s"IVF append ran $ivf jobs")
  }

  test("declared sidecar schemas match what the store writers write") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val (d, emb) = storeCorpus()
    val (lexDir, annDir) = (tmpStore("graft_schema_lex"), tmpStore("graft_schema_ann"))
    // types compare by SQL name, which ignores nullability: a parquet
    // read makes every field nullable whatever the writer declared
    def pinned(path: String, declared: StructType): Unit = {
      val inferred = spark.read.parquet(path).schema
      declared.fields.foreach { f =>
        assert(inferred.fieldNames.contains(f.name), s"$path has no ${f.name}")
        assert(inferred(f.name).dataType.sql === f.dataType.sql,
          s"$path.${f.name}")
      }
    }
    def check(lex: String): Unit = {
      pinned(s"$lex/corpus_stats", TextOps.LEX_STATS_SCHEMA)
      pinned(s"$lex/dfreq", TextOps.LEX_DFREQ_SCHEMA)
      pinned(s"$annDir/centroids", Similarity.CENTROID_PROBE_SCHEMA)
      pinned(s"$annDir/lloyd_stats", Similarity.LLOYD_STATS_SCHEMA)
    }
    TextOps.bm25IndexInit(d.filter(col("doc_id") % 2 === 0), lexDir)
    Similarity.ivfIndexStoreInit(emb.filter(col("vec_id") % 2 === 0), annDir)
    check(lexDir)
    // the append and compaction writers too
    TextOps.bm25IndexAppend(spark, d.filter(col("doc_id") % 2 === 1), lexDir)
    Similarity.ivfIndexStoreAppend(spark,
      emb.filter(col("vec_id") % 2 === 1), annDir)
    check(lexDir)
    val lexLive = TextOps.bm25IndexCompact(spark, lexDir)
    Similarity.ivfIndexStoreCompact(spark, annDir)
    check(lexLive)
  }

  test("vocabCoverage: OOV rate against the top-V corpus vocabulary") {
    // vocab size 2 → {'a' (4 occ), 'b' (2 occ)}; 'z','q' are OOV
    val d = docs((1L, "a a b z", "en"), (2L, "a a b q", "en"))
    val rows = TextOps.vocabCoverage(d, vocabSize = 2).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") === 4)
      assert(r.getAs[Long]("n_in_vocab") === 3)
      assert(r.getAs[Double]("oov_rate") === 0.25)
    }
  }

  test("bigramLmScore: add-one smoothed probabilities, hand-computed") {
    // corpus: doc1 "x y", doc2 "x y" → bigrams: (x,y)×2; V = 2 distinct tokens
    // P(y|x) = (c2+1)/(c1+V) = (2+1)/(2+2) = 0.75 → avg_logprob = ln(0.75)
    val d = docs((1L, "x y", "en"), (2L, "x y", "en"))
    val rows = TextOps.bigramLmScore(d).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") === 1)
      assert(r.getAs[Double]("avg_logprob") === math.rint(math.log(0.75) * 1e6) / 1e6)
    }
  }

  test("bigramLmScore: single-token and empty docs produce no rows") {
    val d = docs((1L, "solo", "en"), (2L, "", "en"), (3L, "a b", "en"))
    val ids = TextOps.bigramLmScore(d).collect().map(_.getLong(0)).toSet
    assert(ids === Set(3L))
  }

  test("repeatedTokenMap: map HOF pipeline counts, filters, weights exactly") {
    val d = docs((1L, "b a b c a b", "en"), (2L, "x y", "en"))
    val rows = TextOps.repeatedTokenMap(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // doc 1: a×2, b×3, c×1 → repeated {a:2, b:3}; weight = len(token)*count
    assert(rows(1L) === ((3, 2, "a:2:2,b:3:3")))
    assert(rows(2L) === ((2, 0, "")))
  }

  test("boilerplateRemoval: shared chunks removed, unique chunks kept in order") {
    // chunkTokens=2: doc1 = [A B][C D], doc2 = [A B][E F], doc3 = [G H]
    // "A B" appears in 2 distinct docs → boilerplate; everything else kept
    val d = docs(
      (1L, "A B C D", "en"),
      (2L, "A B E F", "en"),
      (3L, "G H", "en"))
    val rows = TextOps.boilerplateRemoval(d, chunkTokens = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(rows(1L) === ((2, 1, md5hex("C D"))))
    assert(rows(2L) === ((2, 1, md5hex("E F"))))
    assert(rows(3L) === ((1, 0, md5hex("G H"))))
  }

  test("boilerplateRemoval: fully-boilerplate doc reassembles to the empty string") {
    val d = docs((1L, "A B", "en"), (2L, "A B", "en"))
    val rows = TextOps.boilerplateRemoval(d, chunkTokens = 2, minDocs = 2).collect()
    rows.foreach { r =>
      assert(r.getInt(2) === 1) // its single chunk is boilerplate
      assert(r.getString(3) === "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    }
  }

  test("boilerplateRemoval: a repeated chunk within ONE doc is not boilerplate") {
    val d = docs((1L, "A B A B", "en"), (2L, "X Y", "en"))
    val r = TextOps.boilerplateRemoval(d, chunkTokens = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(r(1L) === 0, "distinct-doc count, not occurrence count, decides")
  }

  test("textStats aggregates per language") {
    val d = docs((1L, "one two", "en"), (2L, "three four five", "en"), (3L, "six", "fr"))
    val rows = TextOps.textStats(d).collect()
    val en = rows.find(_.getString(0) == "en").get
    assert(en.getAs[Long]("n_docs") === 2)
    assert(en.getAs[Long]("sum_tokens") === 5)
  }

  test("tokenEntropy: uniform tokens give ln(n); repetition gives 0") {
    val d = docs((1L, "a b c d", "en"), (2L, "a a a a", "en"), (3L, "a a b b", "en"))
    val r = TextOps.tokenEntropy(d).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) === math.BigDecimal(math.log(4)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r(2L) === 0.0)
    assert(r(3L) === math.BigDecimal(math.log(2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("withSyntheticUrl is deterministic; domainStats parses and aggregates per host") {
    val d = docs((0L, "t", "en"), (1L, "tt", "fr"), (5L, "ttt", "en"), (6L, "x", "de"))
    val urls = TextOps.withSyntheticUrl(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("url")).toMap
    assert(urls(0L) === "https://news.example.com/en/page-0")
    assert(urls(5L) === "https://news.example.com/en/page-5")
    assert(urls(6L) === "https://blog.example.org/de/page-6")
    val stats = TextOps.domainStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats("news.example.com") === ((2L, 4L, 1L, 0L))) // docs 0 and 5, both en
    assert(stats("blog.example.org") === ((2L, 3L, 2L, 1L))) // docs 1 and 6
  }

  test("pmiPairs: perfectly correlated pair scores ln(N·c_ab/(c_a·c_b)); independent pair scores 0") {
    // 5 docs "x y", 5 docs "x z", 5 docs "p q":
    //   (p,q): N=15, c_ab=5, c_a=c_b=5 → pmi = ln(15·5/25) = ln 3
    //   (x,y): c_x=10 → pmi = ln(15·5/50)  = ln 1.5
    val rows = (1 to 5).map(i => (i.toLong, "x y", "en")) ++
      (6 to 10).map(i => (i.toLong, "x z", "en")) ++
      (11 to 15).map(i => (i.toLong, "p q", "en"))
    val out = TextOps.pmiPairs(docs(rows: _*), minPairDocs = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    def r6(x: Double) = math.BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("p", "q")) === ((5L, r6(math.log(3.0)))))
    assert(out(("x", "y")) === ((5L, r6(math.log(1.5)))))
    assert(out(("x", "z")) === ((5L, r6(math.log(1.5)))))
    assert(out.size === 3, "pairs below minPairDocs must not appear")
  }

  test("stripMarkup: script/style content gone, body text preserved, tags counted") {
    val d = docs((7L, "the quick brown fox", "en"))
    val r = TextOps.stripMarkup(TextOps.withSyntheticHtml(d)).collect()(0)
    assert(r.getString(1) === "Document 7 the quick brown fox next page",
      "title/body/anchor text survive; markup and script/style content do not")
    assert(!r.getString(1).contains("tracker") && !r.getString(1).contains("margin"))
    assert(r.getInt(3) === 20, "every tag in the fixture counted")
    // raw markup with tricky content: attributes, nested inline tags
    import spark.implicits._
    val raw = Seq((1L, "<p>a <b>bold <i>word</i></b> here</p><script>x<1 && y>2;</script>"))
      .toDF("doc_id", "html")
    val clean = TextOps.stripMarkup(raw).collect()(0).getString(1)
    assert(clean === "a bold word here")
  }

  test("gopherRules plan: scan prunes to (doc_id, text), no exchange before the sort") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = TextOps.gopherRules(d).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"quality filter must not drag lang/source/n_chars through the scan:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"one narrow projection + presentation sort expected:\n$plan")
  }

  test("gopherRules: hand-computed signals and the pass verdict") {
    val good = Array.fill(4)("the fox and hen of all that have with more").mkString(" ")
    val d = docs(
      (1L, good, "en"),              // 40 words, mean 3.3, all-alpha, 24 stop hits
      (2L, "tiny doc", "en"),        // fails min word count and stop hits
      (3L, "- bullet one\n* bullet two\nplain line...\nnormal", "en"),
      (4L, "# # # tag", "en"),       // symbol ratio 0.75
      (5L, "123 456 abc", "en"))     // alpha word ratio 1/3
    val rows = TextOps.gopherRules(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("n_words") === 40)
    assert(rows(1L).getAs[Double]("mean_word_len") === 3.3)
    assert(rows(1L).getAs[Int]("n_stopword_hits") === 24)
    assert(rows(1L).getAs[Boolean]("passes"))
    assert(rows(2L).getAs[Int]("n_words") === 2)
    assert(!rows(2L).getAs[Boolean]("passes"))
    assert(rows(3L).getAs[Double]("bullet_line_ratio") === 0.5)
    assert(rows(3L).getAs[Double]("ellipsis_line_ratio") === 0.25)
    assert(rows(4L).getAs[Double]("symbol_ratio") === 0.75)
    assert(!rows(4L).getAs[Boolean]("passes"))
    assert(rows(5L).getAs[Double]("alpha_word_ratio") === 0.3333)
  }

  test("normalizeText: NFC composition, singleton, zero-width strip, control group") {
    // doc_ids chosen to hit each fixture branch: 3 -> decomposed accents,
    // 4 -> zero-width/control/NBSP, 5 -> clean control group
    val d = docs((3L, "alpha", "en"), (4L, "beta", "en"), (5L, "gamma", "en"))
    val rows = TextOps.normalizeText(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // decomposed e+U+0301 composes to U+00E9; U+212B singleton -> U+00C5
    assert(rows(3L).getAs[String]("text_norm") ===
      "alpha résumé from café Å")
    // ZWSP/ZWNJ/BOM/BEL stripped, NBSP folded into the space collapse
    assert(rows(4L).getAs[String]("text_norm") === "beta dataset final list item")
    // composition shrinks the char count (each e+combining pair -> one char)
    assert(rows(3L).getAs[Int]("n_chars_norm") < rows(3L).getAs[Int]("n_chars_raw"))
    // clean ASCII must pass through untouched
    assert(rows(5L).getAs[String]("text_norm") === "gamma")
    assert(rows(5L).getAs[Int]("n_chars_norm") === 5)
  }

  test("normalizeText: idempotent, and the expression short-circuits ASCII") {
    import graft.functions.UnicodeNormalize
    import org.apache.spark.unsafe.types.UTF8String
    // static fast path: pure-ASCII input returns the SAME object (no alloc)
    val ascii = UTF8String.fromString("plain ascii text")
    assert(UnicodeNormalize.nfc(ascii) eq ascii)
    // already-NFC non-ASCII returns the same object too (isNormalized probe)
    val nfcStr = UTF8String.fromString("café")
    assert(UnicodeNormalize.nfc(nfcStr) eq nfcStr)
    // actual work: decomposed composes, and a second pass is identity
    val once = UnicodeNormalize.nfc(UTF8String.fromString("café Å"))
    assert(once.toString === "café Å")
    assert(UnicodeNormalize.nfc(once) eq once)
    // null propagates through the expression (UnaryExpression default)
    val d = docs((2L, "x", "en"))
    import org.apache.spark.sql.functions.{col, lit}
    val r = d.select(UnicodeNormalize.unicode_normalize(
      lit(null).cast("string")).as("n")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("classifierQualityScore: exact arithmetic vs a hand-computed reference") {
    val d = docs((1L, "aa bb aa", "en"), (2L, "cc", "en"), (3L, "  ", "en"))
    val r = TextOps.classifierQualityScore(d, dim = 8).collect()
    // reference: bucket = md5_60bit(tok+\u0001+"0") % 8; w = (b*2654435761) % 1997 - 998
    def md5Long(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((s + "\u00010").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    def w(tok: String): Long = ((md5Long(tok) % 8) * 2654435761L) % 1997L - 998L
    val exp1 = w("aa") + w("bb") + w("aa")
    val got1 = r.find(_.getLong(0) == 1L).get
    assert(got1.getInt(1) === 3)
    assert(got1.getDouble(2) === BigDecimal(exp1.toDouble / (3 * 998.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got1.getInt(3) === (if (exp1 >= 0) 1 else 0))
    // whitespace-only doc: zero tokens -> filtered out entirely
    assert(!r.exists(_.getLong(0) == 3L))
  }

  test("classifierQualityScore: caller-provided weights ride the plan as a literal") {
    val d = docs((1L, "aa bb", "en"), (2L, "aa", "en"))
    // all-positive weights: every doc kept, score = 1.0 when all w = 998
    val keep = Array.fill(16)(998)
    val r = TextOps.classifierQualityScore(d, dim = 16, weights = Some(keep))
      .collect().map(x => x.getLong(0) -> (x.getDouble(2), x.getInt(3))).toMap
    assert(r(1L) === ((1.0, 1)))
    assert(r(2L) === ((1.0, 1)))
    // all-negative: everything dropped, sign test exact
    val drop = Array.fill(16)(-998)
    val r2 = TextOps.classifierQualityScore(d, dim = 16, weights = Some(drop))
      .collect().map(x => x.getLong(0) -> (x.getDouble(2), x.getInt(3))).toMap
    assert(r2(1L) === ((-1.0, 0)))
    assert(intercept[IllegalArgumentException] {
      TextOps.classifierQualityScore(d, dim = 16, weights = Some(Array(1, 2)))
    }.getMessage.contains("milli-weights"))
  }

  test("classifierQualityScore: shuffle-free scan-speed plan") {
    val d = docs((1L, "aa bb", "en"))
    val plan = TextOps.classifierQualityScore(d).queryExecution.executedPlan.toString
    // the only exchange allowed is the final presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"scoring must not shuffle:\n$plan")
  }
}
