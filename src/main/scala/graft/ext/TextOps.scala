package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import graft.Jobs

/** Text-analysis operators over the `documents` table (SURVEY §2.10):
  * per-language stats, token counting (whitespace + BPE-ish regex),
  * heuristic language ID, quality scoring, and document fingerprinting.
  *
  * All are single-pass projections or one-shuffle aggregations built from
  * codegen'd built-ins (`split`, `regexp_count`, `md5`, higher-order
  * array functions) — no UDFs in the hot path, so whole-stage codegen
  * spans the whole plan and the scan prunes to (doc_id, text[, lang]).
  */
object TextOps {

  private def wsTokens(c: Column): Column = split(c, " ")

  /** Per-language corpus stats: doc count, char sums, average length,
    * total whitespace tokens. One shuffle on `lang`.
    */
  def textStats(documents: DataFrame): DataFrame =
    documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      round(avg(col("n_chars")), 2).as("avg_chars"),
      sum(size(wsTokens(col("text"))).cast("long")).as("sum_tokens"))
      .orderBy("lang")

  /** BPE-ish tokenizer regex: runs of letters, runs of digits, or single
    * non-alphanumeric-non-space characters — a coarse public analogue of
    * byte-pair pre-tokenization split rules.
    */
  val bpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Per-document token counts: whitespace tokens and regex tokens. */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("n_ws_tokens"),
      regexp_count(col("text"), lit(bpeishPattern)).as("n_re_tokens"))
      .orderBy("doc_id")

  /** Stopword regexes per language for the n-gram/stopword language-ID
    * heuristic. Patterns are word-bounded alternations; both Java regex
    * (Spark) and RE2 (DuckDB) support `\b`.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|or|and|of)\\b",
    "es" -> "\\b(el|la|de|que|los)\\b",
    "fr" -> "\\b(le|la|de|et|les)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "zh" -> "\\b(de|shi|le|wo|ni)\\b")

  /** Heuristic language ID: count stopword-marker hits per language,
    * predict the argmax with a fixed tie-break order (the order of
    * `langMarkers`). Deterministic and engine-portable.
    */
  def langId(documents: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(documents.select(col("doc_id"), col("text"),
      col("lang").as("labeled_lang"))) {
      case (df, (l, pat)) => df.withColumn(s"score_$l", regexp_count(col("text"), lit(pat)))
    }
    val best = langMarkers.map(_._1).foldRight(lit("und")) { (l, rest) =>
      val c = col(s"score_$l")
      val isMax = langMarkers.map(_._1).filter(_ != l)
        .map(o => c >= col(s"score_$o")).reduce(_ && _)
      when(c > 0 && isMax, lit(l)).otherwise(rest)
    }
    scored.withColumn("predicted_lang", best)
      .drop("text")
      .orderBy("doc_id")
  }

  /** Quality scoring: length/punctuation/stopword ratios per document —
    * the classic cheap quality filters of LLM data pipelines.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val tokens = size(wsTokens(col("text")))
    val punct = regexp_count(col("text"), lit("[^a-zA-Z0-9 ]"))
    val stop = regexp_count(col("text"), lit("\\b(the|a|or|and|of)\\b"))
    documents.select(
      col("doc_id"),
      col("n_chars"),
      tokens.as("n_tokens"),
      round(col("n_chars").cast("double") / tokens, 4).as("avg_token_len"),
      round(punct.cast("double") / col("n_chars"), 4).as("punct_ratio"),
      round(stop.cast("double") / tokens, 4).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Word-count classic: explode tokens → count → top-N by frequency
    * with deterministic tie-break. The shuffle key is the token — at
    * corpus scale this is the canonical map-side-combine aggregation.
    */
  def topTokens(documents: DataFrame, n: Int = 20): DataFrame =
    documents.select(explode(wsTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(n)

  /** Grouped list aggregation: per-language ordered doc-id roster,
    * emitted as a joined string (engine-portable array compare).
    * `sort_array` before the join — `collect_list` order is
    * partition-nondeterministic by contract.
    */
  def docIdsPerLang(documents: DataFrame): DataFrame =
    documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      array_join(transform(sort_array(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("doc_ids"))
      .orderBy("lang")

  /** JSON/regex shaping: serialize a struct to compact JSON (both
    * engines emit identical `{"k":v}` form) and extract a capture group.
    */
  def jsonShape(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      to_json(struct(col("doc_id").as("id"), col("lang"))).as("doc_json"),
      regexp_extract(col("text"), "(\\w+) (\\w+)", 2).as("second_word"))
      .orderBy("doc_id")

  /** Content fingerprint: md5 of the document text (engine-portable
    * exact fingerprint for dedup bookkeeping).
    */
  def fingerprintMd5(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Duplicate-n-gram repetition ratio (the Gopher/C4-style quality
    * rule: heavily repetitive documents are low-quality training data):
    * per document, the fraction of word n-grams that are repeats of an
    * earlier n-gram — `1 - distinct/total`. Single-pass projection over
    * codegen'd array built-ins; integer counts + one rounded division
    * keep it engine-exact for the DuckDB oracle. Documents with fewer
    * than `n` tokens have no n-grams → NULL ratio.
    */
  def repetitionRatio(documents: DataFrame, n: Int = 3): DataFrame = {
    val toks = wsTokens(col("text"))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    documents.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(grams).as("n_ngrams"),
      size(array_distinct(grams)).as("n_distinct"))
      .withColumn("dup_ratio",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6)))
      .orderBy("doc_id")
  }

  /** PII patterns: kept to the regex subset shared by Java regex (Spark)
    * and RE2 (DuckDB) — character classes, bounded repetition, `\b`.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction (the scrub step every training-data pipeline runs
    * before anything else): replace emails, IPv4 addresses, and
    * NNN-NNN-NNNN phone numbers with typed placeholders and report
    * per-document redaction counts. Counting is *sequential* — each
    * category is counted on the text with previous categories already
    * redacted — so one span is never double-counted across categories.
    * Pure single-pass projection (regexp built-ins, codegen'd, no
    * shuffle): at 100 TB this runs at scan speed per split.
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val t = col("text")
    val afterEmail = regexp_replace(t, emailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipv4Pattern, "<IP>")
    val afterPhone = regexp_replace(afterIp, phonePattern, "<PHONE>")
    documents.select(
      col("doc_id"),
      regexp_count(t, lit(emailPattern)).as("n_emails"),
      regexp_count(afterEmail, lit(ipv4Pattern)).as("n_ips"),
      regexp_count(afterIp, lit(phonePattern)).as("n_phones"),
      afterPhone.as("clean_text"))
      .orderBy("doc_id")
  }

  /** Demo fixture for [[piiRedact]] over the synthetic corpus (whose
    * text contains no PII): deterministically appends an email, a phone
    * number, and an IPv4 address derived from `doc_id` to every third
    * document. Both engines build the identical string, so the
    * redaction query stays fully oracle-checkable while actually
    * exercising all three patterns (including zero-redaction rows).
    */
  def withSyntheticPii(documents: DataFrame): DataFrame = {
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".com"),
      lit(" tel 555-867-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit("."), pmod(col("doc_id"), lit(100)).cast("string"))
    documents.withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0, dirty).otherwise(col("text")))
  }

  /** TF-IDF top terms per document: tf = in-document term count, idf =
    * ln(N / document-frequency), top `topK` terms by rounded score with
    * a lexicographic tie-break. Two corpus-keyed shuffles (doc-term
    * counts, then term document-frequency) + one broadcast of the single
    * N row; ranking windows over doc_id — the partition key the data
    * already has. Scores are rounded BEFORE ranking so the order is
    * engine-exact (an unrounded double order could flip on a 1-ulp
    * libm difference).
    */
  def tfidfTopTerms(documents: DataFrame, topK: Int = 3): DataFrame = {
    val tok = documents.select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
    // NOTE(perf): tf has two consumers but caching it LOSES — the
    // recompute is a fused scan+partial-agg stage, cheaper than the
    // columnar cache build (measured at sf0.1)
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("rnk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Okapi BM25 ranking (`q_bm25`) — the standard lexical-retrieval
    * scorer (Robertson & Zaragoza 2009, "The Probabilistic Relevance
    * Framework: BM25 and Beyond"), and the classic pre-filter in front
    * of embedding retrieval in hybrid search stacks. For each of the
    * `nTerms` most-document-frequent tokens (ties lexicographic — the
    * deterministic "query set"), the top-`topK` documents by
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with the smooth
    * Lucene idf `ln((N−df+0.5)/(df+0.5) + 1)`.
    *
    * Scale shape: tf/df/dl are token-key hash-aggregates with map-side
    * combine; the query-term table and the (n_docs, total_len) stats
    * are broadcast-scale, so scoring is one selective broadcast join
    * off tf — no shuffle grows with `nTerms`. avgdl is computed as
    * exact-long `total_len / n_docs` in ONE double division (never an
    * incremental float mean), and every constant is the same literal on
    * both engines, so the scores hash-match.
    */
  /** The BM25 corpus prelude shared by [[bm25TopDocs]] and the hybrid
    * arm: tokens, per-(doc, term) tf, per-doc length, the one
    * (n_docs, total_len) stats row, per-term df.
    */
  private final case class Bm25Corpus(tok: DataFrame, tf: DataFrame,
                                      dl: DataFrame, stats: DataFrame,
                                      dfreq: DataFrame)

  private def bm25Corpus(documents: DataFrame): Bm25Corpus = {
    val tok = documents.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // dl (tokens per doc) = Σ tf over the doc: deriving it from `tf`
    // instead of a second aggregate over `tok` means every consumer
    // that materializes both frames tokenizes the corpus ONCE per
    // action, not twice (§1.2 — tokenization is a top-3 cost at scale)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    Bm25Corpus(tok, tf, dl,
      dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len")),
      tf.groupBy("token").agg(count(lit(1)).as("df")))
  }

  /** The Okapi BM25 term weight over columns (tf, dl, df, n_docs,
    * total_len) — Lucene smooth idf, k1 = 1.2, b = 0.75, avgdl as ONE
    * exact-long double division. ONE copy of the constants, so the
    * ranker and the hybrid arm can never silently diverge.
    */
  private def bm25Weight: Column =
    log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      + lit(1.0)) * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
        lit(0.75) * col("dl") /
          (col("total_len").cast("double") / col("n_docs"))))

  def bm25TopDocs(documents: DataFrame, nTerms: Int = 10,
                  topK: Int = 3): DataFrame = {
    val c = bm25Corpus(documents)
    val terms = c.dfreq.orderBy(col("df").desc, col("token")).limit(nTerms)
    val scored = c.tf.join(broadcast(terms), Seq("token"))
      .join(c.dl, Seq("doc_id"))
      .crossJoin(broadcast(c.stats))
      .withColumn("bm25", round(bm25Weight, 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("token"), col("rnk"), col("doc_id"), col("tf"), col("dl"),
        col("bm25"))
      .orderBy("token", "rnk")
  }

  // ─────────────────── persisted lexical (BM25) index ───────────────────

  /** Bucket of a token in the lexical store's hive layout: a stable
    * hash modulus, NOT the token itself — one partition per token
    * would explode the file count at a real vocabulary, while a
    * bucketed layout keeps partition count fixed and still prunes
    * every probe to the query-vocabulary buckets (a token's postings
    * live in exactly ONE bucket, so pruned df/tf reads are exact).
    */
  private[ext] def lexBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("token")), lit(nBuckets.toLong)).cast("int")

  /** One batch as index frames, under a store's bucketing: postings
    * rows (token, doc_id, tf, dl, bucket — `dl` denormalized onto the
    * row, Lucene's norms-beside-postings layout, so scoring never
    * joins a doc-length table), per-token (token, df, bucket), and the
    * batch's facts — n_docs, total_len and the set of buckets its
    * vocabulary hashes into.
    */
  private[ext] final case class LexBatch(postings: DataFrame,
                                         dfreq: DataFrame, nDocs: Long,
                                         totalLen: Long, buckets: Seq[Int])

  /** The one batch → [[LexBatch]] pass shared by init, stream day and
    * append. The `tf` aggregate is PERSISTED for the duration of `body`
    * and every frame derives from it, so the batch is tokenized exactly
    * ONCE across the caller's writes (§1.2). The facts come from ONE
    * collect over it, which also fills the cache.
    * The documents are hash-partitioned by doc_id before tokenizing, so
    * a doc's rows share one partition: the tf aggregate, the per-doc
    * `dl` aggregate, the tf ⋈ dl join and the distinct-doc count then
    * need no exchange of their own.
    */
  private[ext] def withLexBatch[A](documents: DataFrame, nBuckets: Int)
                                  (body: LexBatch => A): A = {
    val c = bm25Corpus(documents.select("doc_id", "text")
      .repartition(col("doc_id")))
    val tfCached = c.tf.persist()
    try {
      val Array(facts) = tfCached
        .agg(count_distinct(col("doc_id")),
          coalesce(sum(col("tf")), lit(0L)),
          collect_set(lexBucket(nBuckets)))
        .collect()
      body(LexBatch(
        tfCached.join(c.dl, Seq("doc_id"))
          .select(col("token"), col("doc_id"), col("tf"), col("dl"),
            lexBucket(nBuckets).as("bucket")),
        c.dfreq.withColumn("bucket", lexBucket(nBuckets)),
        facts.getLong(0), facts.getLong(1), facts.getSeq[Int](2).sorted))
    } finally tfCached.unpersist(blocking = false)
  }

  /** The ONE df merge of the lexical sidecars: union the (token, df,
    * bucket) frames, then sum df per (token, bucket) — exact integer
    * addition, and a token present in only one frame keeps its df.
    * Append (live + batch), the served view and the manifested fold
    * (live + day cells − tombstone cells) all merge through it.
    */
  private[ext] def lexDfreqSum(parts: Seq[DataFrame]): DataFrame =
    parts.map(_.select("token", "df", "bucket")).reduce(_.unionByName(_))
      .groupBy("token", "bucket").agg(sum(col("df")).as("df"))
      .select("token", "df", "bucket")

  /** The `dfreq` sidecar's columns as every writer lays them out: the
    * batch frames' (token, df) with its [[lexBucket]] partition. Reads
    * declare it, so they run no schema-inference job (pinned to the
    * writers by a spec).
    */
  private[ext] val LEX_DFREQ_SCHEMA: StructType = new StructType()
    .add("token", StringType).add("df", LongType).add("bucket", IntegerType)

  private[ext] def lexStatsDf(spark: org.apache.spark.sql.SparkSession,
                         nDocs: Long, totalLen: Long,
                         nBuckets: Int): DataFrame = {
    import spark.implicits._
    Seq((nDocs, totalLen, nBuckets))
      .toDF("n_docs", "total_len", "n_buckets").coalesce(1)
  }

  /** The `corpus_stats` row as [[lexStatsDf]] writes it, declared for
    * the same reason as [[LEX_DFREQ_SCHEMA]].
    */
  private[ext] val LEX_STATS_SCHEMA: StructType = new StructType()
    .add("n_docs", LongType).add("total_len", LongType)
    .add("n_buckets", IntegerType)

  /** Read the lexical store's one-row corpus stats (adopting a staged
    * rename-aside copy first); fail LOUD on absence — appending or
    * probing a store without its additive statistics would silently
    * break the init+append ≡ union-build law.
    */
  private[ext] def lexStoreStats(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (Long, Long, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/corpus_stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.adoptStagedNext(fs, p,
      new org.apache.hadoop.fs.Path(s"$dir/.corpus_stats.next"))
    if (!fs.exists(p))
      throw new java.io.IOException(
        s"no corpus_stats at $p — not a lexical index store (or its " +
          "stats were lost mid-write; bm25IndexStatsRebuild recovers them " +
          "from the postings)")
    val Array(r) = spark.read.schema(LEX_STATS_SCHEMA).parquet(p.toString)
      .collect()
    (r.getLong(r.fieldIndex("n_docs")), r.getLong(r.fieldIndex("total_len")),
      r.getInt(r.fieldIndex("n_buckets")))
  }

  private[ext] def lexStoreDfreq(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/dfreq")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.adoptStagedNext(fs, p,
      new org.apache.hadoop.fs.Path(s"$dir/.dfreq.next"))
    // ... and any completed PER-BUCKET swap a crashed selective merge
    // left mid-rename (the round-18 append/delete path)
    Similarity.adoptDeleteStaged(spark, s"$dir/dfreq", "bucket")
    // a FULLY-EMPTIED sidecar (every bucket's df reached zero — the
    // full-takedown state) has no data children to infer a schema
    // from: serve the empty frame, not a schema-inference crash. The
    // test is "no VISIBLE children at all" — a recovered staging copy
    // is legitimately unpartitioned (plain part-files, bucket as a
    // data column) and must still be served
    if (!fs.exists(p) || !fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LEX_DFREQ_SCHEMA)
    } else spark.read.schema(LEX_DFREQ_SCHEMA).parquet(p.toString)
      .select("token", "df", "bucket")
  }

  private[ext] def lexDayDirExists(spark: org.apache.spark.sql.SparkSession,
                              dir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("day="))
  }

  /** The COMPLETE streamed days: a day enters the served view only if
    * its `day_stats/day=N` partition exists — [[bm25IndexStreamDay]]
    * writes the three day tables postings → dfreq → stats in that
    * order, so the stats partition is the day's commit marker. A crash
    * that tears a day (postings landed, dfreq or stats did not) leaves
    * the day INVISIBLE rather than served with under-counted df/stats
    * (round-18 ADVICE); the foreachBatch replay of that day overwrites
    * all three with bytes that cannot disagree, completing it.
    */
  private[ext] def lexCompleteDays(spark: org.apache.spark.sql.SparkSession,
                              dir: String,
                              statsName: String = "day_stats"): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$statsName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("day=")).map(_.stripPrefix("day=").toLong).toSeq
  }

  /** The read-side VIEW of the lexical store a probe must serve from:
    * consolidated artifacts ∪ streamed day partitions (empty-safe on a
    * batch-only store) — what the index HOLDS is what a probe reads,
    * the [[graft.ext.Similarity.ivfIndexReadDayAssignments]] posture.
    * Day token statistics are pure per-day facts written WITH their
    * day ([[bm25IndexStreamDay]]), so the view merges df by addition
    * (vocab-sized) and the stats row by summing the tiny day_stats
    * table — no corpus re-read, and the consolidated sidecars keep
    * covering exactly the consolidated postings (the fsck contract).
    */
  private[ext] def lexStoreView(spark: org.apache.spark.sql.SparkSession,
                           dir: String)
      : (DataFrame, DataFrame, Long, Long, Int) = {
    // adopt any completed per-bucket swap a crashed delete left mid-
    // rename before serving (the IVF assignments-read posture)
    Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
    val basePostings = spark.read.parquet(s"$dir/postings")
      .select("token", "doc_id", "tf", "dl", "bucket")
    lexViewOf(spark, dir, basePostings,
      lexCompleteDays(spark, dir),
      lexCompleteDays(spark, dir, "tomb_stats"))
  }

  /** The served-view MERGE with the consolidated base and the day /
    * tombstone-day sets injected — ONE copy of the df-addition,
    * stats-sum, and tombstone-subtraction arithmetic, shared by the
    * directory-layout store ([[lexStoreView]]: ALL marker-complete
    * days) and the manifested store ([[LexIncremental]]: only the
    * days its resolved manifest does not list as folded/applied).
    */
  /** The served POSTINGS alone — [[lexViewOf]]'s row component without
    * the dfreq merge or the eager day/tombstone statistics collects:
    * the tombstone writers consume ONLY the rows (victim facts), and
    * the full view's two bounded stats collects were wasted driver
    * jobs on that path (§1.2). Same arithmetic, one copy —
    * [[lexViewOf]] delegates here. Fail-loud on a non-store is kept
    * via the corpus_stats existence check (no read).
    */
  private[ext] def lexViewPostings(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, basePostings: DataFrame,
                                   days: Seq[Long], tombDays: Seq[Long])
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/corpus_stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!Similarity.adoptStagedNext(fs, p,
        new org.apache.hadoop.fs.Path(s"$dir/.corpus_stats.next")))
      throw new java.io.IOException(
        s"no corpus_stats at $p — not a lexical index store")
    // serve ONLY complete days (day_stats present — the commit
    // marker): a torn day is invisible, never under-counted
    val postings =
      if (days.isEmpty || !lexDayDirExists(spark, dir, "day_postings"))
        basePostings
      else basePostings.unionByName(
        spark.read.parquet(s"$dir/day_postings")
          .filter(col("day").isin(days.map(java.lang.Long.valueOf): _*))
          .select("token", "doc_id", "tf", "dl", "bucket"))
    // ... MINUS complete tombstone days: ids anti-joined out
    if (tombDays.isEmpty) postings
    else postings.join(
      spark.read.parquet(s"$dir/day_tombstones")
        .filter(col("day").isin(tombDays.map(java.lang.Long.valueOf): _*))
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
  }

  private[ext] def lexViewOf(spark: org.apache.spark.sql.SparkSession,
                             dir: String, basePostings: DataFrame,
                             days: Seq[Long], tombDays: Seq[Long])
      : (DataFrame, DataFrame, Long, Long, Int) = {
    val (nDocs0, totalLen0, nBuckets) = lexStoreStats(spark, dir)
    val baseDfreq = lexStoreDfreq(spark, dir)
    val haveDays = days.nonEmpty && lexDayDirExists(spark, dir, "day_postings")
    val outPostings = lexViewPostings(spark, dir, basePostings, days, tombDays)
    val (dfreq, nDocs, totalLen) =
      if (!haveDays) (baseDfreq, nDocs0, totalLen0)
      else {
        val dayKeys = days.map(java.lang.Long.valueOf)
        val dayDfreq = spark.read.parquet(s"$dir/day_dfreq")
          .filter(col("day").isin(dayKeys: _*))
          .select("token", "df", "bucket")
        val mergedDfreq = lexDfreqSum(Seq(baseDfreq, dayDfreq))
        // filtered to the INJECTED day set — identical for the flat
        // store (all marker days), load-bearing for the manifested one
        // (folded days' cells linger until grace-retirement)
        val Array(ds) = spark.read.parquet(s"$dir/day_stats")
          .filter(col("day").isin(dayKeys: _*))
          .agg(coalesce(sum("n_docs"), lit(0L)).as("nd"),
            coalesce(sum("total_len"), lit(0L)).as("len")).collect()
        (mergedDfreq, nDocs0 + ds.getLong(0), totalLen0 + ds.getLong(1))
      }
    // tombstone statistics subtraction (round 18 — streamed deletion):
    // per-token df and doc/length totals ride WITH their day
    // ([[bm25IndexTombstone]] writes facts → stats-marker in order), so
    // a torn tombstone is invisible, never half-applied. df hits
    // exactly zero for fully tombstoned tokens and the filter drops
    // them — the delete law's shape, merged on read.
    if (tombDays.isEmpty) (outPostings, dfreq, nDocs, totalLen, nBuckets)
    else {
      val tKeys = tombDays.map(java.lang.Long.valueOf)
      val tombDf = spark.read.parquet(s"$dir/tomb_dfreq")
        .filter(col("day").isin(tKeys: _*))
        .select(col("token"), (-col("df")).as("df"), col("bucket"))
      val outDfreq = lexDfreqSum(Seq(dfreq, tombDf)).filter(col("df") > 0)
      val Array(ts) = spark.read.parquet(s"$dir/tomb_stats")
        .filter(col("day").isin(tKeys: _*))
        .agg(coalesce(sum("n_docs"), lit(0L)).as("nd"),
          coalesce(sum("total_len"), lit(0L)).as("len")).collect()
      (outPostings, outDfreq,
        nDocs - ts.getLong(0), totalLen - ts.getLong(1), nBuckets)
    }
  }

  /** One streamed DAY of lexical-index maintenance — the exactly-once
    * cell [[graft.ext.Similarity.ivfIndexStreamDay]] established,
    * applied to text: the micro-batch's postings, per-token df, and
    * (n_docs, total_len) stats are PURE functions of the batch (the
    * only store state read is the one-row `corpus_stats`, for the
    * pinned bucketing — the nList-centroid-table analogue), written to
    * `day_postings/day=N/bucket=B`, `day_dfreq/day=N/bucket=B`, and
    * `day_stats/day=N`. A foreachBatch replay overwrites its own day
    * partitions with bytes that cannot disagree with what they replace
    * — no read-modify-write anywhere, so no `day < N` discipline
    * needed. The CONSOLIDATED sidecars are deliberately untouched (the
    * additive merge is a read-modify-write, which replays would
    * double-count): day statistics ride WITH their day and the probe
    * view merges them ([[lexStoreView]]); [[bm25IndexCompact]] folds
    * days into the consolidated store.
    */
  def bm25IndexStreamDay(spark: org.apache.spark.sql.SparkSession,
                         docsBatch: DataFrame, day: Long,
                         dir: String): Unit = {
    val (_, _, nBuckets) = lexStoreStats(spark, dir)
    val b = docsBatch.persist()
    try {
      if (!b.isEmpty) {
        val (nDocs, totalLen) = withLexBatch(b, nBuckets) { lb =>
          // WRITE ORDER IS LOAD-BEARING: stats LAST. The day_stats
          // partition is the day's commit marker — the served view
          // ([[lexStoreView]] via [[lexCompleteDays]]) ignores a day
          // until it lands, so a crash before it leaves the day
          // invisible (replay completes it), never a day served with
          // its df/n_docs/total_len contributions missing. The postings
          // and dfreq cells are independent until that marker, so they
          // write as CONCURRENT jobs (§2.6) off the one persisted tf
          // pass. No rebalance on these writes: both frames are
          // aggregate/join outputs whose partitioning AQE already
          // coalesced to data size, so the files-per-bucket count is
          // fine as-is and an extra exchange would only add a stage per
          // write (measured +0.2-0.4 s each; the scan-shaped store
          // writes are where [[Similarity.clusterForWrite]] pays)
          Jobs.concurrently(Seq(
            () => lb.postings.write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$dir/day_postings/day=$day"),
            () => lb.dfreq.write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$dir/day_dfreq/day=$day")))
          (lb.nDocs, lb.totalLen)
        }
        lexStatsDf(spark, nDocs, totalLen, nBuckets)
          .select("n_docs", "total_len")
          .write.mode("overwrite").parquet(s"$dir/day_stats/day=$day")
      }
    } finally b.unpersist(blocking = false)
  }

  /** TOMBSTONE documents in a lexical store that holds streamed days
    * (round 18 — the path [[bm25IndexDelete]] refuses): the exactly-
    * once day cell extended to DELETIONS. The victims' token facts are
    * derived ONCE, at tombstone time, from the served view (which
    * already excludes prior tombstones — so re-tombstoning an id
    * contributes exactly zero) and written as three per-day artifacts:
    * `day_tombstones/day=N` (the victim ids actually present),
    * `tomb_dfreq/day=N/bucket=B` (their per-token df, bucket-pruned
    * like every dfreq read), and `tomb_stats/day=N` (their doc/length
    * totals) — stats LAST, the commit marker, so a torn tombstone is
    * invisible rather than half-applied ([[lexStoreView]] subtracts
    * only marker-complete days). A foreachBatch replay against the
    * same store state rewrites identical facts (single-writer, like
    * every day cell). The consolidated sidecars are deliberately
    * untouched (read-modify-write would double-subtract on replay):
    * the view subtracts at merge-on-read, and [[bm25IndexCompact]]
    * applies tombstones PHYSICALLY (its staged store is the view) and
    * retires the tombstone days with the old root — so stream-ingest +
    * tombstone + compact ≡ a build over the survivors, hash-certified
    * by `q_bm25_store_stream_del`. Ordering contract (single-writer):
    * a tombstoned doc_id stays invisible until the next compact —
    * re-ingesting it BEFORE the fold is unsupported (the id-level
    * anti-join would hide the new rows and the fold would drop them);
    * after the compact the id is fully retired and may be ingested as
    * a new document. Returns the number of victim docs found.
    */
  def bm25IndexTombstone(spark: org.apache.spark.sql.SparkSession,
                         docIds: DataFrame, dir: String,
                         day: Long): Long = {
    // postings-only view: the victim-fact derivation never reads the
    // merged dfreq or the day/tombstone statistics, so the full view's
    // eager stats collects would be wasted driver jobs (§1.2)
    Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
    val base = spark.read.parquet(s"$dir/postings")
      .select("token", "doc_id", "tf", "dl", "bucket")
    lexTombstoneWith(spark,
      lexViewPostings(spark, dir, base, lexCompleteDays(spark, dir),
        lexCompleteDays(spark, dir, "tomb_stats")),
      docIds, dir, day)
  }

  /** [[bm25IndexTombstone]] with the served postings injected — ONE
    * copy of the victim-fact derivation and the three-artifact write
    * order, shared with the manifested store ([[LexIncremental]]),
    * whose served view resolves through its manifest instead of the
    * directory layout.
    */
  private[ext] def lexTombstoneWith(spark: org.apache.spark.sql.SparkSession,
                                    postings: DataFrame, docIds: DataFrame,
                                    dir: String, day: Long): Long = {
    val idFrame = docIds.select(col("doc_id")).distinct()
    val victims = postings.join(idFrame, Seq("doc_id")).persist()
    try {
      val Array(vstats) = victims.groupBy("doc_id")
        .agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("nd"),
          coalesce(sum("dl"), lit(0L)).as("len")).collect()
      val (vDocs, vLen) = (vstats.getLong(0), vstats.getLong(1))
      if (vDocs > 0) {
        // the ids and dfreq cells are invisible until the stats marker
        // lands — independent, so they write as CONCURRENT jobs (§2.6)
        Jobs.concurrently(Seq(
          () => victims.select("doc_id").distinct()
            .write.mode("overwrite").parquet(s"$dir/day_tombstones/day=$day"),
          () => victims.groupBy("token", "bucket").agg(count(lit(1)).as("df"))
            .select("token", "df", "bucket")
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$dir/tomb_dfreq/day=$day")))
        // the commit marker — WRITE ORDER IS LOAD-BEARING: stats LAST
        lexStatsDf(spark, vDocs, vLen, 0).select("n_docs", "total_len")
          .write.mode("overwrite").parquet(s"$dir/tomb_stats/day=$day")
      }
      vDocs
    } finally victims.unpersist(blocking = false)
  }

  /** COMPACT the lexical store: fold streamed day partitions into the
    * consolidated artifacts and rewrite the small files day-appends
    * accumulate — one op, because fold and compaction are the same
    * rewrite (read the union view, write a fresh store). The swap uses
    * [[graft.ext.Curation.storeSwapRecover]]'s staging convention
    * verbatim (`.NAME.compact-staging` + root `_SUCCESS`,
    * rename-aside), so a crash at ANY point self-heals through the
    * same enumerated-states recovery every other store uses — and the
    * invariance law is hash-certified: the served ranking over the
    * compacted store equals the union build (`q_bm25_store_compact`
    * shares `q_bm25`'s oracle). Returns `dir`, where the compacted
    * store is live after the swap.
    */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
                       dir: String): String = {
    if (Curation.storeSwapRecover(spark, dir) == "absent")
      throw new java.io.IOException(s"no lexical index store at $dir")
    val (postings, dfreq, nDocs, totalLen, nBuckets) =
      lexStoreView(spark, dir)
    // every staged write reads the still-live store and finishes
    // before any rename — no lineage reaches the swapped paths after
    Similarity.stageThenSwap(spark, dir) { staging =>
      // the staged tables all read the still-live store and are
      // independent of one another — CONCURRENT jobs (§2.6); the
      // impact rebuild waits only on the staged postings it reads
      Jobs.concurrently(Seq(
        () => {
          Similarity.clusterForWrite(postings, "bucket")
            .write.partitionBy("bucket").parquet(s"$staging/postings")
          // the impact sidecar (when built) REBUILDS off the staged
          // postings — the fold is where folded days and applied
          // tombstones enter it, like every consolidated sidecar
          lexImpactMeta(spark, dir).foreach { nBlocks =>
            lexImpactOf(spark.read.parquet(s"$staging/postings"))
              .write.partitionBy("bucket").parquet(s"$staging/impact")
            spark.read.parquet(s"$dir/impact_meta")
              .write.parquet(s"$staging/impact_meta")
          }
        },
        () => dfreq.write.partitionBy("bucket").parquet(s"$staging/dfreq"),
        () => lexStatsDf(spark, nDocs, totalLen, nBuckets)
          .write.parquet(s"$staging/corpus_stats")))
    }
    dir
  }

  /** Build the PERSISTED lexical index (round 17) — the `lloyd_stats`
    * discipline applied to token statistics, so the hybrid's BM25 arm
    * can finally read index artifacts instead of re-tokenizing the
    * corpus per call. Layout under `dir`:
    *
    *   - `postings/bucket=B/` (token, doc_id, tf, dl): the inverted
    *     file, hive-partitioned by [[lexBucket]] — a probe reads ONLY
    *     the query-vocabulary buckets, nProbe-style partition pruning
    *     for text. Append-only, like the IVF assignment store.
    *   - `dfreq/bucket=B/` (token, df): per-token document frequency.
    *     On an append-only corpus a document lives in exactly one
    *     batch, so df is an ADDITIVE sufficient statistic — appends
    *     merge by addition, exactly the Lloyd-cell law.
    *   - `corpus_stats` (n_docs, total_len, n_buckets): one additive
    *     row; `n_buckets` pins the bucketing every later writer and
    *     reader must agree on. Both sidecars are rename-aside with
    *     read-side adoption ([[Similarity.adoptStagedNext]]).
    *
    * Failure honesty (single-writer, like the IVF store): an append's
    * postings land before its sidecar merges — a crash between leaves
    * the sidecars under-counting, detectable by comparing them to the
    * postings ([[bm25IndexStatsRebuild]] recovers in one columnar
    * scan, no corpus read).
    */
  def bm25IndexInit(documents: DataFrame, dir: String,
                    nBuckets: Int = 16): Unit = {
    val spark = documents.sparkSession
    val (nDocs, totalLen) = withLexBatch(documents, nBuckets) { b =>
      // postings and dfreq are independent artifacts off the one
      // persisted tf pass — concurrent jobs (§2.6); corpus_stats stays
      // LAST (a reader treats its absence as "not a store", the init
      // marker). Aggregate/join-shaped inputs — already AQE-coalesced,
      // no rebalance needed (see bm25IndexStreamDay)
      Jobs.concurrently(Seq(
        () => b.postings.write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$dir/postings"),
        () => b.dfreq.write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$dir/dfreq")))
      (b.nDocs, b.totalLen)
    }
    Similarity.writeRenameAside(lexStatsDf(spark, nDocs, totalLen, nBuckets),
      dir, "corpus_stats")
  }

  /** Day-append a batch of NEW documents into the lexical index: the
    * batch is tokenized and aggregated ALONE (O(batch), no store
    * re-read beyond the affected dfreq buckets), its postings rows
    * append into the bucketed inverted file, and both sidecars merge
    * by addition — init + appends ≡ the union build EXACTLY
    * (`q_bm25_store_inc`), because tf/dl are per-document facts and
    * df/n_docs/total_len are additive over any partition of an
    * append-only corpus. The steps and commit order are
    * [[lexAppendWith]]'s; here the rows commit as a `mode("append")`
    * parquet write into `postings/bucket=B`.
    *
    * BATCH-vocabulary-sized merge (round 18 — closing r17's one
    * `weak`): only the dfreq buckets that contain a batch token are
    * read, merged, and swapped (the per-partition rename-aside of
    * [[Similarity.publishPartitions]]); every other bucket's bytes
    * never move. At a production vocabulary (billions of tokens across
    * thousands of buckets) a day batch touches the few buckets its own
    * vocabulary hashes into, so the mutation cost tracks the BATCH
    * vocabulary, not the store's — the `lloyd_stats` O(batch) property
    * the lexical store was missing. Untouched buckets are spec-pinned
    * byte-identical (`StoreCrashSafetySpec`).
    *
    * Crash windows (single-writer, like the IVF store): the parquet
    * append is not atomic, so a crash inside it leaves partial postings
    * rows; a crash after it and before the sidecar swaps leaves the
    * sidecars under-counting. Both are rows-ahead-of-sidecars states,
    * flagged by [[bm25StoreFsck]] and repaired by
    * [[bm25IndexStatsRebuild]] in one columnar scan of the postings
    * (no corpus read). A crash before the postings land leaves at most
    * an unadopted `.dfreq.append-staging`: the store serves exactly
    * its pre-append state, and the next append clears the staging.
    */
  def bm25IndexAppend(spark: org.apache.spark.sql.SparkSession,
                      newDocs: DataFrame, dir: String): Unit =
    lexAppendWith(spark, newDocs, dir) { rows =>
      Similarity.clusterForWrite(rows, "bucket")
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    }

  /** The ONE append core of the lexical stores, shared by the flat
    * store ([[bm25IndexAppend]]) and the manifested one
    * ([[LexIncremental.append]]), which differ only in how the batch's
    * postings rows (token, doc_id, tf, dl, bucket) commit
    * (`commitRows`):
    *
    *   1. `corpus_stats` is read FIRST (fail loud on a non-store
    *      before any write; it pins the bucketing);
    *   2. the batch's facts — n_docs, total_len and its bucket set —
    *      come from ONE collect ([[withLexBatch]]);
    *   3. `commitRows` and the sidecar merges run as CONCURRENT jobs
    *      (§2.6): the dfreq merge (the live dfreq pruned to the batch
    *      buckets, plus the batch df, through [[lexDfreqSum]]) and,
    *      when an impact sidecar exists, its max/min/sum merge, each
    *      STAGED under `.NAME.append-staging`, which no reader or
    *      writer adopts ([[Similarity.stagePartitions]]);
    *   4. only after the rows commit, each staging is published and its
    *      buckets swap live ([[Similarity.publishPartitions]]);
    *   5. `corpus_stats` is written LAST (rename-aside).
    *
    * So rows always land before their sidecars. A crash in the
    * concurrent phase adds nothing a reader sees beyond what
    * `commitRows` itself left: the merge staging is adopted by no one,
    * and the next append clears it. A crash after the rows commit
    * leaves the sidecars under-counting: the store's one documented
    * window, repaired by its StatsRebuild.
    */
  private[ext] def lexAppendWith(spark: org.apache.spark.sql.SparkSession,
                                 newDocs: DataFrame, dir: String)
                                (commitRows: DataFrame => Unit): Unit = {
    val (nDocs, totalLen, nBuckets) = lexStoreStats(spark, dir)
    val (bDocs, bLen) = withLexBatch(newDocs, nBuckets) { b =>
      val inBatch = col("bucket").isin(b.buckets.map(Integer.valueOf): _*)
      val dfreq = s"$dir/dfreq" ->
        lexDfreqSum(Seq(lexStoreDfreq(spark, dir).filter(inBatch), b.dfreq))
      // the impact sidecar (when built) merges ADDITIVELY on append —
      // max/min/count are max/min/sum-mergeable — over the same
      // affected buckets only; the avgdl-free bound pair stays valid
      // as this append moves the corpus statistics
      val impact = lexImpactMeta(spark, dir).map { _ =>
        Similarity.adoptDeleteStaged(spark, s"$dir/impact", "bucket")
        val cols = Seq("token", "block", "bucket", "max_tf", "min_dl", "cnt")
        s"$dir/impact" -> spark.read.parquet(s"$dir/impact").filter(inBatch)
          .select(cols.map(col): _*)
          .unionByName(lexImpactOf(b.postings).select(cols.map(col): _*))
          .groupBy("token", "block", "bucket")
          .agg(max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"),
            sum(col("cnt")).as("cnt"))
      }
      val merges = dfreq +: impact.toSeq
      Jobs.concurrently((() => commitRows(b.postings)) +: merges.map {
        case (table, merged) =>
          () => Similarity.stagePartitions(spark, table, merged, "bucket")
      })
      merges.foreach { case (table, _) =>
        Similarity.publishPartitions(spark, table, b.buckets, "bucket")
      }
      (b.nDocs, b.totalLen)
    }
    Similarity.writeRenameAside(
      lexStatsDf(spark, nDocs + bDocs, totalLen + bLen, nBuckets),
      dir, "corpus_stats")
  }

  /** Re-derive both sidecars from the postings bytes — the recovery
    * hatch for a crash between an append's postings write and its
    * sidecar merges: df = postings rows per token, n_docs/total_len
    * from one row per distinct doc. One columnar scan of the inverted
    * file, NO corpus read. Idempotent; equals what init wrote and
    * every append maintained.
    */
  def bm25IndexStatsRebuild(spark: org.apache.spark.sql.SparkSession,
                            dir: String, nBuckets: Int = -1): Unit = {
    // adopt a crashed delete's completed per-bucket swap FIRST, so the
    // rebuild can never rebase the sidecars to rows about to reappear
    Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
    val postings = spark.read.parquet(s"$dir/postings")
    val nb =
      if (nBuckets > 0) nBuckets
      else try lexStoreStats(spark, dir)._3
      catch {
        case _: java.io.IOException =>
          // corpus_stats lost entirely (the case its error message
          // sends operators HERE for) — infer the bucketing modulus
          // from the postings' own layout: try max(bucket)+1 and
          // VERIFY it maps every stored token to its stored bucket
          // (sound if accepted; loud, never guessed, otherwise)
          val cand = postings.agg(max(col("bucket")))
            .collect()(0).getInt(0) + 1
          val mismatched = postings
            .filter(pmod(xxhash64(col("token")), lit(cand.toLong))
              .cast("int") =!= col("bucket"))
            .limit(1).count()
          require(mismatched == 0L,
            s"cannot infer n_buckets (max(bucket)+1 = $cand does not " +
              "reproduce the stored bucketing); pass nBuckets explicitly")
          cand
      }
    Similarity.writeRenameAside(
      postings.groupBy("token").agg(count(lit(1)).as("df"))
        .withColumn("bucket", lexBucket(nb)),
      dir, "dfreq", Seq("bucket"))
    val Array(st) = postings.groupBy("doc_id")
      .agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
      .collect()
    Similarity.writeRenameAside(
      lexStatsDf(spark, st.getLong(0), st.getLong(1), nb),
      dir, "corpus_stats")
  }

  /** DELETE documents from the lexical index (`q_bm25_store_del`) —
    * the additive dual of [[bm25IndexAppend]], the same union-minus
    * law the IVF store certifies: drop the victims' postings rows and
    * SUBTRACT their token statistics from the sidecars (df decrements
    * by the victim's distinct-token memberships; n_docs/total_len by
    * its count/length — additivity runs both directions, and a token
    * whose df reaches zero leaves `dfreq` entirely). Victims are
    * located by one columnar scan of the INDEX (the postings hold
    * everything needed — tf rows carry dl — so the corpus is never
    * re-read); the rewrite — and, round 18, the dfreq merge itself —
    * touches ONLY the buckets that held a victim row. Sidecars
    * subtract BEFORE the row swaps (so every lazy read of the victims
    * evaluates against intact pre-delete bytes); a crash between the
    * two phases leaves the sidecars ahead of the rows — and a probe
    * served INSIDE that window is WRONG, not merely stale: victim
    * postings rows still match while df/n_docs/total_len already count
    * only survivors, so served rankings mix the two states. The
    * single-writer contract therefore extends to READS across a
    * delete: quiesce probes until the call returns, or until a crash
    * is reconciled — the fsck flags the torn state,
    * [[bm25IndexStatsRebuild]] reconciles,
    * and a retry then finds exactly the victims still present. The
    * served ranking over a post-delete store equals the build over
    * survivors (hash-certified by `q_bm25_store_del` under the
    * survivor-filtered `q_bm25` oracle). Returns
    * (n_docs_deleted, n_rows_deleted).
    */
  def bm25IndexDelete(spark: org.apache.spark.sql.SparkSession,
                      docIds: DataFrame, dir: String): (Long, Long) = {
    // streamed day partitions are not covered by the consolidated
    // sidecars this delete subtracts from — fold them in first
    // (bm25IndexCompact), the IVF-delete posture
    if (lexDayDirExists(spark, dir, "day_postings"))
      throw new IllegalStateException(
        s"lexical store at $dir holds streamed day partitions — run " +
          "bm25IndexCompact to fold them in, then delete")
    if (lexCompleteDays(spark, dir, "tomb_stats").nonEmpty)
      throw new IllegalStateException(
        s"lexical store at $dir holds pending tombstone days the " +
          "consolidated sidecars do not reflect — run bm25IndexCompact " +
          "to apply them, then delete")
    val (nDocs, totalLen, nBuckets) = lexStoreStats(spark, dir)
    val dfLive = lexStoreDfreq(spark, dir)
    val idFrame = docIds.select(col("doc_id")).distinct().persist()
    try {
      Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
      val victims = spark.read.parquet(s"$dir/postings")
        .join(idFrame, Seq("doc_id")).persist()
      try {
        // the victims' additive token statistics, off the victim rows
        // alone: df decrement = one per (token, victim doc) posting
        // row; doc count/length from one row per victim doc
        val vdf = victims.groupBy("token").agg(count(lit(1)).as("df_gone"))
        val Array(vstats) = victims.groupBy("doc_id")
          .agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("nd"), sum("dl").as("len"))
          .collect()
        val (vDocs, vLen) =
          (vstats.getLong(0), if (vstats.isNullAt(1)) 0L else vstats.getLong(1))
        val nRows = victims.count()
        if (vDocs > 0L) {
          val buckets = victims.select("bucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          // SIDECARS FIRST, while the victims' lineage source (the live
          // postings) is intact: the merged dfreq below is a LAZY frame
          // over the cached victims — if a cached block were lost after
          // the row swap, Spark would recompute it from the rewritten
          // postings where the victim rows are gone and silently
          // under-subtract. Subtracting before any swap makes every
          // recompute read the pre-delete bytes, so cache loss is
          // harmless. BATCH-sized merge (round 18): a victim token's
          // bucket is by construction one that held a victim postings
          // row, so `buckets` covers every token whose df moves — only
          // those dfreq partitions are read, merged, and swapped;
          // df = 0 tokens leave, a bucket losing its last token
          // disappears.
          val merged = dfLive
            .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
            .select(col("token"), col("df"), col("bucket"))
            .join(vdf, Seq("token"), "left_outer")
            .select(col("token"),
              (col("df") - coalesce(col("df_gone"), lit(0L))).as("df"),
              col("bucket"))
            .filter(col("df") > 0)
          Similarity.rewritePartitions(spark, s"$dir/dfreq", buckets,
            merged, "bucket", cluster = false)
          Similarity.writeRenameAside(
            lexStatsDf(spark, nDocs - vDocs, totalLen - vLen, nBuckets),
            dir, "corpus_stats")
          // then the row rewrite: survivors of ONLY the affected
          // buckets staged and swapped — ONE copy of the partition
          // delete protocol, shared with the IVF store.
          // Crash honesty: a crash here leaves the sidecars subtracted
          // ahead of the rows — the fsck flags it; the protocol is
          // bm25IndexStatsRebuild FIRST (reconciles the sidecars to
          // whatever rows survived), THEN retry the delete, which finds
          // exactly the victims still present.
          Similarity.deleteFromPartitioned(spark, s"$dir/postings",
            buckets, idFrame, partitionCol = "bucket", keyCol = "doc_id")
          // the impact sidecar has no subtraction (max/min) — the
          // affected buckets RECOMPUTE from the post-delete postings,
          // the classical block-max delete rule; untouched buckets
          // keep their bytes
          lexImpactMeta(spark, dir).foreach { nBlocks =>
            Similarity.rewritePartitions(spark, s"$dir/impact", buckets,
              lexImpactOf(spark.read.parquet(s"$dir/postings")
                .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))),
              "bucket", cluster = false)
          }
        }
        (vDocs, nRows)
      } finally victims.unpersist(blocking = false)
    } finally idFrame.unpersist(blocking = false)
  }

  /** FSCK of the lexical sidecars (`q_bm25_store_fsck`) — the
    * invariant certifier, symmetric with the IVF store's: recompute df
    * per token and the corpus stats from the POSTINGS bytes (one
    * columnar scan, no corpus read) and compare against the sidecars.
    * One summary row: both sides' token/doc/length totals and
    * TRUE-iff-equal booleans — `df_ok` compares CELL BY CELL over the
    * full-outer token join (a token present on one side only is
    * itself a violation), so the append/delete crash windows (postings
    * moved, sidecars not) are detectable by a query here too.
    */
  def bm25StoreFsck(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
    val postings = spark.read.parquet(s"$dir/postings")
    val fromRows = postings.groupBy("token").agg(count(lit(1)).as("df_rows"))
    val cells = fromRows
      .join(lexStoreDfreq(spark, dir).select(col("token"),
        col("df").as("df_side")), Seq("token"), "full_outer")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("df_rows"), lit(0L))).as("df_rows_total"),
        sum(coalesce(col("df_side"), lit(0L))).as("df_side_total"),
        min((coalesce(col("df_rows"), lit(-1L)) <=>
          coalesce(col("df_side"), lit(-2L))).cast("int"))
          .cast("boolean").as("df_ok"))
    val stats = postings.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs_rows"),
        coalesce(sum("dl"), lit(0L)).as("total_len_rows"))
    val (nDocs, totalLen, _) = lexStoreStats(spark, dir)
    cells.crossJoin(stats)
      .select(col("n_tokens"), col("df_rows_total"), col("df_side_total"),
        col("df_ok"), col("n_docs_rows"), lit(nDocs).as("n_docs_side"),
        col("total_len_rows"), lit(totalLen).as("total_len_side"),
        (col("n_docs_rows") === lit(nDocs)).as("n_docs_ok"),
        (col("total_len_rows") === lit(totalLen)).as("total_len_ok"))
  }

  /** `q_bm25` served from the PERSISTED index (`q_bm25_store`): term
    * selection reads the vocab-sized `dfreq` sidecar (top `nTerms` by
    * df, lexicographic ties — never the corpus), the postings scan
    * prunes to those terms' buckets, and scoring reads stored
    * tf/dl/df plus the one stats row — the same [[bm25Weight]]
    * literals, so the result equals the raw-corpus [[bm25TopDocs]]
    * ROW FOR ROW (one shared oracle certifies both). At 100 TB the
    * per-call cost is vocab-bounded + the matched postings rows;
    * corpus bytes are never re-read.
    */
  def bm25StoreTopDocs(spark: org.apache.spark.sql.SparkSession,
                       dir: String, nTerms: Int = 10,
                       topK: Int = 3): DataFrame =
    lexTopDocsOf(spark, lexStoreView(spark, dir), nTerms, topK)

  /** [[bm25StoreTopDocs]] off an injected served view — ONE copy of
    * the demo-term pick and ranking, shared with [[LexIncremental]].
    */
  private[ext] def lexTopDocsOf(spark: org.apache.spark.sql.SparkSession,
                                view: (DataFrame, DataFrame, Long, Long, Int),
                                nTerms: Int = 10, topK: Int = 3): DataFrame = {
    val (postings, dfreq, nDocs, totalLen, _) = view
    val terms = dfreq
      .orderBy(col("df").desc, col("token")).limit(nTerms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    scoreStorePostings(postings,
      terms.map(t => (t._1, t._2)), terms.map(_._3).distinct.toSeq,
      nDocs, totalLen)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("token")).orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("rnk") <= topK)
      .select(col("token"), col("rnk"), col("doc_id"), col("tf"), col("dl"),
        col("bm25"))
      .orderBy("token", "rnk")
  }

  // ------------------------------------------------------------------
  // Block-max IMPACT sidecar: lossless top-k early termination
  // ------------------------------------------------------------------

  /** IMPACT-ORDERED block key — a pure per-ROW fact, so the blocking
    * is append-stable and recomputable at probe time with no lookup:
    * `(min(tf, 16) − 1) × 16 + min(⌊log₂ dl⌋, 15)`. Hash-random
    * blocking makes every block's (max_tf, min_dl) bound loose (each
    * block samples the whole score range — measured: <1% of pairs
    * skipped); keying blocks by the two score inputs themselves makes
    * the bound tight per block (max_tf IS the block's tf level, min_dl
    * its dl range's floor), which is what lets the bulk low-tf /
    * long-doc blocks of a common term actually fail the θ test. 256
    * possible blocks per (token, bucket); `nBlocks` in `impact_meta`
    * records the scheme's ceiling.
    */
  private def lexImpactBlock: Column =
    (least(col("tf"), lit(16L)) - lit(1L)).cast("int") * lit(16) +
      least(floor(log2(col("dl"))).cast("int"), lit(15))

  private def lexImpactMeta(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/impact_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.adoptStagedNext(fs, p,
      new org.apache.hadoop.fs.Path(s"$dir/.impact_meta.next"))
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).collect()(0).getInt(0))
  }

  /** The per-(token, block) impact aggregate of a postings-shaped
    * frame: max tf and min dl — a VALID upper-bound pair for every
    * member's BM25 tf-part under ANY avgdl (the weight is increasing
    * in tf, decreasing in dl), which is what keeps the bound correct
    * as appends move the corpus statistics — plus the member count.
    * ONE copy shared by build, the selective append merge, and the
    * delete/compact recomputes.
    */
  private def lexImpactOf(postings: DataFrame): DataFrame =
    postings
      .withColumn("block", lexImpactBlock)
      .groupBy("token", "block", "bucket")
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"),
        count(lit(1)).as("cnt"))

  /** Build the lexical store's BLOCK-MAX IMPACT sidecar (round 18 —
    * the WAND/block-max family's metadata, Broder et al. CIKM 2003 /
    * Ding & Suel SIGIR 2011, re-expressed for a bucketed hive store):
    * `impact/bucket=B` holds, per (token, block = [[lexImpactBlock]] —
    * the impact-ordered (tf, ⌊log₂ dl⌋) key), the block's max tf, min
    * dl, and count — enough to upper-bound every member's BM25 weight
    * at query time without touching the block's rows. `impact_meta`
    * pins the scheme's block ceiling. The
    * bound pair (max_tf, min_dl) is deliberately avgdl-FREE, so it
    * stays valid as appends move n_docs/total_len; it merges
    * additively on append (max/min/sum), and a delete/compact
    * recomputes the affected buckets (max has no subtraction — the
    * classical recompute-on-delete rule). Derived artifact,
    * rebuildable at will from postings bytes.
    */
  def bm25ImpactBuild(spark: org.apache.spark.sql.SparkSession,
                      dir: String, nBlocks: Int = 256): Unit = {
    Similarity.adoptDeleteStaged(spark, s"$dir/postings", "bucket")
    lexImpactOf(spark.read.parquet(s"$dir/postings"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/impact")
    import spark.implicits._
    Similarity.writeRenameAside(
      Seq(nBlocks).toDF("n_blocks").coalesce(1), dir, "impact_meta")
  }

  /** `q_bm25` served from the persisted index THROUGH the block-max
    * pruned scan (`q_bm25_store_pruned`) — LOSSLESS top-k early
    * termination, the lexical twin of nProbe pruning: the result is
    * provably identical to [[bm25StoreTopDocs]] (one shared oracle
    * certifies both), but common terms' postings are mostly never
    * scored. Two bounded phases per the classical block-max protocol,
    * driver-coordinated (both driver fetches are nTerms-scale):
    *
    *   1. per term, blocks are ranked by their impact UPPER BOUND
    *      (idf × tf-part(max_tf, min_dl) at the current avgdl) and the
    *      cheapest prefix covering ≥ topK docs is scored exactly → the
    *      term's kth-best actual score θ (a LOWER bound on the final
    *      kth-best);
    *   2. only blocks whose upper bound clears θ − ε are scored (ε =
    *      1e-6 absorbs the stored scores' half-up micro rounding); an
    *      excluded block's every member scores strictly below θ, so it
    *      cannot enter the top-k OR shift a tie — the top-k over
    *      admitted blocks is exactly the top-k over everything.
    *
    * Pruning cuts SCORED PAIRS (and their join/window cost); physical
    * byte skipping additionally needs the postings sorted by (token,
    * block) inside each bucket so parquet row-group stats prune — the
    * documented layout extension, deliberately not coupled to the
    * correctness law here. Refuses (loud) under streamed days or
    * tombstones: impact covers the consolidated postings only — fold
    * first, like every consolidated-sidecar consumer.
    */
  def bm25StoreTopDocsPruned(spark: org.apache.spark.sql.SparkSession,
                             dir: String, nTerms: Int = 10,
                             topK: Int = 3): DataFrame =
    bm25PrunedInternal(spark, dir, nTerms, topK)._1

  /** The pruning instrument: (result, scored-pair count via the pruned
    * protocol, total matched pairs the unpruned ranker scores) — what
    * the StressBench row prices and the spec pins.
    */
  private[ext] def bm25PrunedInternal(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nTerms: Int, topK: Int): (DataFrame, Long, Long) = {
    import spark.implicits._
    if (lexDayDirExists(spark, dir, "day_postings") ||
        lexCompleteDays(spark, dir, "tomb_stats").nonEmpty)
      throw new IllegalStateException(
        s"lexical store at $dir holds streamed days or pending " +
          "tombstones the impact sidecar does not cover — run " +
          "bm25IndexCompact (then bm25ImpactBuild), then probe pruned")
    if (lexImpactMeta(spark, dir).isEmpty)
      throw new java.io.IOException(
        s"no impact sidecar at $dir/impact — run bm25ImpactBuild first")
    val (postings, dfreq, nDocs, totalLen, _) = lexStoreView(spark, dir)
    val terms = dfreq
      .orderBy(col("df").desc, col("token")).limit(nTerms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val buckets = terms.map(_._3).distinct.toSeq
    val dfOf = terms.map(t => t._1 -> t._2).toMap
    val avgdl = totalLen.toDouble / nDocs
    def ub(token: String, maxTf: Long, minDl: Long): Double = {
      val df = dfOf(token).toDouble
      math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) *
        (maxTf * 2.2) / (maxTf + 1.2 * (1.0 - 0.75 + 0.75 * minDl / avgdl))
    }
    // the terms' impact rows: bucket-pruned scan, nTerms × n_blocks
    // rows — a bounded driver fetch by construction
    Similarity.adoptDeleteStaged(spark, s"$dir/impact", "bucket")
    val impact = spark.read.parquet(s"$dir/impact")
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      .join(broadcast(terms.map(_._1).toSeq.toDF("token")), Seq("token"))
      .select("token", "block", "max_tf", "min_dl", "cnt")
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        ub(r.getString(0), r.getLong(2), r.getLong(3)), r.getLong(4)))
    val byToken = impact.groupBy(_._1).map { case (t, rows) =>
      t -> rows.sortBy(r => (-r._3, r._2))
    }
    // phase 1: per term, the cheapest ub-descending block prefix
    // covering >= topK members
    val phase1 = byToken.toSeq.flatMap { case (t, rows) =>
      var cum = 0L
      rows.takeWhile { r => val take = cum < topK; cum += r._4; take }
        .map(r => (t, r._2))
    }
    def scoreOf(pairs: Seq[(String, Int)]): DataFrame =
      postings
        .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
        .withColumn("block", lexImpactBlock)
        .join(broadcast(pairs.toDF("token", "block")), Seq("token", "block"))
        .join(broadcast(terms.map(t => (t._1, t._2)).toSeq
          .toDF("token", "df")), Seq("token"))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("total_len", lit(totalLen))
        .withColumn("bm25", round(bm25Weight, 6))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("bm25").desc, col("doc_id"))
    // θ per term: the kth best ACTUAL score inside phase 1 (nTerms rows)
    val theta = scoreOf(phase1)
      .withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") === topK)
      .select("token", "bm25").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // phase 2: admit exactly the blocks whose bound clears θ − ε; a
    // term with fewer than topK docs has no θ and admits everything
    val admitted = byToken.toSeq.flatMap { case (t, rows) =>
      val cut = theta.get(t)
      rows.filter(r => cut.forall(th => r._3 >= th - 1e-6))
        .map(r => (t, r._2))
    }
    val result = scoreOf(admitted)
      .withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") <= topK)
      .select(col("token"), col("rnk"), col("doc_id"), col("tf"), col("dl"),
        col("bm25"))
      .orderBy("token", "rnk")
    (result, admitted.map(p => byToken(p._1)
      .find(_._2 == p._2).map(_._4).getOrElse(0L)).sum,
      impact.map(_._4).sum)
  }

  /** The pruned postings scan + BM25 scoring shared by the store
    * ranker and the store hybrid arm: read ONLY the given buckets of
    * the inverted file, keep ONLY the given terms (broadcast — a term
    * list is query-scale), score each (term, doc) with the one
    * [[bm25Weight]] copy off stored tf/dl and sidecar df/stats.
    */
  private[ext] def scoreStorePostings(postings: DataFrame,
                                 terms: Seq[(String, Long)],
                                 buckets: Seq[Int], nDocs: Long,
                                 totalLen: Long): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val termDf = terms.toDF("token", "df")
    postings
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      .join(broadcast(termDf), Seq("token"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_len", lit(totalLen))
      .withColumn("bm25", round(bm25Weight, 6))
  }

  /** The doc-as-query BM25 arm served from the PERSISTED index — what
    * [[bm25DocQueryArm]] recomputed from the raw corpus per call, now
    * read from artifacts: query docs (a bounded frame — queries are
    * inputs, not corpus) tokenize on the query side only; their
    * DISTINCT tokens' df comes from the pruned `dfreq` buckets; the
    * postings scan prunes to the same buckets; contributions round to
    * integer micros before the per-doc sum (the order-independence
    * discipline), so the store arm equals the brute arm row for row.
    *
    * The query side runs as ONE shuffle-free job: the (query_id, token,
    * bucket) rows are collected and deduplicated on the driver, and the
    * bucket list, the query-token join and the df lookup's token list
    * all come from that fetch as local relations — the
    * [[graft.ext.Similarity.storeProbeWith]] posture. Nothing is cached
    * and no job re-reads the query docs. The call runs its store-view
    * reads, that fetch and the materialization eagerly; the arm comes
    * back checkpointed (numQueries × arm rows), so a fusion downstream
    * never re-runs the pruned scan.
    */
  /** Optional `keep`: a (doc_id) frame of ADMISSIBLE result docs —
    * the in-filter strategy on the lexical arm (contributions of
    * excluded docs dropped BEFORE the per-doc sum and the window), for
    * the filtered hybrid.
    */
  def bm25StoreQueryArm(spark: org.apache.spark.sql.SparkSession,
                        queryDocs: DataFrame, dir: String,
                        arm: Int = 10,
                        keep: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (postings, dfreq, nDocs, totalLen, nBuckets) =
      lexStoreView(spark, dir)
    val q0 = queryDocs
      .select(col("doc_id").as("query_id"),
        explode(wsTokens(col("text"))).as("token"))
      .withColumn("bucket", lexBucket(nBuckets))
    // rebuilt under q0's own schema, so query_id keeps the caller's type
    val qRows = q0.collect().distinct
    val qtok = spark.createDataFrame(java.util.Arrays.asList(qRows: _*),
      q0.schema).select("query_id", "token")
    val buckets = qRows.map(r => Integer.valueOf(r.getInt(2))).distinct
    // query-vocab df: pruned dfreq buckets, semi-joined to the query
    // tokens — bounded by the query vocabulary
    val qdf = dfreq
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(qRows.map(_.getString(1)).distinct.toSeq.toDF("token")),
        Seq("token"))
      .select(col("token"), col("df"))
    val pruned = postings.filter(col("bucket").isin(buckets: _*))
    val admitted = keep.fold(pruned)(ids =>
      pruned.join(ids.select("doc_id"), Seq("doc_id"), "left_semi"))
    val contrib = admitted
      .join(broadcast(qtok), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(qdf), Seq("token"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("total_len", lit(totalLen))
      .withColumn("cm", round(bm25Weight * lit(1000000.0), 0).cast("long"))
    val lex = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("cm")).as("lex_micro"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("lex_micro").desc, col("doc_id"))
    lex.withColumn("lex_rnk", row_number().over(wl))
      .filter(col("lex_rnk") <= arm)
      .select("query_id", "doc_id", "lex_rnk")
      .localCheckpoint(true)
  }

  /** Hybrid retrieval (`q_hybrid_rrf`): BM25 lexical ranking fused
    * with the exact int8-cosine embedding ranking by RECIPROCAL-RANK
    * FUSION (Cormack, Clarke & Büttcher, SIGIR 2009: `score(d) =
    * Σ_arms 1/(rrfK + rank_arm(d))`, rrfK = 60) — the standard
    * production shape for "lexical recall + semantic recall" stacks,
    * and deliberately RANK-ONLY: fusion never compares the two arms'
    * incommensurable scores, which is what makes it robust AND
    * hash-matchable (ranks are exact integers; `1/(60+r)` is one
    * correctly-rounded double op per arm).
    *
    * Queries are the documents with `doc_id < numQueries`, joined to
    * their embeddings by id. The lexical arm scores every corpus doc
    * against the query doc's DISTINCT tokens with the `q_bm25`
    * arithmetic (Lucene smooth idf, k1 = 1.2, b = 0.75); because a
    * doc-level score SUMS per-term contributions and float-sum order
    * is engine-dependent, each term's contribution is rounded to
    * integer MICROS first and the sum runs in exact integers —
    * order-independent, so the lexical ranking hash-matches. The
    * embedding arm is the exact int8 scan ([[graft.ext.Similarity
    * .quantizedCosineTopK]]). Top-`arm` per arm enter the fusion; a
    * doc absent from one arm contributes 0 from it (its rank column
    * stays NULL as the witness). Output: fused top-`k` per query with
    * both per-arm ranks — the fusion is auditable row by row.
    *
    * Scale shape: the query-side token table and its df/idf rows are
    * broadcast-bounded (numQueries docs' vocab); the one corpus-keyed
    * shuffle is the tf aggregate the BM25 family already pays; the
    * integer-micro sum is a hash-aggregate with map-side combine; the
    * embedding arm is the quantized scan. Nothing grows with `arm`
    * but two bounded windows.
    */
  def hybridRrfTopDocs(documents: DataFrame, embeddings: DataFrame,
                       numQueries: Int = 10, k: Int = 5, arm: Int = 10,
                       rrfK: Int = 60): DataFrame =
    fuseRrf(bm25DocQueryArm(documents, numQueries, arm),
      graft.ext.Similarity.quantizedCosineTopK(embeddings, numQueries, arm)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("emb_rnk")),
      k, rrfK)

  /** [[hybridRrfTopDocs]] with BOTH arms served by persisted indexes
    * (`q_hybrid_rrf_store`) — the production hybrid shape, finally
    * whole (round 17): the lexical arm is [[bm25StoreQueryArm]]'s
    * bucket-pruned read of the lexical store (query-vocab partitions
    * of postings + dfreq, the one stats row — the raw corpus is never
    * re-tokenized), the semantic arm is
    * [[graft.ext.Similarity.ivfIndexStoreProbe]]'s partition-pruned
    * scan of the IVF store (nProbe lists per query, exact int8
    * ranking), and the fusion is the same rank-only RRF. At 100 TB
    * NEITHER arm scans the raw corpus per query — per-call bytes are
    * query-vocabulary buckets + nProbe inverted lists.
    *
    * Scale shape: a probe is bound by fixed per-job costs, not by data,
    * so the two arms run as CONCURRENT jobs and each is materialized
    * (`localCheckpoint`, numQueries × arm rows) before the fusion. The
    * call therefore runs these jobs eagerly, each arm on its own
    * thread: the lexical arm's stats read, postings schema inference,
    * ONE shuffle-free fetch of the query side's (query_id, token,
    * bucket) rows (the bucket list and every query-side broadcast come
    * from it as local relations) and its checkpoint (pruned dfreq and
    * postings scans, integer-micro sum, window); the IVF arm's centroid
    * collect, its assignments schema inference, its probe-frame collect
    * (the list ids to prune to) and its checkpoint (pruned scan,
    * rescore, window). The one-row `corpus_stats` read and the centroid
    * read use declared schemas, so neither infers one. Only the fusion
    * runs on the caller's action: one range exchange on query_id over
    * the two bounded arms (its bounds sampled from them), serving the
    * per-doc merge, the window and the final order ([[fuseRrf]]).
    */
  def hybridRrfStoreTopDocs(queryDocs: DataFrame, queryVecs: DataFrame,
                            lexDir: String, annDir: String,
                            k: Int = 5, arm: Int = 10, nProbe: Int = 4,
                            rrfK: Int = 60): DataFrame =
    fuseStoreArms(queryDocs, queryVecs, lexDir, annDir, None, None,
      k, arm, nProbe, rrfK)

  /** The FILTERED store hybrid (`q_hybrid_rrf_store_filtered`) — the
    * production "retrieve among docs matching a predicate" shape,
    * composing this round's pieces: the lexical arm admits only the
    * keep-set's docs BEFORE its per-doc sum, the semantic arm is the
    * IN-FILTER store probe (`q_ivf_store_probe_filtered` measured it
    * strictly better than post-filtering at equal bytes), and the
    * fusion is the same rank-only RRF. Both arms stay on persisted
    * artifacts; the predicate arrives as id frames — the join shape
    * metadata always has.
    */
  def hybridRrfStoreFilteredTopDocs(queryDocs: DataFrame,
                                    queryVecs: DataFrame,
                                    lexDir: String, annDir: String,
                                    lexKeep: DataFrame, annKeep: DataFrame,
                                    k: Int = 5, arm: Int = 10,
                                    nProbe: Int = 4,
                                    rrfK: Int = 60): DataFrame =
    fuseStoreArms(queryDocs, queryVecs, lexDir, annDir, Some(lexKeep),
      Some(annKeep), k, arm, nProbe, rrfK)

  /** Both store hybrids' arms as CONCURRENT jobs (§2.6): each arm is a
    * chain of small jobs whose fixed costs overlap the other's instead
    * of adding up. Each arm comes back materialized (bounded: numQueries
    * × arm rows), so the fusion re-runs neither scan; the IVF arm skips
    * the public probe's global sort, which the fusion's window would
    * discard. A failing arm's own exception propagates once both arms
    * have stopped.
    */
  private def fuseStoreArms(queryDocs: DataFrame, queryVecs: DataFrame,
                            lexDir: String, annDir: String,
                            lexKeep: Option[DataFrame],
                            annKeep: Option[DataFrame],
                            k: Int, arm: Int, nProbe: Int,
                            rrfK: Int): DataFrame = {
    val Seq(lexArm, embArm) = Jobs.concurrently(Seq(
      () => bm25StoreQueryArm(queryDocs.sparkSession, queryDocs, lexDir,
        arm, keep = lexKeep),
      () => graft.ext.Similarity.ivfStoreProbeUnsorted(queryVecs.sparkSession,
        queryVecs, annDir, k = arm, nProbe = nProbe, keep = annKeep)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("emb_rnk"))
        .localCheckpoint(true)))
    fuseRrf(lexArm, embArm, k, rrfK)
  }

  /** The doc-as-query BM25 arm: top-`arm` docs per query doc by the
    * `q_bm25` arithmetic over the query's DISTINCT tokens, with each
    * per-term contribution rounded to integer MICROS before the
    * per-doc sum (float-sum order is engine-dependent; an integer sum
    * is not — the lloydStats discipline).
    */
  private[graft] def bm25DocQueryArm(documents: DataFrame, numQueries: Int,
                              arm: Int): DataFrame = {
    val c = bm25Corpus(documents)
    val qtok = c.tok.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
    // per-query-term df — bounded by the query vocab, broadcast back
    val qdf = c.dfreq.join(qtok.select("token").distinct(), Seq("token"))
    val contrib = c.tf
      .join(broadcast(qtok), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(qdf), Seq("token"))
      .join(c.dl, Seq("doc_id"))
      .crossJoin(broadcast(c.stats))
      .withColumn("cm", round(bm25Weight * lit(1000000.0), 0).cast("long"))
    val lex = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("cm")).as("lex_micro"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("lex_micro").desc, col("doc_id"))
    lex.withColumn("lex_rnk", row_number().over(wl))
      .filter(col("lex_rnk") <= arm)
      .select("query_id", "doc_id", "lex_rnk")
  }

  /** Rank-only reciprocal-rank fusion of two arm frames,
    * (query_id, doc_id, lex_rnk) and (query_id, doc_id, emb_rnk): a doc
    * absent from one arm contributes 0 from it and keeps a NULL rank as
    * the witness. Each arm must hold a (query_id, doc_id) at most once
    * (both arms rank by `row_number` per query over distinct docs).
    *
    * The arms are unioned with the other arm's rank as NULL and
    * range-partitioned on query_id ONCE: that partitioning satisfies the
    * per-doc `max` of each rank, the per-query window and the final
    * (query_id, rnk) order, so the fusion has one exchange (plus the
    * range bounds' sampling job over the arms).
    */
  private[ext] def fuseRrf(lexArm: DataFrame, embArm: DataFrame,
                           k: Int, rrfK: Int): DataFrame = {
    val noRank = lit(null).cast("int")
    val fused = lexArm
      .select(col("query_id"), col("doc_id"), col("lex_rnk"),
        noRank.as("emb_rnk"))
      .unionByName(embArm.select(col("query_id"), col("doc_id"),
        noRank.as("lex_rnk"), col("emb_rnk")))
      .repartitionByRange(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(max(col("lex_rnk")).as("lex_rnk"), max(col("emb_rnk")).as("emb_rnk"))
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("emb_rnk")), lit(0.0)), 6))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("lex_rnk"), col("emb_rnk"), col("rrf_score"))
      .orderBy("query_id", "rnk")
  }

  /** Vocabulary coverage: build the top-`vocabSize` corpus vocabulary
    * (by occurrence count, lexicographic tie-break) and report each
    * document's out-of-vocabulary token rate — the standard check that
    * a tokenizer/vocab fits a corpus. The vocabulary is corpus-reduced
    * then broadcast back (two-stage "train then apply"), so the apply
    * side is a map-side join at any corpus size.
    */
  def vocabCoverage(documents: DataFrame, vocabSize: Int = 50): DataFrame = {
    val tok = documents.select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0)).cast("long")).as("n_in_vocab"))
      .withColumn("oov_rate",
        round(lit(1.0) - col("n_in_vocab").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** Bigram language-model quality score — the cheap statistical
    * perplexity proxy of LLM data pipelines (KenLM-style filtering,
    * public analogue): train add-one-smoothed bigram probabilities from
    * the corpus's own counts, then score every document by its average
    * bigram log-probability. P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V).
    * Train = two aggregations on (w1,w2)/(w1); score = joins back on the
    * same keys — all shuffles are on token keys with map-side combine,
    * and the model never leaves the cluster (no driver collect).
    * Documents with < 2 tokens have no bigrams and are absent.
    */
  def bigramLmScore(documents: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    // NOTE(perf): bg has two consumers but caching it LOSES — each
    // recompute is a fused explode stage (measured at sf0.1)
    val bg = documents.select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => struct(get(col("t"), i).as("w1"), get(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c(w1,·) = Σ_w2 c(w1,w2) exactly (integer) — aggregate the distinct-
    // bigram table instead of re-shuffling every bigram ROW by w1
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = documents.select(explode(toks).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val logp = log((col("c2") + 1).cast("double") / (col("c1") + col("v")))
    // pre-assemble the model on the (small) distinct-bigram key space,
    // then ONE join of the bigram stream against it
    val model = c2.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), logp.as("logp"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(col("logp")) / count(lit(1)), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** MapType surface: per-document token→count map built and shaped
    * entirely with map higher-order functions — `map_from_arrays`,
    * `map_filter` (keep repeated tokens), `transform_values`, and
    * keyed lookup — then digested to a deterministic sorted `k:v`
    * string (maps have no portable ordering, strings hash-compare).
    * Shuffle-free single-pass projection; the per-doc count build is
    * O(tokens × distinct) inside codegen'd array HOFs, fine for
    * document-sized arrays.
    */
  def repeatedTokenMap(documents: DataFrame, minCount: Int = 2): DataFrame = {
    val toks = wsTokens(col("text"))
    val distinctToks = array_distinct(toks)
    val counts = transform(distinctToks,
      t => size(filter(toks, x => x === t)))
    val m = map_from_arrays(distinctToks, counts)
    val repeated = map_filter(m, (_, v) => v >= minCount)
    // transform_values closes the HOF set: double = "occurrences of the
    // token's char count" demo payload (token_len * count)
    val weighted = transform_values(repeated, (k, v) => length(k) * v)
    documents.select(
      col("doc_id"),
      size(map_keys(m)).as("n_distinct"),
      size(map_keys(repeated)).as("n_repeated"),
      array_join(transform(array_sort(map_keys(repeated)),
        k => concat(k, lit(":"), element_at(repeated, k).cast("string"),
          lit(":"), element_at(weighted, k).cast("string"))), ",")
        .as("repeated_digest"))
      .orderBy("doc_id")
  }

  /** C4-style boilerplate removal: split every document into
    * non-overlapping `chunkTokens`-token chunks (the corpus has no line
    * structure, so fixed token spans stand in for C4's lines/sentences),
    * mark chunks appearing in ≥ `minDocs` DISTINCT documents as
    * boilerplate, and rebuild each document from its kept chunks in
    * original order. Emits per-document chunk counts and the md5 of the
    * cleaned text (engine-portable digest of the reassembly).
    *
    * Scale shape: one shuffle keyed on the chunk string to find the
    * boilerplate set (map-side combine collapses repeats), one join back
    * (the boilerplate set is corpus-frequency-bounded and usually
    * broadcast-able), one groupBy doc_id to reassemble. `collect_list`
    * order is nondeterministic by contract → `array_sort` on (pos,
    * chunk) before joining.
    */
  def boilerplateRemoval(documents: DataFrame, chunkTokens: Int = 5,
                         minDocs: Int = 2): DataFrame = {
    val c = chunkTokens
    val toks = wsTokens(col("text"))
    // ceil(n_tokens / c) chunks; split("") = [""] so every doc has ≥ 1
    val nChunks = expr(s"(size(split(text, ' ')) + ${c - 1}) div $c")
    val chunked = documents.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * c + 1, lit(c))))))
      .toDF("doc_id", "pos", "chunk")
    val boiler = chunked.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      .filter(col("n_docs_with") >= minDocs)
      .select(col("chunk"), lit(true).as("is_boiler"))
    chunked.join(boiler, Seq("chunk"), "left")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("is_boiler"), 1).otherwise(0)).cast("int").as("n_boiler"),
        // collect_list skips the null branch → only kept chunks land here
        md5(array_join(transform(
          array_sort(collect_list(when(!col("is_boiler"),
            struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk")), " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Rolling polynomial hash over the document's characters:
    * `acc = (acc * 31 + codepoint) mod 1e9+7` — the classic Rabin-Karp
    * fold, modular so ANSI mode can't overflow (acc*31 + 255 < 2^35).
    * Stays in codegen via higher-order `aggregate`; engine-portable
    * arithmetic (no murmur3), so DuckDB replicates it exactly with
    * `string_split(text,'') + list_reduce` → full oracle twin.
    */
  def rollingHash(documents: DataFrame): DataFrame = {
    val m = lit(1000000007L)
    documents.select(
      col("doc_id"),
      aggregate(
        transform(split(col("text"), ""), c => ascii(c).cast("long")),
        lit(0L),
        (acc, b) => pmod(acc * 31 + b, m)).as("rolling_hash"))
      .orderBy("doc_id")
  }

  /** Per-document token-distribution Shannon entropy — the information-
    * density quality signal (near-zero entropy = degenerate/repetitive
    * text; complements [[repetitionRatio]]). Computed as
    * `ln(n) - Σ c·ln(c) / n` over per-document token counts — the
    * algebraic form keeps every term a function of integer counts, so
    * both engines evaluate the identical doubles. One shuffle on
    * (doc_id, token) with map-side combine, then one on doc_id.
    */
  def tokenEntropy(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), explode(wsTokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(log(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")).cast("double"), 6).as("entropy"))
      .orderBy("doc_id")

  /** Deterministic non-NFC mess-up per document (the synthetic corpus
    * is pure ASCII, which is NFC by construction): docs ≡ 0 (mod 3)
    * get decomposed accents (`e`+U+0301) plus the U+212B ANGSTROM
    * singleton; docs ≡ 1 get zero-width chars (ZWSP/ZWNJ/BOM), a
    * control char, and a no-break space; docs ≡ 2 stay clean (the
    * must-not-change control group). Built from plain `concat` so the
    * DuckDB oracle reconstructs the identical byte sequence with
    * `chr()` — same fixture pattern as [[withSyntheticPii]].
    */
  def withSyntheticUnicode(documents: DataFrame): DataFrame =
    documents.withColumn("raw", concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        // "résumé from café Å" decomposed: e+COMBINING ACUTE (U+0301)
        // ×3 plus the ANGSTROM SIGN NFC singleton (U+212B → U+00C5)
        lit(" re\u0301sume\u0301 from cafe\u0301 \u212B"))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        // ZWSP / ZWNJ / BOM / BEL control / NBSP
        lit(" data\u200Bset\u200C final\uFEFF\u0007 list\u00A0item"))
      .otherwise(lit(""))))

  /** Unicode text normalization — the cleanup stage that runs before
    * any exact-hash operator (dedup keys, shingles, minhash) on a web
    * corpus, where the same visible text arrives in mixed byte forms:
    * NFC-normalize (native codegen expression
    * [[graft.functions.UnicodeNormalize]] — Spark ships no normalizer
    * built-in), strip zero-width/control characters, fold no-break
    * spaces into the whitespace collapse, trim. All three regex steps
    * use `\x{...}` escapes interpreted identically by Java regex and
    * RE2, so the DuckDB twin runs the same patterns on
    * `nfc_normalize()` output. One narrow projection at scan speed;
    * reports before/after char counts as the audit signal.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    val withRaw = withSyntheticUnicode(documents)
    val nfc = graft.functions.UnicodeNormalize.unicode_normalize(col("raw"))
    val stripped = regexp_replace(nfc,
      "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{0000}-\\x{0008}" +
        "\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]", "")
    val collapsed = trim(regexp_replace(stripped, "[\\s\\x{00A0}]+", " "))
    withRaw.select(
      col("doc_id"),
      collapsed.as("text_norm"),
      length(col("raw")).cast("int").as("n_chars_raw"),
      length(collapsed).cast("int").as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** Deterministic synthetic URL per document (the corpus has no URL
    * column): both engines build the identical string, so web-corpus
    * analytics stay oracle-checkable — same fixture pattern as
    * [[withSyntheticPii]].
    */
  def withSyntheticUrl(documents: DataFrame): DataFrame =
    documents.withColumn("url", concat(
      lit("https://"),
      element_at(typedlit(Seq("news.example.com", "blog.example.org",
        "wiki.example.net", "forum.example.io", "docs.example.dev")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
      lit("/"), col("lang"), lit("/page-"), col("doc_id").cast("string")))

  /** Per-domain corpus composition — the standard web-pipeline audit
    * (domain mix drives dedup and filtering policy): parse the host out
    * of the URL (Spark's `parse_url`; the oracle's regex twin extracts
    * the identical span) and aggregate docs/chars/langs per domain.
    * One shuffle on the domain key.
    */
  def domainStats(documents: DataFrame): DataFrame =
    withSyntheticUrl(documents)
      .withColumn("domain", parse_url(col("url"), lit("HOST")))
      .groupBy("domain").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("domain")

  /** Deterministic synthetic HTML per document (the corpus is plain
    * text): head with title + a script block, body with the text and a
    * bold tag around it — the same fixture pattern as
    * [[withSyntheticPii]]/[[withSyntheticUrl]], so markup stripping is
    * oracle-checkable AND round-trippable (strip ∘ wrap = identity on
    * the text, pinned in TextOpsSpec).
    */
  def withSyntheticHtml(documents: DataFrame): DataFrame =
    documents.withColumn("html", concat(
      lit("<html><head><title>Document "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var tracker = 1;</script>"),
      lit("<style>.p { margin: 0; }</style></head><body><p class=\"main\"><b>"),
      col("text"),
      lit("</b></p><div><a href=\"/next\">next page</a></div></body></html>")))

  /** Markup stripping — the web-extraction stage of a crawl pipeline:
    * drop script/style blocks WITH their content, drop every remaining
    * tag, collapse whitespace. Pure regexp built-ins (non-greedy block
    * matches work identically in Java regex and RE2), one narrow
    * projection at scan speed. Reports the removed-tag count as the
    * extraction-quality signal.
    */
  def stripMarkup(htmlDocs: DataFrame): DataFrame = {
    val noScript = regexp_replace(col("html"), "<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val clean = trim(regexp_replace(noTags, " +", " "))
    htmlDocs.select(
      col("doc_id"),
      clean.as("clean_text"),
      length(clean).as("n_chars_clean"),
      regexp_count(col("html"), lit("<[^>]+>")).as("n_tags"))
      .orderBy("doc_id")
  }

  /** Gopher-style composite quality-rule filter (Rae et al. 2021 §A1.1
    * — the published rule family behind most LLM-corpus cleaning): per
    * document, the rule signals and a `passes` verdict, each signal a
    * codegen'd built-in so the whole filter is one narrow projection —
    * at corpus scale this runs at scan speed with the (doc_id, text)
    * column pruning the plan already gets.
    *
    * Signals: word count bounds, mean word length band, symbol-to-word
    * ratio (`#`/`…`), bullet-line and ellipsis-line ratios, fraction of
    * words with an alphabetic character, and a minimum stop-word hit
    * count. Thresholds are the paper's, except `minWords` (the corpus
    * here is short-doc synthetic; the default splits it realistically).
    */
  def gopherRules(documents: DataFrame,
                  minWords: Int = 40, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletLineRatio: Double = 0.9, maxEllipsisLineRatio: Double = 0.3,
                  minAlphaWordRatio: Double = 0.8, minStopwordHits: Int = 2): DataFrame = {
    val words = wsTokens(col("text"))
    val nWords = size(words)
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWords
    val lines = split(col("text"), "\n")
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…")))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val stopHits = regexp_count(col("text"), lit("\\b(the|be|to|of|and|that|have|with)\\b"))
    documents.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(regexp_count(col("text"), lit("[#…]")).cast("double") / nWords, 4)
        .as("symbol_ratio"),
      round(bulletLines.cast("double") / nLines, 4).as("bullet_line_ratio"),
      round(ellipsisLines.cast("double") / nLines, 4).as("ellipsis_line_ratio"),
      round(alphaWords.cast("double") / nWords, 4).as("alpha_word_ratio"),
      stopHits.as("n_stopword_hits"),
      (nWords.between(minWords, maxWords) &&
        meanLen.between(minMeanWordLen, maxMeanWordLen) &&
        (regexp_count(col("text"), lit("[#…]")).cast("double") / nWords) <= maxSymbolRatio &&
        (bulletLines.cast("double") / nLines) <= maxBulletLineRatio &&
        (ellipsisLines.cast("double") / nLines) <= maxEllipsisLineRatio &&
        (alphaWords.cast("double") / nWords) >= minAlphaWordRatio &&
        stopHits >= minStopwordHits).as("passes"))
      .orderBy("doc_id")
  }

  /** Top PMI token pairs — corpus-level co-occurrence mining (the
    * collocation signal behind phrase detection in training-data
    * pipelines). Pairs are UNORDERED distinct-token pairs within a
    * document's first `maxTokens` tokens (bounding the per-doc pair
    * blow-up, the standard guard at corpus scale); PMI =
    * ln(N·c_ab / (c_a·c_b)) over doc-frequencies, reported for pairs
    * with c_ab ≥ `minPairDocs`, ranked by rounded PMI. Shuffles are
    * keyed on tokens/pairs with map-side combine throughout.
    */
  def pmiPairs(documents: DataFrame, maxTokens: Int = 40,
               minPairDocs: Int = 5, topN: Int = 20): DataFrame = {
    val toks = array_distinct(slice(wsTokens(col("text")), 1, maxTokens))
    val docToks = documents.select(col("doc_id"), toks.as("t"))
    val tokDf = docToks.select(explode(col("t")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_tok"))
    val pairs = docToks
      .select(col("doc_id"), explode(col("t")).as("tok_a"), col("t"))
      .select(col("doc_id"), col("tok_a"), explode(col("t")).as("tok_b"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minPairDocs)
    val n = documents.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(tokDf.select(col("token").as("tok_a"), col("c_tok").as("c_a")), "tok_a")
      .join(tokDf.select(col("token").as("tok_b"), col("c_tok").as("c_b")), "tok_b")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(col("n_docs").cast("double") * col("c_pair") /
        (col("c_a").cast("double") * col("c_b"))), 6))
      .select(col("tok_a"), col("tok_b"), col("c_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(topN)
  }

  /** Model-based quality scoring — the classifier-filter pipeline stage
    * (hashing-trick bag-of-words × linear weights, the fastText/CCNet
    * shape used to filter web corpora against a quality reference).
    * Deliberately SHUFFLE-FREE: each document folds its own token array
    * (`transform` + `aggregate` over codegen'd built-ins), so scoring
    * runs at scan speed and parallelizes embarrassingly — the property
    * that makes classifier filtering viable over 100 TB.
    *
    * Feature hashing uses the portable md5 family
    * ([[Dedup.md5HashLong]]): bucket = md5_60bit(token) mod `dim`.
    * Weights are integer milli-weights in [-998, 998] so the per-doc
    * accumulation is EXACT (a BIGINT sum — no float-order sensitivity,
    * engine-portable); the only floating step is one final division,
    * rounded. Score = Σ w(bucket(tok)) / (998·n_tokens) ∈ [-1, 1];
    * `kept` = integer sign test on the raw sum, so the filter decision
    * is exact.
    *
    * `weights` = None uses a deterministic pseudo-model
    * (w = (bucket·2654435761) mod 1997 − 998 — engine-portable integer
    * arithmetic, the stand-in for trained parameters, and the
    * oracle-matched regime). Real trained milli-weights drop in as an
    * `Array[Int]` of length `dim`: they ride the plan as an array
    * literal (broadcast to every executor once), and the lookup is an
    * `element_at` — still zero-shuffle, still codegen'd.
    */
  def classifierQualityScore(documents: DataFrame, dim: Int = 1024,
                             weights: Option[Array[Int]] = None): DataFrame =
    classifierTokenStats(documents, dim, weights)
      .filter(col("n_tokens") > 0)
      .orderBy("doc_id")

  /** [[classifierQualityScore]]'s per-doc frame INCLUDING zero-token
    * docs and WITHOUT the presentation sort — the shared ONE-
    * tokenization base for the curation funnels, which need the token
    * count of EVERY doc (stage sums) and the classifier verdict of the
    * scoreable ones (quality gate) and used to pay two full
    * tokenization passes for it (at 100 TB tokenization is a top-3
    * cost). The public operator is a filter + sort of this frame, so
    * the arithmetic cannot drift. Zero-token docs carry a NULL
    * quality_score (the ANSI divide-by-zero guard) and must stay
    * excluded from any `kept` read, exactly as the public filter does.
    */
  private[ext] def classifierTokenStats(documents: DataFrame, dim: Int = 1024,
                                        weights: Option[Array[Int]] = None): DataFrame = {
    require(weights.forall(w => w.length == dim && w.forall(x => math.abs(x) <= 998)),
      s"weights must be $dim milli-weights in [-998, 998]")
    val toks = filter(wsTokens(col("text")), t => t =!= "")
    val bucket = (t: Column) => pmod(Dedup.md5HashLong(t, 0), lit(dim))
    val w = (t: Column) => weights match {
      case Some(arr) => element_at(lit(arr), bucket(t).cast("int") + 1).cast("long")
      case None => pmod(bucket(t) * lit(2654435761L), lit(1997L)) - lit(998L)
    }
    documents.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      aggregate(toks, lit(0L), (acc, t) => acc + w(t)).as("sum_milli"))
      .select(
        col("doc_id"), col("n_tokens"),
        // ANSI division-by-zero guard: zero-token docs carry a NULL
        // score (they are excluded from every `kept` read anyway)
        when(col("n_tokens") > 0,
          round(col("sum_milli").cast("double") / (col("n_tokens") * 998.0), 6))
          .as("quality_score"),
        (col("sum_milli") >= 0).cast("int").as("kept"))
  }

  /** Deterministic exact-duplicate-text fixture (the corpus texts are
    * all distinct): every doc with `doc_id % 7 == 3` takes its
    * PREDECESSOR's original text, planting ~1/7 of the corpus as exact
    * text duplicates — the text analogue of
    * [[graft.ext.WebOps.withSyntheticCrawlUrl]]'s planted URL
    * re-crawls. The donor reads the ORIGINAL text (never a donated
    * one), so duplicate groups are exactly the {id−1, id} pairs and the
    * closed form replays in SQL. One equi-join on doc_id−1; everything
    * else narrow.
    */
  def withSyntheticDupText(documents: DataFrame): DataFrame = {
    val donor = documents.select(col("doc_id").as("donor_id"),
      col("text").as("donor_text"))
    documents.join(donor, col("doc_id") - 1 === col("donor_id"), "left")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7L)) === 3 && col("donor_text").isNotNull,
          col("donor_text")).otherwise(col("text")))
      .drop("donor_id", "donor_text")
  }
}
