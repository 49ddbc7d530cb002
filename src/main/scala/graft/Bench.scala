package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // ERROR, not WARN: the driver parses this process's output for the
    // one metric JSON line, and stray WARN lines (a BlockManager
    // re-add, a large-task-binary note) have broken that parse before.
    // The operators themselves are WARN-clean (verified per round); the
    // bench stream stays machine-readable regardless.
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warmup: JIT + codegen caches + file-system cache, so the
    // first timed query doesn't absorb JVM start-up costs. The synthetic
    // query touches the machinery the real queries use (broadcast join,
    // window, decimal aggregate) without reading any table twice.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      val t = spark.range(1000L).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS d")
      t.join(broadcast(spark.range(7L).selectExpr("id AS k")), "k")
        .groupBy("k").agg(sum(col("d").cast("decimal(18,2)")).as("s"))
        .selectExpr("k", "s", "row_number() OVER (PARTITION BY k ORDER BY s) AS rn")
        .collect()
    }
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // A failed query is reported as -1 (NOT its wall-clock-to-failure,
    // which would read as a fast success) and excluded from the total;
    // failed names are also listed under "failed".
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run for local iteration;
    // the driver leaves it unset and gets every query. The active filter
    // and any names it did NOT match are echoed into the JSON, so a
    // partial run (or a typo'd query name) is self-identifying instead
    // of masquerading as a fast full run.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    // Per-run wall times on this box vary up to ±40% with machine
    // contention (BENCH_r03 was 2× BENCH_r02 on identical code), so each
    // query is timed SPARK_GRAFT_RUNS times (default 3) and the MINIMUM
    // — the stable low-noise estimator — is reported.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").filter(_.trim.nonEmpty)
      .map(_.trim.toInt).filter(_ > 0).getOrElse(3)
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = only.map(_.diff(allNames.toSet)).getOrElse(Set.empty).toSeq.sorted
    val names = allNames.filter(n => only.forall(_.contains(n)))
    // untimed fixture materialization: the media queries read stored
    // payload tables (MediaFixtures parquet sidecars); encoding those
    // fixtures is setup, not the operator under test, so it happens
    // here — before any timing — and the timed bodies are plain scans.
    // ensureFor also page-warms the payload bytes (a metadata-only
    // count would leave them cold when the sidecar pre-exists).
    MediaFixtures.ensureFor(spark, sfDir, names)
    // codec JIT warm-up: decode a handful of payloads per modality so
    // the FIRST timed media sample measures the operator, not the
    // interpreter-mode cost of the first-ever PNG/WAV/GVID decode
    locally {
      val ks = names.flatMap(MediaFixtures.queryKinds.getOrElse(_, Nil)).distinct
      ks.find(_.startsWith("png")).foreach(k => ext.Multimodal.imageDhash(spark,
        MediaFixtures.table(spark, sfDir, k).limit(64)).count())
      // jpeg is its own codec (lossy DCT path, not PngCodec) — the png
      // warm-up above never selects it
      ks.find(_ == "jpeg").foreach(k => ext.Multimodal.decodeImageFeatures(spark,
        MediaFixtures.table(spark, sfDir, k).limit(64)).count())
      ks.find(_.startsWith("wav")).foreach(k => ext.Multimodal.audioEhash(spark,
        MediaFixtures.table(spark, sfDir, k).limit(64)).count())
      ks.find(_.startsWith("video")).foreach(k => ext.Multimodal.videoPhash(spark,
        MediaFixtures.table(spark, sfDir, k).limit(64)).count())
    }
    // heavy-composition warm pass: the multi-stage curation/ingest
    // compositions build plans no other query shares (dozens of
    // shuffle-map stages + their own codegen units), so their FIRST
    // execution pays one-off JIT/shuffle-service warmth the r11 spreads
    // showed as 2-3x first-sample cliffs ([7.7, 25.9] on
    // q_media_ingest_audit_prod) — costs min-of-3 can absorb but that
    // make the committed [min, max] spreads meaningless for exactly the
    // queries worth watching. ONE untimed execution each, before any
    // timing, so every timed sample measures a warm plan.
    locally {
      val heavy = Seq("q_media_curation_report", "q_media_curation_report_prod",
        "q_media_ingest_audit", "q_media_ingest_audit_prod",
        "q_multimodal_funnel", "q_multimodal_funnel_prod",
        "q_curation_funnel", "q_curation_report", "q_doc_ingest_audit",
        "q_doc_ingest_chain", "q_embedding_ingest_chain")
      heavy.filter(names.contains).foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.count()
          df.unpersist(blocking = true)
        } catch { case _: Throwable => () }
      }
    }
    // INTERLEAVED min-of-N: full passes over every query, not N
    // back-to-back runs per query. Contention on this box arrives in
    // ~minute-long windows; back-to-back runs let one window poison all
    // N samples of a single query (observed: 0.8s -> 21.6s on
    // q_minhash_neardup), while interleaving spaces a query's samples
    // ~a full pass apart so the minimum sees a clean window.
    // Every query attempts every pass, even after a failure: a
    // transient contention-induced error in pass 2 must not discard a
    // valid pass-1 sample (reported value = best SUCCESSFUL sample;
    // -1 only for queries that never completed, listed under "failed";
    // intermittent failures surface under "flaky" with a count).
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val failCount = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def timeOne(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = dt :: samples(name)
        // operators that persist their result hand ownership to the
        // caller; release it so cached frames from earlier queries
        // don't squeeze executor memory and distort later timings
        df.unpersist(blocking = true)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        failCount(name) += 1
      }
    }
    for (r <- 0 until runs; name <- names) timeOne(name)
    // Contention-adaptive top-up: a max/min spread over 3x means at
    // least one pass sat in a host-contention window — and with minute-
    // long windows even the min of 3 interleaved samples can be
    // inflated (r6: q_star_join min 1.75s in-suite vs 0.73s quiet-host).
    // One extra sample per wide-spread query, taken AFTER the sweep (a
    // different time window), gives the minimum another clean shot. The
    // 50 ms floor keeps sub-100ms queries' fixed-cost jitter from
    // triggering top-ups.
    val suspects = names.filter { n =>
      val s = samples(n)
      s.nonEmpty && s.min > 0.05 && s.max / s.min > 3.0
    }
    suspects.foreach(timeOne)
    val results = names.map(n => n ->
      (if (samples(n).isEmpty) -1.0 else samples(n).min))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val flaky = names.collect { case n if failCount(n) > 0 && samples(n).nonEmpty =>
      s"\"" + n + "\":" + failCount(n) }.mkString("{", ",", "}")
    // per-query [min, max] across the interleaved passes: a poisoned
    // sample (host-contention window inflating one pass) shows up as a
    // wide spread instead of masquerading as a regression
    val spread = names.collect { case n if samples(n).nonEmpty =>
      s"\"" + n + "\":[" + samples(n).min + "," + samples(n).max + "]" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val onlyJson = only.map(_.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .getOrElse("null")
    val unmatchedJson = unmatched.map("\"" + _ + "\"").mkString("[", ",", "]")
    val toppedUp = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness that captures this run keeps only the LAST 2000
    // characters of stdout, and the full per-query JSON outgrew that
    // window long ago — so the complete record goes to a file and
    // stdout gets a compact line that provably fits the window.
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"failed":$failed,"flaky":$flaky,"spread":$spread,"topped_up":$toppedUp,"only":$onlyJson,"unmatched":$unmatchedJson,"sf":"$sfDir"}"""
    // a filtered run writes to a sidecar so a quick SPARK_GRAFT_ONLY
    // re-measure can never clobber the committed full-sweep record
    // (observed: a 1-query re-bench silently replaced the 145-query
    // record between sweep and commit)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (only.isDefined) "BENCH_FULL.partial.json" else "BENCH_FULL.json")
    locally {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    }
    // Compact line: aggregates plus as many of the SLOWEST queries as
    // fit a fixed character budget — the slow tail is what regression
    // tracking needs; the full map is in `full`. %.3f keeps every
    // entry short; the 1600-char budget leaves headroom for the log
    // prefix and the build-tool epilogue inside the 2000-char window.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val flakyN = names.count(n => failCount(n) > 0 && samples(n).nonEmpty)
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"n_queries":${names.size},"n_ok":${results.count(_._2 >= 0)},"failed":$failed,"flaky_n":$flakyN,"topped_up_n":${suspects.size},"only":$onlyJson,"unmatched":$unmatchedJson,"full":"$fullPath","sf":"$sfDir","queries":{"""
    val slowestFirst = results.filter(_._2 >= 0).sortBy(-_._2)
    val qsb = new StringBuilder
    // stop at the FIRST piece that doesn't fit: appending later,
    // shorter-named queries after skipping a slower one would make the
    // summary not a true slowest-first prefix
    val it = slowestFirst.iterator
    var fits = true
    while (fits && it.hasNext) {
      val (k, v) = it.next()
      val piece = (if (qsb.nonEmpty) "," else "") + "\"" + k + "\":" + fmt(v)
      if (head.length + qsb.length + piece.length + 2 <= 1600) qsb.append(piece)
      else fits = false
    }
    println(head + qsb + "}}")
    spark.stop()
  }
}
