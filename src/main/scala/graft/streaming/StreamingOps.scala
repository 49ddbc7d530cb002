package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch event-time operators
  * (graft.ext.Events): watermarked tumbling-window aggregation and
  * stateful gap sessionization via flatMapGroupsWithState.
  *
  * The reference is batch-only (SURVEY §2.9) — this is extension surface
  * for the streaming capability. Both operators are incremental and
  * partition by their natural key (window bucket / user), so state is
  * bounded by watermark and scales out with executors.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(start: Long, end: Long, n: Long, sum: Double)

  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Long, sum_value: Double)

  /** Watermarked 1-hour counts per event_type. Late rows beyond the
    * watermark are dropped; output mode `update`/`append` both work
    * (append emits once the watermark passes the window end). With a
    * `slide` shorter than the window this becomes the sliding/hopping
    * form — each event lands in length/slide overlapping windows, the
    * streaming twin of `ext.Events.slidingWindows` (equivalence-tested).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     slide: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark` — state for an id is evictable
    * once the watermark passes its event time, which is what makes
    * streaming dedup feasible on an unbounded stream).
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming canonical-URL dedup — the online twin of
    * [[graft.ext.WebOps.urlDedup]] for a live crawl feed. Each arriving
    * fetch record is canonicalized with the SAME pure projection as the
    * batch operator (so online and offline keep-decisions agree), then
    * only the FIRST record per canonical URL within the watermark
    * horizon survives ("first fetch wins"). State is keyed by
    * canonical_url and evicted as the watermark advances — the bounded-
    * state contract that makes an indefinite crawl runnable; refetches
    * separated by more than the horizon re-emit by design (they ARE
    * refetches at crawl timescales).
    */
  def urlDedupStream(fetches: DataFrame, watermark: String = "10 minutes",
                     urlCol: String = "url"): DataFrame =
    graft.ext.WebOps.canonicalizeUrl(fetches, urlCol)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** Streaming perceptual image dedup — the ONLINE twin of
    * [[graft.ext.Multimodal.imageNearDupIncremental]] for a live image
    * ingest feed. Each arriving image is decoded to its 63-bit dHash in
    * the same narrow per-partition batch stage as the batch path (the
    * image bytes never enter state and never cross a shuffle), then:
    *
    *  1. exact-fingerprint repeats within the watermark horizon are
    *     dropped (state keyed on the dhash, watermark-evicted — the
    *     bounded-state contract), and
    *  2. survivors run the SAME pigeonhole banding as the batch path
    *     against the STORED corpus hash table — a stream-STATIC join,
    *     so the stored side is yesterday's (doc_id, dhash) table and is
    *     never re-decoded.
    *
    * Emits the near-dup matches `(doc_id, ts, dhash, stored_dup_of,
    * hamming)` — one row per (new image, DISTINCT stored fingerprint)
    * within `maxHamming`, multi-band hits collapsed (the streaming
    * analogue of the batch path's pair `distinct()`). New-vs-new
    * near-dups inside the stream (beyond exact-hash repeats, which
    * step 1 catches) are the batch path's job at the next compaction —
    * the same division of labor as incremental batch ingest.
    *
    * The stored side is pre-aggregated to DISTINCT hashes with the
    * min-doc_id exemplar as `stored_dup_of` before banding: this is the
    * always-on path, and a degenerate stored corpus (M flat images all
    * sharing the zero dHash) would otherwise make every flat arrival
    * join M rows — per-arrival output and shuffle-read proportional to
    * a corpus that grows daily. Collapsed, the join is bounded by the
    * number of DISTINCT stored fingerprints in the arrival's Hamming
    * ball, the is-dup verdict is unchanged, and the exemplar is the
    * same deterministic min-id representative the batch family keeps.
    */
  def imageDedupStream(spark: SparkSession, images: DataFrame,
                       storedHashes: DataFrame, maxHamming: Int = 6,
                       watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * 63 / nb)
    def bandCols(dhashCol: String) = (0 until nb).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = (1L << width) - 1L
      shiftright(col(dhashCol), lo).bitwiseAND(mask)
    }
    val hashed = images.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(it => it.map { case (id, png, t) =>
        (id, graft.ext.Multimodal.dhashOf(png), t)
      })
      .toDF("doc_id", "dhash", "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("dhash")
    val streamBands = hashed.select(col("doc_id"), col("dhash"), col("ts"),
      posexplode(array(bandCols("dhash"): _*)))
      .toDF("doc_id", "dhash", "ts", "band_idx", "band_val")
    val storedBands = storedHashes
      .groupBy(col("dhash").as("stored_dhash"))
      .agg(min(col("doc_id")).as("stored_dup_of"))
      .select(col("stored_dup_of"), col("stored_dhash"),
        posexplode(array(bandCols("stored_dhash"): _*)))
      .toDF("stored_dup_of", "stored_dhash", "band_idx", "band_val")
    streamBands.join(storedBands, Seq("band_idx", "band_val"))
      .select(col("doc_id"), col("ts"), col("dhash"), col("stored_dup_of"),
        bit_count(col("dhash").bitwiseXOR(col("stored_dhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark("doc_id", "stored_dup_of")
  }

  /** Streaming perceptual AUDIO dedup — the online twin of
    * [[graft.ext.Multimodal.audioNearDupIncremental]], mirroring
    * [[imageDedupStream]] for a live clip ingest feed: WAV decode +
    * 63-bit energy-difference hash in one narrow per-partition stage
    * (audio bytes never enter state), exact-fingerprint repeats dropped
    * within the watermark horizon (state keyed on the ehash), then the
    * shared pigeonhole banding against the STORED corpus eHash table as
    * a stream-STATIC join (the stored side is never re-decoded). Emits
    * `(doc_id, ts, ehash, stored_dup_of, hamming)` per match,
    * multi-band hits collapsed. As in [[imageDedupStream]], the stored
    * side is pre-aggregated to DISTINCT eHashes with the min-doc_id
    * exemplar, so a degenerate stored corpus (M silent clips sharing
    * the zero eHash) costs one joined row per arrival, not M.
    *
    * Collapse semantics (deliberately lossy, as in the image twin): the
    * exact-repeat drop keys on the eHash ALONE, so a clip whose eHash
    * collides with an earlier in-stream clip is suppressed even when it
    * would also have matched a stored clip — the stream reports each
    * distinct fingerprint's stored verdict once per watermark horizon,
    * not once per document. Per-document attribution is the batch
    * path's job at the next compaction.
    */
  def audioDedupStream(spark: SparkSession, clips: DataFrame,
                       storedHashes: DataFrame, maxHamming: Int = 6,
                       watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * 63 / nb)
    def bandCols(hashCol: String) = (0 until nb).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = (1L << width) - 1L
      shiftright(col(hashCol), lo).bitwiseAND(mask)
    }
    val hashed = clips.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(it => it.map { case (id, wav, t) =>
        (id, graft.ext.Multimodal.ehashOf(
          graft.ext.Multimodal.WavCodec.decode(wav)._2), t)
      })
      .toDF("doc_id", "ehash", "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("ehash")
    val streamBands = hashed.select(col("doc_id"), col("ehash"), col("ts"),
      posexplode(array(bandCols("ehash"): _*)))
      .toDF("doc_id", "ehash", "ts", "band_idx", "band_val")
    val storedBands = storedHashes
      .groupBy(col("ehash").as("stored_ehash"))
      .agg(min(col("doc_id")).as("stored_dup_of"))
      .select(col("stored_dup_of"), col("stored_ehash"),
        posexplode(array(bandCols("stored_ehash"): _*)))
      .toDF("stored_dup_of", "stored_ehash", "band_idx", "band_val")
    streamBands.join(storedBands, Seq("band_idx", "band_val"))
      .select(col("doc_id"), col("ts"), col("ehash"), col("stored_dup_of"),
        bit_count(col("ehash").bitwiseXOR(col("stored_ehash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicatesWithinWatermark("doc_id", "stored_dup_of")
  }

  /** Streaming perceptual VIDEO dedup — the online twin of
    * [[graft.ext.Multimodal.videoNearDupIncremental]], completing the
    * streaming cell for every modality. Each arriving container is
    * probed, selectively decoded, and hashed to its k-slot signature in
    * one narrow stage (video bytes never enter state); exact-signature
    * repeats are dropped within the watermark horizon (state keyed on a
    * hex digest of the slot hashes); then the slot-pigeonhole banding
    * runs against the STORED per-slot hash table as a stream-STATIC
    * join — but unlike the single-hash modalities, the verify step
    * needs the PAIR's total Hamming over all k slots, so both sides
    * carry their full signature array and the total folds in-row
    * (`zip_with` + `aggregate`) at match time: no streaming aggregation,
    * no extra state. Emits `(doc_id, ts, stored_dup_of, total_hamming)`
    * per match, multi-slot hits collapsed.
    *
    * A video where any wanted slot frame cannot be decoded (zero-frame
    * or truncated container) emits NOTHING — mirroring the batch twin
    * [[graft.ext.Multimodal.videoPhash]], which drops missing slots, so
    * stream and batch agree on degenerate input instead of the stream
    * fabricating an all-zero signature that matches every stored flat
    * video. And as in the other modalities, the stored side is
    * pre-aggregated to DISTINCT signatures with the min-doc_id
    * exemplar, so M stored copies of one video cost one joined row per
    * arrival, not M.
    */
  def videoDedupStream(spark: SparkSession, videos: DataFrame,
                       storedSlotHashes: DataFrame, k: Int = 4,
                       maxTotalHamming: Int = 3,
                       watermark: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    require(maxTotalHamming >= 0 && maxTotalHamming < k,
      s"pigeonhole banding needs maxTotalHamming in [0, k=$k): $maxTotalHamming")
    val hashed = videos.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions { it =>
        it.flatMap { case (id, gvid, t) =>
          val (_, n) = graft.ext.Multimodal.VideoCodec.probe(gvid)
          val slotFrames = (0 until k).map(j => j * n / k)
          val hs = graft.ext.Multimodal.VideoCodec
            .decodeFrames(gvid, slotFrames.distinct)
            .map { case (f, png) => f -> graft.ext.Multimodal.dhashOf(png) }.toMap
          // a wanted slot with no decodable frame => no signature, no
          // emission (the batch twin's collect-on-contains behavior)
          if (slotFrames.forall(hs.contains)) {
            val sig = slotFrames.map(hs(_))
            Some((id, sig, sig.map(_.toHexString).mkString(":"), t))
          } else None
        }
      }
      .toDF("doc_id", "sig", "sig_key", "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sig_key")
    val streamBands = hashed.select(col("doc_id"), col("sig"), col("ts"),
      posexplode(col("sig")))
      .toDF("doc_id", "sig", "ts", "slot", "dhash")
    val storedSigs = storedSlotHashes
      .groupBy(col("doc_id").as("stored_dup_of"))
      .agg(array_sort(collect_list(struct(col("slot"), col("dhash"))))
        .as("pairs"))
      .select(col("stored_dup_of"),
        expr("transform(pairs, p -> p.dhash)").as("stored_sig"))
      // distinct signatures only, min-id exemplar: bounds the join by
      // distinct stored content, not stored corpus size
      .groupBy("stored_sig")
      .agg(min(col("stored_dup_of")).as("stored_dup_of"))
    val storedBands = storedSigs.select(col("stored_dup_of"), col("stored_sig"),
      posexplode(col("stored_sig")))
      .toDF("stored_dup_of", "stored_sig", "slot", "dhash")
    streamBands.join(storedBands, Seq("slot", "dhash"))
      .select(col("doc_id"), col("ts"), col("stored_dup_of"),
        expr("""aggregate(zip_with(sig, stored_sig,
                 (a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x)""")
          .cast("int").as("total_hamming"))
      .filter(col("total_hamming") <= maxTotalHamming)
      .dropDuplicatesWithinWatermark("doc_id", "stored_dup_of")
  }

  /** Streaming junk-media gates — the ONLINE twins of the batch
    * quality gates ([[graft.ext.Multimodal.imageQualityStats]] /
    * `audioQualityStats` / `videoQualityStats`), completing the
    * streaming × gate cell for every modality. The gates are STATELESS
    * (each verdict is a pure function of one payload), so the batch
    * arithmetic applies per micro-batch verbatim: one narrow decode
    * stage per arrival, no watermark, no state store — the cheapest
    * possible streaming operator, which is exactly why a live ingest
    * runs the gate FIRST (junk never reaches the stateful dedup
    * operators downstream). Emits `(doc_id, ts, …stats…, flags)`;
    * filter on the flag to route. Payload bytes never leave the decode
    * stage.
    */
  def imageQualityGateStream(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(it => it.map { case (id, png, t) =>
        val s = graft.ext.Multimodal.statsOfImage(
          graft.ext.Multimodal.PngCodec.decode(png))
        (id, t, s.w, s.h, s.nDistinctLuma, s.nDistinctLuma == 1)
      })
      .toDF("doc_id", "ts", "width", "height", "n_distinct_luma", "is_flat")
  }

  def audioQualityGateStream(spark: SparkSession, clips: DataFrame,
                             clipThreshold: Int = 1000,
                             silenceThreshold: Int = 50): DataFrame = {
    import spark.implicits._
    clips.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(it => it.map { case (id, wav, t) =>
        val s = graft.ext.Multimodal.statsOfSamples(
          graft.ext.Multimodal.WavCodec.decode(wav)._2,
          clipThreshold, silenceThreshold)
        (id, t, s.n, s.nClipped, s.nSilent, s.isClipped, s.isQuiet)
      })
      .toDF("doc_id", "ts", "n_samples", "n_clipped", "n_silent",
        "is_clipped", "is_quiet")
  }

  def videoQualityGateStream(spark: SparkSession, videos: DataFrame): DataFrame = {
    import spark.implicits._
    videos.select(col("doc_id"), col("payload"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(it => it.map { case (id, gvid, t) =>
        val (_, frames) = graft.ext.Multimodal.VideoCodec.decode(gvid)
        var flatFrames = 0
        val hashes = new java.util.HashSet[Long]()
        frames.foreach { png =>
          val img = graft.ext.Multimodal.PngCodec.decode(png)
          val s = graft.ext.Multimodal.statsOfImage(img)
          if (s.nDistinctLuma == 1) flatFrames += 1
          hashes.add(graft.ext.Multimodal.dhashOfImage(img))
        }
        val n = frames.length
        (id, t, n, flatFrames, hashes.size,
          n > 0 && hashes.size == 1, n > 0 && flatFrames == n)
      })
      .toDF("doc_id", "ts", "n_frames", "n_flat_frames", "n_distinct_hashes",
        "is_static", "is_flat")
  }

  /** Stream-stream inner join with event-time bounds: match each left
    * event to right events of the same user within `windowMinutes` AFTER
    * it. Both sides are watermarked so Spark can bound the join state
    * (left rows expire once the right watermark passes their window) —
    * the state-eviction contract that makes stream-stream joins runnable
    * indefinitely.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       watermark: String = "10 minutes",
                       windowMinutes: Int = 60): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.selectExpr("event_id AS l_id", "ts AS l_ts", "user_id AS l_user")
      .withWatermark("l_ts", watermark)
    val r = right.selectExpr("event_id AS r_id", "ts AS r_ts", "user_id AS r_user")
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"""l_user = r_user AND r_ts > l_ts AND
         |r_ts <= l_ts + INTERVAL $windowMinutes MINUTES""".stripMargin))
      .selectExpr("l_id", "r_id", "l_user AS user_id")
  }

  /** Upsert sink: stream an update-mode aggregation into a parquet
    * target via `foreachBatch` — each micro-batch REPLACES the target
    * rows whose keys it contains (merge/upsert), so the target always
    * holds the latest value per key. This is the file-based upsert
    * pattern for sinks without native MERGE support.
    *
    * Crash safety: the merged table is written to a fresh staging
    * directory next to the target, then swapped in with Hadoop
    * FileSystem renames — the delete-then-rename window is the only
    * non-atomic instant, and a crash inside it leaves the fully-written
    * staging dir on disk for manual recovery (vs the naive overwrite,
    * which loses the whole target if the job dies mid-write). All path
    * checks go through the Hadoop FS API so the sink works on any
    * supported filesystem, not just file://. On a system with true
    * atomic namespace swaps (HDFS rename to a live path is atomic;
    * object stores are not) this is exactly-once per micro-batch
    * combined with the checkpointed batch id.
    */
  /** The daily media-ingest loop as a LIVE stream — the Structured-
    * Streaming twin of [[graft.ext.Curation.ingestDayFold]]: each
    * micro-batch of arrivals (`doc_id`, `image`, `audio`, `video`
    * payload columns) is one "day" — audited against the fingerprints
    * of every PRIOR day, its verdicts landed under `auditDir/day=N`,
    * and its kept docs' fingerprints folded into the day-partitioned
    * store for the next batch. All the work is
    * [[graft.ext.Curation.ingestStreamDay]] with `day` = micro-batch
    * id; this wrapper only supplies the replay contract:
    *
    *   - foreachBatch re-delivers a batch whose commit crashed before
    *     the checkpoint advanced, so every write inside is keyed by
    *     the batch id and OVERWRITES its own partition — replays
    *     replace, never duplicate (pinned in StreamingOpsSpec by
    *     re-running a day against its own committed output);
    *   - the store read prunes to `day < N`, so a replay never sees
    *     its first attempt's fold (self-dup flags) and restart-from-
    *     checkpoint resumes with exactly the store the failed batch
    *     saw.
    *
    * State lives entirely in the parquet store, not the state store —
    * the stream restarts from checkpoint + store alone, and the store
    * is the same artifact batch backfills ([[graft.ext.Curation.ingestStreamDay]]
    * called directly) and compaction
    * ([[graft.ext.Curation.ingestStoreCompact]]) operate on. Payload
    * bytes never enter streaming state and never cross a shuffle.
    */
  def mediaIngestStream(media: DataFrame, storeDir: String, auditDir: String,
                        checkpoint: String, maxHamming: Int = 6, k: Int = 4,
                        maxTotalHamming: Int = 3, maxBandBucket: Int = -1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, day: Long) =>
        graft.ext.Curation.ingestStreamDay(batch.sparkSession, batch, day,
          storeDir, auditDir, maxHamming, k, maxTotalHamming, maxBandBucket)
      }
      .start()

  /** The daily TEXT-ingest loop as a live stream — the document twin
    * of [[mediaIngestStream]]: each micro-batch of arrivals (`doc_id`,
    * `text`, `url`) is one "day", audited by
    * [[graft.ext.Curation.docIngestStreamDay]] against the
    * day-partitioned fingerprint store (canonical urls, text md5s,
    * MinHash signatures — never text), with the same replay contract:
    * overwrite-by-day writes and `day < N` store reads make foreachBatch
    * re-deliveries replace their own partial output.
    */
  def docIngestStream(docs: DataFrame, storeDir: String, auditDir: String,
                      checkpoint: String, k: Int = 5, numHashes: Int = 16,
                      numBands: Int = 8, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, day: Long) =>
        graft.ext.Curation.docIngestStreamDay(batch.sparkSession, batch, day,
          storeDir, auditDir, k, numHashes, numBands, threshold)
      }
      .start()

  /** The daily EMBEDDING-ingest loop as a live stream — the vector twin
    * of [[docIngestStream]]: each micro-batch of arrivals (`vec_id`,
    * `embedding`) is one "day", audited by
    * [[graft.ext.Similarity.embeddingIngestStreamDay]] against the
    * day-partitioned int8-code store (codes, never floats), with the
    * same replay contract: overwrite-by-day writes and `day < N` store
    * reads make foreachBatch re-deliveries replace their own partial
    * output.
    */
  def embeddingIngestStream(vecs: DataFrame, storeDir: String, auditDir: String,
                            checkpoint: String, threshold: Double = 0.35)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, day: Long) =>
        graft.ext.Similarity.embeddingIngestStreamDay(batch.sparkSession, batch,
          day, storeDir, auditDir, threshold)
      }
      .start()

  /** Live maintenance of the IVF inverted file
    * ([[graft.ext.Similarity.ivfIndexStreamDay]] per micro-batch day):
    * the only state a day touches is the nList-row centroid table, so
    * the stream is exactly-once with NO store reads — replays rewrite
    * their own day partition with identical facts. The probe path
    * unions [[graft.ext.Similarity.ivfIndexStoreAssignments]] with
    * [[graft.ext.Similarity.ivfIndexReadDayAssignments]].
    */
  def ivfIndexIngestStream(vecs: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, day: Long) =>
        graft.ext.Similarity.ivfIndexStreamDay(batch.sparkSession, batch,
          day, indexDir)
      }
      .start()

  /** Live maintenance of the LEXICAL index
    * ([[graft.ext.TextOps.bm25IndexStreamDay]] per micro-batch day):
    * a day's postings, per-token df, and stats row are pure functions
    * of the batch (the only store state read is the one-row
    * `corpus_stats`, for the pinned bucketing), written
    * overwrite-by-day — replays rewrite their own partitions with
    * identical facts, the [[ivfIndexIngestStream]] contract on text.
    * Probes serve from consolidated ∪ day artifacts;
    * [[graft.ext.TextOps.bm25IndexCompact]] folds days in.
    */
  def bm25IngestStream(docs: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, day: Long) =>
        graft.ext.TextOps.bm25IndexStreamDay(batch.sparkSession, batch,
          day, indexDir)
      }
      .start()

  def upsertParquetSink(agg: DataFrame, targetPath: String, keyCols: Seq[String],
                        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val fs = target.getFileSystem(hconf)
        val b = batch.localCheckpoint(true)
        val merged =
          if (fs.exists(target)) {
            val cur = spark.read.parquet(targetPath).localCheckpoint(true)
            cur.join(b.select(keyCols.map(batch(_)): _*), keyCols, "left_anti")
              .unionByName(b)
          } else b
        val staging = new org.apache.hadoop.fs.Path(
          target.getParent, s".${target.getName}.staging-$batchId")
        fs.delete(staging, true)
        merged.write.mode("overwrite").parquet(staging.toString)
        fs.delete(target, true)
        if (!fs.rename(staging, target))
          throw new java.io.IOException(s"rename $staging -> $target failed")
        ()
      }
      .start()

  /** Streaming anomaly alerts — the "train offline, score online"
    * split of [[graft.ext.Events.hourlySpikes]]: finalized hourly
    * windows (append mode — a window emits once the watermark passes
    * its end) are scored in `foreachBatch` against REFERENCE per-type
    * statistics computed offline by the batch twin
    * ([[graft.ext.Events.hourlyStats]] over the historical corpus), and
    * crossing windows are appended to `alertPath`. The reference stats
    * are broadcast (types×2 doubles), so scoring adds no shuffle to the
    * stream; the z-score is rounded before the threshold exactly like
    * the batch form, so an alert here IS a row the batch detector would
    * flag over the same hour.
    */
  def spikeAlerts(counts: DataFrame, refStats: DataFrame, alertPath: String,
                  checkpoint: String, zThreshold: Double = 2.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    counts.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val alerts = batch
          .join(broadcast(refStats), "event_type")
          .withColumn("z", round((col("n_events") - col("m")) / col("sd"), 4))
          .filter(abs(col("z")) >= zThreshold)
          .select(col("event_type"), col("window_start"), col("n_events"), col("z"))
        alerts.write.mode("append").parquet(alertPath)
        ()
      }
      .start()

  /** Watermarked tumbling windows with APPROXIMATE distinct users per
    * window via the graft HLL sketch ([[graft.functions.HllSketch]], a
    * TypedImperativeAggregate): the sketch's partial buffers merge under
    * Spark's incremental state-store aggregation exactly like sum/count
    * partials, so an unbounded stream gets distinct counts in O(2^p)
    * state per window instead of one state row per distinct user — the
    * only shape that survives billions of distinct keys per day.
    * Batch twin: the same expression over the same data (equality tested
    * in StreamingOpsSpec).
    */
  def windowedDistinctUsers(events: DataFrame, watermark: String = "10 minutes",
                            p: Int = 14): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.HllSketch.hll_distinct(col("user_id"), p)
        .as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("approx_users"))
  }

  /** Streaming trending items: per hourly window, the Misra–Gries
    * frequent-items counters over `event_type` — the "what's trending
    * right now" operator. Same bounded-state shape as
    * [[windowedDistinctUsers]]: the MG buffer (≤ `capacity` counters)
    * is the ONLY per-window state however many distinct items flow
    * through, and its merge rule makes incremental batch-by-batch
    * accumulation equal a single pass whenever distinct items stay
    * below capacity (the exactness regime, equality tested against the
    * batch twin in StreamingOpsSpec).
    */
  def windowedTopItems(events: DataFrame, watermark: String = "10 minutes",
                       capacity: Int = 64): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.FreqSketch.mg_topk(col("event_type"), capacity)
        .as("top_items"))
      .select(col("window.start").as("window_start"), col("top_items"))
  }

  /** Streaming latency/value percentiles: per hourly window, p50/p99 of
    * the event value in integer cents via the
    * [[graft.functions.QuantileSketch]] aggregate. Same bounded-state
    * shape as the other sketch twins — the ≤ k-entry buffer is the only
    * per-window state — and because the sketch's merge is bit-identical
    * to a single pass IN ANY ORDER (even past capacity), incremental
    * batch-by-batch accumulation across micro-batches equals the batch
    * computation unconditionally, not just below capacity (equality
    * tested against the batch twin in StreamingOpsSpec).
    */
  def windowedValueQuantiles(events: DataFrame, watermark: String = "10 minutes",
                             k: Int = 4096): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        graft.functions.QuantileSketch.qsk_quantile(cents, k, 0.5).as("p50_cents"),
        graft.functions.QuantileSketch.qsk_quantile(cents, k, 0.99).as("p99_cents"))
      .select(col("window.start").as("window_start"),
        col("p50_cents"), col("p99_cents"))
  }

  /** Stateful gap sessionization: per-user sessions close when no event
    * arrives within `gapMinutes` of the last one (decided by event-time
    * timeout against the watermark, so late data within the watermark
    * still extends a session). Emits one row per closed session.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMinutes: Int = 30, watermark: String = "10 minutes"): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes.toLong * 60000L

    def update(userId: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      def toSession(s: SessionState) = Session(userId,
        new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum)
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession).iterator
        state.remove()
        out
      } else {
        val events = batch.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[Session]
        var cur = state.getOption
        events.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.sum + e.value))
            case Some(s) =>
              closed ::= toSession(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // setTimeoutTimestamp throws (killing the query) if the
          // timestamp is at/behind the current watermark. Spark 4.1
          // filters late input rows upstream of this operator (pinned in
          // StreamingOpsSpec via numRowsDroppedByWatermark), which makes
          // s.end + gapMs > watermark for rows that get here — the clamp
          // is defense-in-depth for versions/configs that deliver late
          // rows through: the stale session then times out next trigger.
          state.setTimeoutTimestamp(
            math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
        }
        closed.reverseIterator
      }
    }

    events.selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
