package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HllSketch, KmvSketch, QuantileSketch}

/** The persisted mergeable-sketch table pattern — the 100 TB answer to
  * "distinct users over an arbitrary date range" without rescanning raw
  * events: aggregate each day ONCE into a fixed-size HLL register buffer
  * (a plain binary column, storable in parquet), then answer any range
  * by merging the per-day buffers (register-wise max) — seconds over a
  * sketch table of a few KiB/day instead of a rescan of the raw table.
  *
  * Merge-of-stored is exactly the estimate a single pass over the range
  * would produce (register max is associative/commutative/idempotent),
  * so pre-aggregation loses nothing — tested bit-identical in
  * SketchesSpec, including through a parquet round-trip.
  */
object Sketches {

  /** Per-day user sketch table: one row per calendar day with the HLL
    * register buffer over `user_id` plus exact bookkeeping counts. One
    * shuffle on day; the buffer (2^p bytes) is the only per-group state.
    */
  def dailyUserSketches(events: DataFrame, p: Int = 14): DataFrame = {
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(
        HllSketch.hll_sketch_buffer(col("user_id"), p).as("sketch"),
        count(lit(1)).as("n_events"))
  }

  /** Range query over the stored sketch table: distinct users per ISO
    * week by merging that week's daily buffers. Never touches raw
    * events — the input is [[dailyUserSketches]] output (typically read
    * back from parquet). Same shape answers any slicing (month, rolling
    * 28-day, all-time) off the same stored table.
    */
  def weeklyDistinctUsers(sketchTable: DataFrame): DataFrame = {
    sketchTable
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(
        HllSketch.hll_merge(col("sketch")).as("est_users"),
        count(lit(1)).as("n_days"),
        sum(col("n_events")).as("n_events"))
      .select(date_format(col("week_start"), "yyyy-MM-dd").as("week_start"),
        col("n_days"), col("n_events"), col("est_users"))
      .orderBy("week_start")
  }

  /** KMV twin of [[dailyUserSketches]]: per-day K-minimum-values buffer
    * over `user_id`. Same stored-mergeable-table shape; KMV additionally
    * supports a distinct-value *sample* on merge (see
    * [[graft.functions.KmvSketch.kmv_merge_sample]]).
    */
  def dailyUserSketchesKmv(events: DataFrame, k: Int = 256): DataFrame = {
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(
        KmvSketch.kmv_sketch_buffer(col("user_id"), k).as("sketch"),
        count(lit(1)).as("n_events"))
  }

  /** KMV twin of [[weeklyDistinctUsers]]: range query over the stored
    * KMV table — per-ISO-week distinct-user estimate from merged daily
    * buffers, never touching raw events.
    */
  def weeklyDistinctUsersKmv(sketchTable: DataFrame): DataFrame = {
    sketchTable
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(
        KmvSketch.kmv_merge_estimate(col("sketch")).as("est_users"),
        count(lit(1)).as("n_days"),
        sum(col("n_events")).as("n_events"))
      .select(date_format(col("week_start"), "yyyy-MM-dd").as("week_start"),
        col("n_days"), col("n_events"), col("est_users"))
      .orderBy("week_start")
  }

  /** The sketch family's ERROR CONTRACTS audited in one result — the
    * [[graft.ops.Relational.approxProfileBounds]] pattern applied to
    * the HLL and KMV estimators (`q_sketch_bounds`): one row per scope
    * with the EXACT distinct count and three TRUE-iff-contract-held
    * booleans,
    *
    *   - `within_envelope`: the estimate sits inside the estimator's
    *     documented error bound (HLL p=14 → ±15%, ~19× the 0.81% rsd;
    *     KMV k → ±3/√(k−2), 3σ of the bottom-k estimator);
    *   - `merge_eq_single`: merging partial sketches (by linestatus
    *     for the flag scopes; the stored daily buffers for the weekly
    *     scopes) yields EXACTLY the single-pass estimate — register
    *     max / bottom-k union lose nothing to pre-aggregation;
    *   - `exact_when_small`: below capacity the KMV estimate IS the
    *     exact count (vacuously true for HLL scopes).
    *
    * The DuckDB oracle computes the exact counts and asserts every
    * boolean TRUE, so a hash match certifies the estimators kept their
    * envelopes AND the mergeable-table pattern's central identity —
    * the strongest oracle the approximate family admits (the estimates
    * themselves stay rows-only in `q_hll_distinct` / `q_kmv_users` /
    * `q_sketch_merge`).
    */
  def sketchBounds(lineitem: DataFrame, events: DataFrame,
                   kmvK: Int = 64): DataFrame = {
    val kmvBound = 3.0 / math.sqrt(kmvK - 2.0)
    // flag scopes: single-pass HLL vs merged per-linestatus partials
    val flagSingle = lineitem.groupBy("l_returnflag").agg(
      HllSketch.hll_distinct(col("l_partkey")).as("est"),
      count_distinct(col("l_partkey")).as("exact_n"))
    val flagMerged = lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(HllSketch.hll_sketch_buffer(col("l_partkey")).as("sk"))
      .groupBy("l_returnflag")
      .agg(HllSketch.hll_merge(col("sk")).as("est_merged"))
    val hllFlag = flagSingle.join(flagMerged, "l_returnflag").select(
      concat(lit("hll_flag:"), col("l_returnflag")).as("scope"),
      col("exact_n"),
      (abs(col("est") - col("exact_n")) <= col("exact_n") * 0.15)
        .as("within_envelope"),
      (col("est") === col("est_merged")).as("merge_eq_single"),
      lit(true).as("exact_when_small"))
    // weekly scopes: the STORED daily-buffer range merge (the
    // q_sketch_merge / q_kmv_users shape) vs a single pass over the
    // week's raw rows. TWO event scans total, not one per estimator:
    // one weekly aggregate fuses the exact count with both single-pass
    // sketches, and one daily aggregate builds both buffer families
    // for the merge side (the audit twin of how a production sketch
    // table is built — every daily buffer in one pass).
    val wkSingle = events
      .groupBy(date_trunc("week", col("ts")).cast("date").as("wk"))
      .agg(count_distinct(col("user_id")).as("exact_n"),
        HllSketch.hll_distinct(col("user_id")).as("hll_single"),
        KmvSketch.kmv_distinct(col("user_id"), kmvK).as("kmv_single"))
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
        col("exact_n"), col("hll_single"), col("kmv_single"))
    val wkMerged = events.groupBy(to_date(col("ts")).as("day"))
      .agg(HllSketch.hll_sketch_buffer(col("user_id")).as("hsk"),
        KmvSketch.kmv_sketch_buffer(col("user_id"), kmvK).as("ksk"))
      .groupBy(date_trunc("week", col("day")).cast("date").as("wk"))
      .agg(HllSketch.hll_merge(col("hsk")).as("hll_merged"),
        KmvSketch.kmv_merge_estimate(col("ksk")).as("kmv_merged"))
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week_start"),
        col("hll_merged"), col("kmv_merged"))
    val weekly = wkSingle.join(wkMerged, "week_start")
    val hllWeek = weekly.select(
      concat(lit("hll_week:"), col("week_start")).as("scope"),
      col("exact_n"),
      (abs(col("hll_merged") - col("exact_n")) <= col("exact_n") * 0.15)
        .as("within_envelope"),
      (col("hll_merged") === col("hll_single")).as("merge_eq_single"),
      lit(true).as("exact_when_small"))
    val kmvWeek = weekly.select(
      concat(lit("kmv_week:"), col("week_start")).as("scope"),
      col("exact_n"),
      (abs(col("kmv_merged") - col("exact_n")) <= col("exact_n") * kmvBound)
        .as("within_envelope"),
      (col("kmv_merged") === col("kmv_single")).as("merge_eq_single"),
      (col("exact_n") >= kmvK || col("kmv_merged") === col("exact_n"))
        .as("exact_when_small"))
    hllFlag.unionByName(hllWeek).unionByName(kmvWeek).orderBy("scope")
  }

  /** Quantile twin of [[dailyUserSketches]]: per-day
    * [[graft.functions.QuantileSketch]] buffer over the event value in
    * integer cents (the sketch keys on integral values so the hash is
    * lossless; cents also keep the domain bounded — ≤ ~49k distinct for
    * this corpus's (0, 490] value range — so the default k = 65536 is
    * the EXACT regime at any scale factor). Same stored-mergeable-table
    * shape as the HLL/KMV/MG families: one shuffle on day, a few KiB of
    * buffer per group.
    */
  def dailyValueSketches(events: DataFrame, k: Int = 65536): DataFrame = {
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(
        QuantileSketch.qsk_buffer(round(col("value") * 100).cast("long"), k).as("sketch"),
        count(col("value")).as("n_values"))
  }

  /** Range query over the stored quantile-sketch table: p50/p90/p99 of
    * the event value per ISO week by merging that week's daily buffers
    * — never rescanning raw events. The merged row total is carried
    * exactly inside the sketch and cross-checked against the
    * bookkeeping sum in the output (`n_values` vs `n_sketch_total`).
    */
  def weeklyValueQuantiles(sketchTable: DataFrame): DataFrame = {
    sketchTable
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(
        QuantileSketch.qsk_merge_quantile(col("sketch"), 0.5).as("p50_cents"),
        QuantileSketch.qsk_merge_quantile(col("sketch"), 0.9).as("p90_cents"),
        QuantileSketch.qsk_merge_quantile(col("sketch"), 0.99).as("p99_cents"),
        QuantileSketch.qsk_merge_total(col("sketch")).as("n_sketch_total"),
        sum(col("n_values")).as("n_values"))
      .select(date_format(col("week_start"), "yyyy-MM-dd").as("week_start"),
        col("n_values"), col("n_sketch_total"),
        col("p50_cents"), col("p90_cents"), col("p99_cents"))
      .orderBy("week_start")
  }

  /** Corpus heavy hitters via the Misra–Gries sketch
    * ([[graft.functions.FreqSketch]]): explode tokens, one MG aggregate
    * (map-side partials merge like any other agg buffer — the shuffle
    * carries ≤ `capacity` counters per partition, not the token
    * domain), then unnest the counter array to (token, count) rows.
    * With `capacity` ≥ the distinct-token count the result is EXACT and
    * partition-independent (the oracle-matched regime); under capacity
    * it degrades to the documented N/(k+1) error bound instead of
    * failing.
    *
    * `requireExact` (opt-in; the driver-contract `q_heavy_hitters`
    * sets it) enforces the exact-result precondition AT RUN TIME,
    * in-plan: counts are exact iff no counter was ever decremented,
    * i.e. iff "sketch mass == total token count". The total rides
    * along in the same aggregation (zero extra pass) and `assert_true`
    * raises instead of letting a regenerated corpus surface as an
    * unexplained oracle hash mismatch. Note the converse direction is
    * conservative: a partition-local or merge-time capacity overflow
    * decrements mass even when the GLOBAL distinct count fits
    * capacity, so the assert can fire on a corpus whose exact top-k
    * would still be representable — the sketch genuinely produced
    * lower bounds in that run, which is exactly what the strict mode
    * must reject. Default is off so over-capacity corpora get the
    * documented N/(k+1)-bounded counts instead of an error.
    */
  def heavyHitterTokens(documents: DataFrame, capacity: Int = 64,
                        requireExact: Boolean = false): DataFrame = {
    val agged = documents
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(graft.functions.FreqSketch.mg_topk(col("token"), capacity).as("hh"),
        count(lit(1)).as("n_total"))
    val checked = if (!requireExact) agged else {
      val mass = aggregate(col("hh"), lit(0L), (a, e) => a + e.getField("count"))
      // assert_true returns NULL on success; coalesce keeps the filter
      // from being constant-folded away while never dropping the row
      agged.filter(coalesce(assert_true(mass === col("n_total"),
        lit(s"Misra-Gries exact-regime precondition violated: sketch mass < " +
          s"total tokens — capacity $capacity was exceeded in some partition " +
          "or merge, so counts may be lower bounds. Raise capacity or set " +
          "requireExact=false to accept the documented N/(k+1) error bound")),
        lit(true)))
    }
    checked
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }
}
