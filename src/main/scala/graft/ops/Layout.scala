package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ZOrder

/** Data-layout optimization: cluster a table on the Morton curve of two
  * key columns ([[graft.functions.ZOrder]]) and measure what that buys.
  * Writing z-sorted files makes per-file min/max statistics tight on
  * BOTH dimensions simultaneously, so scan pruning (parquet row-group
  * stats / partition skipping) works for predicates on either key —
  * the `ZORDER BY` clustering idea of lakehouse engines.
  *
  * [[zorderFileStats]] simulates the layout: rank by z, cut into
  * `rowsPerFile` chunks ("files"), report each file's bounding box.
  * The ranking runs the two-pass range-partitioned global ordinal;
  * the production write path is `df.repartitionByRange(z).sortWithin
  * Partitions(z).write` — same curve, fully distributed.
  *
  * Two preconditions for the curve to actually buy pruning (both
  * MEASURED in ZOrderSpec against parquet row-group stats):
  *  - normalize dimensions to comparable bit-widths first (scale the
  *    narrower key up, or z-order on quantile ranks) — a wider key's
  *    high bits otherwise dominate and the layout degrades to a
  *    single-key sort on that key;
  *  - the key grid should be DENSE relative to the row count —
  *    z-ordering a sparse grid buys little because consecutive curve
  *    positions jump across empty space.
  */
object Layout {

  /** Per-simulated-file bounding boxes after z-order clustering of
    * `orders` on (custkey, order day): file id, row count, and min/max
    * of both dimensions plus the z range. Tight boxes = skippable
    * files; the spec quantifies the win vs the natural insert order.
    */
  def zorderFileStats(orders: DataFrame, rowsPerFile: Int = 1000): DataFrame = {
    val day = datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01")))
    val z = ZOrder.zorder(col("o_custkey"), day)
    // two-pass range-partitioned global ordinal (GlobalOrder) instead
    // of a partition-less row_number window: same 0-based rank, no
    // single-reducer sort, no WindowExec WARN — the stats report now
    // runs the same distributed shape as the production write path
    val projected = orders
      .select(col("o_orderkey"), col("o_custkey"), day.as("day"), z.as("z"))
    val ordered = GlobalOrder.withOrdinal(projected,
      Seq(col("z"), col("o_orderkey")))
    val ranked = ordered.df
      .withColumn("file_id", expr(s"ord div $rowsPerFile"))
    ranked.groupBy("file_id").agg(
      count(lit(1)).as("n_rows"),
      min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
      min(col("day")).as("min_day"), max(col("day")).as("max_day"),
      min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy("file_id")
  }

  /** Bounded-size training-shard writer — the actual write path a
    * 100 TB export needs: `repartitionByRange` on the sort key spreads
    * rows into `numShards` contiguous key ranges (one task each, no
    * global sort), `sortWithinPartitions` makes every shard internally
    * ordered, and `maxRecordsPerFile` caps file size WITHIN a task, so
    * no single output file exceeds the record budget however skewed a
    * range lands. Returns the written-file manifest (path, rows) read
    * back from the shard directory.
    */
  def writeShards(df: DataFrame, path: String, sortKey: String,
                  numShards: Int = 8, maxRecordsPerFile: Int = 1000): DataFrame = {
    df.repartitionByRange(numShards, col(sortKey))
      .sortWithinPartitions(col(sortKey))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .parquet(path)
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.input_file_name
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** [[writeShards]] with DETERMINISTIC shard assignment and a
    * normalized manifest — the driver-contract form. `repartitionByRange`
    * draws its boundaries from a random sample, so per-shard row counts
    * wobble across runs; here the shard of a row is the closed form
    * `floor(ordinal * numShards / N)` over the two-pass global ordinal
    * ([[GlobalOrder]] — no single-reducer sort), which any engine
    * reproduces exactly. Rows are hash-clustered by shard id (a shard
    * never splits across tasks), sorted within tasks, and written with
    * dynamic `partitionBy(shard)` + `maxRecordsPerFile`, so shard `s`
    * lands in its own directory as exactly `ceil(rows_s / maxRecords)`
    * files.
    *
    * Returns the manifest read back from the export: one row per shard —
    * ordinal, row count, file count, min/max sort key. Every column is a
    * pure function of (data, numShards, maxRecordsPerFile): no paths, no
    * timestamps — which is what makes the export DuckDB-oracle-checkable
    * (`q_shard_manifest`).
    */
  def writeShardsManifest(df: DataFrame, path: String, sortKey: String,
                          numShards: Int = 8, maxRecordsPerFile: Int = 200): DataFrame = {
    require(numShards > 0 && maxRecordsPerFile > 0,
      "numShards and maxRecordsPerFile must be positive")
    val spark = df.sparkSession
    val keyType = df.schema(sortKey).dataType
    val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_files",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("min_key", keyType),
      org.apache.spark.sql.types.StructField("max_key", keyType)))
    // pinInput = false: the child here is the caller's raw (often
    // full-width) scan — parquet re-traversals are cheap and columnar,
    // while caching the whole corpus ahead of an export would double
    // its storage footprint at scale
    val ordered = GlobalOrder.withOrdinal(df, Seq(col(sortKey)),
      valueCol = None, ordName = "_ord", pinInput = false)
    // empty input: partitionBy writes no part files, and a schema-less
    // parquet read-back fails ("unable to infer schema") — return the
    // empty manifest directly instead
    if (ordered.totalRows == 0) {
      ordered.release()
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], manifestSchema)
    }
    val n = ordered.totalRows
    ordered.df
      .withColumn("shard", expr(s"CAST((_ord * $numShards) div $n AS INT)"))
      .drop("_ord")
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(sortKey))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("shard")
      .parquet(path)
    // the write above fully materialised ordered.df — the offset
    // broadcast is dead weight from here on
    ordered.release()
    import org.apache.spark.sql.functions.{countDistinct, input_file_name}
    spark.read.parquet(path)
      // input_file_name() is non-deterministic to the analyzer — it must
      // be materialized by a projection before it can feed an aggregate
      .select(col("shard").cast("int").as("shard"), col(sortKey),
        input_file_name().as("_file"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("_file")).as("n_files"),
        min(col(sortKey)).as("min_key"),
        max(col(sortKey)).as("max_key"))
      .orderBy("shard")
  }
}
