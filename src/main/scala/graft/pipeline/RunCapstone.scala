package graft.pipeline

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point for the capstone star-schema pipeline — the rebuilt
  * analogue of the reference's `python etl.py` (`etl.py:224-270`).
  *
  * Usage: RunCapstone <cp.cfg> <outDir> [immigrationParquet]
  *
  * Reads the label dictionary and the demographics CSV named by the
  * config's `[PATHS]` `LABELS_DATA` and `DEMOGRAPHICS_DATA`, relative to
  * the config's own directory, as the reference's `cp.cfg` does. The
  * immigration fact comes from `immigrationParquet` if given (any parquet
  * with the SAS column layout, FIXTURES.md §A3), else a small synthesized
  * fixture so the pipeline is runnable end-to-end in this environment
  * (the original SAS7BDAT binary is not distributable — SURVEY §2 A2).
  */
object RunCapstone {
  private val USAGE = "usage: RunCapstone <cp.cfg> <outDir> [immigrationParquet]"

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().appName("graft-capstone").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
    println(s"capstone star schema written to ${args(1)}")
  }

  /** What [[main]] does, on a caller's session: reads the config's
    * inputs and writes the seven star-schema tables under the out dir.
    */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, USAGE)
    val (labels, demographics) = inputPaths(args(0))
    val immigration: DataFrame =
      args.lift(2).fold(syntheticImmigration(spark, labels))(spark.read.parquet(_))
    CapstoneEtl.run(spark,
      labelsPath = labels,
      demographicsCsv = demographics,
      immigration = immigration,
      outDir = args(1))
  }

  /** The config's `LABELS_DATA` and `DEMOGRAPHICS_DATA`, resolved against
    * the directory the config file lives in (absolute values stay as
    * they are).
    */
  def inputPaths(cfgPath: String): (String, String) = {
    val paths = IniConfig.parseFile(cfgPath).getOrElse("PATHS", Map.empty)
    val base = Paths.get(cfgPath).toAbsolutePath.getParent
    def at(key: String): String = base.resolve(paths.getOrElse(key,
      throw new IllegalArgumentException(s"$cfgPath: [PATHS] has no $key")))
      .normalize.toString
    (at("LABELS_DATA"), at("DEMOGRAPHICS_DATA"))
  }

  /** Deterministic synthetic I-94 fact: valid codes drawn from the label
    * dimensions of `labels` themselves, plus a slice of invalid rows the
    * null-rejection WHERE must drop.
    */
  def syntheticImmigration(spark: SparkSession, labels: String,
                           n: Int = 10000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val countries = SasLabels.parseFile(labels, "i94cntyl").map(_._1).toArray
    val ports = SasLabels.parseFile(labels, "$i94prtl").map(_._1).toArray
    val states = SasLabels.parseFile(labels, "i94addrl").map(_._1).filter(_ != "99").toArray
    val rng = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      val invalid = rng.nextDouble() < 0.05
      Row(2016.0, (i % 12 + 1).toDouble,
        countries(rng.nextInt(countries.length)).toDouble,
        if (invalid) "?!" else ports(rng.nextInt(ports.length)),
        (20000 + rng.nextInt(800)).toDouble,
        (rng.nextInt(3) + 1).toDouble,
        states(rng.nextInt(states.length)),
        if (rng.nextBoolean()) (20800 + rng.nextInt(100)).toDouble else null,
        (18 + rng.nextInt(60)).toDouble,
        (rng.nextInt(3) + 1).toDouble,
        null, if (rng.nextBoolean()) "M" else "F",
        (1940 + rng.nextInt(60)).toDouble, "07292016", "LH",
        i.toDouble, s"FL$i", "B2")
    }
    val schema = StructType(Seq(
      StructField("i94yr", DoubleType), StructField("i94mon", DoubleType),
      StructField("i94res", DoubleType), StructField("i94port", StringType),
      StructField("arrdate", DoubleType), StructField("i94mode", DoubleType),
      StructField("i94addr", StringType), StructField("depdate", DoubleType),
      StructField("i94bir", DoubleType), StructField("i94visa", DoubleType),
      StructField("occup", StringType), StructField("gender", StringType),
      StructField("biryear", DoubleType), StructField("dtaddto", StringType),
      StructField("airline", StringType), StructField("admnum", DoubleType),
      StructField("fltno", StringType), StructField("visatype", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
