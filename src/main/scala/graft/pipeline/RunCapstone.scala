package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point for the capstone star-schema pipeline — the rebuilt
  * analogue of the reference's `python etl.py` (`etl.py:224-270`).
  *
  * Usage: RunCapstone <outDir> [immigrationParquet]
  *
  * Reads the reference's label dictionary + demographics CSV; the
  * immigration fact comes from `immigrationParquet` if given (any parquet
  * with the SAS column layout, FIXTURES.md §A3), else a small synthesized
  * fixture so the pipeline is runnable end-to-end in this environment
  * (the original SAS7BDAT binary is not distributable — SURVEY §2 A2).
  */
object RunCapstone {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunCapstone <outDir> [immigrationParquet]")
    val outDir = args(0)
    val spark = graft.GraftSession.builder().appName("graft-capstone").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val immigration: DataFrame =
      if (args.length > 1) spark.read.parquet(args(1))
      else syntheticImmigration(spark)
    CapstoneEtl.run(spark,
      labelsPath = "/root/reference/I94_SAS_Labels_Descriptions.SAS",
      demographicsCsv = "/root/reference/us-cities-demographics.csv",
      immigration = immigration,
      outDir = outDir)
    println(s"capstone star schema written to $outDir")
    spark.stop()
  }

  /** Deterministic synthetic I-94 fact: valid codes drawn from the label
    * dimensions themselves, plus a slice of invalid rows the
    * null-rejection WHERE must drop.
    */
  def syntheticImmigration(spark: SparkSession, n: Int = 10000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val labels = "/root/reference/I94_SAS_Labels_Descriptions.SAS"
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
