package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, row id), so the same seed always yields the same rows in the
  * same partitions, and the parquet the set-up writes is byte-identical
  * across runs. The program under test only ever sees the stored files.
  *
  * The shapes follow the sf0.1 test tables: TPC-H style orders (150k
  * rows, 15k customers, 1992-1998 order dates), 25 nations in 5
  * regions, and a bag-of-words document corpus over a small technical
  * vocabulary, with 64-d clustered embeddings.
  */
object Gen {

  /** SplitMix64 finalizer: a stateless, well-mixed 64-bit hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, id: Long, salt: Int): Long =
    mix(mix(mix(seed) ^ id) + salt)
  /** Uniform in [0, n). */
  def u(seed: Long, id: Long, salt: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, id, salt), n)
  /** Uniform in [-1, 1). */
  def f(seed: Long, id: Long, salt: Int): Double =
    (h(seed, id, salt) >>> 11).toDouble / (1L << 52) - 1.0

  // ---------------------------------------------------------------- star_etl

  val ORDERS = 150000L
  val CUSTOMERS = 15000L
  val NATIONS = 25
  val REGIONS = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** One I-94 row per replicated order: the same column derivations as
    * the pipeline's testdata twin, with seeded keys, and a seeded 12% of
    * rows carrying one code that matches no dimension row.
    */
  case class Imm(i94yr: Double, i94mon: Double, i94res: Double,
                 i94port: String, i94mode: Double, i94addr: String,
                 i94visa: Double, arrdate: Double, depdate: Double,
                 i94bir: Double, biryear: Double, occup: String,
                 gender: String, dtaddto: String, airline: String,
                 admnum: Double, fltno: String, valid: Boolean)


  def immRow(seed: Long, id: Long): Imm = {
    val rep = id / ORDERS
    val o = id % ORDERS
    // replicas shift the order key by a seeded offset, so admission
    // numbers stay unique across replicas
    val keyOffset = ORDERS + u(seed, -2, 0, ORDERS)
    val orderKey = o + rep * keyOffset
    val cust = u(seed, o, 1, CUSTOMERS)
    // arrivals fall in a 90-day window of 2016 starting in a seeded
    // month, like the monthly I-94 extracts the reference pipeline
    // loads; the window's length is fixed so every seed writes the same
    // number of partitions
    val firstMonth = 1 + u(seed, -3, 0, 9)
    val day = u(seed, id, 2, 90)
    val date = java.time.LocalDate.of(2016, firstMonth.toInt, 1).plusDays(day)
    val arr = java.time.temporal.ChronoUnit.DAYS
      .between(java.time.LocalDate.of(1960, 1, 1), date).toDouble
    val modes = Array(1.0, 2.0, 3.0, 9.0)
    var port = s"P${u(seed, id, 3, NATIONS)}"
    var res = (cust % NATIONS).toDouble
    var mode = modes(u(seed, id, 4, 4).toInt)
    var addr = (cust % REGIONS.size).toString
    var visa = (1 + u(seed, id, 5, 3)).toDouble
    val invalid = u(seed, id, 6, 1000) < 120 // 12% of rows, seeded
    if (invalid) u(seed, id, 7, 5) match {
      case 0 => port = "XXX"
      case 1 => res = 99.0
      case 2 => mode = 7.0
      case 3 => addr = "99"
      case _ => visa = 9.0
    }
    Imm(date.getYear.toDouble, date.getMonthValue.toDouble, res, port, mode,
      addr, visa, arr, arr + 1 + u(seed, id, 8, 30), (cust % 80).toDouble,
      (2016 - cust % 80).toDouble,
      if (orderKey % 11 == 0) null else s"OCC${orderKey % 11}",
      if (u(seed, id, 9, 2) == 0) "M" else "F", (orderKey % 30).toString,
      s"AL${u(seed, id, 10, 9)}", orderKey.toDouble, (orderKey % 1000).toString,
      !invalid)
  }

  case class StarTruth(rows: Long, validRows: Long, validAdmnumSum: Long)

  /** Writes the star-schema inputs under `dir` and returns the
    * generator's own count of valid rows and their admission-number sum.
    */
  def writeStarInputs(spark: SparkSession, seed: Long, replicas: Int,
                      partitions: Int, dir: String): StarTruth = {
    import spark.implicits._
    val n = ORDERS * replicas
    val imm = spark.range(0, n, 1, partitions).as[Long]
      .map(id => immRow(seed, id)).persist()
    try {
      imm.drop("valid").write.parquet(s"$dir/immigration.parquet")
      val t = imm.filter(col("valid"))
        .agg(count(lit(1)), sum(col("admnum").cast("long"))).head()
      val nations = (0 until NATIONS).map(i => (i, s"NATION_$i", i % REGIONS.size))
      nations.map { case (i, name, _) => (i.toString, name) }
        .toDF("code", "country_name").coalesce(1)
        .write.parquet(s"$dir/country.parquet")
      nations.map { case (i, _, r) => (s"P$i", s"City $i", r.toString) }
        .toDF("code", "city", "state_code").coalesce(1)
        .write.parquet(s"$dir/port.parquet")
      REGIONS.zipWithIndex.map { case (r, i) => (i.toString, r) }
        .toDF("code", "state_name").coalesce(1)
        .write.parquet(s"$dir/state.parquet")
      Seq(("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported"))
        .toDF("code", "mode").coalesce(1).write.parquet(s"$dir/mode.parquet")
      Seq(("1", "Business"), ("2", "Pleasure"), ("3", "Student"))
        .toDF("code", "visa_type").coalesce(1).write.parquet(s"$dir/visa_type.parquet")
      // demographics at the CSV's one-row-per-race grain; upper-case
      // cities, so the pipeline's lower() join key matters
      spark.range(0, CUSTOMERS, 1, 1).as[Long].map { c =>
        (s"CITY ${c % 40}", 20.0 + u(seed, c, 20, 500) / 10.0,
          u(seed, c, 21, 997).toString, u(seed, c, 22, 787).toString,
          (500 + u(seed, c, 23, 1000)).toInt, u(seed, c, 24, 97).toInt,
          u(seed, c, 25, 211).toInt, 1.5 + u(seed, c, 26, 30) / 10.0,
          (c % REGIONS.size).toString, s"RACE${c % 5}", u(seed, c, 27, 900).toInt)
      }.toDF("city", "median_age", "male_population", "female_population",
          "total_population", "number_of_veterans", "number_of_foreign_born",
          "average_household_size", "state_code", "race", "count")
        .write.parquet(s"$dir/demographics.parquet")
      StarTruth(n, t.getLong(0), t.getLong(1))
    } finally imm.unpersist(true)
  }

  // ---------------------------------------------------------------- corpus

  val VOCAB: Array[String] = ("a batch big column data agg fast filter group " +
    "hash index join key line merge order part query row scan slow small " +
    "sort spark stream table value vector window cache node shard plan " +
    "graph tree page file block frame token model score rank layer log " +
    "time read write lock queue store").split(" ")

  def origTokens(seed: Long, id: Long): Array[String] = {
    val n = 30 + u(seed, id, 32, 40).toInt
    Array.tabulate(n)(i => VOCAB(u(seed, id * 128 + i, 33, VOCAB.length).toInt))
  }

  /** Embedding: a weighted seeded cluster centre plus per-doc noise. */
  def embedding(seed: Long, id: Long, dim: Int, clusters: Int,
                centreWeight: Double): Array[Float] = {
    val c = u(seed, id, 50, clusters)
    Array.tabulate(dim) { d =>
      (centreWeight * f(seed, -1000 - c * dim - d, 51) + f(seed, id * dim + d, 52)).toFloat
    }
  }

  private val LANGS = Array("en", "de", "fr", "zh")

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
                 n_chars: Long)
  case class Vec(vec_id: Long, embedding: Array[Float])

  def doc(seed: Long, id: Long): Doc = {
    val t = origTokens(seed, id).mkString(" ")
    Doc(id, t, LANGS(u(seed, id, 60, 4).toInt), s"src${u(seed, id, 61, 8)}", t.length.toLong)
  }

  // ---------------------------------------------------------------- index_serve

  /** A duplicate-free corpus with 64-d clustered vectors. */
  def writeServeInputs(spark: SparkSession, seed: Long, nDocs: Long,
                       partitions: Int, dir: String): Unit = {
    import spark.implicits._
    val ids = spark.range(0, nDocs, 1, partitions).as[Long]
    ids.map(id => doc(seed, id)).write.parquet(s"$dir/documents.parquet")
    ids.map(id => Vec(id, embedding(seed, id, 64, 10, 1.5)))
      .write.parquet(s"$dir/embeddings.parquet")
  }
}
