package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Jobs
import graft.ops.Dates

/** The reference pipeline re-expressed Spark-first (SURVEY §3): builds
  * the I-94 star schema — an `immigrations` fact plus country / port /
  * state / mode / visa_type / port_demographics dimensions — from the
  * SAS label dictionary, the demographics CSV, and an immigration fact
  * input, writing partitioned parquet.
  *
  * Differences from the reference, by design (SURVEY §7):
  *  - the fact arrival date uses built-in Catalyst date expressions, not
  *    a Python UDF (`etl.py:136-141` → [[graft.ops.Dates.sasDaysToIso]]);
  *  - explicit casts where the reference leaned on ANSI-off coercion
  *    (string SUMs at `etl.py:206-207`);
  *  - the quality gate actually raises (`etl.py:253-257` constructs an
  *    Exception but never throws it);
  *  - one pass per output, in two concurrent phases: a limit-1 emptiness
  *    probe of each gated table, then every table's write (the reference
  *    recomputed the fact plan for each action and wrote one table after
  *    another).
  */
object CapstoneEtl {

  /** Explicit demographics CSV schema (rename-on-read, `etl.py:87-100`).
    * male/female population are deliberately strings — the reference
    * declared them so and SUM-ed them; we keep the declared type and cast
    * explicitly at the aggregation (§1.3 latent-cast note).
    */
  val demographicsSchema: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("median_age", DoubleType),
    StructField("male_population", StringType),
    StructField("female_population", StringType),
    StructField("total_population", IntegerType),
    StructField("number_of_veterans", IntegerType),
    StructField("number_of_foreign_born", IntegerType),
    StructField("average_household_size", DoubleType),
    StructField("state_code", StringType),
    StructField("race", StringType),
    StructField("count", IntegerType)))

  /** A1: `;`-delimited CSV scan with header + explicit schema. */
  def readDemographics(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("sep", ";")
      .schema(demographicsSchema).csv(path)

  /** C2: drop demographics rows with no state code (`etl.py:144-148`). */
  def cleanDemographics(df: DataFrame): DataFrame =
    df.filter(col("state_code").isNotNull)

  /** A3 loaders: label blocks → driver-local Seq → DataFrame. */
  def labelDim(spark: SparkSession, labelsPath: String, block: String,
               valueName: String): DataFrame = {
    import spark.implicits._
    SasLabels.parseFile(labelsPath, block).toDF("code", valueName)
  }

  def modeDim(spark: SparkSession, p: String): DataFrame = labelDim(spark, p, "i94model", "mode")
  def visaDim(spark: SparkSession, p: String): DataFrame = labelDim(spark, p, "I94VISA", "visa_type")

  /** C1: state dim minus the `'99' = All Other Codes` sentinel. */
  def stateDim(spark: SparkSession, p: String): DataFrame =
    labelDim(spark, p, "i94addrl", "state_name").filter(col("code") =!= "99")

  /** B2 + F1: normalize invalid country labels to 'NA' (`etl.py:118-123`). */
  def countryDim(spark: SparkSession, p: String): DataFrame =
    labelDim(spark, p, "i94cntyl", "country_name")
      .withColumn("country_name",
        regexp_replace(col("country_name"), "^No Country.*|INVALID.*|Collapsed.*", "NA"))

  /** B3 + F2 + F3: split `"CHICAGO, IL"`-style port names into city and
    * state_code; single-token names yield a null state (`etl.py:126-133`).
    */
  def portDim(spark: SparkSession, p: String): DataFrame =
    labelDim(spark, p, "$i94prtl", "port_name")
      .withColumn("city", trim(get(split(col("port_name"), ","), lit(0))))
      .withColumn("state_code", trim(get(split(col("port_name"), ","), lit(1))))
      .drop("port_name")

  /** D1 + C3 + B4 (`etl.py:151-191`): the immigrations fact — the SQL
    * path, kept as SQL because temp-view + spark.sql IS the reference's
    * primary query interface (H2). LEFT joins to 5 dims with a
    * null-rejecting WHERE (semantically inner; Catalyst's
    * EliminateOuterJoin fires), 18-column aliased projection, arrival
    * date converted from SAS day numbers by built-in expressions.
    */
  def immigrationFact(spark: SparkSession, immigration: DataFrame,
                      country: DataFrame, port: DataFrame, state: DataFrame,
                      mode: DataFrame, visa: DataFrame): DataFrame = {
    immigration
      .withColumn("arrival_date", Dates.sasDaysToIso(col("arrdate").cast("int")))
      .createOrReplaceTempView("tbl_immigration_data")
    country.createOrReplaceTempView("lu_countries")
    port.createOrReplaceTempView("lu_ports")
    state.createOrReplaceTempView("lu_states")
    mode.createOrReplaceTempView("lu_modes")
    visa.createOrReplaceTempView("lu_visa_types")
    spark.sql("""
      SELECT tid.i94yr AS year, tid.i94mon AS month,
             lc.code AS residence_country, lp.code AS port,
             tid.arrival_date, lm.code AS mode, ls.code AS state_code,
             tid.depdate AS departure_date, tid.i94bir AS age,
             lvt.code AS visa_type_code, tid.occup AS occupation,
             tid.gender, lvt.visa_type, tid.biryear AS birth_year,
             tid.dtaddto AS allowed_date, tid.airline,
             tid.admnum AS admission_number, tid.fltno AS flight_number
      FROM tbl_immigration_data tid
      LEFT JOIN lu_countries lc ON lc.code = CAST(CAST(tid.i94res AS INT) AS STRING)
      LEFT JOIN lu_ports lp ON lp.code = tid.i94port
      LEFT JOIN lu_modes lm ON lm.code = CAST(CAST(tid.i94mode AS INT) AS STRING)
      LEFT JOIN lu_states ls ON ls.code = tid.i94addr
      LEFT JOIN lu_visa_types lvt ON lvt.code = CAST(CAST(tid.i94visa AS INT) AS STRING)
      WHERE lp.code IS NOT NULL AND lc.code IS NOT NULL AND lm.code IS NOT NULL
        AND ls.code IS NOT NULL AND lvt.code IS NOT NULL""")
  }

  /** E1 + H3 + D2 + B5 (`etl.py:194-221`): aggregate demographics to the
    * (city, state) grain — explicit casts on the two string-typed
    * population columns — then join to ports on a case-insensitive city
    * match + state code, projecting `port_code, demographics.*`.
    * View shadowing (H3) is preserved: `tbl_demographics` is re-registered
    * to the aggregated plan before the join query.
    */
  def portDemographics(spark: SparkSession, demographics: DataFrame,
                       port: DataFrame): DataFrame = {
    demographics.createOrReplaceTempView("tbl_demographics")
    port.createOrReplaceTempView("lu_ports")
    val aggregated = spark.sql("""
      SELECT td.city, td.state_code,
             SUM(CAST(td.male_population AS DOUBLE)) AS total_male_population,
             SUM(CAST(td.female_population AS DOUBLE)) AS total_female_population,
             SUM(td.total_population) AS total_population,
             SUM(td.number_of_veterans) AS number_of_veterans,
             SUM(td.number_of_foreign_born) AS number_of_foreign_born
      FROM tbl_demographics td
      GROUP BY td.city, td.state_code""")
    aggregated.createOrReplaceTempView("tbl_demographics") // H3 view shadowing
    spark.sql("""
      SELECT lp.code AS port_code, td.*
      FROM lu_ports lp
      JOIN tbl_demographics td
        ON lower(td.city) = lower(lp.city) AND td.state_code = lp.state_code""")
  }

  /** Driver-contract twin of [[immigrationFact]] (`q_capstone_fact`):
    * runs the reference's OWN fact query — the exact temp-view SQL of
    * `etl.py:159-191`, five LEFT joins collapsed to inner by the
    * null-rejecting WHERE, SAS-day arrival conversion — under the
    * DuckDB hash-match oracle. The binary SAS immigration source and
    * the SAS label dictionary can't reach DuckDB, so the fact input is
    * DERIVED deterministically from `orders` (every i94 column a pure
    * arithmetic projection, with deliberate non-matching codes so the
    * WHERE actually eliminates rows) and the dims from `nation`
    * (countries, ports), `region` (states), and the reference's real
    * mode/visa label rows. Same join keys, same double-typed i94
    * columns, same CAST(CAST(x AS INT) AS STRING) key derivations —
    * the SQL under test is byte-identical to the pipeline's.
    */
  def capstoneFactFromTestdata(spark: SparkSession, orders: DataFrame,
                               nation: DataFrame, region: DataFrame): DataFrame = {
    import spark.implicits._
    val immigration = orders.selectExpr(
      "CAST(year(CAST(o_orderdate AS DATE)) AS DOUBLE) AS i94yr",
      "CAST(month(CAST(o_orderdate AS DATE)) AS DOUBLE) AS i94mon",
      "CAST(o_custkey % 26 AS DOUBLE) AS i94res",
      "CASE WHEN o_orderkey % 7 = 0 THEN 'XXX' " +
        "ELSE CONCAT('P', CAST(o_orderkey % 25 AS STRING)) END AS i94port",
      "CAST(CASE WHEN o_orderkey % 5 = 3 THEN 9 WHEN o_orderkey % 5 = 4 THEN 7 " +
        "ELSE o_orderkey % 5 + 1 END AS DOUBLE) AS i94mode",
      "CAST(o_custkey % 6 AS STRING) AS i94addr",
      "CAST(o_orderkey % 5 + 1 AS DOUBLE) AS i94visa",
      "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1960-01-01') AS DOUBLE) AS arrdate",
      "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1960-01-01') + 7 AS DOUBLE) AS depdate",
      "CAST(o_custkey % 80 AS DOUBLE) AS i94bir",
      "CAST(2016 - o_custkey % 80 AS DOUBLE) AS biryear",
      "CASE WHEN o_orderkey % 11 = 0 THEN CAST(NULL AS STRING) " +
        "ELSE CONCAT('OCC', CAST(o_orderkey % 11 AS STRING)) END AS occup",
      "CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'F' END AS gender",
      "CAST(o_orderkey % 30 AS STRING) AS dtaddto",
      "CONCAT('AL', CAST(o_orderkey % 9 AS STRING)) AS airline",
      "CAST(o_orderkey AS DOUBLE) AS admnum",
      "CAST(o_orderkey % 1000 AS STRING) AS fltno")
    val country = nation.selectExpr("CAST(n_nationkey AS STRING) AS code",
      "n_name AS country_name")
    val port = nation.selectExpr("CONCAT('P', CAST(n_nationkey AS STRING)) AS code",
      "n_name AS city")
    val state = region.selectExpr("CAST(r_regionkey AS STRING) AS code",
      "r_name AS state_name")
    val mode = Seq(("1", "Air"), ("2", "Sea"), ("3", "Land"),
      ("9", "Not reported")).toDF("code", "mode")
    val visa = Seq(("1", "Business"), ("2", "Pleasure"),
      ("3", "Student")).toDF("code", "visa_type")
    immigrationFact(spark, immigration, country, port, state, mode, visa)
      .orderBy("admission_number")
  }

  /** Driver-contract twin of [[portDemographics]]
    * (`q_capstone_port_demographics`): the reference's second — and
    * last — query entry point (`etl.py:194-221`: string-cast SUM
    * aggregate, `tbl_demographics` view shadowing, `lower()` compound
    * join, `td.*` expansion) under the DuckDB hash-match oracle. The
    * demographics CSV and label dictionary can't reach DuckDB, so both
    * inputs are DERIVED deterministically from testdata with each
    * reference semantic made load-bearing:
    *  - `customer` → demographics: ~40 customers per city at sf0.01, so
    *    every SUM aggregates many rows (the CSV's one-row-per-race
    *    grain); city names UPPER-case so the `lower()` join key matters;
    *    male/female populations STRING-typed so the explicit casts are
    *    exercised (values are small integers, keeping the double sums
    *    exact under any addition order);
    *  - `nation` → ports: Title-case city twins of the demographics
    *    cities; every 7th port gets sentinel state `'9'` (absent from
    *    demographics) and port 3 a city with no demographics row, so the
    *    inner join provably eliminates rows.
    * The SQL under test — aggregate, H3 view shadowing, join, `td.*` —
    * is byte-identical to the pipeline's [[portDemographics]].
    */
  def portDemographicsFromTestdata(spark: SparkSession, customer: DataFrame,
                                   nation: DataFrame): DataFrame = {
    val demographics = customer.selectExpr(
      "CONCAT('CITY ', CAST(c_custkey % 40 AS STRING)) AS city",
      "CAST(c_custkey % 5 AS STRING) AS state_code",
      "CAST(c_custkey % 997 AS STRING) AS male_population",
      "CAST(c_custkey % 787 AS STRING) AS female_population",
      "CAST(c_custkey % 1000 + 500 AS INT) AS total_population",
      "CAST(c_custkey % 97 AS INT) AS number_of_veterans",
      "CAST(c_custkey % 211 AS INT) AS number_of_foreign_born")
    val port = nation.selectExpr(
      "CONCAT('P', CAST(n_nationkey AS STRING)) AS code",
      "CASE WHEN n_nationkey = 3 THEN 'Nowhere' " +
        "ELSE CONCAT('City ', CAST(n_nationkey AS STRING)) END AS city",
      "CAST(CASE WHEN n_nationkey % 7 = 0 THEN 9 " +
        "ELSE n_nationkey % 5 END AS STRING) AS state_code")
    portDemographics(spark, demographics, port).orderBy("port_code")
  }

  /** E2 done right: the reference's quality gate, raising on violation
    * (the reference built the Exception but never threw it,
    * `etl.py:253-257`). The reference counted the table; only emptiness
    * matters, and `isEmpty` is a limit-1 probe that stops at the first
    * row instead of computing every row.
    */
  def qualityGate(df: DataFrame, name: String): Unit =
    require(!df.isEmpty, s"quality check failed: table '$name' is empty")

  /** G1-G3: partitioned parquet star-schema write (`etl.py:260-266`), in
    * two phases of concurrent jobs ([[graft.Jobs.concurrently]]):
    *  1. the quality gate on both gated tables, `immigrations` and
    *     `port_demographics`;
    *  2. all seven writes — the fact, port demographics and the dims.
    * Every gate passes before any write starts, so a failed gate leaves
    * every table under `outDir` as it was. Nothing is cached: each
    * write computes its plan once, and the gates' limit-1 probes cost
    * far less than building the columnar cache of the whole fact
    * (NOTES.md, "Single-pass star-schema write").
    */
  def writeStarSchema(fact: DataFrame, portDemo: DataFrame,
                      dims: Map[String, DataFrame], outDir: String): Unit = {
    Jobs.concurrently(Seq(
      () => qualityGate(fact, "immigrations"),
      () => qualityGate(portDemo, "port_demographics")))
    Jobs.concurrently(Seq[() => Unit](
      () => fact.write.mode("overwrite")
        .partitionBy("year", "month", "state_code").parquet(s"$outDir/immigrations"),
      () => portDemo.write.mode("overwrite")
        .partitionBy("state_code").parquet(s"$outDir/port_demographics")) ++
      dims.toSeq.map { case (name, df) =>
        () => df.write.mode("overwrite").parquet(s"$outDir/$name")
      })
  }

  /** End-to-end pipeline over the reference's own data files plus a
    * caller-supplied immigration fact DataFrame (the binary SAS source
    * is not distributable in this environment — SURVEY §2 A2).
    */
  def run(spark: SparkSession, labelsPath: String, demographicsCsv: String,
          immigration: DataFrame, outDir: String): Unit = {
    val country = countryDim(spark, labelsPath)
    val port = portDim(spark, labelsPath)
    val state = stateDim(spark, labelsPath)
    val mode = modeDim(spark, labelsPath)
    val visa = visaDim(spark, labelsPath)
    val demo = cleanDemographics(readDemographics(spark, demographicsCsv))
    val fact = immigrationFact(spark, immigration, country, port, state, mode, visa)
    val portDemo = portDemographics(spark, demo, port)
    writeStarSchema(fact, portDemo,
      Map("country" -> country, "port" -> port, "state" -> state,
        "mode" -> mode, "visa_type" -> visa), outDir)
  }
}
