package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end parity test of the rebuilt capstone pipeline over data
  * files in the reference's formats (labels + demographics CSV test
  * resources, FIXTURES.md §A) plus a synthesized immigration fact (the
  * SAS binary is not present — SURVEY §2 A2).
  */
class CapstoneEtlSpec extends AnyFunSuite with SparkSpec {
  val labels = ReferenceFixtures.labels
  val demoCsv = ReferenceFixtures.demographicsCsv

  def immigrationFixture = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq("i94yr", "i94mon", "i94res", "arrdate", "i94mode", "depdate", "i94bir",
        "i94visa", "biryear", "admnum").map(StructField(_, DoubleType)) ++
      Seq("i94port", "i94addr", "occup", "gender", "dtaddto", "airline", "fltno",
        "visatype").map(StructField(_, StringType)))
    val rows = Seq(
      Row(2016.0, 4.0, 236.0, 20566.0, 1.0, 20573.0, 30.0, 2.0, 1986.0, 1.0,
        "CHI", "IL", null, "M", "07292016", "LH", "LH400", "B2"),
      Row(2016.0, 4.0, 111.0, 20567.0, 1.0, null, 25.0, 1.0, 1991.0, 2.0,
        "NYC", "NY", null, "F", "07292016", "AF", "AF100", "B1"),
      // invalid port code (not in labels) → rejected by the null-rejection WHERE
      Row(2016.0, 4.0, 236.0, 20568.0, 1.0, null, 40.0, 2.0, 1976.0, 3.0,
        "BAD", "CA", null, "M", "07292016", "UA", "UA1", "B2"),
      // arrdate=0 → arrival_date null (the reference's falsy-zero rule)
      Row(2016.0, 4.0, 111.0, 0.0, 1.0, null, 33.0, 1.0, 1983.0, 4.0,
        "NYC", "NY", null, "X", "07292016", "AF", "AF2", "B1"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  test("immigration fact: joins resolve, null-rejection drops bad FK rows, dates convert") {
    val fact = CapstoneEtl.immigrationFact(spark, immigrationFixture,
      CapstoneEtl.countryDim(spark, labels), CapstoneEtl.portDim(spark, labels),
      CapstoneEtl.stateDim(spark, labels), CapstoneEtl.modeDim(spark, labels),
      CapstoneEtl.visaDim(spark, labels))
    val rows = fact.collect()
    assert(rows.length === 3) // invalid-port row rejected
    val byAdm = rows.map(r => r.getAs[Double]("admission_number") -> r).toMap
    // SAS day 20566 = 1960-01-01 + 20566 days = 2016-04-22
    assert(byAdm(1.0).getAs[String]("arrival_date") === "2016-04-22")
    assert(byAdm(4.0).getAs[String]("arrival_date") === null) // zero → null
    assert(byAdm(1.0).getAs[String]("state_code") === "IL")
    assert(byAdm(1.0).getAs[String]("visa_type") === "Pleasure")
    assert(byAdm(2.0).getAs[String]("visa_type") === "Business")
    // departure_date stays a raw SAS double (reference behavior)
    assert(byAdm(1.0).getAs[Double]("departure_date") === 20573.0)
  }

  test("port demographics: per-race grain collapses, lower() city join, port_code present") {
    val demo = CapstoneEtl.cleanDemographics(CapstoneEtl.readDemographics(spark, demoCsv))
    val pd = CapstoneEtl.portDemographics(spark, demo, CapstoneEtl.portDim(spark, labels))
    val cached = pd.persist()
    try {
      assert(cached.count() > 0)
      // one row per port (city,state) — the per-race rows are aggregated away
      assert(cached.groupBy("port_code").count().filter(col("count") > 1).count() === 0)
      val chi = cached.filter(col("port_code") === "CHI").collect()
      assert(chi.length === 1)
      assert(chi(0).getAs[String]("city").equalsIgnoreCase("chicago"))
      assert(chi(0).getAs[Double]("total_male_population") > 0)
    } finally cached.unpersist()
  }

  test("full pipeline writes a partitioned star schema and the quality gate passes") {
    val out = java.nio.file.Files.createTempDirectory("capstone_out").toString
    CapstoneEtl.run(spark, labels, demoCsv, immigrationFixture, out)
    val factBack = spark.read.parquet(s"$out/immigrations")
    assert(factBack.count() === 3)
    // hive-style partition layout year=/month=/state_code=
    val partDirs = new java.io.File(s"$out/immigrations").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(partDirs.exists(_.startsWith("year=")))
    assert(spark.read.parquet(s"$out/mode").count() === 4)
    assert(spark.read.parquet(s"$out/visa_type").count() === 3)
    assert(spark.read.parquet(s"$out/state").filter(col("code") === "99").count() === 0)
    // partition pruning works on read-back
    val pruned = spark.read.parquet(s"$out/immigrations").filter(col("state_code") === "IL")
    assert(pruned.count() === 1)
  }

  /** The star schema's inputs built in memory: the label dims and the
    * demographics rows the fixture's ports and states need, so the write
    * path runs without the reference's data files.
    */
  def inMemoryStar(immigration: org.apache.spark.sql.DataFrame,
                   demoCities: Seq[(String, String)]) = {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val dims = Map(
      "country" -> Seq(("236", "AFGHANISTAN"), ("111", "FRANCE"))
        .toDF("code", "country_name"),
      "port" -> Seq(("CHI", "CHICAGO", "IL"), ("NYC", "NEW YORK", "NY"))
        .toDF("code", "city", "state_code"),
      "state" -> Seq(("IL", "ILLINOIS"), ("NY", "NEW YORK"), ("CA", "CALIFORNIA"))
        .toDF("code", "state_name"),
      "mode" -> Seq(("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported"))
        .toDF("code", "mode"),
      "visa_type" -> Seq(("1", "Business"), ("2", "Pleasure"), ("3", "Student"))
        .toDF("code", "visa_type"))
    // two race rows per city: the per-race grain the aggregate collapses
    val demoRows = demoCities.flatMap { case (city, st) =>
      Seq("White", "Asian").map(race =>
        Row(city, st, 35.0, "100", "120", 220, 10, 30, 2.5, st, race, 50))
    }
    val demo = spark.createDataFrame(
      spark.sparkContext.parallelize(demoRows), CapstoneEtl.demographicsSchema)
    val fact = CapstoneEtl.immigrationFact(spark, immigration, dims("country"),
      dims("port"), dims("state"), dims("mode"), dims("visa_type"))
    val portDemo = CapstoneEtl.portDemographics(spark,
      CapstoneEtl.cleanDemographics(demo), dims("port"))
    (fact, portDemo, dims)
  }

  val starTables = Seq("immigrations", "port_demographics", "country", "port",
    "state", "mode", "visa_type")
  val bothCities = Seq(("Chicago", "IL"), ("New York", "NY"))

  test("writeStarSchema writes all seven tables with their row counts") {
    val out = java.nio.file.Files.createTempDirectory("star_out").toString
    val (fact, portDemo, dims) = inMemoryStar(immigrationFixture, bothCities)
    CapstoneEtl.writeStarSchema(fact, portDemo, dims, out)
    val counts = starTables.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
    assert(counts === Map("immigrations" -> 3L, "port_demographics" -> 2L,
      "country" -> 2L, "port" -> 2L, "state" -> 3L, "mode" -> 4L, "visa_type" -> 3L))
    assert(new java.io.File(s"$out/immigrations").list().exists(_.startsWith("year=")))
    assert(new java.io.File(s"$out/port_demographics").list()
      .exists(_.startsWith("state_code=")))
  }

  test("RunCapstone from cp.cfg: inputs resolve beside the config, and the " +
    "entry point writes the seven tables with their row counts") {
    assert(RunCapstone.inputPaths(ReferenceFixtures.cpCfg) === ((labels, demoCsv)))
    val out = java.nio.file.Files.createTempDirectory("capstone_cli").toString
    RunCapstone.run(spark, Seq(ReferenceFixtures.cpCfg, out))
    val tables = starTables.map(t => t -> spark.read.parquet(s"$out/$t")).toMap
    val counts = tables.map { case (t, df) => t -> df.count() }
    // every synthesized row with a label-drawn port survives the
    // null-rejection WHERE; the dims are the fixture's label sets ('99'
    // dropped from the states) and its four port-matching cities
    val validFact = RunCapstone.syntheticImmigration(spark, labels)
      .filter(col("i94port") =!= "?!").count()
    assert(counts === Map("immigrations" -> validFact, "port_demographics" -> 4L,
      "country" -> 24L, "port" -> 17L, "state" -> 14L, "mode" -> 4L,
      "visa_type" -> 3L))
    // column names and Spark types as DATA_DICTIONARY.md lists them,
    // partition columns included (the dims are all strings)
    def cols(tpe: String, names: String*) = names.map(_ -> tpe)
    val dictionary = Map(
      "immigrations" -> (cols("double", "year", "month", "departure_date",
        "age", "birth_year", "admission_number") ++ cols("string",
        "residence_country", "port", "arrival_date", "mode", "state_code",
        "visa_type_code", "visa_type", "occupation", "gender",
        "allowed_date", "airline", "flight_number")),
      "port_demographics" -> (cols("string", "port_code", "city",
        "state_code") ++ cols("double", "total_male_population",
        "total_female_population") ++ cols("long", "total_population",
        "number_of_veterans", "number_of_foreign_born")),
      "country" -> cols("string", "code", "country_name"),
      "port" -> cols("string", "code", "city", "state_code"),
      "state" -> cols("string", "code", "state_name"),
      "mode" -> cols("string", "code", "mode"),
      "visa_type" -> cols("string", "code", "visa_type"))
    val written = tables.map { case (t, df) =>
      t -> df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq.sorted }
    assert(written === dictionary.map { case (t, cs) => t -> cs.sorted })
  }

  test("writeStarSchema: an empty gated table fails the gate before any table " +
      "under outDir is written") {
    val out = java.nio.file.Files.createTempDirectory("star_gate").toString
    val (fact, portDemo, dims) = inMemoryStar(immigrationFixture, bothCities)
    CapstoneEtl.writeStarSchema(fact, portDemo, dims, out)
    def markers() = starTables.map(t => new java.io.File(s"$out/$t/_marker"))
    markers().foreach(f => assert(f.createNewFile(), f.toString))

    // only the invalid-port row: the fact's null-rejecting WHERE drops it
    val (emptyFact, pd1, dims1) = inMemoryStar(
      immigrationFixture.filter(col("i94port") === "BAD"), bothCities)
    val e1 = intercept[IllegalArgumentException] {
      CapstoneEtl.writeStarSchema(emptyFact, pd1, dims1, out)
    }
    assert(e1.getMessage.contains("quality check failed: table 'immigrations' is empty"))
    markers().foreach(f => assert(f.exists, s"$f was overwritten"))

    // no demographics city matches a port: the inner join leaves nothing
    val (fact2, emptyDemo, dims2) = inMemoryStar(immigrationFixture,
      Seq(("Springfield", "IL")))
    val e2 = intercept[IllegalArgumentException] {
      CapstoneEtl.writeStarSchema(fact2, emptyDemo, dims2, out)
    }
    assert(e2.getMessage.contains(
      "quality check failed: table 'port_demographics' is empty"))
    markers().foreach(f => assert(f.exists, s"$f was overwritten"))
  }

  test("country dim: invalid label families normalized to NA") {
    val c = CapstoneEtl.countryDim(spark, labels)
    assert(c.filter(col("country_name") === "NA").count() > 0)
    assert(c.filter(col("country_name").startsWith("INVALID")).count() === 0)
  }

  test("port dim: single-token port names get null state_code") {
    val p = CapstoneEtl.portDim(spark, labels)
    val was = p.filter(col("code") === "WAS").collect()(0)
    assert(was.getAs[String]("city") === "WASHINGTON DC")
    assert(was.getAs[String]("state_code") === null)
  }

  test("capstoneFactFromTestdata: the fact WHERE eliminates every non-matching " +
      "code and keeps every fully-matching row (q_capstone_fact's shape)") {
    val sf = "/root/testdata/sf0.001"
    val orders = graft.Tables.orders(spark, sf)
    val fact = CapstoneEtl.capstoneFactFromTestdata(spark, orders,
      graft.Tables.nation(spark, sf), graft.Tables.region(spark, sf))
    val rows = fact.collect()
    assert(rows.nonEmpty)
    // a surviving row's codes all resolved: res 0..24, port P-prefixed,
    // mode in {1,2,3,9}, state 0..4, visa 1..3
    rows.foreach { r =>
      assert(r.getAs[String]("port").startsWith("P"))
      assert(Set("1", "2", "3", "9").contains(r.getAs[String]("mode")))
      assert(r.getAs[String]("state_code").toInt < 5)
      assert(Set("Business", "Pleasure", "Student")
        .contains(r.getAs[String]("visa_type")))
      assert(r.getAs[String]("arrival_date").matches("\\d{4}-\\d{2}-\\d{2}"))
    }
    // the WHERE really eliminated the planted non-matching codes: the
    // survivor count equals the driver-computed conjunction over orders
    val expected = orders.selectExpr("o_orderkey AS k", "o_custkey AS c").collect()
      .count { r =>
        val k = r.getLong(0); val c = r.getLong(1)
        c % 26 < 25 && k % 7 != 0 && k % 5 != 4 && c % 6 < 5 && k % 5 + 1 <= 3
      }
    assert(rows.length === expected)
  }

  test("portDemographicsFromTestdata: SUM aggregates many rows, lower() join " +
      "fires, sentinel state + missing city are eliminated (q_capstone_port_demographics)") {
    val sf = "/root/testdata/sf0.001"
    val customer = graft.Tables.customer(spark, sf)
    val pd = CapstoneEtl.portDemographicsFromTestdata(spark, customer,
      graft.Tables.nation(spark, sf)).collect()
    // ports 0..24 minus the state-'9' sentinels (0,7,14,21) minus the
    // 'Nowhere' city (3) = 20 survivors — the inner join really filters
    assert(pd.map(_.getAs[String]("port_code")).toSet ===
      (0 until 25).filter(n => n % 7 != 0 && n != 3).map(n => s"P$n").toSet)
    // every surviving city is the UPPER-case demographics spelling, so
    // the match can only have come through lower()
    pd.foreach(r => assert(r.getAs[String]("city").startsWith("CITY ")))
    // the aggregate collapsed the per-customer grain: recompute one
    // city's sums driver-side from customer and compare exactly
    val c5 = customer.selectExpr("c_custkey AS k").collect().map(_.getLong(0))
      .filter(_ % 40 == 5)
    assert(c5.length > 1, "fixture must aggregate more than one row per city")
    val row5 = pd.find(_.getAs[String]("port_code") == "P5").get
    assert(row5.getAs[Double]("total_male_population") ===
      c5.map(k => (k % 997).toDouble).sum)
    assert(row5.getAs[Long]("total_population") === c5.map(_ % 1000 + 500).sum)
  }
}
