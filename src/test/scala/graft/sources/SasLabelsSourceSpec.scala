package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The DataSource V2 connector read end-to-end through
  * `spark.read.format(...)` — the same mechanism the reference used for
  * its SAS binary source.
  */
class SasLabelsSourceSpec extends AnyFunSuite with SparkSpec {
  val labels = graft.pipeline.ReferenceFixtures.labels

  def read(block: String) =
    spark.read.format("graft.sources.SasLabelsSource")
      .option("path", labels).option("block", block).load()

  test("reads the mode block through the connector") {
    val modes = read("i94model").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(modes === Map("1" -> "Air", "2" -> "Sea", "3" -> "Land", "9" -> "Not reported"))
  }

  test("schema is fixed (code, label) and SQL-composable like any table") {
    val df = read("i94addrl")
    assert(df.schema.fieldNames.toSeq === Seq("code", "label"))
    df.createOrReplaceTempView("states_v2")
    val n = spark.sql("SELECT count(*) FROM states_v2 WHERE code <> '99'").collect()(0).getLong(0)
    assert(n === 14)
  }

  test("connector output equals the driver-local parser path") {
    val viaConnector = read("$i94prtl").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val viaParser = graft.pipeline.SasLabels.parseFile(labels, "$i94prtl").toSet
    assert(viaConnector === viaParser)
  }

  test("column pruning pushes into the connector scan") {
    val pruned = read("i94model").select("label")
    val plan = pruned.queryExecution.executedPlan.toString
    // the BatchScan's output must contain ONLY the requested column
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[label#") && !scanLine.contains("code#"),
      s"expected pruned scan output in:\n$plan")
    assert(pruned.collect().map(_.getString(0)).toSet ===
      Set("Air", "Sea", "Land", "Not reported"))
  }

  test("missing options fail loudly") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.SasLabelsSource")
        .option("path", labels).load().collect()
    }
    assert(e.getMessage.contains("block"))
  }
}
