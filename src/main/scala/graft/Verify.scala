package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump for local iteration
    // (same contract as Bench); the driver leaves it unset and gets
    // every query + the full oracle map.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(q => wanted(q._1)).foreach { case (name, fn) =>
      // start marker (stderr): lets a log reader attribute any Spark
      // WARN lines to the query that produced them
      System.err.println(s"[verify] $name start")
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // operators that persist their result hand ownership to the
        // caller; release so ~100 queries' caches don't accumulate
        df.unpersist(blocking = false)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => wanted(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
