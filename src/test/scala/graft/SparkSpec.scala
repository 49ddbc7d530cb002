package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all suites (one per JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with WindowExec's logger raised to ERROR — for the
    * DELIBERATE partition-less global-window oracle twins some specs
    * compare against (tiny N, one reducer by design). Scoped to the
    * body so a REGRESSION's "No Partition Defined" WARN anywhere else
    * stays visible in the test log.
    */
  def expectGlobalWindow[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq(
      "org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.sql.execution.window.WindowGroupLimitExec")
    val prev = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(Configurator.setLevel(_, Level.ERROR))
    try body
    finally prev.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.spark
}
