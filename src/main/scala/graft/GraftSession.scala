package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up every graft main and the test suite share.
  * Callers add only what is theirs (an app name, a warehouse dir) and
  * set their own log level once the session exists.
  */
object GraftSession {

  /** `local[cpus]` with as many shuffle partitions; graft's Catalyst
    * additions — every SQL function, strategy and rule — injected through
    * `GraftExtensions` at build time (the only path that registers
    * them); UTC session time; no UI;
    * and parquet TIMESTAMP(NANOS) read as long (events.parquet carries
    * them; `Tables.events` converts them back to µs timestamps).
    */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
