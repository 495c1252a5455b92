package graft

import org.apache.spark.sql.SparkSession

/** The session the bench, verification and measurement mains run in:
  * `local[cpus]` with as many shuffle partitions, UTC, and the UI off.
  * `cpus` comes from `SPARK_GRAFT_CPUS` (default 32).
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark rejects
      // unless read as long (graft.api.Tables converts to TimestampType).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
