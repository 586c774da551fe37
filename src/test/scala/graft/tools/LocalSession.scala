package graft.tools

import org.apache.spark.sql.SparkSession

/** The local SparkSession every tool in this package runs on:
  * `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle partitions,
  * UTC, nanosecond parquet timestamps read as longs (the sf fixtures'
  * `events.parquet`), AQE on, no UI, WARN logging.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
