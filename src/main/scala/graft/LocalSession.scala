package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on: `local[cpus]` with one shuffle
  * partition per core, UTC session time, no UI. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, else the caller's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def apply(app: String, cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
