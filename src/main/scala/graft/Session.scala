package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the mains and specs run on: `local[cpus]`
  * with as many shuffle partitions as cores, no UI, the UTC session time
  * zone (the oracle compares timestamps in UTC) and a quiet log. */
object Session {
  /** Cores from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
