package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape of every main and the test suite:
  * `local[cores]` with `partitions` shuffle partitions, no UI, the UTC
  * session time zone and WARN logging. Each caller picks its own
  * `(cores, partitions)`.
  */
object LocalSpark {
  def session(cores: Int, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-$cores")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
