package graft.core

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and spec starts from:
  * `local[cpus]` with as many shuffle partitions, the UTC session time
  * zone, nanosecond parquet timestamps read as longs (the encoding
  * [[Tables]] normalizes) and no UI. Callers that want a log level
  * other than Spark's default set it on the returned context.
  */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
