package graft.tools

import org.apache.spark.sql.SparkSession

/** The session the dev tools share: `local[cores]` with as many shuffle
  * partitions, UTC, the graft extensions, no UI, ERROR logging, and
  * events' TIMESTAMP(NANOS) read as long. */
private[graft] object DevSession {
  def apply(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.NanosAsLongKey, "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
