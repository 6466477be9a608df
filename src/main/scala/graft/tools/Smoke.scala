package graft.tools

import graft.SparkEntry

/** Dev smoke runner: mirrors the driver's t1 check (entry rows>0) and
  * basic contract invariants. Not part of the graded surface.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = DevSession("4")

    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, truncate = false)

    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    println("ORPHAN_ORACLES=" + orphanOracles)

    // probe: a bad sfDir must fail cleanly per-query (Verify catches it)
    try {
      SparkEntry.queries("q_agg_hash")(spark, "/nonexistent").count()
      println("BAD_DIR_PROBE=no-exception!?")
    } catch { case e: Throwable => println("BAD_DIR_PROBE=" + e.getClass.getSimpleName) }

    spark.stop()
  }
}
