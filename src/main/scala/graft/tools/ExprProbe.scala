package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: print one query's raw (un-rounded) doubles as full-bit
  * hex so a 1-ULP engine divergence can be localized without guessing.
  * Edit the probe body for the investigation at hand; keep it tiny.
  * Usage: runMain graft.tools.ExprProbe [sfDir]
  */
object ExprProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = DevSession("4")
    val daily = graft.ops.Inference.dailyCounts(spark, sfDir)
      .filter(col("event_type") === "click")
    val rows = daily.orderBy("x").collect()
    println("GRID=" + rows.map(r => s"${r.getLong(1)}:${r.getLong(2)}").mkString(","))
    var e12 = rows.head.getLong(2).toDouble
    rows.tail.foreach { r => e12 = e12 + 2.0 / 13 * (r.getLong(2) - e12) }
    println(f"SCALA_SEQ e12=$e12%.17g hex=${java.lang.Double.toHexString(e12)}")
    spark.stop()
  }
}
