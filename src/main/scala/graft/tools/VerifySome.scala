package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dev tool: run the Verify dump for a SUBSET of queries, so
  * tools/check.py can gate just the operators being iterated on
  * without paying for the full surface.
  * Usage: runMain graft.tools.VerifySome <sfDir> <outDir> <name,name,...>
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val names = namesCsv.split(',').map(_.trim).filter(_.nonEmpty)
    val spark = DevSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(names.contains)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
