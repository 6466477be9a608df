package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Two named sets of `SparkEntry.queries` over the parquet test data.
  * The iterative set does most of its work while the DataFrame is being
  * built (`Q.snapshot` loops and `collect()` calls); the single-pass set
  * builds in well under a second and spends its time in one plan's
  * execution. Each query is timed in three phases: construct is the
  * call `queries(q)(spark, dir)`, plan is `queryExecution.executedPlan`,
  * exec is `collect()`, which reuses the same `QueryExecution`. */
final class Batch(a: Main.Args) extends Workload {
  import Batch._

  private val rnd = new scala.util.Random(a.seed)
  /** One pass: seeded order within each set, the sets in a fixed order,
    * and the single-pass set SinglePassReps times over, so its short
    * queries get enough executions for a steady median. */
  private val order: Seq[(String, String)] = {
    val single = rnd.shuffle(SinglePass).map("single_pass" -> _)
    rnd.shuffle(Iterative).map("iterative" -> _) ++ Seq.fill(SinglePassReps)(single).flatten
  }
  private val queries = SparkEntry.queries
  /** First result of each query in the untraced measurement, kept for the oracle check. */
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  override def setup(spark: SparkSession, rep: Int): Unit =
    order.foreach { case (_, q) => queries(q)(spark, a.data).collect() }

  override def measure(spark: SparkSession, tracer: Tracer, seconds: Double,
                       tag: String): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var pass = 0
    // whole passes only, so every run measures the same mix of queries
    while (pass == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      order.zipWithIndex.foreach { case ((cls, q), index) =>
        var phases = Map.empty[String, Double]
        def phase[T](name: String)(body: => T): T = tracer.span(name, sc) {
          val t = System.nanoTime()
          try body finally phases += (name -> (System.nanoTime() - t) / 1e9)
        }
        val error: Option[String] =
          try {
            tracer.span("query", sc, Map("name" -> q, "class" -> cls, "pass" -> pass)) {
              val df = phase("construct")(queries(q)(spark, a.data))
              phase("plan")(df.queryExecution.executedPlan)
              val rows = phase("exec")(df.collect())
              firstResult.get(q) match {
                case None => firstResult(q) = (df.schema, rows); None
                case Some((_, want)) =>
                  if (canonical(rows) == canonical(want)) None
                  else Some(s"result differs from the first pass (${rows.length} vs ${want.length} rows)")
              }
            }
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        out += Map("name" -> q, "class" -> cls, "pass" -> pass, "index" -> index, "tag" -> tag,
          "construct_s" -> phases.getOrElse("construct", 0.0),
          "plan_s" -> phases.getOrElse("plan", 0.0),
          "exec_s" -> phases.getOrElse("exec", 0.0),
          "error" -> error)
      }
      pass += 1
    }
    out.toSeq
  }

  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Any] = Map.empty

  /** Dumps each query's first result to parquet beside its oracle SQL,
    * the layout the DuckDB comparison reads. */
  override def checkInputs(spark: SparkSession): Map[String, Any] = {
    val dir = a.work.resolve("results")
    Files.createDirectories(dir)
    firstResult.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(q).toString)
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Main.json.writeValueAsString(firstResult.keys.map(q => q -> oracle(q)).toMap),
      StandardCharsets.UTF_8)
    Map("results" -> dir.toString)
  }
}

object Batch {
  // One warm pass (below) takes about 8 s on 4 cores at sf0.01;
  // set-up repeats it three times, which is what a run can afford.
  val Iterative: Seq[String] = Seq("q_graph_components")
  val SinglePass: Seq[String] = Seq("q_join_smj", "q_agg_hash", "q_except_all")
  val SinglePassReps = 2

  private def canonical(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted
}
