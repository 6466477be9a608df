package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. The Python runner (`run.py`)
  * builds the classpath, starts this, then checks the outputs and turns
  * the raw record written here into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                       --data SF_DIR --work DIR
  *
  * Writes `DIR/raw.json`: set-up times, one record per timed operation
  * (epoch or query), the probe timings and, when tracing, the spans and
  * Spark jobs. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path)

  /** Set-up is repeated this many times per run and reported as the median. */
  val SetupReps = 3
  val Cores = 4

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("work")).toAbsolutePath)
    val workload: Workload = a.workload match {
      case "ingest_small" => new Ingest(a)
      case "batch_queries" => new Batch(a)
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(a.work)
    val out = mutable.LinkedHashMap[String, Any]()
    out("workload") = a.workload
    out("seed") = a.seed
    out("java_version") = System.getProperty("java.version")

    // Set-up: session start, warm-up pass and the workload's own inputs
    // (holdout, query order), up to the first timed operation. Every
    // repetition but the last tears its session down again.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark = session(a, rep)
      workload.setup(spark, rep)
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }
    out("setup_s") = setupS.toSeq
    out("spark_version") = spark.version

    // Untraced measurement: no listener, no spans.
    val untraced = new Tracer(false)
    val measured = workload.measure(spark, untraced, if (a.trace) a.seconds / 2 else a.seconds, "m")
    out("ops") = measured
    // heap the engine still holds after the workload: used heap after a full collection
    System.gc()
    out("live_heap_mb") = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0

    if (a.trace) {
      // Traced measurement of the same workload, then the layer probes.
      val tracer = new Tracer(true)
      tracer.attach(spark.sparkContext)
      val traced = tracer.span("workload", spark.sparkContext, Map("name" -> a.workload)) {
        workload.measure(spark, tracer, a.seconds / 2, "t")
      }
      val probes = tracer.span("probes", spark.sparkContext) { workload.probes(spark, tracer) }
      tracer.detach(spark.sparkContext)
      val self = Tracer.selfTimes(tracer.allSpans, tracer.jobs)
      out("traced_ops") = traced
      out("probes") = probes
      out("spans") = tracer.allSpans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "self_ms" -> self(s.id), "attrs" -> s.attrs)
      }
      out("jobs") = tracer.jobs.map { j =>
        Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "ok" -> j.ok, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
          "shuffle_bytes" -> j.shuffleBytes, "block_bytes" -> j.blockBytes)
      }
    }

    // Outputs for the correctness checks, outside every timed region.
    out("check") = workload.checkInputs(spark)
    spark.stop()
    out("peak_rss_mb") = peakRssMb()
    Files.writeString(a.work.resolve("raw.json"), json.writeValueAsString(out), StandardCharsets.UTF_8)
  }

  def session(a: Args, rep: Int): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** A workload: set-up, a time-boxed measurement, the layer probes of a
  * traced run, and the outputs the checks read. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession, tracer: Tracer, seconds: Double, tag: String): Seq[Map[String, Any]]
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Any]
  def checkInputs(spark: SparkSession): Map[String, Any]
}
