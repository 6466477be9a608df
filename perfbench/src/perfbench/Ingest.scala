package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.{KafkaSource, OffsetLedger, Streams}

/** The paper's pipeline: `graft-docs` (4 topic partitions, positioned by
  * Kafka-shaped `startingOffset` JSON) → `Streams.decontamStream` →
  * `OffsetLedger.sink` (parquet) or `OffsetLedger.kvSink` (graft-kv 2PC),
  * under the default trigger.
  *
  * Closed loop: every row is available from the start, so each trigger
  * admits the next `rowsPerBatch` rows only after the previous epoch has
  * committed, and the per-epoch latency is the commit latency of a feed
  * below capacity, without queueing. `Trigger.AvailableNow` is not used:
  * it admits everything in one epoch and ignores `rowsPerBatch`. */
final class Ingest(a: Main.Args) extends Workload {
  import Ingest._

  /** Seeded start of the id window, the same offset in every partition.
    * Kept small: the holdout and batch-twin reads generate every id
    * below the window too. */
  private val startOffset: Long = new scala.util.Random(a.seed).nextInt(2500).toLong
  private val firstId = startOffset * TopicPartitions
  private var holdoutIds: Seq[Long] = Nil
  private var holdout: DataFrame = _
  private val runs = TrieMap.empty[String, RunDirs]

  private def startingOffsetJson: String =
    KafkaSource.startingOffsetsJson(Topic, (0 until TopicPartitions).map(_ -> startOffset).toMap)

  private def docs(spark: SparkSession, rows: Long): DataFrame =
    spark.read.format("graft-docs").option("rows", rows).option("partitions", TopicPartitions).load()

  override def setup(spark: SparkSession, rep: Int): Unit = {
    // The holdout: 100 seeded documents of the first four epochs of the
    // window, 20 per language and all of HoldoutWords words, so every
    // seed probes a holdout of the same size (decontamStream's per-row
    // cost grows with it). It is collected into a local relation, so
    // epochs probe it without re-reading its documents.
    val words = docs(spark, firstId + 4L * RowsPerBatch)
      .filter(col("doc_id") >= firstId)
      .withColumn("words", split(col("text"), " "))
    val pick = new scala.util.Random(a.seed)
    holdoutIds = words.filter(size(col("words")) === HoldoutWords)
      .select("doc_id", "lang").collect()
      .groupBy(_.getString(1)).toSeq.sortBy(_._1)
      .flatMap { case (_, rows) => pick.shuffle(rows.map(_.getLong(0)).sorted.toSeq).take(HoldoutDocs / 5) }
      .sorted
    val picked = words.filter(col("doc_id").isin(holdoutIds: _*))
      .select(col("lang"), explode(array_distinct(expr(
        "transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))")))
        .as("shingle"))
      .collect()
    holdout = spark.createDataFrame(picked.toSeq.asJava, HoldoutSchema)
    // warm-up: a few epochs of the same pipeline into throw-away dirs
    runStream(spark, new Tracer(false), s"warm$rep", Left(WarmEpochs))
  }

  override def measure(spark: SparkSession, tracer: Tracer, seconds: Double,
                       tag: String): Seq[Map[String, Any]] =
    runStream(spark, tracer, tag, Right(seconds))

  /** Runs the pipeline into fresh dirs under `tag`, either for a fixed
    * number of epochs or until `seconds` have passed at an epoch
    * boundary. Returns one record per committed epoch. */
  private def runStream(spark: SparkSession, tracer: Tracer, tag: String,
                        stop: Either[Int, Double], sink: Sink = Parquet): Seq[Map[String, Any]] = {
    val dirs = RunDirs(a.work.resolve(tag), sink)
    runs(tag) = dirs
    val sc = spark.sparkContext
    val totalRows = stop match {
      case Left(epochs) => firstId + epochs.toLong * RowsPerBatch
      case Right(_) => firstId + TopicPartitions * 100000000L
    }
    val source = spark.readStream.format("graft-docs")
      .option("rows", totalRows)
      .option("topicPartitions", TopicPartitions)
      .option("partitions", TopicPartitions)
      .option("rowsPerBatch", RowsPerBatch)
      .option("startingOffset", startingOffsetJson)
      .load()
    val kept = Streams.decontamStream(source, holdout)
    val shaped = sink match {
      case Parquet => kept.select(col("doc_id").as("event_id"), col("lang"), col("text"))
      case Kv => kept.select(col("doc_id").as("key"), col("text").as("value"))
    }
    val body: (DataFrame, Long) => Unit = sink match {
      case Parquet => OffsetLedger.sink(dirs.out.toString, dirs.ledger.toString)
      case Kv => OffsetLedger.kvSink(dirs.out.toString, dirs.ledger.toString)
    }

    val parent = tracer.current
    val sinkMs = TrieMap.empty[Long, Double]
    val sinkEndMs = TrieMap.empty[Long, Double]
    @volatile var done = false
    val finished = new CountDownLatch(1)
    val t0Ms = Tracer.nowMs()
    val query = shaped.writeStream
      .option("checkpointLocation", dirs.checkpoint.toString)
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        if (!done) {
          val s = Tracer.nowMs()
          tracer.span("epoch", sc, Map("epoch" -> epochId), parent) { body(df, epochId) }
          val e = Tracer.nowMs()
          sinkMs(epochId) = e - s
          sinkEndMs(epochId) = e
          stop match {
            case Right(sec) if e - t0Ms >= sec * 1000 => done = true; finished.countDown()
            case _ =>
          }
        }
      }
      .start()
    stop match {
      case Left(_) => query.processAllAvailable()
      case Right(sec) =>
        finished.await((sec + 120).toLong, TimeUnit.SECONDS)
        // let the last committed epoch post its progress before stopping
        val last = sinkEndMs.keys.maxOption.getOrElse(-1L)
        val deadline = Tracer.nowMs() + 10000
        while (Option(query.lastProgress).forall(_.batchId < last) && query.isActive &&
               Tracer.nowMs() < deadline) Thread.sleep(5)
    }
    done = true
    query.exception.foreach(e => throw e)
    query.stop()

    val progress = query.recentProgress.filter(p => sinkMs.contains(p.batchId))
    dirs.endOffsets = progress.sortBy(_.batchId).lastOption.map(_.sources.head.endOffset)
    progress.sortBy(_.batchId).toSeq.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Map[String, Any](
        "epoch" -> p.batchId,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "input_rows" -> p.numInputRows,
        "sink_ms" -> sinkMs(p.batchId),
        "sink_end_ms" -> (sinkEndMs(p.batchId) - t0Ms))
    }
  }

  /** Predicate selecting the ids the stream admitted: per partition p,
    * offsets [startOffset, end(p)) map to ids o·4 + p. */
  private def windowFilter(ends: Map[Int, Long]): Column =
    ends.map { case (p, e) =>
      col("doc_id") % TopicPartitions === p &&
        col("doc_id") >= startOffset * TopicPartitions &&
        col("doc_id") < e * TopicPartitions
    }.reduce(_ || _)

  private def windowRows(ends: Map[Int, Long]): Long = ends.values.map(_ - startOffset).sum

  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Any] = {
    val sc = spark.sparkContext
    val dirs = runs("t")
    val rows = windowRows(parseEnds(dirs.endOffsets))
    def timed(name: String)(body: => Unit): Double = tracer.span(name, sc) {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val readS = timed("probe.docs_read") {
      docs(spark, rows).write.format("noop").mode("overwrite").save()
    }
    val kvS = timed("probe.kv_write") {
      docs(spark, rows).select(col("doc_id").as("key"), col("text").as("value"))
        .write.format("graft-kv").option("path", a.work.resolve("probe_kv").toString)
        .mode("append").save()
    }
    val decontamS = timed("probe.decontam") {
      Streams.decontamStream(docs(spark, rows), holdout)
        .write.format("noop").mode("overwrite").save()
    }
    var ledgerRows = 0L
    val ledgerS = timed("probe.ledger_read") {
      ledgerRows = OffsetLedger.read(spark, dirs.ledger.toString).count()
      OffsetLedger.lastCommittedEpoch(dirs.ledger.toString)
    }
    // the graft-kv ledger sink, for a few epochs of the same pipeline
    val kvEpochs = tracer.span("probe.kv_sink_stream", sc) {
      runStream(spark, tracer, "kv", Left(KvProbeEpochs), Kv)
    }
    Map("rows" -> rows, "docs_read_s" -> readS, "kv_write_s" -> kvS,
      "decontam_s" -> decontamS, "ledger_read_s" -> ledgerS, "ledger_rows" -> ledgerRows,
      "kv_sink_ms" -> kvEpochs.map(_("sink_ms")))
  }

  /** Writes the batch twin of every measured run: `decontamStream` over
    * a batch read of the same id window with the same holdout. */
  override def checkInputs(spark: SparkSession): Map[String, Any] =
    runs.toSeq.filterNot(_._1.startsWith("warm")).sortBy(_._1).map { case (tag, dirs) =>
      val ends = parseEnds(dirs.endOffsets)
      val twin = dirs.root.resolve("twin")
      if (ends.nonEmpty) {
        val maxId = ends.map { case (p, e) => e * TopicPartitions + p }.max
        Streams.decontamStream(docs(spark, maxId + 1).filter(windowFilter(ends)), holdout)
          .select("doc_id").coalesce(1).write.mode("overwrite").parquet(twin.toString)
      }
      tag -> Map("sink" -> dirs.sink.name, "ledger" -> dirs.ledger.toString, "out" -> dirs.out.toString,
        "twin" -> twin.toString, "window_rows" -> windowRows(ends),
        "holdout_docs" -> holdoutIds.size)
    }.toMap

  private def parseEnds(json: Option[String]): Map[Int, Long] =
    json.map(j => "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(j)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap).getOrElse(Map.empty)
}

object Ingest {
  sealed abstract class Sink(val name: String)
  case object Parquet extends Sink("parquet")
  case object Kv extends Sink("kv")

  val RowsPerBatch = 2000
  val Topic = "docs"
  val TopicPartitions = 4
  val HoldoutDocs = 100
  val HoldoutWords = 14
  val WarmEpochs = 8
  val KvProbeEpochs = 6
  private val HoldoutSchema = StructType(Seq(
    StructField("lang", StringType), StructField("shingle", StringType)))

  final case class RunDirs(root: Path, sink: Sink) {
    Files.createDirectories(root)
    val checkpoint: Path = root.resolve("checkpoint")
    val ledger: Path = root.resolve("ledger")
    val out: Path = root.resolve("out")
    @volatile var endOffsets: Option[String] = None
  }
}
