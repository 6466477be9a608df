package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{OffsetLedger, Streams}

/** Streaming soak: run the full rate → dedup → enrich → ledgered-sink
  * pipeline for a wall-clock bound and assert the ledger's end-to-end
  * invariants. The MemoryStream suites prove per-operator semantics at
  * toy scale; this is the regression net for the pipeline as a whole
  * under sustained micro-batching — epoch commit ordering, replay
  * markers, and back-to-back trigger pressure.
  *
  * Invariants checked (any violation → Left / nonzero exit):
  *  - ledger epochs must be exactly 0..K with no gaps (zero dropped
  *    epochs);
  *  - every committed epoch carries exactly rowsPerBatch rows (the
  *    rate-micro-batch contract surviving dedup + enrich untouched);
  *  - event_id coverage must be contiguous across epochs (min of epoch
  *    k = max of epoch k−1 + 1): no lost or replayed rows in the data;
  *  - every LEDGERED epoch's parquet partition must hold exactly its
  *    ledger row count. stop() may interrupt foreachBatch between the
  *    data write and the marker commit — that is the designed crash
  *    window (replay overwrites the epoch), so at most ONE trailing
  *    unledgered epoch directory is tolerated, and none before it.
  *
  * Usage: sbt "runMain graft.tools.Soak [seconds] [rowsPerBatch]"
  * (defaults 60 s, 5000 rows/batch); StreamingSpec runs a short one in
  * every suite run.
  */
object Soak {

  /** Run the pipeline for `seconds`; Left(violation) or
    * Right((committed epochs, total rows)). */
  def run(spark: SparkSession, seconds: Int, rowsPerBatch: Int): Either[String, (Int, Long)] = {
    val root = Files.createTempDirectory("graft_soak").toString
    val (outDir, ledgerDir, ckpt) = (s"$root/out", s"$root/ledger", s"$root/ckpt")
    // 16-row static dim keyed like the rate source's user_id — broadcast
    // per micro-batch, the stream side never shuffles
    val dim = spark.range(16)
      .select(col("id").as("user_id"),
        concat(lit("seg_"), (col("id") % 4).cast("string")).as("segment"))

    val q = Streams.enrich(
        Streams.dedupWithinWatermark(Streams.rateSource(spark, rowsPerBatch)),
        dim, "user_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(OffsetLedger.sink(outDir, ledgerDir) _)
      .start()
    val deadline = System.nanoTime() + seconds * 1000L * 1000 * 1000
    while (q.isActive && System.nanoTime() < deadline) Thread.sleep(500)
    val streamError = q.exception
    q.stop()
    q.awaitTermination()
    streamError.foreach(e => return Left(s"stream died: ${e.getMessage}"))

    val ledger = OffsetLedger.read(spark, ledgerDir)
      .orderBy("epoch_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    if (ledger.length < 3) return Left(s"only ${ledger.length} epochs committed in $seconds s")
    val epochs = ledger.map(_._1)
    if (epochs.head != 0L || !epochs.sameElements(epochs.indices.map(_.toLong)))
      return Left(s"epoch gap: ${epochs.mkString(",")}")
    ledger.find(_._2 != rowsPerBatch.toLong).foreach { case (e, n, _, _) =>
      return Left(s"epoch $e carried $n rows, expected $rowsPerBatch")
    }
    ledger.sliding(2).foreach {
      case Array((_, _, max1, _), (e2, _, _, min2)) =>
        if (min2 != max1 + 1) return Left(s"event_id gap before epoch $e2: $max1 -> $min2")
      case _ =>
    }
    // epoch=N partition dirs → per-epoch sink counts (partition values
    // infer as int — cast)
    val sunkByEpoch = spark.read.parquet(outDir)
      .groupBy(col("epoch").cast("long").as("epoch")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    ledger.foreach { case (e, n, _, _) =>
      if (sunkByEpoch.getOrElse(e, 0L) != n)
        return Left(s"epoch $e: sink has ${sunkByEpoch.getOrElse(e, 0L)} rows, ledger claims $n")
    }
    val unledgered = sunkByEpoch.keySet -- epochs.toSet
    if (unledgered.exists(_ <= epochs.last) || unledgered.size > 1)
      return Left(s"unledgered epoch dirs beyond the in-flight one: ${unledgered.mkString(",")}")
    Right((ledger.length, ledger.map(_._2).sum))
  }

  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(60)
    val rowsPerBatch = args.lift(1).map(_.toInt).getOrElse(5000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, seconds, rowsPerBatch) match {
      case Left(reason) =>
        println(s"""{"soak":"FAIL","reason":"$reason"}""")
        spark.stop()
        sys.exit(1)
      case Right((epochs, rows)) =>
        println(s"""{"soak":"PASS","seconds":$seconds,"epochs":$epochs,""" +
          s""""rows":$rows,"rows_per_sec":${rows / math.max(1, seconds)}}""")
        spark.stop()
    }
  }
}
