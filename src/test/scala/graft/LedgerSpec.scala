package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.streaming.{KafkaSource, OffsetLedger}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's core property, generalized: kill-and-restart resume
  * with no loss and no duplicate processing, via checkpoint WAL +
  * external offset ledger (SURVEY §2.9 s_offset_ledger). Uses the file
  * source (replayable, unlike MemoryStream) to survive a real query
  * restart. */
class LedgerSpec extends SparkSpec {

  private val evDDL = "event_id LONG, user_id LONG, value DOUBLE"

  test("streaming into the graft-kv 2PC sink is exactly-once across every replay window") {
    import spark.implicits._
    val kvReadDDL = "key LONG, value STRING"
    val outDir = tempDir("graft_kv_stream_out")
    val ledgerDir = tempDir("graft_kv_stream_led")
    def kvRows(): Set[(Long, String)] = {
      val partFiles = Files.walk(Paths.get(outDir)).iterator()
      val paths = scala.jdk.CollectionConverters.IteratorHasAsScala(partFiles).asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).map(_.toString).toSeq
      if (paths.isEmpty) Set.empty
      // the kv reader contract (KvWriter.csvEscape scaladoc): RFC4180
      // quoting, so Spark CSV needs escape=" (its default is backslash)
      // and multiLine for values with embedded newlines — without them
      // a value like `a"b` or `a\nb` round-trips corrupted
      else spark.read.schema(kvReadDDL)
        .option("escape", "\"").option("multiLine", "true")
        .csv(paths: _*)
        .as[(Long, String)].collect().toSet
    }
    // drive two epochs through the real engine
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("key", "value")
      .writeStream.option("checkpointLocation", tempDir("graft_kv_stream_ckpt"))
      .foreachBatch(OffsetLedger.kvSink(outDir, ledgerDir) _)
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val expect = Set(1L -> "a", 2L -> "b", 3L -> "c")
    assert(kvRows() === expect)
    assert(OffsetLedger.lastCommittedEpoch(ledgerDir) === Some(1L))

    val batch0 = Seq((1L, "a"), (2L, "b")).toDF("key", "value")
    // window 1 — redelivery after full commit (marker present): skip
    OffsetLedger.kvSink(outDir, ledgerDir)(batch0, 0L)
    assert(kvRows() === expect, "marker-present replay must be a no-op")
    // window 2 — crash between the kv commit and the marker: marker
    // missing, epoch dir already committed; replay must clear-and-
    // rewrite, not append duplicates
    Files.delete(Paths.get(ledgerDir, "epoch_000000000.json"))
    OffsetLedger.kvSink(outDir, ledgerDir)(batch0, 0L)
    assert(kvRows() === expect, "post-commit pre-marker replay must not duplicate")
    assert(Files.exists(Paths.get(ledgerDir, "epoch_000000000.json")))
    // and each committed epoch's kv manifest accounts for every row
    for ((epoch, n) <- Seq(0 -> 2, 1 -> 1)) {
      val manifest = new String(Files.readAllBytes(
        Paths.get(outDir, s"epoch=$epoch", "_SUCCESS"))).trim.split("\n")
      assert(manifest.map(_.split(":")(1).toLong).sum === n.toLong,
        s"epoch $epoch manifest must cover $n rows")
    }
  }

  test("foreachBatch ledger sink: resume after stop without loss or duplicates") {
    import spark.implicits._
    val srcDir = tempDir("graft_src")
    val outDir = tempDir("graft_out")
    val ledgerDir = tempDir("graft_ledger")
    val ckpt = tempDir("graft_ckpt")

    def startQuery() = spark.readStream
      .schema(evDDL)
      .parquet(srcDir)
      .writeStream
      .foreachBatch(OffsetLedger.sink(outDir, ledgerDir) _)
      .option("checkpointLocation", ckpt)
      .start()

    // epoch 0: first file
    Seq((1L, 10L, 1.0), (2L, 11L, 2.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // "crash"

    // data arrives while the job is down
    Seq((3L, 12L, 3.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)

    // restart from the same checkpoint: must pick up ONLY the new file
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val all = spark.read.parquet(s"$outDir/epoch=*").select("event_id").as[Long].collect().sorted
    assert(all.toList === List(1L, 2L, 3L), "no loss, no duplicates across restart")

    val ledger = OffsetLedger.read(spark, ledgerDir).orderBy("epoch_id").collect()
    assert(ledger.length >= 2)
    assert(ledger.map(_.getAs[Long]("n_rows")).sum === 3L)
    assert(OffsetLedger.lastCommittedEpoch(ledgerDir).exists(_ >= 1L))
  }

  test("sink skips a replayed epoch that already committed") {
    import spark.implicits._
    val outDir = tempDir("graft_out2")
    val ledgerDir = tempDir("graft_ledger2")
    val df = Seq((1L, 10L, 1.0)).toDF("event_id", "user_id", "value")

    OffsetLedger.sink(outDir, ledgerDir)(df, 5L)
    val firstWrite = Files.getLastModifiedTime(
      Paths.get(ledgerDir, "epoch_000000005.json"))

    // replay of epoch 5 (e.g. crash between commit and WAL write):
    // must be a no-op — data not rewritten, ledger row untouched
    OffsetLedger.sink(outDir, ledgerDir)(df.union(df), 5L)
    val ledger = OffsetLedger.read(spark, ledgerDir).collect()
    assert(ledger.length === 1)
    assert(ledger.head.getAs[Long]("n_rows") === 1L, "replay must not double-write")
    assert(Files.getLastModifiedTime(
      Paths.get(ledgerDir, "epoch_000000005.json")) === firstWrite)
  }

  test("crash window replay: data-written-no-marker epoch is overwrite-committed exactly once") {
    import spark.implicits._
    val outDir = tempDir("graft_out3")
    val ledgerDir = tempDir("graft_ledger3")

    // epoch 0 committed normally
    OffsetLedger.sink(outDir, ledgerDir)(
      Seq((1L, 10L, 1.0)).toDF("event_id", "user_id", "value"), 0L)

    // simulate the kill -9 window for epoch 1: the DATA parquet landed
    // but the process died before the marker — exactly the state
    // sinkImpl's halt hook produces (tools.SoakCrash proves it against
    // a real child-JVM halt; this is the deterministic in-test twin)
    Seq((2L, 11L, 2.0), (99L, 99L, 9.9)).toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$outDir/epoch=1")
    assert(!Files.exists(Paths.get(ledgerDir, "epoch_000000001.json")))

    // restart replays epoch 1 — possibly with DIFFERENT task output
    // than the half-written attempt; the overwrite-then-mark ordering
    // must erase the partial attempt, never merge with it
    val replay = Seq((2L, 11L, 2.0), (3L, 12L, 3.0)).toDF("event_id", "user_id", "value")
    OffsetLedger.sink(outDir, ledgerDir)(replay, 1L)

    val epoch1 = spark.read.parquet(s"$outDir/epoch=1")
      .select("event_id").as[Long].collect().sorted
    assert(epoch1.toList === List(2L, 3L),
      "replay must overwrite the pre-crash partial attempt wholesale")
    val ledger = OffsetLedger.read(spark, ledgerDir).orderBy("epoch_id").collect()
    assert(ledger.map(_.getAs[Long]("epoch_id")).toList === List(0L, 1L))
    assert(ledger.last.getAs[Long]("n_rows") === 2L)

    // a SECOND replay of the now-committed epoch is a pure no-op
    OffsetLedger.sink(outDir, ledgerDir)(replay.union(replay), 1L)
    assert(spark.read.parquet(s"$outDir/epoch=1").count() === 2L)
  }

  /** Every file and directory under `dir`, relative to it. */
  private def tree(dir: String): Seq[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.map(p => Paths.get(dir).relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("the parquet sink reads back like df.write.parquet: schema, nullability and rows") {
    val frame = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'a', 1.5D, CAST(12.34 AS DECIMAL(10, 2)), DATE'2024-02-29',
        |   TIMESTAMP'2024-02-29 12:34:56.789', array(1, NULL, 3),
        |   map('k', 1.0D, 'n', CAST(NULL AS DOUBLE)), named_struct('x', 7, 'y', 'q')),
        |  (2L, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        |  (3L, '', -0.0D, CAST(-99999999.99 AS DECIMAL(10, 2)), DATE'1900-01-01',
        |   TIMESTAMP'1900-01-01 00:00:00', array(), map(), named_struct('x', NULL, 'y', NULL))
        |AS t(event_id, s, d, dec, dt, ts, arr, m, st)""".stripMargin)
      // a non-nullable column next to the nullable ones
      .withColumn("k", lit(7L))
    assert(!frame.schema("k").nullable && frame.schema("s").nullable)
    val outDir = tempDir("graft_twin_out")
    val ref = tempDir("graft_twin_ref")
    OffsetLedger.sink(outDir, tempDir("graft_twin_led"))(frame, 0L)
    frame.write.mode("overwrite").parquet(ref)
    val got = spark.read.parquet(s"$outDir/epoch=0")
    val want = spark.read.parquet(ref)
    assert(got.schema === want.schema)
    assert(got.schema.map(_.nullable) === want.schema.map(_.nullable))
    assert(got.orderBy("event_id").collect().toSeq === want.orderBy("event_id").collect().toSeq)
    // Spark's reader relaxes every column to nullable, so compare the
    // files themselves: parquet schema (required vs optional), Spark's
    // row metadata and the codec
    def footer(dir: String) = {
      val part = Paths.get(dir, tree(dir).filter(n => n.startsWith("part-") && n.endsWith(".parquet")).head)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(part))
      try {
        val meta = reader.getFooter
        (meta.getFileMetaData.getSchema,
          meta.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
          meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
      } finally reader.close()
    }
    assert(footer(s"$outDir/epoch=0") === footer(ref))
    // only part files: no _SUCCESS, no .crc, no staging left behind
    assert(tree(s"$outDir/epoch=0").filter(_.nonEmpty)
      .forall(n => n.startsWith("part-") && n.endsWith(".parquet")), tree(s"$outDir/epoch=0"))
  }

  test("a parquet sink task failing its first attempt leaves each row once and no staged file") {
    val outDir = tempDir("graft_taskfail_out")
    val ledgerDir = tempDir("graft_taskfail_led")
    val batch = spark.range(0, 1000, 1, 4).select(col("id").as("event_id"), col("id").cast("string").as("text"))
    def write(): Unit = OffsetLedger.sinkImpl(outDir, ledgerDir, None, failPartition = Some(1))(batch, 0L)
    // with task retries the retried attempt commits in the same job;
    // without them (local[N]) the job aborts and the replay rewrites
    scala.util.Try(within(2.minutes)(write())).failed.foreach { e =>
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected failure in partition 1")), e)
      assert(OffsetLedger.lastCommittedEpoch(ledgerDir).isEmpty, "no marker after an aborted write")
      assert(!tree(outDir).exists(_.contains("_staging")), s"abort left staged files: ${tree(outDir)}")
      within(2.minutes)(write())
    }
    val ids = spark.read.parquet(s"$outDir/epoch=0").select("event_id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq === (0L until 1000L), "each row exactly once")
    assert(!tree(outDir).exists(_.contains("_staging")), tree(outDir))
    assert(marker(ledgerDir, 0L).contains("\"n_rows\":1000,"))
  }

  test("a killed job's staged parquet is invisible to epoch=* readers and its replay removes it") {
    import spark.implicits._
    val outDir = tempDir("graft_staged_out")
    val ledgerDir = tempDir("graft_staged_led")
    OffsetLedger.sink(outDir, ledgerDir)(Seq((1L, "a"), (2L, "b")).toDF("event_id", "text"), 0L)
    // what a job killed mid-write leaves for epoch 1: a staged, complete
    // part file under the epoch's hidden staging dir, and no marker
    val staged = Paths.get(outDir, "epoch=1", "_staging", java.util.UUID.randomUUID().toString)
    Files.createDirectories(staged)
    val part0 = tree(s"$outDir/epoch=0").filter(_.startsWith("part-")).head
    Files.copy(Paths.get(outDir, "epoch=0", part0), staged.resolve(part0))
    def ids(): Seq[Long] = spark.read.parquet(s"$outDir/epoch=*").select("event_id").as[Long].collect().toSeq.sorted
    assert(ids() === Seq(1L, 2L), "staged rows must not be visible")
    OffsetLedger.sink(outDir, ledgerDir)(Seq((3L, "c")).toDF("event_id", "text"), 1L)
    assert(ids() === Seq(1L, 2L, 3L))
    assert(!tree(outDir).exists(_.contains("_staging")), tree(outDir))
    assert(OffsetLedger.lastCommittedEpoch(ledgerDir) === Some(1L))
  }

  /** The two ledger sinks, each with the column pair it ledgers: the
    * parquet sink takes its stats from `event_id`, the kv sink from
    * `key` (and graft-kv requires exactly `(key, value)`). */
  private val ledgerSinks: Seq[(String, String, String, (String, String) => (DataFrame, Long) => Unit)] = Seq(
    ("sink", "event_id", "text", (out, led) => OffsetLedger.sink(out, led) _),
    ("kvSink", "key", "value", (out, led) => OffsetLedger.kvSink(out, led) _))

  private def marker(ledgerDir: String, epoch: Long): String =
    new String(Files.readAllBytes(Paths.get(ledgerDir, f"epoch_$epoch%09d.json")), "UTF-8")

  /** Runs `body` on another thread and fails the test if it has not
    * finished within `limit`, so a commit that waits forever on its
    * stats fails instead of hanging the suite. */
  private def within[T](limit: FiniteDuration)(body: => T): T = {
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future(body), limit)
  }

  /** Rows a committed kv epoch holds, read through its part files (the
    * RFC4180 reader contract of [[OffsetLedger.kvSink]]). */
  private def kvEpoch(outDir: String, epoch: Long): DataFrame = {
    val walk = Files.walk(Paths.get(outDir, s"epoch=$epoch"))
    val parts = try walk.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).map(_.toString).toSeq
      finally walk.close()
    spark.read.schema("key LONG, value STRING")
      .option("escape", "\"").option("multiLine", "true").csv(parts: _*)
  }

  test("an empty epoch commits zero rows and -1 ids from both sinks, zero-partition inputs included") {
    import spark.implicits._
    for ((name, idCol, payload, sinkFor) <- ledgerSinks) {
      val ddl = StructType.fromDDL(s"$idCol LONG, $payload STRING")
      val empties = Seq(
        "empty local frame" -> Seq.empty[(Long, String)].toDF(idCol, payload),
        "range(0)" -> spark.range(0).select(col("id").as(idCol), col("id").cast("string").as(payload)),
        "emptyRDD" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ddl),
        "limit(0)" -> Seq((1L, "a")).toDF(idCol, payload).limit(0))
      for (((what, df), epoch) <- empties.zipWithIndex) {
        val outDir = tempDir(s"graft_empty_out_$name")
        val ledgerDir = tempDir(s"graft_empty_led_$name")
        within(2.minutes)(sinkFor(outDir, ledgerDir)(df, epoch.toLong))
        assert(marker(ledgerDir, epoch.toLong).contains(
          "\"n_rows\":0,\"max_event_id\":-1,\"min_event_id\":-1"), s"$name, $what")
      }
    }
  }

  test("a failing epoch write propagates without hanging and leaves no marker") {
    for ((name, idCol, payload, sinkFor) <- ledgerSinks) {
      val outDir = tempDir(s"graft_fail_out_$name")
      val ledgerDir = tempDir(s"graft_fail_led_$name")
      val failing = spark.range(0, 10, 1, 2).select(
        when(col("id") === 7, raise_error(lit("injected write failure"))).otherwise(col("id")).as(idCol),
        col("id").cast("string").as(payload))
      val e = intercept[Exception](within(2.minutes)(sinkFor(outDir, ledgerDir)(failing, 3L)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected write failure")), name)
      assert(OffsetLedger.lastCommittedEpoch(ledgerDir).isEmpty, s"$name: no marker after a failed write")
    }
  }

  test("the ledger's stats describe exactly the rows written, on a non-deterministic batch") {
    for ((name, idCol, payload, sinkFor) <- ledgerSinks) {
      val outDir = tempDir(s"graft_nd_out_$name")
      val ledgerDir = tempDir(s"graft_nd_led_$name")
      val batch = spark.range(0, 10000, 1, 4).filter(rand() < 0.5)
        .select(col("id").as(idCol), col("id").cast("string").as(payload))
      sinkFor(outDir, ledgerDir)(batch, 0L)
      val written = if (name == "sink") spark.read.parquet(s"$outDir/epoch=0") else kvEpoch(outDir, 0L)
      val Row(n: Long, hi: Long, lo: Long) =
        written.agg(count(lit(1)), max(col(idCol)), min(col(idCol))).head()
      val ledger = OffsetLedger.read(spark, ledgerDir).head()
      assert((ledger.getAs[Long]("n_rows"), ledger.getAs[Long]("max_event_id"),
        ledger.getAs[Long]("min_event_id")) === ((n, hi, lo)), name)
      if (name == "kvSink") {
        val manifest = new String(Files.readAllBytes(Paths.get(outDir, "epoch=0", "_SUCCESS")))
          .trim.split("\n").map(_.split(":")(1).toLong).sum
        assert(manifest === n, "kv manifest row count")
      }
    }
  }

  test("a ledger epoch runs one Spark job: the data write") {
    import spark.implicits._
    val sc = spark.sparkContext
    for ((name, idCol, payload, sinkFor) <- ledgerSinks) {
      val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF(idCol, payload)
      val group = s"ledger_epoch_$name"
      sc.setJobGroup(group, name)
      try sinkFor(tempDir(s"graft_jobs_out_$name"), tempDir(s"graft_jobs_led_$name"))(batch, 0L)
      finally sc.clearJobGroup()
      // the status store is fed by the listener bus in event order: once
      // a job started after the sink is visible, so are the sink's jobs
      val fence = s"${group}_fence"
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sc.statusTracker.getJobIdsForGroup(fence).length === 1)
      assert(sc.statusTracker.getJobIdsForGroup(group).length === 1, name)
    }
  }

  test("end-to-end pipeline: rate source → watermark dedup → dim enrich → ledger sink") {
    import graft.streaming.Streams
    import spark.implicits._
    val outDir = tempDir("graft_pipe_out")
    val ledgerDir = tempDir("graft_pipe_ledger")
    val ckpt = tempDir("graft_pipe_ckpt")
    val dim = Seq((0L, "t0"), (1L, "t1"), (2L, "t2")).toDF("user_id", "tier")

    val piped = Streams.enrich(
      Streams.dedupWithinWatermark(Streams.rateSource(spark, rowsPerBatch = 20)),
      dim, "user_id")
    val q = piped.writeStream
      .foreachBatch(OffsetLedger.sink(outDir, ledgerDir) _)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val out = spark.read.parquet(s"$outDir/epoch=*")
    val n = out.count()
    assert(n >= 20 && n % 20 === 0, s"full rate batches expected, got $n")
    // dedup: event_ids unique end-to-end
    assert(out.select("event_id").distinct().count() === n)
    // enrich: users 0..2 got a tier, the rest stayed null (left join)
    assert(out.filter(col("user_id") < 3 && col("tier").isNull).isEmpty)
    assert(out.filter(col("user_id") >= 3 && col("tier").isNotNull).isEmpty)
    // ledger agrees with the sink contents
    assert(OffsetLedger.read(spark, ledgerDir)
      .agg(sum("n_rows")).head().getLong(0) === n)
  }

  test("restart positioned from the ledger itself: fresh checkpoint, no loss, no dup") {
    // The reference pattern's OTHER half: the checkpoint is gone (full
    // migration / new cluster), and the stream is positioned at startup
    // purely from the external offset store — here, the max committed
    // event_id read back from the ledger.
    import spark.implicits._
    val srcDir = tempDir("graft_src_lp")
    val out1 = tempDir("graft_out_lp1"); val led1 = tempDir("graft_led_lp1")
    val out2 = tempDir("graft_out_lp2"); val led2 = tempDir("graft_led_lp2")

    Seq((1L, 10L, 1.0), (2L, 11L, 2.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = spark.readStream.schema(evDDL).parquet(srcDir)
      .writeStream.foreachBatch(OffsetLedger.sink(out1, led1) _)
      .option("checkpointLocation", tempDir("graft_ckpt_lp1"))
      .start()
    q1.processAllAvailable(); q1.stop() // incarnation 1 dies; checkpoint is LOST

    // position from the ledger alone (the ZK-read-at-startup equivalent)
    val resumeFrom = OffsetLedger.read(spark, led1)
      .agg(max("max_event_id")).head().getLong(0)
    assert(resumeFrom === 2L)

    Seq((3L, 12L, 3.0), (4L, 13L, 4.0)).toDF("event_id", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)

    // incarnation 2: FRESH checkpoint re-reads every file; the ledger
    // position filters the already-committed prefix out of the stream
    val q2 = spark.readStream.schema(evDDL).parquet(srcDir)
      .filter(col("event_id") > resumeFrom)
      .writeStream.foreachBatch(OffsetLedger.sink(out2, led2) _)
      .option("checkpointLocation", tempDir("graft_ckpt_lp2"))
      .start()
    q2.processAllAvailable(); q2.stop()

    val all = spark.read.parquet(s"$out1/epoch=*")
      .union(spark.read.parquet(s"$out2/epoch=*"))
      .select("event_id").as[Long].collect().sorted
    assert(all.toList === List(1L, 2L, 3L, 4L),
      "ledger-positioned restart must neither lose nor duplicate events")
  }

  test("empty ledger reads as an empty frame; malformed foreign markers are dropped") {
    val dir = tempDir("graft_led_empty")
    assert(OffsetLedger.read(spark, dir).isEmpty, "fresh ledger dir")
    assert(OffsetLedger.lastCommittedEpoch(dir).isEmpty)
    // a foreign writer's truncated marker must not surface as a phantom
    // committed epoch (our own writer can't produce one: ATOMIC_MOVE)
    Files.write(Paths.get(dir, "epoch_000000007.json"), "{\"epoch_id\":".getBytes("UTF-8"))
    assert(OffsetLedger.read(spark, dir).isEmpty, "truncated marker dropped")
  }

  test("custom DSv2 source drives the ledger sink: offsets, ledger and data agree") {
    // The full reference shape on owned code end-to-end: an offset-
    // tracked custom source (graft-docs, admission-controlled long
    // offset) feeding the transactional ledger sink — Kafka's role and
    // ZooKeeper's role, both under test on this box.
    val outDir = tempDir("graft_dsv2_out")
    val ledgerDir = tempDir("graft_dsv2_ledger")
    val ckpt = tempDir("graft_dsv2_ckpt")

    def run(): Unit = {
      val q = spark.readStream.format("graft-docs")
        .option("rows", 250).option("rowsPerBatch", 100).option("partitions", 2)
        .load()
        .withColumnRenamed("doc_id", "event_id") // sink ledgers event_id stats
        .writeStream
        .foreachBatch(OffsetLedger.sink(outDir, ledgerDir) _)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()

    val out = spark.read.parquet(s"$outDir/epoch=*")
    assert(out.count() === 250)
    assert(out.select("event_id").distinct().count() === 250, "no duplicates")
    // ledger rows tile the id space contiguously: batch k covers
    // [100k, min(100k+100, 250)) — offsets and data cannot drift
    val ledger = OffsetLedger.read(spark, ledgerDir)
      .filter(col("n_rows") > 0).orderBy("epoch_id").collect()
    assert(ledger.map(_.getAs[Long]("n_rows")).sum === 250L)
    ledger.foreach { r =>
      assert(r.getAs[Long]("max_event_id") - r.getAs[Long]("min_event_id") + 1
        === r.getAs[Long]("n_rows"), s"epoch must cover a contiguous range: $r")
    }
    // restart on the drained checkpoint emits nothing new
    run()
    assert(spark.read.parquet(s"$outDir/epoch=*").count() === 250)
  }

  test("kafka startingOffsets JSON mirrors the stored-offset resume pattern") {
    assert(KafkaSource.startingOffsetsJson("events", Map(0 -> 42L, 1 -> 7L)) ===
      """{"events":{"0":42,"1":7}}""")
  }

  test("startingOffsets JSON round-trips arbitrary partition/offset maps") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // what the kafka source actually does with this string: parse it as
    // JSON {topic: {partition: offset}} — so the property is parse∘render
    // = identity over arbitrary maps, including the -1/-2 sentinel
    // offsets (latest/earliest) the option format allows
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parseBack(json: String): (String, Map[Int, Long]) = {
      val root = mapper.readTree(json)
      val topics = root.properties().iterator()
      val t = topics.next()
      assert(!topics.hasNext, s"exactly one topic expected: $json")
      val parts = scala.collection.mutable.Map.empty[Int, Long]
      t.getValue.properties().forEach { e =>
        assert(e.getValue.isIntegralNumber, s"offset must be a JSON number: $json")
        parts += e.getKey.toInt -> e.getValue.asLong()
      }
      (t.getKey, parts.toMap)
    }
    val offsetGen = Gen.frequency(
      8 -> Gen.choose(0L, Long.MaxValue),
      1 -> Gen.const(-1L), // latest
      1 -> Gen.const(-2L)) // earliest
    val mapGen = Gen.mapOf(Gen.zip(Gen.choose(0, 9999), offsetGen))
    val topicGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val prop = Prop.forAll(topicGen, mapGen) { (topic, offsets) =>
      parseBack(KafkaSource.startingOffsetsJson(topic, offsets)) == (topic -> offsets)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"round-trip property failed: ${res.status}")
  }

  test("the engine's own parser inverts startingOffsetsJson (what graft-docs consumes)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // parseStartingOffsetsJson is the consuming half actually wired
    // into the graft-docs startingOffset option — same identity
    // property as the jackson-based check above, but through the
    // shipped parser, plus loud rejection of non-resume-shaped input
    val offsetGen = Gen.frequency(
      8 -> Gen.choose(0L, Long.MaxValue),
      1 -> Gen.const(-1L), 1 -> Gen.const(-2L))
    val mapGen = Gen.nonEmptyMap(Gen.zip(Gen.choose(0, 9999), offsetGen))
    val topicGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val prop = Prop.forAll(topicGen, mapGen) { (topic, offsets) =>
      KafkaSource.parseStartingOffsetsJson(
        KafkaSource.startingOffsetsJson(topic, offsets)) == Map(topic -> offsets)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"parse∘render identity failed: ${res.status}")
    intercept[IllegalArgumentException](KafkaSource.parseStartingOffsetsJson("earliest"))
    intercept[IllegalArgumentException](KafkaSource.parseStartingOffsetsJson("{}"))
    // totality: unparseable or ambiguous entries must REJECT, never
    // silently reposition the stream (r12 review)
    intercept[IllegalArgumentException](
      KafkaSource.parseStartingOffsetsJson("""{"docs":{"0":100,"p1":500}}"""))
    intercept[IllegalArgumentException](
      KafkaSource.parseStartingOffsetsJson("""{"t":{"0":100,"0":200}}"""))
    intercept[IllegalArgumentException](
      KafkaSource.parseStartingOffsetsJson("""{"t":{"0":1},"t":{"0":2}}"""))
    intercept[IllegalArgumentException](
      KafkaSource.parseStartingOffsetsJson("""{"t":{"0":1} garbage}"""))
    // graft-docs layer: plain long and single-partition JSON both land
    // on the same position; multi-partition JSON positions each
    // partition independently; a SUBSET positions only the named ones
    // (the rest start at 0, Kafka's rule); naming a partition the
    // source doesn't have is a config error, as is the ambiguous
    // plain-long form over a multi-partition source
    assert(graft.sources.DocsSource.parseStartingOffsets("300", 1) === Map(0 -> 300L))
    assert(graft.sources.DocsSource.parseStartingOffsets("""{"docs":{"0":300}}""", 1) ===
      Map(0 -> 300L))
    assert(graft.sources.DocsSource.parseStartingOffsets("""{"docs":{"0":1,"1":2}}""", 2) ===
      Map(0 -> 1L, 1 -> 2L))
    assert(graft.sources.DocsSource.parseStartingOffsets("""{"docs":{"1":7}}""", 3) ===
      Map(1 -> 7L))
    intercept[IllegalArgumentException](
      graft.sources.DocsSource.parseStartingOffsets("""{"docs":{"0":1,"1":2}}""", 1))
    intercept[IllegalArgumentException](
      graft.sources.DocsSource.parseStartingOffsets("300", 2))
  }

  test("clampToRange recovers out-of-range stored offsets and reports every adjustment") {
    // the reference pattern's explicit pre-stream check: retention
    // expired past the ledger (p0), ledger ahead of a truncated topic
    // (p1), in-range (p2), partition added since the last run (p3)
    val (clamped, report) = KafkaSource.clampToRange(
      stored = Map(0 -> 5L, 1 -> 900L, 2 -> 50L),
      earliest = Map(0 -> 10L, 1 -> 0L, 2 -> 40L, 3 -> 0L),
      latest = Map(0 -> 100L, 1 -> 80L, 2 -> 60L, 3 -> 20L))
    assert(clamped === Map(0 -> 10L, 1 -> 80L, 2 -> 50L, 3 -> 0L))
    assert(report.size === 3, report.mkString("; "))
    assert(report.exists(_.contains("5 offsets lost to retention")))
  }

  test("clampToRange survives a rebalance: revoked partitions drop loudly, adopted ones start at earliest") {
    // the two rebalance faces the r10 verdict called untested: the
    // broker stops reporting partitions the ledger still holds
    // (revocation / topic recreated narrower), and reports partitions
    // the ledger has never seen (adoption / partition count grew) —
    // possibly both in one restart
    val (clamped, report) = KafkaSource.clampToRange(
      stored = Map(0 -> 42L, 1 -> 7L, 5 -> 99L), // p5: broker no longer has it
      earliest = Map(0 -> 0L, 1 -> 0L, 2 -> 0L, 3 -> 0L), // p2,p3: adopted
      latest = Map(0 -> 100L, 1 -> 100L, 2 -> 10L, 3 -> 0L))
    // the resume map covers EXACTLY the broker's partitions — a revoked
    // partition must not linger (startingOffsets JSON with an unknown
    // partition fails the kafka source), an adopted one must be present
    assert(clamped.keySet === Set(0, 1, 2, 3))
    assert(clamped === Map(0 -> 42L, 1 -> 7L, 2 -> 0L, 3 -> 0L))
    // ... and neither transition is silent
    assert(report.exists(r => r.contains("partition 5") && r.contains("no longer reports")),
      report.mkString("; "))
    assert(report.count(_.contains("no stored offset, starting at earliest")) === 2)
    // the surviving map renders into a valid resume JSON
    assert(KafkaSource.startingOffsetsJson("events", clamped) ===
      """{"events":{"0":42,"1":7,"2":0,"3":0}}""")
  }

  test("clampToRange rebalance property: resume map always equals the broker's partition set") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // arbitrary overlap between stored and broker partition sets —
    // subsets, supersets, disjoint — the resume map must always cover
    // exactly the broker's partitions, every dropped stored partition
    // must be reported, and report size must equal the number of
    // partitions that changed (revoked + adopted + clamped)
    val partGen = Gen.choose(0, 12)
    val gen = for {
      brokerParts <- Gen.containerOf[Set, Int](partGen)
      storedParts <- Gen.containerOf[Set, Int](partGen)
      los <- Gen.listOfN(brokerParts.size, Gen.choose(0L, 100L))
      spans <- Gen.listOfN(brokerParts.size, Gen.choose(0L, 100L))
      offs <- Gen.listOfN(storedParts.size, Gen.choose(0L, 250L))
    } yield {
      val earliest = brokerParts.toSeq.sorted.zip(los).toMap
      val latest = earliest.map { case (p, lo) =>
        p -> (lo + spans(brokerParts.toSeq.sorted.indexOf(p))) }
      val stored = storedParts.toSeq.sorted.zip(offs).toMap
      (stored, earliest, latest)
    }
    val prop = Prop.forAll(gen) { case (stored, earliest, latest) =>
      val (clamped, report) = KafkaSource.clampToRange(stored, earliest, latest)
      val revoked = stored.keySet -- earliest.keySet
      val adopted = earliest.keySet -- stored.keySet
      val moved = earliest.keySet.intersect(stored.keySet)
        .filter(p => stored(p) < earliest(p) || stored(p) > latest(p))
      clamped.keySet == earliest.keySet &&
        clamped.forall { case (p, o) => earliest(p) <= o && o <= latest(p) } &&
        report.size == revoked.size + adopted.size + moved.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"rebalance property failed: ${res.status}")
  }

  test("clampToRange is identity (and silent) exactly when every offset is in range") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val entry = for {
      p <- Gen.choose(0, 16)
      lo <- Gen.choose(0L, 1000L)
      span <- Gen.choose(0L, 1000L)
      off <- Gen.choose(-100L, 2100L)
    } yield (p, lo, lo + span, off)
    val prop = Prop.forAll(Gen.mapOfN(6, entry.map(e => e._1 -> e))) { m =>
      val earliest = m.map { case (p, (_, lo, _, _)) => p -> lo }
      val latest = m.map { case (p, (_, _, hi, _)) => p -> hi }
      val stored = m.map { case (p, (_, _, _, off)) => p -> off }
      val (clamped, report) = KafkaSource.clampToRange(stored, earliest, latest)
      val inRange = clamped.forall { case (p, o) => earliest(p) <= o && o <= latest(p) }
      val allGood = stored.forall { case (p, o) => earliest(p) <= o && o <= latest(p) }
      // clamped is always serveable, report fires iff something moved,
      // and in-range inputs pass through byte-identical
      inRange && (report.isEmpty == allGood) && (!allGood || clamped == stored)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"clamp property failed: ${res.status}")
  }

  test("parseEv handles the kafka source schema, null keys and malformed values") {
    import spark.implicits._
    // the exact column set spark-sql-kafka exposes; keys are nullable
    // (unkeyed producers), values can be foreign bytes
    val good = """{"event_id":1,"ts":"2026-01-01 00:00:00","user_id":5,"event_type":"view","value":1.5}"""
    val rows = Seq(
      (null.asInstanceOf[Array[Byte]], good.getBytes("UTF-8"), "events", 0, 0L,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 0),
      ("k1".getBytes("UTF-8"),
        """{"event_id":2,"ts":"2026-01-02 12:30:00","user_id":6,"event_type":"click","value":-0.5}"""
          .getBytes("UTF-8"), "events", 1, 7L,
        java.sql.Timestamp.valueOf("2026-01-02 12:30:01"), 0),
      (null.asInstanceOf[Array[Byte]], "not json".getBytes("UTF-8"), "events", 0, 1L,
        java.sql.Timestamp.valueOf("2026-01-03 00:00:00"), 0))
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val parsed = KafkaSource.parseEv(rows).orderBy(asc_nulls_last("event_id"))
    assert(parsed.schema.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value"))
    val out = parsed.collect()
    assert(out.length === 3, "row count preserved (null keys must not drop rows)")
    assert(out(0).getLong(0) === 1L && out(0).getString(3) === "view")
    assert(out(0).getTimestamp(1) === java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(out(1).getLong(0) === 2L && out(1).getDouble(4) === -0.5)
    // malformed value → all-null typed row, never an exception
    assert((0 until 5).forall(out(2).isNullAt), s"malformed value must parse to nulls: ${out(2)}")
  }
}
