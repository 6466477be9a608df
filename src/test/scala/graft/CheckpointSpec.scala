package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.{ConcurrentModificationException, UUID}

import scala.jdk.CollectionConverters._

import graft.streaming.{NioCheckpointFileManager, OffsetLedger}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.functions._

/** A local file system under its own scheme: a checkpoint path that is
  * not `file:` but that the test can still read back. */
class GraftSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
}

/** The streaming checkpoint contract under the engine's
  * [[NioCheckpointFileManager]], which every suite session uses: atomic,
  * never-overwriting WAL entries, resume across managers, and Spark's
  * own manager still reachable by name or by scheme. */
class CheckpointSpec extends SparkSpec {

  /** A session on the suite's context whose checkpoints go through
    * Spark's default `FileContext` manager, named explicitly. */
  private def sparkManagedSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(NioCheckpointFileManager.ClassKey, classOf[FileContextBasedCheckpointFileManager].getName)
    s
  }

  /** graft-docs rows [0, rows) at 100 a batch into the ledger sink, to
    * the end of the source. */
  private def ingest(session: SparkSession, rows: Int, ckpt: String, out: String, led: String): Unit = {
    val q = session.readStream.format("graft-docs")
      .option("rows", rows).option("rowsPerBatch", 100).option("partitions", 2)
      .load()
      .select(col("doc_id").as("event_id"), col("lang"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(OffsetLedger.sink(out, led) _)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The ledger's epochs are 0..K with no gap, and the sink holds every
    * id in [0, rows) exactly once. */
  private def assertGapFree(out: String, led: String, rows: Long): Unit = {
    val ledger = OffsetLedger.read(spark, led).orderBy("epoch_id").collect()
    assert(ledger.map(_.getAs[Long]("epoch_id")).toSeq === ledger.indices.map(_.toLong),
      "ledger epochs must be 0..K without a gap")
    assert(ledger.map(_.getAs[Long]("n_rows")).sum === rows)
    val ids = spark.read.parquet(s"$out/epoch=*").select("event_id")
    assert(ids.count() === rows)
    assert(ids.distinct().count() === rows, "no duplicate rows")
    assert(ids.agg(min("event_id"), max("event_id")).head() === Row(0L, rows - 1))
  }

  private def names(dir: String): Seq[String] = {
    val it = Files.list(Paths.get(dir))
    try it.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally it.close()
  }

  private def crcFiles(ckpt: String): Seq[String] =
    Seq("offsets", "commits").flatMap(d => names(s"$ckpt/$d").filter(_.endsWith(".crc")))

  private def publish(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def slurp(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a checkpoint written under Spark's FileContext manager resumes under the engine's, and the reverse") {
    // Spark's manager, then the engine's, on one checkpoint
    val ckpt1 = tempDir("graft_ckpt_x1")
    val (out1, led1) = (tempDir("graft_ckpt_x1_out"), tempDir("graft_ckpt_x1_led"))
    ingest(sparkManagedSession(), 300, ckpt1, out1, led1)
    assert(crcFiles(ckpt1).contains(".0.crc"), "the first run must have used Spark's manager")
    ingest(spark, 600, ckpt1, out1, led1)
    assert(names(s"$ckpt1/offsets").contains("5") && !crcFiles(ckpt1).exists(_.startsWith(".5.")),
      "the resumed run must have used the engine's manager")
    assertGapFree(out1, led1, 600)

    // the engine's manager, then Spark's
    val ckpt2 = tempDir("graft_ckpt_x2")
    val (out2, led2) = (tempDir("graft_ckpt_x2_out"), tempDir("graft_ckpt_x2_led"))
    ingest(spark, 300, ckpt2, out2, led2)
    assert(crcFiles(ckpt2).isEmpty)
    ingest(sparkManagedSession(), 600, ckpt2, out2, led2)
    assert(crcFiles(ckpt2).contains(".5.crc"), "the resumed run must have used Spark's manager")
    assertGapFree(out2, led2, 600)
  }

  test("two queries publishing one checkpoint's WAL entry still fail with Spark's concurrent-update error") {
    // What each query's MicroBatchExecution holds for offsets/: both logs
    // passed add()'s exists check for batch 0 and now publish it.
    class QueryWal(dir: String) extends HDFSMetadataLog[String](spark, dir) {
      def manager: CheckpointFileManager = fileManager
      def publish(batchId: Long, body: String): Unit =
        write(batchIdToPath(batchId), _.write(body.getBytes(UTF_8)))
    }
    val dir = s"${tempDir("graft_ckpt_race")}/offsets"
    val (first, second) = (new QueryWal(dir), new QueryWal(dir))
    assert(first.manager.isInstanceOf[NioCheckpointFileManager])
    first.publish(0, "first")
    val e = intercept[ConcurrentModificationException](second.publish(0, "second"))
    assert(e.isInstanceOf[SparkThrowable], "Spark's own error, not the manager's exception")
    assert(e.getMessage.contains("Multiple streaming queries are concurrently using"))
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException])
    assert(new String(Files.readAllBytes(Paths.get(dir, "0")), UTF_8) === "first",
      "the losing writer must not replace the entry")
    assert(names(dir) === Seq("0"), "the losing writer's temp file is removed")
  }

  test("createAtomic: cancel leaves no file, no-overwrite never replaces, overwrite replaces") {
    val dir = new Path(tempDir("graft_ckpt_atomic"))
    val fm = new NioCheckpointFileManager(dir, new Configuration(false))
    val f = new Path(dir, "0")

    val cancelled = fm.createAtomic(f, overwriteIfPossible = false)
    cancelled.write("lost".getBytes(UTF_8))
    cancelled.cancel()
    cancelled.close() // a close after cancel publishes nothing
    assert(names(dir.toString).isEmpty, "a cancelled create leaves neither the file nor its temp")
    assert(!fm.exists(f))

    publish(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](publish(fm, f, "second", overwrite = false))
    assert(slurp(fm, f) === "first")
    publish(fm, f, "third", overwrite = true)
    assert(slurp(fm, f) === "third")
    assert(names(dir.toString) === Seq("0"), "no temp file survives a publish")
  }

  test("open, list, mkdirs, exists and delete keep Hadoop's semantics on local paths") {
    val root = tempDir("graft_ckpt_ops")
    val dir = new Path(s"file:$root")
    val fm = new NioCheckpointFileManager(dir, new Configuration(false))
    assert(fm.isLocal)
    assert(fm.createCheckpointDirectory() === new Path(s"file:$root"))

    publish(fm, new Path(dir, "1"), "0123456789", overwrite = false)
    publish(fm, new Path(dir, "2.delta"), "x", overwrite = false)
    val listed = fm.list(dir, (p: Path) => p.getName != "2.delta")
    assert(listed.map(s => (s.getPath, s.getLen, s.isDirectory)).toSeq ===
      Seq((new Path(dir, "1"), 10L, false)))
    assert(fm.list(dir).map(_.getPath.getName).sorted.toSeq === Seq("1", "2.delta"))

    val in = fm.open(new Path(dir, "1"))
    try {
      in.seek(4)
      assert(in.read() === '4'.toInt && in.getPos === 5L)
      val buf = new Array[Byte](16)
      assert(in.read(buf, 0, 16) === 5 && new String(buf, 0, 5, UTF_8) === "56789")
      assert(in.read() === -1 && in.read(buf, 0, 16) === -1)
    } finally in.close()

    intercept[FileNotFoundException](fm.open(new Path(dir, "9")))
    intercept[FileNotFoundException](fm.list(new Path(dir, "absent")))
    fm.mkdirs(new Path(dir, "state/0/1"))
    publish(fm, new Path(dir, "state/0/1/1.delta"), "d", overwrite = true)
    assert(fm.exists(new Path(dir, "state/0/1/1.delta")))
    fm.delete(new Path(dir, "state")) // recursive
    fm.delete(new Path(dir, "absent")) // a missing path is not an error
    assert(!fm.exists(new Path(dir, "state")))
    assert(names(root) === Seq("1", "2.delta"))
  }

  test("a checkpoint off the local file system goes to the manager Spark would pick") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.graftfs.impl", classOf[GraftSchemeFs].getName)
    conf.setBoolean("fs.graftfs.impl.disable.cache", true)
    val root = tempDir("graft_ckpt_scheme")
    val fm = CheckpointFileManager.create(new Path(s"graftfs://$root"), conf)
    // no AbstractFileSystem for graftfs, so Spark's factory falls back
    // to its FileSystem-based manager
    assert(fm.asInstanceOf[NioCheckpointFileManager].impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
    publish(fm, new Path(s"graftfs://$root/0"), "via spark", overwrite = false)
    assert(new String(Files.readAllBytes(Paths.get(root, "0")), UTF_8) === "via spark")
    // `file:` and scheme-less local paths stay on the java.nio half
    for (p <- Seq(s"file:$root", root)) {
      val local = CheckpointFileManager.create(new Path(p), conf).asInstanceOf[NioCheckpointFileManager]
      assert(!local.impl.isInstanceOf[FileSystemBasedCheckpointFileManager] &&
        !local.impl.isInstanceOf[FileContextBasedCheckpointFileManager], p)
    }
  }

  test("a leftover .N.<uuid>.tmp is not read as batch N") {
    val ckpt = tempDir("graft_ckpt_tmp")
    val (out, led) = (tempDir("graft_ckpt_tmp_out"), tempDir("graft_ckpt_tmp_led"))
    ingest(spark, 200, ckpt, out, led) // epochs 0, 1
    // what a writer killed before its publish leaves behind
    for (d <- Seq("offsets", "commits"))
      Files.write(Paths.get(ckpt, d, s".2.${UUID.randomUUID}.tmp"), "not a batch".getBytes(UTF_8))
    ingest(spark, 400, ckpt, out, led) // must run epochs 2 and 3
    assertGapFree(out, led, 400)
  }

  test("after N epochs offsets/ and commits/ hold only their batch files: no .crc, no temp") {
    val ckpt = tempDir("graft_ckpt_clean")
    ingest(spark, 500, ckpt, tempDir("graft_ckpt_clean_out"), tempDir("graft_ckpt_clean_led"))
    for (d <- Seq("offsets", "commits"))
      assert(names(s"$ckpt/$d") === (0 until 5).map(_.toString), d)
    assert(!names(ckpt).exists(n => n.startsWith(".") || n.endsWith(".crc")))
  }

  test("a session that names Spark's manager gets it: its .crc files appear") {
    val ckpt = tempDir("graft_ckpt_named")
    ingest(sparkManagedSession(), 200, ckpt, tempDir("graft_ckpt_named_out"), tempDir("graft_ckpt_named_led"))
    assert(crcFiles(ckpt).sorted === Seq(".0.crc", ".0.crc", ".1.crc", ".1.crc"))
    // the context's default is untouched: the next session still gets the engine's
    assert(CheckpointFileManager.create(new Path(ckpt), new Configuration(spark.sparkContext.hadoopConfiguration))
      .isInstanceOf[NioCheckpointFileManager])
  }
}
