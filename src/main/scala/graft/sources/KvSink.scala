package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-kv`: a DataSource V2 SINK with a real two-phase commit
  * protocol — the write-side twin of [[DocsSource]], and the batch
  * generalization of the reference's "write data first, then commit
  * offsets" sink contract (OffsetLedger carries the streaming half).
  *
  * Schema contract: `(key: long, value: string)` — the Kafka-record
  * shape after payload parsing.
  *
  * Protocol (Hadoop commit v2 / FileOutputCommitter shape, on the
  * public `connector.write` API only):
  *  - each task writes `part-<queryId>-<partition>-<taskId>` into a
  *    hidden PER-JOB `_staging/<queryId>/` dir under the target —
  *    NEVER the target itself, so readers can't observe half-written
  *    output and concurrent appends can't touch each other's staged
  *    files; the manifest read-merge-move is serialized by an OS
  *    advisory lock on `_MANIFEST_LOCK` (crash-released by the
  *    kernel, so no staleness heuristic to race on). The
  *    queryId (a per-write UUID from [[LogicalWriteInfo]]) makes names
  *    unique ACROSS Spark applications — task ids restart at 0 in a
  *    new app, so without it a later append could collide with (and
  *    on POSIX rename, silently replace) an earlier job's file.
  *    Within one job, retried/speculative attempts get distinct task
  *    ids (Spark's contract), so an attempt produces a DIFFERENT
  *    staging file and only the winner's file is in the commit
  *    messages — duplicate work never lands twice;
  *  - driver-side [[KvBatchWrite.commit]] renames every staged file
  *    into the target (rename, not copy — atomic per file on a real
  *    FS), refusing — not overwriting — if a destination name already
  *    exists, then writes a `_SUCCESS` manifest LAST listing file
  *    names + row counts, MERGED with any prior manifest so an append
  *    extends the committed listing instead of orphaning it: a reader
  *    that requires the manifest sees each write all-or-nothing;
  *  - [[KvBatchWrite.abort]] deletes whatever staging files the failed
  *    job left, restoring the pre-write state byte-for-byte.
  *
  * At 100 TB the same protocol holds with object-store semantics: the
  * rename becomes a metadata move and the manifest the atomicity
  * point — which is exactly how table formats commit. SourcesSpec
  * proves both paths: a clean append lands atomically with an exact
  * manifest, and a mid-job task failure (`failPartition` option, first
  * attempt only) either aborts cleanly or retries to the same output —
  * never a partial/duplicated target.
  */
class KvSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KvSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KvTable(new CaseInsensitiveStringMap(properties))
}

object KvSink {
  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Test hook: partition ids whose FIRST write attempt throws (set of
    * longs encoded "0,3"); retried attempts succeed, exercising the
    * retry-is-a-new-staging-file path. Static because writer instances
    * are deserialized per task — options travel, attempt memory can't. */
  private[sources] val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

private[sources] class KvTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-kv(${options.get("path")})"
  override def schema(): StructType = KvSink.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(Array("key", "value")),
      s"graft-kv expects (key, value), got ${info.schema().fieldNames.mkString(",")}")
    val path = info.options.get("path")
    require(path != null, "graft-kv requires .option(\"path\", dir)")
    val failPartition = Option(info.options.get("failPartition")).map(_.toInt)
    val failManifest = info.options.getBoolean("failManifest", false)
    val queryId = info.queryId()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new KvBatchWrite(path, queryId, failPartition, failManifest)
      }
    }
  }
}

private[sources] case class KvCommitMessage(stagedPath: String, rows: Long)
    extends WriterCommitMessage

/** The per-job staging directory the engine's file sinks write into
  * before their commit renames: `<target>/_staging/<queryId>/`. The `_`
  * prefix, with no `=` in the name, hides it from Spark's file listing
  * and partition discovery and from pyarrow. */
private[sources] object Staging {
  def dir(path: String, queryId: String): Path = Paths.get(path, "_staging", queryId)

  /** Deletes one job's staged files and directory, and the `_staging`
    * root once it is empty: a sibling job's staged files are not ours to
    * remove. */
  def delete(path: String, queryId: String): Unit = {
    val staging = dir(path, queryId).toFile
    Option(staging.listFiles()).foreach(_.foreach(_.delete()))
    staging.delete()
    new File(path, "_staging").delete() // removes the root only when empty
  }
}

private[sources] object KvBatchWrite {
  /** Per-lock-path monitors: same-JVM committers must serialize BEFORE
    * touching the POSIX lock (see [[KvBatchWrite.withManifestLock]]). */
  val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
}

private[sources] class KvBatchWrite(path: String, queryId: String,
                                    failPartition: Option[Int],
                                    failManifest: Boolean = false)
    extends BatchWrite {

  // staging is PER-JOB (_staging/<queryId>/): two concurrent appends to
  // the same target can no longer delete each other's staged files at
  // commit time (r12 review). A crashed job's staging subdir lingers
  // until manually cleaned — hidden, unmanifested, invisible to readers.
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Staging.dir(path, queryId))
    new KvWriterFactory(path, queryId, failPartition)
  }

  // data files first, manifest LAST — the manifest is the atomicity point
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val moves = messages.map { case KvCommitMessage(staged, rows) =>
      val src = Paths.get(staged)
      (src, Paths.get(path, src.getFileName.toString), rows)
    }
    // never silently replace committed data: the queryId in the name
    // makes a collision impossible across jobs, so hitting one means a
    // protocol bug — check EVERY destination before moving ANY file, so
    // a failed commit leaves zero unmanifested files in the target
    moves.foreach { case (_, dst, _) =>
      require(!Files.exists(dst), s"graft-kv: destination already exists: $dst")
    }
    val published = scala.collection.mutable.ArrayBuffer.empty[(java.nio.file.Path, java.nio.file.Path)]
    // ANY failure before the manifest lands — a mid-sequence data move,
    // the prior-manifest read, the temp write, or the final
    // ATOMIC_MOVE — must not leave moved files published without a
    // manifest entry: return them to staging so abort()'s cleanup
    // contract ("failed commit leaves zero unmanifested files in the
    // target") holds for the WHOLE publication, not just the data moves
    def unpublish(): Unit = published.foreach { case (src, dst) =>
      try Files.move(dst, src, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: Throwable => () } // best effort; original error wins
    }
    try {
      val entries = moves.map { case (src, dst, rows) =>
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        published += ((src, dst))
        s"${dst.getFileName}:$rows"
      }
      // test hook: simulate the manifest publication itself failing
      // AFTER every data move landed — the rollback's hardest case
      if (failManifest)
        throw new RuntimeException("injected manifest failure")
      // merge with a prior append's manifest so the listing stays
      // complete; write-to-temp + ATOMIC_MOVE so a reader polling
      // _SUCCESS never observes a truncated or torn manifest and a crash
      // mid-rewrite cannot lose the prior append's committed listing.
      // The read-merge-move sequence is serialized across concurrent
      // committers by withManifestLock (OS advisory lock, see its doc),
      // or two appends racing here would each merge against the OTHER's
      // pre-commit manifest and the loser's entries would vanish from
      // the listing (r12 review).
      val manifest = Paths.get(path, "_SUCCESS")
      withManifestLock {
        val prior =
          if (Files.exists(manifest))
            new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
              .split("\n").filter(_.nonEmpty).toSeq
          else Seq.empty
        val tmp = Staging.dir(path, queryId).resolve("_SUCCESS.tmp")
        Files.write(tmp,
          (prior ++ entries).sorted.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        // POSIX rename replaces an existing manifest atomically; after
        // this point the write is committed and is never rolled back
        Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE)
      }
    } catch { case e: Throwable =>
      unpublish()
      throw e
    }
    Staging.delete(path, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = Staging.delete(path, queryId)

  /** Serializes the manifest read-merge-move across committers with an
    * OS advisory lock (`FileChannel.tryLock`) instead of the r12
    * create-exclusive file + mtime-staleness break. The staleness
    * heuristic had an unfixable race: committer B, acting on a stale
    * reading taken BEFORE committer A broke the lock and re-created a
    * fresh one, could delete A's fresh lock and acquire too — two
    * committers then ran the read-merge-move concurrently, the exact
    * lost-update the lock exists to prevent. The OS lock has no
    * staleness concept to race on: a crashed committer's lock is
    * released by the kernel when its fds close, so breaking is never
    * needed. Same-JVM committers (the local[32] reality) serialize on a
    * per-path monitor first, because POSIX file locks are per-process
    * (a second tryLock in the same JVM throws OverlappingFileLock
    * instead of waiting). The `_MANIFEST_LOCK` file itself is never
    * deleted — unlinking a file others are about to lock re-opens the
    * two-holders race (each locks a different inode); a permanent
    * underscore-hidden 0-byte file is the boring, correct choice. */
  private def withManifestLock[T](body: => T): T = {
    val lock = Paths.get(path, "_MANIFEST_LOCK")
    // monitor key is the NORMALIZED absolute path: two same-JVM writers
    // configured with different spellings of one sink dir (relative vs
    // absolute, trailing slash, ./ segments) must map to the SAME
    // monitor, or both would reach tryLock concurrently and the second
    // would see the first's lock as an overlap, not a wait (r13 review)
    val monitor = KvBatchWrite.jvmLocks.computeIfAbsent(
      lock.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(lock,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val deadline = System.nanoTime() + 60_000_000_000L // 60 s acquire budget
        var fl: java.nio.channels.FileLock = null
        while (fl == null) {
          // OverlappingFileLockException = same-JVM holder the monitor
          // didn't serialize (e.g. a path spelling normalize can't unify,
          // like a symlink alias) — retry like the held-by-other-process
          // case rather than failing the commit
          fl = try ch.tryLock()
               catch { case _: java.nio.channels.OverlappingFileLockException => null }
          if (fl == null) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(s"graft-kv: manifest lock $lock held too long")
            Thread.sleep(10)
          }
        }
        try body finally fl.release()
      } finally ch.close()
    }
  }
}

private[sources] class KvWriterFactory(path: String, queryId: String,
                                       failPartition: Option[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvWriter(path, queryId, partitionId, taskId, failPartition)
}

private[sources] class KvWriter(path: String, queryId: String, partitionId: Int,
                                taskId: Long, failPartition: Option[Int])
    extends DataWriter[InternalRow] {

  private val staged = Staging.dir(path, queryId).resolve(s"part-$queryId-$partitionId-$taskId")
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
  private var rows = 0L

  /** RFC4180 quoting: a value containing the delimiter, a quote or a
    * line break is quoted (with "" for embedded quotes) — without it a
    * legal value like "a,b" silently corrupted the record and broke
    * the manifest's row accounting (r12 review). Standard RFC4180
    * readers round-trip it; Spark's CSV reader needs
    * .option("escape", "\"") (its default escape is backslash) and
    * multiLine for embedded newlines. */
  private def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  override def write(row: InternalRow): Unit = {
    if (failPartition.contains(partitionId) && KvSink.failedOnce.add(partitionId))
      throw new RuntimeException(s"injected failure in partition $partitionId")
    out.write(s"${row.getLong(0)},${csvEscape(row.getUTF8String(1).toString)}\n")
    rows += 1
  }

  // a writer that never reaches commit() leaves only a staging file the
  // driver-side abort (or the next job's createBatchWriterFactory) removes
  override def commit(): WriterCommitMessage = {
    out.close()
    KvCommitMessage(staged.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
