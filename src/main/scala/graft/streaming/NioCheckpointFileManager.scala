package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's streaming checkpoint files (the offset WAL `offsets/N`, the
  * commit log `commits/N`, `metadata`, `sources/` and the state-store
  * delta/snapshot files) written through `java.nio` on a local
  * checkpoint. Every session built with [[graft.functions.GraftExtensions]]
  * names this class as its default checkpoint manager.
  *
  * Spark's own manager for `file:` paths goes through Hadoop's
  * `FileContext` and `RawLocalFileSystem`. Without the native Hadoop
  * library that forks `readlink` and `chmod` processes for each file, and
  * each file gets a `.crc` sibling. This manager keeps the contract the
  * WAL's exactly-once guarantee rests on and nothing more:
  *  - `createAtomic` writes a hidden `.<name>.<uuid>.tmp` beside the
  *    target and publishes it on `close`: an `ATOMIC_MOVE` when
  *    overwriting is allowed, a hard link otherwise, so an existing
  *    target is never replaced and a second writer gets Hadoop's
  *    `FileAlreadyExistsException` (Spark turns it into its
  *    concurrent-query error). A local checkpoint therefore needs a file
  *    system with hard links, which every POSIX one has;
  *  - `cancel` deletes the temp file;
  *  - like Spark's local manager, nothing is fsynced.
  * A checkpoint on another file system (any scheme but `file`) goes to
  * the manager Spark's own factory picks when this class is not named. */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) LocalFiles
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()

  /** The local-path half: every operation is a `java.nio.file` call. */
  private object LocalFiles extends CheckpointFileManager {
    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(tmp, target, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream =
      new FSDataInputStream(new ChannelInput(notFound(p)(FileChannel.open(nio(p)))))

    /** Like Hadoop's listing: a missing directory is a
      * `FileNotFoundException`. An entry that vanishes between the listing
      * and its stat (a temp file being published) is left out. */
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val entries = notFound(p)(Files.list(nio(p)))
      try entries.iterator().asScala.flatMap { f =>
        val child = new Path(p, f.getFileName.toString)
        if (!filter.accept(child)) None
        else try {
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, child))
        } catch { case _: NoSuchFileException => None }
      }.toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    override def exists(p: Path): Boolean = Files.exists(nio(p))
    /** Recursive, and a missing path is not an error (as in Spark's
      * managers). */
    override def delete(p: Path): Unit = deleteTree(nio(p))
    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val dir = Files.createDirectories(nio(path).toAbsolutePath.normalize())
      new Path("file", null, dir.toString)
    }
  }
}

object NioCheckpointFileManager {
  /** Spark's session and Hadoop key naming the checkpoint manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A path with no scheme resolves against `fs.defaultFS`, as Hadoop
    * resolves it. */
  private def isLocalPath(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  /** Spark's readers treat a missing checkpoint file as a
    * `java.io.FileNotFoundException`, which `java.nio`'s
    * `NoSuchFileException` is not. */
  private def notFound[T](p: Path)(body: => T): T =
    try body catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

  /** Deletes a file, or a directory with everything under it; a missing
    * path is a no-op. A symbolic link is removed, not followed. */
  private[streaming] def deleteTree(p: NioPath): Unit =
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      // Files.walk holds open directory handles until closed
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    } else Files.deleteIfExists(p)

  private final class AtomicOutput(tmp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    /** Publishes the temp file. The temp name is removed on every path:
      * moved away, unlinked after the hard link, or deleted on failure. */
    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    /** Abandons the write. Callers cancel while handling another error, so
      * a failure here is not allowed to replace it (as in Spark's managers). */
    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
      }
    }
  }

  /** A positioned, unbuffered read of one local file. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    private val one = ByteBuffer.allocate(1)

    override def read(): Int = {
      one.clear()
      if (ch.read(one) < 1) -1 else one.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
