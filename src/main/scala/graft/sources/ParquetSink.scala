package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-parquet`: the offset ledger's epoch data writer — a DataSource
  * V2 batch write of parquet files into one local directory, with
  * [[KvSink]]'s staged-then-renamed commit and no Hadoop committer.
  *
  * Schema contract: any. The table accepts the query's schema as is
  * (`ACCEPT_ANY_SCHEMA`), nullability included, and the files carry the
  * same parquet schema and Spark row metadata that `df.write.parquet`
  * writes: the per-job settings come from Spark's own
  * `ParquetFileFormat.prepareWrite` on the driver, so the codec follows
  * `spark.sql.parquet.compression.codec` and timestamps follow
  * `spark.sql.parquet.outputTimestampType`. Other parquet-mr tuning keys
  * of the session's Hadoop configuration (row group and page sizes) are
  * not read; the writer uses parquet-mr's defaults, as Spark does when
  * they are unset.
  *
  * Protocol:
  *  - each task streams its rows through parquet-mr's `ParquetWriter`
  *    with Spark's `ParquetWriteSupport` over a `java.nio`
  *    `LocalOutputFile`, fed by a `Configuration(false)` holding only
  *    the shipped settings, into the job's hidden [[Staging]] directory
  *    under the target. Partition 0 always writes a file, so an empty write still
  *    leaves a readable schema; other partitions open theirs on their
  *    first row. A retried attempt has its own task id, hence its own
  *    file, and only the winner's is in the commit messages;
  *  - [[ParquetBatchWrite.commit]] renames each winning file into the
  *    target (`ATOMIC_MOVE`) and removes the staging directory. There
  *    is no `_SUCCESS` and no `.crc` file;
  *  - [[ParquetBatchWrite.abort]] and a task's own abort delete the
  *    staged files.
  *
  * The target is a local `java.nio` path. This writer makes no
  * all-or-nothing promise to readers of the target mid-commit: its one
  * caller, `OffsetLedger.sink`, commits each epoch with the ledger
  * marker written after the data and clears an unmarked epoch's
  * directory (staging included) before a replay rewrites it.
  */
class ParquetSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-parquet"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ParquetTable(schema, new CaseInsensitiveStringMap(properties))
}

object ParquetSink {
  /** Test hook: `path#partition` keys whose FIRST write attempt has
    * thrown (the `failPartition` option); a later attempt, in the same
    * job or in a replay of the epoch, succeeds. Keyed by path so one
    * test's failure does not disarm another's. */
  private[sources] val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

private[sources] class ParquetTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-parquet(${options.get("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = info.options.get("path")
    require(path != null, "graft-parquet requires .option(\"path\", dir)")
    val failPartition = Option(info.options.get("failPartition")).map(_.toInt)
    // Spark's own per-job parquet settings: the schema, the codec, the
    // timestamp and legacy-format flags the write support reads
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(SparkSession.active, job, Map.empty, info.schema())
    val settings = job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ParquetBatchWrite(path, info.queryId(), settings, failPartition)
      }
    }
  }
}

private[sources] case class ParquetCommitMessage(staged: Option[String]) extends WriterCommitMessage

private[sources] class ParquetBatchWrite(path: String, queryId: String,
                                         settings: Map[String, String],
                                         failPartition: Option[Int])
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Staging.dir(path, queryId))
    new ParquetWriterFactory(path, queryId, settings, failPartition)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach { case ParquetCommitMessage(staged) =>
      staged.map(Paths.get(_)).foreach { src =>
        Files.move(src, Paths.get(path, src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    Staging.delete(path, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = Staging.delete(path, queryId)
}

private[sources] class ParquetWriterFactory(path: String, queryId: String,
                                            settings: Map[String, String],
                                            failPartition: Option[Int])
    extends DataWriterFactory {
  // the queryId keeps names unique across applications (task ids
  // restart at 0), so a commit's rename never replaces an earlier file
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ParquetPartWriter(path,
      Staging.dir(path, queryId).resolve(f"part-$partitionId%05d-$queryId-$taskId.parquet"),
      partitionId, settings, failPartition)
}

/** parquet-mr's writer builder for Spark's `InternalRow` write support. */
private class RowParquetBuilder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, RowParquetBuilder](file) {
  override protected def self(): RowParquetBuilder = this
  override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport
}

private[sources] class ParquetPartWriter(path: String, staged: Path, partitionId: Int,
                                         settings: Map[String, String],
                                         failPartition: Option[Int])
    extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = if (partitionId == 0) open() else null

  private def open(): ParquetWriter[InternalRow] = {
    val conf = new Configuration(false)
    settings.foreach { case (k, v) => conf.set(k, v) }
    new RowParquetBuilder(new LocalOutputFile(staged))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withCompressionCodec(CompressionCodecName.valueOf(conf.get(ParquetOutputFormat.COMPRESSION)))
      .withWriterVersion(WriterVersion.fromString(conf.get(ParquetOutputFormat.WRITER_VERSION)))
      .build()
  }

  override def write(row: InternalRow): Unit = {
    if (failPartition.contains(partitionId) && ParquetSink.failedOnce.add(s"$path#$partitionId"))
      throw new RuntimeException(s"injected failure in partition $partitionId")
    if (writer == null) writer = open()
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    ParquetCommitMessage(Option(writer).map(_ => staged.toString))
  }

  override def abort(): Unit = {
    try if (writer != null) writer.close()
    finally Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
