package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-docs`: a DataSource V2 connector generating a deterministic
  * synthetic document corpus — the engine's "bring your own source"
  * surface, built only on the public `org.apache.spark.sql.connector`
  * API.
  *
  * Two read paths:
  *  - **batch**: `spark.read.format("graft-docs").option("rows", n)
  *    .option("partitions", p).load()` — planInputPartitions splits the
  *    id range into `p` independent slices, so the scan parallelizes
  *    exactly like a parquet directory would at 100 TB (no driver-side
  *    row generation, each executor materializes only its slice);
  *  - **micro-batch streaming**: `spark.readStream.format("graft-docs")
  *    .option("rowsPerBatch", k)` — per-partition monotone offsets
  *    advance by `k` rows total per batch (capped by optional `rows`),
  *    mirroring the reference's offset-tracked-source contract: offsets
  *    are JSON in the checkpoint WAL, restart resumes from the last
  *    committed positions, and each (start, end] range re-plans to the
  *    same rows — deterministic replay, the property an offset ledger
  *    needs. `topicPartitions = N` (default 1) splits the corpus into
  *    N logical partitions (id residue classes mod N), each with its
  *    OWN offset — the reference's `Map[TopicPartition, Long]`
  *    artifact — independently positionable from a ledger via the
  *    Kafka-shaped `startingOffset` JSON.
  *
  * Column pruning is honored ([[DocsScanBuilder.pruneColumns]]): a
  * `select("doc_id")` never materializes the text payload — the same
  * contract parquet's vectorized reader gives, asserted in SourcesSpec.
  *
  * Row content is pure arithmetic on the row id (no RNG state), so any
  * slice can be regenerated anywhere — task retries and speculative
  * copies are safe by construction.
  */
class DocsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-docs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = DocsSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DocsTable(new CaseInsensitiveStringMap(properties))
}

object DocsSource {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  private val Langs = Array("en", "de", "fr", "es", "pt")

  /** Deterministic row content: a keyed multiplicative hash drives word
    * choice, so content is stable under re-planning and retries.
    * `textOnce` is the row's text payload, computed ONCE by the reader
    * when any of `text`/`n_chars` is projected — both fields derive
    * from this single value, so the two can never diverge (and the
    * expensive generator never runs twice per row). */
  def gen(id: Long, field: String, textOnce: String): Any = field match {
    case "doc_id" => id
    case "lang" => UTF8String.fromString(Langs((((id % 5) + 5) % 5).toInt))
    case "text" => UTF8String.fromString(textOnce)
    case "n_chars" => textOnce.length.toLong
  }

  def text(id: Long): String = {
    val n = 5 + (mix(id, 0) % 20).toInt // 5..24 words
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append("w").append(java.lang.Long.toHexString(mix(id, i + 1) % 4096))
      i += 1
    }
    sb.toString
  }

  private def mix(id: Long, k: Int): Long = {
    var h = id * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h & Long.MaxValue
  }

  /** `startingOffset` option → initial per-partition stream positions.
    * Two accepted shapes, both the reference's: a plain long (row
    * position — only meaningful for a single-topic-partition source),
    * or the ledger's Kafka-shaped resume JSON `{"topic":{"0":N,…}}` as
    * emitted by [[graft.streaming.KafkaSource.startingOffsetsJson]]
    * (and fed through `clampToRange` first by a careful caller). The
    * JSON form must carry exactly one topic; it may position any
    * SUBSET of the source's `topicPartitions` (unnamed partitions
    * start at 0 — Kafka's "no stored offset → starting position"
    * rule), but naming a partition the source doesn't have is a config
    * error worth failing loudly at stream construction. */
  def parseStartingOffsets(s: String, nParts: Int): Map[Int, Long] = {
    val t = s.trim
    if (t.startsWith("{")) {
      val topics = graft.streaming.KafkaSource.parseStartingOffsetsJson(t)
      require(topics.size == 1,
        s"graft-docs takes exactly one topic in startingOffset, got ${topics.keySet}")
      val parts = topics.head._2
      val unknown = parts.keySet.filterNot(p => p >= 0 && p < nParts)
      require(unknown.isEmpty,
        s"startingOffset names partitions $unknown outside this source's [0, $nParts)")
      parts
    } else {
      require(nParts == 1,
        s"a plain-long startingOffset is ambiguous over $nParts topic partitions — " +
          "use the per-partition JSON form")
      Map(0 -> t.toLong)
    }
  }
}

private[sources] class DocsTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft-docs"
  override def schema(): StructType = DocsSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // table properties carry the .option(...)s on the read path; merge
    // with any scan-time options (scan-time wins)
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava)
    new DocsScanBuilder(merged)
  }
}

private[sources] class DocsScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = DocsSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty prune (e.g. count(*)) keeps an empty struct: readers then
    // emit zero-field rows, never the text payload
    required = requiredSchema
  override def build(): Scan = new DocsScan(options, required)
}

private[sources] class DocsScan(options: CaseInsensitiveStringMap, required: StructType)
    extends Scan {
  private val rows = options.getLong("rows", 1000L)
  private val partitions = math.max(1, options.getInt("partitions", 4))
  private val rowsPerBatch = options.getLong("rowsPerBatch", 100L)
  // LOGICAL topic-partitions (streaming): partition p owns the id
  // residue class {o·N + p}, each with its own monotone offset — the
  // reference's Map[TopicPartition, Long] semantic. Distinct from the
  // `partitions` option, which is the PHYSICAL read fan-out of an
  // admitted range (a Kafka topic-partition is the offset unit; file
  // splits are the parallelism unit — graft-docs keeps both).
  private val topicPartitions = math.max(1, options.getInt("topicPartitions", 1))
  // Ledger-positioned start (streaming only). Parsed EAGERLY at scan
  // build so a malformed resume JSON fails at query construction, not
  // in the first micro-batch. Each position is clamped into
  // [0, rowsOf(p)]: the external clampToRange handles broker-range
  // drift; this bound is the source's own "don't start past the end"
  // invariant.
  private val startingOffsets: Map[Int, Long] = {
    val parsed = Option(options.get("startingOffset"))
      .map(DocsSource.parseStartingOffsets(_, topicPartitions)).getOrElse(Map.empty[Int, Long])
    (0 until topicPartitions).map { p =>
      p -> math.min(DocsScan.rowsOf(rows, topicPartitions, p), math.max(0L, parsed.getOrElse(p, 0L)))
    }.toMap
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-docs rows=$rows partitions=$partitions topicPartitions=$topicPartitions " +
      s"readSchema=${required.simpleString}"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      DocsScan.slices(0L, rows, partitions)
    override def createReaderFactory(): PartitionReaderFactory =
      new DocsReaderFactory(required.fieldNames)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new DocsMicroBatchStream(rows, rowsPerBatch, partitions, topicPartitions,
      required.fieldNames, startingOffsets)
}

private[sources] object DocsScan {
  /** Contiguous id ranges, one per physical split — the planning shape
    * a file source gets from its splits (stride 1, base 0). */
  def slices(start: Long, end: Long, parts: Int): Array[InputPartition] = {
    val total = math.max(0L, end - start)
    (0 until parts).iterator.map { i =>
      val lo = start + i * total / parts
      val hi = start + (i + 1) * total / parts
      DocsStride(lo, hi, 0L, 1L)
    }.filter(r => r.end > r.start).toArray[InputPartition]
  }

  /** Rows owned by logical partition p of n over a `rows`-id corpus:
    * the residue classes id ≡ p (mod n) partition [0, rows) exactly,
    * so multi-partition coverage unions to the single-partition corpus
    * (gap-free by construction, asserted in SourcesSpec). */
  def rowsOf(rows: Long, n: Int, p: Int): Long =
    rows / n + (if (p < (rows % n).toInt) 1L else 0L)
}

/** Offsets [start, end) of logical partition `base` (stride = number of
  * topic partitions): row o materializes doc id `o·stride + base`. */
private[sources] case class DocsStride(start: Long, end: Long, base: Long, stride: Long)
    extends InputPartition

private[sources] class DocsReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val DocsStride(start, end, base, stride) = partition
    // text(id) is the expensive generator; when both `text` and
    // `n_chars` are projected, compute it once per row and derive both.
    val needsText = fields.exists(f => f == "text" || f == "n_chars")
    // hoist the field view out of the row loop: fields.toIndexedSeq per
    // row was a fresh wrapper + boxed map allocation on the scan's hot
    // path (r12 review)
    val fieldSeq = fields.toIndexedSeq
    new PartitionReader[InternalRow] {
      private var cur = start - 1
      override def next(): Boolean = { cur += 1; cur < end }
      override def get(): InternalRow = {
        val id = cur * stride + base
        val t = if (needsText) DocsSource.text(id) else null
        InternalRow.fromSeq(fieldSeq.map(DocsSource.gen(id, _, t)))
      }
      override def close(): Unit = ()
    }
  }
}

/** Per-partition monotone positions — the reference's
  * Map[TopicPartition, Long] artifact, human-readable in the checkpoint
  * WAL and trivially diffable against an external ledger. A
  * single-partition source serializes the bare position (`"300"`), the
  * exact r12 WAL format, so existing checkpoints resume unchanged;
  * multi-partition sources serialize the Kafka-inner-map shape
  * (`{"0":120,"1":80}`, partition order sorted for stable WAL bytes). */
private[sources] case class DocsOffset(positions: Map[Int, Long]) extends Offset {
  override def json(): String =
    if (positions.keySet == Set(0)) positions(0).toString
    else graft.streaming.KafkaSource.partitionsJson(positions)
}

private[sources] object DocsOffset {
  def single(pos: Long): DocsOffset = DocsOffset(Map(0 -> pos))
  def parse(json: String): DocsOffset = {
    val t = json.trim
    if (t.startsWith("{") && t.endsWith("}"))
      DocsOffset(graft.streaming.KafkaSource.parsePartitions(
        t.stripPrefix("{").stripSuffix("}"), "graft-docs WAL offset"))
    else single(t.toLong)
  }
}

private[sources] class DocsMicroBatchStream(
    totalRows: Long, rowsPerBatch: Long, partitions: Int, topicPartitions: Int,
    fields: Array[String], startingOffsets: Map[Int, Long])
    extends MicroBatchStream with SupportsAdmissionControl {

  private def rowsOf(p: Int): Long = DocsScan.rowsOf(totalRows, topicPartitions, p)
  private def positionsOf(o: Offset): Map[Int, Long] = {
    val m = o.asInstanceOf[DocsOffset].positions
    // every offset reaching here carries the full key set: engine
    // offsets are built full-map, and WAL recovery is validated by
    // requireCompatible before use. The getOrElse(0) is defense in
    // depth only — "unknown partitions start at earliest" semantics
    // live in the startingOffset option (parseStartingOffsets), never
    // in WAL reinterpretation (r14 review).
    (0 until topicPartitions).map(p => p -> m.getOrElse(p, 0L)).toMap
  }

  /** A WAL offset whose partition-key set disagrees with this source's
    * `topicPartitions` means the option CHANGED across restarts of the
    * same checkpoint. Silently adapting would be data corruption, not
    * flexibility: backfilling a missing partition at 0 replays rows the
    * old layout already consumed (ids re-shard across residue classes),
    * and dropping an extra stored key silently reinterprets the id
    * space. Kafka fails this class of source-config mismatch loudly at
    * restart; so do we — at WAL deserialization, before any batch is
    * planned, by requiring the stored key set to be EXACTLY
    * [0, topicPartitions). No single-partition carve-out: a bare-long /
    * `{"0":N}` WAL meeting topicPartitions > 1 can only be a
    * 1 → N change (a multi-partition run always serializes its full
    * map), and that is the exact replay-corruption case — the first
    * formulation exempted it and so accepted the one mismatch it
    * claimed to reject (r14 review). Partition-count growth is
    * supported through the LEDGER path instead (fresh checkpoint +
    * `startingOffset` via clampToRange, whose new-partitions-adopt-
    * earliest rule makes the growth explicit and reported — see
    * SourcesSpec's topic-growth test), never by mutating a live WAL. */
  private def requireCompatible(m: Map[Int, Long]): Unit =
    if (m.keySet != (0 until topicPartitions).toSet)
      throw new IllegalStateException(
        s"graft-docs: checkpointed offset carries partition keys " +
          s"{${m.keySet.toSeq.sorted.mkString(",")}} but the source is configured with " +
          s"topicPartitions=$topicPartitions (expects {${(0 until topicPartitions).mkString(",")}}) " +
          "— the option was changed across restarts of the same checkpoint, which would replay " +
          "or skip rows as ids re-shard across residue classes. Start a fresh checkpoint " +
          "(positioned from a ledger via startingOffset) instead of reinterpreting committed offsets.")

  /** Consulted by MicroBatchExecution ONLY when the checkpoint WAL is
    * empty — a fresh query starts at the ledger-supplied positions, a
    * recovered query resumes from its WAL regardless of the option.
    * This is exactly Kafka's `startingOffsets` contract, and the half
    * of the reference pattern (external-store positioning) that the
    * WAL does not subsume. */
  override def initialOffset(): Offset = DocsOffset(startingOffsets)
  override def deserializeOffset(json: String): Offset = {
    val o = DocsOffset.parse(json)
    // WAL recovery is the one path where a stored offset can meet a
    // RECONFIGURED source — validate before any batch is planned
    requireCompatible(o.positions)
    o
  }
  override def commit(end: Offset): Unit = ()

  /** Admission-controlled advance: the ENGINE-SUPPLIED limit past the
    * checkpointed start, never past each partition's end. Honoring the
    * limit (not assuming our own default) matters for
    * Trigger.Once/AvailableNow, where MicroBatchExecution passes
    * allAvailable / a captured target and an implementation that
    * blindly stepped rowsPerBatch would silently under-drain the
    * single batch (r12 review). The row budget spreads over live
    * partitions by WATER-FILLING: partitions are visited in ascending
    * remaining-rows order (partition index breaks ties for determinism)
    * and each takes min(remaining, ceil(budget/liveLeft)). Visiting the
    * smallest remainder first is what makes the fill provably complete:
    * at every step ceil(budget/left) ≥ the smallest remainder whenever
    * budget ≥ total remaining, so a ReadAllAvailable budget — the total
    * remaining — drains EVERY partition. The r13 ascending-INDEX greedy
    * did not have that property (remaining=[100,1], budget=101: p0 took
    * ceil(101/2)=51, p1 took 1, and the leftover 49 never flowed back
    * to p0 — under Trigger.Once/AvailableNow, which capture this offset
    * as the query's final target, those rows were never admitted).
    * Driving progression off the engine-supplied start offset (not an
    * in-memory cursor) is what makes restart correct: a recovered query
    * resumes exactly at the WAL positions. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = positionsOf(start)
    val totalRemaining = (0 until topicPartitions).map(p => rowsOf(p) - s(p)).sum
    def stepOf(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => r.maxRows()
      case _: ReadAllAvailable => totalRemaining
      case c: CompositeReadLimit =>
        val steps = c.getReadLimits.toSeq.map(stepOf)
        if (steps.isEmpty) rowsPerBatch else steps.min
      case _ => rowsPerBatch // min-rows etc.: our default batch size
    }
    var budget = math.min(totalRemaining, math.max(0L, stepOf(limit)))
    val live = (0 until topicPartitions).filter(p => s(p) < rowsOf(p))
      .sortBy(p => (rowsOf(p) - s(p), p))
    var left = live.size
    val advanced = scala.collection.mutable.Map(s.toSeq: _*)
    live.foreach { p =>
      val share = if (left == 0 || budget <= 0) 0L else (budget + left - 1) / left
      val adv = math.min(rowsOf(p) - s(p), share)
      advanced(p) = s(p) + adv
      budget -= adv
      left -= 1
    }
    DocsOffset(advanced.toMap)
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used for admission control")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = positionsOf(start)
    val e = positionsOf(end)
    if (topicPartitions == 1)
      // single logical partition: fan the admitted range out over the
      // physical split count, exactly like the batch path
      DocsScan.slices(s(0), e(0), partitions)
    else
      // one split per logical partition (the Kafka planning shape): the
      // per-partition ranges ARE the parallelism
      (0 until topicPartitions).iterator
        .map(p => DocsStride(s(p), e(p), p.toLong, topicPartitions.toLong))
        .filter(r => r.end > r.start).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocsReaderFactory(fields)

  override def stop(): Unit = ()
}
