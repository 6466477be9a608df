package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import scala.reflect.runtime.universe.TypeTag

/** A typed event row — the engine's streaming record (the Spark-native
  * generalization of the reference's Kafka (key, value, offset, ts)
  * record after payload parsing). */
final case class Ev(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Per-user running totals carried in the state store. */
final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

/** Latest-wins merge state per (user, type) key — `deleted` marks a
  * tombstone the downstream sink applies as a key delete. */
final case class MergeState(user_id: Long, event_type: String,
    event_id: Long, es: Long, value: Double, deleted: Boolean)

/** One touch held in per-user attribution state: packed (epoch-sec,
  * event_id) order key + the touch's event type. */
final case class TouchRec(ord: Long, tpe: String)

/** Per-user attribution state — the bounded recent-touch buffer plus
  * the max event-time second seen (monotonic; the pruning anchor, so
  * an out-of-order event cannot re-widen the horizon). */
final case class TouchBuf(touches: Seq[TouchRec], maxEs: Long)

/** One credited touch emitted per attributed purchase: the 1e-6-scaled
  * linear 1/k share and the last-touch flag (matches the batch
  * q_attribution credit fold exactly). */
final case class TouchCredit(touch_type: String, credit6: Long, is_last: Int)

/** A (price-cents, epoch-day) point for the streaming skyline. */
final case class PricePoint(cents: Long, day: Long)

/** The maintained Pareto front plus a version stamp (one per trigger
  * that changed or re-emitted it) so tests and sinks can isolate the
  * newest emission. */
final case class SkylineState(ver: Long, points: Seq[PricePoint])

/** One emitted front member, tagged with the emission version. */
final case class SkylineOut(ver: Long, cents: Long, day: Long)

/** Streaming transforms (SURVEY §2.9). Every transform takes its source
  * DataFrame as a parameter, so the same code runs against:
  *  - MemoryStream (unit tests),
  *  - the rate source (local stand-in — no Kafka jar on this box),
  *  - the Kafka source ([[KafkaSource]], design-complete),
  *  - a plain batch DataFrame (the oracled batch twins in
  *    ops.TimeWindows — watermarks are a no-op in batch mode, which is
  *    exactly what makes twin-equivalence testable).
  *
  * Two shapes recur below:
  *  - a streaming grid here, its read-time fold in `ops`: a statistic
  *    that is not mergeable state streams as the mergeable grid it is
  *    computed from (counts, moments, cells), and the streaming side
  *    reads it through the SAME `graft.ops` fold its batch twin runs,
  *    so the twins cannot drift;
  *  - a day-close monitor = zero state + fold: each daily monitor is a
  *    closed-day state, its zero and the fold that closes one day into
  *    it, run by the shared `dayCloseMonitor` scaffold.
  *
  * Scale notes: windowed aggregations shuffle once on (window, key) and
  * keep state per open window in the executor state store; watermarks
  * bound that state (no watermark = unbounded state at 100 TB —
  * every transform here therefore takes one).
  */
object Streams {

  /** Round half up onto the 1e-6 lattice the batch twins' r6 uses. */
  private def r6(d: Double): Double = math.floor(d * 1000000 + 0.5) / 1000000

  /** Tumbling event-time windows: counts + value sum per (window, type). */
  def tumbling(events: DataFrame, size: String = "10 minutes",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding windows (each event lands in size/slide windows). */
  def sliding(events: DataFrame, size: String = "10 minutes",
              slide: String = "5 minutes",
              watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Session windows per user, closed after `gap` of event-time silence. */
  def sessions(events: DataFrame, gap: String = "30 minutes",
               watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** At-least-once → effectively-once: drop replayed event_ids, keeping
    * dedup state only within the watermark horizon (bounded state — the
    * streaming half of the reference's offset-replay story). */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: the streaming side keeps flowing, the
    * static dim is broadcast per micro-batch (re-read each batch, so a
    * slowly-changing dim refreshes). The direct generalization of the
    * reference's per-record lookup transforms. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming benchmark decontamination — the streaming face of the
    * batch q_decontam (ops.Corpus): each incoming document is DROPPED if
    * any of its 3-word shingles appears in its language's holdout
    * shingle set. The holdout is grouped once, here at definition, into
    * per-language sets collected to the driver; each row is then probed
    * in-row by the native `holdout_hit` expression (functions.HoldoutHit)
    * — pure map-side, stateless, no join, no shuffle of the stream and
    * no per-epoch job besides the sink's. The sets ride the plan as a
    * literal, so a holdout that changes after definition is not seen.
    * That in-row probe assumes the benchmark shingle set fits in driver
    * and executor memory (it does: benchmark suites are millions of
    * n-grams, the corpus is the big side); for a holdout too wide for
    * one in-memory set, run the batch shingle-level broadcast join
    * inside foreachBatch instead. Requires a session built with
    * [[graft.functions.GraftExtensions]]. */
  def decontamStream(docs: DataFrame, holdoutShingles: DataFrame): DataFrame = {
    // same lang-scoped matching as the batch operator: one shingle set
    // per language; a null lang never matches, as in a join on lang
    val sets = holdoutShingles.groupBy("lang").agg(collect_set(col("shingle"))).collect()
      .collect { case r if !r.isNullAt(0) => r.getString(0) -> r.getSeq[String](1) }.toMap
    docs
      .filter(!graft.functions.HoldoutHit.holdout_hit(col("text"), col("lang"), sets))
      .select("doc_id", "lang", "text")
  }

  /** Streaming day-of-week traffic profile — the streaming face of
    * batch q_seasonality's count grid: a running (event_type, isodow)
    * aggregate maintained incrementally (complete/update mode). State
    * is the 35-cell grid — BOUNDED BY THE DOMAIN, never by the stream
    * (each cell one partial count with map-side merge), so this runs
    * forever at any rate. Shares (share, season_idx) divide out at
    * read time exactly as the batch twin's final projection. */
  def seasonalityCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
      (weekday(col("ts").cast(org.apache.spark.sql.types.DateType)) + 1)
        .cast("long").as("dow"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming categorical-entropy drift grid — the streaming face of
    * batch q_cat_entropy, split the seasonalityCounts way: the stream
    * maintains only the running (day, event_type) COUNT grid
    * (associative, partial-mergeable — complete/update mode), because
    * entropy itself is not mergeable state; the per-day entropy and
    * evenness divide out AT READ TIME through the exact batch fold
    * (ops.Inference.entropyOfCells — shared code, so the twins cannot
    * drift). State is |days|×|types| cells: calendar-rate bounded like
    * the OHLC windows, never stream-length bounded; at 100 TB/day the
    * old days age out of the serving view, not out of correctness. */
  def catEntropyCounts(events: DataFrame): DataFrame =
    events.groupBy(
      date_format(col("ts").cast(org.apache.spark.sql.types.DateType),
        "yyyy-MM-dd").as("day"),
      col("event_type"))
      .agg(count(lit(1)).as("c"))

  /** Streaming exact-percentile grid — the streaming face of batch
    * q_tail_exact, split the s_cat_entropy way: the stream maintains
    * only the (event_type, cents) COUNT grid (associative,
    * partial-mergeable, and bounded by the VALUE DOMAIN rather than
    * stream length — this is what makes EXACT streaming percentiles
    * legal where a naive sorted buffer would grow forever); p50/p95/
    * p99 divide out at read time through the exact batch fold
    * (ops.Analytics.tailFold — shared code, twins cannot drift). */
  def tailCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .agg(count(lit(1)).as("k"))

  /** Streaming z-score anomaly flags — the streaming face of batch
    * q_anomaly, split the way production does it: per-type mean/stddev
    * come from a BATCH pass over history (a stream cannot see the full
    * corpus), the live stream is scored against them map-side. The
    * stats table is one row per event_type (bounded domain ⇒
    * broadcast), so ingest is stateless and never shuffled; refreshing
    * stats is redeploy-cheap because the operator takes them as input
    * rather than computing them. Same r6-rounded-stats-then-threshold
    * rule as the batch twin, so the two flag identical boundary rows. */
  def anomalyStream(events: DataFrame, stats: DataFrame): DataFrame =
    events.join(broadcast(stats), "event_type")
      .filter(abs(col("value") - col("mu")) > lit(3) * col("sd"))
      .select(col("event_id"), col("event_type"),
        graft.Q.r4((col("value") - col("mu")) / col("sd")).as("z"))

  /** Streaming OHLC bars per tumbling event-time window — the streaming
    * face of batch q_ohlc: open/close are min_by/max_by on the same
    * packed (epoch-sec, event_id) int64 order key, high/low/volume plain
    * min/max/sum. All six are declarative aggregates with partial merge,
    * so incremental window state is ONE partial bar per open window
    * (never the events), and the watermark bounds how many windows stay
    * open — state is calendar-rate bounded, not corpus bounded. */
  def ohlcBars(events: DataFrame, size: String = "10 minutes",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("k", graft.Q.packedOrd(unix_timestamp(col("ts")), col("event_id")))
      .groupBy(window(col("ts"), size))
      .agg(
        count(lit(1)).as("n"),
        min_by(col("value"), col("k")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("k")).as("close"),
        sum(col("value")).as("volume"))

  /** Streaming multi-touch attribution — the streaming face of batch
    * q_attribution: each purchase credits the same user's non-purchase
    * touches in the `lookbackSec` window before it, last-touch and
    * linear 1/k, emitted as [[TouchCredit]] rows the moment the
    * purchase arrives (append mode — a conversion's credit is final).
    *
    * State per user is the touch buffer PRUNED to the lookback horizon
    * behind the MAX event time seen (monotonic, carried in state) plus
    * `allowedLatenessSec` — the same contract as a watermark: an event
    * arriving later than the allowance may find its oldest touches
    * already pruned and under-credit, a bounded, explicitly-configured
    * loss rather than a silent ordering assumption (the sibling
    * interval-join operator draws the identical line with watermarks).
    * State stays bounded by per-user activity rate × (window +
    * allowance), never by stream length. Rows within a batch are
    * processed in packed (epoch-sec, event_id) event-time order, and
    * the credit arithmetic (floor(1e6/k + 0.5) int64 shares,
    * max-packed-key last touch) is the batch fold verbatim, so summing
    * the emissions reproduces the batch table exactly whenever
    * cross-batch disorder stays within the allowance (StreamingSpec
    * proves the equality over the sf0.001 corpus split mid-stream). */
  def attributionStream(events: Dataset[Ev],
                        lookbackSec: Long = 86400L,
                        allowedLatenessSec: Long = 0L): Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[Ev], state: GroupState[TouchBuf]) => {
          val prev = if (state.exists) state.get else TouchBuf(Seq.empty, Long.MinValue)
          var buf = prev.touches
          var maxEs = prev.maxEs
          val out = scala.collection.mutable.ArrayBuffer.empty[TouchCredit]
          def esOf(e: Ev): Long = Math.floorDiv(e.ts.getTime, 1000L) // floor, not truncate: pre-epoch parity with unix_timestamp
          // same overflow contract as Q.packedOrd: an id outside the
          // pack slot would corrupt both the last-touch ordering and
          // the ord/PackBase second recovery the pruning divides by
          def ordOf(e: Ev): Long = {
            require(e.event_id >= 0 && e.event_id < graft.Q.PackBase,
              s"event_id ${e.event_id} overflows the packed (es,event_id) order key")
            esOf(e) * graft.Q.PackBase + e.event_id
          }
          rows.toSeq.sortBy(ordOf).foreach { e =>
            val es = esOf(e)
            if (e.event_type == "purchase") {
              val win = buf.filter { t =>
                val tes = t.ord / graft.Q.PackBase
                tes >= es - lookbackSec && tes < es
              }
              if (win.nonEmpty) {
                val credit6 = math.floor(1e6 / win.size + 0.5).toLong
                val lastOrd = win.iterator.map(_.ord).max
                win.foreach(t =>
                  out += TouchCredit(t.tpe, credit6, if (t.ord == lastOrd) 1 else 0))
              }
            } else buf = buf :+ TouchRec(ordOf(e), e.event_type)
            // prune against the monotonic max, never the current event:
            // a late event must not re-widen (or over-shrink) the horizon
            if (es > maxEs) maxEs = es
            buf = buf.filter(
              _.ord / graft.Q.PackBase >= maxEs - lookbackSec - allowedLatenessSec)
          }
          state.update(TouchBuf(buf, maxEs))
          out.iterator
        })
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's views within `lookback` before it. Watermarks on BOTH sides
    * + a bounded time-range condition are what let Spark expire join
    * state — without them state grows forever at 100 TB. */
  def intervalJoin(purchases: DataFrame, views: DataFrame,
                   lookback: String = "10 minutes",
                   watermark: String = "20 minutes"): DataFrame = {
    val p = purchases.select(
      col("event_id").as("p_id"), col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    val v = views.select(
      col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
        col("v_ts") < col("p_ts"))
  }

  /** Deterministic local source stand-in for Kafka (no broker/jar on this
    * box): rate-micro-batch emits exactly `rowsPerBatch` rows per
    * trigger, mapped onto the Ev shape. */
  def rateSource(spark: org.apache.spark.sql.SparkSession, rowsPerBatch: Int = 10): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      // keep event times well past epoch 0: rows AT the initial
      // watermark value (0) would be edge-dropped by watermarked ops
      .option("startTimestamp", 600L * 1000 * 1000)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 16).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase")),
          (col("value") % 3 + 1).cast("int")).as("event_type"),
        (col("value") % 100).cast("double").as("value"))

  /** transformWithState processor (Spark 4.x arbitrary-state v2 API) —
    * the same running totals as [[Streams.userTotals]], expressed with a
    * typed ValueState handle. Requires the RocksDB state store provider.
    */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Ev, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals](
        "totals", Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserTotals(key, 0L, 0.0)
      var n = prev.n_events
      var s = prev.sum_value
      rows.foreach { e => n += 1; s += e.value }
      val next = UserTotals(key, n, s)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** [[userTotals]] on the transformWithState API. */
  def userTotalsTws(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming CDC merge (s_merge_upsert) — the streaming face of
    * ops.Cdc.mergeUpsert: per (user_id, event_type) key, keep the
    * newest row by (es, event_id) in typed state, tombstoning the key
    * when that row's value < 1.0 (the same delete predicate as the
    * batch operator). Emits the key's post-batch state in Update mode;
    * a downstream kv/table sink applies it as upsert-or-delete. Late
    * rows older than the held state are ignored — latest-wins is
    * idempotent under replay, which is what makes the operator safe
    * behind an at-least-once source. State is one small row per live
    * key, partitioned by the group key — horizontal at any key count.
    * StreamingSpec proves the twin: final emitted state per key equals
    * batch mergeUpsert over the same rows.
    */
  def mergeUpsertStream(events: Dataset[Ev]): Dataset[MergeState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[MergeState, MergeState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((uid, typ), rows, state) =>
          var cur = state.getOption
          // micro-batch iterators carry no ordering guarantee — fold
          // with the same (es, event_id) newest-wins rule as the batch
          // window, so arrival order never matters
          rows.foreach { e =>
            val es = Math.floorDiv(e.ts.getTime, 1000L) // floor: batch twin uses CAST(ts AS LONG), which floors
            val newer = cur.forall(c =>
              es > c.es || (es == c.es && e.event_id > c.event_id))
            if (newer)
              cur = Some(MergeState(uid, typ, e.event_id, es, e.value,
                deleted = e.value < 1.0))
          }
          cur.foreach(state.update)
          cur.iterator
      }
  }

  /** Streaming 2-D skyline (s_skyline) — the incremental face of batch
    * q_skyline: maintain the Pareto front of (max price, earliest day)
    * as points arrive. A new point enters the front iff nothing held
    * dominates it, evicting any held points it dominates — so state is
    * EXACTLY the current front (expected O(log n) points under random
    * order, never the stream), and per-row work is O(|front|). The
    * single group key serializes front maintenance through one state
    * task; the production shape puts q_skyline's price-bucket prune
    * upstream as a map-side filter so only candidate survivors reach
    * it — the same two-phase split as the batch twin. Emits the full
    * front each trigger, version-stamped so a sink (or test) can
    * isolate the newest emission; fronts are emitted in the batch
    * twin's (cents desc, day asc) order. StreamingSpec proves the
    * final front equals batch q_skyline over the same rows. */
  def skylineStream(points: Dataset[PricePoint]): Dataset[SkylineOut] = {
    import points.sparkSession.implicits._
    def dominates(q: PricePoint, p: PricePoint): Boolean =
      q.cents >= p.cents && q.day <= p.day &&
        (q.cents > p.cents || q.day < p.day)
    points.groupByKey(_ => 0)
      .flatMapGroupsWithState[SkylineState, SkylineOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val prev = state.getOption.getOrElse(SkylineState(0L, Nil))
          var front = prev.points
          rows.foreach { p =>
            if (!front.exists(q => dominates(q, p) || q == p))
              front = p +: front.filterNot(q => dominates(p, q))
          }
          val next = SkylineState(prev.ver + 1, front)
          state.update(next)
          front.sortBy(p => (-p.cents, p.day))
            .map(p => SkylineOut(next.ver, p.cents, p.day)).iterator
      }
  }

  /** Custom state: per-user running totals via flatMapGroupsWithState
    * (the typed state-store API; state lives on executors, partitioned
    * by the group key — scales horizontally with user cardinality). */
  def userTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { e => n += 1; s += e.value }
          val next = UserTotals(userId, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming new-vs-returning markers (s_new_returning) — the
    * streaming face of batch q_new_returning: per (user, day), one
    * emission tagging whether that day is the user's FIRST-seen day.
    * State per user is TWO longs: the max day observed and a 64-bit
    * mask of already-emitted days anchored at it — so a LATE-ARRIVING
    * earlier day inside the 64-day horizon still gets its activity
    * marker (is_new = false) and repeats dedup exactly, while state
    * stays user-bounded, never history-bounded. Days more than 64
    * days behind the user's max observed day drop — the
    * watermark-style lateness bound every bounded-state first-seen
    * pipeline needs, here explicit. Semantics scope (r12 review): the
    * new-flag lands on the first OBSERVED day and is never retracted,
    * so the per-day split equals batch q_new_returning exactly when
    * each user's earliest event-time day is also the first to ARRIVE
    * for that user (later days may arrive in any order within the
    * horizon); a user whose chronologically-first day arrives late
    * keeps its marker (active counts still match) but carries
    * is_new = false — the processing-time approximation every
    * no-retraction streaming first-seen pipeline makes. StreamingSpec
    * asserts the twin equality including an out-of-order batch. */
  def newReturning(events: Dataset[Ev]): Dataset[DayMarker] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[NewRetState, DayMarker](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[NewRetState]) =>
          val days = rows.map(e => Math.floorDiv(e.ts.getTime, 86400000L)).toSeq.distinct.sorted // floor: date_trunc parity for pre-epoch ts
          val prev = state.getOption.getOrElse(NewRetState(Long.MinValue, 0L))
          var maxD = prev.maxDay
          var mask = prev.mask // bit i set ⇔ day (maxD − i) already emitted
          val out = Seq.newBuilder[DayMarker]
          days.foreach { d =>
            if (maxD == Long.MinValue) { // first day ever observed
              out += DayMarker(userId, d, is_new = true)
              maxD = d; mask = 1L
            } else if (d > maxD) { // horizon advances
              val shift = d - maxD
              mask = if (shift >= 64) 0L else mask << shift
              maxD = d
              out += DayMarker(userId, d, is_new = false)
              mask |= 1L
            } else { // late or repeat day
              val off = maxD - d
              if (off < 64 && (mask & (1L << off)) == 0L) {
                out += DayMarker(userId, d, is_new = false)
                mask |= (1L << off)
              } // off ≥ 64: beyond the lateness horizon — dropped
            }
          }
          state.update(NewRetState(maxD, mask))
          out.result().iterator
      }
  }

  /** The day-close scaffold the daily monitors below share. Per event
    * type, each micro-batch's events count into days on the
    * ops.Inference.Anchor index (so every emitted day matches the batch
    * twin's x), taken in day order. The state is one OPEN (day, count)
    * pair beside the monitor's closed-day state `S`, starting at
    * `zero`: the open day keeps absorbing events until a LATER day
    * first arrives, which closes it through
    * `fold(type, day, count, closed)` — returning the next closed state
    * and the optional emission — and opens itself. A day arriving
    * behind the open day drops — the same explicit lateness bound as
    * [[newReturning]] — so the batch-twin equality (StreamingSpec)
    * holds whenever days first-arrive in event-time order, which is
    * what a monitor consuming a live feed sees. */
  private def dayCloseMonitor[S: TypeTag, M <: Product : TypeTag](
      events: Dataset[Ev], zero: S)(
      fold: (String, Long, Long, S) => (S, Option[M])): Dataset[M] = {
    import events.sparkSession.implicits._
    val anchorDay = java.time.LocalDate.parse(graft.ops.Inference.Anchor).toEpochDay
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[DayClose[S], M](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, rows: Iterator[Ev], state: GroupState[DayClose[S]]) =>
          val days = rows
            .map(e => Math.floorDiv(e.ts.getTime, 86400000L) - anchorDay)
            .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sorted
          var st = state.getOption.getOrElse(DayClose(Long.MinValue, 0L, zero))
          val out = Seq.newBuilder[M]
          days.foreach { case (d, c) =>
            if (st.openDay == Long.MinValue) st = st.copy(openDay = d, openCount = c)
            else if (d == st.openDay) st = st.copy(openCount = st.openCount + c)
            else if (d > st.openDay) {
              val (closed, mark) = fold(typ, st.openDay, st.openCount, st.closed)
              out ++= mark
              st = DayClose(d, c, closed)
            }
            // d < openDay: behind the fold horizon — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming Page–Hinkley drift monitor (s_page_hinkley) — the
    * incremental face of batch q_page_hinkley: per event type, the
    * exact integer-lattice recurrence m6 += ⌊(y_d − ȳ_d)·1e6 + ½⌋,
    * PH = max(m6 − min m6), evaluated over DAILY counts with the
    * [[dayCloseMonitor]] semantics: a day folds into the recurrence
    * when a LATER day first arrives for that type (until then its count
    * keeps absorbing events), and each fold emits the running
    * (n_days, ph, drift_day) profile — exactly the prefix the batch op
    * would report over the closed days, because both walk the same
    * int64 lattice in the same day order. State per type is the open
    * pair plus six longs of sufficient statistics, never a history. */
  def pageHinkley(events: Dataset[Ev]): Dataset[PhMark] =
    dayCloseMonitor(events, PhState(0L, 0L, 0L, Long.MaxValue, 0L, Long.MinValue)) {
      (typ, x, y, st) => // fold the closing day into the recurrence
        val n = st.n + 1
        val s = st.s + y
        val m6 = st.m6 + math.floor((y - s.toDouble / n) * 1e6 + 0.5).toLong
        val mn = math.min(st.mn, m6)
        // strict > keeps the EARLIEST argmax day (the batch op's
        // ORDER BY ph6 DESC, x tie-break); the first fold seeds it
        val (ph6, drift) =
          if (m6 - mn > st.ph6) (m6 - mn, x)
          else if (st.driftDay == Long.MinValue) (st.ph6, x)
          else (st.ph6, st.driftDay)
        (PhState(n, s, m6, mn, ph6, drift), Some(PhMark(typ, x, y, n, ph6 / 1e6, drift)))
    }

  /** Streaming Mann–Kendall trend monitor (s_mann_kendall) — the
    * incremental face of batch q_mann_kendall: per event type,
    * S = Σ_{i<j} sign(y_j − y_i) over DAILY counts with the same
    * day-close semantics as [[pageHinkley]] (a day folds when a LATER
    * day first arrives; behind-horizon stragglers drop). Each fold
    * adds the closing day's Σ sign(y − y_old) over the CLOSED days in
    * O(closed days) and re-derives the tie term from the bounded
    * count-of-counts map, then emits the running (n_days, s, z)
    * profile — exactly what the batch op reports over the closed-day
    * prefix, because S, ties and 18·Var are exact int64 in both and z
    * walks the identical IEEE tree ((s∓1)/√(vn/18), r6-floored).
    * State per type is the open day plus the multiset of closed daily
    * counts — CALENDAR-bounded (≤366 longs), never stream-length
    * bounded; day indices share ops.Inference.Anchor with the batch
    * twin. */
  def mannKendall(events: Dataset[Ev]): Dataset[MkMark] =
    dayCloseMonitor(events, MkState(0L, 0L, Map.empty)) {
      (typ, x, y, st) => // fold the closing day into the statistic
        val s = st.s + st.counts.iterator
          .map { case (yo, t) => t * java.lang.Long.signum(y - yo) }.sum
        val counts = st.counts.updated(y, st.counts.getOrElse(y, 0L) + 1L)
        val n = st.n + 1
        val tie = counts.valuesIterator
          .map(t => t * (t - 1) * (2 * t + 5)).sum
        val vn = n * (n - 1) * (2 * n + 5) - tie
        // the batch z tree, mirrored: continuity-corrected normal
        // approximation on exact int64 (S, Var·18), r6 at the end
        val z =
          if (vn <= 0) None
          else {
            val sg = java.lang.Long.signum(s).toLong
            Some(r6((s - sg) / math.sqrt(vn / 18.0)))
          }
        (MkState(n, s, counts), Some(MkMark(typ, x, y, n, s, z)))
    }

  /** Streaming seasonal Mann–Kendall monitor (s_seasonal_mk) — the
    * incremental face of batch q_seasonal_mk: the MK sign statistic
    * computed WITHIN each day-of-week stratum (x % 7 — the anchor is a
    * Monday, and Scala/Spark/DuckDB agree on sign-of-dividend %, so the
    * residue IS the weekday in every engine) and summed, with the
    * [[mannKendall]] day-close semantics. A closing day compares only
    * against closed days in its OWN stratum, so a weekly cycle cancels
    * instead of reading as trend; S, per-stratum ties and 18·Var stay
    * exact int64 and z walks the identical batch IEEE tree. State per
    * type is the open day plus the per-(stratum, count) multiset of
    * closed days — 7× the [[mannKendall]] bound, still
    * calendar-bounded, never stream-length bounded. */
  def seasonalMannKendall(events: Dataset[Ev]): Dataset[MkMark] =
    dayCloseMonitor(events, SmkState(0L, 0L, Seq.empty)) {
      (typ, x, y, st) => // fold the closing day into ITS stratum
        val k = x % 7
        val s = st.s + st.counts.iterator.filter(_.dow == k)
          .map(c => c.t * java.lang.Long.signum(y - c.y)).sum
        val counts =
          if (st.counts.exists(c => c.dow == k && c.y == y))
            st.counts.map(c =>
              if (c.dow == k && c.y == y) c.copy(t = c.t + 1) else c)
          else st.counts :+ SmkCnt(k, y, 1L)
        val n = st.n + 1
        // 18·Var = Σ_k n_k(n_k−1)(2n_k+5) − Σ_{k,y} t(t−1)(2t+5)
        val vraw = counts.groupBy(_.dow).valuesIterator
          .map { cs => val nk = cs.iterator.map(_.t).sum
            nk * (nk - 1) * (2 * nk + 5) }.sum
        val tie = counts.iterator.map(c => c.t * (c.t - 1) * (2 * c.t + 5)).sum
        val vn = vraw - tie
        val z =
          if (vn <= 0) None
          else {
            val sg = java.lang.Long.signum(s).toLong
            Some(r6((s - sg) / math.sqrt(vn / 18.0)))
          }
        (SmkState(n, s, counts), Some(MkMark(typ, x, y, n, s, z)))
    }

  /** Streaming Pettitt changepoint monitor (s_pettitt) — the
    * incremental face of batch q_pettitt: each day-close re-ranks the
    * closed daily counts (competition ranks off a sorted cumulative
    * count map — the exact 2·avgrank ints of the batch window) and
    * walks U_t = Σ_{i≤t} r2_i − t(n+1) in day order, emitting the
    * running (K = max|U_t|, break day, p_exponent) profile. Ranks are
    * NOT mergeable state (a new day shifts every rank), so state is the
    * ordered closed (day, count) series itself — one pair per closed
    * calendar day, the same daily-frame bound the batch window
    * consumes; the O(n log n) re-rank per fold is over that bounded
    * frame, never the event stream. Strict > on |U| keeps the EARLIEST
    * break day (the batch (|U| DESC, x) tie-break); p_exponent =
    * 6K²/(n³+n²) stays transcendental-free on the shared r6 lattice. */
  def pettitt(events: Dataset[Ev]): Dataset[PtMark] =
    dayCloseMonitor(events, Seq.empty[PtDay]) {
      (typ, x, y, days) => // append the closing day, re-rank, walk U_t
        val closed = days :+ PtDay(x, y)
        val n = closed.size.toLong
        val cnt = closed.groupBy(_.y).view.mapValues(_.size.toLong).toMap
        // competition-rank ints: r2(y) = 2·(#less) + #same + 1
        //                              = 2·rank + #same − 1
        val less = {
          var acc = 0L
          cnt.keys.toSeq.sorted.map { v => val l = acc; acc += cnt(v); v -> l }.toMap
        }
        var run = 0L; var best = 0L; var bestDay = closed.head.x; var t = 0L
        closed.foreach { p =>
          run += 2 * less(p.y) + cnt(p.y) + 1
          t += 1
          val ut = run - t * (n + 1)
          if (math.abs(ut) > best) { best = math.abs(ut); bestDay = p.x }
        }
        val pexp =
          if (n >= 2)
            Some(r6(6.0 * best * best / (n.toDouble * n * n + n.toDouble * n)))
          else None
        (closed, Some(PtMark(typ, x, y, n, best, bestDay, pexp)))
    }

  /** Streaming Durbin–Watson monitor (s_durbin_watson) — the
    * incremental face of batch q_durbin_watson, and the counterpoint
    * to [[pettitt]]'s series-valued state: because the batch op
    * collapses DW onto moment sums and LAG-DIFF sums, every statistic
    * here is MERGEABLE — state per type is the open pair plus eleven
    * longs (the last CLOSED (day, count) pair, n, five moment sums,
    * three diff sums) no matter how many days close. Each fold adds the
    * closing day to the moments, accumulates (Δy, Δx) products
    * against the previous closed day, and emits the running
    * (slope, DW, rho1) profile through the exact batch tree —
    * identical doubles from identical int64, NULL until n ≥ 3 and the
    * fit is non-degenerate. */
  def durbinWatson(events: Dataset[Ev]): Dataset[DwMark] =
    dayCloseMonitor(events,
      DwState(Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)) {
      (typ, x, y, st) => // fold the closing day into the sums
        val (suu, suv, svv) =
          if (st.lastX == Long.MinValue) (st.suu, st.suv, st.svv)
          else {
            val u = y - st.lastY; val v = x - st.lastX
            (st.suu + u * u, st.suv + u * v, st.svv + v * v)
          }
        val n = st.n + 1
        val sx = st.sx + x; val sy = st.sy + y
        val sxx = st.sxx + x * x; val sxy = st.sxy + x * y
        val syy = st.syy + y * y
        // the exact batch tree on the int64 moments
        val bxx = (n * sxx - sx * sx).toDouble
        val bxy = (n * sxy - sx * sy).toDouble
        val byy = (n * syy - sy * sy).toDouble
        val ok = n >= 3 && bxx > 0
        val b = bxy / bxx
        val sse = byy - b * bxy
        val dw = n * (suu - 2 * b * suv + b * b * svv) / sse
        (DwState(x, y, n, sx, sy, sxx, sxy, syy, suu, suv, svv),
          Some(DwMark(typ, x, y, n,
            if (ok) Some(r6(b)) else None,
            if (ok && sse > 0) Some(r6(dw)) else None,
            if (ok && sse > 0) Some(r6(1 - dw / 2)) else None)))
    }

  /** Streaming Wald–Wolfowitz runs monitor (s_runs_test) — the
    * incremental face of batch q_runs_test: the sign sequence folds
    * LEFT-TO-RIGHT (each closed day compares only against the
    * immediately previous closed count, and a run breaks only against
    * the previous SIGN), so the state per type is the open pair plus
    * FIVE longs — the last closed count, the last sign, and the three
    * run counters — fully mergeable forever, the s_durbin_watson
    * counterpoint to the series-state family. Equal-count days drop
    * (no sign) exactly as in batch. */
  def runsTest(events: Dataset[Ev]): Dataset[RunsMark] =
    dayCloseMonitor(events, RunsState(Long.MinValue, 0L, 0L, 0L, 0L)) {
      (typ, x, y, st) => // fold the closing day into the sign walk
        var (nu, nd, nr, sg) = (st.nUp, st.nDown, st.nRuns, st.lastSg)
        if (st.lastY != Long.MinValue && y != st.lastY) {
          val s = if (y > st.lastY) 1L else -1L
          if (s == 1L) nu += 1 else nd += 1
          if (sg == 0L || s != sg) nr += 1
          sg = s
        }
        val n = nu + nd
        val z =
          if (nu > 0 && nd > 0)
            Some(r6((nr - (2.0 * nu * nd / n + 1)) /
              math.sqrt(2.0 * nu * nd * (2.0 * nu * nd - n) /
                (n.toDouble * n * (n - 1)))))
          else None
        (RunsState(y, sg, nu, nd, nr), Some(RunsMark(typ, x, y, nu, nd, nr, z)))
    }

  /** Streaming turning-points monitor (s_turning_points) — the
    * incremental face of batch q_turning_points: a day's peak/valley
    * verdict is final only when its SUCCESSOR closes, so each fold
    * adjudicates the PREVIOUS closed day against its two neighbours.
    * State per type is the open pair plus FOUR longs (the last two
    * closed counts, the day and turn counters) — fully mergeable
    * forever. */
  def turningPoints(events: Dataset[Ev]): Dataset[TurnMark] =
    dayCloseMonitor(events, TurnState(Long.MinValue, Long.MinValue, 0L, 0L)) {
      (typ, x, y, st) => // fold the closing day; adjudicate prev1
        val n = st.nDays + 1
        val turns = st.nTurning + (
          if (st.prev2 != Long.MinValue &&
            ((st.prev1 > st.prev2 && st.prev1 > y) ||
              (st.prev1 < st.prev2 && st.prev1 < y))) 1L else 0L)
        val z =
          if (n >= 3)
            Some(r6((turns - 2.0 * (n - 2) / 3) /
              math.sqrt((16.0 * n - 29) / 90)))
          else None
        (TurnState(y, st.prev1, n, turns),
          Some(TurnMark(typ, x, y, n, turns, r6(2.0 * (n - 2) / 3), z)))
    }

  /** Streaming Poisson-dispersion monitor (s_poisson_dispersion) — the
    * incremental face of batch q_poisson_dispersion: the variance/mean
    * index collapses onto three moment sums, so the state per type is
    * the open pair plus THREE longs, mergeable forever; each day-close walks the exact
    * batch tree on the int64 moments. */
  def poissonDispersion(events: Dataset[Ev]): Dataset[PoisMark] =
    dayCloseMonitor(events, PoisState(0L, 0L, 0L)) {
      (typ, x, y, st) => // fold the closing day into the moments
        val n = st.n + 1; val s = st.s + y; val ss = st.ss + y * y
        val b = n * ss.toDouble - s.toDouble * s
        val ok = s > 0 && n >= 2
        (PoisState(n, s, ss), Some(PoisMark(typ, x, y, n, r6(s.toDouble / n),
          if (ok) Some(r6(b / (s.toDouble * (n - 1)))) else None,
          if (ok) Some(r6(b / s.toDouble)) else None)))
    }

  /** Streaming Grubbs monitor (s_grubbs) — the incremental face of
    * batch q_grubbs. The outlier day is the argmax of |n·y − s| under
    * the FINAL moments, so every day-close can re-elect it: like
    * [[pettitt]]/[[kpss]], the state is the ordered closed (day,
    * count) series (daily-frame-bounded) and each fold re-scans it
    * through the exact batch tree — int64 deviations, the earliest-day
    * argmax tie-break, g on the shared population-variance form. */
  def grubbs(events: Dataset[Ev]): Dataset[GrubbsMark] =
    dayCloseMonitor(events, Seq.empty[PtDay]) {
      (typ, x, y, days) => // append the closing day, re-elect the outlier
        val closed = days :+ PtDay(x, y)
        val n = closed.size.toLong
        val s = closed.iterator.map(_.y).sum
        val ss = closed.iterator.map(p => p.y * p.y).sum
        // argmax |n·y − s|, earliest day breaking ties — the exact
        // batch row_number() ORDER BY (a DESC, x)
        val best = closed.minBy(p => (-math.abs(n * p.y - s), p.x))
        val a = math.abs(n * best.y - s)
        val g =
          if (n >= 2 && n * ss > s * s)
            Some(r6(a.toDouble / (n *
              math.sqrt((n * ss.toDouble - s.toDouble * s) /
                (n.toDouble * (n - 1))))))
          else None
        (closed, Some(GrubbsMark(typ, x, y, n, best.x, best.y, g)))
    }

  /** Streaming Tukey HSD stats grid (s_tukey_hsd) — the streaming face
    * of batch q_tukey_hsd, split the s_cat_entropy way: the stream
    * maintains only the per-type (n, Σv, Σv²) moment grid (associative,
    * partial-mergeable — |types| rows of three longs), because the
    * studentized-range statistic is not mergeable state; the MSW and
    * every pair's q divide out AT READ TIME through the exact batch
    * fold (ops.SeriesTests.tukeyOf — shared code, so the twins cannot
    * drift, including the 1e6-lattice s²/n partials). */
  def tukeyStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), floor(col("value")).cast("long").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"))

  /** Streaming Cohen's-kappa cell grid (s_cohens_kappa) — the
    * incremental face of batch q_cohens_kappa: each arriving document
    * is classified IN-ROW by the shared marker-word predictor
    * (TextPipeline.predLangCol — one home, the raters cannot drift)
    * and a plain streaming groupBy keeps the (true, predicted) cell
    * counts. State is the ≤|langs|²-cell grid — the mergeable-grid
    * pattern (s_cat_entropy/s_countmin): counts are mergeable state,
    * κ is not, so agreement divides out at read time through the SAME
    * Diagnostics.kappaOf fold the batch op routes through. Runs
    * forever at any rate; StreamingSpec streams the corpus in chunks
    * and proves the final grid reproduces batch q_cohens_kappa
    * exactly. */
  def kappaCells(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .select(col("lang").as("true_lang"),
        graft.ops.TextPipeline.predLangCol.as("pred_lang"))
      .groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))

  /** Streaming pooled-rank value grid (s_rank_grid) — ONE mergeable
    * (type, cents, count) grid serving THREE read-time screens
    * (s_kruskal_wallis, s_dunn, s_jonckheere): each arriving event's
    * value floors onto the cents lattice in-row and a plain streaming
    * groupBy keeps the cell counts. Ranks are NOT mergeable (a new
    * value shifts every rank above it), which is exactly why the grid
    * — not any rank statistic — is the state; all three statistics
    * divide out at read time through the SAME Statistics.*Of folds the
    * batch queries route through, so the six faces cannot drift.
    * State is bounded by the distinct-cents domain × |types|. */
  def rankGrid(events: DataFrame): DataFrame =
    events
      .select(col("event_type").as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("v100"))
      .groupBy("g", "v100")
      .agg(count(lit(1)).as("c"))

  /** Read-time 1-D k-means projection over a [[rankGrid]] — the
    * purchase slice of the grid is the (v, c) domain frame; every
    * arriving purchase re-prices the Lloyd rounds (s_kmeans_1d). */
  def kmeans1dOf(grid: DataFrame): DataFrame =
    graft.ops.Mixture.kmeansOf(purchaseSlice(grid))

  /** Read-time 2-component-EM projection over a [[rankGrid]]
    * (s_gmm_em). */
  def gmmEmOf(grid: DataFrame): DataFrame =
    graft.ops.Mixture.gmmOf(purchaseSlice(grid))

  /** Read-time Huber-location projection over a [[rankGrid]] — a new
    * event shifts its type's median, MAD and every IRLS weight, so the
    * robust location re-fits at read time; the grid is the mergeable
    * state (s_huber). */
  def huberOf(grid: DataFrame): DataFrame =
    graft.ops.Analytics.huberOf(grid.withColumnRenamed("v100", "v"))

  /** Streaming word-length band grid — the mergeable (lang, wlen,
    * count, chars) state behind the s_word_len_hist read-time face:
    * a plain streaming groupBy on the ≤ |langs|×15 band domain. */
  def wordLenGrid(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), least(length(col("tok")), lit(15)).as("wlen"))
      .agg(count(lit(1)).as("n"), sum(length(col("tok"))).as("chars"))

  /** Streaming audio feature grid — clips arrive as raw event rows,
    * decode through the SAME WAV codec batch path (stream-compatible
    * map-only), and fold into the |types|-bounded (n_clips, rate,
    * Σflips, Σenergy, max peak) state behind the s_audio_features
    * read-time face. */
  def audioGrid(in: org.apache.spark.sql.Dataset[(Long, String, Long)]): DataFrame =
    graft.ops.Multimodal.audioGridOf(graft.ops.Multimodal.clipStream(in))

  /** Streaming audio fingerprint collision grid — the same in-stream
    * WAV decode as [[audioGrid]], folded onto the synthesis-bounded
    * (type, fingerprint) cells behind the s_audio_fingerprint
    * read-time face. */
  def audioFpGrid(in: org.apache.spark.sql.Dataset[(Long, String, Long)]): DataFrame =
    graft.ops.Multimodal.audioFpGridOf(graft.ops.Multimodal.clipStream(in))

  /** Streaming video feed-profile grid — clips arrive as (doc_id,
    * source) rows, synth + REAL GIF87a LZW decode ride the stream
    * (map-only), and the per-doc integer features fold into the
    * |sources|-bounded mergeable state behind the s_video_profile
    * read-time face. */
  def videoGrid(in: org.apache.spark.sql.Dataset[(Long, String)]): DataFrame =
    graft.ops.Multimodal.videoGridOf(graft.ops.Multimodal.videoClipStream(in))

  /** The purchase (v, c) slice of a [[rankGrid]] — the mixture
    * models' bounded domain frame. */
  private def purchaseSlice(grid: DataFrame): DataFrame =
    grid.filter(col("g") === "purchase")
      .groupBy(col("v100").as("v")).agg(sum("c").as("c"))

  /** Streaming daily count grid — the mergeable (event_type, x, y)
    * state behind the s_moods_median and s_friedman read-time faces:
    * a plain streaming groupBy on the SAME exact day index the batch
    * daily frame keys on (ops.Inference.dayIndexCol — one home), cell
    * count bounded by |types| × |days| (both domain enums). Neither
    * statistic is mergeable — the grand median shifts with every new
    * day and a new cell re-ranks its whole day — which is exactly why
    * the grid, not either statistic, is the state; both divide out at
    * read time through the SAME SeriesTests folds the batch queries
    * route through. */
  def dailyGrid(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), graft.ops.Inference.dayIndexCol.as("x"))
      .agg(count(lit(1)).as("y"))

  /** Streaming hourly count grid — the mergeable (type, day, hour,
    * count) state behind the s_gumbel_maxima read-time face: a plain
    * streaming groupBy on the batch day index + hour, bounded by
    * |types| × |days| × 24. The extreme-value fit is NOT mergeable
    * (every new cell can move a day's block maximum and the moments
    * under the fit), which is why the grid is the state; the Gumbel
    * parameters divide out at read time through the SAME
    * Timeseries.gumbelOf fold the batch op routes through. */
  def hourlyGrid(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), graft.ops.Inference.dayIndexCol.as("x"),
        hour(col("ts")).cast("long").as("hh"))
      .agg(count(lit(1)).as("c"))

  /** Streaming per-user lifetime frame — the mergeable (user_id, fs,
    * ls) state behind the three survival read-time faces
    * (s_kaplan_meier / s_nelson_aalen / s_log_rank): first/last-seen
    * are plain min/max — mergeable forever — while NO survival curve
    * is mergeable state, because the censor horizon is the GLOBAL max
    * last-seen: every arriving event can re-censor every user. The
    * curves divide out at read time through the SAME Timeseries
    * kmOf/naOf/logRankOf folds the batch ops route through. State is
    * user-keyed (the s_new_returning bound — |users| rows of two
    * longs). */
  def userLifeGrid(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(min(unix_timestamp(col("ts"))).as("fs"),
        max(unix_timestamp(col("ts"))).as("ls"))

  /** Streaming two-sample cents grid — the mergeable (v100, c1, c2)
    * state behind the s_ks_test and s_cramer_von_mises read-time
    * faces: a plain streaming groupBy on the cent lattice, bounded by
    * the value domain. Neither statistic is mergeable (a new cell
    * shifts every cumulative ECDF above it); both divide out at read
    * time through the SAME Statistics.ksOf/cvmOf folds the batch
    * queries route through. */
  def ksCells(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("purchase", "click"))
      .select(floor(col("value") * 100 + 0.5).cast("long").as("v100"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("g2"))
      .groupBy("v100")
      .agg(sum("g1").as("c1"), sum("g2").as("c2"))

  /** Streaming per-column completeness counters over the events feed
    * (s_completeness) — the state is ONE global row of int64
    * conditional counts (rows / nulls / trimmed blanks per audited
    * column), fully mergeable and constant-size at any rate; the
    * ingest-quality gate a pipeline watches live. Shares
    * [[graft.ops.Audit.completenessAggs]] with the batch audit so the
    * two cannot drift. */
  def completenessCounts(events: DataFrame): DataFrame = {
    val aggs = graft.ops.Audit.completenessAggs(graft.ops.Audit.EventsCols)
    events.agg(aggs.head, aggs.tail: _*)
  }

  /** Read-time unpivot + rate projection over a
    * [[completenessCounts]] row — delegates to the SAME stack the
    * batch q_completeness runs. */
  def completenessOf(one: DataFrame): DataFrame =
    graft.ops.Audit.completenessStack("events", one, graft.ops.Audit.EventsCols)
      .withColumn("completeness",
        graft.Q.r6(lit(1) - col("n_null").cast("double") / col("n_rows")))

  /** Streaming brand target-stats grid — the mergeable (p_brand, n, s,
    * ss) moment state behind the s_target_encode read-time face: a
    * stream-STATIC join against the part catalog (the enrich-join
    * shape) followed by a plain streaming groupBy on the bounded brand
    * key. The encoding is not mergeable — the global prior shifts with
    * every arriving row — the moments are. One home with batch
    * q_target_encode (Analytics.targetEncodeOf). */
  def teCells(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .select(col("l_partkey"), floor(col("l_extendedprice")).cast("long").as("y"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("y").as("s"), sum(col("y") * col("y")).as("ss"))

  /** Streaming part–supplier pair grid — the mergeable edge-set state
    * behind the s_hits read-time face: a plain streaming groupBy on
    * the (pk, sk) key (count irrelevant — key existence IS the
    * distinct edge). The power iteration is not mergeable — a new
    * edge re-prices every score — the edge set is. */
  def pairGrid(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .groupBy("pk", "sk").agg(count(lit(1)).as("n"))

  /** Read-time HITS projection over a [[pairGrid]]. */
  def hitsOf(grid: DataFrame): DataFrame =
    graft.ops.Graph.hitsOf(grid.select("pk", "sk"))

  /** Streaming per-source shard byte grid — the mergeable state behind
    * the s_compaction_plan read-time face (≤|sources|×64 rows; the
    * next-fit PLAN is not mergeable — bin boundaries re-price as bytes
    * grow — the grid is). One home with batch q_compaction_plan. */
  def shardBytes(docs: DataFrame): DataFrame =
    graft.ops.Curation.shardBytes(docs)

  /** Streaming filter-cascade cell grid — the mergeable (content-hash,
    * flags) state behind the s_filter_cascade read-time face: three
    * in-row flags + md5, a plain streaming groupBy bounded by distinct
    * contents. The 16-cell attribution is NOT mergeable (a duplicate
    * arriving re-splits its group's keeper/dup counts); the grid is.
    * One home with batch q_filter_cascade (Curation.cascadeCells). */
  def cascadeCells(docs: DataFrame): DataFrame =
    graft.ops.Curation.cascadeCells(docs)

  /** Streaming per-type value cents grid — the mergeable
    * (event_type, v100, c) state behind the s_trimmed_mean and
    * s_quantile_skew read-time faces: a plain streaming groupBy on the
    * cent lattice per type, bounded by |types| × the value domain.
    * Neither statistic is mergeable (a new cell shifts the trim band /
    * every quartile rank); the grid is. */
  def typeCents(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("v100"))
      .groupBy("event_type", "v100").agg(count(lit(1)).as("c"))

  /** Streaming token-budget quality grid (s_token_budget_trim) — the
    * incremental face of batch q_token_budget_trim: each arriving
    * document's quality floors onto the ×10⁴ lattice IN-ROW (the
    * shared TextPipeline.qualityOnWordsCol — one home) and a plain
    * streaming groupBy keeps the (lang, q4) doc/token cell counts —
    * ≤|langs|×10⁴ mergeable state. The binding budget bucket is NOT
    * mergeable (every arrival can move it), so the planning readout
    * divides out at read time through the SAME Corpus.trimOf fold the
    * batch op routes through. */
  def trimGrid(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) > 0)
      .select(col("lang"),
        floor(graft.ops.TextPipeline.qualityOnWordsCol * 10000 + 0.5)
          .cast("long").as("q4"),
        size(col("words")).cast("long").as("tok"))
      .groupBy("lang", "q4")
      .agg(count(lit(1)).as("docs"), sum("tok").as("toks"))

  /** Streaming KPSS monitor (s_kpss) — the incremental face of batch
    * q_kpss. Every partial sum S_t is measured against the FINAL mean,
    * so each day-close re-prices the whole path: like [[pettitt]], the
    * state is the ordered closed (day, count) series itself (one pair
    * per closed calendar day — the daily-frame bound), and each fold
    * walks it through the EXACT batch tree — int64 n·S_t, the
    * data-scaled lattice divisor D = max(1, ⌊byy0/1e6⌋), the order-free
    * ⌊(nS)²/D⌉ sum, η = B·D/(n²·byy0) — so the running η profile is
    * bit-equal to what batch q_kpss reports over the closed prefix. */
  def kpss(events: Dataset[Ev]): Dataset[KpssMark] =
    dayCloseMonitor(events, Seq.empty[PtDay]) {
      (typ, x, y, days) => // append the closing day, re-price the path
        val closed = days :+ PtDay(x, y)
        val n = closed.size.toLong
        val sy = closed.iterator.map(_.y).sum
        val syy = closed.iterator.map(p => p.y * p.y).sum
        val byy0 = n * syy - sy * sy
        val dd = math.max(1L, math.floor(byy0 / 1e6).toLong)
        var cum = 0L; var t = 0L; var bsum = 0L
        closed.foreach { p =>
          cum += p.y; t += 1
          val ns = n * cum - t * sy
          bsum += math.floor(ns.toDouble * ns / dd + 0.5).toLong
        }
        val eta =
          if (n >= 2 && byy0 > 0)
            Some(r6(bsum.toDouble * dd / (n.toDouble * n * byy0)))
          else None
        (closed, Some(KpssMark(typ, x, y, n, eta)))
    }

  /** Streaming Chow monitor (s_chow) — the incremental face of batch
    * q_chow: the mid-series split point MOVES with every closed day
    * (rn·2 ≤ n re-partitions the halves), so like [[kpss]] the state
    * is the ordered closed series and each fold re-splits it and walks
    * the exact batch tree — per-segment int64 moments, SSEs off the
    * shared q_cooks_distance identity, pooled = segment sums, explicit
    * two-operand double additions. The running (split, slopes, F)
    * profile is bit-equal to batch q_chow over the closed prefix. */
  def chow(events: Dataset[Ev]): Dataset[ChowMark] =
    dayCloseMonitor(events, Seq.empty[PtDay]) {
      (typ, x, y, days) => // append the closing day, re-split, re-fit
        val closed = days :+ PtDay(x, y)
        val n = closed.size.toLong
        val (seg1, seg2) = closed.splitAt(((n / 2)).toInt) // rn·2 ≤ n
        def moms(s: Seq[PtDay]): (Long, Double, Double, Double, Long) = {
          val ng = s.size.toLong
          val sx = s.iterator.map(_.x).sum; val sy = s.iterator.map(_.y).sum
          val sxx = s.iterator.map(p => p.x * p.x).sum
          val sxy = s.iterator.map(p => p.x * p.y).sum
          val syy = s.iterator.map(p => p.y * p.y).sum
          ((ng, (ng * sxx - sx * sx).toDouble, (ng * sxy - sx * sy).toDouble,
            (ng * syy - sy * sy).toDouble, if (s.isEmpty) 0L else s.map(_.x).max))
        }
        val (n1, xx1, xy1, yy1, mx1) = moms(seg1)
        val (n2, xx2, xy2, yy2, _) = moms(seg2)
        val (np, xxp, xyp, yyp, _) = moms(closed)
        def sse(xx: Double, xy: Double, yy: Double, ng: Long) =
          (yy - (xy / xx) * xy) / ng
        val s1 = sse(xx1, xy1, yy1, n1); val s2 = sse(xx2, xy2, yy2, n2)
        val sp = sse(xxp, xyp, yyp, np)
        val sw = s1 + s2
        val slope1 = if (xx1 > 0) Some(r6(xy1 / xx1)) else None
        val slope2 = if (xx2 > 0) Some(r6(xy2 / xx2)) else None
        val f =
          if (n1 >= 3 && n2 >= 3 && xx1 > 0 && xx2 > 0 && xxp > 0 && sw > 0)
            Some(r6(((sp - sw) / 2) / (sw / (np - 4))))
          else None
        // batch emits only types with BOTH segments; n = 1 has no
        // segment 1 (rn·2 = 2 > 1), mirrored here by n1 = 0
        (closed,
          if (n1 > 0) Some(ChowMark(typ, x, y, n, n1, n2, mx1, slope1, slope2, f))
          else None)
    }

  /** Streaming count-min sketch (s_countmin) — the incremental face of
    * batch q_countmin_err's frequency sketch, and the canonical
    * mergeable-counter streaming aggregate: each arriving document's
    * tokens fan out in-row to their (depth, cell) grid coordinates
    * (Lexicon.cmsDepthStructs — ONE home for the hash, so the
    * streaming and batch grids cannot drift) and a plain streaming
    * groupBy sums occurrences per cell. State is the DOMAIN-bounded
    * 4×256 counter grid — the s_cat_entropy/s_tail pattern: counts are
    * mergeable state, the min-over-rows ESTIMATE is not, so estimation
    * divides out at read time from the emitted grid through the same
    * min fold as the batch op. Runs forever at any rate; StreamingSpec
    * proves the final grid (and the top-20 estimates derived from it)
    * equal batch q_countmin_err over the same documents. */
  def countminGrid(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(explode(array(graft.ops.Lexicon.cmsDepthStructs: _*)).as("dc"))
      .select(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .groupBy("d", "cell")
      .agg(count(lit(1)).as("cs"))

  /** Streaming shard-skew monitor (s_shard_skew) — the incremental face
    * of batch q_shard_skew: as documents arrive, per-shard doc and byte
    * counters accumulate on the FIXED 64-key content-hash grid
    * (Corpus.shardCol — one home, the grids cannot drift), so a live
    * ingest sees its output layout's balance BEFORE the write job runs.
    * State is 64 rows of two int64 counters — the mergeable-grid
    * pattern; share/skew divide out at read time from the emitted
    * grid. StreamingSpec proves the final grid equals the batch op's
    * per-shard (n_docs, bytes) exactly. */
  def shardSkewStream(docs: DataFrame): DataFrame =
    docs
      .select(graft.ops.Corpus.shardCol.as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))

  /** Streaming train-model scoring (s_source_xent) — the incremental
    * face of batch q_source_xent, and the production shape of "is this
    * live feed drifting away from what we train on": the unigram train
    * model is STATIC (fit once on the committed train split; re-read
    * per micro-batch like any slowly-changing dim), each arriving
    * document's per-doc term frequencies are computed IN-ROW (the
    * document arrives whole, so the (doc, word) tf lattice is exactly
    * the batch op's — floor(tf·ln p·1e9) per pair, never per
    * occurrence, which is what makes the sums bit-equal), the model
    * joins broadcast, and a plain streaming groupBy keeps per-source
    * exact int64 sums (lp9, tokens, oov) — |sources|-bounded state,
    * runs forever at any rate. Cross-entropy divides out at read time
    * (the s_cat_entropy mergeable-state pattern). StreamingSpec
    * streams the corpus in chunks and proves the final per-source
    * sums reproduce batch q_source_xent exactly. */
  def sourceXentStream(docs: DataFrame, trainModel: DataFrame,
                       langTotals: DataFrame): DataFrame = {
    val tf = docs
      .withColumn("words", split(col("text"), " "))
      // in-row per-doc tf: distinct words × their counts — identical
      // values to the batch (doc, lang, word) groupBy
      .select(col("source"), col("lang"),
        explode(expr(
          "transform(array_distinct(words), w -> struct(w AS word, size(filter(words, x -> x = w)) AS tf))"))
          .as("p"))
      .select(col("source"), col("lang"), col("p.word").as("word"),
        col("p.tf").cast("long").as("tf"))
    tf.join(broadcast(trainModel), Seq("lang", "word"), "left")
      .join(broadcast(langTotals), "lang")
      .select(col("source"), col("tf"),
        coalesce(col("cw"), lit(0L)).as("cw"), col("n"), col("v"))
      .withColumn("lp9",
        floor(col("tf") * log((col("cw").cast("double") + 1) / (col("n") + col("v"))) *
          lit(1e9) + 0.5).cast("long"))
      .groupBy("source")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("cw") === 0, col("tf")).otherwise(0L)).as("oov_tokens"),
        sum("lp9").as("lp9"))
  }

  /** Streaming incremental ingest dedup (s_dedup_incremental) — the
    * streaming face of batch q_dedup_incremental: each ARRIVING doc is
    * classified against the EXISTING deduped corpus as 'exact' (byte-
    * identical text already present — smallest matching existing id),
    * 'near' (shingle-Jaccard ≥ 0.8 against an existing doc) or 'new'.
    * All corpus knowledge arrives as STATIC frames joined per
    * micro-batch UNHINTED — the md5 → min-id map, the df-capped
    * (lang, shingle) → existing-doc candidate index (cap 128 — the
    * shinglePairStats skew bound: a stop-phrase shingle shared by k
    * docs would contribute k candidate rows per arriving doc), and
    * the per-doc exact shingle SET the intersection is recomputed
    * from in-row. Unhinted is the point: these frames scale with the
    * EXISTING CORPUS, so the planner broadcasts them only while they
    * fit and falls back to keyed shuffles at real scale (the
    * q_dedup_keepers AQE discipline — never force-broadcast a
    * catalog-scaled side)
    * (the dfCap contract: the cap changes which pairs are DISCOVERED,
    * never a reported count). The stream needs ONE update-mode
    * aggregation keyed by the arriving doc id — no candidate dedup,
    * because duplicate (doc, candidate) rows agree on the in-row
    * Jaccard and min() absorbs them. State: one row per arriving doc
    * (each doc lives in exactly one micro-batch, so its final
    * classification rides that batch's update; production ages the
    * map out by watermark). The candidate index is built from the
    * EXISTING side only — the only side a production signature store
    * can know; result-identical to the batch twin's corpus-wide df
    * while every shingle df ≤ cap (SkewSpec's cap-invariance bound,
    * max df 14 at sf0.1). Intra-batch duplicates are out of scope by
    * the same contract as the batch operator. */
  def dedupIncrementalStream(docs: DataFrame, existing: DataFrame): DataFrame = {
    val sh = s"""CASE WHEN size(words) >= 3
                |     THEN ${graft.ops.TextPipeline.ShingleArrayExpr}
                |     ELSE array() END""".stripMargin
    val exDocs = existing
      .withColumn("words", split(col("text"), " "))
      .withColumn("e_set", expr(sh))
      .select(col("doc_id").as("e_id"), col("lang").as("e_lang"),
        md5(col("text").cast("binary")).as("h"), col("e_set"))
    val md5Map = exDocs.groupBy("h").agg(min("e_id").as("ex_m"))
    val eSets = exDocs.select(col("e_id"), col("e_set"),
      size(col("e_set")).cast("long").as("e_n"))
    val index = exDocs
      .select(col("e_id"), col("e_lang"), explode(col("e_set")).as("shingle"))
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy("e_lang", "shingle")))
      .filter(col("df") <= 128)
      .select(col("e_lang").as("lang"), col("shingle"), col("e_id"))
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(sh))
      .withColumn("n_a", size(col("shingles")).cast("long"))
      .withColumn("h", md5(col("text").cast("binary")))
      .join(md5Map, Seq("h"), "left")
      .select(col("doc_id"), col("lang"), col("shingles"), col("n_a"), col("ex_m"))
      .withColumn("shingle", explode_outer(col("shingles")))
      .join(index, Seq("lang", "shingle"), "left")
      .join(eSets, Seq("e_id"), "left")
      .withColumn("inter",
        size(array_intersect(col("shingles"), col("e_set"))).cast("long"))
      .withColumn("jac", col("inter").cast("double") /
        (col("n_a") + col("e_n") - col("inter")))
      .groupBy("doc_id")
      .agg(min("ex_m").as("ex_m"),
        min(when(col("jac") >= 0.8, col("e_id"))).as("nr_m"))
      .select(col("doc_id"),
        when(col("ex_m").isNotNull, "exact")
          .when(col("nr_m").isNotNull, "near")
          .otherwise("new").as("status"),
        coalesce(col("ex_m"), col("nr_m")).as("match_doc"))
  }

  /** Streaming brand-risk counters (s_woe_iv) — the live face of
    * batch q_woe_iv: arriving lineitem rows join the static part
    * catalog UNHINTED (catalog-scaled — the planner broadcasts only
    * while it fits) and fold into the per-brand (n_good, n_bad)
    * counter grid, fully mergeable (complete/update mode,
    * |brands|-bounded state); WoE and IV re-price globally as totals
    * move, so they divide out at read time through the SAME
    * Analytics.woeOf fold the batch query runs. */
  def brandRiskCounts(lines: DataFrame, part: DataFrame): DataFrame =
    lines
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("bad"))
      .groupBy("p_brand")
      .agg(sum(lit(1) - col("bad")).as("n_good"), sum("bad").as("n_bad"))

  /** Streaming inter-event gap bands (s_gap_hist) — the live face of
    * batch q_gap_hist: per user, ONE row of state (the last seen
    * (es, event_id)) turns each arriving event into its gap's exact
    * log2 band (bit-length arithmetic — the same integer path as the
    * batch bin() route), emitted append-mode; the histogram, shares
    * and the session-threshold knee divide out at read time through
    * the SAME Analytics.gapHistOf fold the batch query runs. Within a
    * micro-batch events sort by (es, event_id); ACROSS batches the
    * face assumes event-time-ordered ingestion per user (the
    * s_new_returning convention — a late event would pair with the
    * wrong neighbor, exactly as it would in any online gap monitor).
    * State is user-bounded, never stream-bounded. */
  def gapBandsStream(events: Dataset[GapEvent]): Dataset[GapBand] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapBand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[GapEvent], state: GroupState[GapState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.es, e.event_id))
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[GapBand]()
          sorted.foreach { e =>
            prev.foreach { p =>
              val gap = e.es - p.es
              // bit-length − 1 of (gap + 1): identical to the batch
              // length(bin(gap + 1)) − 1 for every gap ≥ 0
              out += GapBand(uid, 63L - java.lang.Long.numberOfLeadingZeros(gap + 1))
            }
            prev = Some(GapState(e.es, e.event_id))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming keeper election (s_dedup_keepers) — the incremental face
    * of batch q_dedup_keepers: as LSH candidate pairs ARRIVE (the
    * production shape generates them per micro-batch by banding each
    * new document's MinHash signature against the signature store — the
    * same bounded candidate generation as the batch pipeline), the
    * per-cluster keeper table re-resolves without recomputing CC from
    * scratch. State is a FLATTENED union-find forest over exactly the
    * docs that have appeared in a candidate pair — the LSH-bounded
    * frame batch CC materializes, never the corpus — with each node
    * carrying its n_chars; roots are component-minimum doc ids, so the
    * streaming cluster_id equals the batch min-label id by
    * construction, order-independently (the min of a set does not
    * depend on arrival order, and neither does max-(n_chars, −id)
    * keeper election). Grouped by LANG: banded candidates never cross
    * languages, so each language's forest is an independent state
    * partition — the same horizontal scaling axis as the batch
    * shuffle's lang-scoped keys. Each trigger emits that language's
    * full re-resolved keeper table, version-stamped (the skyline
    * emission contract) so a sink or test isolates the newest
    * resolution; StreamingSpec proves the final emissions equal batch
    * q_dedup_keepers over the SAME candidate pair set fed out of
    * order. */
  def dedupKeepersStream(pairs: Dataset[KeeperPair]): Dataset[KeeperOut] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[KeeperForest, KeeperOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[KeeperPair], state: GroupState[KeeperForest]) =>
          val prev = state.getOption.getOrElse(KeeperForest(0L, Nil))
          val parent = scala.collection.mutable.LongMap[Long]()
          val chars = scala.collection.mutable.LongMap[Long]()
          prev.nodes.foreach { n => parent(n.id) = n.parent; chars(n.id) = n.chars }
          // find with full path compression — the stored forest is flat
          // (every parent IS a root), so chains only form within a batch
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          rows.foreach { p =>
            if (!parent.contains(p.d1)) { parent(p.d1) = p.d1; chars(p.d1) = p.c1 }
            if (!parent.contains(p.d2)) { parent(p.d2) = p.d2; chars(p.d2) = p.c2 }
            val r1 = find(p.d1); val r2 = find(p.d2)
            if (r1 != r2) {
              // union under the SMALLER root id: the component minimum
              // stays the root, so cluster ids match batch min-label CC
              if (r1 < r2) parent(r2) = r1 else parent(r1) = r2
            }
          }
          val ver = prev.ver + 1
          val members = parent.keys.toSeq.groupBy(find)
          val out = members.toSeq.map { case (root, ms) =>
            // keeper = longest doc, tie -> smallest id (the batch
            // row_number(ORDER BY n_chars DESC, id) election)
            val keeper = ms.maxBy(d => (chars(d), -d))
            KeeperOut(ver, lang, root, keeper, chars(keeper),
              ms.size.toLong, ms.size.toLong - 1L)
          }.sortBy(_.cluster_id)
          // store the forest FLATTENED (parent = root) so next batch's
          // finds are O(1) and state size is exactly one node per doc
          state.update(KeeperForest(ver,
            parent.keys.toSeq.sorted.map(id => UfNode(id, find(id), chars(id)))))
          out.iterator
      }
  }
}

/** One LSH candidate pair for the streaming keeper election, carrying
  * both docs' lengths (banded candidates never cross languages, so one
  * lang tags the pair). */
final case class KeeperPair(lang: String, d1: Long, c1: Long, d2: Long, c2: Long)

/** One arriving event for the streaming gap monitor. */
final case class GapEvent(user_id: Long, es: Long, event_id: Long)

/** Per-user last-seen event — the whole s_gap_hist state. */
final case class GapState(es: Long, eid: Long)

/** One emitted gap band (exact log2 bucket of the seconds gap). */
final case class GapBand(user_id: Long, bucket: Long)

/** Per-lang union-find forest over candidate docs, stored flat
  * (parent = component-minimum root), with each node's n_chars. */
final case class UfNode(id: Long, parent: Long, chars: Long)
final case class KeeperForest(ver: Long, nodes: Seq[UfNode])

/** One keeper-table row emission, tagged with the emission version. */
final case class KeeperOut(ver: Long, lang: String, cluster_id: Long,
                           keeper_doc: Long, keeper_chars: Long,
                           cluster_size: Long, n_dropped: Long)

/** Per-user first-seen state: the max epoch-day observed and a 64-bit
  * emitted-day mask anchored at it (the bounded out-of-order dedup
  * horizon). maxDay == Long.MinValue means "no day seen yet". */
final case class NewRetState(maxDay: Long, mask: Long)

/** One (user, day) activity marker with its new-user flag. */
final case class DayMarker(user_id: Long, epoch_day: Long, is_new: Boolean)

/** The state a day-close monitor keeps per type: the still-open day
  * and its running count beside the monitor's closed-day state.
  * openDay == Long.MinValue means "no day open". */
final case class DayClose[S](openDay: Long, openCount: Long, closed: S)

/** Page–Hinkley closed-day state: the exact int64 sufficient
  * statistics of the recurrence (n, Σy, m6, min m6, max drift, argmax
  * day). */
final case class PhState(n: Long, s: Long, m6: Long, mn: Long, ph6: Long,
                         driftDay: Long)

/** One closed-day emission of the running Page–Hinkley profile. */
final case class PhMark(event_type: String, day_closed: Long, y: Long,
                        n_days: Long, ph: Double, drift_day: Long)

/** Mann–Kendall closed-day state: the running (n, S) and the
  * multiset of closed daily counts (the tie groups and the
  * sign-comparison base) — calendar-bounded. */
final case class MkState(n: Long, s: Long, counts: Map[Long, Long])

/** One closed-day emission of the running Mann–Kendall profile;
  * z is None while the variance is degenerate (all counts tied). */
final case class MkMark(event_type: String, day_closed: Long, y: Long,
                        n_days: Long, s: Long, z: Option[Double])

/** One (weekday stratum, daily count) multiset cell of the seasonal
  * Mann–Kendall state: t closed days in stratum dow had count y. */
final case class SmkCnt(dow: Long, y: Long, t: Long)

/** Seasonal Mann–Kendall closed-day state: the running (n, S) and
  * the per-stratum closed-count multiset — calendar-bounded (7 strata
  * × the distinct daily counts). */
final case class SmkState(n: Long, s: Long, counts: Seq[SmkCnt])

/** One closed (day, count) pair. The ordered Seq of them — one pair
  * per closed calendar day — is the whole closed-day state of the
  * Pettitt, Grubbs, KPSS and Chow monitors: their statistics are not
  * mergeable, so the series IS the sufficient statistic. */
final case class PtDay(x: Long, y: Long)

/** One closed-day emission of the running Pettitt profile; p_exponent
  * is None until two days have closed. */
final case class PtMark(event_type: String, day_closed: Long, y: Long,
                        n_days: Long, k_stat: Long, change_day: Long,
                        p_exponent: Option[Double])

/** One closed-day emission of the running KPSS profile; eta is None
  * until two days have closed with nonzero variance. */
final case class KpssMark(event_type: String, day_closed: Long, y: Long,
                          n_days: Long, eta: Option[Double])

/** One closed-day emission of the running Chow profile (emitted once
  * both halves exist); slopes/F are None while degenerate. */
final case class ChowMark(event_type: String, day_closed: Long, y: Long,
                          n_days: Long, n1: Long, n2: Long, split_day: Long,
                          slope1: Option[Double], slope2: Option[Double],
                          f_stat: Option[Double])

/** Runs-test closed-day state: the last closed count, the last sign
  * (0 = none yet), and the three run counters — five longs, mergeable
  * forever. */
final case class RunsState(lastY: Long, lastSg: Long, nUp: Long,
                           nDown: Long, nRuns: Long)

/** One closed-day emission of the running runs-test profile; z is None
  * until both sign classes are populated. */
final case class RunsMark(event_type: String, day_closed: Long, y: Long,
                          n_up: Long, n_down: Long, n_runs: Long,
                          z: Option[Double])

/** Turning-points closed-day state: the last two closed counts
  * (MinValue sentinels) and the day/turn counters — four longs,
  * mergeable forever. */
final case class TurnState(prev1: Long, prev2: Long, nDays: Long,
                           nTurning: Long)

/** One closed-day emission of the running turning-points profile. */
final case class TurnMark(event_type: String, day_closed: Long, y: Long,
                          n_days: Long, n_turning: Long, expected: Double,
                          z: Option[Double])

/** Poisson-dispersion closed-day state: the three moment sums —
  * mergeable forever. */
final case class PoisState(n: Long, s: Long, ss: Long)

/** One closed-day emission of the running dispersion profile. */
final case class PoisMark(event_type: String, day_closed: Long, y: Long,
                          n_days: Long, mean: Double,
                          dispersion: Option[Double], chi2: Option[Double])

/** One closed-day emission of the running Grubbs profile (the elected
  * outlier day can move with every close — the argmax rides the FINAL
  * moments, which is why the state is the closed series). */
final case class GrubbsMark(event_type: String, day_closed: Long, y: Long,
                            n_days: Long, outlier_day: Long,
                            outlier_count: Long, g: Option[Double])

/** Durbin–Watson closed-day state: the last CLOSED (day, count) pair
  * (the lag anchor) and the nine int64 accumulators (n + five moment
  * sums + three lag-diff sums) — eleven longs, mergeable forever.
  * lastX == Long.MinValue means "no day closed yet". */
final case class DwState(lastX: Long, lastY: Long, n: Long,
                         sx: Long, sy: Long, sxx: Long, sxy: Long, syy: Long,
                         suu: Long, suv: Long, svv: Long)

/** One closed-day emission of the running Durbin–Watson profile;
  * slope/dw/rho1 are None until n ≥ 3 and the fit is non-degenerate. */
final case class DwMark(event_type: String, day_closed: Long, y: Long,
                        n_days: Long, slope: Option[Double],
                        dw: Option[Double], rho1: Option[Double])
