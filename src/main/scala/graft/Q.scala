package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A named query with its DuckDB oracle.
  *
  * Keeping the Spark implementation and the oracle SQL side by side is
  * the main defense against the driver's hash-compare: column names,
  * rounding formulas and ordering must match in both. The oracle is
  * structurally REQUIRED (a plain String, not an Option): a rows-only
  * query cannot exist in this codebase — even approximate/LSH ops
  * declare an oracle over a derived exact quantity (recall bands,
  * error bounds), and streaming ops ship as their batch twins here
  * with the streaming halves verified by StreamingSpec/LedgerSpec.
  * SurveyContractSpec additionally pins queries ↔ oracles ↔ §2 rows
  * in both directions. (The r12 `noOracle` escape hatch is deleted,
  * not just unused — backsliding is now a compile error.)
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)

  // ---- parity helpers -----------------------------------------------------
  // Spark's round() is HALF_UP on the decimal string while DuckDB rounds the
  // binary double — they disagree on values like 2.675. floor(x*K+0.5)/K is
  // pure IEEE double arithmetic, bit-identical in both engines (SURVEY §7).

  /** One-shot plan snapshot used wherever a frame feeds multiple
    * branches or an iteration: eager localCheckpoint on a single box,
    * the RELIABLE df.checkpoint branch whenever the session has a
    * checkpoint dir configured — the cluster deployment switch, because
    * localCheckpoint truncates lineage onto executor-local blocks and
    * ONE lost executor then fails the query instead of recomputing
    * (ops.Graph pioneered the pattern; GraphScaleSpec round-trips it).
    * Same results either way — only the recovery story changes. */
  def snapshot(df: DataFrame): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    out.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        recordSnapshotOrigin(r.rdd.id, df.queryExecution.optimizedPlan)
    }
    out
  }

  /** [[snapshot]] plus aggregate stats of the materialized rows, taken by
    * `Dataset.observe` inside the snapshot's own job: a count or checksum
    * read right after a snapshot costs no second job. Stats are over
    * exactly the rows materialized (an empty frame gives count 0 and
    * null sums), in both snapshot modes. The row holds the stats in
    * argument order. They are read from the snapshot's executed plan
    * once its job has returned, not from an `Observation`: that waits
    * for a listener-bus callback, and would block for good if the
    * callback never came. */
  def snapshotWith(df: DataFrame, stats: Column*): (DataFrame, Row) = {
    val name = s"snapshot_stats_${java.util.UUID.randomUUID()}"
    val observed = df.observe(name, stats.head, stats.tail: _*)
    val snap = snapshot(observed)
    (snap, observed.queryExecution.observedMetrics(name))
  }

  /** The eager round driver. It snapshots `seed` and then each
    * `step(state, stats of state)` through [[snapshotWith]], observing
    * `stats` in every snapshot's own job, and releases each superseded
    * state ([[release]]) once its successor is materialized, so the
    * session holds one round's state, not one per round. It stops when
    * `stop` holds on the stats so far (seed first) or after `maxRounds`
    * rounds; a fixed-round loop is one whose stop test never fires.
    *
    * The policy: a loop runs here when each round must be materialized
    * before the next is built. That is a convergence test read on the
    * driver (connected components), a node-sized state whose row guard
    * the next round's broadcast needs (label propagation, k-core), or a
    * plan that would otherwise nest every prior round (persist caches
    * only execution, so Catalyst would re-analyze a tree that grows
    * with each round's self-references). Fixed-round chains whose
    * rounds feed one consumer each (pagerank, HITS, Huber's IRLS,
    * Markov, textrank) stay lazy: their plan depth is bounded and a
    * snapshot would only add jobs. BFS and closeness read every
    * frontier in their result, so nothing is superseded there; they
    * share `Graph.frontiers` instead. */
  def iterate(seed: DataFrame, maxRounds: Int, stats: Column*)(
      step: (DataFrame, Row) => DataFrame,
      stop: IndexedSeq[Row] => Boolean = _ => false): Rounds = {
    @annotation.tailrec
    def go(state: DataFrame, seen: Vector[Row]): Rounds = {
      val stopped = stop(seen)
      if (stopped || seen.size > maxRounds) Rounds(state, seen.size - 1, seen, stopped)
      else {
        val (next, st) = snapshotWith(step(state, seen.last), stats: _*)
        release(state)
        go(next, seen :+ st)
      }
    }
    val (first, st) = snapshotWith(seed, stats: _*)
    go(first, Vector(st))
  }

  /** What [[iterate]] ran: the final (materialized, caller-owned) state,
    * the rounds after the seed, each state's observed stats (seed
    * first) and whether the stop test fired. */
  final case class Rounds(state: DataFrame, rounds: Int, stats: IndexedSeq[Row], stopped: Boolean)

  /** Release a superseded [[snapshot]]'s blocks: its plan is a
    * LogicalRDD over exactly the RDD localCheckpoint persisted, so
    * unpersisting that RDD frees those blocks without touching anything
    * else in the session. (Reliable checkpoints don't persist; unpersist
    * is then a no-op and the checkpoint files follow the job's cleanup
    * policy.) */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  // Checkpointing truncates lineage to a LogicalRDD leaf, which would
  // also erase the evidence PlanAuditSpec's broadcast-bound walk needs
  // to prove a hinted build side bounded. Each snapshot therefore
  // records its origin's optimized plan keyed by the materialized RDD
  // id; the walk resolves LogicalRDD leaves through this registry
  // (recursively, for chained snapshots). LRU-capped so a long-lived
  // session never accumulates more than 4096 plans.
  private val snapshotOriginsMap =
    new java.util.LinkedHashMap[Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan](
        64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
          : Boolean = size > 4096
    }
  private def recordSnapshotOrigin(
      rddId: Int, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    snapshotOriginsMap.synchronized { snapshotOriginsMap.put(rddId, plan); () }
  def snapshotOrigin(rddId: Int)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    snapshotOriginsMap.synchronized { Option(snapshotOriginsMap.get(rddId)) }

  /** Size-guarded broadcast for CORPUS-DERIVED build sides (models,
    * candidate sets) whose domain is bounded for this corpus but could
    * outgrow a broadcast at another's (the q_ppl_bucket trigram LM on
    * a CJK corpus): snapshot the frame, count its rows in the
    * snapshot's own job ([[snapshotWith]]), and hint the broadcast ONLY
    * under the bound — above it the join degrades to a plain shuffle
    * join on the same keys. The decision is recorded per RDD id so
    * PlanAuditSpec's broadcast-bound walk can verify the hint was
    * row-guarded rather than assumed. Prefer an unhinted join (planner
    * /AQE statistics) when the probe side is not pre-materialized; use
    * this where the probe side IS a snapshot, because there AQE's
    * conversion still pays the probe's map-side shuffle write first. */
  def sizedBroadcast(df: DataFrame, maxRows: Long): DataFrame = {
    val (snap, stats) = snapshotWith(df, count(lit(1)))
    guardedBroadcast(snap, stats.getLong(0), maxRows)
  }

  /** The [[sizedBroadcast]] decision applied to an ALREADY-materialized
    * snapshot with an externally-known row count: record the row guard
    * and hint broadcast only under the bound. For iteration states
    * whose row count is invariant across rounds (CC labels, PageRank
    * ranks, label-propagation labels — exactly one row per node every
    * round), ONE count taken at the seed guards every round's hint
    * instead of paying a count job per round; above the bound each
    * round degrades to the plain shuffle join unchanged. */
  def guardedBroadcast(snap: DataFrame, n: Long, maxRows: Long): DataFrame = {
    snap.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        rowGuardsMap.synchronized { rowGuardsMap.put(r.rdd.id, (n, maxRows)); () }
    }
    if (n <= maxRows) broadcast(snap) else snap
  }
  private val rowGuardsMap =
    new java.util.LinkedHashMap[Int, (Long, Long)](64, 0.75f, false) {
      override def removeEldestEntry(e: java.util.Map.Entry[Int, (Long, Long)])
          : Boolean = size > 4096
    }
  def rowGuard(rddId: Int): Option[(Long, Long)] =
    rowGuardsMap.synchronized { Option(rowGuardsMap.get(rddId)) }

  /** round to 2 decimals, identical formula in Spark and DuckDB. */
  def r2(c: Column): Column = floor(c * 100 + 0.5) / 100
  /** round to 4 decimals. */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
  /** round to 6 decimals. */
  def r6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000

  /** DuckDB-side twin of [[r2]]/[[r4]]/[[r6]]. */
  def sqlR2(e: String): String = s"floor(($e)*100+0.5)/100"
  def sqlR4(e: String): String = s"floor(($e)*10000+0.5)/10000"
  def sqlR6(e: String): String = s"floor(($e)*1000000+0.5)/1000000"

  /** Event timestamps truncated to whole epoch seconds — the only safe way
    * to compare a parquet-nanos column across Spark (µs) and DuckDB (ns). */
  def epochSec(c: Column): Column = unix_timestamp(c)
  def sqlEpochSec(e: String): String =
    s"CAST(epoch(date_trunc('second', $e)) AS BIGINT)"

  /** Per-id slots in the packed `es * PackBase + event_id` event-time
    * order key (attribution last-touch, streaming OHLC tie-break). */
  val PackBase = 100000000L

  /** Packed (epoch-sec, event_id) int64 order key with an overflow
    * guard: an event_id outside [0, PackBase) would silently corrupt
    * the event-time ordering AND the `ord / PackBase` second recovery
    * the streaming state pruning relies on — so it fails LOUDLY at
    * ingest instead (the guard stays inside the expression tree, so
    * column pruning can never elide it). */
  def packedOrd(es: Column, id: Column): Column =
    when(id >= PackBase || id < 0,
      raise_error(concat(lit("event_id overflows the packed (es,event_id) order key: "),
        id.cast("string"))).cast("long"))
      .otherwise(es * PackBase + id)
}
