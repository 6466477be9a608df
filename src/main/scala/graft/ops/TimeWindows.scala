package graft.ops

import graft.{Q, QueryDef, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch twins of the streaming window operators (SURVEY §2.9).
  *
  * Each query calls the SAME transform function used by the streaming
  * paths (graft.streaming.Streams) on a batch DataFrame — watermarks are
  * a no-op in batch mode, so these carry the DuckDB oracle for semantics
  * the streaming tests then assert incrementally.
  *
  * Timestamps are truncated to whole epoch seconds BEFORE windowing on
  * both sides (events.ts is parquet-nanos; sub-second precision differs
  * across engines — SURVEY §7). Second-level truncation never moves an
  * event across a ≥1-minute window boundary: floor(floor(x)/k) ==
  * floor(x/k) for integer k.
  */
object TimeWindows {

  /** events with ts truncated to whole seconds (as TimestampType). */
  private def secEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      timestamp_seconds(Q.epochSec(col("ts"))).as("ts"))

  def defs: Seq[QueryDef] = Seq(

    // Tumbling 10-minute windows (oracle: epoch-floor bucketing).
    Q("q_tumbling_batch",
      """SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 600) * 600 AS win_start,
        |       event_type,
        |       count(*) AS n,
        |       floor((sum(value))*100+0.5)/100 AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Streams.tumbling(secEvents(s, d))
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), Q.r2(col("sum_value")).as("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // Sliding 10-minute windows every 5 minutes: each event lands in two
    // windows (oracle: explicit two-start expansion).
    Q("q_sliding_batch",
      """WITH e AS (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
        |                  event_type, value FROM events),
        |x AS (SELECT unnest([ (es // 300) * 300 - 300, (es // 300) * 300 ]) AS win_start,
        |             event_type, value
        |      FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |       floor((sum(value))*100+0.5)/100 AS sum_value
        |FROM x
        |GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Streams.sliding(secEvents(s, d))
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), Q.r2(col("sum_value")).as("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // Session windows, 30-minute gap, per user (oracle: classic
    // lag-gap + cumulative-sum sessionization; session end = last event
    // + gap). session_window MERGES a pair exactly `gap` apart — the
    // session interval is closed at last+gap — so the oracle splits
    // strictly on gap > 1800. StreamingSpec "session windows merge
    // events within the gap and split across it" pins this: gaps of
    // 1,799 and 1,800 s give one session, 1,801 s gives two.
    Q("q_session_batch",
      """WITH e AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |           FROM events),
        |o AS (SELECT user_id, es,
        |             CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > 1800
        |                  THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT user_id, es,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY es
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT user_id,
        |       min(es) AS session_start,
        |       max(es) + 1800 AS session_end,
        |       count(*) AS n_events
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Streams.sessions(secEvents(s, d))
        .select(
          col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          unix_timestamp(col("session_window.end")).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Gap-fill + forward-fill: densify the per-type 10-minute series
    // over each type's [min, max] span (empty buckets get n=0), then
    // carry the last observed sum forward — the standard time-series
    // resample/continuity pass before charting or model features.
    // The bucket dimension is GENERATED in-row (sequence+explode over
    // the 5-row span table) and the forward-fill window runs over the
    // AGGREGATED series (|types| × |buckets| rows — grows with the time
    // span, not the corpus), so nothing here re-sorts raw events.
    Q("q_gapfill",
      """WITH e AS (SELECT event_type,
        |                  (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 600) * 600 AS ws,
        |                  value
        |           FROM events),
        |a AS (SELECT event_type, ws, count(*) AS n,
        |             floor((sum(value))*100+0.5)/100 AS sv
        |      FROM e GROUP BY 1, 2),
        |s AS (SELECT event_type, min(ws) AS lo, max(ws) AS hi FROM a GROUP BY 1),
        |b AS (SELECT event_type, unnest(range(lo, hi + 600, 600)) AS ws FROM s),
        |f AS (SELECT b.event_type, b.ws, coalesce(a.n, 0) AS n, a.sv
        |      FROM b LEFT JOIN a ON b.event_type = a.event_type AND b.ws = a.ws)
        |SELECT event_type, ws, CAST(n AS BIGINT) AS n,
        |       last_value(sv IGNORE NULLS) OVER (
        |         PARTITION BY event_type ORDER BY ws
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum
        |FROM f
        |ORDER BY event_type, ws""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("event_type"),
        ((Q.epochSec(col("ts")) / 600).cast("long") * 600).as("ws"),
        col("value"))
      val agg = ev.groupBy("event_type", "ws")
        .agg(count(lit(1)).as("n"), Q.r2(sum(col("value"))).as("sv"))
      val span = agg.groupBy("event_type").agg(min("ws").as("lo"), max("ws").as("hi"))
      val buckets = span.select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(600L))).as("ws"))
      val w = Window.partitionBy("event_type").orderBy("ws")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets.join(agg, Seq("event_type", "ws"), "left")
        .select(col("event_type"), col("ws"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sv"), ignoreNulls = true).over(w).as("ffill_sum"))
        .orderBy("event_type", "ws")
    }
  )
}
