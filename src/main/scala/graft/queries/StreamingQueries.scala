package graft.queries

import graft.{OracleQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 streaming shapes, computed in batch mode over `events`
  * so the DuckDB oracle can check them. The same windowing logic runs as a
  * real Structured Streaming job in graft.streaming.EventStream (tested in
  * StreamingAndGraphSpec); batch/stream parity is Spark's own guarantee for
  * time-window aggregates.
  *
  * All window arithmetic is on exact integer epoch seconds (`ts_sec`) —
  * never on floating epoch or sub-second timestamps — so both engines
  * bucket identically.
  */
object StreamingQueries extends QueryModule {

  private def q(name: String, sql: String)(run: (SparkSession, String) => DataFrame) =
    OracleQuery(name, run, Some(sql))

  val queries: Seq[OracleQuery] = Seq(
    // ST1: tumbling 5-minute window count per event type.
    q("q_st1_tumbling_count",
      "SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start, event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      Tables.events(s, d)
        .groupBy((floor(col("ts_sec") / 300) * 300).cast("long").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("window_start", "event_type")
    },
    // ST2: sliding window (width 600s, slide 300s) sum — each event lands in
    // two windows; DuckDB reproduces the expansion with a 2-way UNION ALL.
    // value is a 2-decimal double → DECIMAL sum for order-independence.
    q("q_st2_sliding_sum",
      "SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS DOUBLE) AS sum_value FROM (SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start, event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events UNION ALL SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT) AS window_start, event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events) GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      val ev = Tables.events(s, d)
      // window(ts, "600 seconds", "300 seconds") explodes to the same two
      // buckets; we use it (the genuine streaming operator) and project the
      // bucket start back to epoch seconds.
      ev.groupBy(window(col("ts"), "600 seconds", "300 seconds").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("w.start").cast("long").as("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },
    // ST3: watermark cutoff — keep only events within 1h of the max event
    // time (what a 1h watermark would admit at end-of-stream), count kept.
    q("q_st3_watermark_cutoff",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept FROM events WHERE CAST(floor(epoch(ts)) AS BIGINT) >= (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 3600 FROM events) GROUP BY 1 ORDER BY 1") { (s, d) =>
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(col("ts_sec")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .filter(col("ts_sec") >= col("mx") - 3600)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("event_type")
    },
    // ST4: per-user session windows (5-minute gap) via the genuine
    // session_window operator, on integer-second event time; the oracle is
    // the classic gaps-and-islands formulation. Spark session semantics are
    // INCLUSIVE at the boundary: an event at exactly prev_ts + gap still
    // extends the session (verified at sf0.1, where two exact-gap pairs
    // exist), so a new session starts only when the gap is STRICTLY
    // exceeded; session_end = last event + gap.
    q("q_st4_session_window",
      "WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, CAST(value AS DECIMAL(18,2)) AS v FROM events), m AS (SELECT user_id, t, v, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 300 THEN 1 ELSE 0 END AS brk FROM e), s AS (SELECT user_id, t, v, sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) SELECT user_id, min(t) AS session_start, max(t) + 300 AS session_end, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(v) AS DOUBLE) AS sum_value FROM s GROUP BY user_id, sid ORDER BY user_id, session_start") { (s, d) =>
      Tables.events(s, d)
        .withColumn("tsec", to_timestamp(col("ts_sec")))
        .groupBy(col("user_id"), session_window(col("tsec"), "300 seconds").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("user_id"), col("w.start").cast("long").as("session_start"),
          col("w.end").cast("long").as("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    },
    // ST5: stream-stream join (batch parity) — purchases within 10 minutes
    // after a click by the same user, through the REAL correlate operator
    // (watermark + time-range bound); µs precision on both sides.
    q("q_st5_stream_join",
      "SELECT l.event_id AS click_id, r.event_id AS purchase_id, l.user_id AS user_id, " +
        "epoch_us(l.ts) AS click_ts_us, epoch_us(r.ts) AS purchase_ts_us " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND l.event_type = 'click' AND r.event_type = 'purchase' " +
        "AND epoch_us(r.ts) >= epoch_us(l.ts) AND epoch_us(r.ts) < epoch_us(l.ts) + 600000000 " +
        "ORDER BY 1, 2") { (s, d) =>
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_nanos div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
          col("ts_us").as("purchase_ts_us"))
      graft.streaming.EventStream.correlate(clicks, purchases, "user_id", "10 minutes")
        .select(col("click_id"), col("purchase_id"), col("l.user_id").as("user_id"),
          col("click_ts_us"), col("purchase_ts_us"))
        .orderBy("click_id", "purchase_id")
    }
  )
}
