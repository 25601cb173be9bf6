package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Exact

/** Event-stream operators built as DataFrame closures: the batch twins of
  * the streaming transforms in [[graft.streaming.Streams]] (sessions,
  * tumbling and hopping windows, interval join, dedup, enrichment). The
  * SELECT pipeline of the reference's streaming engine (surrealdb:
  * exec/planner/select.rs:195 `plan_pipeline` — source → Filter → Split →
  * Aggregate → Sort → Limit → Project → Fetch) reaches Spark as SurrealQL
  * text in [[SurqlQueries]].
  *
  * Each `Q` below carries a DuckDB oracle. Scale notes are inline: the
  * oracle gate runs at sf0.01, but every plan here is shaped for a
  * 1000-executor cluster (no collect()s, no cartesian products, broadcast
  * only for fixed-size dims).
  */
object Relational {

  /** Gap-based sessionization over the events time-series (SURVEY §1.1: the
    * record-id-range/time-series idiom; the classic event-stream batch op):
    * a >30-minute silence per user starts a new session. One window pass
    * marks session starts (lag + compare), a running sum numbers them, one
    * grouped aggregate emits per-session stats — two shuffles total, both
    * partitioned by user, so the plan scales with users × events/user and
    * never materializes session state on the driver. Timestamps compare in
    * raw nanoseconds on both engines (epoch_ns ↔ the nanos-as-long read). */
  val eventsSessionize = Q("events_sessionize",
    """WITH t AS (
         SELECT user_id, epoch_us(ts) AS tu FROM events),
       marked AS (
         SELECT user_id, tu,
                CASE WHEN lag(tu) OVER (PARTITION BY user_id ORDER BY tu) IS NULL
                       OR tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu)
                          > 1800000000 THEN 1 ELSE 0 END AS new_sess
         FROM t),
       numbered AS (
         SELECT user_id, tu,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tu
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
         FROM marked)
       SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
              MIN(tu) AS start_us,
              COUNT(*) AS n_events,
              CAST((MAX(tu) - MIN(tu)) / 1000000.0 AS DOUBLE) AS dur_secs
       FROM numbered GROUP BY user_id, sess_no
       ORDER BY user_id, sess_no""") {
    (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("tu")
      val run = Window.partitionBy("user_id").orderBy("tu")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tu"))
        .withColumn("prev", lag(col("tu"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tu") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_no", sum(col("new_sess")).over(run))
        .groupBy(col("user_id"), col("sess_no"))
        .agg(
          min(col("tu")).as("start_us"),
          count(lit(1)).as("n_events"),
          ((max(col("tu")) - min(col("tu"))) / 1e6).as("dur_secs"))
        .select(col("user_id"), col("sess_no"), col("start_us"),
          col("n_events"), col("dur_secs"))
        .orderBy("user_id", "sess_no")
  }

  /** Tumbling-window aggregation (the batch twin of a streaming windowed
    * agg; SurrealQL expresses it as `time::floor(ts, 1h)` group keys):
    * hourly event counts and value sums per type — one map-side-combined
    * aggregate keyed (hour, type), embarrassingly scalable. */
  val eventsWindow = Q("events_window",
    s"""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start,
               event_type,
               COUNT(*) AS cnt,
               ${Exact.sqlSum("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""") {
    (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts").cast("timestamp")),
            "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value")).as("sum_value"))
        .orderBy("hour_start", "event_type")
  }

  /** Hopping-window aggregation (1-hour windows every 15 minutes) — the
    * batch twin of [[graft.streaming.Streams.slidingAgg]], oracle-gated;
    * StreamSpec asserts the streaming path emits the same rows. The oracle
    * replays the 4-fold window assignment as an offset cross join. */
  val eventsWindowSliding = Q("events_window_sliding",
    s"""WITH e AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS b,
                          event_type, value FROM events),
             w AS (SELECT b - o.k * INTERVAL '15 minutes' AS ws, event_type, value
                   FROM e CROSS JOIN (VALUES (0),(1),(2),(3)) o(k))
        SELECT CAST(ws AS VARCHAR) AS win_start, event_type,
               COUNT(*) AS cnt, ${Exact.sqlSum("value")} AS sum_value
        FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""") { (s, d) =>
    graft.streaming.Streams.slidingAgg(
        Tables.events(s, d).select(col("ts").cast("timestamp").as("ts"),
          col("event_type"), col("value")))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** Interval-bounded event-correlation join (purchase ← same user's clicks
    * within the preceding hour) — the batch twin of
    * [[graft.streaming.Streams.purchaseClickJoin]], the stream-stream join
    * whose watermarks bound both state buffers. */
  val eventsStreamJoin = Q("events_stream_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              p.user_id AS user_id, p.value AS value
       FROM events p JOIN events c
         ON p.event_type = 'purchase' AND c.event_type = 'click'
        AND p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
       ORDER BY purchase_id, click_id""") { (s, d) =>
    graft.streaming.Streams.purchaseClickJoin(
        Tables.events(s, d).select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("event_type"), col("value")))
      .orderBy("purchase_id", "click_id")
  }

  /** Watermarked stream dedup's batch twin: a doubled input dedupes back to
    * the original id set — state bounded by the watermark horizon on the
    * stream path ([[graft.streaming.Streams.dedupStream]]). */
  val eventsStreamDedup = Q("events_stream_dedup",
    """SELECT event_id, user_id, event_type FROM events ORDER BY event_id""") {
    (s, d) =>
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("timestamp").as("ts"))
      graft.streaming.Streams.dedupStream(e.unionByName(e))
        .select("event_id", "user_id", "event_type").orderBy("event_id")
  }

  /** Stream-static enrichment join's batch twin: events × broadcast user
    * dimension ([[graft.streaming.Streams.enrich]]). */
  val eventsEnrich = Q("events_enrich",
    """SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       ORDER BY e.event_id""") {
    (s, d) =>
      graft.streaming.Streams.enrich(Tables.events(s, d), Tables.customer(s, d))
        .orderBy("event_id")
  }

  val all: Seq[Q] = Seq(eventsSessionize, eventsWindow,
    eventsWindowSliding, eventsStreamJoin, eventsStreamDedup, eventsEnrich)
}
