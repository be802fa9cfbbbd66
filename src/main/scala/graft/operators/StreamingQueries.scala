package graft.operators

import org.apache.spark.sql.functions._

import graft.engine.{QueryPack, Tables}
import graft.engine.Tables.dec2

/** Event-time windowing over the `events` stream table (SURVEY.md §2B
  * q_stream_*). These are the batch forms — identical `window()` /
  * `session_window()` expressions run under `readStream` with
  * watermarks in graft.streaming.StreamRunner; correctness is asserted
  * by batch equivalence (the oracle is batch DuckDB).
  *
  * Scale notes: tumbling/sliding windows are a single hash aggregation
  * keyed by (window, ...) — partial aggregation applies. Session
  * windows shuffle once by user_id; state per key is bounded by the
  * gap + watermark in the streaming form.
  */
object StreamingQueries extends QueryPack {

  override def queries: Map[String, Q] = Map(
    "q_stream_tumbling" -> ((s, d) => {
      Tables.t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value"))
        .orderBy(col("win_start"))
    }),

    "q_stream_sliding" -> ((s, d) => {
      Tables.t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value"))
        .orderBy(col("win_start"))
    }),

    // Sessionization: 30-minute gap. New session when ts >= prev_ts + gap
    // (session_window semantics; the island-SQL oracle mirrors >=).
    "q_stream_session" -> ((s, d) => {
      Tables.t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_sliding" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb, value FROM events),
        |u AS (
        |  SELECT tb AS ws, value FROM b
        |  UNION ALL
        |  SELECT tb - INTERVAL '30 minutes', value FROM b)
        |SELECT ws AS win_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}
