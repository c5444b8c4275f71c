package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Judged queries for event-time windowing (north star §2.6 E5) over
  * `events.ts`: tumbling, sliding, and session windows, each written
  * with the same `window()`/`session_window()` expressions the streaming
  * pipeline uses (batch and streaming share the plan shape), with
  * gaps-and-islands SQL oracles.
  *
  * Scale notes: all three are single-exchange hash aggregations on
  * (key, window); the session window additionally sorts within
  * partitions — at 100 TB the partition key (user_id) bounds state,
  * matching `withWatermark` + `session_window` in the streaming form.
  */
object WindowQueries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows: count + exact sum
    "e5_tumbling" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value"))),

    // Sliding 1-hour windows every 30 minutes (each event in 2 windows)
    "e5_sliding" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("win_start"), col("n"), col("sum_value"))),

    // Lag-based sessionization (gaps-and-islands): the portable
    // mechanism behind session_window, expressed with lag + cumulative
    // break count — same single exchange on user_id, sort within
    // partitions only
    "e5_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wc = w.rowsBetween(Long.MinValue, 0)
      events(s, dir)
        .withColumn("brk",
          when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            < 600000000L, 0).otherwise(1))
        .withColumn("sid", sum(col("brk")).over(wc))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("session_start"),
          count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
    }),

    // Session windows per user, 10-minute gap
    "e5_session" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n"), col("sum_value"))))

  private val dsumSql = "CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "e5_tumbling" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
          count(*) AS n, $dsumSql AS sum_value
          FROM events GROUP BY 1""",
    "e5_sliding" ->
      s"""WITH b AS (
            SELECT make_timestamp(
                (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000)
              AS win_start, value FROM events
            UNION ALL
            SELECT make_timestamp(
                ((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) - 1)
                  * 1800000000)
              AS win_start, value FROM events)
          SELECT win_start, count(*) AS n, $dsumSql AS sum_value
          FROM b GROUP BY 1""",
    "e5_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                       value FROM events),
          m AS (SELECT user_id, event_id, ts, value,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                    < 600000000 THEN 0 ELSE 1 END AS brk
                FROM e),
          g AS (SELECT user_id, ts, value,
                  CAST(SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
                FROM m)
          SELECT user_id, sid, min(ts) AS session_start,
            count(*) AS n, $dsumSql AS sum_value
          FROM g GROUP BY user_id, sid""",
    "e5_session" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                     FROM events),
          m AS (SELECT user_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts)
                    < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS brk
                FROM e),
          g AS (SELECT user_id, ts, value,
                  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM m)
          SELECT user_id, min(ts) AS session_start,
            max(ts) + INTERVAL 10 MINUTE AS session_end,
            count(*) AS n, $dsumSql AS sum_value
          FROM g GROUP BY user_id, sid""")
}
