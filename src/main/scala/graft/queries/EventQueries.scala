package graft.queries

import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming-analog operators on the `events` table (SURVEY.md §2.9):
  * tumbling / sliding / session windows (the lag-gap-cumsum idiom and
  * Spark's native session_window), JSON props parsing, dedup,
  * watermark-style high-water filtering. The pipeline itself is resumable
  * batch (north_rule), so these run as batch queries; the true Structured
  * Streaming operators are in StreamingQueries.
  */
object EventQueries extends graft.QueryModule {

  val queries: Map[String, QFn] = Map(
    "q30_json_extract" -> ((s, d) =>
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    "q31_from_json_agg" -> ((s, d) => {
      val schema = StructType(Seq(StructField("k", LongType)))
      events(s, d)
        .withColumn("p", from_json(col("props"), schema))
        .groupBy("event_type")
        .agg(sum(col("p.k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    "q32_tumbling_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Q.dsum(col("value")).as("total"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total"))
        .orderBy("hour", "event_type")),

    "q33_session_window" -> ((s, d) => {
      // lag-gap-cumsum sessionization: new session when gap > 30 min
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp_ltz").cast("double") -
              col("prev_ts").cast("timestamp_ltz").cast("double") > 1800.0,
            lit(1)).otherwise(lit(0)))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy("user_id")
    }),

    "q34_dedup_keys" -> ((s, d) =>
      // first event per (user, type): deterministic dedup via min
      events(s, d).groupBy("user_id", "event_type")
        .agg(min(col("event_id")).as("first_event"),
          unix_timestamp(min(col("ts"))).as("first_ts"))
        .orderBy("user_id", "event_type")),

    "q35_ntile_buckets" -> ((s, d) =>
      // distributed two-pass ntile (no single-partition window over the
      // data — see DistributedRank); oracle is the plain NTILE(4)
      graft.operators.DistributedRank.ntileBuckets(events(s, d),
          bucket = floor(col("value") / 50.0),
          order = Seq(col("value").asc, col("event_id").asc),
          k = 4, ntileCol = "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("total"))
        .orderBy("bucket")),

    "q36_watermark_filter" -> ((s, d) => {
      // batch watermark: keep events within 24h of the max ts (the
      // high-water filter the manifest records per partition)
      val ev = events(s, d)
      val hw = ev.agg(max(col("ts")).as("hw"))
      ev.crossJoin(broadcast(hw))
        .where(col("ts") >= col("hw") - expr("INTERVAL 24 HOURS"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    "q68_session_window_native" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"))
        .orderBy("user_id"))
  )

  val oracles: Map[String, String] = Map(
    "q30_json_extract" ->
      """SELECT event_id, CAST(props::JSON->>'$.k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q31_from_json_agg" ->
      """SELECT event_type,
        |CAST(SUM(CAST(props::JSON->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q32_tumbling_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |event_type, COUNT(*) AS n, ${Q.dsumSql("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q33_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, sess_id, COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  MAX(n_events) AS max_session_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q34_dedup_keys" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event,
        |CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_ts
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q35_ntile_buckets" ->
      s"""SELECT bucket, COUNT(*) AS n, ${Q.dsumSql("value")} AS total
         |FROM (SELECT *, CAST(NTILE(4) OVER (ORDER BY value ASC, event_id ASC)
         |  AS INT) AS bucket FROM events)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q36_watermark_filter" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 24 HOUR
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Spark session_window: a new session starts when the gap since the
    // previous event is >= the gap duration
    "q68_session_window_native" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |per AS (SELECT user_id, sess_id, COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  MAX(n_events) AS max_session_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
