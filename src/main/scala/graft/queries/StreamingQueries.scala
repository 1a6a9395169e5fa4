package graft.queries

import graft.streaming.{DocsStream, EventsStream}
import org.apache.spark.sql.functions._

/** Structured Streaming operators surfaced as driver queries: the
  * flatMapGroupsWithState sessionizer (q87) and sharded Space-Saving heavy
  * hitters (q107). Each streams a table of the sf dir into a memory sink,
  * materializes the small result and drops the sink table.
  */
object StreamingQueries extends graft.QueryModule {

  /** Memory-sink query names must be unique per start within a session
    * (Bench runs every query twice: warm-up + timed). */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Hard cap on the q87 driver-side collect (rows = distinct users;
    * the driver testdata has 50). */
  private val MaxSessionUsers = 100000L

  val queries: Map[String, QFn] = Map(
    "q87_stream_sessionize" -> ((s, d) => {
      // The file streaming source requires a DIRECTORY basePath, so
      // stream the sf dir itself with a pathGlobFilter selecting the
      // events table (no staging copy); if events.parquet is itself a
      // directory of parts (Spark-written), stream it directly. All
      // input files exist before start ⇒ ONE trigger ⇒ the emitted rows
      // are exactly the batch q33-idiom sessions minus each user's
      // chronologically-last (still-open) session, which is what the
      // DuckDB oracle computes.
      val src = new java.io.File(s"$d/events.parquet")
      val stream =
        if (src.isDirectory) EventsStream.sessionizeStream(s,
          src.getAbsolutePath)
        else EventsStream.sessionizeStream(s, d,
          pathGlobFilter = Some("events.parquet"))
      val name = s"q87_sessions_${runSeq.incrementAndGet()}"
      // requireSingleBatch: the oracle equality DEPENDS on one-trigger
      // consumption (see sessionizeStream's late-data contract), so the
      // assumption is asserted at run time, not just stated above
      val closed = EventsStream.runToMemory(s, stream, name, "append",
        requireSingleBatch = true)
      try {
        val agg = closed.groupBy("user_id")
          .agg(count(lit(1)).as("n_closed"),
            sum(col("n_events")).as("events_in_closed"),
            max(col("n_events")).as("max_session_events"))
          .orderBy("user_id")
        // materialize the (one-row-per-user) aggregate so the memory-
        // sink table can be dropped — otherwise every invocation would
        // leak a sink table into the catalog for the life of the session.
        // The collect is bounded to one row per user; fail LOUDLY (same
        // pattern as KgPipeline.maxAliasRows) before it if someone points
        // this test surface at a high-cardinality events table — the
        // memory sink is driver-side by definition, so past this scale
        // the production path is a real sink, not this query.
        // ONE job bounds and materializes: pull at most cap+1 rows and
        // fail on overflow (the separate count() ran the whole aggregate
        // twice per invocation)
        val rows = agg.limit(MaxSessionUsers.toInt + 1).collect()
        require(rows.length <= MaxSessionUsers,
          s"q87's memory-sink surface collects one row per user; " +
            s"more than $MaxSessionUsers users — use a " +
            "durable sink for high-cardinality event tables")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
      } finally {
        // drop on the failure path too, not just on success
        s.catalog.dropTempView(name)
        ()
      }
    }),

    // Streaming heavy hitters: the q103 sketch over an unbounded
    // document stream — tokens shard by word hash, each shard holds ONE
    // capacity-bounded Space-Saving summary in the state store
    // (mapGroupsWithState), so streaming state is nShards × capacity
    // counters however long the stream runs (per-word keyed state would
    // grow with the vocabulary). In the exact regime (shard vocab ≤
    // capacity, implied by the corpus pin in OracleAssumptions) the
    // shard-summary union IS the exact count table, so the query shares
    // q103's DuckDB oracle. Correct at ANY trigger count — state
    // accumulates, the reader takes each shard's newest emission — so
    // unlike q87 no single-batch requirement (two-trigger equality
    // pinned in StreamingSpec).
    "q107_stream_heavy_hitters" -> ((s, d) => {
      val src = new java.io.File(s"$d/documents.parquet")
      val stream =
        if (src.isDirectory) DocsStream.heavyHittersStream(s,
          src.getAbsolutePath, None, capacity = 4096, nShards = 8)
        else DocsStream.heavyHittersStream(s, d,
          Some("documents.parquet"), capacity = 4096, nShards = 8)
      val name = s"q107_hh_${runSeq.incrementAndGet()}"
      val tbl = EventsStream.runToMemory(s, stream, name, "update")
      try {
        val flat = DocsStream.latestShardCounters(tbl)
          .orderBy(col("cnt").desc, col("word").asc).limit(20)
        // ≤ 20 rows by construction; materialize so the memory-sink
        // table can be dropped (q87 convention)
        val rows = flat.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), flat.schema)
      } finally {
        s.catalog.dropTempView(name)
        ()
      }
    })
  )

  /** q87: session counts per user are insensitive to equal-timestamp event
    * order (equal ts ⇒ gap 0 ⇒ same session), so the stream's
    * epoch-only per-trigger sort and the oracle's (ts, event_id) order
    * agree on every aggregated column. Gaps compare FRACTIONAL epoch
    * seconds on both sides. */
  val oracles: Map[String, String] = Map(
    "q87_stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, sess_id, COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sess_id),
        |closed AS (
        |  SELECT per.* FROM per
        |  JOIN (SELECT user_id, MAX(sess_id) AS mx FROM per
        |        GROUP BY user_id) m
        |    ON per.user_id = m.user_id AND per.sess_id < m.mx)
        |SELECT user_id, COUNT(*) AS n_closed,
        |  CAST(SUM(n_events) AS BIGINT) AS events_in_closed,
        |  MAX(n_events) AS max_session_events
        |FROM closed GROUP BY user_id ORDER BY user_id""".stripMargin,

    // exact streaming regime == exact counting: LITERALLY q103's oracle
    // (licensed by the same vocab-fits-capacity pin — sharding can only
    // shrink each summary's key space); referenced, not copied, so the
    // two can never drift apart
    "q107_stream_heavy_hitters" ->
      TextQueries.oracles("q103_heavy_hitters")
  )
}
