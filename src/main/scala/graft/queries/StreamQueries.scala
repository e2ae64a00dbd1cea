package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession.withConf
import graft.core.QueryDef
import graft.streaming.StreamOps

/** Judged queries that run the REAL Structured Streaming path (readStream
  * → windowed agg → memory sink, driven to completion) and are gated by
  * the same batch DuckDB oracle — proving stream/batch semantic parity.
  */
object StreamQueries {

  /** The RocksDB state-store provider, which `transformWithState` requires
    * (multiple column families): the queries that need it set it with
    * [[graft.core.GraftSession.withConf]] for their own run.
    */
  private val RocksDbStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Tumbling 10-min windows via the streaming engine, complete mode. */
  private def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val agg = StreamOps.tumblingCounts(src, "10 minutes", "1 hour")
    StreamOps.runToMemory(spark, agg, s"graft_stream_tumbling_${System.nanoTime()}")
      .orderBy(col("w_start"), col("event_type"))
  }
  private val streamTumblingSql =
    """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Streaming word count (the reference query as a stream), complete mode. */
  private def streamWordcount(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.parquetStream(spark, dir, "documents.parquet")
      .select(col("text").as("value"))
    val agg = StreamOps.streamingWordCount(src)
    StreamOps.runToMemory(spark, agg, s"graft_stream_wc_${System.nanoTime()}")
      .orderBy(col("cnt").asc, col("word").asc)
  }
  private val streamWordcountSql =
    """SELECT word, count(*) AS cnt FROM (
      |  SELECT lower(regexp_replace(w, '\W', '', 'g')) AS word FROM (
      |    SELECT unnest(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) AS w
      |    FROM documents) t1) t2
      |WHERE length(word) > 0
      |GROUP BY word ORDER BY cnt ASC, word ASC""".stripMargin

  /** Sliding windows (10-min length, 5-min slide) via the streaming engine.
    * Every event lands in exactly two windows; the oracle materializes the
    * same two window starts per event (both engines align 5-min buckets to
    * epochs that are themselves 5-min multiples, so boundaries coincide).
    */
  private def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val agg = StreamOps.slidingCounts(src, "10 minutes", "5 minutes", "1 hour")
    StreamOps.runToMemory(spark, agg, s"graft_stream_sliding_${System.nanoTime()}")
      .orderBy(col("w_start"), col("event_type"))
  }
  private val streamSlidingSql =
    """SELECT w_start, event_type, count(*) AS n FROM (
      |  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
      |                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS w_start,
      |         event_type
      |  FROM events) t
      |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin

  /** Streaming exact dedup ([[StreamOps.streamingDedup]] —
    * `dropDuplicatesWithinWatermark` keyed state) driven through the real
    * readStream path, then a batch rollup of the deduped keys. The stream
    * projects to exactly the key columns, so WHICH row survives per key is
    * irrelevant — the appended output is the distinct key set (the fixture
    * is one file → one microbatch → the initial watermark evicts nothing),
    * and the rollup is deterministic: distinct (user_id, event_type) counted
    * per event_type, which the oracle states as count(DISTINCT user_id).
    */
  private def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val dd = StreamOps.streamingDedup(
      src.select(col("ts"), col("user_id"), col("event_type")),
      keyCols = Seq("user_id", "event_type"), watermark = "1 hour")
      .select(col("user_id"), col("event_type"))
    StreamOps.runToMemory(spark, dd, s"graft_stream_dedup_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }
  private val streamDedupSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Custom keyed state ([[StreamOps.runningUserStats]] —
    * flatMapGroupsWithState) through the real readStream path: running
    * per-user event count + max value. The fixture is one file → one
    * microbatch, so exactly one update (the final state) is emitted per
    * user — deterministic, and the oracle is the batch GROUP BY. max() is
    * comparison-only (no summation), so doubles are engine-exact.
    */
  private def streamUserStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val upd = StreamOps.runningUserStats(src)
    StreamOps.runToMemory(spark, upd, s"graft_stream_ustats_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("user_id"), col("n"), col("maxValue").as("max_value"))
      .orderBy(col("user_id"))
  }
  private val streamUserStatsSql =
    """SELECT user_id, count(*) AS n, max(value) AS max_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming OHLC bars — ev23's `min_by`/`max_by` time-bar compaction
    * as a watermarked streaming aggregation: the first/last/extreme
    * values accumulate IN STATE per (window, type) as batches arrive (the
    * state is one candidate row per bar, not the bar's events — bounded
    * regardless of event rate), proving the bar operator is
    * batch/stream-parity. One file → one batch → final bars equal the
    * batch oracle; comparison-only doubles, engine-exact.
    */
  private def streamOhlc(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val bars = src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), col("ts")).as("open_v"),
        max_by(col("value"), col("ts")).as("close_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("open_v"), col("close_v"), col("high_v"), col("low_v"))
    StreamOps.runToMemory(spark, bars,
        s"graft_stream_ohlc_${System.nanoTime()}")
      .orderBy(col("hour"), col("event_type"))
  }
  private val streamOhlcSql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type,
      |  count(*) AS n,
      |  arg_min(value, ts) AS open_v, arg_max(value, ts) AS close_v,
      |  max(value) AS high_v, min(value) AS low_v
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Spark-4 `transformWithState` arbitrary state ([[StreamOps
    * .perTypeCounts]]): per-user event counts by type in a MapState +
    * a ValueState total, through the real readStream path on the RocksDB
    * state store (required by the API; the provider is set for this query
    * and restored after). One file → one microbatch → the emitted rows are
    * the final per-(user, type) counts, so the batch GROUP BY oracle with
    * a per-user window total applies. Counts are integers — engine-exact.
    */
  private def streamTws(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    withConf(spark, RocksDbStateStore) {
      val src = StreamOps.nanosToTs(
        StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
      StreamOps.runToMemory(spark, StreamOps.perTypeCounts(src),
          s"graft_stream_tws_${System.nanoTime()}",
          mode = org.apache.spark.sql.streaming.OutputMode.Append)
        .select(col("user_id"), col("event_type"), col("n"), col("user_total"))
        .orderBy(col("user_id"), col("event_type"))
    }
  }
  private val streamTwsSql =
    """SELECT user_id, event_type, count(*) AS n,
      |  CAST(sum(count(*)) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Stream-STREAM windowed join ([[StreamOps.windowedStreamJoin]]): the
    * purchase stream inner-joined to the click stream on user within a
    * 10-minute lookback, then a batch rollup of the joined pairs. Two
    * independent readStream sources over the same fixture; watermarks bound
    * both join-state buffers. One file → one microbatch → the full join
    * result is emitted deterministically, so the batch-SQL oracle applies.
    */
  private def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def src() = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = src().where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val joined = StreamOps.windowedStreamJoin(
      purchases, clicks, "p_user", "c_user", "pts", "cts", "10 MINUTES")
    StreamOps.runToMemory(spark,
        joined.select(col("purchase_id"), col("click_id")),
        s"graft_stream_join_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
      .orderBy(col("purchase_id"))
  }
  private val streamStreamJoinSql =
    """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
      |  min(c.event_id) AS first_click_id
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |  AND c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin

  /** LEFT OUTER stream-stream join — the semantics st06's inner form
    * cannot reach: an unmatched purchase must surface with NULL click
    * columns, but only once the CLICK-side watermark proves no matching
    * click can still arrive (cts ≤ pts constraint ⟹ provably unmatched
    * when click-watermark > pts; Spark emits these on state expiry in the
    * trailing no-data microbatch). Purchases too close to stream end stay
    * in state, never emitted — the oracle mirrors that cutoff with the
    * final global watermark (min of both sides' max ts − 1 h) and the
    * expiry inequality is pinned by the hash compare.
    */
  private def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    def src() = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = src().where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val joined = StreamOps.windowedStreamJoin(
      purchases, clicks, "p_user", "c_user", "pts", "cts", "10 MINUTES",
      joinType = "left_outer")
    StreamOps.runToMemory(spark,
        joined.select(col("purchase_id"), col("click_id")),
        s"graft_stream_ojoin_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .groupBy(col("purchase_id"))
      .agg(count(col("click_id")).as("n_clicks"),
        min(col("click_id")).as("first_click_id"))
      .orderBy(col("purchase_id"))
  }
  private val streamOuterJoinSql =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
      |         - INTERVAL '1 hour' AS w),
      |j AS (SELECT p.purchase_id, c.click_id, p.ts AS pts
      |      FROM p LEFT JOIN c ON p.user_id = c.user_id
      |        AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts)
      |SELECT purchase_id, count(click_id) AS n_clicks,
      |  min(click_id) AS first_click_id
      |FROM j
      |WHERE click_id IS NOT NULL OR pts < (SELECT w FROM wm)
      |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin

  /** Streaming FILE sink: a stateless streaming transform written to
    * parquet with a checkpoint (the exactly-once file sink — commit log +
    * checkpoint make replays idempotent at 100 TB/day), then read back and
    * rolled up in batch. Fresh output/checkpoint dirs per run so the
    * append-mode sink can't accumulate across harness invocations.
    */
  private def streamParquetSink(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.parquetStream(spark, dir, "documents.parquet")
    val out = graft.core.Workspace.dir(s"roundtrip/stream_sink_${System.nanoTime()}")
    val q = src.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ck")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$out/data")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"))
  }
  private val streamParquetSinkSql =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM (
      |  SELECT source,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '[\t\n\x0B\f\r ]+')) END AS n_tokens
      |  FROM documents) t
      |GROUP BY source ORDER BY source""".stripMargin

  /** SESSION windows (gap-based, the third streaming window type beside
    * tumbling/sliding): per-user sessions that close after 30 idle
    * minutes, through the real streaming engine in Append mode with a
    * zero-delay watermark. Append emits CLOSED sessions only — a session
    * containing (or within gap-reach of) the stream's final event time
    * never closes — so the oracle computes the same gap-sessionization in
    * SQL and applies the same still-open exclusion (session end ≤ the
    * global max event time).
    */
  private def streamSession(spark: SparkSession, dir: String): DataFrame = {
    // NOT fanned out: the single-split scan+local-merge stage is off the
    // critical path here (A/B round-12: 2.49 s with and without the
    // user_id fan-out — the wall is the two stateful batches' store
    // bookkeeping plus micro-batch planning, not the map stage)
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val agg = src.withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n"))
    // state width 8, not the session's 32: session state here is ~one
    // open session per active user — tiny — and the bounded replay's
    // wall was store BOOKKEEPING (provider init is serialized JVM-wide,
    // commits pay per-store file round-trips; see runToMemory's scaladoc)
    StreamOps.runToMemory(spark, agg, s"graft_stream_session_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append,
        statePartitions = Some(8))
      .orderBy(col("user_id"), col("s_start"))
  }
  private val streamSessionSql =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts,
      |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |        FROM events) x),
      |sessions AS (
      |  SELECT user_id, min(ts) AS s_start,
      |    max(ts) + INTERVAL '30 minutes' AS s_end, count(*) AS n
      |  FROM (SELECT user_id, ts,
      |          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |        FROM marked) g
      |  GROUP BY user_id, sid)
      |SELECT user_id, s_start, s_end, n FROM sessions
      |WHERE s_end <= (SELECT max(ts) FROM events)
      |ORDER BY user_id, s_start""".stripMargin

  /** st34: DYNAMIC-gap session windows — the gap is a per-event
    * expression (purchase keeps a session alive 45 min, a view only 10,
    * everything else 20), which is production sessionization for mixed
    * event types (a checkout dwell is not a scroll dwell); the fixed-gap
    * st08 cannot express it. Each event's window is [ts, ts+gap(event))
    * and overlapping windows merge, so a session's end is the MAX
    * (ts+gap) inside it — the oracle mirrors that with a running
    * max-end window (strictly more than st08's lag-diff: with
    * heterogeneous gaps an EARLIER event can hold the latest end, so
    * prev_ts alone mis-splits). Append + zero-delay watermark emit
    * closed sessions only; same still-open exclusion as st08. State is
    * one open session per active user regardless of gap mix (width 8 —
    * the st08 sizing).
    */
  private def streamSessionDynamic(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    // make_interval, not an INTERVAL literal: the dynamic-gap contract
    // requires CalendarIntervalType (a DayTimeInterval literal is
    // rejected at analysis with "must be CalendarIntervalType")
    val gap = expr(
      """make_interval(0, 0, 0, 0, 0,
        |  CASE WHEN event_type = 'purchase' THEN 45
        |       WHEN event_type = 'view' THEN 10
        |       ELSE 20 END, 0)""".stripMargin)
    val agg = src.withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n"), col("n_purchases"))
    StreamOps.runToMemory(spark, agg,
        s"graft_stream_dynsession_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append,
        statePartitions = Some(8))
      .orderBy(col("user_id"), col("s_start"))
  }
  private val streamSessionDynamicSql =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
      |    ts + (CASE WHEN event_type = 'purchase' THEN INTERVAL '45 minutes'
      |               WHEN event_type = 'view' THEN INTERVAL '10 minutes'
      |               ELSE INTERVAL '20 minutes' END) AS w_end
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ts, is_p, w_end,
      |    CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, is_p, w_end,
      |          max(w_end) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |            AS prev_max_end
      |        FROM g) x),
      |sessions AS (
      |  SELECT user_id, min(ts) AS s_start, max(w_end) AS s_end,
      |    count(*) AS n, CAST(sum(is_p) AS BIGINT) AS n_purchases
      |  FROM (SELECT user_id, ts, is_p, w_end,
      |          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |        FROM marked) s
      |  GROUP BY user_id, sid)
      |SELECT user_id, s_start, s_end, n, n_purchases FROM sessions
      |WHERE s_end <= (SELECT max(ts) FROM events)
      |ORDER BY user_id, s_start""".stripMargin

  /** Stream-STATIC join: the streaming event feed inner-joined to a batch
    * dimension table (per-user segments — derived deterministically here;
    * any parquet/Delta dim table slots in the same way). Stateless on the
    * stream side — no watermark, no join state: each microbatch hash-joins
    * against the static side (broadcast when small), THE pattern for
    * enriching a 100 TB/day feed against slowly-changing dimensions.
    * Rollup of the joined rows is batch, so the DuckDB oracle applies.
    */
  private def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val segments = graft.core.Tables(spark, dir).events
      .select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(3L)))
    val src = StreamOps.nanosToTs(
        StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
      .select(col("user_id"), col("value"))
    val joined = src.join(segments, Seq("user_id"))
      .select(col("segment"), col("value"))
    StreamOps.runToMemory(spark, joined,
        s"graft_stream_static_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .orderBy(col("segment"))
  }
  private val streamStaticJoinSql =
    """SELECT user_id % 3 AS segment, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY segment""".stripMargin

  /** MULTI-microbatch incremental aggregation — the surface every other
    * st-query's one-file/one-batch fixture cannot reach: events are split
    * at the time midpoint into two parquet files replayed as two
    * microbatches (`maxFilesPerTrigger = 1`, write order fixes batch
    * order), so windows straddling the split accumulate state ACROSS
    * batches, the watermark advances batch-to-batch, and Append mode
    * emits exactly the windows the final watermark (max ts − 1 h) closed.
    * The split is by event time, so no row is ever late — the oracle is
    * the batch aggregation with the same closed-window exclusion. A
    * straddling window whose two partial counts failed to merge would
    * hash-mismatch immediately.
    */
  /** Events split at the time midpoint into two time-ordered parquet
    * files under a fresh dir — a deterministic TWO-microbatch replay
    * source (file streams order by modification time; the early half is
    * written first). Split is by event time, so nothing is ever late.
    * Returns the input dir; read it with `maxFilesPerTrigger = 1`.
    */
  private def twoBatchEventsDir(spark: SparkSession, dir: String): String = {
    val ev = graft.core.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val Array(loM, hiM) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = loM + (hiM - loM) / 2
    val out = graft.core.Workspace.dir(s"roundtrip/stream_twobatch_${System.nanoTime()}")
    ev.where(unix_micros(col("ts")) < mid)
      .coalesce(1).write.parquet(s"$out/in")
    ev.where(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(s"$out/in")
    s"$out/in"
  }

  /** CHAINED stateful aggregations — two windowed aggs in ONE streaming
    * query (multiple-stateful-operator support, SPARK-42376): hourly
    * tumbling counts per event_type, re-aggregated while still streaming
    * into per-day max/total/coverage of the hourly series. `window_time`
    * turns the first agg's window struct back into an event-time column
    * the second agg can window over — the rollup cascade (minute→hour→day)
    * every metrics pipeline wants without landing intermediate tables.
    *
    * Chained aggs force Append mode, and Append only emits a window once
    * the watermark passes its end — on a bounded replay the tail windows
    * would stay trapped in state. The replay therefore appends TWO
    * far-future SENTINEL files. Two, not one: batch N runs with the
    * watermark derived from batch N−1's data, so sentinel #1's batch
    * flushes stage 1's tail hours INTO stage 2, and sentinel #2's batch
    * is what lets stage 2 emit them — a chain of K stateful operators
    * needs K post-data watermark advances, without betting on
    * trigger-dependent no-data flush batches. The sentinels flow through
    * BOTH aggregates unfiltered and are dropped from the memory-sink
    * result batch-side: an in-stream `event_type != sentinel` filter gets
    * pushed below the EventTimeWatermark operator by the optimizer
    * (it's a deterministic predicate on a non-event-time column), and a
    * watermark that never sees the sentinel rows never advances —
    * measured here as the final day staying trapped in stage-2 state.
    * State stays O(open windows) per stage at 100 TB/day.
    */
  private def streamChained(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.core.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val hiM = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val out = graft.core.Workspace.dir(s"roundtrip/stream_chained_${System.nanoTime()}")
    ev.coalesce(1).write.parquet(s"$out/in")
    Thread.sleep(100) // mtime orders replay (file source sorts by mtime)
    Seq(30L, 60L).foreach { days =>
      ev.sparkSession.range(1).select(
          timestamp_micros(lit(hiM + days * 86400L * 1000000L)).as("ts"),
          lit("zz_sentinel").as("event_type"), lit(0.0).as("value"))
        .coalesce(1).write.mode("append").parquet(s"$out/in")
      Thread.sleep(100)
    }
    val src = spark.readStream.schema(twoBatchSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$out/in")
    val hourly = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_hour"))
    val daily = hourly
      .groupBy(window(window_time(col("w")), "1 day").as("d"), col("event_type"))
      .agg(max(col("n_hour")).as("max_hourly"),
        sum(col("n_hour")).as("n_day"),
        count(lit(1)).as("n_hours"))
      .select(col("d.start").as("d_start"), col("event_type"),
        col("max_hourly"), col("n_day"), col("n_hours"))
    StreamOps.runToMemory(spark, daily,
        s"graft_stream_chained_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .where(col("event_type") =!= "zz_sentinel") // batch-side: see Scaladoc
      .orderBy(col("d_start"), col("event_type"))
  }
  private val streamChainedSql =
    """WITH h AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h_start,
      |    event_type, count(*) AS n_hour
      |  FROM events GROUP BY 1, 2)
      |SELECT time_bucket(INTERVAL '1 day', h_start) AS d_start, event_type,
      |  max(n_hour) AS max_hourly, CAST(sum(n_hour) AS BIGINT) AS n_day,
      |  count(*) AS n_hours
      |FROM h GROUP BY 1, 2 ORDER BY d_start, event_type""".stripMargin

  private def twoBatchSchema(spark: SparkSession, dir: String) =
    graft.core.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value")).schema

  private def streamMultibatch(spark: SparkSession, dir: String): DataFrame = {
    val src = spark.readStream.schema(twoBatchSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(twoBatchEventsDir(spark, dir))
    val agg = StreamOps.tumblingCounts(src, "10 minutes", "1 hour")
    StreamOps.runToMemory(spark, agg,
        s"graft_stream_multibatch_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy(col("w_start"), col("event_type"))
  }
  private val streamMultibatchSql =
    """SELECT w_start, event_type, n, total_value FROM (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2) t
      |WHERE w_start + INTERVAL '10 minutes' <=
      |      (SELECT max(ts) - INTERVAL '1 hour' FROM events)
      |ORDER BY w_start, event_type""".stripMargin

  /** foreachBatch sink — the production escape hatch for sinks Spark has
    * no connector for (idempotent upserts, multi-table writes): each
    * microbatch arrives as a BATCH DataFrame plus its replay-stable
    * batchId. Two real microbatches (time-midpoint split), each stamped
    * with its batchId and appended to parquet; the rollup per batch id is
    * mirrored by the oracle re-deriving the id from the same midpoint
    * split — if batch boundaries, the id stamp, or exactly-once append
    * drifted, the compare fails.
    */
  /** Exactly-once across a query RESTART: the same checkpoint + parquet
    * sink are driven by TWO SEPARATE query incarnations. The first
    * (AvailableNow) drains the data that exists and stops — a planned
    * shutdown; more data arrives; a brand-new query object on the SAME
    * checkpoint resumes from the committed offset log, so batch 1 is NOT
    * reprocessed and batch 2 lands exactly once. The sink rollup then
    * equals the plain batch aggregate over all events — if recovery
    * double-processed (or dropped) either batch, every count and sum in
    * the compare would drift. This is the restartability invariant that
    * makes long-running ingestion jobs operable at 100 TB: state lives in
    * the checkpoint, not the process. The stream is a stateless
    * projection, isolating the offset-log semantics from agg-state
    * recovery (st10/st13 judge stateful cross-batch accumulation).
    */
  private def streamRestart(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.core.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val Array(loM, hiM) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = loM + (hiM - loM) / 2
    val out = graft.core.Workspace.dir(s"roundtrip/stream_restart_${System.nanoTime()}")
    ev.where(unix_micros(col("ts")) < mid)
      .coalesce(1).write.parquet(s"$out/in")
    def incarnation(): Unit = {
      val src = spark.readStream.schema(twoBatchSchema(spark, dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$out/in")
      val q = src.writeStream.format("parquet")
        .option("path", s"$out/sink")
        .option("checkpointLocation", s"$out/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    incarnation() // first run: consumes batch 1, then stops cleanly
    Thread.sleep(100) // mtime orders replay (file source sorts by mtime)
    ev.where(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(s"$out/in")
    incarnation() // RESTART: new query, same checkpoint — batch 2 only
    spark.read.parquet(s"$out/sink")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }
  private val streamRestartSql =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private def streamForeachBatch(spark: SparkSession, dir: String): DataFrame = {
    val in  = twoBatchEventsDir(spark, dir)
    val out = graft.core.Workspace.dir(s"roundtrip/stream_foreach_${System.nanoTime()}")
    val src = spark.readStream.schema(twoBatchSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
    val writeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$out/data")
    val q = src.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", s"$out/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$out/data")
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .orderBy(col("batch_id"))
  }
  private val streamForeachBatchSql =
    """WITH b AS (SELECT epoch_us(min(ts)) +
      |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS mid FROM events)
      |SELECT CAST(epoch_us(ts) >= (SELECT mid FROM b) AS BIGINT) AS batch_id,
      |  count(*) AS n_events, count(DISTINCT event_type) AS n_types,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY batch_id""".stripMargin

  /** UPDATE output mode — the third output-mode semantics (st01/st10
    * judge Complete and Append): each microbatch emits exactly the
    * groups it CHANGED, carrying their new cumulative aggregates. With
    * the two-batch time-split replay, batch 0 must emit the first
    * half's groups, and batch 1 must emit only groups touched by
    * second-half rows — but with counts accumulated ACROSS both batches
    * (the straddling boundary window proves cross-batch state, emitted
    * twice with growing n). The oracle derives both batch outputs
    * relationally; a re-emitted unchanged group, a missing changed one,
    * or a non-cumulative count all hash-mismatch. foreachBatch stamps
    * batch_id exactly as st11 does.
    */
  private def streamUpdateMode(spark: SparkSession, dir: String): DataFrame = {
    val in  = twoBatchEventsDir(spark, dir)
    val out = graft.core.Workspace.dir(s"roundtrip/stream_update_${System.nanoTime()}")
    val src = spark.readStream.schema(twoBatchSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
    val agg = StreamOps.tumblingCounts(src, "10 minutes", "1 hour")
    val writeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$out/data")
    val q = agg.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .foreachBatch(writeBatch)
      .option("checkpointLocation", s"$out/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$out/data")
      .select(col("batch_id"), col("w_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("batch_id"), col("w_start"), col("event_type"))
  }
  private val streamUpdateModeSql =
    """WITH b AS (SELECT epoch_us(min(ts)) +
      |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS mid FROM events),
      |h1 AS (SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |         count(*) AS n,
      |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |       FROM events WHERE epoch_us(ts) < (SELECT mid FROM b) GROUP BY 1, 2),
      |t2 AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type
      |       FROM events WHERE epoch_us(ts) >= (SELECT mid FROM b)),
      |c2 AS (SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |         count(*) AS n,
      |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |       FROM events GROUP BY 1, 2)
      |SELECT CAST(0 AS BIGINT) AS batch_id, h1.* FROM h1
      |UNION ALL
      |SELECT CAST(1 AS BIGINT) AS batch_id, c2.*
      |FROM c2 JOIN t2 USING (w_start, event_type)
      |ORDER BY batch_id, w_start, event_type""".stripMargin

  /** Watermark LATE-DATA DROP — the semantics st10 deliberately cannot
    * reach (its time split means nothing is ever late): the oldest quarter
    * of events is withheld and replayed LAST, after the watermark has moved
    * weeks past their window ends, so Spark must drop every one of them
    * before they touch state. The replay needs THREE microbatches, not two:
    * since SPARK-40925 (watermark propagation across operators) a stateful
    * operator filters late rows in batch N with the watermark of batch N−1
    * and only EVICTS with the batch-N watermark — a late file in batch 1
    * meets the still-epoch batch-0 watermark and leaks into state (measured
    * here: numRowsDroppedByWatermark=0, the late quarter emitted). So:
    * batch 0 = [q1, mid) seeds the watermark, batch 1 = [mid, hi] advances
    * it, batch 2 = the withheld [lo, q1) rows, which now meet the batch-1
    * watermark (≈ mid − 1 h, weeks ahead of their windows) and are all
    * dropped (numRowsDroppedByWatermark > 0, late rows never touch state).
    * The drop predicate is per-group (window end ≤ late-event watermark),
    * so on-time rows sharing a boundary window survive — the oracle mirrors
    * exactly that: aggregate rows with ts ≥ q1 only, emit windows the final
    * watermark closed. If late rows leaked into state (no drop) or whole
    * windows vanished (over-drop), counts hash-mismatch.
    */
  private def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.core.Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val Array(loM, hiM) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val q1  = loM + (hiM - loM) / 4
    val mid = loM + (hiM - loM) / 2
    val out = graft.core.Workspace.dir(s"roundtrip/stream_late_${System.nanoTime()}")
    // Three time-ordered-then-late files; mtime fixes replay order (file
    // source sorts by modification time), the sleeps guard ms-granularity.
    ev.where(unix_micros(col("ts")) >= q1 && unix_micros(col("ts")) < mid)
      .coalesce(1).write.parquet(s"$out/in")
    Thread.sleep(100)
    ev.where(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(s"$out/in")
    Thread.sleep(100)
    ev.where(unix_micros(col("ts")) < q1)
      .coalesce(1).write.mode("append").parquet(s"$out/in")
    val src = spark.readStream.schema(twoBatchSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$out/in")
    val agg = StreamOps.tumblingCounts(src, "10 minutes", "1 hour")
    StreamOps.runToMemory(spark, agg,
        s"graft_stream_late_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy(col("w_start"), col("event_type"))
  }
  private val streamLateDataSql =
    """WITH b AS (SELECT epoch_us(min(ts)) +
      |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 4 AS q1,
      |    max(ts) - INTERVAL '1 hour' AS wm FROM events)
      |SELECT w_start, event_type, n, total_value FROM (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |  FROM events WHERE epoch_us(ts) >= (SELECT q1 FROM b)
      |  GROUP BY 1, 2) t
      |WHERE w_start + INTERVAL '10 minutes' <= (SELECT wm FROM b)
      |ORDER BY w_start, event_type""".stripMargin

  /** State-store batch reader (Spark 4 `statestore` source): run a
    * streaming per-user aggregation to completion against an explicit
    * checkpoint, then read the operator's persisted state back AS A BATCH
    * TABLE — the operational tool for inspecting, auditing, or migrating
    * streaming state without replaying the stream. The state rows surface
    * the aggregation buffer (`key.user_id`, `value.count`, `value.sum` as
    * an exact decimal), so after one microbatch the state IS the batch
    * answer and the DuckDB oracle gates it like any other query. At scale
    * the reader shards by `partition_id` — state inspection is a parallel
    * scan, not a driver dump. Checkpoint is nanoTime-unique per run so a
    * stale run's state can never be read.
    */
  private def stateReader(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val src = StreamOps.nanosToTs(
      StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
    val agg = src.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("total_dec"))
    val ckRoot = new java.io.File(
      graft.core.Workspace.dir("ckpt"))
    // nanoTime-unique dirs isolate runs; prune prior runs' state here so
    // repeated Verify/bench invocations don't accumulate checkpoints.
    // Age-gated (1 h): a concurrent harness process's LIVE checkpoint must
    // never be deleted mid-stream — only abandoned ones. (java.io.File is
    // the right API here: Workspace is local-filesystem by contract.)
    val staleMs = System.currentTimeMillis() - 60L * 60 * 1000
    Option(ckRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("st18_") && f.lastModified() < staleMs)
      .foreach(org.apache.hadoop.fs.FileUtil.fullyDelete)
    val ck = s"$ckRoot/st18_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Update).format("noop")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.format("statestore").load(ck)
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("n_events"),
        col("value.sum").cast("double").as("total_value"))
      .orderBy(col("user_id"))
  }
  private val stateReaderSql =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Event-time-ORDERED stateful recursion ([[StreamOps.orderedEwma]]):
    * per-user full-history EWMA through `transformWithState` on the
    * RocksDB store. The operator's point is sequencing — an EWMA fold is
    * order-SENSITIVE, so the processor sorts each key's microbatch rows
    * by (ts, event_id) before folding; the batch oracle's ordered list
    * aggregate folds the identical sequence with identical IEEE ops, so
    * the judged doubles are bit-exact (same parity argument as ev32, here
    * through the real streaming path + state store). O(1) state per key.
    */
  private def streamEwma(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    withConf(spark, RocksDbStateStore) {
      // value IS NOT NULL on BOTH sides: as[TsValueEvent] throws on a
      // NULL value and the oracle's ordered list() would keep it (ADVICE
      // r7 — the fixture schema permits null-valued events, cf. ev34)
      val src = StreamOps.nanosToTs(
        StreamOps.parquetStream(spark, dir, "events.parquet"), "ts")
        .where(col("value").isNotNull)
      StreamOps.runToMemory(spark, StreamOps.orderedEwma(src),
          s"graft_stream_ewma_${System.nanoTime()}",
          mode = org.apache.spark.sql.streaming.OutputMode.Append)
        .select(col("user_id"), col("n"), col("ewma"))
        .orderBy(col("user_id"))
    }
  }
  private val streamEwmaSql =
    """SELECT user_id, CAST(len(l) AS BIGINT) AS n,
      |  list_reduce(list_prepend(0.0::DOUBLE, l),
      |              (acc, x) -> acc * 0.7::DOUBLE + 0.3::DOUBLE * x) AS ewma
      |FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS l
      |      FROM events WHERE value IS NOT NULL GROUP BY user_id) t
      |ORDER BY user_id""".stripMargin

  /** STREAMING weighted sample (the incremental form of tx30, same
    * Duffield-Lund-Thorup priorities, SAME ORACLE TEXT): map-side
    * priority computation on the stream, u-sharded into 32 keys whose
    * `transformWithState` state is each shard's current smallest-200 —
    * ≤ 32 × 200 rows of state however long the stream runs — then one
    * bounded batch-side reduce (distinct + global smallest-200) over the
    * sink. Correct under any batching: eviction from shard state is
    * monotone, so every globally-sampled row's emission survives in the
    * sink, and re-emitted survivors are value-identical (argument in
    * [[StreamOps.ShardTopKProcessor]]'s scaladoc). At 100 TB this is the
    * reservoir-style always-on sampler: the draw is available at every
    * instant, deterministic, and replay-stable, where the batch tx30
    * would rescan the corpus per draw.
    */
  private def streamSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    withConf(spark, RocksDbStateStore) {
      val uSpan = 1L << 62
      val src = StreamOps.parquetStream(spark, dir, "documents.parquet")
        .select(col("doc_id"), col("source"),
          greatest(length(col("text")).cast("long"), lit(1L)).as("n_chars"),
          pmod(graft.functions.HashExprs.fnv64(
            concat(lit("ps#"), col("doc_id").cast("string"))), lit(uSpan)).as("u"))
        .withColumn("prio", col("u").cast("double") / col("n_chars").cast("double"))
        .withColumn("shard", pmod(col("u"), lit(32L)).cast("int"))
      StreamOps.runToMemory(spark, StreamOps.shardTopK(src, 200),
          s"graft_stream_sample_${System.nanoTime()}",
          mode = org.apache.spark.sql.streaming.OutputMode.Append)
        .dropDuplicates("doc_id")
        .orderBy(col("prio").asc, col("doc_id"))
        .limit(200)
        .select(col("doc_id"), col("source"), col("n_chars"), col("u"))
    }
  }

  /** STREAMING incremental near-dedup against the dd09 persisted LSH
    * index (the streaming form of dd10, SAME ORACLE TEXT): the arriving
    * batch streams through sketch → banded candidate join → exact-Jaccard
    * verify with every join STREAM-STATIC and therefore stateless
    * ([[graft.operators.Dedup.dedupAgainstIndexStreaming]] — the token
    * set rides the candidate join instead of a stream-stream re-join).
    * The always-on contamination/dup gate a training-data intake runs:
    * the index is built once, every arriving document is checked with
    * zero streaming state and no corpus re-tokenization.
    */
  private def streamIndexDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val (buckets, docsT) =
      TextQueries.dd09EnsureIndex(spark, dir, force = false)
    // fan the arriving batch out before the sketch: a single-file
    // arrival is ONE split, and the minhash pass is the query's CPU
    // (St22Profile round 11: 1 task at 1.24 s + 1.17 s of commit-row
    // serialization through the same task; fanned out it's 32-way)
    val src = StreamOps.fanOut(
      StreamOps.parquetStream(spark, dir, "documents.parquet")
        .where(col("doc_id") >= 400))
    val matches = graft.operators.Dedup.dedupAgainstIndexStreaming(
      src, spark.table(buckets), spark.table(docsT), threshold = 0.8)
    StreamOps.runToMemory(spark, matches,
        s"graft_stream_idx_dedup_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** st23: streaming MEDIA ingestion + real decode — the modality
    * pipeline under micro-batch execution. The media generate→decode
    * pair ([[graft.operators.Multimodal.syntheticWavs]] →
    * `decodeAudioFeatures` with the real `javax.sound` codec) is
    * STATELESS partition-local mapPartitions, so it runs unchanged on a
    * stream: payload bytes exist only inside the task that decodes them
    * (never in state, never across an exchange, never at the driver),
    * and the only stateful operator is the final per-shard rollup of
    * integer features. That is the 100 TB ingestion shape: continuous
    * media arrival needs ZERO streaming state beyond the running
    * aggregate. Oracle: the same per-shard totals from doc_id
    * arithmetic (the mm08 waveform contract) over the batch table.
    */
  private def streamMediaDecode(spark: SparkSession, dir: String): DataFrame = {
    // no explicit fan-out here: the media generators spread their id
    // input internally (Multimodal.spreadIds — the st22 single-split
    // finding), so the codec loop never serializes on one task
    val src = StreamOps.parquetStream(spark, dir, "documents.parquet")
      .where(col("doc_id") < 200).select(col("doc_id").as("media_id"))
    val feats = graft.operators.Multimodal.decodeAudioFeatures(
      graft.operators.Multimodal.syntheticWavs(src),
      graft.operators.Multimodal.JavaSoundCodec)
    val agg = feats.groupBy(expr("media_id % 8").as("shard"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("sample_sum")).as("sample_sum"),
        sum(col("sample_sq_sum")).as("sample_sq_sum"))
    StreamOps.runToMemory(spark, agg,
        s"graft_stream_media_${System.nanoTime()}")
      .orderBy(col("shard"))
  }
  private val streamMediaDecodeSql =
    """WITH f AS (
      |  SELECT doc_id % 8 AS shard,
      |    (doc_id % 101) + 40 AS nf,
      |    list_sum(list_transform(range(0, (doc_id % 101) + 40),
      |      i -> ((doc_id * 31 + i * 17) % 2048) - 1024)) AS ss,
      |    list_sum(list_transform(range(0, (doc_id % 101) + 40),
      |      i -> (((doc_id * 31 + i * 17) % 2048) - 1024)
      |         * (((doc_id * 31 + i * 17) % 2048) - 1024))) AS sq
      |  FROM documents WHERE doc_id < 200)
      |SELECT shard,
      |  CAST(count(*) AS BIGINT) AS n_media,
      |  CAST(sum(nf) AS BIGINT) AS n_frames,
      |  CAST(sum(ss) AS BIGINT) AS sample_sum,
      |  CAST(sum(sq) AS BIGINT) AS sample_sq_sum
      |FROM f GROUP BY shard ORDER BY shard""".stripMargin

  /** st24: the trained quality classifier DEPLOYED on the ingest stream
    * — the train-offline / serve-online shape every curation pipeline
    * ends at (tx40 trains the fixed-point logistic model in batch; the
    * stream scores each arriving document against the broadcast 1-row
    * weight vector and the TRAINING corpus's standardization stats).
    * Every stage on the stream side is row-local (features, standardize,
    * sigmoid) plus two stream-static broadcast joins of 1-row model
    * frames — ZERO streaming state, Append mode, so the same plan holds
    * at any ingest rate: no watermark, no state store, nothing to
    * compact. Oracle: tx40's own CTE tower — stream/batch parity of the
    * full train+score chain.
    *
    * The trained parameters (1-row stats + 1-row weights) come from the
    * session's [[graft.core.ModelRegistry]]: first use trains via
    * [[TextQueries.logRegTrain]] (bit-deterministic, so the gate hash is
    * unchanged), later invocations serve the frozen model — the deployed
    * shape (tx40 remains the judged trainer; it never touches the
    * registry).
    */
  private def streamQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val (statsF, wF) = graft.core.ModelRegistry.memo(
        spark, s"st24_logreg:$dir") {
      val (st, _, wt) = TextQueries.logRegTrain(spark, dir)
      (graft.core.ModelRegistry.freeze(st), graft.core.ModelRegistry.freeze(wt))
    }
    val (stats, w) = (statsF.toDF(spark), wF.toDF(spark))
    // fan out before the per-doc feature pass (the st22 single-split
    // ingest finding): tokenize + stopword intersection is the stream
    // side's CPU and must not run as one task per arriving file
    val src = StreamOps.fanOut(
      StreamOps.parquetStream(spark, dir, "documents.parquet"))
    val feat = TextQueries.logRegStandardize(TextQueries.logRegRaw(src), stats)
    val scored = TextQueries.logRegScore(feat, w)
    StreamOps.runToMemory(spark, scored,
        s"graft_stream_quality_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy(col("doc_id"))
  }

  /** st25: STATEFUL streaming exact dedup — `dropDuplicates` on the
    * content fingerprint through the state store (RocksDB), the
    * always-on complement to st22's stateless index lookup: st22 checks
    * arrivals against a PREBUILT corpus index; this deduplicates the
    * arriving stream against ITSELF across micro-batches, the first
    * stage of any always-on ingest (exactly-once emission of each new
    * fingerprint, state = one 8-byte key per unique document ever
    * seen). Output is the distinct fingerprint SET — deterministic
    * under any batching/partitioning, so the batch oracle (DISTINCT of
    * the same FNV fold) hash-gates the streaming path. Scale notes:
    * state grows with unique content (the point — it must remember
    * everything); a TTL'd ingest caps it with
    * `dropDuplicatesWithinWatermark` at the cost of the global
    * guarantee; the fan-out ahead of it spreads the hashing, and the
    * state exchange hashes by fp, so no key ever has >1 row in flight.
    */
  private def streamDedupState(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    withConf(spark, RocksDbStateStore) {
      val src = StreamOps.fanOut(
        StreamOps.parquetStream(spark, dir, "documents.parquet"))
      val fps = src.select(graft.functions.HashExprs.fnv64(
        coalesce(col("text"), lit(""))).as("fp"))
      StreamOps.runToMemory(spark, fps.dropDuplicates("fp"),
          s"graft_stream_dedup_state_${System.nanoTime()}",
          mode = org.apache.spark.sql.streaming.OutputMode.Append)
        .orderBy(col("fp"))
    }
  }
  private val streamDedupStateSql =
    s"""SELECT DISTINCT ${TextQueries.fnvSignSql} AS fp
       |FROM (SELECT ${TextQueries.fnvFoldSql("coalesce(text, '')")} AS h
       |      FROM documents) t
       |ORDER BY fp""".stripMargin

  /** Streaming HLL: per-event-type distinct-user registers maintained
    * incrementally over the event stream — [[graft.operators.Sketches.hllRegisters]]
    * lifted onto readStream unchanged (same per-row reg/rank projection,
    * streaming groupBy max in Complete mode). max() is order- and
    * batching-insensitive and an append-only stream never retracts, so
    * the run-to-completion register table is bit-identical to the batch
    * build — the batch DuckDB oracle hash-gates the true streaming path
    * (the st02/st25 convention, now for a SKETCH aggregate). The state
    * store holds ≤ |types|·m register rows however long the stream runs:
    * the sketch IS the state — the always-on form of ev31's persisted
    * sketch table, and the streaming face of sx03.
    */
  private def streamHll(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.parquetStream(spark, dir, "events.parquet")
      .select(col("event_type"),
        coalesce(col("user_id").cast("string"), lit("")).as("k"))
    val regs = graft.operators.Sketches.hllRegisters(src, col("k"), Seq("event_type"))
    val done = StreamOps.runToMemory(spark, regs,
      s"graft_stream_hll_${System.nanoTime()}")
    val exact = graft.core.Tables(spark, dir).events
      .groupBy(col("event_type"))
      .agg(countDistinct(coalesce(col("user_id").cast("string"), lit("")))
        .as("exact_distinct"))
    SketchQueries.hllSummary(done, "event_type")
      .join(exact, "event_type")
      .select(col("event_type"), col("n_set"), col("max_rank"), col("sum_rank"),
        col("regs_fp"), col("exact_distinct"))
      .orderBy(col("event_type"))
  }
  private val streamHllSql =
    s"""WITH keyed AS (
       |  SELECT event_type, coalesce(CAST(user_id AS VARCHAR), '') AS k
       |  FROM events),
       |${SketchQueries.hllRegsSummaryCtes("keyed", "event_type", "k")},
       |exact AS (
       |  SELECT event_type,
       |    count(DISTINCT coalesce(CAST(user_id AS VARCHAR), ''))::BIGINT
       |      AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT f.event_type, f.n_set, f.max_rank, f.sum_rank,
       |  ${TextQueries.fnvSignSql} AS regs_fp, e.exact_distinct
       |FROM fp f JOIN exact e ON e.event_type = f.event_type
       |ORDER BY f.event_type""".stripMargin

  /** Streaming Count-Min: a per-user event-frequency sketch maintained
    * incrementally over the event stream —
    * [[graft.operators.Sketches.cmsSketch]] lifted onto readStream
    * unchanged (same per-row cell projection, streaming groupBy count in
    * Complete mode). Where st26 gates the MAX-merged sketch (HLL), this
    * gates the SUM-merged one: count() is additive and an append-only
    * stream never retracts, so the run-to-completion counter table is
    * bit-identical to the batch build and the batch DuckDB oracle
    * hash-gates the true streaming path. State is bounded at d·w = 4096
    * counter cells however long the stream runs — the always-on
    * frequency-tracking shape (per-key rate estimation without per-key
    * state). The probe side (top-100 users by exact count) runs
    * batch-side against the materialized sketch: est_cnt >= true_cnt
    * always, the gap gated exactly because both engines hash the same
    * cells.
    */
  private def streamCms(spark: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 1024
    val src = StreamOps.parquetStream(spark, dir, "events.parquet")
      .select(coalesce(col("user_id").cast("string"), lit("")).as("k"))
    val sketch = graft.operators.Sketches.cmsSketch(src, col("k"), d, w)
    val done = StreamOps.runToMemory(spark, sketch,
      s"graft_stream_cms_${System.nanoTime()}")
    val probes = graft.core.Tables(spark, dir).events
      .select(coalesce(col("user_id").cast("string"), lit("")).as("uid"))
      .groupBy(col("uid")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("uid"))
      .limit(100)
    graft.operators.Sketches.cmsLookup(done, probes, col("uid"), d, w)
      .select(col("uid"), col("true_cnt"), col("est_cnt"))
      .orderBy(col("true_cnt").desc, col("uid"))
  }
  private val streamCmsSql = {
    def fnvOf(c: String) = TextQueries.fnvFoldSql(c)
    val w = 1024
    s"""WITH keyed AS (
       |  SELECT coalesce(CAST(user_id AS VARCHAR), '') AS k FROM events),
       |hashed0 AS (
       |  SELECT k, ${fnvOf("k")} AS h0a, ${fnvOf("concat(k, chr(1))")} AS h0b
       |  FROM keyed),
       |hashed AS (
       |  SELECT k, ${SketchQueries.mixSqlExpr("h0a")} AS h1,
       |    ${SketchQueries.mixSqlExpr("h0b")} AS h2
       |  FROM hashed0),
       |cells AS (
       |  SELECT s, ((h1 + s * h2) % $w)::BIGINT AS idx, count(*)::BIGINT AS cnt
       |  FROM hashed, (SELECT unnest([0,1,2,3]) AS s)
       |  GROUP BY 1, 2),
       |truec AS (SELECT k, count(*)::BIGINT AS true_cnt FROM keyed GROUP BY k),
       |probes AS (
       |  SELECT k AS uid, true_cnt FROM (
       |    SELECT k, true_cnt,
       |      row_number() OVER (ORDER BY true_cnt DESC, k) AS rn FROM truec)
       |  WHERE rn <= 100),
       |probeh AS (
       |  SELECT uid, true_cnt, ${fnvOf("uid")} AS p0a,
       |    ${fnvOf("concat(uid, chr(1))")} AS p0b
       |  FROM probes),
       |probemix AS (
       |  SELECT uid, true_cnt, ${SketchQueries.mixSqlExpr("p0a")} AS h1,
       |    ${SketchQueries.mixSqlExpr("p0b")} AS h2
       |  FROM probeh),
       |probecells AS (
       |  SELECT p.uid, p.true_cnt, s.s,
       |    ((p.h1 + s.s * p.h2) % $w)::BIGINT AS idx
       |  FROM probemix p, (SELECT unnest([0,1,2,3]) AS s) s)
       |SELECT pc.uid, max(pc.true_cnt) AS true_cnt, min(c.cnt) AS est_cnt
       |FROM probecells pc JOIN cells c ON c.s = pc.s AND c.idx = pc.idx
       |GROUP BY pc.uid ORDER BY true_cnt DESC, uid""".stripMargin
  }

  /** Streaming Bloom filter: the membership word-table maintained
    * incrementally over the event stream —
    * [[graft.operators.Sketches.bloomBits]] lifted onto readStream
    * unchanged (per-row position projection, streaming groupBy bit_or in
    * Complete mode). Completes the streaming-sketch merge-law trio:
    * st26 gates the MAX-merged sketch (HLL), st27 the SUM-merged one
    * (CMS), this the OR-merged one — bit_or is idempotent,
    * order-insensitive, and an append-only stream never retracts, so the
    * run-to-completion word table is bit-identical to the batch build
    * and the batch DuckDB oracle hash-gates the streaming path. State
    * bounded at mBits/64 = 1024 word rows however long the stream runs —
    * the always-on membership shape (duplicate-user admission checks
    * without per-user state). Probes: the 50 most frequent users (all
    * inserted — `maybe` MUST be true) and their §-suffixed absent twins
    * (user keys are decimal digits, so `present` is exact truth; sx04's
    * construction, on the stream-built filter).
    */
  private def streamBloom(spark: SparkSession, dir: String): DataFrame = {
    val m = 65536; val d = 5
    val src = StreamOps.parquetStream(spark, dir, "events.parquet")
      .select(coalesce(col("user_id").cast("string"), lit("")).as("k"))
    val filter = graft.operators.Sketches.bloomBits(src, col("k"), m, d)
    val done = StreamOps.runToMemory(spark, filter,
      s"graft_stream_bloom_${System.nanoTime()}")
    val top = graft.core.Tables(spark, dir).events
      .select(coalesce(col("user_id").cast("string"), lit("")).as("uid"))
      .groupBy(col("uid")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("uid"))
      .limit(50)
    val probes = top.select(col("uid"), lit(true).as("present"))
      .unionAll(top.select(concat(col("uid"), lit("§")).as("uid"),
        lit(false).as("present")))
    graft.operators.Sketches.bloomProbe(done, probes, col("uid"), m, d)
      .select(col("uid"), col("present"), col("maybe"))
      .orderBy(col("present").desc, col("uid"))
  }
  private val streamBloomSql = {
    def fnvOf(c: String) = TextQueries.fnvFoldSql(c)
    val m = 65536
    s"""WITH keyed AS (
       |  SELECT DISTINCT coalesce(CAST(user_id AS VARCHAR), '') AS k FROM events),
       |hashed0 AS (
       |  SELECT k, ${fnvOf("k")} AS h0a, ${fnvOf("concat(k, chr(1))")} AS h0b
       |  FROM keyed),
       |hashed AS (
       |  SELECT k, ${SketchQueries.mixSqlExpr("h0a")} AS h1,
       |    ${SketchQueries.mixSqlExpr("h0b")} AS h2
       |  FROM hashed0),
       |pos AS (
       |  SELECT ((h1 % $m + s.s * (h2 % $m)) % $m)::BIGINT AS pos
       |  FROM hashed, (SELECT unnest([0,1,2,3,4]) AS s) s),
       |words AS (
       |  SELECT pos // 64 AS word, bit_or(1::UBIGINT << (pos % 64)::INT) AS bits
       |  FROM pos GROUP BY 1),
       |truec AS (
       |  SELECT coalesce(CAST(user_id AS VARCHAR), '') AS uid,
       |    count(*)::BIGINT AS cnt
       |  FROM events GROUP BY 1),
       |top AS (
       |  SELECT uid FROM (
       |    SELECT uid, row_number() OVER (ORDER BY cnt DESC, uid) AS rn FROM truec)
       |  WHERE rn <= 50),
       |probes AS (
       |  SELECT uid, true AS present FROM top
       |  UNION ALL
       |  SELECT concat(uid, '§'), false FROM top),
       |probeh AS (
       |  SELECT uid, present, ${fnvOf("uid")} AS p0a,
       |    ${fnvOf("concat(uid, chr(1))")} AS p0b
       |  FROM probes),
       |probemix AS (
       |  SELECT uid, present, ${SketchQueries.mixSqlExpr("p0a")} AS h1,
       |    ${SketchQueries.mixSqlExpr("p0b")} AS h2
       |  FROM probeh),
       |probecells AS (
       |  SELECT uid, present,
       |    ((h1 % $m + s.s * (h2 % $m)) % $m)::BIGINT AS pos
       |  FROM probemix, (SELECT unnest([0,1,2,3,4]) AS s) s)
       |SELECT pc.uid, pc.present,
       |  (min(coalesce((w.bits >> (pc.pos % 64)::INT) & 1::UBIGINT, 0::UBIGINT))
       |     = 1::UBIGINT) AS maybe
       |FROM probecells pc LEFT JOIN words w ON w.word = pc.pos // 64
       |GROUP BY pc.uid, pc.present
       |ORDER BY pc.present DESC, pc.uid""".stripMargin
  }

  /** Streaming bottom-k sample quantiles: the per-event-type value
    * sample of sx05 maintained incrementally over the event stream —
    * [[graft.functions.BottomKSample]] (a typed Aggregator; the batch
    * form's native TopKPerKey has no streaming variant, an Aggregator
    * buffer IS state-store state). Extends the streaming-sketch
    * merge-law trio to a fourth law: st26 gates MAX-merge (HLL), st27
    * SUM (CMS), st28 OR (Bloom), this ORDERED TRUNCATION (keep the k
    * smallest (h, v) per group) — associative, commutative, and a pure
    * function of the row set, so the run-to-completion sample is
    * bit-identical to the batch build and the batch DuckDB oracle
    * hash-gates the true streaming path. State bounded at k = 256 rows
    * per event type however long the stream runs — the always-on
    * latency/price-quantile monitor shape (p99 without per-row state).
    * The quantile readout ([[graft.operators.Sketches.sampleQuantiles]])
    * runs batch-side on the materialized sample.
    */
  private def streamSampleQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val src = StreamOps.parquetStream(spark, dir, "events.parquet")
      .where(col("value").isNotNull)
      .select(col("event_type"),
        graft.functions.HashExprs.fnvMix64(col("event_id").cast("string")).as("h"),
        round(col("value") * 100).cast("long").as("v"))
    val bk = udaf(new graft.functions.BottomKSample(SketchQueries.SampleK))
    val agg = src.groupBy(col("event_type"))
      .agg(bk(col("h"), col("v")).as("sample"))
    val done = StreamOps.runToMemory(spark, agg,
      s"graft_stream_qsketch_${System.nanoTime()}")
    val sketch = done
      .select(col("event_type"), explode(col("sample.rows")).as("r"))
      .select(col("event_type"), col("r.h").as("h"), col("r.v").as("v"))
    graft.operators.Sketches.sampleQuantiles(sketch, "event_type", Seq(5000, 9000, 9900))
      .select(col("event_type"), col("n_sample"),
        col("est_q5000").as("est_p50_cents"),
        col("est_q9000").as("est_p90_cents"),
        col("est_q9900").as("est_p99_cents"))
      .orderBy(col("event_type"))
  }
  private val streamSampleQuantilesSql =
    s"""WITH ${SketchQueries.sampleSketchCtes},
       |${SketchQueries.sampleEstCte}
       |SELECT event_type, n_sample,
       |  est_p50_cents, est_p90_cents, est_p99_cents
       |FROM est ORDER BY event_type""".stripMargin

  /** Streaming ANN serving (st29 — the retrieval endpoint shape):
    * centroids trained OFFLINE (the batch k-means ann05/ann16 gate),
    * then arriving query vectors are served on the stream —
    * [[graft.operators.Similarity.ivfTopKStreaming]]: map-side probe
    * assignment against the literalized centroids, ONE stream-static
    * equi-join to the cell-assigned static corpus, per-query top-k as a
    * Complete-mode bounded-slice aggregate. Zero stream-stream state;
    * per-query state bounded by probed-cell fan-in. Bit-identical to the
    * batch ivfTopK under the same trained centroids, so the gate reuses
    * ann05's oracle text VERBATIM (the st22/st24 convention: the
    * always-on form answers to the same oracle as its batch twin).
    *
    * Centroids come from the session's [[graft.core.ModelRegistry]]:
    * first use runs the deterministic k-means trainer (identical rows,
    * so the gate hash is unchanged), later invocations serve the frozen
    * index — the deployed retrieval-endpoint shape (ann16 remains the
    * judged trainer and never touches the registry).
    */
  private def streamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.core.Tables(spark, dir).embeddings
    val centroids = graft.core.ModelRegistry.memo(
        spark, s"st29_ivf_centroids_16x5:$dir") {
      graft.core.ModelRegistry.freeze(
        graft.operators.Similarity.kmeansCentroids(emb, nCells = 16, rounds = 5))
    }.toDF(spark)
    val qs = StreamOps.parquetStream(spark, dir, "embeddings.parquet")
      .where(col("vec_id") < 10)
    val agg = graft.operators.Similarity.ivfTopKStreaming(
      qs, emb, centroids, k = 3, nProbe = 6)
    // state width 8: Complete-mode state is one bounded top-k slice per
    // in-flight query (10 here) — the 32-wide default pays 4× the
    // serialized store-provider/commit bookkeeping for empty stores
    val done = StreamOps.runToMemory(spark, agg,
      s"graft_stream_ann_${System.nanoTime()}",
      statePartitions = Some(8))
    done.select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"), (-col("col.nc")).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** st31: ALWAYS-ON index accretion — the ingest half of the dd17
    * maintenance lifecycle, on the stream: the dedup index is built
    * offline on the first corpus installment (docs < 300), the second
    * installment (300–399) ARRIVES as a stream whose micro-batches are
    * each appended to the persisted index inside `foreachBatch`
    * ([[graft.operators.Dedup.appendToIndex]] — the daily-batch
    * accretion at micro-batch cadence: stored rows immutable, pure
    * bucketed append, batch sketched once), and once the stream drains
    * the ≥ 400 probe batch is deduped against the accreted index. The
    * oracle is dd09's VERBATIM a third time: offline build ≡ dd17's
    * append+compact ≡ this streamed accretion, through the same lookup.
    * Exactly-once posture: `foreachBatch` is at-least-once on retry and
    * the append is not idempotent — a production ingest stamps the
    * batch id into the appended files (st11's pattern) or writes
    * per-batch paths so replays overwrite instead of double-append; the
    * judged run is a clean AvailableNow drain, and StreamIngestSpec
    * pins multi-batch accretion equality under per-file triggers.
    */
  private def streamIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val sfx = dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    val table = s"graft_st31_index_$sfx"
    val path = graft.core.Workspace.dir(s"warehouse/st31_index_$sfx")
    val docs = graft.core.Tables(spark, dir).documents
    graft.operators.Dedup.writeIndex(
      graft.operators.Dedup.minhashIndex(docs.where(col("doc_id") < 300)),
      table, path, 8)
    val src = StreamOps.parquetStream(spark, dir, "documents.parquet")
      .where(col("doc_id") >= 300 && col("doc_id") < 400)
    val appendBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) =>
        if (!batch.isEmpty)
          graft.operators.Dedup.appendToIndex(batch.toDF(), table, path, 8)
    val q = src.writeStream
      .foreachBatch(appendBatch)
      .option("checkpointLocation",
        graft.core.Workspace.dir(s"streams/st31_ck_${System.nanoTime()}"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the appends ran in foreachBatch's CLONED session — this session's
    // relation cache still lists the pre-append files; refresh before
    // serving (measured: without it the lookup silently misses every
    // streamed doc — the stale-cache failure mode, not an error)
    spark.catalog.refreshTable(s"${table}_docs")
    spark.catalog.refreshTable(s"${table}_buckets")
    graft.operators.Dedup.dedupAgainstIndex(
        docs.where(col("doc_id") >= 400),
        spark.table(s"${table}_buckets"), spark.table(s"${table}_docs"),
        threshold = 0.8)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** st30: tx46's per-source quality thresholds DEPLOYED on the ingest
    * stream — the curation gate as an always-on admission filter
    * (thresholds trained offline from the reference corpus's exact
    * quartile histogram, ≤|sources| rows; arriving documents scored
    * row-locally and admitted via ONE stream-static broadcast join).
    * Zero streaming state, Append mode — the st24 serving convention,
    * now for the threshold family: no watermark, no state store, the
    * same plan at any ingest rate. Oracle: the identical scored/thr CTEs
    * as tx46 ([[TextQueries.qualityThresholdCtes]], one definition for
    * both gates) emitting the kept documents — stream/batch parity of
    * the full threshold-train + filter chain.
    */
  private def streamThresholdPrune(spark: SparkSession, dir: String): DataFrame = {
    val thr = TextQueries.qualityThresholds(
        TextQueries.qualityScored(graft.core.Tables(spark, dir).documents))
      .select(col("source"), col("q_thresh"))
    val src = StreamOps.fanOut(
      StreamOps.parquetStream(spark, dir, "documents.parquet"))
    val kept = TextQueries.qualityScored(src)
      .join(broadcast(thr), Seq("source"))
      .where(col("q") >= col("q_thresh"))
      .select(col("doc_id"), col("source"), col("q"))
    StreamOps.runToMemory(spark, kept,
        s"graft_stream_thresh_${System.nanoTime()}",
        mode = org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy(col("doc_id"))
  }
  private val streamThresholdPruneSql =
    s"""WITH ${TextQueries.qualityThresholdCtes}
       |SELECT s.doc_id, s.source, s.q
       |FROM scored s JOIN thr t ON s.source = t.source
       |WHERE s.q >= t.q_thresh
       |ORDER BY s.doc_id""".stripMargin

  /** st32: streaming embedding-drift monitor — ann20 deployed as the
    * always-on shape: baseline per-label centroids come from the OFFLINE
    * cohort (even vec_id parity, standing in for "last epoch"); the new
    * cohort ARRIVES as a stream whose ONLY streaming state is the
    * (label, dim) integer moment rollup ([[VectorQueries.centroidMoments]]
    * as a Complete-mode streaming aggregation) — state bounded by
    * |labels|·dims at ANY corpus size, the streaming analog of tx46's
    * domain-bounded exchange, so the monitor runs forever without state
    * growth. Once the stream drains, the arriving centroids are
    * assembled and compared with the same fold arithmetic; gate =
    * ann20's oracle VERBATIM (offline monitor ≡ streamed monitor).
    */
  private def streamCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.core.Tables(spark, dir).embeddings
    val base = VectorQueries.centroidMoments(
      emb.where(pmod(col("vec_id"), lit(2L)) === 0))
    val arriving = StreamOps.parquetStream(spark, dir, "embeddings.parquet")
      .where(pmod(col("vec_id"), lit(2L)) === 1)
    val streamed = StreamOps.runToMemory(spark,
      VectorQueries.centroidMoments(arriving),
      s"graft_stream_drift_${System.nanoTime()}")
    VectorQueries.driftJoin(
      VectorQueries.centroidFrame(base), VectorQueries.centroidFrame(streamed))
  }

  /** st33: the custom DSv2 connector on its STREAMING path — the
    * [[graft.sources.SyntheticDocs]] MicroBatchStream (id-watermark
    * offsets, SupportsTriggerAvailableNow drain, per-trigger admission
    * capped at `streamBatch`) replayed to completion: 20 000 generated
    * ids arrive over ~5 micro-batches of ≤4 096 and fold into the same
    * (lang, source) rollup ev40 computes on the batch path. The oracle
    * is the connector's published row arithmetic over generate_series —
    * so the gate proves offset planning, admission control and replay
    * deliver EXACTLY the id space once each, no gaps, no double-reads.
    */
  private def streamCustomSource(spark: SparkSession, dir: String): DataFrame = {
    val src = spark.readStream.format(graft.sources.SyntheticDocs.Format)
      .option("rows", "20000").option("partitions", "8")
      .option("streamBatch", "4096").load()
    val agg = src.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    StreamOps.runToMemory(spark, agg, s"graft_stream_synth_${System.nanoTime()}")
      .orderBy(col("lang"), col("source"))
  }
  private val streamCustomSourceSql =
    """WITH ids AS (SELECT unnest(generate_series(0, 19999)) AS id)
      |SELECT ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |  ['books','code','web','wiki'][(id % 4 + 1)::INT] AS source,
      |  count(*)::BIGINT AS n_docs,
      |  CAST(sum(id % 97 + 3) AS BIGINT) AS n_tokens
      |FROM ids GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  /** st36: the V2 STREAMING WRITE protocol end-to-end — the custom
    * connector's bounded replay ([[graft.sources.SyntheticDocs]], 20 000
    * ids over 4 096-id admission batches) written through
    * [[graft.sources.AuditSink]]'s `StreamingWrite`: each micro-batch
    * folds its per-task audits and `commit(epoch, messages)` publishes
    * ONE (rows, checksum) record per epoch — the epoch-granular
    * transactional contract (idempotent per-epoch re-commit) that gives
    * a sink exactly-once on top of replayable offsets at any scale. The
    * admission cap makes the epoch boundaries deterministic (epoch k =
    * ids [4096·k, min(4096·(k+1), 20000))), so the oracle re-derives
    * every epoch's row count AND its XOR-folded FNV-1a checksum from
    * `generate_series` — the gate hashes the per-epoch commit ledger
    * itself: exactly the id space, once each, no gaps, no double-writes,
    * correctly sliced into epochs.
    */
  private def streamAuditWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val name = s"st36_${System.nanoTime()}"
    val out = graft.core.Workspace.dir(s"roundtrip/stream_audit_$name")
    val src = spark.readStream.format(graft.sources.SyntheticDocs.Format)
      .option("rows", "20000").option("partitions", "8")
      .option("streamBatch", "4096").load()
      .select(col("doc_id"))
    val q = src.writeStream.format(graft.sources.AuditSink.Format)
      .option("name", name)
      .option("checkpointLocation", s"$out/ck")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Judged ledger = the non-empty commits RE-ENUMERATED in engine
    // epoch order: a no-data micro-batch is legal engine behavior
    // (trailing today, and nothing forbids a mid-stream one), carries no
    // audit content, and must neither add a row the oracle lacks nor
    // shift later labels off the oracle's id-derived slices (review
    // finding r12b, both halves). Offsets only move forward, so the
    // k-th non-empty commit covers exactly the k-th id slice — the gate
    // still pins ordering, slicing, and every per-epoch checksum.
    graft.sources.AuditSink.epochCommits(name).toSeq
      .collect { case (_, (n, c)) if n > 0 => (n, c) }
      .zipWithIndex
      .map { case ((n, c), i) => (i.toLong, n, c) }
      .toDF("epoch", "n_rows", "checksum")
      .orderBy(col("epoch"))
  }
  private val streamAuditWriteSql =
    s"""WITH ids AS (SELECT unnest(generate_series(0, 19999)) AS id),
      |h AS (
      |  SELECT id // 4096 AS epoch, ${Events.fnv64IdFoldSql("id")} AS h
      |  FROM ids)
      |SELECT epoch::BIGINT AS epoch, CAST(cnt AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
      |       THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT) AS checksum
      |FROM (SELECT epoch, count(*) AS cnt, bit_xor(h::UBIGINT)::HUGEINT AS x
      |      FROM h GROUP BY epoch) t
      |ORDER BY epoch""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "st36_stream_audit_write" -> QueryDef(streamAuditWrite,
      Some(streamAuditWriteSql)),
    "st35_stream_sample_quantiles" -> QueryDef(streamSampleQuantiles,
      Some(streamSampleQuantilesSql)),
    "st34_stream_dynamic_session" -> QueryDef(streamSessionDynamic,
      Some(streamSessionDynamicSql)),
    "st33_stream_custom_source" -> QueryDef(streamCustomSource,
      Some(streamCustomSourceSql)),
    "st32_stream_drift_monitor" -> QueryDef(streamCentroidDrift,
      Some(VectorQueries.annCentroidDriftSql)),
    "st31_stream_index_ingest" -> QueryDef(streamIndexIngest,
      Some(TextQueries.dedupIncrementalSql)),
    "st30_stream_threshold_prune" -> QueryDef(streamThresholdPrune,
      Some(streamThresholdPruneSql)),
    "st29_stream_ann_serve" -> QueryDef(streamAnnServe,
      Some(VectorQueries.annIvfSql)),
    "st28_stream_bloom" -> QueryDef(streamBloom, Some(streamBloomSql)),
    "st27_stream_cms" -> QueryDef(streamCms, Some(streamCmsSql)),
    "st26_stream_hll" -> QueryDef(streamHll, Some(streamHllSql)),
    "st25_stream_dedup_state" -> QueryDef(streamDedupState,
      Some(streamDedupStateSql)),
    "st24_stream_quality_score" -> QueryDef(streamQualityScore,
      Some(TextQueries.qualityClassifierSql)),
    "st23_stream_media_decode" -> QueryDef(streamMediaDecode, Some(streamMediaDecodeSql)),
    "st22_stream_index_dedup" -> QueryDef(streamIndexDedup, Some(TextQueries.dedupIncrementalSql)),
    "st21_stream_sample"     -> QueryDef(streamSample, Some(TextQueries.prioritySampleSql)),
    "st20_stream_ewma"       -> QueryDef(streamEwma, Some(streamEwmaSql)),
    "st18_state_reader"      -> QueryDef(stateReader, Some(stateReaderSql)),
    "st19_restart_exactly_once" -> QueryDef(streamRestart, Some(streamRestartSql)),
    "st12_late_data_drop"    -> QueryDef(streamLateData, Some(streamLateDataSql)),
    "st13_update_mode"       -> QueryDef(streamUpdateMode, Some(streamUpdateModeSql)),
    "st14_outer_stream_join" -> QueryDef(streamOuterJoin, Some(streamOuterJoinSql)),
    "st15_transform_with_state" -> QueryDef(streamTws, Some(streamTwsSql)),
    "st16_stream_ohlc"       -> QueryDef(streamOhlc, Some(streamOhlcSql)),
    "st17_chained_agg"       -> QueryDef(streamChained, Some(streamChainedSql)),
    "st11_foreach_batch"     -> QueryDef(streamForeachBatch, Some(streamForeachBatchSql)),
    "st10_stream_multibatch" -> QueryDef(streamMultibatch, Some(streamMultibatchSql)),
    "st09_stream_static_join" -> QueryDef(streamStaticJoin, Some(streamStaticJoinSql)),
    "st01_stream_tumbling"  -> QueryDef(streamTumbling, Some(streamTumblingSql)),
    "st08_stream_session"   -> QueryDef(streamSession, Some(streamSessionSql)),
    "st07_stream_file_sink" -> QueryDef(streamParquetSink, Some(streamParquetSinkSql)),
    "st06_stream_join"      -> QueryDef(streamStreamJoin, Some(streamStreamJoinSql)),
    "st02_stream_wordcount" -> QueryDef(streamWordcount, Some(streamWordcountSql)),
    "st03_stream_sliding"   -> QueryDef(streamSliding, Some(streamSlidingSql)),
    "st04_stream_dedup"     -> QueryDef(streamDedup, Some(streamDedupSql)),
    "st05_user_state"       -> QueryDef(streamUserStats, Some(streamUserStatsSql)),
  )
}
