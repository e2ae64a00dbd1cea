package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.{dec, dsum}
import graft.operators.{AsOfJoin, Funnel, Graph, IncrementalAgg, RangeJoin, TableDiff}

/** Event-table surface: tumbling windows, JSON extraction, sessionization,
  * as-of join, and file-format round-trips. The reference has no streaming
  * or temporal operators (SURVEY §2.9 "absent") — semantics here are
  * Spark/ANSI, gated by the DuckDB oracle. The true Structured Streaming
  * path over the same table lives in [[graft.streaming.StreamOps]] and the
  * `stream_tumbling_counts` query.
  */
object Events {

  /** Tumbling 10-minute event-time windows (batch form of the streaming
    * aggregation). Spark `window()` aligns buckets to the 1970 epoch;
    * DuckDB `time_bucket` to 2000-01-01 — both are multiples of 10 min, so
    * boundaries coincide.
    */
  private def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("w_start"), col("event_type"))
  private val tumblingSql =
    """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** JSON extraction from the `props` column (string-typed JSON payloads,
    * FIXTURES §B) — `get_json_object` is codegen'd; no UDF.
    */
  private def json(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .where(col("k") >= 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hi"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  private val jsonSql =
    """SELECT event_type, count(*) AS n_hi, CAST(sum(k) AS BIGINT) AS sum_k FROM (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events) t
      |WHERE k >= 50 GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gap-based sessionization (30-minute inactivity): lag window + running
    * conditional sum — the standard single-shuffle sessionizer (shuffle by
    * user, sort by time within partition; scales linearly).
    */
  private def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }
  private val sessionizeSql =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, event_id,
      |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events) x) y
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ev43: conversion-latency percentiles — how long attributed
    * purchases take after their click (p50/p90/p99 in exact
    * microseconds), the SLA-style latency readout that pairs with
    * ev39's attribution counts. Exact type-1 quantiles via the explicit
    * rank crossing (rank = ⌈q·n/100⌉ under a deterministic (delta,
    * event_id) order) so both engines pick the IDENTICAL row — engine-
    * native percentile functions interpolate differently and are
    * unusable for a hash gate. The global rank window runs over
    * CONVERSIONS (structurally ≪ events — one row per attributed
    * purchase); at 100 TB the q56 histogram-crossing form is the
    * documented scale path for percentiles over non-collapsed streams.
    */
  private def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val base = ev.where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = base
      .withColumn("click_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .where(col("side") === 1 && col("click_ts").isNotNull &&
        col("click_ts") >= col("ts") - expr("INTERVAL 1 DAY"))
      .select(col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("delta_us"))
    val ranked = attributed
      .withColumn("rn", row_number().over(
        Window.orderBy(col("delta_us"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    ranked
      .crossJoin(spark.range(0, 3).select(
        element_at(array(lit(50), lit(90), lit(99)), (col("id") + 1).cast("int")).as("q")))
      .where(col("rn") === expr("(n * q + 99) div 100"))
      .select(col("q"), col("n").as("n_conversions"), col("delta_us"))
      .orderBy(col("q"))
  }
  private val conversionLatencySql =
    """WITH p AS (
      |  SELECT e.event_id, e.ts,
      |    (SELECT c.ts FROM events c
      |     WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      |     ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_ts
      |  FROM events e WHERE e.event_type = 'purchase'),
      |d AS (
      |  SELECT event_id, epoch_us(ts) - epoch_us(click_ts) AS delta_us
      |  FROM p WHERE click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 DAY),
      |r AS (
      |  SELECT delta_us, event_id,
      |    row_number() OVER (ORDER BY delta_us, event_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM d),
      |qs AS (SELECT unnest([50, 90, 99]) AS q)
      |SELECT q, CAST(n AS BIGINT) AS n_conversions, delta_us
      |FROM qs JOIN r ON rn = (n * q + 99) // 100
      |ORDER BY q""".stripMargin

  /** ev42: clickstream path analysis — the top navigation paths product
    * analytics reads off a session table: ev03's sessionization (30-min
    * gap, same lag/flag arithmetic) extended with a running session id,
    * each session reduced to its first-5 event-type path, paths ranked
    * by frequency. The path assembly is ONE combinable aggregation
    * (array_sort over (ts, event_id, type) structs — no per-session
    * window sort), so the whole query is two key-hash exchanges
    * (user_id, then path) and a top-20 LIMIT. Total order: (n DESC,
    * path) is a deterministic unique key.
    */
  private def pathAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables(spark, dir).events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">", slice(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type")),
        1, 5)).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
  }
  private val pathAnalysisSql =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |y AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
      |        THEN 1 ELSE 0 END AS new_session FROM x),
      |z AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |      FROM y),
      |p AS (
      |  SELECT user_id, session_id,
      |    array_to_string(list_slice(
      |      list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
      |  FROM z GROUP BY user_id, session_id)
      |SELECT path, count(*)::BIGINT AS n_sessions
      |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** As-of join: for every purchase, the latest click by the same user at
    * or before the purchase time (ties on ts broken by max event_id).
    * Implemented by [[AsOfJoin]] as union + one window pass — a single
    * shuffle by key, no range-join explosion (SURVEY §4.2 "custom" row).
    */
  private def asof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOfJoin.lastPriorMatch(
      purchases, clicks,
      keyCol = "user_id", tsCol = "ts", idCol = "event_id",
      matchCol = "click_event_id")
      .orderBy(col("event_id"))
  }
  private val asofSql =
    """SELECT e.event_id, e.user_id, e.ts,
      |  (SELECT c.event_id FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_event_id
      |FROM events e WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin

  /** Source/sink coverage beyond parquet (SURVEY §2.1 "Ours"): customer →
    * CSV, nation → JSON, read both back, join with region parquet. Exact
    * round-trip types only (int/long/double/string — doubles survive CSV
    * full-precision).
    */
  private def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    t.customer.write.mode("overwrite").option("header", "true").csv(s"$tmp/customer_csv")
    t.nation.write.mode("overwrite").json(s"$tmp/nation_json")
    val cust = spark.read.option("header", "true")
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .csv(s"$tmp/customer_csv")
    val nat = spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .json(s"$tmp/nation_json")
    cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name"))
  }
  private val roundtripSql =
    """SELECT r_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Pure range join (no equi key): for each purchase, how many clicks by
    * ANY user landed in the 10-minute window centered on it. A raw
    * BETWEEN predicate would plan as BroadcastNestedLoopJoin (quadratic);
    * [[RangeJoin.intervalJoin]] bins both sides to 10-minute keys → one
    * hash shuffle each, and AQE handles the skewed-bin case.
    */
  private def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        (col("ts") - expr("INTERVAL 5 MINUTES")).as("lo"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("hi"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"))
    RangeJoin.intervalJoin(clicks, "ts", purchases, "lo", "hi",
        binWidthMicros = 600000000L) // 10-minute bins = the interval span
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
      .orderBy(col("purchase_id"))
  }
  private val rangeJoinSql =
    """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
      |  min(c.event_id) AS first_click_id
      |FROM events p JOIN events c
      |  ON c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL '5 minutes'
      |  AND c.ts <  p.ts + INTERVAL '5 minutes'
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin

  /** ORC source/sink coverage (columnar sibling of parquet; vectorized
    * reader, pushdown, pruning all apply): supplier → ORC → read back →
    * join nation → aggregate.
    */
  private def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    t.supplier.write.mode("overwrite").orc(s"$tmp/supplier_orc")
    spark.read.orc(s"$tmp/supplier_orc")
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_bal"))
      .orderBy(col("n_name"))
  }
  private val orcRoundtripSql =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** XML source/sink coverage (Spark 4 native `xml` format — the
    * row-per-element semi-structured sibling of the CSV/JSON round-trips):
    * part → XML → read back under an EXPLICIT schema (inference would add
    * a nondeterministic sampling pass and is the wrong default for a
    * pipeline) → aggregate per brand. Doubles survive the text round-trip
    * exactly because Spark prints shortest-round-trip representations.
    * Scale note: XML is a line-unsplittable verbose interchange format —
    * fine as an ingest boundary, never as the working set; the query lands
    * the data back in columnar form immediately, which is the posture at
    * 100 TB.
    */
  private def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    t.part.select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite")
      .option("rootTag", "parts").option("rowTag", "part")
      .format("xml").save(s"$tmp/part_xml")
    spark.read.format("xml").option("rowTag", "part")
      .schema("p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE")
      .load(s"$tmp/part_xml")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("total_price"))
      .orderBy(col("p_brand"))
  }
  private val xmlRoundtripSql =
    """SELECT p_brand, count(*) AS n_parts,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Dynamic partition pruning: events written date-partitioned, then
    * joined to a dim of high-revenue days (an aggregate the optimizer
    * cannot see statically). Catalyst plants a
    * `dynamicpruningexpression(event_date IN dynamicpruning#N)` partition
    * filter on the fact scan — the dim result is computed first and only
    * the matching date directories are READ, which at 100 TB is the
    * difference between scanning 5 days and scanning 10 years. PlanSpec
    * asserts the dynamic filter is on the scan; this query gates values.
    * The cut is RELATIVE — days above 90 % of the best day's revenue — so
    * selectivity survives any scale factor (a fixed absolute threshold
    * would select everything at 10× the data). Parity: the cut is one
    * IEEE multiply of an exact-decimal-derived max, identical in both
    * engines.
    */
  private def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev  = Tables(spark, dir).events
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    ev.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$tmp/events_by_date")
    val fact = spark.read.parquet(s"$tmp/events_by_date")
    val days = ev.groupBy(to_date(col("ts")).as("d"))
      .agg(dsum(col("value")).as("day_value"))
    // ONE scalar to the driver (bounded model parameter, same posture as
    // the IVF centroid collect): inlining the cut as a literal keeps the
    // dim side a plain selective filter, which is the shape the dynamic-
    // pruning planner recognizes — a join-derived cut defeats it.
    val cutRow = days.agg((max(col("day_value")) * lit(0.9)).as("c")).head()
    // max over zero rows is NULL — fail with a message, not an opaque NPE
    require(!cutRow.isNullAt(0),
      s"dppJoin: events table at $dir is empty; revenue cut is undefined")
    val cutVal = cutRow.getDouble(0)
    val dim = days.where(col("day_value") > cutVal).select(col("d"))
    fact.join(dim, col("event_date") === col("d"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("day_total"))
      .orderBy(col("event_date"))
  }
  private val dppJoinSql =
    """WITH days AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
      |  FROM events GROUP BY 1)
      |SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_total
      |FROM events
      |WHERE CAST(ts AS DATE) IN (
      |  SELECT d FROM days
      |  WHERE day_value > (SELECT max(day_value) * 0.9 FROM days))
      |GROUP BY 1 ORDER BY event_date""".stripMargin

  /** Nested-struct schema pruning: events re-shaped into a 2-level struct
    * payload (the shape of real event/multimodal metadata), written to
    * parquet, then queried touching only TWO leaf fields. Catalyst's
    * nested-schema pruning pushes the subfield projection into the scan —
    * `ReadSchema` lists `payload.user_id` and `payload.metrics.value` only,
    * so the untouched leaves (`event_type`, `ts`) are never decoded or
    * read. At 100 TB with wide metadata structs this is the same win
    * column pruning gives flat tables; PlanSpec asserts the pruned
    * ReadSchema. Oracle: the flat-column equivalent.
    */
  private def nestedPruning(spark: SparkSession, dir: String): DataFrame = {
    val ev  = Tables(spark, dir).events
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    ev.select(col("event_id"),
        struct(col("user_id"), col("event_type"),
          struct(col("value"), col("ts")).as("metrics")).as("payload"))
      .write.mode("overwrite").parquet(s"$tmp/events_nested")
    spark.read.parquet(s"$tmp/events_nested")
      .where(col("payload.user_id") < 50)
      .groupBy(col("payload.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("payload.metrics.value")).as("total_value"))
      .orderBy(col("user_id"))
  }
  private val nestedPruningSql =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events WHERE user_id < 50
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Schema-drift union (`unionByName(allowMissingColumns = true)`): two
    * feeds of the same logical table whose schemas diverged — one renamed/
    * reordered its columns, one dropped a column — merged BY NAME with the
    * missing column null-filled. The positional `union` would silently
    * misalign columns here (the classic pipeline-corruption bug);
    * unionByName is the drift-tolerant spelling, and the ev13 mergeSchema
    * read is its storage-side sibling. Null-extension is explicit in the
    * oracle.
    */
  private def unionByNameDrift(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // feed A: full schema, original column order
    val a = t.orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // feed B: reordered + missing o_totalprice (dropped upstream)
    val b = t.orders.where(col("o_orderkey") % 3 === 1)
      .select(col("o_orderpriority"), col("o_orderkey"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_totalprice")).as("n_with_price"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }
  private val unionByNameDriftSql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  count(o_totalprice) AS n_with_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, NULL AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 1) u
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Persisted re-aggregable distinct sketches (Datasketches HLL): each
    * day's user set is reduced to ONE KB-sized `hll_sketch_agg` sketch and
    * written as a sketch table; the read side answers "distinct users over
    * any day range" by `hll_union_agg`-merging stored sketches — never
    * re-touching the raw events. This is the pattern that replaces
    * count(DISTINCT) recomputation over 100 TB of history: daily jobs pay
    * the scan once, every later rollup is O(days × KB). ev21 is the same
    * idea for algebraic aggregates; sketches extend it to the
    * non-algebraic distinct. Determinism: HLL with fixed lgConfigK is a
    * pure function of the input SET and union is order-independent, and
    * the q31 bounds-gate makes drift fail loudly — the query emits the
    * EXACT distinct count only where the merged estimate lands within 5 %,
    * so the oracle (plain exact SQL) hash-gates the sketch path.
    */
  private def sketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev  = Tables(spark, dir).events
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    ev.groupBy(to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .write.mode("overwrite").parquet(s"$tmp/user_sketches")
    val merged = spark.read.parquet(s"$tmp/user_sketches")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
    val exact = ev.agg(countDistinct(col("user_id")).as("n_users"))
    merged.join(exact) // 1×1
      .where(abs(col("est_users") - col("n_users")).cast("double") /
        col("n_users").cast("double") <= 0.05)
      .select(col("n_days"), col("n_users"))
  }
  private val sketchMergeSql =
    """SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  count(DISTINCT user_id) AS n_users
      |FROM events""".stripMargin

  /** Hive-style partitioned parquet sink + partition-pruned read: events
    * written `partitionBy(event_type)`, read back with a partition filter —
    * the layout that turns a predicate on the partition column into
    * directory pruning (zero I/O for other partitions) at 100 TB. PlanSpec
    * asserts the `PartitionFilters` entry on the scan.
    */
  private def partitionedSink(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    t.events.write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$tmp/events_by_type")
    spark.read.parquet(s"$tmp/events_by_type")
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
      .orderBy(col("user_id"))
  }
  private val partitionedSinkSql =
    """SELECT user_id, count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The NAIVE range-join formulation — a raw `ts >= lo && ts < hi`
    * predicate with no equi key, which Spark alone can only plan as a
    * nested loop — executed under [[graft.plans.RangeJoinRule]], which
    * rewrites it into the binned equi-join automatically (same plan family
    * as ev06's hand-built form; RangeJoinRuleSpec asserts plan + parity).
    * Extension-built sessions carry the rule already; the harness session
    * is external, so it is installed via `experimental.extraOptimizations`
    * (same rule object, idempotent).
    */
  private def autoRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    if (!spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.plans.RangeJoinRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule(spark)
    val ev = Tables(spark, dir).events
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        (col("ts") - expr("INTERVAL 3 MINUTES")).as("lo"),
        (col("ts") + expr("INTERVAL 3 MINUTES")).as("hi"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"))
    clicks.join(purchases, col("ts") >= col("lo") && col("ts") < col("hi"))
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("click_id")).as("last_click_id"))
      .orderBy(col("purchase_id"))
  }
  private val autoRangeJoinSql =
    """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
      |  max(c.event_id) AS last_click_id
      |FROM events p JOIN events c
      |  ON c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL '3 minutes'
      |  AND c.ts <  p.ts + INTERVAL '3 minutes'
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin

  /** The auto-rewrite on WIDE intervals — the distribution the
    * AUTO-DERIVED bin width exists for: 6-hour windows (purchases by users
    * < 50, ±3 h) over click points. With the r2 fixed 10-minute default
    * each interval row exploded into 37 bins; the plan-time median-span
    * sample derives a ~6-hour width instead, ≤ 2 bins per interval. The
    * width is always sampling-derived, so this row oracle-gates that plan
    * end to end (ev09 covers the narrow-interval case the default happened
    * to fit).
    */
  private def wideRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    if (!spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[graft.plans.RangeJoinRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule(spark)
    val ev = Tables(spark, dir).events
    val windows = ev
      .where(col("event_type") === "purchase" && col("user_id") < 50)
      .select(col("event_id").as("window_id"),
        (col("ts") - expr("INTERVAL 3 HOURS")).as("lo"),
        (col("ts") + expr("INTERVAL 3 HOURS")).as("hi"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"))
    clicks.join(windows, col("ts") >= col("lo") && col("ts") < col("hi"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
      .orderBy(col("window_id"))
  }
  private val wideRangeJoinSql =
    """SELECT p.event_id AS window_id, count(*) AS n_clicks,
      |  min(c.event_id) AS first_click_id
      |FROM events p JOIN events c
      |  ON c.event_type = 'click'
      |  AND c.ts >= p.ts - INTERVAL '3 hours'
      |  AND c.ts <  p.ts + INTERVAL '3 hours'
      |WHERE p.event_type = 'purchase' AND p.user_id < 50
      |GROUP BY p.event_id ORDER BY window_id""".stripMargin

  /** Resample + gap-fill ([[graft.operators.Resample.gapFill]]): hourly
    * spine per user over [min ts, max ts], bucket sums, forward-filled
    * values across empty buckets. Restricted to 20 users to bound spine
    * size at fixture scale; DuckDB mirrors with generate_series + a
    * last_value IGNORE NULLS window.
    */
  private def gapFill(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.gapFill(
        Tables(spark, dir).events.where(col("user_id") < 20),
        keyCol = "user_id", tsCol = "ts", valueCol = "value")
      .select(col("user_id"), col("bucket"), col("n"),
        col("bucket_value"), col("filled_value"))
      .orderBy(col("user_id"), col("bucket"))
  private val gapFillSql =
    """WITH ev AS (SELECT * FROM events WHERE user_id < 20),
      |spine AS (
      |  SELECT user_id, unnest(generate_series(
      |    date_trunc('hour', lo), date_trunc('hour', hi), INTERVAL '1 hour')) AS bucket
      |  FROM (SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM ev GROUP BY user_id) m),
      |per_bucket AS (
      |  SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS bucket_value
      |  FROM ev GROUP BY 1, 2)
      |SELECT s.user_id, s.bucket,
      |  coalesce(p.n, 0) AS n, p.bucket_value,
      |  last_value(p.bucket_value IGNORE NULLS) OVER (
      |    PARTITION BY s.user_id ORDER BY s.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM spine s LEFT JOIN per_bucket p
      |  ON s.user_id = p.user_id AND s.bucket = p.bucket
      |ORDER BY s.user_id, s.bucket""".stripMargin

  /** MapType surface: build a map<string,string> from event columns,
    * explode it to (key, value) rows, aggregate. Exercises map
    * construction, generator execution over maps, and map-entry grouping —
    * the complex-type path the struct/array queries don't touch. The
    * oracle states the same relation as a UNION ALL of the entries.
    */
  private def mapOps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(explode(map(
        lit("event_type"), col("event_type"),
        lit("uid_bucket"), pmod(col("user_id"), lit(10L)).cast("string")))
        .as(Seq("k", "v")))
      .groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k"), col("v"))
  private val mapOpsSql =
    """SELECT k, v, count(*) AS n FROM (
      |  SELECT 'event_type' AS k, event_type AS v FROM events
      |  UNION ALL
      |  SELECT 'uid_bucket' AS k, CAST(user_id % 10 AS VARCHAR) AS v FROM events) t
      |GROUP BY k, v ORDER BY k, v""".stripMargin

  /** Parquet schema EVOLUTION: v1 files lack a column later versions
    * carry; `mergeSchema` reconciles the union schema at read time and
    * fills the missing column with null — how a 100 TB lake actually
    * grows columns (no rewrite of old files). Even event_ids are written
    * as v1 (no `sev`), odd as v2 (sev = event_id % 5, exact integers);
    * the rollup counts and sums the evolved column per type, nulls
    * ignored by the aggregate — all mirrored conditionally in the oracle.
    */
  private def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val t   = Tables(spark, dir)
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    val out = s"$tmp/events_evolved"
    val base = t.events.select(col("event_id"), col("event_type"))
    base.where(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(out)
    base.where(col("event_id") % 2 === 1)
      .withColumn("sev", pmod(col("event_id"), lit(5L)))
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("sev")).as("n_v2"),
        sum(col("sev")).as("sum_sev"))
      .orderBy(col("event_type"))
  }
  private val schemaEvolutionSql =
    """SELECT event_type, count(*) AS n,
      |  count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_v2,
      |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN event_id % 5 END) AS BIGINT) AS sum_sev
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Small-file compaction ([[graft.operators.Compaction]]): fragment the
    * event table into 32 tiny files (a streaming sink's typical droppings),
    * compact to ~1 GiB target (→ one file here), and roll up the COMPACTED
    * copy — the oracle runs on the original table, so the judged surface
    * is content preservation through the rewrite; CompactionSpec asserts
    * the file-count mechanics (shrink = coalesce, no shuffle).
    */
  private def compaction(spark: SparkSession, dir: String): DataFrame = {
    val tmp  = graft.core.Workspace.forInput(dir, "roundtrip")
    val frag = s"$tmp/events_fragmented"
    val comp = s"$tmp/events_compacted"
    Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(32)
      .write.mode("overwrite").parquet(frag)
    graft.operators.Compaction.compact(spark, frag, comp, targetBytes = 1L << 30)
    spark.read.parquet(comp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }
  private val compactionSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** DYNAMIC partition overwrite — the partition-level upsert every
    * partitioned lake runs daily (recompute one day/type, leave the rest
    * untouched): the full table is seeded `partitionBy(event_type)`, then
    * a revised 'purchase' slice (values doubled — an exponent bump, so
    * doubles stay exact) overwrites ONLY its own partition under
    * `partitionOverwriteMode = dynamic`. In static mode the second write
    * would wipe every other partition and the row counts would collapse —
    * the oracle's per-type counts gate exactly that.
    */
  private def dynPartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.core.Workspace.forInput(dir, "roundtrip")
    val out = s"$tmp/events_dynpart"
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"), col("value"))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    val modeKey  = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    try
      ev.where(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally prevMode match {
      case Some(m) => spark.conf.set(modeKey, m)
      case None    => spark.conf.unset(modeKey)
    }
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }
  private val dynPartitionOverwriteSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value * 2
      |                     ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Ordered funnel view→click→purchase per user ([[Funnel.stepTimes]] —
    * k chained window-mins over ONE `partitionBy(user)` exchange; the
    * collapsing groupBy reuses the partitioning, PlanSpec-asserted). Step k
    * counts only strictly after step k-1's completion time.
    */
  private def funnel(spark: SparkSession, dir: String): DataFrame =
    Funnel.stepTimes(Tables(spark, dir).events,
        keyCol = "user_id", typeCol = "event_type", tsCol = "ts",
        steps = Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))
  private val funnelSql =
    """SELECT user_id, t1, t2, t3,
      |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
      |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached
      |FROM (
      |  SELECT DISTINCT user_id, t1, t2,
      |    min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
      |      OVER (PARTITION BY user_id) AS t3
      |  FROM (
      |    SELECT user_id, event_type, ts, t1,
      |      min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
      |        OVER (PARTITION BY user_id) AS t2
      |    FROM (
      |      SELECT user_id, event_type, ts,
      |        min(CASE WHEN event_type = 'view' THEN ts END)
      |          OVER (PARTITION BY user_id) AS t1
      |      FROM events) a) b) c
      |ORDER BY user_id""".stripMargin

  /** Weekly cohort retention: cohort = Monday-truncated week of each user's
    * first event; cell (cohort, offset) counts users active `offset` weeks
    * later. Two hash aggregates (first-week, distinct user-week) and one
    * join — at scale the first-week table is n_users rows, broadcastable.
    * Spark and DuckDB both truncate weeks to Monday; DuckDB yields DATE so
    * the oracle casts back to TIMESTAMP.
    */
  private def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firstWeek = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    ev.distinct()
      .join(firstWeek, "user_id")
      .groupBy(col("cohort_wk"),
        expr("datediff(wk, cohort_wk) div 7").cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }
  private val retentionSql =
    """SELECT cohort_wk, week_offset, count(DISTINCT user_id) AS n_users FROM (
      |  SELECT a.user_id, f.cohort_wk,
      |    CAST(date_diff('day', f.cohort_wk, a.wk) // 7 AS INT) AS week_offset
      |  FROM (SELECT DISTINCT user_id,
      |          CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events) a
      |  JOIN (SELECT user_id, min(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort_wk
      |        FROM events GROUP BY user_id) f USING (user_id)) t
      |GROUP BY cohort_wk, week_offset ORDER BY cohort_wk, week_offset""".stripMargin

  /** SCD Type-2 dimension build: collapse a per-user attribute stream
    * (signup events, attr = ⌊value⌋) into change-point versions with
    * [valid_from, valid_to) ranges and an is_current flag — the standard
    * slowly-changing-dimension load. One shuffle on user_id; the
    * change-detection lag and the validity lead/row_number share the same
    * partitioning (the second window runs on the filtered co-located rows).
    */
  private def scd2(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value")).cast("long").as("attr"))
      .withColumn("prev_attr", lag(col("attr"), 1).over(byUser))
      .where(col("prev_attr").isNull || col("attr") =!= col("prev_attr"))
      .select(col("user_id"),
        row_number().over(byUser).as("version"),
        col("attr"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(byUser).as("valid_to"),
        lead(col("ts"), 1).over(byUser).isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }
  private val scd2Sql =
    """SELECT user_id,
      |  CAST(row_number() OVER w AS INT) AS version, attr,
      |  ts AS valid_from,
      |  lead(ts) OVER w AS valid_to,
      |  lead(ts) OVER w IS NULL AS is_current
      |FROM (
      |  SELECT user_id, ts, event_id, attr,
      |    lag(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_attr
      |  FROM (SELECT user_id, ts, event_id,
      |          CAST(floor(value) AS BIGINT) AS attr
      |        FROM events WHERE event_type = 'signup') s) c
      |WHERE prev_attr IS NULL OR attr <> prev_attr
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Snapshot diff ([[TableDiff.diff]]): two deterministic key-sliced
    * versions of `orders` (v1 drops keys ≡0 mod 7; v2 drops ≡0 mod 5 and
    * doubles urgent-order prices in exact DECIMAL) reconciled into
    * added/removed/changed statuses by one full-outer join on the key.
    */
  private def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val v1 = o.where(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"),
        dec(col("o_totalprice")).cast("decimal(14,2)").as("price"),
        col("o_orderpriority").as("prio"))
    val v2 = o.where(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", dec(col("o_totalprice")) * 2)
          .otherwise(dec(col("o_totalprice"))).cast("decimal(14,2)").as("price"),
        col("o_orderpriority").as("prio"))
    TableDiff.diff(v1, v2, Seq("o_orderkey"))
      .where(col("status") =!= "unchanged")
      .orderBy(col("o_orderkey"))
  }
  private val tableDiffSql =
    """SELECT o_orderkey, status FROM (
      |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
      |         WHEN b.o_orderkey IS NULL THEN 'removed'
      |         WHEN a.price = b.price AND a.prio = b.prio THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(14,2)) AS price,
      |          o_orderpriority AS prio
      |        FROM orders WHERE o_orderkey % 7 <> 0) a
      |  FULL OUTER JOIN
      |       (SELECT o_orderkey,
      |          CASE WHEN o_orderpriority = '1-URGENT'
      |               THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
      |               ELSE CAST(o_totalprice AS DECIMAL(14,2)) END AS price,
      |          o_orderpriority AS prio
      |        FROM orders WHERE o_orderkey % 5 <> 0) b
      |  ON a.o_orderkey = b.o_orderkey) t
      |WHERE status <> 'unchanged'
      |ORDER BY o_orderkey""".stripMargin

  /** Fixed-point integer PageRank ([[Graph.pageRankFixedPoint]], 3
    * iterations) over the co-purchase graph: users who purchased in the
    * same 10-minute bucket are linked (both directions). Integer
    * micro-rank arithmetic makes the result bit-identical across engines
    * and partition counts; the oracle unrolls the three rounds as CTEs.
    */
  private def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRankFixedPoint(spark, edges, iters = 3)
      .orderBy(col("node"))
  }
  /** Personalized PageRank ([[Graph.personalizedPageRank]], 3 rounds,
    * 1e-9 probability ticks): the random walk teleports only to the
    * seed cohort (graph nodes ≡ 3 mod 10 — a deterministic ~10% user
    * cohort), producing "importance relative to THESE users" — the
    * seed-expansion / recommendation primitive gr01's global PageRank
    * cannot express (its scores are query-independent). Edge derivation
    * is lineage-cut ONCE in the query and shared by the node/seed
    * derivation and the loop. Oracle: the gr01-style per-round
    * materialized tower with the teleport term guarded by the seed
    * join — every step a truncating integer division on non-negative
    * values, so the 3-round trajectory is bit-identical cross-engine.
    */
  private def pprSeedExpand(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val edges = graft.operators.Dedup.ckpt(
      pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst"))))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val seeds = nodes.where(col("node") % 10 === 3)
    Graph.personalizedPageRank(spark, edges, seeds, iters = 3)
      .orderBy(col("node"))
  }
  private val pprSeedExpandSql =
    """WITH p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |             user_id AS u
      |           FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
      |e AS (SELECT src, dst FROM pairs
      |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |seeds AS (SELECT node FROM nodes WHERE node % 10 = 3),
      |k AS (SELECT count(*) AS c FROM seeds),
      |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      |r0 AS (SELECT n.node,
      |         CAST(CASE WHEN s.node IS NOT NULL
      |           THEN 1000000000 // (SELECT c FROM k) ELSE 0 END AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
      |m1 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r0 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.node,
      |         CAST(CASE WHEN s.node IS NOT NULL
      |             THEN 150000000 // (SELECT c FROM k) ELSE 0 END
      |           + (850 * COALESCE(m.mass, 0)) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node
      |         LEFT JOIN m1 m ON n.node = m.dst),
      |m2 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r1 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.node,
      |         CAST(CASE WHEN s.node IS NOT NULL
      |             THEN 150000000 // (SELECT c FROM k) ELSE 0 END
      |           + (850 * COALESCE(m.mass, 0)) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node
      |         LEFT JOIN m2 m ON n.node = m.dst),
      |m3 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r2 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.node,
      |         CAST(CASE WHEN s.node IS NOT NULL
      |             THEN 150000000 // (SELECT c FROM k) ELSE 0 END
      |           + (850 * COALESCE(m.mass, 0)) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node
      |         LEFT JOIN m3 m ON n.node = m.dst)
      |SELECT node, rank FROM r3 ORDER BY node""".stripMargin

  private val pageRankSql =
    """WITH p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |             user_id AS u
      |           FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
      |e AS (SELECT src, dst FROM pairs
      |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
      |m1 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r0 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.node,
      |         CAST(150000 + 850 * COALESCE(m.mass, 0) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN m1 m ON n.node = m.dst),
      |m2 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r1 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.node,
      |         CAST(150000 + 850 * COALESCE(m.mass, 0) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN m2 m ON n.node = m.dst),
      |m3 AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS mass
      |       FROM r2 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.node,
      |         CAST(150000 + 850 * COALESCE(m.mass, 0) // 1000 AS BIGINT) AS rank
      |       FROM nodes n LEFT JOIN m3 m ON n.node = m.dst)
      |SELECT node, rank FROM r3 ORDER BY node""".stripMargin

  /** HITS hubs/authorities (gr10 — [[Graph.hitsFixedPoint]], 3 rounds,
    * exact integer L∞-normalized fixed point) over the TIME-DIRECTED
    * co-purchase graph: within each 10-minute bucket, each purchaser
    * links to its next ≤16 bucket-mates by first-purchase time
    * (ties → user id) — influence flows from earlier to later
    * purchasers, and the successor cap keeps the edge derivation
    * node-linear (the gr09 verdict lesson applied from day one: no raw
    * quadratic pairing). Hubs (early purchasers whose followers are
    * authoritative) and authorities (late purchasers endorsed by strong
    * hubs) are genuinely different rankings on this asymmetric graph —
    * the two-sided centrality gr01's PageRank cannot express. The oracle
    * unrolls the three (authority, hub) half-rounds as CTEs with the
    * same integer normalization.
    */
  private val HitsCap = 16L
  private def hitsQ(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
      .select(window(col("ts"), "10 minutes")("start").as("b"),
        col("user_id").as("u"), col("ts"))
      .groupBy(col("b"), col("u")).agg(min(col("ts")).as("mt"))
    val ordered = byUser.groupBy(col("b"))
      .agg(sort_array(collect_list(struct(col("mt"), col("u")))).as("us"))
      .withColumn("n", size(col("us")))
    val idx = ordered
      .select(col("b"), col("n"), posexplode(col("us")).as(Seq("i", "s")))
      .select(col("b"), col("n"), col("i"), col("s.u").as("u"))
    val src = idx.where(col("i") < col("n") - 1)
      .select(col("b"), col("u").as("src"),
        explode(expr(s"sequence(i+1, least(i+$HitsCap, n-1))")).as("j"))
    val dst = idx.select(col("b"), col("i").as("j"), col("u").as("dst"))
    val edges = src.join(dst, Seq("b", "j")).select(col("src"), col("dst"))
      .distinct()
    Graph.hitsFixedPoint(spark, edges, iters = 3)
      .orderBy(col("node"))
  }
  private val hitsSql = {
    // MATERIALIZED at every round boundary: DuckDB inlines plain CTEs,
    // and the (score join → max → normalize) chain references each
    // predecessor twice — uninlined, the edge-derivation subtree
    // re-expands exponentially across the 6 half-rounds (OOM at sf1;
    // the gr09 oracle's lesson)
    def round(prev: String, out: String, joinEdge: String, emitEdge: String) =
      s"""${out}r AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(s.m, 0) AS BIGINT) AS raw
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.$emitEdge AS node, sum(p.score) AS m
         |    FROM e JOIN $prev p ON p.node = e.$joinEdge GROUP BY 1) s
         |  USING (node)),
         |${out}m AS (SELECT greatest(max(raw), 1) AS mx FROM ${out}r),
         |$out AS MATERIALIZED (
         |  SELECT node, (raw * 1048576) // (SELECT mx FROM ${out}m) AS score
         |  FROM ${out}r)""".stripMargin
    s"""WITH p AS (
       |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS b, user_id AS u,
       |    min(ts) AS mt
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
       |idx AS (
       |  SELECT b, u, row_number() OVER (PARTITION BY b ORDER BY mt, u) - 1 AS i
       |  FROM p),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.u AS src, c.u AS dst
       |  FROM idx a JOIN idx c
       |    ON a.b = c.b AND c.i > a.i AND c.i <= a.i + $HitsCap),
       |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1048576 AS BIGINT) AS score FROM nodes),
       |${round("h0", "a1", "src", "dst")},
       |${round("a1", "h1", "dst", "src")},
       |${round("h1", "a2", "src", "dst")},
       |${round("a2", "h2", "dst", "src")},
       |${round("h2", "a3", "src", "dst")},
       |${round("a3", "h3", "dst", "src")}
       |SELECT n.node, h.score AS hub, a.score AS auth
       |FROM nodes n JOIN h3 h ON h.node = n.node JOIN a3 a ON a.node = n.node
       |ORDER BY n.node""".stripMargin
  }

  /** OHLC time-bar downsampling: per (hour, event_type), the first/last/
    * max/min of `value` — the classic market-data resample, and the shape
    * every metrics pipeline uses to roll raw events into bars. `min_by`/
    * `max_by` are partial-aggregable (each partition keeps one candidate
    * per group, merged by ts order), so the exchange carries O(groups)
    * rows — no window, no sort. All outputs are comparisons of existing
    * doubles (no summation), so values are engine-exact. Determinism rides
    * on ts-uniqueness within each bar (true of the fixture at every SF);
    * with tie-prone data the ordering key becomes a composite scalar
    * (epoch_micros·2²⁰ + event_id) on both sides.
    */
  private def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(window(col("ts"), "1 hour")("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), col("ts")).as("open_v"),
        max_by(col("value"), col("ts")).as("close_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"))
      .orderBy(col("hour"), col("event_type"))
  private val ohlcBarsSql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type,
      |  count(*) AS n,
      |  arg_min(value, ts) AS open_v, arg_max(value, ts) AS close_v,
      |  max(value) AS high_v, min(value) AS low_v
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Peak-concurrency sweep line: per-(user, day) activity intervals
    * become ±1 boundary deltas; a running sum ordered by (t, start-first)
    * gives instantaneous concurrency, maxed per day. The classic
    * interval-overlap aggregation without an interval self-join — O(n)
    * deltas and ONE window pass, vs the O(n²) overlap join a naive
    * formulation pays. The sweep partitions by day (intervals are
    * day-contained by construction), so no global-order single-partition
    * window exists at scale; start-before-end at equal t (d DESC) pins
    * inclusive-boundary semantics, and the per-day max is invariant to
    * any remaining intra-tie order.
    */
  private def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables(spark, dir).events
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val deltas = iv.select(col("day"), col("s").as("t"), lit(1L).as("d"))
      .unionByName(iv.select(col("day"), col("e").as("t"), lit(-1L).as("d")))
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("running", sum(col("d")).over(w))
      .groupBy(col("day"))
      .agg(sum(when(col("d") === 1L, 1L)).as("n_sessions"),
        max(col("running")).as("peak"))
      .orderBy(col("day"))
  }
  private val concurrencySql =
    """WITH iv AS (SELECT user_id, date_trunc('day', ts) AS day,
      |              min(ts) AS s, max(ts) AS e
      |            FROM events GROUP BY 1, 2),
      |deltas AS (SELECT day, s AS t, 1 AS d FROM iv
      |           UNION ALL SELECT day, e AS t, -1 AS d FROM iv),
      |r AS (SELECT day, d, sum(d) OVER (PARTITION BY day ORDER BY t, d DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |      FROM deltas)
      |SELECT day, CAST(sum(CASE WHEN d = 1 THEN 1 END) AS BIGINT) AS n_sessions,
      |  CAST(max(running) AS BIGINT) AS peak
      |FROM r GROUP BY day ORDER BY day""".stripMargin

  /** Semi-structured props through the Spark-4 VARIANT type: parse_json →
    * binary variant column → typed `variant_get` path access (plus the
    * `try_variant_get` missing-path form). Unlike ev02's per-query string
    * extraction, the variant is the STORE-ONCE form — parse once at
    * ingest, then every downstream path access is a cheap binary-offset
    * read instead of a JSON re-parse, which is the 100 TB posture for
    * schema-on-read columns. Values and nulls are integers/counts —
    * engine-exact against DuckDB's JSON extraction.
    */
  private def variantProps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(col("m")).as("n_missing"))
      .orderBy(col("event_type"))
  private val variantPropsSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
      |  count(m) AS n_missing
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |        CAST(json_extract_string(props, '$.missing') AS BIGINT) AS m
      |      FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The gr03 BFS expressed as a SQL-surface RECURSIVE CTE — Spark 4's
    * native `WITH RECURSIVE` (the fixpoint loop runs inside the engine,
    * no driver iteration at all). The recursive member SELECTs DISTINCT
    * on purpose: a bare step accumulates the path MULTISET, which grows
    * combinatorially with graph density (at sf0.1 it blows past the
    * engine's 1M-row recursion guard; at 100 TB it is unrunnable on any
    * engine). Each iteration joins only the PREVIOUS step's rows, so the
    * per-step dedup caps every level at one (node, d) row per node —
    * working set ≤ nodes × depth — and `min(d)` over the walk is
    * identical, so the dedup is free semantically. (Distinct-UNION
    * recursion itself is unsupported in Spark 4.1; per-step DISTINCT
    * under UNION ALL is the portable spelling of the same bound.)
    * The `d < 4` guard bounds the walk; the oracle runs
    * the SAME recursion (modulo the 10-minute-bucket dialect spelling),
    * so both engines' recursive execution is compared end-to-end.
    */
  private def recursiveSql(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events.createOrReplaceTempView("events_gr04")
    spark.sql(
      """WITH RECURSIVE
        |p AS (SELECT DISTINCT
        |        timestamp_micros((unix_micros(ts) div 600000000) * 600000000) AS b,
        |        user_id AS u
        |      FROM events_gr04 WHERE event_type = 'purchase'),
        |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
        |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
        |e AS (SELECT src, dst FROM pairs
        |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 13 = 0),
        |walk AS (
        |  SELECT node, 0 AS d FROM seeds
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN e ON w.node = e.src WHERE w.d < 4)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY node""".stripMargin)
  }
  private val recursiveSqlOracle =
    """WITH RECURSIVE
      |p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |        user_id AS u
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
      |e AS (SELECT src, dst FROM pairs
      |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 13 = 0),
      |walk AS (
      |  SELECT node, 0 AS d FROM seeds
      |  UNION ALL
      |  SELECT DISTINCT e.dst AS node, w.d + 1 AS d
      |  FROM walk w JOIN e ON w.node = e.src WHERE w.d < 4)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** CDC latest-wins compaction: collapse an event log to one row per key
    * carrying the most recent payload — the materialize step of every
    * change-data-capture pipeline (upsert log → current table). One
    * `max_by` hash aggregate: each partition keeps a single candidate row
    * per key (map-side combine), the exchange carries O(keys) rows, and
    * no window/sort is involved — at 100 TB this is the difference
    * between compaction costing one shuffle of the key set vs a full
    * per-key sort of the log. Determinism: ts is unique per user in the
    * fixture (every SF); tie-prone logs order by a composite scalar
    * (epoch_micros·2²⁰ + seq) instead.
    */
  private def cdcLatest(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_changes"),
        max(col("ts")).as("last_ts"),
        max_by(col("event_type"), col("ts")).as("last_type"),
        max_by(col("value"), col("ts")).as("last_value"))
      .orderBy(col("user_id"))
  private val cdcLatestSql =
    """SELECT user_id, count(*) AS n_changes, max(ts) AS last_ts,
      |  arg_max(event_type, ts) AS last_type,
      |  arg_max(value, ts) AS last_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Bounded-hop shortest paths ([[Graph.hopDistances]], 4 hops) from the
    * seed users (user_id ≡ 0 mod 13) over the symmetrized co-purchase
    * graph. Hop distances are integers, so results are exactly comparable
    * across engines; the oracle is a recursive CTE whose UNION-dedup +
    * `d < 4` guard bounds the walk to the same ≤4-hop reachable set, with
    * `min(d)` recovering the BFS distance.
    */
  private def shortestPath(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val edges = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = edges.select(col("src").as("node"))
      .where(col("node") % 13 === 0).distinct()
    Graph.hopDistances(spark, edges, seeds, maxHops = 4)
      .orderBy(col("node"))
  }
  private val shortestPathSql =
    """WITH RECURSIVE
      |p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |        user_id AS u
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
      |e AS (SELECT src, dst FROM pairs
      |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 13 = 0),
      |walk AS (
      |  SELECT node, 0 AS d FROM seeds
      |  UNION
      |  SELECT e.dst AS node, w.d + 1 AS d
      |  FROM walk w JOIN e ON w.node = e.src WHERE w.d < 4)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Incremental aggregate-state maintenance ([[IncrementalAgg]]): the
    * events table is split at its time midpoint into "history" and "new
    * batch"; each half is reduced to per-(day, type) algebraic state
    * (n, decimal sum, min, max) and the two states are MERGED — raw
    * history is never re-read. The oracle recomputes from all raw rows,
    * so the judged equality IS the algebraic-maintenance law (merge of
    * partials ≡ full recompute), including on the split day, whose key
    * appears in both states and must combine.
    */
  private def aggStateMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val Array(loM, hiM) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = loM + (hiM - loM) / 2
    val keys = Seq("day", "event_type")
    def withDay(df: DataFrame) = df.withColumn("day", date_trunc("day", col("ts")))
    val hist  = IncrementalAgg.partial(
      withDay(ev.where(unix_micros(col("ts")) < mid)), keys, "value")
    val batch = IncrementalAgg.partial(
      withDay(ev.where(unix_micros(col("ts")) >= mid)), keys, "value")
    IncrementalAgg.merge(keys, hist, batch)
      .select(col("day"), col("event_type"), col("s_n").as("n"),
        col("s_sum").cast("double").as("total_value"),
        col("s_min").as("min_value"), col("s_max").as("max_value"))
      .orderBy(col("day"), col("event_type"))
  }
  private val aggStateMergeSql =
    """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Connected components of the co-purchase graph — the component/
    * community primitive completing the graph family (gr01 rank, gr02
    * triangles, gr03 BFS, gr04 recursive SQL): dd07's alternating
    * large/small-star contraction ([[graft.operators.Dedup.dupClusters]])
    * over the shared edge derivation, label = smallest member id, plus a
    * per-component size rollup. O(log² n) rounds of one hash shuffle
    * each, O(nodes+edges) state — the oracle instead materializes the
    * transitive CLOSURE (O(component²) rows) before aggregating, which is
    * exactly why star contraction is the 100 TB shape and the closure
    * is not.
    */
  private def components(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val nodes = pairs.select(col("src").as("node"))
      .union(pairs.select(col("dst").as("node"))).distinct()
    val labels = graft.operators.Dedup.dupClusters(pairs, nodes,
        idCol = "node", aCol = "src", bCol = "dst", pairsDistinct = true)
      .select(col("node"), col("cluster_id").as("component"))
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, "component")
      .select(col("node"), col("component"), col("comp_size"))
      .orderBy(col("node"))
  }
  private val componentsSql =
    """WITH RECURSIVE
      |p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |        user_id AS u
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
      |e AS (SELECT src, dst FROM pairs
      |      UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |r(s, t) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.s, e.dst FROM r JOIN e ON r.t = e.src),
      |lab AS (SELECT s AS node, least(s, min(t)) AS component
      |        FROM r GROUP BY s),
      |sizes AS (SELECT component, count(*) AS comp_size FROM lab
      |          GROUP BY component)
      |SELECT node, component, comp_size
      |FROM lab JOIN sizes USING (component)
      |ORDER BY node""".stripMargin

  /** Per-time-bucket co-purchase pairs (src < dst, distinct) — the shared
    * edge derivation of gr01/gr02.
    *
    * Shape: ONE shuffle (groupBy bucket, collect_set dedups users map-side)
    * followed by a map-side double-explode pair expansion, then the distinct
    * over pairs — two exchanges total. The naive form (distinct users, self-
    * join on bucket, distinct pairs) costs four: the per-(bucket,user)
    * distinct, BOTH self-join sides re-hashed on bucket, and the pair
    * distinct. Output volume is identical (quadratic in users-per-bucket
    * either way); the difference is where the expansion runs — here it's
    * in-task over a per-bucket array, so the skew bound is users in one
    * 10-minute bucket (a per-task memory bound, not a hot-key shuffle).
    * Past that bound (a viral bucket with millions of distinct users) the
    * self-join form with bucket salting is the fallback — [[Skew.saltedJoin]]
    * exists for exactly that regime.
    */
  private def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val byBucket = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
      .select(window(col("ts"), "10 minutes")("start").as("b"),
        col("user_id").as("u"))
      .groupBy(col("b")).agg(collect_set(col("u")).as("us"))
    byBucket
      .select(explode(col("us")).as("src"), col("us"))
      .select(col("src"), explode(col("us")).as("dst"))
      .where(col("src") < col("dst"))
      .distinct()
  }

  /** gr09's successor cap: within a bucket each user pairs with its next
    * `PairCap` bucket-mates in ascending user order. */
  private val PairCap = 16L

  /** BOUNDED per-bucket co-purchase pairs (verdict finding r10): the
    * all-pairs derivation above is quadratic in users-per-bucket —
    * measured ~120× edge growth for 10× rows at sf1 (5.57 M pairs), a
    * scale-killer at 100× even when everything DOWNSTREAM is linear.
    * This form replaces each bucket's clique with the `PairCap`-th power
    * of the sorted-user path: every user pairs with its next
    * min(PairCap, remaining) bucket-mates in ascending user order.
    * Per-bucket edges drop from |us|²/2 to ≤ PairCap·|us| — NODE-LINEAR
    * overall — while buckets stay exactly one connected unit (consecutive
    * users are always chained), which is the property label propagation
    * actually consumes; and a bucket with ≤ PairCap+1 users keeps its
    * FULL clique, so sparse regimes are bit-identical to all-pairs.
    * Deterministic by construction (user ids are distinct within a
    * bucket, so the sort order is total) and mirrored exactly in the
    * oracle via row_number ties to the same ascending-u order.
    *
    * Shape: the expansion emits successor INDICES map-side (explode of a
    * bounded sequence — never a quadratic intermediate), then ONE
    * (bucket, index) equi-join hangs the destination user on each index;
    * both sides are node-linear, so the join shuffles O(PairCap·n) rows.
    */
  private def coPurchasePairsCapped(spark: SparkSession, dir: String): DataFrame = {
    val byBucket = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
      .select(window(col("ts"), "10 minutes")("start").as("b"),
        col("user_id").as("u"))
      .groupBy(col("b")).agg(sort_array(collect_set(col("u"))).as("us"))
      .withColumn("n", size(col("us")))
    val idx = byBucket.select(col("b"), col("n"),
      posexplode(col("us")).as(Seq("i", "u")))
    val src = idx.where(col("i") < col("n") - 1)
      .select(col("b"), col("u").as("src"),
        explode(expr(s"sequence(i+1, least(i+$PairCap, n-1))")).as("j"))
    val dst = idx.select(col("b"), col("i").as("j"), col("u").as("dst"))
    src.join(dst, Seq("b", "j"))
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** Triangle count over the undirected co-purchase graph, by the ordered-
    * edge enumeration: with every edge stored once as (src < dst), each
    * triangle a<b<c is found exactly once as (a,b)⋈(b,c)⋈(a,c) — two
    * equi-joins over the ordered edge list, no direction blow-up, no
    * dedup pass. (The full degree-ordering optimization additionally
    * re-orders vertices by degree so high-degree hubs sit on the join's
    * small side; with id-ordering the shape — and the count — is
    * identical.) The heavy object is the one-column join keys; edge
    * payloads never widen.
    */
  private def triangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val ab = pairs.select(col("src").as("a"), col("dst").as("b"))
    val bc = pairs.select(col("src").as("b2"), col("dst").as("c"))
    val ac = pairs.select(col("src").as("a3"), col("dst").as("c3"))
    ab.join(bc, col("b") === col("b2"))
      .join(ac, col("a") === col("a3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
  }
  private val trianglesSql =
    """WITH p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
      |             user_id AS u
      |           FROM events WHERE event_type = 'purchase'),
      |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
      |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u)
      |SELECT count(*) AS n_triangles
      |FROM pairs e1 JOIN pairs e2 ON e1.dst = e2.src
      |  JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin

  /** MERGE / upsert ([[Merge.upsert]]): a deterministic change feed —
    * updates (key % 13), deletes (% 17), inserts (negated keys), plus two
    * noise classes that exercise the ignore rules (an INSERT whose key
    * already exists must keep the base row; an UPDATE whose key doesn't
    * exist must do nothing) — applied to the orders snapshot in one
    * full-outer join. The oracle replays the same feed with an explicit
    * CASE; a dropped base row, leaked ghost update, or double-applied
    * insert changes the row set and hash-mismatches.
    */
  private def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val k = col("o_orderkey")
    val upd = o.where(k % 13 === 0)
      .select(k.as("o_orderkey"), lit("U").as("op"), col("o_custkey"),
        lit("U+").as("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
    val del = o.where(k % 17 === 3 && k % 13 =!= 0)
      .select(k.as("o_orderkey"), lit("D").as("op"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val ins = o.where(k % 19 === 5)
      .select((k * -1).as("o_orderkey"), lit("I").as("op"), col("o_custkey"),
        lit("NEW").as("o_orderstatus"), col("o_totalprice"))
    val insMatched = o.where(k % 29 === 11 && k % 17 =!= 3 && k % 13 =!= 0)
      .select(k.as("o_orderkey"), lit("I").as("op"), col("o_custkey"),
        lit("XX").as("o_orderstatus"), lit(0.0).as("o_totalprice"))
    val updUnmatched = o.where(k % 23 === 7)
      .select((k * -1 - 1000000000L).as("o_orderkey"), lit("U").as("op"),
        col("o_custkey"), lit("GHOST").as("o_orderstatus"),
        col("o_totalprice"))
    val changes = upd.unionAll(del).unionAll(ins)
      .unionAll(insMatched).unionAll(updUnmatched)
    graft.operators.Merge.upsert(o, changes, Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }
  private val mergeUpsertSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      |changes AS (
      |  SELECT o_orderkey, 'U' AS op, o_custkey, 'U+' AS o_orderstatus,
      |    o_totalprice + 1.0 AS o_totalprice FROM base WHERE o_orderkey % 13 = 0
      |  UNION ALL SELECT o_orderkey, 'D', o_custkey, o_orderstatus, o_totalprice
      |    FROM base WHERE o_orderkey % 17 = 3 AND o_orderkey % 13 <> 0
      |  UNION ALL SELECT -o_orderkey, 'I', o_custkey, 'NEW', o_totalprice
      |    FROM base WHERE o_orderkey % 19 = 5
      |  UNION ALL SELECT o_orderkey, 'I', o_custkey, 'XX', 0.0
      |    FROM base WHERE o_orderkey % 29 = 11 AND o_orderkey % 17 <> 3 AND o_orderkey % 13 <> 0
      |  UNION ALL SELECT -o_orderkey - 1000000000, 'U', o_custkey, 'GHOST', o_totalprice
      |    FROM base WHERE o_orderkey % 23 = 7),
      |m AS (
      |  SELECT b.o_orderkey AS bk, b.o_custkey AS bc, b.o_orderstatus AS bs,
      |    b.o_totalprice AS bp, c.o_orderkey AS ck, c.op, c.o_custkey AS cc,
      |    c.o_orderstatus AS cs, c.o_totalprice AS cp
      |  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey)
      |SELECT coalesce(bk, ck) AS o_orderkey,
      |  CASE WHEN (op = 'U' AND bk IS NOT NULL) OR (op = 'I' AND bk IS NULL)
      |    THEN cc ELSE bc END AS o_custkey,
      |  CASE WHEN (op = 'U' AND bk IS NOT NULL) OR (op = 'I' AND bk IS NULL)
      |    THEN cs ELSE bs END AS o_orderstatus,
      |  CASE WHEN (op = 'U' AND bk IS NOT NULL) OR (op = 'I' AND bk IS NULL)
      |    THEN cp ELSE bp END AS o_totalprice
      |FROM m
      |WHERE op IS NULL OR op = 'I' OR (op = 'U' AND bk IS NOT NULL)
      |ORDER BY o_orderkey""".stripMargin

  /** Bounded-horizon EWMA smoothing (α = 0.3 over the trailing 16 events
    * per user): the standard recursive filter `e ← 0.7·e + 0.3·x`, applied
    * over a ROWS-bounded frame so memory per row is O(16) and the state
    * never depends on unbounded history — the form that survives 100 TB
    * (an unbounded recursive EWMA is a sequential scan per user; the
    * bounded horizon is a sliding frame over one hash exchange + one
    * in-partition sort). Cross-engine parity: both sides fold the SAME
    * frame-ordered list left-to-right with the SAME IEEE double ops
    * (`aggregate` here, `list_reduce` in DuckDB), so the result is
    * bit-identical regardless of partitioning — no decimal quantization
    * needed. Frame order is total (ts, event_id).
    */
  private def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, Window.currentRow)
    Tables(spark, dir).events
      // value IS NOT NULL on BOTH engine sides: collect_list silently
      // drops NULLs while the oracle's list() keeps them (ADVICE r7) —
      // without the filter a null-valued purchase diverges the engines
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
        collect_list(col("value")).over(w).as("hist"))
      .select(col("event_id"), col("user_id"), col("value"),
        aggregate(col("hist"), lit(0.0),
          (acc, x) => acc * lit(0.7) + lit(0.3) * x).as("ewma16"))
      .orderBy(col("event_id"))
  }
  private val ewmaSmoothSql =
    """SELECT event_id, user_id, value,
      |  list_reduce(list_prepend(0.0::DOUBLE, hist),
      |              (acc, x) -> acc * 0.7::DOUBLE + 0.3::DOUBLE * x) AS ewma16
      |FROM (
      |  SELECT event_id, user_id, value,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS hist
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL) t
      |ORDER BY event_id""".stripMargin

  /** Trailing median/MAD anomaly flags: each error event is scored against
    * the ROBUST statistics of its user's previous ≤20 error values
    * (median + median-absolute-deviation — outlier-resistant where the
    * trailing mean/σ is not), flagged when |x − med| > 3·MAD. Same
    * scale/parity shape as [[ewmaSmooth]]: one hash exchange, bounded
    * O(20) frame, and every arithmetic step (array_sort of identical
    * doubles, 1-based middle-element picks via integer `div`, one IEEE
    * add/divide for even frames) is performed identically by both
    * engines, so med/mad/flag are bit-exact with no decimal detour.
    * Rows with fewer than 8 trailing observations are withheld (cold
    * start), matching the oracle's `len(hist) >= 8`.
    */
  private def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    Tables(spark, dir).events
      // same NULL contract as ewmaSmooth (collect_list vs list())
      .where(col("event_type") === "error" && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"),
        array_sort(collect_list(col("value")).over(w)).as("hist"))
      .withColumn("n", size(col("hist")))
      .where(col("n") >= 8)
      .withColumn("med", expr(
        """CASE WHEN n % 2 = 1 THEN element_at(hist, int((n + 1) div 2))
          |ELSE (element_at(hist, int(n div 2)) + element_at(hist, int(n div 2 + 1))) / 2.0
          |END""".stripMargin))
      .withColumn("devs", expr("array_sort(transform(hist, x -> abs(x - med)))"))
      .withColumn("mad", expr(
        """CASE WHEN n % 2 = 1 THEN element_at(devs, int((n + 1) div 2))
          |ELSE (element_at(devs, int(n div 2)) + element_at(devs, int(n div 2 + 1))) / 2.0
          |END""".stripMargin))
      .select(col("event_id"), col("user_id"), col("value"), col("med"), col("mad"),
        when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1)
          .otherwise(0).as("is_outlier"))
      .orderBy(col("event_id"))
  }
  private val madOutliersSql =
    """WITH h AS (
      |  SELECT event_id, user_id, value,
      |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) AS hist
      |  FROM events WHERE event_type = 'error' AND value IS NOT NULL),
      |m AS (
      |  SELECT event_id, user_id, value, hist, len(hist) AS n,
      |    CASE WHEN len(hist) % 2 = 1 THEN hist[(len(hist) + 1) // 2]
      |         ELSE (hist[len(hist) // 2] + hist[len(hist) // 2 + 1]) / 2.0::DOUBLE
      |    END AS med
      |  FROM h WHERE len(hist) >= 8),
      |d AS (
      |  SELECT event_id, user_id, value, med, n,
      |    list_sort(list_transform(hist, x -> abs(x - med))) AS devs
      |  FROM m),
      |f AS (
      |  SELECT event_id, user_id, value, med,
      |    CASE WHEN n % 2 = 1 THEN devs[(n + 1) // 2]
      |         ELSE (devs[n // 2] + devs[n // 2 + 1]) / 2.0::DOUBLE
      |    END AS mad
      |  FROM d)
      |SELECT event_id, user_id, value, med, mad,
      |  CASE WHEN abs(value - med) > 3.0::DOUBLE * mad THEN 1 ELSE 0 END AS is_outlier
      |FROM f ORDER BY event_id""".stripMargin

  /** Align two irregular series by LINEAR INTERPOLATION: each error event
    * gets the purchase-value series evaluated at its own instant —
    * `pv + (nv − pv)·(t − pt)/(nt − pt)` between the last purchase at-or-
    * before and the first at-or-after (the bidirectional sibling of ev04's
    * backward-only as-of join; ev10's gap-fill forward-fills a regular
    * spine instead). One union'd pass: both series share a single
    * user-hash exchange, anchors propagate via frame-anchored
    * first/last IGNORE NULLS (q53's cross-engine-safe form), and the
    * interpolation is one identical IEEE expression per side — timestamps
    * compared as exact epoch-microsecond BIGINTs (30 days ≪ 2⁵³, so the
    * one double division is exact-operand). Boundary rows (no anchor on
    * one side) are withheld; same-instant anchors short-circuit to `pv`.
    */
  private def linearInterp(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .where(col("event_type").isin("purchase", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("value"))
    // (t, value) travel TOGETHER in one struct anchor: two independent
    // IGNORE-NULLS scans could pair the value of one purchase with the
    // timestamp of a later null-valued one; null-valued purchases are
    // therefore not anchors at all
    val anchor = when(
      col("event_type") === "purchase" && col("value").isNotNull,
      struct(col("t").as("at"), col("value").as("av")))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd  = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("pa", last(anchor, ignoreNulls = true).over(back))
      .withColumn("na", first(anchor, ignoreNulls = true).over(fwd))
      .where(col("event_type") === "error" &&
        col("pa").isNotNull && col("na").isNotNull)
      .select(col("event_id"), col("user_id"),
        when(col("na.at") === col("pa.at"), col("pa.av")).otherwise(
          col("pa.av") + (col("na.av") - col("pa.av")) *
            ((col("t") - col("pa.at")).cast("double") /
              (col("na.at") - col("pa.at")).cast("double"))).as("interp_value"))
      .orderBy(col("event_id"))
  }
  private val linearInterpSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |w AS (
      |  SELECT event_id, user_id, event_type, t,
      |    last_value(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
      |                    THEN {'at': t, 'av': value} END IGNORE NULLS)
      |      OVER back AS pa,
      |    first_value(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
      |                     THEN {'at': t, 'av': value} END IGNORE NULLS)
      |      OVER fwd AS na
      |  FROM ev
      |  WINDOW back AS (PARTITION BY user_id ORDER BY t, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         fwd AS (PARTITION BY user_id ORDER BY t, event_id
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id,
      |  CASE WHEN na.at = pa.at THEN pa.av
      |       ELSE pa.av + (na.av - pa.av) *
      |            (CAST(t - pa.at AS DOUBLE) / CAST(na.at - pa.at AS DOUBLE))
      |  END AS interp_value
      |FROM w
      |WHERE event_type = 'error' AND pa IS NOT NULL AND na IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** Time-weighted average value per (event_type, hour) — TWAP, the
    * piecewise-constant integral the OHLC (ev23) / gap-fill (ev10) /
    * interpolation (ev34) family was missing: each event's value is HELD
    * over [t, next event's t) within its own (user, type) series (the
    * per-user state-timeline semantics), the held interval is split at
    * hour boundaries, and each hour's TWAP is Σ value·dur / Σ dur across
    * all users' pieces — "what was the average held value this hour",
    * robust to irregular event spacing where a plain AVG over-weights
    * bursts.
    *
    * Determinism: durations are exact epoch-µs BIGINTs, values become
    * integer CENTS (round(value·100) — exact for the 2-decimal domain;
    * both engines compute the identical double product and round), the
    * integral accumulates as BIGINT cents·µs (order-free), and the
    * reported TWAP is the integral's INTEGER division by the covered
    * duration — cents precision, bit-exact, no decimal→double rounding
    * anywhere (a DECIMAL(38) integral cast to DOUBLE diverged between
    * engines by 1 ulp once sums crossed 2⁵³ — the first formulation's
    * measured failure at sf0.1). Headroom: cents·µs·rows stays far
    * inside BIGINT for any realistic hour (≈10¹⁷ at sf1); an engine
    * pushing that bound accumulates in DECIMAL(38,0) instead. Scale shape:
    * the only exchange is the (user, type) window partition — series
    * cardinality = users × types, so parallelism grows with the data
    * (a 5-series key would serialize; the per-user timeline is both the
    * right semantics and the right partitioning); hour pieces explode at
    * most (hours spanned) rows per event, bounded by the fixture's
    * 30-day span; the rollup is map-side combinable.
    */
  private def twap(spark: SparkSession, dir: String): DataFrame = {
    val H = 3600000000L
    val ev = Tables(spark, dir).events
      .where(col("value").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("value"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    ev.withColumn("nxt", lead(col("t"), 1).over(w))
      .where(col("nxt").isNotNull && col("nxt") > col("t"))
      .select(col("event_type"), col("value"), col("t"), col("nxt"),
        explode(expr(s"sequence(t div ${H}L, (nxt - 1) div ${H}L)")).as("h"))
      .select(col("event_type"), col("value"), col("h"),
        (least(col("nxt"), (col("h") + 1) * H) -
          greatest(col("t"), col("h") * H)).as("dur"))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(round(col("value") * 100).cast("long") * col("dur")).as("w_sum"),
        sum(col("dur")).as("dur_us"))
      .select(col("event_type"),
        timestamp_micros(col("h") * H).as("hour_start"),
        col("dur_us"),
        expr("w_sum div dur_us").as("twap_cents"))
      .orderBy(col("event_type"), col("hour_start"))
  }
  private val twapSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t, value
      |  FROM events WHERE value IS NOT NULL),
      |held AS (
      |  SELECT event_type, value, t,
      |    lead(t) OVER (PARTITION BY user_id, event_type
      |                  ORDER BY t, event_id) AS nxt
      |  FROM ev),
      |pieces AS (
      |  SELECT event_type, value, t, nxt,
      |    unnest(generate_series(t // 3600000000, (nxt - 1) // 3600000000)) AS h
      |  FROM held WHERE nxt IS NOT NULL AND nxt > t),
      |durs AS (
      |  SELECT event_type, h, value,
      |    least(nxt, (h + 1) * 3600000000) - greatest(t, h * 3600000000) AS dur
      |  FROM pieces)
      |SELECT event_type, make_timestamp(h * 3600000000) AS hour_start,
      |  CAST(sum(dur) AS BIGINT) AS dur_us,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT) * dur) AS BIGINT)
      |    // CAST(sum(dur) AS BIGINT) AS twap_cents
      |FROM durs GROUP BY event_type, h
      |ORDER BY event_type, hour_start""".stripMargin

  /** 3-core of the co-purchase graph ([[Graph.kCore]], 8 fixed peeling
    * rounds — GraphSpec asserts the fixture converges well inside 8, so
    * the judged rows ARE the true core): the standard "dense cohesion"
    * graph analytic completing the family (gr01 rank, gr02 triangles,
    * gr03 distance, gr04 recursion, gr05 components). The oracle unrolls
    * the same 8 peels as CTE rounds; both sides run the identical count,
    * so the gate is deterministic by construction.
    */
  private def kCoreQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    Graph.kCore(spark, edges, k = 3, rounds = 8)
      .orderBy(col("node"))
  }
  private val kCoreSql = {
    // MATERIALIZED: each round references its predecessor three times —
    // inlined CTEs would re-expand the tower into 3^8 base-table scans
    def round(i: Int): String =
      s"""k$i AS MATERIALIZED (
         |  SELECT src AS node FROM e${i - 1} GROUP BY src HAVING count(*) >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)""".stripMargin
    val rounds = (1 to 8).map(round).mkString(",\n")
    s"""WITH p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
       |             user_id AS u
       |           FROM events WHERE event_type = 'purchase'),
       |pairs AS (SELECT DISTINCT a.u AS src, b.u AS dst
       |          FROM p a JOIN p b ON a.b = b.b AND a.u < b.u),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM pairs
       |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
       |$rounds
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e8 GROUP BY src ORDER BY node""".stripMargin
  }

  /** Community detection over the co-purchase BACKBONE
    * ([[Graph.labelPropagation]], 4 fixed synchronous rounds, min-label
    * ties): the "who shops together" analytic gr05's components can't
    * answer — one connected component resolves into several locally-
    * dense communities. The deterministic fixed-round variant is a pure
    * function of the edge set, so the oracle unrolls the identical 4
    * vote/arg-max rounds as CTEs and the gate is exact by construction
    * (the randomized original — coin-flip ties, asynchronous updates —
    * could never be cross-engine gated).
    *
    * Why the backbone: the RAW co-purchase graph is quadratic in
    * users-per-bucket (46k pairs at sf0.1, 5.6M at sf1 — ~120× for 10×
    * rows) and dense enough that synchronous LPA degenerates into one
    * global label epidemic (measured: 1 community over 1500/15000 nodes
    * at sf0.1/sf1) — the textbook dense-graph failure mode. The standard
    * practitioner fix is propagating over a k-nearest-neighbour
    * backbone: per node keep the 10 strongest co-purchase partners
    * (co-occurrence count DESC, partner id ASC as the total-order
    * tie-break), then OR-symmetrize. The per-node selection is
    * [[graft.plans.TopKPerKey]] — the custom two-phase heap operator,
    * reused here exactly where a window row_number would sort the full
    * quadratic pair set — and the surviving edge set is O(nodes·k),
    * NODE-LINEAR: the one graph query in the suite whose edge volume no
    * longer inherits the pair explosion, which is the shape you want
    * before running ANY multi-round propagation at 100 TB (measured:
    * sf1 11.6 s on the raw graph → 5.9 s on the backbone).
    *
    * Measured structure: 12 communities / 149 nodes at sf0.01, 3 / 1500
    * at sf0.1, 539 / 15000 at sf1. The fixture's co-purchases are
    * UNIFORM random, so the graph is Erdős–Rényi-like with no planted
    * communities — where the backbone stays dense relative to n
    * (sf0.1, mean support 1, the top-10 cap barely binds) LPA correctly
    * converges toward one giant label, and gr08's modularity ≈ 0 /
    * negative CERTIFIES that absence of structure rather than
    * hallucinating some; at sf1 the cap binds hard and locally-dense
    * pockets survive as real communities. GraphSpec's two-triangle and
    * brute-force-parity tests pin the planted-structure behavior.
    */
  private def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val labels = Graph.labelPropagation(spark,
      coPurchaseBackbone(spark, dir), rounds = 4)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("comm_size"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"), col("comm_size"))
      .orderBy(col("node"))
  }

  /** Top-10-per-node co-purchase backbone, OR-symmetrized, bidirectional
    * — the shared edge derivation of gr07/gr08. See [[labelProp]] for
    * the rationale.
    */
  private def coPurchaseBackbone(spark: SparkSession, dir: String): DataFrame = {
    val byBucket = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
      .select(window(col("ts"), "10 minutes")("start").as("b"),
        col("user_id").as("u"))
      .groupBy(col("b")).agg(collect_set(col("u")).as("us"))
    val sup = byBucket
      .select(explode(col("us")).as("src"), col("us"))
      .select(col("src"), explode(col("us")).as("dst"))
      .where(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("sup"))
    val directed = sup.union(
      sup.select(col("dst").as("src"), col("src").as("dst"), col("sup")))
    val kept = graft.plans.TopKPerKey.perKey(directed,
        Seq("src"), Seq(("sup", true), ("dst", false)), 10)
      .select(col("src"), col("dst"))
    kept.union(kept.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }
  /** Shared oracle prelude for gr07/gr08: the top-10-per-node backbone
    * (row_number is the oracle's spelling of TopKPerKey) and the 4
    * MATERIALIZED label-frontier rounds — each round references its
    * predecessor once per vote join, and inlined CTEs would re-expand
    * the whole tower per reference.
    */
  private val lpaOracleTower: String = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT e.src AS node, l.label, count(*) AS cnt
         |  FROM e0 e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY e.src, l.label),
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |                         ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    val rounds = (1 to 4).map(round).mkString(",\n")
    s"""p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
       |        user_id AS u
       |      FROM events WHERE event_type = 'purchase'),
       |s AS (SELECT a.u AS src, b.u AS dst, count(*) AS sup
       |      FROM p a JOIN p b ON a.b = b.b AND a.u < b.u
       |      GROUP BY a.u, b.u),
       |d AS (SELECT src, dst, sup FROM s
       |      UNION ALL SELECT dst AS src, src AS dst, sup FROM s),
       |kept AS (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src
       |                         ORDER BY sup DESC, dst ASC) AS rn
       |    FROM d) WHERE rn <= 10),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM kept
       |    UNION ALL SELECT dst AS src, src AS dst FROM kept)),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM e0),
       |$rounds""".stripMargin
  }

  private val labelPropSql =
    s"""WITH $lpaOracleTower,
       |sizes AS (SELECT label, count(*) AS comm_size FROM l4 GROUP BY label)
       |SELECT l4.node, l4.label AS community, sizes.comm_size
       |FROM l4 JOIN sizes ON l4.label = sizes.label
       |ORDER BY node""".stripMargin

  /** Hub-capped community detection over the RAW co-purchase graph
    * ([[Graph.labelPropagationHubCapped]], 4 synchronous rounds, voters
    * capped at the AUTO exact-p90 degree) — gr07's documented
    * dense-graph story WITHOUT the backbone preprocessing: plain
    * synchronous LPA on this graph degenerates to one global label
    * epidemic (measured and recorded at gr07), because bucket-mates of
    * everyone re-broadcast the minimum label each round; capping who may
    * VOTE (hubs still receive labels, they just stop spreading them)
    * lets locally-dense pockets survive — measured: 15 communities /
    * 149 nodes at sf0.01 (cap 9), 8 / 1500 at sf0.1 (cap 85) where
    * plain LPA finds exactly 1. The oracle unrolls the identical
    * degree-histogram cap / capped vote / zero-self-vote / arg-max
    * rounds as CTEs, so the gate is exact by construction.
    *
    * Scale note (verdict finding r10): the raw ALL-pairs expansion is
    * quadratic in users-per-bucket (~120× edges for 10× rows at sf1) —
    * the one remaining scale-killer in this query's lineage even though
    * propagation itself is linear per edge. The input here is therefore
    * [[coPurchasePairsCapped]]: per-(bucket,user) successor cap at
    * `PairCap`, node-linear edge volume, exact clique below the cap.
    * The "skipped the backbone AND the cap" regime remains available via
    * [[coPurchasePairs]]; at 100 TB prefer the gr07 backbone.
    */
  private def labelPropHubCap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairsCapped(spark, dir)
    val edges = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Graph.labelPropagationHubCapped(spark, edges,
      rounds = 4, hubCap = 0L) // ≤ 0 = auto exact-p90 cap
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("comm_size"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"), col("comm_size"))
      .orderBy(col("node"))
  }
  private val labelPropHubCapSql: String = {
    def round(i: Int): String =
      s"""c$i AS (
         |  SELECT e.src AS node, l.label, count(*) AS cnt
         |  FROM ecap e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY e.src, l.label),
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |                         ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT node, label, cnt FROM c$i
         |          UNION ALL
         |          SELECT node, label, 0 AS cnt FROM l${i - 1})) WHERE rn = 1)""".stripMargin
    val rounds = (1 to 4).map(round).mkString(",\n")
    s"""WITH p AS (SELECT DISTINCT time_bucket(INTERVAL '10 minutes', ts) AS b,
       |        user_id AS u
       |      FROM events WHERE event_type = 'purchase'),
       |r AS (SELECT b, u,
       |        row_number() OVER (PARTITION BY b ORDER BY u) - 1 AS i
       |      FROM p),
       |pairs AS (SELECT DISTINCT a.u AS src, c.u AS dst
       |          FROM r a JOIN r c
       |          ON a.b = c.b AND c.i > a.i AND c.i <= a.i + $PairCap),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM pairs
       |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
       |deg AS (SELECT src AS nd, count(*) AS d FROM e0 GROUP BY src),
       |nn AS (SELECT count(*) AS n_nodes FROM deg),
       |dh AS (SELECT d, count(*) AS c FROM deg GROUP BY d),
       |capv AS (
       |  SELECT min(d) AS cap FROM (
       |    SELECT d, sum(c) OVER (ORDER BY d) AS cum FROM dh) CROSS JOIN nn
       |  WHERE 10 * cum >= 9 * n_nodes),
       |ecap AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM e0 e JOIN deg ON e.dst = deg.nd
       |  CROSS JOIN capv WHERE deg.d <= capv.cap),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM e0),
       |$rounds,
       |sizes AS (SELECT label, count(*) AS comm_size FROM l4 GROUP BY label)
       |SELECT l4.node, l4.label AS community, sizes.comm_size
       |FROM l4 JOIN sizes ON l4.label = sizes.label
       |ORDER BY node""".stripMargin
  }

  /** Newman modularity of gr07's communities (Newman & Girvan 2004), in
    * EXACT integer arithmetic: the standard per-community form
    * Q = Σ_c (e_c/m − (d_c/2m)²) is reported as the integer numerator
    * q_num = Q·(2m)² per community — with bidirectional edges,
    * 2m = directed edge count and e2_c = directed intra-community count
    * (= 2·e_c), so q_num = 2m·e2_c − d_c², all BIGINT, no division and
    * no floats anywhere, hence bit-exact across engines. A positive Σ
    * q_num says the partition beats random wiring — the acceptance
    * metric every community detector is judged by, here gating gr07's
    * output itself. Headroom: d_c ≤ 2m, so terms stay inside BIGINT up
    * to ~3·10⁹ directed edges; past that (the 100 TB co-purchase graph)
    * the same query accumulates in DECIMAL(38,0).
    *
    * Scale shape: two node-sized joins hang the community label on each
    * edge endpoint (the label table is node-sized; AQE broadcasts it
    * while it fits and reverts beyond), the three rollups are map-side
    * combinable, and 2m arrives as a broadcast ONE-ROW aggregate cross
    * join — no scalar ever returns to the driver.
    */
  private def modularity(spark: SparkSession, dir: String): DataFrame = {
    // the backbone is referenced THREE times below (propagation, degrees,
    // intra-edge count) — without the lineage cut the whole derivation
    // including the quadratic support rollup re-executes per reference
    // (measured: 4.2 s → 2.9 s at sf0.1); labelPropagation's first
    // action materializes the cut blocks for the other two
    val edges = graft.operators.Dedup.ckpt(coPurchaseBackbone(spark, dir))
    val labels = Graph.labelPropagation(spark, edges, rounds = 4)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val degc = deg.join(labels, "node")
      .groupBy(col("label")).agg(sum(col("deg")).as("degree_sum"))
    val ls = labels.select(col("node").as("src"), col("label").as("ls"))
    val ld = labels.select(col("node").as("dst"), col("label").as("ld"))
    val intra = edges.join(ls, "src").join(ld, "dst")
      .where(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("e2_c"))
    val m2 = edges.agg(count(lit(1)).as("m2"))
    degc.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label").as("community"),
        coalesce(col("e2_c"), lit(0L)).as("intra_halfedges"),
        col("degree_sum"),
        (col("m2") * coalesce(col("e2_c"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num"))
      .orderBy(col("community"))
  }
  private val modularitySql =
    s"""WITH $lpaOracleTower,
       |deg AS (SELECT src AS node, count(*) AS deg FROM e0 GROUP BY src),
       |degc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS degree_sum
       |         FROM deg d JOIN l4 l ON d.node = l.node GROUP BY l.label),
       |intra AS (SELECT a.label, count(*) AS e2_c
       |          FROM e0 e JOIN l4 a ON e.src = a.node
       |                    JOIN l4 b ON e.dst = b.node
       |          WHERE a.label = b.label GROUP BY a.label),
       |m2 AS (SELECT count(*) AS m2 FROM e0)
       |SELECT degc.label AS community,
       |  CAST(COALESCE(intra.e2_c, 0) AS BIGINT) AS intra_halfedges,
       |  degc.degree_sum,
       |  CAST(m2.m2 * COALESCE(intra.e2_c, 0)
       |       - degc.degree_sum * degc.degree_sum AS BIGINT) AS q_num
       |FROM degc LEFT JOIN intra ON degc.label = intra.label
       |CROSS JOIN m2
       |ORDER BY community""".stripMargin

  /** Single-pass pipeline counters via `Dataset.observe` (Catalyst's
    * CollectMetrics): a cleaning pass over events — drop `error` rows and
    * out-of-range values — where the admission counters (rows in, rows
    * dropped per reason, rows kept, kept value mass) are accumulated ON
    * the one pass that materializes the kept rows, not by re-scanning.
    * At 100 TB this is the difference between "write the clean table"
    * and "write the clean table, then scan 100 TB four more times for
    * the data-quality dashboard": observe rides the existing job as
    * map-side accumulators, costs zero extra exchanges, and is exact
    * (unlike accumulator-based counters, CollectMetrics has
    * run-exactly-once semantics per action).
    *
    * The oracle recomputes the same counters declaratively; the engine
    * asserts the observed values equal the kept-side materialization it
    * just drove, so the returned row is the *observed* metric set.
    */
  private def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val ev = Tables(spark, dir).events
    val badType = col("event_type") === "error"
    val oor = col("value") > 300.0
    val obs = Observation()
    val flagged = ev.select(col("event_id"), badType.as("bad_type"),
      (!badType && oor).as("out_of_range"),
      when(!badType && !oor, (dec(col("value")) * 100).cast("long"))
        .otherwise(lit(0L)).as("kept_cents"))
    val observed = flagged.observe(obs,
      count(lit(1)).as("n_in"),
      sum(when(col("bad_type"), 1L).otherwise(0L)).as("n_error_type"),
      sum(when(col("out_of_range"), 1L).otherwise(0L)).as("n_out_of_range"),
      sum(when(!col("bad_type") && !col("out_of_range"), 1L).otherwise(0L)).as("n_kept"),
      sum(col("kept_cents")).as("kept_cents"))
    // the one action: materialize the kept side (production: the write)
    val keptRows = observed.where(!col("bad_type") && !col("out_of_range")).count()
    val m = obs.get
    require(m("n_kept") == keptRows,
      s"observe drift: counted ${m("n_kept")} kept vs $keptRows materialized")
    import spark.implicits._
    Seq((m("n_in").asInstanceOf[Long], m("n_error_type").asInstanceOf[Long],
        m("n_out_of_range").asInstanceOf[Long], m("n_kept").asInstanceOf[Long],
        m("kept_cents").asInstanceOf[Long]))
      .toDF("n_in", "n_error_type", "n_out_of_range", "n_kept", "kept_cents")
  }
  private val observedMetricsSql =
    """SELECT count(*)::BIGINT AS n_in,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error_type,
      |  CAST(sum(CASE WHEN event_type <> 'error' AND value > 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_range,
      |  CAST(sum(CASE WHEN event_type <> 'error' AND value <= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN event_type <> 'error' AND value <= 300.0
      |        THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS kept_cents
      |FROM events""".stripMargin

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    * split users into two deterministic arms (`user_id % 2` — the
    * assignment an upstream system would supply), take each user's
    * pre-period value mass as the covariate X and post-period mass as the
    * metric Y, fit θ = cov(X,Y)/var(X) on the pooled population, and
    * report per-arm mean Y alongside the CUPED-adjusted mean
    * Y − θ·(X̄_arm − X̄). Pre-period behavior predicts post-period
    * behavior, so subtracting the θ-scaled covariate removes the
    * between-user variance component and tightens the effect estimate —
    * the standard trick for shipping A/B readouts with ~half the sample.
    *
    * Exactness: all value mass in integer cents; θ and the means in 2^-20
    * ticks with every division a truncating integer `div` evaluated in
    * the SAME order by both engines (the tx40/tx45 convention), moment
    * products accumulated in DECIMAL(38,0) (DuckDB: HUGEINT) so nothing
    * overflows at any sf. Scale shape: one exchange on user_id for the
    * per-user rollup, then a 2-row arm rollup and a 1-row moment rollup —
    * both map-side-combined; θ broadcasts back as a literal row.
    */
  private def cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val cut = ev.agg((min(col("ts")) + expr("INTERVAL 15 DAYS")).as("cutoff"))
    val cents = (dec(col("value")) * 100).cast("long")
    val per = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < col("cutoff"), cents).otherwise(0L)).as("x"),
        sum(when(col("ts") >= col("cutoff"), cents).otherwise(0L)).as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val d38 = "decimal(38,0)"
    // EVERY sum and tick product runs in DECIMAL(38,0) — the oracle's
    // HUGEINT — so nothing wraps at any sf (review finding r11d: the
    // Long-typed per-arm sums would wrap past 2^43 cents of arm mass
    // while DuckDB widened, silently diverging the gate)
    val moments = per.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("x").cast(d38) * col("y")).as("sxy"))
    val theta = moments.select(
      expr("cast(coalesce(((n * sxy - sx * sy) * 1048576) div (n * sxx - sx * sx), 0) as bigint)")
        .as("theta_ticks"),
      expr("cast((sx * 1048576) div n as bigint)").as("mx_all_ticks"))
    per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x").cast(d38)).as("sx_a"), sum(col("y").cast(d38)).as("sy_a"))
      .crossJoin(broadcast(theta))
      .select(col("arm"), col("n_users"),
        expr("cast((sy_a * 1048576) div n_users as bigint)").as("mean_y_ticks"),
        expr("cast((sx_a * 1048576) div n_users as bigint)").as("mx_ticks"),
        col("theta_ticks"), col("mx_all_ticks"))
      .select(col("arm"), col("n_users"), col("mean_y_ticks"),
        expr("mean_y_ticks - cast((cast(theta_ticks as decimal(38,0)) * (mx_ticks - mx_all_ticks)) div 1048576 as bigint)")
          .as("mean_adj_ticks"),
        col("theta_ticks"))
      .orderBy(col("arm"))
  }
  private val cupedSql =
    """WITH cut AS (SELECT min(ts) + INTERVAL 15 DAY AS cutoff FROM events),
      |per AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN ts < cutoff
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN ts >= cutoff
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events CROSS JOIN cut GROUP BY user_id),
      |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy FROM per),
      |th AS (SELECT
      |    CAST(coalesce(((n * sxy - sx * sy) * 1048576) // (n * sxx - sx * sx), 0) AS BIGINT) AS theta_ticks,
      |    CAST((sx * 1048576) // n AS BIGINT) AS mx_all_ticks FROM g),
      |arms AS (
      |  SELECT user_id % 2 AS arm, count(*)::BIGINT AS n_users,
      |    CAST(sum(x) AS HUGEINT) AS sx_a, CAST(sum(y) AS HUGEINT) AS sy_a
      |  FROM per GROUP BY 1)
      |SELECT arm, n_users,
      |  CAST((CAST(sy_a AS HUGEINT) * 1048576) // n_users AS BIGINT) AS mean_y_ticks,
      |  CAST((CAST(sy_a AS HUGEINT) * 1048576) // n_users
      |    - (CAST(theta_ticks AS HUGEINT)
      |       * ((CAST(sx_a AS HUGEINT) * 1048576) // n_users - mx_all_ticks)) // 1048576
      |    AS BIGINT) AS mean_adj_ticks,
      |  theta_ticks
      |FROM arms CROSS JOIN th ORDER BY arm""".stripMargin

  /** k-anonymity audit (k = 5) — the data-governance gate before an
    * event table leaves the trust boundary: rows are grouped by their
    * quasi-identifier tuple (event_type, day, value decade — the columns
    * an adversary could join against an external dataset) and any group
    * smaller than k marks its rows re-identifiable. Reports, per event
    * type: total rows, QI-group count, under-k group count, rows at
    * risk, and the worst (smallest) group — the table a privacy review
    * reads to decide between release, coarser bucketing, or suppression.
    * Scale: one map-side-combined exchange on the QI tuple (output ≤
    * |QI domain| rows), then a |event_type|-sized rollup.
    */
  private def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables(spark, dir).events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10).cast("long").as("vb"))
      .groupBy(col("event_type"), col("day"), col("vb"))
      .agg(count(lit(1)).as("gs"))
    groups.groupBy(col("event_type"))
      .agg(sum(col("gs")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("gs") < 5, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("gs") < 5, col("gs")).otherwise(0L)).as("rows_at_risk"),
        min(col("gs")).as("min_group_size"))
      .orderBy(col("event_type"))
  }
  private val kAnonymitySql =
    """WITH qi AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(floor(value / 10) AS BIGINT) AS vb FROM events),
      |g AS (SELECT event_type, day, vb, count(*)::BIGINT AS gs
      |      FROM qi GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(sum(gs) AS BIGINT) AS n_rows,
      |  count(*)::BIGINT AS n_groups,
      |  CAST(sum(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
      |  CAST(sum(CASE WHEN gs < 5 THEN gs ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |  CAST(min(gs) AS BIGINT) AS min_group_size
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Last-touch conversion attribution (the marketing-analytics join no
    * event platform ships without): each purchase credits the user's
    * most recent click within a 1-day lookback, rolled up per purchase
    * day — purchases, attributed purchases, attributed value mass (exact
    * cents). Same union + one-window as-of machinery as ev04 (single
    * user_id exchange, no range-join explosion), extended with the
    * lookback tolerance test on the matched click's timestamp; the
    * day rollup is map-side combined, output ≤ |days| rows.
    */
  private def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val base = ev.where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = base
      .withColumn("click_ts",
        last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(to_date(col("ts")).as("day"),
        (dec(col("value")) * 100).cast("long").as("cents"),
        (col("click_ts").isNotNull &&
          col("click_ts") >= col("ts") - expr("INTERVAL 1 DAY")).as("attr"))
    scored.groupBy(col("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("attr"), 1L).otherwise(0L)).as("n_attributed"),
        sum(when(col("attr"), col("cents")).otherwise(0L)).as("attributed_cents"))
      .orderBy(col("day"))
  }
  private val attributionSql =
    """WITH p AS (
      |  SELECT CAST(e.ts AS DATE) AS day, e.ts,
      |    CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    (SELECT c.ts FROM events c
      |     WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      |     ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_ts
      |  FROM events e WHERE e.event_type = 'purchase')
      |SELECT day, count(*)::BIGINT AS n_purchases,
      |  CAST(sum(CASE WHEN click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 DAY
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
      |  CAST(sum(CASE WHEN click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 DAY
      |    THEN cents ELSE 0 END) AS BIGINT) AS attributed_cents
      |FROM p GROUP BY day ORDER BY day""".stripMargin

  /** ev40: the custom DataSource V2 connector under the full gate
    * ([[graft.sources.SyntheticDocs]] — TableProvider + ScanBuilder with
    * column pruning, doc_id filter pushdown, and range-sliced partition
    * planning): scan 100k generated docs, push a 50k id window INTO the
    * source (empty residual — the Filter node disappears), aggregate per
    * (lang, source) WITHOUT touching text (pruning means the reader
    * never builds the string). The oracle re-derives every value from
    * `generate_series` and the connector's published row arithmetic —
    * so the hash gate checks the pushdown/pruning path end-to-end, not
    * just the API wiring. SourcesSpec pins partition-level pruning.
    */
  private def customSource(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(graft.sources.SyntheticDocs.Format)
      .option("rows", "100000").option("partitions", "16").load()
      .where(col("doc_id") >= 25000 && col("doc_id") < 75000)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("lang"), col("source"))
  private val customSourceSql =
    """WITH ids AS (SELECT unnest(generate_series(25000, 74999)) AS id)
      |SELECT ['de','en','fr','ja','zh'][(id % 5 + 1)::INT] AS lang,
      |  ['books','code','web','wiki'][(id % 4 + 1)::INT] AS source,
      |  count(*)::BIGINT AS n_docs,
      |  CAST(sum(id % 97 + 3) AS BIGINT) AS n_tokens
      |FROM ids GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  /** DuckDB mirror of [[graft.sources.AuditSink.fnv64]] over a BIGINT
    * expression, in HUGEINT mod-2⁶⁴ arithmetic — ONE definition for
    * every audit-sink oracle (ev41/ev44/st36), so the checksum
    * constants cannot drift between gates (review finding r12b). */
  private[queries] def fnv64IdFoldSql(idExpr: String): String =
    s"""list_reduce(
       |    list_prepend(14695981039346656037::HUGEINT,
       |      list_transform(generate_series(0, 7),
       |        i -> (($idExpr >> (8 * i)::INT) & 255)::HUGEINT)),
       |    (fh, b) -> (xor(fh::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
       |      % 18446744073709551616::HUGEINT)""".stripMargin

  /** ev41: the V2 WRITE path under the hash gate ([[graft.sources.AuditSink]]):
    * push the documents' ids through the audit sink's full commit
    * protocol (per-task partial audits surfaced only via commit
    * messages, one atomic publish) and return the committed record. The
    * oracle recomputes the same (count, XOR-folded FNV-1a of each id's
    * 8 LE bytes) from SQL in HUGEINT mod-2⁶⁴ arithmetic — so the gate
    * checks what the distributed writers actually accumulated through
    * task commit/abort, partitioning-independent by construction.
    * SourcesSpec pins the protocol edges (atomic abort, retry safety).
    */
  private def auditedWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val name = s"ev41_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
    // overwrite = the builder's truncate() path: the committed record
    // REPLACES any prior one, so the query is idempotent however many
    // times a session runs it (append would fold runs together)
    Tables(spark, dir).documents.select(col("doc_id"))
      .write.format(graft.sources.AuditSink.Format)
      .option("name", name).mode("overwrite").save()
    val (n, c) = graft.sources.AuditSink.commits(name)
    Seq((n, c)).toDF("n_rows", "checksum")
  }
  private val auditedWriteSql =
    s"""WITH h AS (
      |  SELECT ${fnv64IdFoldSql("doc_id")} AS h
      |  FROM documents)
      |SELECT CAST(cnt AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
      |       THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT) AS checksum
      |FROM (SELECT count(*) AS cnt, bit_xor(h::UBIGINT)::HUGEINT AS x FROM h) t""".stripMargin

  /** ev44: the write-side LAYOUT contracts on the V2 sink —
    * `RequiresDistributionAndOrdering` + the truncate/append protocol:
    *
    *  - phase `clustered_sorted`: the WRITE itself demands
    *    `distributeBy=lang` (clustered distribution — Spark inserts the
    *    exchange below the write node) and `sortBy=doc_id` (within-task
    *    sort), `mode("overwrite")` riding the builder's truncate() path.
    *    The sink's writers MEASURE compliance — per-task distinct-key
    *    sets fold to "no lang split across tasks", per-task order checks
    *    fold to "every task arrived sorted" — and the committed audit
    *    publishes both verdicts, so the gate hashes the engine's actual
    *    write layout, not an assumption. This is the Iceberg
    *    write-distribution contract: at 100 TB it is what keeps a
    *    partitioned write from emitting one file per task per key.
    *  - phase `appended`: a second write (`doc_id % 10 = 3` slice,
    *    `mode("append")`, no layout demand) FOLDS into the same record —
    *    rows add, checksums XOR (so the twice-written ids cancel out of
    *    the fold, which the oracle recomputes directly). Layout verdicts
    *    are NULL: none were demanded.
    */
  private def layoutWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val name = s"ev44_${dir.replaceAll("[^A-Za-z0-9]+", "_")}"
    val docs = Tables(spark, dir).documents
    docs.select(col("doc_id"), col("lang"))
      .write.format(graft.sources.AuditSink.Format)
      .option("name", name)
      .option("distributeBy", "lang").option("sortBy", "doc_id")
      .mode("overwrite").save()
    val (n1, c1) = graft.sources.AuditSink.commits(name)
    val (clustered, sorted) = graft.sources.AuditSink.layout(name)
    docs.where(pmod(col("doc_id"), lit(10L)) === 3)
      .select(col("doc_id"), col("lang"))
      .write.format(graft.sources.AuditSink.Format)
      .option("name", name).mode("append").save()
    val (n2, c2) = graft.sources.AuditSink.commits(name)
    Seq(
      ("clustered_sorted", n1, c1, clustered, sorted),
      ("appended", n2, c2, None: Option[Boolean], None: Option[Boolean]))
      .toDF("phase", "n_rows", "checksum", "clustering_held", "sorted_within")
      .orderBy(col("phase"))
  }
  private val layoutWriteSql =
    s"""WITH h AS (
      |  SELECT doc_id, ${fnv64IdFoldSql("doc_id")} AS h
      |  FROM documents),
      |sgn AS (
      |  SELECT 'clustered_sorted' AS phase, count(*) AS cnt,
      |    bit_xor(h::UBIGINT)::HUGEINT AS x, TRUE AS clustering_held,
      |    TRUE AS sorted_within
      |  FROM h
      |  UNION ALL
      |  SELECT 'appended' AS phase,
      |    (SELECT count(*) FROM h) + count(*) FILTER (WHERE doc_id % 10 = 3) AS cnt,
      |    bit_xor(h::UBIGINT) FILTER (WHERE doc_id % 10 <> 3)::HUGEINT AS x,
      |    NULL, NULL
      |  FROM h)
      |SELECT phase, CAST(cnt AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
      |       THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT) AS checksum,
      |  clustering_held, sorted_within
      |FROM sgn ORDER BY phase""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "ev44_layout_write"    -> QueryDef(layoutWrite, Some(layoutWriteSql)),
    "ev41_audited_write"   -> QueryDef(auditedWrite, Some(auditedWriteSql)),
    "ev40_custom_source"   -> QueryDef(customSource, Some(customSourceSql)),
    "ev39_attribution"     -> QueryDef(attribution, Some(attributionSql)),
    "ev42_path_analysis"   -> QueryDef(pathAnalysis, Some(pathAnalysisSql)),
    "ev43_conversion_latency" -> QueryDef(conversionLatency, Some(conversionLatencySql)),
    "ev38_kanonymity"      -> QueryDef(kAnonymity, Some(kAnonymitySql)),
    "ev36_observed_metrics" -> QueryDef(observedMetrics, Some(observedMetricsSql)),
    "ev37_cuped"           -> QueryDef(cuped, Some(cupedSql)),
    "gr08_modularity"      -> QueryDef(modularity, Some(modularitySql)),
    "gr10_hits"            -> QueryDef(hitsQ, Some(hitsSql)),
    "gr09_lpa_hubcap"      -> QueryDef(labelPropHubCap, Some(labelPropHubCapSql)),
    "gr07_label_prop"      -> QueryDef(labelProp, Some(labelPropSql)),
    "ev34_linear_interp"   -> QueryDef(linearInterp, Some(linearInterpSql)),
    "ev35_twap"            -> QueryDef(twap, Some(twapSql)),
    "gr06_kcore"           -> QueryDef(kCoreQ, Some(kCoreSql)),
    "ev32_ewma_smooth"     -> QueryDef(ewmaSmooth, Some(ewmaSmoothSql)),
    "ev33_mad_outliers"    -> QueryDef(madOutliers, Some(madOutliersSql)),
    "ev20_merge_upsert"    -> QueryDef(mergeUpsert, Some(mergeUpsertSql)),
    "ev21_agg_state_merge" -> QueryDef(aggStateMerge, Some(aggStateMergeSql)),
    "gr02_triangles"       -> QueryDef(triangles, Some(trianglesSql)),
    "gr03_shortest_path"   -> QueryDef(shortestPath, Some(shortestPathSql)),
    "gr05_components"      -> QueryDef(components, Some(componentsSql)),
    "ev23_ohlc_bars"       -> QueryDef(ohlcBars, Some(ohlcBarsSql)),
    "ev24_cdc_latest"      -> QueryDef(cdcLatest, Some(cdcLatestSql)),
    "ev25_variant_props"   -> QueryDef(variantProps, Some(variantPropsSql)),
    "gr04_recursive_cte"   -> QueryDef(recursiveSql, Some(recursiveSqlOracle)),
    "ev26_concurrency"     -> QueryDef(concurrency, Some(concurrencySql)),
    "ev16_funnel"          -> QueryDef(funnel, Some(funnelSql)),
    "ev17_retention"       -> QueryDef(retention, Some(retentionSql)),
    "ev18_scd2"            -> QueryDef(scd2, Some(scd2Sql)),
    "ev19_table_diff"      -> QueryDef(tableDiff, Some(tableDiffSql)),
    "gr01_pagerank"        -> QueryDef(pageRank, Some(pageRankSql)),
    "gr11_ppr_seed_expand" -> QueryDef(pprSeedExpand, Some(pprSeedExpandSql)),
    "ev15_dynamic_partition_overwrite" ->
      QueryDef(dynPartitionOverwrite, Some(dynPartitionOverwriteSql)),
    "ev14_compaction"      -> QueryDef(compaction, Some(compactionSql)),
    "ev13_schema_evolution" -> QueryDef(schemaEvolution, Some(schemaEvolutionSql)),
    "ev12_map_ops"         -> QueryDef(mapOps, Some(mapOpsSql)),
    "ev01_tumbling_window" -> QueryDef(tumbling, Some(tumblingSql)),
    "ev08_partitioned_sink" -> QueryDef(partitionedSink, Some(partitionedSinkSql)),
    "ev09_auto_range_join" -> QueryDef(autoRangeJoin, Some(autoRangeJoinSql)),
    "ev11_wide_range_join" -> QueryDef(wideRangeJoin, Some(wideRangeJoinSql)),
    "ev10_gapfill"         -> QueryDef(gapFill, Some(gapFillSql)),
    "ev06_range_join"      -> QueryDef(rangeJoin, Some(rangeJoinSql)),
    "ev02_json_extract"    -> QueryDef(json, Some(jsonSql)),
    "ev03_sessionize"      -> QueryDef(sessionize, Some(sessionizeSql)),
    "ev04_asof_join"       -> QueryDef(asof, Some(asofSql)),
    "ev05_csv_json_roundtrip" -> QueryDef(roundtrip, Some(roundtripSql)),
    "ev07_orc_roundtrip"   -> QueryDef(orcRoundtrip, Some(orcRoundtripSql)),
    "ev27_xml_roundtrip"   -> QueryDef(xmlRoundtrip, Some(xmlRoundtripSql)),
    "ev28_dpp_join"        -> QueryDef(dppJoin, Some(dppJoinSql)),
    "ev29_nested_pruning"  -> QueryDef(nestedPruning, Some(nestedPruningSql)),
    "ev30_union_by_name"   -> QueryDef(unionByNameDrift, Some(unionByNameDriftSql)),
    "ev31_sketch_merge"    -> QueryDef(sketchMerge, Some(sketchMergeSql)),
  )
}
