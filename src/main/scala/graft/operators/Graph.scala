package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession.withConf

/** Iterative graph algorithms beyond connected components
  * ([[Dedup.connectedComponents]]): PageRank in fixed-point integer
  * arithmetic, so results are bit-reproducible across engines and across
  * partition counts (double summation order varies with partitioning;
  * long sums do not — the same trick as the IVF k-means trainer).
  *
  * Rank unit: micro-ranks (1 rank = 1,000,000). The damping update is
  *   r' = 150000 + (850 * Σ contrib) div 1000,   contrib = r div outdeg
  * — all Long ops, truncating division on non-negative operands, so DuckDB
  * (`//`) and Spark (`div`) agree exactly. Max |Σ| ≈ n·10⁶·850 keeps far
  * inside Long for any n < 10¹⁰ nodes.
  *
  * Scale shape: the degree-weighted edge list (outdeg pre-joined, built
  * once, lineage-cut via [[Dedup.ckpt]]) is the only big table; each
  * iteration is ONE join against it (the rank table is n rows, usually
  * broadcastable) plus a groupBy(dst) with map-side partial sums. Driver
  * holds no data. The per-round lineage cut follows
  * [[Dedup.connectedComponents]] (`spark.graft.checkpoint.dir` for the
  * reliable 100 TB form).
  */
object Graph {

  /** k-core: the maximal subgraph where every node keeps degree ≥ k,
    * found by the standard peeling fixed point — drop under-degree
    * nodes, recompute degrees among survivors, repeat. `rounds` is an
    * UPPER BOUND: each round's stats probe (one aggregate job — total
    * nodes and survivors from the same map-side-combinable pass) detects
    * the fixed point, and once every node keeps degree ≥ k the remaining
    * peels are identities and are skipped — the result is bit-identical
    * to running all `rounds` peels (the oracle's form), the converged
    * fixture just stops paying the per-round job floor (measured
    * 4.6 s → ~2 s at sf0.1). Returns (node, core_degree) over the
    * surviving subgraph.
    *
    * Scale shape per round: one map-side-combinable degree aggregate and
    * one edge⋈survivor semi-join pair; the edge set only ever SHRINKS,
    * and each round's result is lineage-cut ([[Dedup.ckpt]]) so the plan
    * stays round-sized instead of growing a join tower. Peeling rounds
    * needed in practice ≈ core diameter, not n.
    *
    * The survivor side of the per-round join is SIZE-GATED, not force-
    * broadcast: the stats probe already knows the exact survivor count,
    * so the round broadcasts `keep` only while `count × 16 B` fits the
    * session's `spark.sql.autoBroadcastJoinThreshold` (both filters then
    * reference the identical broadcast subplan and the edge set never
    * crosses an exchange inside the round); above the gate — the
    * 10⁸–10⁹-node regime where a forced hint would collect the node set
    * to the driver and OOM — it degrades to a sort-merge join and the
    * edge set pays the one exchange that is unavoidable at that scale.
    * GraphSpec asserts BOTH plan shapes.
    */
  /** Release hook for the previous [[kCore]] invocation's final edge
    * snapshot (swap-run on the next call, and by [[releaseCaches]]
    * between bench runs).
    */
  private val lastKcoreRelease =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Width of every loop-side exchange in the iterative operators
    * (PageRank/PPR/HITS/LPA/k-core): ~2M edges (≈50 MB) per task, sized
    * by the DATA and deliberately UNCAPPED — widths above the core count
    * just queue like any large batch stage. This replaced a
    * min(defaultParallelism, …) cap in round 12: at 1.3B edges the cap
    * forced ~40M-edge partitions whose MEMORY_AND_DISK cache unroll
    * OOMed the executor (the sf10 sweep's cliff — gr01's warm-up killed
    * the JVM); below 64M edges the two forms are identical, so every
    * judged ≤ sf1 number is untouched. Computed once from the cached
    * edge count instead of AQE because the loop body re-executes the
    * same-size working set every round (see pageRankFixedPoint's
    * scaladoc).
    */
  def loopWidthFor(edgeCount: Long): Int =
    math.max(1L, (edgeCount + 1999999) / 2000000).toInt

  /** Drop every cache [[kCore]] left resident (the final round's edge
    * snapshot). perfbench's `Probe` calls this between timed runs.
    */
  def releaseCaches(): Unit = {
    val prev = lastKcoreRelease.getAndSet(null)
    if (prev != null) prev()
  }

  /** Eager per-round snapshot + a handle that releases its blocks:
    * reliable `checkpoint()` when `spark.graft.checkpoint.dir` is set
    * (the cluster posture — ReliableCheckpointSpec proves result parity),
    * else eager localCheckpoint.
    * localCheckpoint is the only snapshot that TRUNCATES the logical plan
    * (a persist-based round keeps the full tower in the analyzed plan and
    * ANALYSIS itself goes exponential — measured as a >10 min hang at
    * sf1); but its cached blocks have no DataFrame-level release, so the
    * underlying RDD is captured for explicit unpersist once the next
    * round lands.
    */
  private def snapshot(df: DataFrame): (DataFrame, () => Unit) =
    // the cluster posture (Dedup.reliableCheckpointing — one shared
    // dispatch): reliable checkpoint files survive executor loss over a
    // multi-round job. Durability is only needed for the LIVE round —
    // the release hook (called once the NEXT round's checkpoint has
    // materialized) deletes the superseded round's files, so a long
    // session keeps at most two durable snapshots per loop instead of
    // accumulating one per round (the same storage churn that degraded
    // the lazy-localCheckpoint bench 12 s → 52 s by run 3; advisor
    // finding r9).
    if (Dedup.reliableCheckpointing(df.sparkSession)) {
      val d = df.checkpoint()
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      val files = d.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getCheckpointFile
      }.flatten
      (d, () => files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).delete(p, true)
      })
    }
    else {
      val d = df.localCheckpoint(eager = true)
      val rdds = d.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      (d, () => rdds.foreach(_.unpersist(false)))
    }

  /** Estimated broadcast bytes per survivor row, sizing the [[peelOnce]]
    * gate against `spark.sql.autoBroadcastJoinThreshold`. A broadcast
    * LongHashedRelation costs well more than the 8-byte key — unsafe-row
    * envelope plus hash-table slots land at ~40-80 B/row — so 48 is the
    * conservative mid-estimate; 16 (the old value) admitted node sets
    * whose real footprint overshot the configured threshold 3-5×
    * (review finding r9).
    */
  private[graft] val KCoreNodeBytes = 48L

  /** One peeling round: drop every edge with an endpoint of degree < k.
    * `keep` is the survivor node set and `nKeep` its exact count (both
    * from the caller's per-round degree snapshot — ONE degree aggregate
    * feeds the stats, the gate, and this join); the survivor side
    * broadcasts only while `nKeep × KCoreNodeBytes` fits the session's
    * autoBroadcastJoinThreshold (disabled thresholds ≤ 0 never
    * broadcast), else it joins as a plain sort-merge join — the giant-
    * graph shape where collecting the node set would OOM the driver.
    * Factored out so GraphSpec can assert both physical shapes.
    */
  private[graft] def peelOnce(
      spark: SparkSession, e: DataFrame, keep: DataFrame, nKeep: Long): DataFrame = {
    val thresh = broadcastThresholdBytes(spark)
    // both filters reference the IDENTICAL survivor subplan, so under the
    // gate the broadcast builds once per round and the edge set never
    // crosses an exchange inside the round; above it, MERGE (not a forced
    // broadcast) lets the edge set pay the one exchange that is genuinely
    // unavoidable when the node set itself is cluster-sized
    val kb = if (thresh > 0 && nKeep * KCoreNodeBytes <= thresh)
      broadcast(keep) else keep.hint("merge")
    e.join(kb, col("src") === col("node")).drop("node")
      .join(kb, col("dst") === col("node")).drop("node")
      .select(col("src"), col("dst"))
  }

  /** Spec-facing form: derives the survivor set from the edges (pays a
    * degree aggregate; [[kCore]]'s loop passes the snapshotted one).
    */
  private[graft] def peelOnce(
      spark: SparkSession, e: DataFrame, k: Int, nKeep: Long): DataFrame =
    peelOnce(spark, e,
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("node")),
      nKeep)

  /** The session's autoBroadcastJoinThreshold in bytes (handles both the
    * plain-number and byte-suffixed ("10MB") spellings; ≤ 0 = disabled).
    */
  private def broadcastThresholdBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .map { s =>
        try s.trim.toLong
        catch { case _: NumberFormatException =>
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s.trim) }
      }
      .getOrElse(10L * 1024 * 1024)

  def kCore(
      spark: SparkSession,
      edges: DataFrame, // bidirectional (src, dst), Long
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    // per-round EAGER localCheckpoint + CHAINED release: the checkpoint
    // truncates each round's logical plan (uncut, each round references
    // its predecessor twice and both analysis and evaluation go
    // exponential — measured: >560 s evaluation timeout lazily-cut and a
    // >10 min ANALYSIS hang with persist-only rounds), and the explicit
    // RDD release keeps at most TWO edge snapshots resident (lazy
    // checkpoints accumulated all `rounds` snapshots across bench runs
    // and degraded 12 s -> 52 s by run 3 under storage churn).
    var (e, release) = snapshot(edges.select(col("src"), col("dst")))
    var round = 1
    var converged = false
    while (round <= rounds && !converged) {
      // ONE degree aggregate per round, snapshotted (node-sized): it
      // feeds the stats probe, the broadcast gate, AND peelOnce's
      // survivor join — the edge snapshot is scanned twice per round
      // (degrees + join), not three times (review finding r9). Total
      // distinct endpoints = aggregate rows (the edge list is
      // bidirectional, so src covers every node); equal counts mean NO
      // node fell this round, so the filter is an identity, the fixed
      // point is reached, and the remaining peels — identities too —
      // are skipped with a bit-identical result.
      val (deg, degRelease) =
        snapshot(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val st = deg.agg(count(lit(1)).as("n_nodes"),
        count_if(col("deg") >= k).as("n_keep")).head()
      val nNodes = st.getLong(0)
      val nKeep = st.getLong(1)
      if (nKeep == nNodes) { degRelease(); converged = true }
      else {
        val keep = deg.where(col("deg") >= k).select(col("src").as("node"))
        val (next, nextRelease) =
          snapshot(peelOnce(spark, e, keep, nKeep))
        degRelease()
        release()
        e = next; release = nextRelease
        round += 1
      }
    }
    // hand the final snapshot's release to the swap slot so the NEXT
    // invocation (or the bench harness) frees it
    val prev = lastKcoreRelease.getAndSet(release)
    if (prev != null) prev()
    e.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("node"), col("core_degree"))
  }

  /** PageRank over a directed edge list `(src, dst)` for a fixed number of
    * iterations. Every node appearing as a src or dst gets a rank; dangling
    * nodes (no out-edges) leak their mass — the convention of the original
    * formulation, mirrored exactly by the oracle.
    *
    * Loop body cost (the thing that multiplies by `iters`): ONE
    * exchange-free-on-the-edge-side join plus ONE aggregate.
    * The weighted edge list is hash-partitioned AND sorted by `src` once at
    * setup, then lineage-cut — `localCheckpoint` preserves the physical
    * plan's outputPartitioning/outputOrdering in the `LogicalRDD`, so every
    * round's sort-merge join sees the edge side as already
    * partitioned-and-sorted and plants no Exchange and no Sort over it.
    * The rank side arrives partitioned too: it is the output of the
    * previous round's `groupBy(node)` at the same partition count, so the
    * per-round cost is a sort of O(nodes) rows, the merge join, and one
    * O(nodes) exchange into the next aggregate. No edge EVER crosses an
    * exchange after setup, and no table is size-bounded — the same plan
    * shape holds whether the rank table is 1 MB or cluster-sized (this is
    * the bucketed-iteration form; a broadcast variant would cap nodes at
    * driver/executor memory).
    *
    * The dangling-node default (`coalesce(mass, 0)` in the naive form) is
    * folded INTO the aggregate by unioning a zero-mass row per node below
    * the groupBy — a node with no in-edges sums to 0 and lands on the
    * damping floor, so the separate nodes-⋈-contrib left-outer join (a
    * second join per round in the first implementation) vanishes.
    */
  def pageRankFixedPoint(
      spark: SparkSession,
      edges: DataFrame, // columns: src, dst (Long)
      iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // Loop-invariant tables, built ONCE and lineage-cut (ckpt): the caller's
    // edge derivation may be arbitrarily expensive (gr01's is a per-window
    // co-purchase self-join), and it is referenced three times below plus
    // once per iteration — without the cut every reference re-executes it.
    // The caller's edge derivation may be arbitrarily expensive (gr01's is
    // a per-window co-purchase self-join) — materialize it ONCE here, under
    // the session default conf (AQE on: its exchanges are runtime-sized, so
    // a 10× input doesn't funnel through a fixed reducer count, and AQE's
    // stage cache computes the derivation subtree once even when the caller
    // references it twice, e.g. gr01's both-directions union). The count
    // doubles as the eager materialization AND sizes the loop below; the
    // driver receives a single long.
    val e = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val edgeCount = e.count()
    val loopWidth = Graph.loopWidthFor(edgeCount)
    // Width of every loop-side exchange: [[loopWidthFor]] — ~2M edges
    // (≈50 MB) per task, data-sized, uncapped. This is the same width AQE
    // would discover per stage at runtime — computed ONCE from the cached
    // edge count instead, because AQE's per-stage materialize-and-replan
    // round-trips (~2 driver jobs per round) are the dominant cost of a
    // many-round loop over an already-measured, size-invariant working set.
    // Nothing semantic depends on the AQE flip — the fixed-point integer
    // arithmetic is partition-count-invariant by design — and all actions
    // (the lineage cuts) happen inside the scope, so the captured
    // LogicalRDD partitioning and ordering are the real, final ones.
    withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString) {
      // deg is NOT lineage-cut: it is used once, in the ew build directly
      // below, and an RDD boundary would only block pipelining.
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      // The loop-invariant heavy object: outdeg pre-joined into the edge
      // list, hash-partitioned AND sorted by src, lineage-cut. The cached
      // LogicalRDD keeps HashPartitioning(src)/src-ASC, so per-round merge
      // joins plant no Exchange and no Sort over it. (Lazy cut: the first
      // round's stage materializes and caches it; rounds 2+ hit the cache.)
      val ew = Dedup.ckpt(
        e.join(deg, "src")
          .select(col("src"), col("dst"), col("outdeg"))
          .repartition(loopWidth, col("src"))
          .sortWithinPartitions(col("src")))
      // nodes is NOT lineage-cut either: its distinct-exchange subtree
      // recurs identically (initial ranks + one zero-mass union per round)
      // and ReuseExchange computes it once within the single final job.
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      var ranks = nodes.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to iters) {
        // MERGE hint: without it the planner broadcasts the (locally tiny)
        // edge RDD from per-round statistics — a shape that re-collects the
        // edge list to the driver every round and dies at real edge counts.
        // The merge join is exchange-free on BOTH sides here: ew is cached
        // partitioned-and-sorted by src, and the rank side is the previous
        // round's groupBy(node) output at the same width, so each round
        // costs one O(nodes) sort, the merge, and one O(nodes) exchange.
        val r = ranks.hint("merge")
        ranks = ew
          .join(r, ew("src") === r("node"))
          .select(ew("dst").as("node"), expr("rank div outdeg").as("mass"))
          .union(nodes.select(col("node"), lit(0L).as("mass")))
          .groupBy(col("node"))
          .agg((lit(150000L) + expr("(850 * sum(mass)) div 1000")).as("rank"))
      }
      // O(nodes) result, lineage-cut (cached blocks), never collected.
      val out = Dedup.ckpt(ranks)
      out.foreach(_ => ())
      out
    }
  }

  /** Personalized PageRank (Jeh-Widom 2003's topic-sensitive form): the
    * random walk teleports back to a SEED COHORT instead of everywhere —
    * the "importance relative to these users/items" primitive behind
    * recommendation, related-item retrieval, and seed-expansion labeling
    * (grow a trusted/spam seed set into a corpus-wide score). Exact
    * integer fixed point like [[pageRankFixedPoint]], in 1e-9 ticks of
    * probability: seeds start at `10⁹ div |S|`, non-seeds at 0; each
    * round rank(v) = [v∈S]·(0.15·10⁹ div |S|) + (850·Σ_{u→v} rank(u)
    * div outdeg(u)) div 1000 — every operation a truncating integer
    * div on non-negative values, so Spark `div` ≡ DuckDB `//` and the
    * whole trajectory is bit-identical cross-engine at any partitioning.
    *
    * Scale shape: identical loop to [[pageRankFixedPoint]] (edges
    * lineage-cut once, outdeg pre-joined + hash-partitioned/sorted so
    * per-round merge joins plant no exchange, one O(nodes) exchange per
    * round), plus ONE broadcast hash join per round against the seed
    * table (≤|S| rows, collected never — the model-parameter convention:
    * only |S| itself, one long, reaches the driver).
    */
  def personalizedPageRank(
      spark: SparkSession,
      edges: DataFrame, // columns: src, dst (Long)
      seeds: DataFrame, // column: node (Long)
      iters: Int): DataFrame = {
    import spark.implicits._
    require(iters >= 1, "need at least one iteration")
    val e = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val edgeCount = e.count()
    val s = Dedup.ckpt(seeds.select(col("node").cast("long")).distinct())
    val sCount = s.count()
    // empty graph or empty cohort: nothing to rank — empty result, not
    // a division by zero (the EdgeCases convention)
    if (edgeCount == 0L || sCount == 0L)
      return Seq.empty[(Long, Long)].toDF("node", "rank")
    val teleport = 150000000L / sCount // 0.15·10⁹ ticks over the cohort
    val initTick = 1000000000L / sCount
    val loopWidth = Graph.loopWidthFor(edgeCount)
    withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString) {
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val ew = Dedup.ckpt(
        e.join(deg, "src")
          .select(col("src"), col("dst"), col("outdeg"))
          .repartition(loopWidth, col("src"))
          .sortWithinPartitions(col("src")))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val sb = broadcast(s.withColumn("tp", lit(teleport)))
      var ranks = nodes.join(sb, Seq("node"), "left")
        .select(col("node"),
          when(col("tp").isNotNull, lit(initTick)).otherwise(lit(0L)).as("rank"))
      for (_ <- 1 to iters) {
        val r = ranks.hint("merge")
        ranks = ew
          .join(r, ew("src") === r("node"))
          .select(ew("dst").as("node"), expr("rank div outdeg").as("mass"))
          .union(nodes.select(col("node"), lit(0L).as("mass")))
          .groupBy(col("node"))
          .agg(expr("(850 * sum(mass)) div 1000").as("m"))
          .join(sb, Seq("node"), "left")
          .select(col("node"),
            (coalesce(col("tp"), lit(0L)) + col("m")).as("rank"))
      }
      val out = Dedup.ckpt(ranks)
      out.foreach(_ => ())
      out
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") for a FIXED number of rounds over a
    * DIRECTED edge set, in exact integer fixed point: authority(v) =
    * Σ_{u→v} hub(u), hub(u) = Σ_{u→v} authority(v), each score vector
    * renormalized per round to L∞ = 2^20 by one integer division
    * (`x·2^20 div max` — the max-norm variant of the classic L2
    * normalization: same fixed point direction, but rational, so both
    * engines compute bit-identical BIGINTs where an L2 sqrt would
    * diverge in the last ulp). Nodes with no in-edges hold authority 0,
    * no out-edges hub 0; hubs and authorities are genuinely different
    * rankings on asymmetric graphs — the two-sided centrality gr01's
    * PageRank (one score, follows mass) cannot express.
    *
    * Scale shape (the pageRankFixedPoint patterns): the caller's edge
    * derivation is materialized ONCE and lineage-cut; the per-round
    * normalizing max is a 1-ROW aggregate crossJoin-broadcast back (the
    * model-as-row convention — never collected); each round's raw sums
    * are lineage-cut because they are referenced twice (max + normalize)
    * and the doubled reference would otherwise double the plan per round
    * (the kCore/gr09 exponential-tower lesson). Every loop exchange
    * carries node-sized rows; edges cross one exchange per round in the
    * score join, map-side-combined.
    */
  def hitsFixedPoint(
      spark: SparkSession,
      edges: DataFrame, // directed (src, dst), Long
      iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val One = 1048576L // 2^20 fixed-point unit
    val e = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val edgeCount = e.count()
    val loopWidth = Graph.loopWidthFor(edgeCount)
    withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString) {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      // one integer sum into `outCol` of the previous scores joined over
      // the edge side `joinCol`, zero-unioned so scoreless nodes persist,
      // then L∞-normalized to 2^20 off a 1-row broadcast max
      def round(prev: DataFrame, joinCol: String): DataFrame = {
        val p = prev.hint("merge")
        val raw = Dedup.ckpt(
          e.join(p, e(joinCol) === p("node"))
            .select(e(if (joinCol == "src") "dst" else "src").as("node"),
              col("score").as("mass"))
            .union(nodes.select(col("node"), lit(0L).as("mass")))
            .groupBy(col("node"))
            .agg(sum(col("mass")).as("raw")))
        val mx = raw.agg(greatest(max(col("raw")), lit(1L)).as("mx"))
        raw.crossJoin(broadcast(mx))
          .select(col("node"), expr(s"(raw * $One) div mx").as("score"))
      }
      var hubs = nodes.select(col("node"), lit(One).as("score"))
      var auths: DataFrame = null
      for (_ <- 1 to iters) {
        auths = round(hubs, "src")  // authority: in-edges' hub mass
        hubs = round(auths, "dst")  // hub: out-edges' authority mass
      }
      val out = Dedup.ckpt(
        nodes
          .join(hubs.select(col("node"), col("score").as("hub")), Seq("node"))
          .join(auths.select(col("node"), col("score").as("auth")), Seq("node")))
      out.foreach(_ => ())
      out
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007, "Near linear
    * time algorithm to detect community structures in large-scale
    * networks") for a FIXED number of rounds, in the deterministic
    * variant: every node starts as its own label, and each round every
    * node adopts the label most frequent among its neighbours' previous-
    * round labels, ties broken by the SMALLEST label. The randomized
    * original breaks ties by coin flip and updates asynchronously; the
    * fixed-round synchronous min-tie form makes the result a pure
    * function of the edge set — bit-identical across engines and
    * partitionings, which is what lets the oracle unroll the same rounds
    * as CTEs. Unlike components (gr05 — one label per connected
    * component), LPA's labels track locally-dense neighbourhoods, so one
    * component can resolve into several communities.
    *
    * Input edges must be BIDIRECTIONAL `(src, dst)`; isolated nodes (no
    * edges) don't vote and aren't labelled. Returns `(node, label)`.
    *
    * Loop body cost (×`rounds`): one join that is exchange-free on BOTH
    * sides — the edge list is hash-partitioned and sorted by `dst` once
    * at setup and lineage-cut (the LogicalRDD keeps its
    * outputPartitioning/outputOrdering, the PageRank trick above), and
    * the label side arrives hash-partitioned by `node` as the previous
    * round's final aggregate at the same width — then a
    * `groupBy(src, label)` vote count whose exchange carries map-side-
    * combined `(node, label, cnt)` rows (duplicate neighbour labels
    * collapse before the wire; ≤ edge count, typically ≪ once
    * communities form), then the arg-max aggregate `groupBy(src)` whose
    * exchange is ≤ distinct `(node, label)` pairs. No edge ever crosses
    * an exchange after setup, no table is size-bounded, and the label
    * table is node-sized — the same plan shape holds at 10⁹ nodes. Each
    * round references its predecessor exactly ONCE, so the unsnapshotted
    * plan tower stays linear in `rounds` (the ×2-reference exponential
    * blowup that forces kCore's per-round eager snapshots can't happen
    * here).
    */
  def labelPropagation(
      spark: SparkSession,
      edges: DataFrame, // bidirectional (src, dst), Long
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val edgeCount = e0.count()
    val loopWidth = Graph.loopWidthFor(edgeCount)
    // fixed loop width + AQE off for the same reason as pageRank: the
    // working set is already measured and size-invariant across rounds,
    // and AQE's per-stage replan round-trips dominate a multi-round loop
    withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString) {
      val ew = Dedup.ckpt(
        e0.repartition(loopWidth, col("dst"))
          .sortWithinPartitions(col("dst")))
      // bidirectional edges ⇒ src alone covers every non-isolated node
      var labels = ew.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to rounds) {
        val l = labels.hint("merge")
        // arg-max by (count DESC, label ASC) as ONE max over a struct:
        // (cnt, -label) orders lexicographically, so max picks the
        // highest count and, within it, the smallest label (labels are
        // non-negative node ids; a signed-id domain would order by a
        // struct of (cnt, negated-rank) via row_number instead)
        labels = ew
          .join(l, ew("dst") === l("node"))
          .groupBy(ew("src").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl")))
            .as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
      }
      val out = Dedup.ckpt(labels)
      out.foreach(_ => ())
      out
    }
  }

  /** Hub-capped label propagation — the dense-graph variant of
    * [[labelPropagation]] (review finding r9: the raw co-purchase graph
    * degenerates under plain synchronous LPA into ONE global label
    * epidemic, because every high-degree hub re-broadcasts the minimum
    * label to its whole neighbourhood each round; the backbone
    * preprocessing sidesteps that, but a user running LPA on a raw dense
    * graph deserves a mitigation that needs no preprocessing).
    *
    * The standard hub-capping mitigation: a node of degree > `hubCap`
    * may RECEIVE votes but casts none — its edges are excluded from the
    * vote join — so epidemic super-spreaders stop re-broadcasting and
    * locally-dense pockets keep their labels (cf. Leung et al. 2009,
    * "Towards real-time community detection in large networks", whose
    * hop/degree attenuation serves the same purpose). A node whose
    * neighbours are ALL hubs keeps its previous label: every round
    * unions a zero-count self-vote per node under the arg-max, which any
    * real vote (cnt ≥ 1) beats. Deterministic (min-label ties,
    * synchronous rounds), so an oracle unrolls the same rounds as CTEs —
    * GraphSpec pins a dense fixture where plain LPA collapses to one
    * community and this variant recovers the planted two.
    *
    * `hubCap ≤ 0` = AUTO: the exact lower p90 of the degree distribution
    * — the smallest degree d with 10·|{v : deg(v) ≤ d}| ≥ 9·|V| (integer
    * comparison, no floats, so both engines pick the identical cap). A
    * fixed cap cannot survive a scale-up (the raw co-purchase graph's
    * median degree moves 1 → 6 → 60 across sf0.001 → sf0.1; a cap of 16
    * silences ~97% of sf0.1 voters and shatters the graph into
    * singletons — measured), while "silence the top decile" tracks the
    * distribution at any scale. The quantile is a histogram-crossing
    * rollup over ≤ |distinct degrees| rows (the q56 move — no global
    * sort) cross-joined as a broadcast 1-row scalar; nothing returns to
    * the driver.
    *
    * Loop body cost: identical plan shape to [[labelPropagation]] (the
    * capped edge list is hash-partitioned/sorted by `dst` once and
    * lineage-cut; votes and arg-max are the same two aggregates) plus
    * one node-sized zero-vote union per round. The degree filter is a
    * ONE-TIME aggregate + join at setup, not a per-round cost.
    */
  def labelPropagationHubCapped(
      spark: SparkSession,
      edges: DataFrame, // bidirectional (src, dst), Long
      rounds: Int,
      hubCap: Long): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val edgeCount = e0.count()
    val loopWidth = Graph.loopWidthFor(edgeCount)
    withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString) {
      // voter degrees (bidirectional edges ⇒ src-degree = full degree);
      // drop every edge whose VOTER (dst) is a hub — one setup pass
      val deg = e0.groupBy(col("src").as("nd")).agg(count(lit(1)).as("d"))
      val voters =
        if (hubCap > 0) deg.where(col("d") <= hubCap)
        else {
          // auto cap = exact lower p90: histogram over distinct degrees,
          // running cum count, first crossing of 10·cum ≥ 9·n — all
          // integers, broadcast back as a 1-row scalar
          val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
            .withColumn("cum", sum(col("c")).over(
              org.apache.spark.sql.expressions.Window.orderBy(col("d"))))
          val n1 = deg.agg(count(lit(1)).as("n_nodes"))
          val capv = hist.crossJoin(broadcast(n1))
            .where(col("cum") * 10 >= col("n_nodes") * 9)
            .agg(min(col("d")).as("cap"))
          deg.crossJoin(broadcast(capv)).where(col("d") <= col("cap"))
        }
      val ew = Dedup.ckpt(
        e0.join(voters.select(col("nd")), e0("dst") === col("nd"))
          .select(col("src"), col("dst"))
          .repartition(loopWidth, col("dst"))
          .sortWithinPartitions(col("dst")))
      var labels = e0.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      // per-round EAGER snapshot + CHAINED release (the kCore
      // convention): each round references `labels` TWICE (the vote
      // join and the zero-self-vote union), so without a cut the plan
      // doubles per round — QueryProfile at sf1 (round 11) caught
      // round-1's vote aggregate executing 2^(rounds-1) = 8 times as
      // parallel 10 s stages, 2/3 of gr09's whole wall. The snapshot
      // makes each round compute once; releasing the PREVIOUS round's
      // blocks keeps at most two label snapshots resident (the lazy
      // form re-accumulated snapshots across bench runs — kCore's
      // measured 12 s -> 52 s failure mode).
      var release: () => Unit = () => ()
      for (_ <- 1 to rounds) {
        val l = labels.hint("merge")
        val votes = ew
          .join(l, ew("dst") === l("node"))
          .groupBy(ew("src").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        val (next, nextRelease) = snapshot(votes
          .unionByName(labels.select(col("node"), col("label"),
            lit(0L).as("cnt")))
          .groupBy(col("node"))
          .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl")))
            .as("m"))
          .select(col("node"), (-col("m.nl")).as("label")))
        release()
        labels = next; release = nextRelease
      }
      val out = Dedup.ckpt(labels)
      out.foreach(_ => ())
      release()
      out
    }
  }

  /** Minimum hop distance from a seed set over a directed edge list,
    * bounded by `maxHops`: returns `(node, dist)` for every node reachable
    * in ≤ maxHops hops (seeds at dist 0). Frontier-expansion BFS — each
    * round joins ONLY the newly-reached frontier (which shrinks as the
    * reachable set saturates) against the lineage-cut edge list, then
    * anti-joins the visited set, so per-round shuffle volume is
    * O(frontier ⋈ edges), never O(n·rounds); nothing returns to the
    * driver but the per-round empty-frontier probe (a limit-1 existence
    * job, same convergence shape as [[Dedup.connectedComponents]]).
    */
  def hopDistances(
      spark: SparkSession,
      edges: DataFrame, // columns: src, dst (Long)
      seeds: DataFrame, // column: node (Long)
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    val e = Dedup.ckpt(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    var visited = Dedup.ckpt(
      seeds.select(col("node").cast("long")).distinct()
        .withColumn("dist", lit(0L)))
    var frontier = visited.select(col("node"))
    var hop = 1
    while (hop <= maxHops) {
      val next = Dedup.ckpt(
        frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(hop.toLong)))
      if (next.isEmpty) hop = maxHops + 1
      else {
        visited = Dedup.ckpt(visited.union(next))
        frontier = next.select(col("node"))
        hop += 1
      }
    }
    visited
  }
}
