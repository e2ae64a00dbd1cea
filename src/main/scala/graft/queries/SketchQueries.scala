package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}
import graft.functions.{HashExprs, TextFunctions}
import graft.operators.Sketches

/** Mergeable-sketch surface ([[graft.operators.Sketches]]): HyperLogLog
  * vocabulary sizing, KMV cross-source overlap, Count-Min heavy-hitter
  * frequency — the bounded-size summaries a 100 TB corpus run computes
  * instead of exact distinct/join/count answers.
  *
  * Gating convention: the sketch CONTENT is integer-only and built on the
  * repo's cross-engine-pinned FNV-1a-64 ([[TextQueries.fnvFoldSql]]), so
  * every gated column hash-matches DuckDB bit-for-bit. Each query also
  * carries the EXACT answer alongside the sketch answer — the ann12
  * pattern: the exact side is the audit contrast (fixture-affordable,
  * deliberately corpus-linear/quadratic), the sketch side is the 100 TB
  * path.
  */
object SketchQueries {

  /** Slots for [[TextQueries.persistSwap]] (one per cached sketch): sx02
    * consumes the KMV sketch from BOTH sides of the pair join, and the
    * renamed aliases defeat ReuseExchange, so without a cache boundary the
    * whole tokenize→hash→TopK chain runs twice (verified in the plan
    * dump). Each invocation releases its predecessor's blocks;
    * [[releaseCaches]] drops the slots between timed bench runs.
    */
  private val lastKmvCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private val lastSketchCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Release the swap-tracked sketch caches (called by perfbench's
    * `Probe` between timed runs, like TextQueries/Graph.releaseCaches).
    */
  def releaseCaches(): Unit = TextQueries.releaseSlots(lastKmvCache, lastSketchCache)

  /** Whitespace-token split of the null-guarded, lowercased text —
    * `TextFunctions.tokenize` parity (dd05 oracle recipe).
    */
  private val toksSqlCte =
    """toks AS (
      |  SELECT doc_id, source,
      |    string_split_regex(trim(lower(coalesce(text,''))), '[\t\n\x0B\f\r ]+') AS tk
      |  FROM documents)""".stripMargin

  /** Word n-gram rows mirroring [[TextFunctions.wordNgrams]] (incl. the
    * "fewer than n tokens → whole text as one gram" branch) with empty
    * grams dropped.
    */
  private def gramsSqlCte(n: Int, distinctPerSource: Boolean): String = {
    val slice = (0 until n).map(j => s"tk[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    val sel   = if (distinctPerSource) "SELECT DISTINCT source, g" else "SELECT doc_id, source, g"
    s"""grams AS (
       |  $sel FROM (
       |    SELECT doc_id, source, unnest(
       |      CASE WHEN len(tk) < $n THEN [array_to_string(tk, ' ')]
       |           ELSE list_transform(generate_series(1, len(tk) - ${n - 1}),
       |                  i -> $slice) END) AS g
       |    FROM toks) t
       |  WHERE length(g) > 0)""".stripMargin
  }

  /** Spark-side mirror of [[gramsSqlCte]]. */
  private def gramCol(n: Int) =
    TextFunctions.wordNgrams(lower(coalesce(col("text"), lit(""))), n)

  /** DuckDB mirror of [[graft.functions.HashImpl.fnvMix64]] (murmur3 fmix64 over the FNV
    * fold, HUGEINT in [0, 2^64)). The 64×64-bit multiplies are split into
    * 32-bit halves because int128 cannot hold a full 2^64·2^64 product:
    * (m·c) mod 2^64 = (m·c_lo + ((m·c_hi) mod 2^32)·2^32) mod 2^64.
    * `h0` must be a COLUMN NAME from an enclosing CTE (the expression
    * duplicates its argument; inlining the fold text would blow up).
    */
  private[queries] def mixSqlExpr(h0: String): String = {
    def xs(e: String) = s"xor(($e)::UBIGINT, (($e) >> 33)::UBIGINT)::HUGEINT"
    def mul(e: String, c: BigInt) = {
      val hi = c >> 32; val lo = c & 0xffffffffL
      s"((($e) * ${lo}::HUGEINT) % 18446744073709551616::HUGEINT" +
        s" + (((($e) * ${hi}::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT))" +
        " % 18446744073709551616::HUGEINT"
    }
    xs(mul(xs(mul(xs(h0), BigInt("18397679294719823053"))),
      BigInt("14181476777654086739")))
  }

  // ---------------------------------------------------------------------
  // sx01 — Count-Min heavy-hitter frequency (d=4, w=1024, word bigrams)
  // ---------------------------------------------------------------------

  private val CmsD = 4
  private val CmsW = 1024

  /** CMS frequency estimates for the 100 most frequent word bigrams vs
    * their true counts ([[Sketches.cmsSketch]]/[[Sketches.cmsLookup]]).
    * est_cnt >= true_cnt always (min over d counters, each an
    * overestimate); the gap IS the sketch error, gated exactly because
    * both engines hash the same cells. The sketch is d·w = 4096 counter
    * rows however large the corpus — the probe join broadcasts it.
    */
  private def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir).documents
      .select(explode(gramCol(2)).as("g"))
      .where(length(col("g")) > 0)
    // ONE corpus tokenize+count pass serves both the sketch and the
    // probes: the sketch cells are Σ per-gram counts
    // ([[Sketches.cmsSketchFromCounts]] — identical cells by sum
    // commutativity), so both consumers sit above the same groupBy(g)
    // aggregate and ReuseExchange shares its shuffle. Before (r12
    // baseline plan): two Scan→Generate→HashAggregate corpus passes,
    // 2.8 s; the second pass re-tokenized every document just to
    // re-count occurrences the first pass had already grouped.
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("true_cnt"))
    val sketch = Sketches.cmsSketchFromCounts(
      counts, col("g"), col("true_cnt"), CmsD, CmsW)
    val probes = counts
      .orderBy(col("true_cnt").desc, col("g"))
      .limit(100)
      .withColumnRenamed("g", "gram")
    Sketches.cmsLookup(sketch, probes, col("gram"), CmsD, CmsW)
      .select(col("gram"), col("true_cnt"), col("est_cnt"))
      .orderBy(col("true_cnt").desc, col("gram"))
  }
  private val cmsFreqSql = {
    def fnvOf(c: String) = TextQueries.fnvFoldSql(c)
    s"""WITH $toksSqlCte,
       |${gramsSqlCte(2, distinctPerSource = false)},
       |hashed0 AS (
       |  SELECT g, ${fnvOf("g")} AS h0a, ${fnvOf("concat(g, chr(1))")} AS h0b
       |  FROM (SELECT g FROM grams)),
       |hashed AS (
       |  SELECT g, ${mixSqlExpr("h0a")} AS h1, ${mixSqlExpr("h0b")} AS h2
       |  FROM hashed0),
       |cells AS (
       |  SELECT s, ((h1 + s * h2) % $CmsW)::BIGINT AS idx, count(*)::BIGINT AS cnt
       |  FROM hashed, (SELECT unnest([0,1,2,3]) AS s)
       |  GROUP BY 1, 2),
       |truec AS (SELECT g, count(*)::BIGINT AS true_cnt FROM grams GROUP BY g),
       |probes AS (
       |  SELECT g AS gram, true_cnt FROM (
       |    SELECT g, true_cnt,
       |      row_number() OVER (ORDER BY true_cnt DESC, g) AS rn FROM truec)
       |  WHERE rn <= 100),
       |probeh AS (
       |  SELECT gram, true_cnt, ${fnvOf("gram")} AS p0a,
       |    ${fnvOf("concat(gram, chr(1))")} AS p0b
       |  FROM probes),
       |probemix AS (
       |  SELECT gram, true_cnt, ${mixSqlExpr("p0a")} AS h1,
       |    ${mixSqlExpr("p0b")} AS h2
       |  FROM probeh),
       |probecells AS (
       |  SELECT p.gram, p.true_cnt, s.s,
       |    ((p.h1 + s.s * p.h2) % $CmsW)::BIGINT AS idx
       |  FROM probemix p, (SELECT unnest([0,1,2,3]) AS s) s)
       |SELECT pc.gram, max(pc.true_cnt) AS true_cnt, min(c.cnt) AS est_cnt
       |FROM probecells pc JOIN cells c ON c.s = pc.s AND c.idx = pc.idx
       |GROUP BY pc.gram ORDER BY true_cnt DESC, gram""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sx02 — KMV pairwise source overlap (k=128, word trigrams)
  // ---------------------------------------------------------------------

  private val KmvK = 128

  /** Pairwise trigram-vocabulary overlap between every two sources, in
    * sketch space ([[Sketches.kmvSketch]]/[[Sketches.kmvOverlap]]): the
    * Jaccard estimate comes from merging two 128-hash sketches — the
    * corpora themselves are never joined. `exact_common` is the audit
    * contrast (a full gram-equality join, deliberately corpus-bound);
    * the sketch columns are the 100 TB path.
    */
  private def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val grams = docs
      .select(col("source"), explode(gramCol(3)).as("g"))
      .where(length(col("g")) > 0)
    // ONE corpus pass serves BOTH the KMV sketch and the exact audit
    // (guide §2.4/§1.2 "how many full passes are unavoidable": one).
    // History: the r12-baseline exact side self-joined grams.distinct()
    // (the optimizer broadcast the full multi-million-row trigram set);
    // r12 switched to groupBy(g).agg(sort_array(collect_set(source))) +
    // in-set pair expansion — structurally better, but still ran a
    // SECOND full tokenize pass for the sketch and built one string-set
    // object per distinct gram, the bench's worst GC amplifier at
    // local[32] (29.3 s in the judged full bench vs 2.9 s solo).
    //
    // Now: sources are a SMALL domain (a corpus has tens of ingest
    // feeds), so each distinct gram's source set is a BITMASK in one
    // long — groupBy(g).agg(bit_or(1L << src_idx)) is a primitive-long
    // hash aggregate with zero per-group object allocation, fully
    // whole-stage-codegen. The cached pass output is (h = hash64(g),
    // mask) — 16 bytes per distinct gram, no strings retained:
    //  - sketch side: explode mask bits back to (source, h) via a
    //    broadcast bit-test join, distinct, TopKPerKey — identical to
    //    kmvSketch's (source, hash64(g)) distinct stream, because masks
    //    are built per distinct STRING gram and h is applied before any
    //    hash-collision-sensitive step, matching the oracle's
    //    `SELECT DISTINCT source, h` exactly.
    //  - exact side: distinct masks collapse to a counted table
    //    (≤ 2^|sources| rows, in practice a few hundred), and
    //    exact_common(a,b) = Σ cnt over masks with bits a AND b set —
    //    a broadcast of the 190-row pair table against the tiny mask
    //    table. Integer-only; the gram strings cross exactly ONE
    //    exchange in the whole query (exactness needs the string key).
    //
    // fail-loud bound: one long holds 64 source bits. A corpus with
    // more ingest feeds must fall back to a set representation; a
    // silent Java shift wraparound (shift count mod 64) would produce
    // WRONG overlaps. The check rides the 20-row srcIdx plan — zero
    // cost on the happy path, raise_error on violation.
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("idx",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("source"))) - 1).cast("int"))
      .withColumn("idx", when(col("idx") < 64, col("idx"))
        .otherwise(raise_error(
          lit("sx02 bitmask exact overlap supports at most 64 sources"))
          .cast("int")))
    val masks = TextQueries.persistSwap(lastKmvCache, grams
      .join(broadcast(srcIdx), "source")
      .groupBy(col("g"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), idx)")).as("mask"))
      .select(Sketches.hash64(col("g")).as("h"), col("mask")))
    // Per-source sketch as ONE sorted ≤k-element array row: TopKPerKey
    // bounds what crosses the exchange (k rows per source however large
    // the vocabulary — the 100 TB posture), then the pairwise overlap
    // math runs on a 20-row table of 128-long arrays — a single tiny
    // self-join with codegen'd array expressions, replacing
    // [[Sketches.kmvOverlap]]'s 4-exchange union/groupBy/window pipeline
    // for this query (at sf0.1 every exchange is a fixed-latency AQE
    // query stage; the operator form stays for callers that need the
    // row-shaped sketch). Semantics are the oracle's `kmv` CTE verbatim:
    // union the two sketches, dedup, keep the k smallest (slice of the
    // sorted union), count survivors present in both sides.
    val skArr = TextQueries.persistSwap(lastSketchCache,
      graft.plans.TopKPerKey.perKey(
        masks.join(broadcast(srcIdx), expr("(shiftright(mask, idx) & 1) = 1"))
          .select(col("source"), col("h"))
          .distinct(),
        Seq("source"), Seq(("h", false)), KmvK)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("hs")))
    val uni = slice(array_sort(array_union(col("ha"), col("hb"))), 1, KmvK)
    val est = skArr.select(col("source").as("src_a"), col("hs").as("ha"))
      .join(skArr.select(col("source").as("src_b"), col("hs").as("hb")),
        col("src_a") < col("src_b"))
      .withColumn("uni", uni)
      .select(col("src_a"), col("src_b"),
        size(col("uni")).cast("long").as("n_union_k"),
        element_at(col("uni"), size(col("uni"))).as("kth_min"),
        size(array_intersect(array_intersect(col("uni"), col("ha")),
          col("hb"))).cast("long").as("n_common"))
      .withColumn("est_jacc_bp",
        floor(lit(10000) * col("n_common") / col("n_union_k")).cast("long"))
    val maskCnt = masks.groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val pairTab = srcIdx.select(col("source").as("src_a"), col("idx").as("ia"))
      .join(srcIdx.select(col("source").as("src_b"), col("idx").as("ib")),
        col("src_a") < col("src_b"))
    val exact = maskCnt
      .join(broadcast(pairTab),
        expr("(shiftright(mask, ia) & 1) = 1 AND (shiftright(mask, ib) & 1) = 1"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("cnt")).as("exact_common"))
    est.join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_union_k"), col("kth_min"),
        col("n_common"), col("est_jacc_bp"),
        coalesce(col("exact_common"), lit(0L)).as("exact_common"))
      .orderBy(col("src_a"), col("src_b"))
  }
  private val kmvOverlapSql = {
    val h = TextQueries.fnvFoldSql("g")
    s"""WITH $toksSqlCte,
       |${gramsSqlCte(3, distinctPerSource = true)},
       |hashed0 AS (SELECT source, $h AS h0 FROM grams),
       |mixed AS (SELECT source, ${mixSqlExpr("h0")} AS hm FROM hashed0),
       |hashed AS (
       |  SELECT DISTINCT source,
       |    (CASE WHEN hm >= 9223372036854775808::HUGEINT
       |          THEN hm - 18446744073709551616::HUGEINT ELSE hm END)::BIGINT AS h
       |  FROM mixed),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM hashed) WHERE rn <= $KmvK),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM (SELECT DISTINCT source FROM sk) a
       |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
       |cand AS (
       |  SELECT src_a, src_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
       |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
       |    FROM pairs p JOIN sk s ON s.source = p.src_a
       |    UNION ALL
       |    SELECT p.src_a, p.src_b, s.h, 0, 1
       |    FROM pairs p JOIN sk s ON s.source = p.src_b)
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
       |  FROM cand),
       |kmv AS (
       |  SELECT src_a, src_b, count(*)::BIGINT AS n_union_k, max(h) AS kth_min,
       |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_common
       |  FROM ranked WHERE rn <= $KmvK GROUP BY 1, 2),
       |exact AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS exact_common
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT k.src_a, k.src_b, k.n_union_k, k.kth_min, k.n_common,
       |  (10000 * k.n_common // k.n_union_k)::BIGINT AS est_jacc_bp,
       |  coalesce(e.exact_common, 0)::BIGINT AS exact_common
       |FROM kmv k LEFT JOIN exact e ON e.src_a = k.src_a AND e.src_b = k.src_b
       |ORDER BY k.src_a, k.src_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sx03 — HLL vocabulary size per source (p=9, word trigrams)
  // ---------------------------------------------------------------------

  private val HllP = 9

  /** Per-source distinct-trigram HLL sketch summary vs the exact distinct
    * count ([[Sketches.hllRegisters]]): n_set/max_rank/sum_rank summarize
    * the 512 registers and regs_fp fingerprints their full content
    * (FNV over the sorted "reg:rank" list), so the sketch is bit-gated
    * without emitting 512 rows per source. `exact_distinct` is the audit
    * contrast; the float HLL estimate ([[Sketches.hllEstimate]]) is
    * spec-gated in SketchSpec (within ~1.04/sqrt(m) of exact).
    */
  private def hllVocab(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir).documents
      .select(col("source"), explode(gramCol(3)).as("g"))
      .where(length(col("g")) > 0)
    // ONE tokenize pass (r13; guide §1.2/§2.4): the r12 form tokenized
    // the corpus twice — once for the register build, once for the
    // exact-distinct audit. Both sides need per-(source, g) DISTINCT
    // semantics (max(rank) is idempotent over duplicates, so a
    // pre-distinct is harmless to the sketch and required by the
    // audit), so both now read the same checkpointed distinct pass:
    // the gram strings are tokenized once and cross one exchange once.
    // At 100 TB the sketch-only path would skip the distinct (that IS
    // the sketch's point) — but this query carries the exact audit
    // column by definition, so the distinct exchange is already its
    // floor; sharing it is strictly less work.
    val sg = graft.operators.Dedup.ckpt(grams.distinct())
    val regs = Sketches.hllRegisters(sg, col("g"), Seq("source"), HllP)
    val summary = hllSummary(regs, "source")
    val exact = sg.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    summary.join(exact, "source")
      .select(col("source"), col("n_set"), col("max_rank"), col("sum_rank"),
        col("regs_fp"), col("exact_distinct"))
      .orderBy(col("source"))
  }
  /** SQL CTE chain `hashed0 → hashed → regs → summary → fp` computing the
    * p=9 HLL register table and its fingerprint summary over `(grp,
    * keyExpr)` rows from CTE `srcCte` — the DuckDB mirror of
    * [[Sketches.hllRegisters]] + [[hllSummary]], shared by sx03 and the
    * streaming st26.
    */
  private[queries] def hllRegsSummaryCtes(srcCte: String, grp: String,
      keyExpr: String): String = {
    val suffixBits = 64 - HllP           // 55
    val suffixMod  = 1L << suffixBits    // 2^55
    s"""hashed0 AS (SELECT $grp, ${TextQueries.fnvFoldSql(keyExpr)} AS h0 FROM $srcCte),
       |hashed AS (SELECT $grp, ${mixSqlExpr("h0")} AS h FROM hashed0),
       |regs AS (
       |  SELECT $grp, (h >> $suffixBits)::INT AS reg,
       |    max(CASE WHEN h % $suffixMod::HUGEINT = 0 THEN ${suffixBits + 1}
       |         ELSE ${suffixBits + 1}
       |              - length(bin((h % $suffixMod::HUGEINT)::UBIGINT)) END)::INT AS r
       |  FROM hashed GROUP BY 1, 2),
       |summary AS (
       |  SELECT $grp, count(*)::BIGINT AS n_set, max(r)::BIGINT AS max_rank,
       |    sum(r)::BIGINT AS sum_rank,
       |    array_to_string(list_sort(list(concat(reg::VARCHAR, ':', r::VARCHAR))), ',') AS js
       |  FROM regs GROUP BY $grp),
       |fp AS (
       |  SELECT $grp, n_set, max_rank, sum_rank,
       |    ${TextQueries.fnvFoldSql("js")} AS h
       |  FROM summary)""".stripMargin
  }

  /** Spark-side fingerprint summary of a register table — one row per
    * group: set-register count, max/sum rank, and an FNV fingerprint of
    * the full sorted register content (bit-gates the sketch without
    * emitting m rows per group). Mirror of the `summary`/`fp` CTEs.
    */
  private[queries] def hllSummary(regs: DataFrame, grp: String): DataFrame =
    regs.groupBy(col(grp))
      .agg(
        count(lit(1)).as("n_set"),
        max(col("max_rank")).cast("long").as("max_rank"),
        sum(col("max_rank")).as("sum_rank"),
        HashExprs.fnv64(array_join(sort_array(collect_list(
          concat_ws(":", col("reg").cast("string"), col("max_rank").cast("string")))),
          ",")).as("regs_fp"))

  private val hllVocabSql =
    s"""WITH $toksSqlCte,
       |${gramsSqlCte(3, distinctPerSource = true)},
       |${hllRegsSummaryCtes("grams", "source", "g")},
       |exact AS (SELECT source, count(DISTINCT g)::BIGINT AS exact_distinct
       |          FROM grams GROUP BY source)
       |SELECT f.source, f.n_set, f.max_rank, f.sum_rank,
       |  ${TextQueries.fnvSignSql} AS regs_fp, e.exact_distinct
       |FROM fp f JOIN exact e ON e.source = f.source
       |ORDER BY f.source""".stripMargin

  // ---------------------------------------------------------------------
  // sx04 — Bloom membership filter (m=2^16 bits, d=5, word trigrams)
  // ---------------------------------------------------------------------

  private val BloomM = 65536
  private val BloomD = 5

  /** Bloom-filter membership of 100 probe grams against the corpus
    * trigram set ([[Sketches.bloomBits]]/[[Sketches.bloomProbe]]): the 50
    * most frequent trigrams (all inserted — `maybe` MUST be true, the
    * no-false-negative guarantee) plus their §-suffixed twins (never in
    * the corpus — the tokenizer splits on whitespace and the fixture text
    * is ASCII words, so `present` is exact truth by construction; any
    * `maybe=true` among them IS the filter's false-positive rate, gated
    * exactly because both engines set the same bits). The filter is at
    * most mBits/64 = 1024 word rows however large the corpus — the probe
    * join broadcasts it.
    */
  private def bloomContain(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir).documents
      .select(explode(gramCol(3)).as("g"))
      .where(length(col("g")) > 0)
    // ONE tokenize pass (r13, the sx01 cmsSketchFromCounts move): the
    // filter's bit_or is idempotent over duplicate grams, so building
    // it from the (g, cnt) aggregate's distinct keys sets exactly the
    // same bits as building it from the raw occurrence stream — and the
    // top-50 probes need that aggregate anyway, so ReuseExchange shares
    // the single corpus pass instead of tokenizing twice. The
    // `cnt > 0` predicate is a REUSE GUARD, not a filter (count(*) per
    // group is ≥ 1 by construction): without a reference to cnt,
    // column pruning rewrites the filter branch's aggregate to a bare
    // distinct whose exchange no longer matches the probes branch's
    // count aggregate, and the executed plan runs TWO tokenize towers
    // again (caught in plans/r13/sx04_bloom_contain_after.txt, first
    // attempt).
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val filter = Sketches.bloomBits(
      counts.where(col("cnt") > 0), col("g"), BloomM, BloomD)
    val top = counts
      .orderBy(col("cnt").desc, col("g"))
      .limit(50)
    // one 2-element explode per top row instead of unionAll of two
    // selects off `top`: the union form REBUILDS the whole
    // tokenize→count→top-50 tower once per branch (plan-verified)
    val probes = top.select(explode(array(
        struct(col("g").as("gram"), lit(true).as("present")),
        struct(concat(col("g"), lit("§")).as("gram"),
          lit(false).as("present")))).as("p"))
      .select(col("p.gram").as("gram"), col("p.present").as("present"))
    Sketches.bloomProbe(filter, probes, col("gram"), BloomM, BloomD)
      .select(col("gram"), col("present"), col("maybe"))
      .orderBy(col("present").desc, col("gram"))
  }
  private val bloomContainSql = {
    def fnvOf(c: String) = TextQueries.fnvFoldSql(c)
    val sSet = (0 until BloomD).mkString("[", ",", "]")
    s"""WITH $toksSqlCte,
       |${gramsSqlCte(3, distinctPerSource = false)},
       |keys AS (SELECT DISTINCT g FROM grams),
       |hashed0 AS (
       |  SELECT g, ${fnvOf("g")} AS h0a, ${fnvOf("concat(g, chr(1))")} AS h0b
       |  FROM keys),
       |hashed AS (
       |  SELECT g, ${mixSqlExpr("h0a")} AS h1, ${mixSqlExpr("h0b")} AS h2
       |  FROM hashed0),
       |pos AS (
       |  SELECT ((h1 % $BloomM + s.s * (h2 % $BloomM)) % $BloomM)::BIGINT AS pos
       |  FROM hashed, (SELECT unnest($sSet) AS s) s),
       |words AS (
       |  SELECT pos // 64 AS word, bit_or(1::UBIGINT << (pos % 64)::INT) AS bits
       |  FROM pos GROUP BY 1),
       |truec AS (SELECT g, count(*)::BIGINT AS cnt FROM grams GROUP BY g),
       |top AS (
       |  SELECT g FROM (
       |    SELECT g, row_number() OVER (ORDER BY cnt DESC, g) AS rn FROM truec)
       |  WHERE rn <= 50),
       |probes AS (
       |  SELECT g AS gram, true AS present FROM top
       |  UNION ALL
       |  SELECT concat(g, '§'), false FROM top),
       |probeh AS (
       |  SELECT gram, present, ${fnvOf("gram")} AS p0a,
       |    ${fnvOf("concat(gram, chr(1))")} AS p0b
       |  FROM probes),
       |probemix AS (
       |  SELECT gram, present, ${mixSqlExpr("p0a")} AS h1,
       |    ${mixSqlExpr("p0b")} AS h2
       |  FROM probeh),
       |probecells AS (
       |  SELECT gram, present,
       |    ((h1 % $BloomM + s.s * (h2 % $BloomM)) % $BloomM)::BIGINT AS pos
       |  FROM probemix, (SELECT unnest($sSet) AS s) s)
       |SELECT pc.gram, pc.present,
       |  (min(coalesce((w.bits >> (pc.pos % 64)::INT) & 1::UBIGINT, 0::UBIGINT))
       |     = 1::UBIGINT) AS maybe
       |FROM probecells pc LEFT JOIN words w ON w.word = pc.pos // 64
       |GROUP BY pc.gram, pc.present
       |ORDER BY pc.present DESC, pc.gram""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sx05 — bottom-k sample quantiles (k=256, event value cents)
  // ---------------------------------------------------------------------

  private[queries] val SampleK = 256

  /** Per-event-type value quantiles from a bottom-k uniform-hash sample
    * ([[Sketches.sampleSketch]]/[[Sketches.sampleQuantiles]]) — the
    * rank/quantile slot of the sketch family as a mergeable integer
    * TABLE (where q32/q58 gate an engine-opaque GK estimate, this
    * sample is bit-identical cross-engine: the DuckDB oracle builds the
    * SAME 256 rows and reads the SAME order statistics). `exact_p*` are
    * the audit contrast (full per-group sort, deliberately corpus-
    * bound); the sketch columns are the 100 TB path — k rows per group
    * cross the exchange however large the corpus, and the sample is
    * re-aggregable across shards ([[Sketches.sampleMerge]], law pinned
    * in SketchesSpec).
    */
  private def sampleQuantilesQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Tables(spark, dir).events
      .where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v_cents"))
    val sketch = Sketches.sampleSketch(ev, col("event_id").cast("string"),
      col("v_cents"), "event_type", SampleK)
    val est = Sketches.sampleQuantiles(sketch, "event_type", Seq(5000, 9000, 9900))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v_cents"), col("event_id"))
    val exact = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === expr("(n * 5000 + 9999) div 10000"), col("v_cents"))).as("exact_p50_cents"),
        max(when(col("rn") === expr("(n * 9000 + 9999) div 10000"), col("v_cents"))).as("exact_p90_cents"),
        max(when(col("rn") === expr("(n * 9900 + 9999) div 10000"), col("v_cents"))).as("exact_p99_cents"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_sample"),
        col("est_q5000").as("est_p50_cents"),
        col("est_q9000").as("est_p90_cents"),
        col("est_q9900").as("est_p99_cents"),
        col("exact_p50_cents"), col("exact_p90_cents"), col("exact_p99_cents"))
      .orderBy(col("event_type"))
  }

  /** CTE chain `ev → … → sk` building the bottom-k (h, v) sample per
    * event_type in DuckDB — shared by sx05 and the streaming st35.
    */
  private[queries] val sampleSketchCtes =
    s"""ev AS (
       |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |h0 AS (SELECT event_type, v,
       |         ${TextQueries.fnvFoldSql("event_id::VARCHAR")} AS h0 FROM ev),
       |hm AS (SELECT event_type, v, ${mixSqlExpr("h0")} AS hm FROM h0),
       |hh AS (
       |  SELECT event_type, v,
       |    (CASE WHEN hm >= 9223372036854775808::HUGEINT
       |          THEN hm - 18446744073709551616::HUGEINT ELSE hm END)::BIGINT AS h
       |  FROM hm),
       |sk AS (
       |  SELECT event_type, h, v FROM (
       |    SELECT event_type, h, v,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rn
       |    FROM hh) WHERE rn <= $SampleK)""".stripMargin

  /** CTE `est` reading the ceil-rank order statistics off `sk`. */
  private[queries] val sampleEstCte =
    """sr AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM sk),
      |est AS (
      |  SELECT event_type, max(n)::BIGINT AS n_sample,
      |    max(CASE WHEN rn = (n * 5000 + 9999) // 10000 THEN v END) AS est_p50_cents,
      |    max(CASE WHEN rn = (n * 9000 + 9999) // 10000 THEN v END) AS est_p90_cents,
      |    max(CASE WHEN rn = (n * 9900 + 9999) // 10000 THEN v END) AS est_p99_cents
      |  FROM sr GROUP BY event_type)""".stripMargin

  private val sampleQuantilesSql =
    s"""WITH $sampleSketchCtes,
       |$sampleEstCte,
       |er AS (
       |  SELECT event_type, v,
       |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM ev),
       |ex AS (
       |  SELECT event_type,
       |    max(CASE WHEN rn = (n * 5000 + 9999) // 10000 THEN v END) AS exact_p50_cents,
       |    max(CASE WHEN rn = (n * 9000 + 9999) // 10000 THEN v END) AS exact_p90_cents,
       |    max(CASE WHEN rn = (n * 9900 + 9999) // 10000 THEN v END) AS exact_p99_cents
       |  FROM er GROUP BY event_type)
       |SELECT e.event_type, e.n_sample,
       |  e.est_p50_cents, e.est_p90_cents, e.est_p99_cents,
       |  x.exact_p50_cents, x.exact_p90_cents, x.exact_p99_cents
       |FROM est e JOIN ex x USING (event_type)
       |ORDER BY e.event_type""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "sx05_sample_quantiles" -> QueryDef(sampleQuantilesQ, Some(sampleQuantilesSql)),
    "sx01_cms_freq"    -> QueryDef(cmsFreq, Some(cmsFreqSql)),
    "sx02_kmv_overlap" -> QueryDef(kmvOverlap, Some(kmvOverlapSql)),
    "sx03_hll_vocab"   -> QueryDef(hllVocab, Some(hllVocabSql)),
    "sx04_bloom_contain" -> QueryDef(bloomContain, Some(bloomContainSql)))
}
