package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for graft's native Catalyst expressions, exposed two ways:
  *
  *  - `SparkSessionExtensions` (config
  *    `spark.sql.extensions=graft.functions.GraftExtensions`, or
  *    `builder.withExtensions(new GraftExtensions)`) — the deployment path:
  *    every session built from the config gets the functions;
  *  - [[GraftExtensions.register]] — imperative registration on an already
  *    built session (the harness's Verify session is built externally).
  *
  * Both feed the same (name, builder) table, so `spark.sql("SELECT
  * fnv64(text) ...")` plans the identical codegen'd expression as the
  * Column API.
  *
  * The extension path also injects the plan rules (not `register`):
  *  - `RangeJoinRule` and `PruneShuffledFanOut` (optimizer);
  *  - [[graft.plans.RangeBoundsFromAggregate]] (AQE query-stage
  *    preparation): `ORDER BY` over `GROUP BY ... count` takes its range
  *    bounds from the aggregate's map stage instead of a sampling job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // naive non-equi BETWEEN joins → bin-keyed equi-joins (no nested loop)
    ext.injectOptimizerRule(graft.plans.RangeJoinRule.apply)
    // drop the fixture fan-out repartition when its consumer shuffles anyway
    ext.injectOptimizerRule(graft.plans.PruneShuffledFanOut.apply)
    // ORDER BY over GROUP BY: range bounds from the aggregate's map side,
    // no sampling job (AQE query-stage preparation)
    ext.injectQueryStagePrepRule(graft.plans.RangeBoundsFromAggregate.apply)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", name, usage)

  /** (name, info, builder) rows shared by both registration paths. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("fnv64", info("fnv64", "fnv64(str) - 64-bit FNV-1a over code points"),
      { case Seq(s) => Fnv64(s) }),
    ("simhash64", info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      { case Seq(t) => SimHash64(t) }),
    ("minhash_sig", info("minhash_sig", "minhash_sig(tokens, k) - k-slot MinHash signature"),
      { case Seq(t, k) => MinHashSig(t, intLit(k, "k")) }),
    ("minhash_buckets", info("minhash_buckets",
      "minhash_buckets(tokens, bands, rowsPerBand) - LSH band bucket keys"),
      { case Seq(t, b, r) =>
        MinHashBuckets(t, intLit(b, "bands"), intLit(r, "rowsPerBand")) }),
    ("first_eq_index", info("first_eq_index",
      "first_eq_index(a, b) - first position where two bigint arrays agree"),
      { case Seq(a, b) => FirstEqIndex(a, b) }),
    ("sorted_intersect_size", info("sorted_intersect_size",
      "sorted_intersect_size(a, b) - |A∩B| of two sorted bigint arrays"),
      { case Seq(a, b) => SortedIntersectSize(a, b) }),
    ("cosine_sim", info("cosine_sim", "cosine_sim(a, b) - cosine of two double arrays"),
      { case Seq(a, b) => CosineSim(a, b) }),
    ("srp_bucket", info("srp_bucket",
      "srp_bucket(vec, nPlanes, planeOffset) - sign-random-projection LSH bucket"),
      { case Seq(v, p, o) =>
        SrpBucket(v, intLit(p, "nPlanes"), intLit(o, "planeOffset")) }),
    ("nfc_normalize", info("nfc_normalize",
      "nfc_normalize(str) - Unicode NFC (canonical composition) form"),
      { case Seq(s) => NfcNormalize(s) }),
    ("word_tokens", info("word_tokens",
      "word_tokens(str) - whitespace-split, \\W-stripped, lower-cased non-empty tokens"),
      { case Seq(s) => WordTokens(s) }),
    ("winnow_fps", info("winnow_fps",
      "winnow_fps(tokens, k, w) - winnowing fingerprint set (k-gram FNV window minima)"),
      { case Seq(t, k, w) => WinnowFps(t, intLit(k, "k"), intLit(w, "w")) }))

  /** Register every graft function on an existing session (idempotent —
    * re-registration overwrites with the same builder).
    */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
