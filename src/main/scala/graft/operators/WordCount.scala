package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** The reference's one and only query (SURVEY §0), rebuilt as a single
  * declarative plan:
  *
  * {{{
  * SELECT word, count(*) AS cnt
  * FROM   (tokenized, \W-stripped, lower-cased input text: word_tokens)
  * GROUP  BY word
  * ORDER  BY cnt ASC, word ASC
  * }}}
  *
  * Reference lifecycle it replaces (SURVEY §3.1): scatter
  * (`MasterNode.java:59-78`) → map+hash-shuffle (`WorkerNode.java:41-59`,
  * one message per token, no combine) → reduce (`WorkerNode.java:112-122`)
  * → min/max + log-scale range planning (`MasterNode.java:139-169`) →
  * range re-shuffle (`WorkerNode.java:129-149`) → per-partition sort
  * (`WorkerNode.java:151-156`) → gather (`MasterNode.java:187-210`).
  *
  * Spark mapping: `groupBy(word).count()` gives hash shuffle WITH map-side
  * partial aggregation (a strict upgrade over the reference's
  * one-message-per-token exchange), and `orderBy(cnt, word)` plants a
  * `RangePartitioning` exchange. Under AQE in a [[graft.core.GraftSession]],
  * [[graft.plans.RangeBoundsFromAggregate]] takes that exchange's bounds
  * from the aggregate's map stage: each map task keeps the bottom-k words
  * by hash with their partial counts, the driver sums them into exact
  * counts, and the bounds are quantiles of the REAL `(cnt, word)`
  * distribution — with no sampling job and one run of the final
  * aggregate, like the reference's closed-form planning, and better skew
  * handling than its log-scale heuristic (α=10, `MasterNode.java:157`).
  * Without AQE, Spark's sampling `RangePartitioner` plans the same order.
  * At 100 TB this is two shuffles of the *aggregated* keyspace, not the
  * token stream; AQE coalesces/splits partitions at runtime.
  */
object WordCount {

  /** Core transform: text column → (word, cnt), unsorted. */
  def counts(df: DataFrame, textCol: String = "value"): DataFrame = {
    df.select(explode(wordTokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Full reference query: counts + global total order (cnt ASC, word ASC —
    * `WorkerNode.java:153-155`).
    */
  def run(df: DataFrame, textCol: String = "value"): DataFrame =
    counts(df, textCol).orderBy(col("cnt").asc, col("word").asc)

  /** Reference entry point O1: multi-file text scan (implicit UNION ALL of
    * documents — `MainMaster.java:4-11`). Line-boundary splits, so the
    * char-offset chunk-splitting bug (`MasterNode.java:70-74`, SURVEY
    * §2.10.1) is deliberately not reproduced.
    */
  def fromTextFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    run(spark.read.text(paths: _*))

  /** O16 `KEEP_LOCAL` sink: one part file per range partition, globally
    * ordered across files — the idiomatic distributed sink. The reference's
    * `EXPLICIT` gather-to-master mode (`MasterNode.java:187-210`) is a
    * driver `collect` and intentionally not offered at scale.
    */
  def writeSorted(df: DataFrame, out: String, textCol: String = "value"): Unit =
    run(df, textCol)
      .select(concat(col("word"), lit(": "), col("cnt")).as("value"))
      .write.mode("overwrite").text(out)

  /** O16 `EXPLICIT` gather parity (`MasterNode.java:187-210`,
    * `Config.java:14-16`): the reference's other sink mode concatenates
    * every worker's sorted block into ONE driver-side file. That is a
    * driver `collect` — the anti-pattern [[writeSorted]] exists to
    * avoid — so this form is opt-in and SMALL-OUTPUT ONLY, guarded by
    * `maxRows`. The fetch itself is bounded (`limit(maxRows + 1)` plants
    * a TakeOrderedAndProject, so at most maxRows+1 rows ever reach the
    * driver even when the guard is about to fire) and the guard failure
    * names the distributed alternative. Output lines are the reference's
    * `final_result.txt` body in its exact global (cnt ASC, word ASC)
    * order, minus the per-worker "Node i" banners — those leak the
    * worker count, an execution detail, not query semantics.
    */
  def collectSorted(df: DataFrame, textCol: String = "value",
      maxRows: Int = 65536): Seq[String] = {
    val rows = run(df, textCol).limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"EXPLICIT gather pulled > $maxRows rows to the driver; use " +
        "writeSorted (the KEEP_LOCAL distributed sink) for large results " +
        "or raise maxRows deliberately")
    rows.toSeq.map(r => s"${r.getString(0)}: ${r.getLong(1)}")
  }
}
