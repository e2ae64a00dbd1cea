package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.QueryDef
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The judged surface: every operator family from SURVEY §2 (reference
  * word-count pipeline, relational, windows, sorts, set ops, scalar fns),
  * the streaming path, and the LLM-pipeline extensions (dedup, similarity,
  * text analysis, multimodal). Each entry pairs a Spark plan with a DuckDB
  * oracle where the semantics are SQL-expressible (hash-gated), or a
  * rows-only entry otherwise (engine-specific hashes, LSH bucketing).
  */
object SparkEntry {

  val allDefs: Map[String, QueryDef] =
    Relational.defs ++ Events.defs ++ TextQueries.defs ++
      VectorQueries.defs ++ StreamQueries.defs ++ SketchQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own query: word count, globally ordered (cnt, word).
    */
  def entry(spark: SparkSession): DataFrame =
    allDefs("wc_reference_wordcount").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, d) => k -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (engine-specific hashing) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
