package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One judged query: a Spark plan plus (when SQL-expressible) the DuckDB
  * oracle that must hash-match it on the same parquet tables.
  *
  * Parity rules used throughout (see SURVEY §5.2(4)):
  *  - All DOUBLE aggregates are computed in DECIMAL (the fixture doubles
  *    have exact 2-decimal granularity — verified against the parquet) and
  *    cast to DOUBLE at the end, so Spark and DuckDB produce bit-identical
  *    doubles regardless of summation order.
  *  - Averages are `castDouble(sum) / castDouble(count)` — one IEEE
  *    division of identical operands, never engine-native decimal division.
  *  - Every query ends in a total ORDER BY (a unique key of the output) so
  *    row order is deterministic on both sides.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Exact-decimal view of a 2-decimal-granularity DOUBLE column. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Exact decimal sum surfaced as DOUBLE (bit-identical cross-engine). */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact average: double division of exact sum by exact count. */
  def davg(c: Column): Column =
    sum(dec(c)).cast("double") / count(c).cast("double")
}
