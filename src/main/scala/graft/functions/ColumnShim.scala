package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API. Lives under `org.apache.spark.sql` because the
  * Expression↔Column converters (`classic.ExpressionUtils`) are
  * `private[sql]` in Spark 4 — the conventional packaging for Spark
  * extension libraries that add expressions without a session-level
  * function registry.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a resolved logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — used by the range-join rule to sample the interval
    * side's span distribution at plan time.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Submit a shuffle's map stage (`SparkContext.submitMapStage` is
    * `private[spark]`): what a custom `ShuffleExchangeLike` runs when AQE
    * materializes it.
    */
  def submitMapStage(sc: org.apache.spark.SparkContext,
      dep: org.apache.spark.ShuffleDependency[_, _, _])
      : scala.concurrent.Future[org.apache.spark.MapOutputStatistics] =
    sc.submitMapStage(dep)
}
