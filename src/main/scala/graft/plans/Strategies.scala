package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Use-time registration of graft's planner strategies on the public
  * `spark.experimental.extraStrategies` hook, so the custom logical nodes
  * plan on ANY session, including one built without [[graft.functions.GraftExtensions]].
  */
private[graft] object Strategies {
  /** Check-then-set must be atomic: extraStrategies is a plain var on
    * ExperimentalMethods, and two concurrent first calls would otherwise
    * both append (double planning candidates).
    */
  private val registrationLock = new Object

  /** Appends `strategy` unless a strategy of its class is installed. */
  def install[S <: SparkStrategy](spark: SparkSession, strategy: => S)(implicit tag: ClassTag[S]): Unit =
    registrationLock.synchronized {
      if (!spark.experimental.extraStrategies.exists(tag.runtimeClass.isInstance))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
    }
}
