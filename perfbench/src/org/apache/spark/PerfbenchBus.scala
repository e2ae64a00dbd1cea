package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs to
  * wait for it so a job's task-end events are all counted before the job's
  * metrics are read.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
