package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What the tasks of one measured interval did, summed from task-end events. */
final case class TaskStats(
    cpuS: Double,
    gcS: Double,
    peakMemMb: Double,
    spillMb: Double,
    shuffleWriteMb: Double,
    shuffleWriteRecords: Long,
    /** max / median task run time in the stage that ran longest */
    taskSkew: Double,
    jobs: Int)

/** Public `SparkListener` the benchmark registers: accumulates task metrics
  * between [[reset]] and [[snapshot]]. All callbacks run on the listener-bus
  * thread; reads happen after [[Probe.drain]] has emptied the bus.
  */
final class Probe extends SparkListener {
  private var cpuNs, gcMs, spill, shufBytes, shufRecords = 0L
  private var peakMem = 0L
  private var jobs = 0
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageMs = mutable.HashMap.empty[Int, Long]

  def reset(): Unit = synchronized {
    cpuNs = 0; gcMs = 0; spill = 0; shufBytes = 0; shufRecords = 0
    peakMem = 0; jobs = 0; taskMs.clear(); stageMs.clear()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spill += m.diskBytesSpilled
      shufBytes += m.shuffleWriteMetrics.bytesWritten
      shufRecords += m.shuffleWriteMetrics.recordsWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageMs(i.stageId) = c - s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  def snapshot(): TaskStats = synchronized {
    val skew = if (stageMs.isEmpty) 0.0 else {
      val longest = stageMs.maxBy(_._2)._1
      taskMs.get(longest).filter(_.nonEmpty).map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }.getOrElse(0.0)
    }
    TaskStats(cpuNs / 1e9, gcMs / 1e3, peakMem / Probe.MB, spill / Probe.MB,
      shufBytes / Probe.MB, shufRecords, skew, jobs)
  }
}

object Probe {
  val MB: Double = 1024.0 * 1024.0

  /** Blocks until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** Untimed hygiene between jobs, as the repository's own bench does it:
    * let stages an action abandoned finish, release the operators'
    * resident caches, unload state-store providers only when no streaming
    * query could still be using them, and collect the previous job's
    * garbage so it is not billed to the next one.
    */
  def hygiene(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((tracker.getActiveStageIds().nonEmpty || tracker.getActiveJobIds().nonEmpty) &&
        System.nanoTime() < deadline)
      Thread.sleep(10)
    graft.queries.TextQueries.releaseCaches()
    graft.queries.SketchQueries.releaseCaches()
    graft.operators.Graph.releaseCaches()
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
    drain(spark)
  }
}

/** Host CPU counters from /proc/stat, to tell a run slowed by other tenants
  * (steal time) from one slowed by the code.
  */
object Steal {
  final case class Sample(steal: Long, total: Long)

  def sample(): Option[Sample] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        Sample(if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => None }

  def share(a: Option[Sample], b: Option[Sample]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      (y.steal - x.steal).toDouble / (y.total - x.total).toDouble
    case _ => 0.0
  }
}

/** A fixed single-threaded task that touches neither the engine nor Spark:
  * random reads from a 4 MB table, as a yardstick of how fast the host ran.
  * When it and a run's job times move together from run to run, the host
  * moved them, not the code.
  */
object HostSpeed {
  private val table = Array.tabulate(1 << 20)(i => i * 0x9E3779B9)
  @volatile private var sink = 0

  /** Median seconds of `n` runs of the task. */
  def sampleS(n: Int = 5): Double = Stats.median((1 to n).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var acc, i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += table((x & 0xFFFFF).toInt)
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  })
}

/** Shuffle widths of the last executed query, summed over its shuffles,
  * read from its final adaptive plan through a public
  * `QueryExecutionListener`: partitions each shuffle wrote, and partitions
  * its readers kept after adaptive coalescing.
  */
final class PlanProbe extends QueryExecutionListener {
  @volatile var initialPartitions = 0L
  @volatile var coalescedPartitions = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    var initial, coalesced = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case r: AQEShuffleReadExec if r.child.isInstanceOf[ShuffleQueryStageExec] =>
        val s = r.child.asInstanceOf[ShuffleQueryStageExec]
        initial += s.shuffle.numPartitions
        coalesced += r.partitionSpecs.size
        walk(s.plan)
      case s: ShuffleQueryStageExec =>
        initial += s.shuffle.numPartitions
        coalesced += s.shuffle.numPartitions
        walk(s.plan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        other.children.foreach(walk)
        other.innerChildren.foreach {
          case c: SparkPlan => walk(c)
          case _ =>
        }
    }
    walk(qe.executedPlan)
    initialPartitions = initial
    coalescedPartitions = coalesced
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); the median when fewer than 20 samples exist.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 20) (50, median(s)) else ((100 * (n - 10)) / n, s(n - 11))
  }
}
