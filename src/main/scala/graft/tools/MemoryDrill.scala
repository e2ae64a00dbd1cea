package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Memory-pressure drill: run the heaviest judged queries at a large
  * scale factor under a CONSTRAINED heap and prove the engine spills
  * instead of dying — the single 100 TB failure mode the 128 GiB
  * sandbox hides (VERDICT r11 #1). The reference dies by design on
  * data > RAM (`WorkerNode.java:9-11` keeps the whole partition in
  * in-heap `HashMap`s — SURVEY §4.1); Spark's operators are built to
  * degrade to disk, and this drill measures that actually happening:
  * per query it reports wall time, result digest (row count + wrapped
  * sum of per-row xxhash64 over the canonical JSON of each row — a
  * partitioning-independent content fingerprint), and the listener-
  * observed memory/disk bytes spilled and peak execution memory.
  *
  * Drive it twice and diff the digests:
  * {{{
  * SPARK_DRIVER_MEM=24g sbt "runMain graft.tools.MemoryDrill /tmp/sf1"
  * SPARK_DRIVER_MEM=4g  sbt "runMain graft.tools.MemoryDrill /tmp/sf1"
  * }}}
  * The first argument is the fixture directory; any further arguments
  * name the queries to run instead of [[DefaultQueries]].
  * Identical digests + nonzero spill in the 4g run = completed-with-
  * spill, not luck. Output: one JSON line per query plus a trailing
  * summary line, also written to `target/memdrill_<heap>.json`.
  */
object MemoryDrill {

  /** The 10 heaviest queries by the round-11 sf1 sweep (VERDICT r11 #1). */
  val DefaultQueries = Seq(
    "dd03_minhash_pairs", "dd16_substring_dedup", "gr01_pagerank",
    "gr09_lpa_hubcap", "tx44_modern_pipeline", "ann06_ivfpq_topk",
    "dd12_fuzzy_name_join", "tx41_sequence_packing", "gr05_components",
    "dd19_dup_provenance")

  private class SpillListener extends SparkListener {
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val peakExecMem = new java.util.concurrent.atomic.AtomicLong
    val failedTasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
      if (!t.taskInfo.successful) failedTasks.incrementAndGet()
    }
    def reset(): Unit = {
      memSpilled.set(0); diskSpilled.set(0); peakExecMem.set(0); failedTasks.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val heap  = sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")
    val names = if (args.length > 1) args.toSeq.tail else DefaultQueries
    val spark = graft.core.GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- names) {
      graft.queries.TextQueries.releaseCaches()
      graft.queries.SketchQueries.releaseCaches()
      graft.operators.Graph.releaseCaches()
      System.gc()
      listener.reset()
      val t0 = System.nanoTime()
      val line = try {
        val df = SparkEntryRef.defs(name).fn(spark, sfDir)
        // canonical digest: per-row xxhash64 of the sorted-column JSON,
        // summed with 64-bit wraparound — independent of partitioning
        // and row order, so a 4g run and a 24g run must match bit-exact
        val cols = df.columns.sorted.map(col).toIndexedSeq
        val row = df.select(
          count(lit(1)).as("n"),
          sum(xxhash64(to_json(struct(cols: _*)))).as("digest")).head()
        val wall = (System.nanoTime() - t0) / 1e9
        // drain straggling stages so this query's late tasks don't bill
        // their spill to the next query's window
        val tracker = spark.sparkContext.statusTracker
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while ((tracker.getActiveStageIds().nonEmpty ||
            tracker.getActiveJobIds().nonEmpty) && System.nanoTime() < deadline)
          Thread.sleep(10)
        s"""{"query":"$name","heap":"$heap","rows":${row.getLong(0)},""" +
          s""""digest":${if (row.isNullAt(1)) "null" else row.getLong(1)},""" +
          f""""wall_sec":$wall%.2f,"mem_spilled_mb":${listener.memSpilled.get / 1048576},""" +
          s""""disk_spilled_mb":${listener.diskSpilled.get / 1048576},""" +
          s""""peak_exec_mem_mb":${listener.peakExecMem.get / 1048576},""" +
          s""""failed_tasks":${listener.failedTasks.get},"status":"ok"}"""
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).map(_.takeWhile(_ != '\n').take(200)).getOrElse(e.getClass.getName)
        s"""{"query":"$name","heap":"$heap","status":"died","error":"${msg.replace("\"", "'")}"}"""
      }
      println(s"[memdrill] $line")
      lines += line
    }
    val out = java.nio.file.Paths.get("target", s"memdrill_$heap.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, lines.mkString("[", ",\n", "]\n"))
    println(s"[memdrill] wrote $out")
    spark.stop()
  }
}

/** Indirection so the drill reuses the judged query definitions without
  * widening SparkEntry's surface. */
private object SparkEntryRef {
  def defs: Map[String, graft.core.QueryDef] = graft.SparkEntry.allDefs
}
