package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded, SparkListenerExecutorRemoved}

/** Failure-injection drill for the reliable-checkpoint path (VERDICT r9
  * item 4): ReliableCheckpointSpec proves result PARITY between the
  * localCheckpoint and `spark.graft.checkpoint.dir` branches; this drill
  * proves DURABILITY — the property the conf exists for. It runs the
  * multi-round checkpointing consumers (dd07 star-contraction, gr06
  * k-core peeling, tx40's GD rounds) plus a stateful streaming query
  * (st20's RocksDB EWMA state) on a REAL multi-process cluster
  * (`local-cluster[2,2,...]`: a standalone master + 2 worker JVMs, each
  * launching an executor JVM), KILLS an executor process mid-query, and
  * asserts (a) the loss actually happened (SparkListener executor-removed
  * events) and (b) the results are bit-identical to an undisturbed
  * `local[*]` run. With reliable checkpoints the lost executor's blocks
  * are recomputed from the durable files; with `localCheckpoint` the same
  * kill would lose the only copy of the truncated lineage's blocks and
  * the job could not recover — which is exactly why the conf must be set
  * on a 1000-executor cluster.
  *
  * Run (spark-submit so executors resolve the distribution layout and
  * fetch the app jar themselves):
  * {{{
  * sbt package && /opt/spark/bin/spark-submit --master local[8] \
  *   --driver-memory 10g --class graft.tools.FailureDrill \
  *   target/scala-2.13/mapreduce_4sl08spark_2.13-0.1.0.jar /root/testdata/sf0.1
  * }}}
  * (the --master only covers the reference phase; the drill builds its
  * own local-cluster session). Prints one PASS/FAIL line per query plus
  * a summary; exits non-zero on any failure. Not a ScalaTest spec on
  * purpose: it forks executor JVMs and SIGKILLs them, which has no place
  * inside the unit-test session.
  */
object FailureDrill {

  /** SIGKILL one live executor JVM OF THIS APPLICATION
    * (CoarseGrainedExecutorBackend is the executor main class in every
    * Spark deploy mode that forks, and its command line carries
    * `--app-id` — filtering on OUR application id keeps the drill from
    * shooting an orphan executor left over from an earlier run, which
    * this driver would never notice). The kill is indistinguishable from
    * a lost node as far as the driver can see. Returns true if a process
    * was found and destroyed.
    */
  private def killOneExecutor(appId: String): Boolean = {
    // /proc directly: ProcessHandle.info().commandLine() reports empty for
    // these executor JVMs (their argv is megabytes of classpath — past the
    // JDK's per-process info sysctl limit), while /proc/<pid>/cmdline
    // always has the full NUL-separated argv
    val procs = Option(new java.io.File("/proc")
      .listFiles((f: java.io.File) => f.getName.forall(_.isDigit))).toSeq.flatten
    procs.find { d =>
      try {
        val cmd = new String(java.nio.file.Files.readAllBytes(
          d.toPath.resolve("cmdline")), "UTF-8").replace('\u0000', ' ')
        cmd.contains("CoarseGrainedExecutorBackend") && cmd.contains(appId)
      } catch { case _: Exception => false }
    }.exists { d =>
      val pid = d.getName.toLong
      System.err.println(s"[drill] killing executor pid $pid of $appId")
      ProcessHandle.of(pid).map[Boolean](p => p.destroyForcibly()).orElse(false)
    }
  }

  /** Sorted row-string digest — enough to compare two runs bit-exactly. */
  private def digest(rows: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // the three multi-round checkpointing consumers — star-contraction,
    // k-core peeling, the GD trainer's per-round weight cuts — plus
    // (round 11) a STATEFUL STRUCTURED-STREAMING query: st20 folds
    // per-user EWMA state in RocksDB via transformWithState, so the kill
    // lands on live state-store holders and recovery must replay the
    // store from the streaming checkpoint + changelog on a surviving
    // executor. Batch drills prove the ckpt() path; this proves the
    // OTHER durability machinery a 100 TB always-on pipeline leans on.
    // ... and (round 11) sx02: its KMV sketch sits behind a swap-tracked
    // MEMORY_AND_DISK persist consumed from both sides of the pair join,
    // so the kill deletes live cached blocks and recovery must recompute
    // them from lineage on the survivors — the third durability mechanism
    // (cache-block loss) alongside reliable checkpoints and the state
    // store. gr10 (round 11b) drills the HITS loop: SIX interleaved
    // reliable cuts per run (one per half-round) with 1-row broadcast
    // normalizers between them — the kill lands mid-tower and recovery
    // must rebuild from whichever round's durable files survive.
    // st29 (round 11b) drills the serve path: the kill lands either in
    // the offline k-means train (multi-job, driver-held model — pure
    // lineage recompute) or mid-micro-batch in the stream-static
    // serving join — both must recover to the bit-identical top-k.
    // st32 (round 11d) drills the drift monitor: the kill lands either
    // in the offline baseline moments (lineage recompute) or inside the
    // Complete-mode streaming aggregation whose state is the
    // domain-bounded (label, dim) rollup — recovery must replay the
    // micro-batch from the stream checkpoint and still produce the
    // bit-identical per-label drift ticks.
    // ev41 (round 12) drills the V2 WRITE commit protocol under REAL
    // process death: the kill can land while executor-side DataWriters
    // hold partial audits — Spark retries the lost tasks, the driver-side
    // job commit must see exactly one commit message per partition
    // (retry attempts' partials discarded via abort), and the committed
    // (count, checksum) must equal the undisturbed run bit-for-bit — the
    // exactly-once write guarantee a 100 TB sink lives on. st33 (round
    // 12) drills the custom SOURCE's offset replay: the kill lands
    // mid-drain of the admission-controlled micro-batch stream, and the
    // restarted tasks must re-read their id slices such that every
    // offset range [lo, hi) is delivered exactly once across executor
    // incarnations — digest-identical to the unkilled replay.
    val queries = Seq("dd07_dup_clusters", "gr06_kcore",
      "tx40_quality_classifier", "st20_stream_ewma", "sx02_kmv_overlap",
      "gr10_hits", "st29_stream_ann_serve", "st32_stream_drift_monitor",
      "ev41_audited_write", "st33_stream_custom_source")

    // reference digests from an undisturbed local run
    val ref = {
      val spark = graft.core.GraftSession.builder("local[8]").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val r = queries.map { q =>
        q -> digest(graft.SparkEntry.queries(q)(spark, sfDir)
          .collect().map(_.toString))
      }.toMap
      // drain the swap-tracked release hooks BEFORE stopping: they close
      // over THIS context, and firing them from the next kCore invocation
      // (in the cluster session) would unpersist against a stopped context
      graft.operators.Graph.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
      graft.queries.SketchQueries.releaseCaches()
      spark.stop()
      // the standalone master/worker below must not reuse this context
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      r
    }
    System.err.println(s"[drill] reference digests: $ref")

    val ckptDir = java.nio.file.Files.createTempDirectory("graft-drill").toString
    // local-cluster's in-process Worker builds the executor launch command
    // via the launcher's AbstractCommandBuilder, which resolves the Spark
    // layout from spark.test.home — point it at the installed distribution
    // (and pin the scala version so the builder doesn't probe for a dev
    // checkout's build directories)
    System.setProperty("spark.test.home",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    // the session every user runs (GraftSession), plus the drill's own
    // cluster settings
    val spark = graft.core.GraftSession.builder("local-cluster[2,2,1536]")
      .appName("graft-failure-drill")
      // ship the application classes to the forked executors: the sbt
      // run classpath is NOT propagated in local-cluster mode
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "8")
      .config("spark.graft.checkpoint.dir", ckptDir)
      // survive the kill: retry the stage/tasks instead of aborting fast
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
        System.err.println(s"[drill] executor added: ${e.executorId} on ${e.executorInfo.executorHost}")
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        System.err.println(s"[drill] executor removed: ${e.executorId} (${e.reason})")
        removed.incrementAndGet()
      }
    })
    // don't race the first query against executor launch: the kill must
    // land mid-computation, not mid-startup
    val regDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < regDeadline)
      Thread.sleep(200) // getExecutorInfos includes the driver

    var failures = 0
    for (q <- queries) {
      removed.set(0)
      // killer thread: one SIGKILL shortly after the query starts (the
      // multi-round loops run long enough at sf0.1 that round ≥ 2 state
      // is in flight when the executor dies); polls because executor JVM
      // launch can lag the query by several seconds
      val killer = new Thread(() => {
        Thread.sleep(2000)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var killed = false
        while (!killed && System.nanoTime() < deadline) {
          killed = killOneExecutor(spark.sparkContext.applicationId)
          if (!killed) Thread.sleep(500)
        }
        if (!killed) System.err.println("[drill] no executor found to kill")
      })
      killer.setDaemon(true)
      killer.start()
      val outcome =
        try {
          val d = digest(graft.SparkEntry.queries(q)(spark, sfDir)
            .collect().map(_.toString))
          killer.join(10000)
          // give the listener bus a beat to deliver the removal event
          val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
          while (removed.get() == 0 && System.nanoTime() < deadline) Thread.sleep(100)
          if (removed.get() == 0) "NO-KILL (executor loss not observed — rerun)"
          else if (d == ref(q)) "PASS"
          else s"FAIL (digest $d != ${ref(q)})"
        } catch { case e: Throwable =>
          s"FAIL (${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString})"
        }
      if (outcome != "PASS") failures += 1
      println(s"[drill] $q: $outcome (executors lost: ${removed.get()})")
    }
    spark.stop()
    println(s"[drill] summary: ${queries.size - failures}/${queries.size} pass")
    if (failures > 0) sys.exit(1)
  }
}
