package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.core.GraftSession
import scala.collection.mutable

/** Benchmark main. One process, one `local[N]` session (N = the cores the
  * JVM sees), one workload, one job at a time.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --metrics <name>:<unit>,... [--size full|tiny] [--work <dir>]
  * }}}
  *
  * `--metrics` names the metrics to report, in order, with their units
  * (`run.py` passes the `end_to_end` or `per_layer` list of
  * `BENCHMARK.json`). The input is generated under `<work>/in`, the
  * directory `run.py` names in `SPARK_GRAFT_SF_DIR`, before the measured
  * session builds, so each of them derives its initial shuffle width from
  * the input as `GraftSession` does for any input directory.
  *
  * Prints `[perfbench]` lines with every metric by name and unit, then, as
  * the last line, one JSON object. Exit code 0 only when every job's output
  * matched the ground truth.
  */
object Main {
  /** Warm session builds per run, after the cold first one; `setup_s` is
    * their median.
    */
  val Setups = 7
  /** Untimed jobs before the clock starts: at least this many, and at full
    * size for at least [[WarmUpSeconds]] after the first one. The first job
    * compiles most of the code it runs and takes several times as long as
    * a warm one; on four cores the JIT keeps speeding the next jobs up, by
    * a quarter on `wc_distinct`, for about that long.
    */
  val WarmUps = 3
  val WarmUpSeconds = 18.0
  /** Fewest timed jobs per run, however long they take. */
  val MinJobs = 3
  /** Fewest traced iterations (every prefix, then the job) per run. */
  val MinTraced = 2
  /** wc_stream arrival schedule: one file of this size per interval. */
  val StreamIntervalMs = 200L
  val StreamFileBytes: Long = 48L << 10

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      metrics: Seq[(String, String)], tiny: Boolean, work: File)

  final class Result {
    var attempted = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def record(err: Option[String]): Unit = {
      attempted += 1
      err.foreach { e => failed += 1; say(s"output mismatch: $e") }
    }
  }

  def say(s: String): Unit =
    println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f $s")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seconds = need("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val metrics = need("metrics").split(",").toSeq.map { nu =>
      nu.split(":") match {
        case Array(n, u) => n -> u
        case _ => throw new IllegalArgumentException(s"--metrics entry $nu is not <name>:<unit>")
      }
    }
    Opts(need("workload"), need("seed").toLong, seconds, trace, metrics,
      m.get("size").contains("tiny"), new File(m.getOrElse("work", "work")))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        o.work.mkdirs()
        val r = run(o)
        val fields = r.metrics.map { case (k, (v, u)) =>
          s""""$k": {"value": ${jnum(v)}, "unit": "$u"}""" }.mkString(", ")
        val ok = r.failed == 0
        say(f"failed_share=${r.failed.toDouble / math.max(1, r.attempted)}%.4f " +
          s"(${r.failed} of ${r.attempted} jobs failed or produced wrong output)")
        println(s"""{"correct": $ok, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$fields}}""")
        if (ok) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] error: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(master: String): SparkSession = {
    val s = GraftSession.builder(master).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A session build plus a first trivial action; returns the session and
    * the time both took.
    */
  def timedSession(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(s"local[$cores]")
    spark.range(1).count()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Stops `first` and builds the session [[Setups]] more times, each
    * followed by a first trivial action; returns the last session and the
    * median time.
    */
  def setUp(first: SparkSession): (SparkSession, Double) = {
    var spark = first
    val times = (1 to Setups).map { _ =>
      spark.stop()
      val (s, t) = timedSession()
      spark = s
      t
    }
    say(s"setup_s samples: ${times.map(t => f"$t%.3f").mkString(" ")}")
    (spark, Stats.median(times))
  }

  def run(o: Opts): Result = {
    val res = new Result
    val steal0 = Steal.sample()
    // the cold build (class loading, extension registration, static
    // initialisation) is `core.session_s`; that session writes the input
    val (cold, coldS) = timedSession()
    say(f"cold session build: $coldS%.3f s")
    val in = new File(o.work, "in")
    val genT0 = System.nanoTime()
    val input: Either[BatchWorkload, WcStream] = o.workload match {
      case "wc_zipf" => Left(new WcZipf(in, o.seed, if (o.tiny) 200L << 10 else 12L << 20))
      case "wc_distinct" => Left(new WcDistinct(in, new File(o.work, "out"), o.seed,
        if (o.tiny) 100L << 10 else 6L << 20))
      case "dedup_minhash" => Left(new DedupMinhash(cold, in, o.seed, if (o.tiny) 400 else 8000))
      case "wc_stream" => Right(new WcStream(o.work, o.seed,
        if (o.tiny) 4L << 10 else StreamFileBytes, streamIntervalMs(o),
        (o.seconds * 1000 / streamIntervalMs(o)).toInt))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    say(f"generated in ${(System.nanoTime() - genT0) / 1e9}%.1f s: " +
      input.fold(_.describe, _.describe))
    val (spark, setupS) = setUp(cold)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    say(s"workload ${o.workload}, seed ${o.seed}, local[$cores], ${o.seconds} s, trace ${if (o.trace) 1 else 0}")
    val layer = mutable.LinkedHashMap[String, Double]("core.session_s" -> coldS)
    val (steal1, last) = input match {
      case Left(wl) => runBatch(o, wl, spark, probe, res, layer)
      case Right(s) => runStream(o, s, spark, probe, res, layer)
    }
    val steal = Steal.share(steal1, Steal.sample())
    val calib = HostSpeed.sampleS()
    if (o.trace) {
      layer("host.steal_share") = steal
      layer("host.calib_s") = calib
      val unknown = layer.keySet -- o.metrics.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics not in --metrics: ${unknown.mkString(", ")}")
      res.metrics.clear()
      // a layer the workload does not exercise reports 0
      for ((k, u) <- o.metrics) res.put(k, layer.getOrElse(k, 0.0), u)
    } else {
      res.put("setup_s", setupS, "s")
      val ordered = o.metrics.map { case (k, u) =>
        val m = res.metrics.getOrElse(k, throw new IllegalStateException(s"metric $k not measured"))
        require(m._2 == u, s"metric $k is measured in ${m._2}, not $u")
        k -> m
      }
      res.metrics.clear()
      res.metrics ++= ordered
    }
    say(f"host steal_share=$steal%.4f over the measured window " +
      f"(${Steal.share(steal0, steal1)}%.4f during set-up and generation), " +
      f"host calib_s=$calib%.4f")
    for ((k, (v, u)) <- res.metrics) say(f"$k = $v%.4f $u")
    last.stop()
    res
  }

  /** Closed loop: one job at a time for `--seconds`, after the warm-up.
    * Returns the steal sample at the start of the measured window and the
    * session still open.
    */
  def runBatch(o: Opts, wl: BatchWorkload, spark0: SparkSession, probe: Probe, res: Result,
      layer: mutable.Map[String, Double]): (Option[Steal.Sample], SparkSession) = {
    var spark = spark0
    def timed(body: () => Unit): (Double, TaskStats) = {
      Probe.hygiene(spark)
      probe.reset()
      val t0 = System.nanoTime()
      body()
      val t = (System.nanoTime() - t0) / 1e9
      Probe.drain(spark)
      (t, probe.snapshot())
    }
    def fullJob(): (Double, TaskStats) = {
      var out: Output = null
      val r = timed(() => out = wl.job(spark))
      res.record(out.check())
      r
    }
    def samples(xs: Iterable[Double]) = xs.map(t => f"$t%.3f").mkString(" ")

    // warm-up: JIT, codegen and file listing; checked, not timed. A traced
    // run also warms every prefix it will time.
    var w0 = 0L
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmUpS = if (o.tiny) 0.0 else WarmUpSeconds
    while (warm.size < WarmUps || (System.nanoTime() - w0) / 1e9 < warmUpS) {
      if (o.trace) for ((_, body) <- wl.prefixes(spark)) body()
      warm += fullJob()._1
      if (warm.size == 1) w0 = System.nanoTime()
    }
    say(s"warm-up job_s samples: ${samples(warm)}")
    val steal1 = Steal.sample()
    val t0 = System.nanoTime()
    def more(done: Int, least: Int) = done < least || (System.nanoTime() - t0) / 1e9 < o.seconds
    if (!o.trace) {
      val jobs = mutable.ArrayBuffer.empty[(Double, TaskStats)]
      // the host yardstick before each job, untimed: shows whether a slow
      // job met a slow host
      val calib = mutable.ArrayBuffer.empty[Double]
      while (more(jobs.size, MinJobs)) {
        calib += HostSpeed.sampleS(1)
        jobs += fullJob()
      }
      val wall = jobs.map(_._1).toSeq
      val jobS = Stats.median(wall)
      res.put("job_s", jobS, "s")
      res.put("input_mb_s", wl.inputBytes / Probe.MB / jobS, "MB/s")
      res.put("cpu_s", Stats.median(jobs.map(_._2.cpuS).toSeq), "s")
      res.put("peak_task_mem_mb", Stats.median(jobs.map(_._2.peakMemMb).toSeq), "MB")
      say(s"job_s samples: ${samples(wall)}")
      say(s"cpu_s samples: ${samples(jobs.map(_._2.cpuS))}")
      say(s"calib_s samples: ${samples(calib)}")
    } else {
      val plan = new PlanProbe
      spark.listenerManager.register(plan)
      val steps = wl.prefixes(spark)
      val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val stats = mutable.HashMap.empty[String, TaskStats]
      val untraced = mutable.ArrayBuffer.empty[Double]
      def span(name: String, r: (Double, TaskStats)): Unit = {
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += r._1
        stats(name) = r._2
      }
      var iters = 0
      while (more(iters, MinTraced)) {
        for ((name, body) <- steps) span(name, timed(body))
        span("full", fullJob())
        layer("core.initial_partitions") = plan.initialPartitions.toDouble
        layer("core.coalesced_partitions") = plan.coalescedPartitions.toDouble
        spark.listenerManager.unregister(plan)
        untraced += fullJob()._1
        spark.listenerManager.register(plan)
        iters += 1
      }
      spark.listenerManager.unregister(plan)
      for ((k, v) <- times) say(s"span $k samples: ${samples(v)}")
      say(s"untraced job samples: ${samples(untraced)}")
      val med = times.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
      val full = stats("full")
      val untracedS = Stats.median(untraced.toSeq)
      layer ++= Map(
        "core.task_skew" -> full.taskSkew,
        "core.gc_s" -> full.gcS,
        "core.spill_mb" -> full.spillMb,
        "core.busy_share" -> full.cpuS / (med("full") * cores),
        "trace.job_s" -> med("full"),
        "trace.untraced_job_s" -> untracedS,
        "trace.overhead_share" -> (med("full") / untracedS - 1))
      layer ++= wl.layers(spark, med, stats.toMap)
      // the same job on one core, the scaling baseline for local[N]: one
      // job warms the new session (the JIT is already warm), one is timed
      spark.stop()
      spark = session("local[1]")
      fullJob()
      layer("core.speedup_1core") = fullJob()._1 / untracedS
    }
    (steal1, spark)
  }

  def streamIntervalMs(o: Opts): Long = if (o.tiny) 100L else StreamIntervalMs

  /** Open loop: files become due every `intervalMs` for `--seconds`,
    * whether or not the engine keeps up; a file's latency runs from when
    * it was due to when the micro-batch that read it reached the sink.
    */
  def runStream(o: Opts, s: WcStream, spark: SparkSession, probe: Probe, res: Result,
      layer: mutable.Map[String, Double]): (Option[Steal.Sample], SparkSession) = {
    val intervalMs = streamIntervalMs(o)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    Probe.hygiene(spark)
    val q = s.start(spark)
    for (i <- 0 until s.WarmUp) { s.release(i); q.processAllAvailable() }
    val warmBatches = s.committedAt.keySet().toArray.map(_.asInstanceOf[Long]).max
    Probe.drain(spark)
    probe.reset()
    val steal1 = Steal.sample()
    val t0 = System.nanoTime()
    val due = Array.tabulate(s.files)(i => t0 + i * intervalMs * 1000000L)
    val late = new Array[Double](s.files)
    val gen = new Thread(() => {
      for (i <- 0 until s.files) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        s.release(s.WarmUp + i)
        late(i) = (System.nanoTime() - due(i)) / 1e6
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    val windowS = (System.nanoTime() - t0) / 1e9
    q.stop()
    Probe.drain(spark)
    val st = probe.snapshot()
    res.record(s.output.check())

    val batchOf = s.batchOf()
    val latency = (0 until s.files).map { i =>
      (s.committedAt.get(batchOf(f"f${s.WarmUp + i}%05d.txt")) - due(i)) / 1e6
    }
    val timedBatches = progress.toArray(Array.empty[StreamingQueryProgress]).toSeq
      .filter(p => p.batchId > warmBatches && p.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trigger = timedBatches.map(dur(_, "triggerExecution"))
    val jobS = Stats.median(trigger) / 1000
    val (pct, tailMs) = Stats.tail(latency)
    say(f"${timedBatches.size} micro-batches for ${s.files} files; file latency ms: " +
      latency.map(l => f"$l%.0f").mkString(" "))
    say(f"batch_ms_p50 = ${Stats.median(latency)}%.1f ms, batch_ms_tail = $tailMs%.1f ms " +
      s"(p$pct of ${latency.size} files)")
    res.put("job_s", jobS, "s")
    res.put("input_mb_s", s.timedBytes / Probe.MB / (trigger.sum / 1000), "MB/s")
    res.put("cpu_s", st.cpuS / timedBatches.size, "s")
    res.put("peak_task_mem_mb", st.peakMemMb, "MB")
    val lastState = timedBatches.lastOption.flatMap(_.stateOperators.headOption)
    if (o.trace) say(
      f"streaming.addbatch_ms = ${Stats.median(timedBatches.map(dur(_, "addBatch")))}%.1f, " +
      f"streaming.commit_ms = ${Stats.median(timedBatches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")))}%.1f, " +
      f"streaming.state_rows = ${lastState.map(_.numRowsTotal).getOrElse(0L)}, " +
      f"streaming.state_mb = ${lastState.map(_.memoryUsedBytes / Probe.MB).getOrElse(0.0)}%.2f, " +
      f"streaming.gen_late_ms = ${late.max}%.1f")
    layer ++= Map(
      "core.scan_s" -> Stats.median(timedBatches.map(p => dur(p, "latestOffset") + dur(p, "getBatch"))) / 1000,
      "core.task_skew" -> st.taskSkew,
      "core.gc_s" -> st.gcS,
      "core.spill_mb" -> st.spillMb,
      "core.busy_share" -> st.cpuS / (windowS * cores),
      "functions.tokens" -> s.tally.tokens.toDouble,
      "trace.job_s" -> jobS,
      "trace.untraced_job_s" -> jobS)
    (steal1, spark)
  }
}
