package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.{Dedup, WordCount}
import graft.plans.{BottomKSample, BottomKSampleExec, SampleEntry, SampledRangeExchangeExec}

/** Word count's total-order sort with range bounds from the aggregate's map
  * side ([[graft.plans.RangeBoundsFromAggregate]]): job anatomy, plan shape,
  * metrics, balance, fallback without AQE, file-level inputs, and a task
  * retry in the map stage that draws the sample.
  */
class RangeBoundsSpec extends SparkSpec {
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  private def tempDir(prefix: String): Path = Files.createTempDirectory(Paths.get("target"), prefix)

  private def delete(p: Path): Unit =
    Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Part files of `out` in name order, each as its lines. */
  private def parts(out: String): Seq[Seq[String]] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      .map(p => Files.readAllLines(p).asScala.toSeq)

  /** Runs `body` and returns the executed plan of the query whose plan
    * names `marker` (the output path of a write).
    */
  private def executedPlanOf(marker: String)(body: => Unit): SparkPlan = {
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains(marker)) plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      eventually(timeout(30.seconds))(assert(!plans.isEmpty))
    } finally spark.listenerManager.unregister(listener)
    plans.peek().executedPlan
  }

  private def sampledExchanges(plan: SparkPlan): Seq[SampledRangeExchangeExec] =
    Plans.collect(plan) { case e: SampledRangeExchangeExec => e }

  /** Runs `body` with the session's SQL `confs` set, then restores them. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** writeSorted of `df` into a fresh directory: its executed plan and its
    * part files.
    */
  private def writeSorted(df: DataFrame): (SparkPlan, Seq[Seq[String]]) = {
    val dir = tempDir("wc_range")
    val out = dir.resolve("out").toString
    try {
      val plan = executedPlanOf(out)(WordCount.writeSorted(df, out))
      (plan, parts(out))
    } finally delete(dir)
  }

  test("writeSorted runs 3 jobs: no sampling job, one final aggregate, bounds published as metrics") {
    val dir = tempDir("wc_jobs")
    RangeBoundsSpec.elevenFiles(dir.resolve("in"))
    val out = dir.resolve("out").toString
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      spark.sparkContext.setJobGroup("range-bounds-write", "writeSorted")
      val p = executedPlanOf(out)(WordCount.writeSorted(spark.read.text(dir.resolve("in").toString), out))
      // a marker job after the write: once the listener has seen it, it has
      // seen every job of the write (one listener queue, in order)
      spark.sparkContext.setJobGroup("range-bounds-marker", "marker")
      spark.sparkContext.parallelize(1 to 1, 1).count()
      eventually(timeout(30.seconds))(assert(groups.contains("range-bounds-marker")))
      p
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(groups.asScala.count(_ == "range-bounds-write") == 3, groups)
    val exchanges = sampledExchanges(plan)
    assert(exchanges.size == 1, plan)
    val finals = Plans.collect(plan) {
      case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(finals.size == 1, plan)
    assert(Plans.collect(plan) { case s: BottomKSampleExec => s }.size == 1, plan)
    val e = exchanges.head
    // Spark's own sample size: 3 × sampleSizePerPartition × ranges
    val k = 3 * spark.conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition").toInt * e.numRanges
    assert(e.metrics("sampledKeys").value == math.min(parts(out).flatten.size, k), plan)
    assert(e.metrics("rangeBounds").value == e.numRanges - 1, plan)
    delete(dir)
  }

  test("collectSorted plans TakeOrderedAndProject and minhashDupPairs no sampled exchange: the rule fires on neither") {
    val df = Seq("b a", "A c c").toDF("value")
    assert(WordCount.collectSorted(df) == Seq("b: 1", "a: 2", "c: 2"))
    val topK = WordCount.run(df).limit(3)
    topK.collect()
    val plan = topK.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"), plan)
    assert(sampledExchanges(plan).isEmpty, plan)
    val pairs = Dedup.minhashDupPairs(Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text"), 0.8)
    assert(pairs.count() == 1)
    val dedupPlan = pairs.queryExecution.executedPlan
    assert(sampledExchanges(dedupPlan).isEmpty &&
      Plans.collect(dedupPlan) { case s: BottomKSampleExec => s }.isEmpty, dedupPlan)
  }

  test("the sampled exchange refuses to fix bounds before its map stage has run") {
    val plan = WordCount.run(Seq("b a", "A c c").toDF("value")).queryExecution.executedPlan
    // not executed: the adaptive plan still holds its initial, unmaterialized stages
    val e = sampledExchanges(plan).head
    val err = intercept[IllegalStateException](e.shuffleDependency)
    assert(err.getMessage.startsWith("SampledRangeExchange: the aggregate's map stage"), err)
  }

  /** Largest non-empty part file over the mean, with one part file per range. */
  private def skew(files: Seq[Seq[String]]): Double = {
    val rows = files.map(_.size.toDouble).filter(_ > 0)
    rows.max / (rows.sum / rows.size)
  }

  test("balanced ranges on all ties and on a Zipf head; the plain plan without AQE agrees") {
    val ties = (0 until 60000).map(i => f"w$i%05d").grouped(10).map(_.mkString(" ")).toSeq
    val rnd = new java.util.SplittableRandom(7)
    val zipf = (0 until 20000).map(_ =>
      (0 until 10).map(_ => s"z${(math.exp(rnd.nextDouble() * math.log(50000.0)) - 1).toInt}").mkString(" "))
    for ((name, lines) <- Seq("all ties" -> ties, "zipf" -> zipf)) {
      val df = spark.createDataset(spark.sparkContext.parallelize(lines, 6)).toDF("value")
      val (plan, files) = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(writeSorted(df))
      assert(sampledExchanges(plan).size == 1, plan)
      assert(files.count(_.nonEmpty) > 1, s"$name: one range")
      assert(skew(files) <= 1.2, s"$name: part-file rows ${files.map(_.size)}")
      val (plainPlan, plain) = withConf("spark.sql.adaptive.enabled" -> "false")(writeSorted(df))
      assert(sampledExchanges(plainPlan).isEmpty && plainPlan.exists {
        case ShuffleExchangeExec(_: RangePartitioning, _, _, _) => true
        case _ => false
      }, plainPlan)
      assert(files.flatten == plain.flatten, name)
      assert(files.flatten == WordTokensProps.transcription(lines), name)
    }
  }

  test("empty and blank-lines-only inputs write no lines") {
    for (lines <- Seq(Seq.empty[String], Seq("", "  ", "\t\r\n", ""))) {
      val df = spark.createDataset(spark.sparkContext.parallelize(lines, 3)).toDF("value")
      assert(writeSorted(df)._2.flatten.isEmpty, lines)
    }
  }

  test("file inputs: empty, blank lines, no trailing newline, CRLF, one 2 MB line") {
    val rnd = new java.util.SplittableRandom(23)
    val longLine = new StringBuilder
    while (longLine.length < (2 << 20))
      longLine.append(s"W${rnd.nextInt(5000)}-x").append(if (rnd.nextInt(3) == 0) "! " else "\t")
    val files = Seq(
      "empty" -> "",
      "blank" -> "\n\n  \n\t\n",
      "no trailing newline" -> "the fox\nthe DOG's den",
      "crlf" -> "The fox\r\njumps, the\r\n\r\nfox!\r\n",
      "2 MB line" -> longLine.toString)
    for ((name, text) <- files) {
      val dir = tempDir("wc_file")
      val in = dir.resolve("in.txt")
      Files.write(in, text.getBytes(UTF_8))
      val (_, got) = writeSorted(spark.read.text(in.toString))
      assert(got.flatten == WordTokensProps.transcription(Seq(text)), name)
      delete(dir)
    }
  }

  test("bottom-k sample: a map partition merges once, and the global bottom-k has exact counts") {
    val toKey = UnsafeProjection.create(Array[DataType](StringType))
    def entry(w: String, n: Long) = new SampleEntry(w.hashCode * 0x9E3779B97F4A7C15L,
      toKey(InternalRow(UTF8String.fromString(w))).copy(), Array(n))
    val byHash = SampleEntry.byHash
    val rnd = new java.util.Random(5)
    val k = 20
    def counted(words: Seq[String]) =
      words.groupBy(identity).map { case (w, ws) => entry(w, ws.size.toLong) }.toSeq.sorted(byHash)
    val data = (0 until 6).map(_ => (0 until 200).map(_ => s"w${rnd.nextInt(300)}"))
    val partitions = data.map(counted(_).take(k)) // each task's bottom-k
    val driver = new BottomKSample(k)
    for (p <- partitions.indices :+ 2) { // partition 2 reported twice, as by a re-run task
      val task = driver.copyAndReset()
      task.add(p -> partitions(p).toArray)
      driver.merge(task)
    }
    // a key in the global bottom-k is in the bottom-k of every partition holding it
    val want = counted(data.flatten).take(k).map(e => (e.key, e.counts.toSeq))
    val (merged, global) = driver.value
    assert(merged == partitions.size)
    assert(global.toSeq.map(e => (e.key, e.counts.toSeq)) == want)
  }

  test("a failed map-task attempt's sample never reaches the bounds: part files equal an unfailed run") {
    val dir = tempDir("wc_retry")
    val Seq(in, clean, retried) = Seq("in", "clean", "retried").map(d => dir.resolve(d).toString)
    RangeBoundsSpec.elevenFiles(dir.resolve("in"))
    // a JVM holds one SparkContext, and local mode retries a task only
    // under a `local[N,F]` master: the drill runs in a child JVM
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val log = dir.resolve("drill.log").toFile
    val proc = new ProcessBuilder((Seq(java) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
      sys.props("java.class.path"), "graft.RangeRetryDrill", in, clean, retried)).asJava)
      .redirectErrorStream(true).redirectOutput(log).start()
    val finished = proc.waitFor(300, TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    val out = new String(Files.readAllBytes(log.toPath), UTF_8)
    assert(finished && proc.exitValue() == 0, out.takeRight(4000))
    assert(out.contains("drill: failed attempts 1, sampled exchange true true"), out.takeRight(4000))
    def files(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      .map(p => Files.readAllBytes(p).toSeq)
    val (want, got) = (files(clean), files(retried))
    assert(want.size > 1 && want.count(_.nonEmpty) > 1, want.map(_.size))
    assert(got.map(_.count(_ == '\n')) == want.map(_.count(_ == '\n')))
    assert(got == want)
    delete(dir)
  }
}

object RangeBoundsSpec {
  /** Retried lines fail on this line (see [[RangeRetryDrill]]); it ends one input file. */
  val RetryMarker = "retry marker"

  /** 11 text files of ids in `dir`: 19,000 distinct words, 3,000 of them
    * twice; the sixth file ends with [[RetryMarker]].
    */
  def elevenFiles(dir: Path): Unit = {
    Files.createDirectories(dir)
    (0 until 11).foreach { f =>
      val lines = (0 until 400).map(l => (0 until 5).map(w => s"id${(f * 2000 + l * 5 + w) % 19000}").mkString(" "))
      Files.write(dir.resolve(f"f$f%02d.txt"), (if (f == 5) lines :+ RetryMarker else lines).asJava)
    }
  }
}

/** The child-JVM half of the retry drill in [[RangeBoundsSpec]]: on a
  * `local[4,3]` session with one part file per range, `writeSorted` of
  * `in` into `clean`, then again into `retried` with the first attempt of
  * the map task that reads [[RangeBoundsSpec.RetryMarker]] failing there.
  * Prints the failed attempts and whether each write planned the sampled
  * range exchange.
  */
object RangeRetryDrill {
  def main(args: Array[String]): Unit = {
    val Array(in, clean, retried) = args
    val spark = graft.core.GraftSession.builder("local[4,3]")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.reason != Success) failed.incrementAndGet()
    })
    val failFirstAttempt = udf { (line: String, arm: Boolean) =>
      if (arm && line == RangeBoundsSpec.RetryMarker && TaskContext.get().attemptNumber() == 0)
        throw new IllegalStateException("injected map-task failure")
      line
    }
    object Plans extends AdaptiveSparkPlanHelper
    val fired = new ConcurrentLinkedQueue[(String, Boolean)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Seq(clean, retried).find(qe.executedPlan.toString.contains).foreach(out =>
          fired.add(out -> Plans.collect(qe.executedPlan) { case e: SampledRangeExchangeExec => e }.nonEmpty))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    for ((out, arm) <- Seq(clean -> false, retried -> true))
      WordCount.writeSorted(spark.read.text(in).select(failFirstAttempt(col("value"), lit(arm)).as("value")), out)
    spark.stop() // drains the listener bus
    val sampled = Seq(clean, retried).map(out => fired.asScala.exists(_ == (out -> true)))
    println(s"drill: failed attempts ${failed.get}, sampled exchange ${sampled.mkString(" ")}")
  }
}
