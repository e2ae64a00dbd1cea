package perfbench

import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashExprs, TextFunctions}
import graft.operators.{Dedup, WordCount}

/** A job's output, checked against the ground truth after the clock stops. */
trait Output {
  /** A description of the first difference from the ground truth, or None. */
  def check(): Option[String]
  /** Damages the output in a way the check must catch (used by SelfTest). */
  def corrupt(): Unit
}

/** One closed-loop batch workload: generated inputs, the timed job through
  * the engine's public entry points, and the check of its output against
  * the generator's ground truth.
  */
abstract class BatchWorkload {
  /** Input bytes the engine reads per job. */
  def inputBytes: Long
  /** One line: input size and the share of traffic with the property the
    * workload stresses.
    */
  def describe: String
  /** Runs one job to its sink. Only this call is timed. */
  def job(spark: SparkSession): Output
  /** Nested prefixes of the job for the traced run, each materialized to
    * the `noop` sink, from the scan up. The full job follows them.
    */
  def prefixes(spark: SparkSession): Seq[(String, () => Unit)]
  /** Per-layer metrics from the median prefix times (prefix name, and
    * "full", to seconds) and the task statistics of each prefix.
    */
  def layers(spark: SparkSession, t: Map[String, Double], s: Map[String, TaskStats]): Map[String, Double]
}

object BatchWorkload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(d: File): Long =
    Option(d.listFiles).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)

  def readLines(f: File): Array[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toArray finally src.close()
  }

  def writeLines(f: File, lines: Seq[String]): Unit =
    java.nio.file.Files.writeString(f.toPath, lines.map(_ + "\n").mkString)

  def partFiles(d: File): Array[File] =
    Option(d.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)

  /** Compares `got` line by line with `want`; describes the first mismatch. */
  def diffLines(got: Iterator[String], want: Array[String]): Option[String] = {
    var i = 0
    while (got.hasNext) {
      val g = got.next()
      if (i >= want.length) return Some(s"extra output line ${i + 1}: '$g'")
      if (g != want(i)) return Some(s"line ${i + 1}: got '$g', want '${want(i)}'")
      i += 1
    }
    if (i < want.length) Some(s"output has $i lines, want ${want.length}") else None
  }

  /** Input files per workload. Spark packs small files into about one
    * split per core; with a file count that the core count divides, whether
    * N/cores files fit in a split turns on a few bytes of generated size, so
    * the task count (and the job time) would change with the seed.
    */
  val Files = 11

  def writeText(dir: File, totalBytes: Long, r: SplittableRandom, tally: Gen.Tally)(
      next: () => (String, String)): Long = {
    dir.mkdirs()
    (0 until Files).map { i =>
      Gen.writeTokens(new File(dir, f"part-$i%03d.txt"), totalBytes / Files, r, tally)(next)
    }.sum
  }

  /** Layers shared by both word-count workloads: scan, tokenize, aggregate. */
  def wordCountLayers(t: Map[String, Double], s: Map[String, TaskStats], tokens: Long): Map[String, Double] =
    Map(
      "core.scan_s" -> t("scan"),
      "functions.tokenize_s" -> (t("tokenize") - t("scan")),
      "functions.tokens" -> tokens.toDouble,
      "wordcount.agg_s" -> (t("counts") - t("tokenize")),
      "wordcount.combine_ratio" -> s("counts").shuffleWriteRecords.toDouble / math.max(1L, tokens),
      "wordcount.agg_shuffle_mb" -> s("counts").shuffleWriteMb)

  def textPrefixes(spark: SparkSession, in: String): Seq[(String, () => Unit)] = {
    import TextFunctions._
    def scan = spark.read.text(in)
    Seq(
      "scan" -> (() => noop(scan)),
      "tokenize" -> (() => noop(scan
        .select(explode(tokenize(col("value"))).as("raw"))
        .select(normalizeToken(col("raw")).as("word"))
        .where(isNonEmptyToken(col("word"))))),
      "counts" -> (() => noop(WordCount.counts(scan))))
  }
}

/** Natural-language text: a Zipf(1.0) vocabulary of 50,000 words with mixed
  * case, attached punctuation and punctuation-only tokens, gathered into one
  * sorted list with `collectSorted`. Map-side partial aggregation collapses the
  * token stream to the vocabulary, so tokenize and normalize dominate.
  */
final class WcZipf(in: File, seed: Long, totalBytes: Long) extends BatchWorkload {
  import BatchWorkload._
  private val tally = new Gen.Tally
  val inputBytes: Long = {
    val r = new SplittableRandom(seed)
    val vocab = Gen.vocabulary(r, 50000)
    writeText(in, totalBytes, r, tally)(Gen.zipfTokens(vocab, new Gen.Zipf(vocab.length, 1.0), r))
  }
  private val want = tally.sortedLines

  def describe: String =
    f"input ${inputBytes / Probe.MB}%.1f MB in $Files files, ${tally.tokens} tokens, " +
      f"${want.length} distinct (distinct/token ${want.length.toDouble / tally.tokens}%.4f)"

  def job(spark: SparkSession): Output = new Output {
    private var got = WordCount.collectSorted(spark.read.text(in.getPath)).toIndexedSeq
    def check(): Option[String] = diffLines(got.iterator, want)
    def corrupt(): Unit = got = got.updated(0, got(1)).updated(1, got(0))
  }

  def prefixes(spark: SparkSession): Seq[(String, () => Unit)] = textPrefixes(spark, in.getPath)

  def layers(spark: SparkSession, t: Map[String, Double], s: Map[String, TaskStats]): Map[String, Double] =
    wordCountLayers(t, s, tally.tokens) ++ Map(
      // the bounded gather plans a top-k, not a range-partitioned sort:
      // sort and gather are one operator here, and there is no sink write
      "wordcount.sort_s" -> (t("full") - t("counts")),
      "wordcount.sort_jobs" -> (s("full").jobs - s("counts").jobs).toDouble)
}

/** Crawl-style identifiers: 16-hex-digit IDs, 90% of them new, written with
  * the distributed `writeSorted` sink. Partial aggregation saves almost
  * nothing, and the large cnt=1 tie group stresses range partitioning, the
  * sort and the write.
  */
final class WcDistinct(in: File, out: File, seed: Long, totalBytes: Long) extends BatchWorkload {
  import BatchWorkload._
  private val tally = new Gen.Tally
  val inputBytes: Long = {
    val r = new SplittableRandom(seed)
    writeText(in, totalBytes, r, tally)(Gen.idTokens(r, seed, 0.1))
  }
  private val want = tally.sortedLines

  def describe: String =
    f"input ${inputBytes / Probe.MB}%.1f MB in $Files files, ${tally.tokens} tokens, " +
      f"${want.length} distinct (distinct/token ${want.length.toDouble / tally.tokens}%.4f)"

  def job(spark: SparkSession): Output = {
    WordCount.writeSorted(spark.read.text(in.getPath), out.getPath)
    new Output {
      def check(): Option[String] =
        diffLines(partFiles(out).iterator.flatMap(readLines), want)
      /** Moves the first line of the last part file to the end of the first
        * one: every file stays sorted, the global order across files breaks.
        */
      def corrupt(): Unit = {
        val fs = partFiles(out).filter(readLines(_).nonEmpty)
        val (first, last) = (fs.head, fs.last)
        val moved = readLines(last)
        writeLines(first, readLines(first) :+ moved.head)
        writeLines(last, moved.tail)
      }
    }
  }

  def prefixes(spark: SparkSession): Seq[(String, () => Unit)] =
    textPrefixes(spark, in.getPath) :+
      ("run" -> (() => noop(WordCount.run(spark.read.text(in.getPath)))))

  def layers(spark: SparkSession, t: Map[String, Double], s: Map[String, TaskStats]): Map[String, Double] = {
    val rows = partFiles(out).map(readLines(_).length.toDouble).filter(_ > 0)
    wordCountLayers(t, s, tally.tokens) ++ Map(
      "wordcount.sort_s" -> (t("run") - t("counts")),
      "wordcount.sort_jobs" -> (s("run").jobs - s("counts").jobs).toDouble,
      "wordcount.range_skew" -> (if (rows.isEmpty) 0.0 else rows.max / (rows.sum / rows.length)),
      "wordcount.sink_s" -> (t("full") - t("run")),
      "wordcount.output_mb" -> dirBytes(out) / Probe.MB)
  }
}

/** Documents with planted near-duplicate clusters, some pairs just above
  * and some just below Jaccard 0.8, deduplicated with `minhashDupPairs`.
  * Exercises the MinHash sketch, the LSH bucket self-join and exact
  * verification; bypasses the aggregate, the range sort and
  * `normalizeToken`.
  */
final class DedupMinhash(spark: SparkSession, in: File, seed: Long, nDocs: Int) extends BatchWorkload {
  import BatchWorkload._
  private val Threshold = 0.8
  private val corpus = Gen.corpus(new SplittableRandom(seed), nDocs, 0.2, Threshold)
  val inputBytes: Long = {
    import spark.implicits._
    corpus.docs.toSeq.toDF("doc_id", "text").repartition(BatchWorkload.Files)
      .write.mode("overwrite").parquet(in.getPath)
    dirBytes(in)
  }

  def describe: String =
    f"input ${corpus.docs.length} docs, ${inputBytes / Probe.MB}%.1f MB parquet; " +
      f"${corpus.clusteredDocs.toDouble / corpus.docs.length}%.3f of docs in planted clusters, " +
      s"${corpus.plantedPairs} planted pairs of which ${corpus.truePairs.size} reach Jaccard $Threshold"

  private def docs(spark: SparkSession) = spark.read.parquet(in.getPath)

  def job(spark: SparkSession): Output = new Output {
    private var got = Dedup.minhashDupPairs(docs(spark), Threshold).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSeq
    def check(): Option[String] = {
      val pairs = got.toMap
      if (pairs.size != got.length) Some("duplicate pairs in output")
      else corpus.truePairs.collectFirst {
        case (p, j) if !pairs.get(p).exists(g => math.abs(g - j) < 1e-12) =>
          s"pair $p: got ${pairs.get(p)}, want Jaccard $j"
      }.orElse(pairs.keys.find(p => !corpus.truePairs.contains(p)).map(p => s"unexpected pair $p"))
    }
    def corrupt(): Unit = got = got.tail
  }

  /** The candidate stage of `minhashDupPairs`: pairs sharing an LSH bucket,
    * each kept once, at the first band where the pair collides.
    */
  private def candidates(spark: SparkSession): DataFrame = {
    val b = docs(spark)
      .select(col("doc_id"), HashExprs.minhashBuckets(
        array_distinct(TextFunctions.tokenize(lower(col("text")))), 32, 4).as("bk"))
      .select(col("doc_id"), col("bk"), posexplode_outer(col("bk")))
    b.as("x").join(b.as("y"),
        col("x.pos") === col("y.pos") && col("x.col") === col("y.col") &&
          col("x.doc_id") < col("y.doc_id"))
      .where(HashExprs.firstEqIndex(col("x.bk"), col("y.bk")) === col("x.pos"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  def prefixes(spark: SparkSession): Seq[(String, () => Unit)] = Seq(
    "scan" -> (() => noop(docs(spark))),
    "lsh" -> (() => noop(Dedup.lshBuckets(docs(spark), "doc_id", "text", 32, 4))),
    "candidates" -> (() => noop(candidates(spark))))

  def layers(spark: SparkSession, t: Map[String, Double], s: Map[String, TaskStats]): Map[String, Double] = {
    val n = candidates(spark).count()
    Map(
      "core.scan_s" -> t("scan"),
      "functions.minhash_s" -> (t("lsh") - t("scan")),
      "dedup.join_s" -> (t("candidates") - t("lsh")),
      "dedup.verify_s" -> (t("full") - t("candidates")),
      "dedup.candidates" -> n.toDouble,
      "dedup.precision" -> (if (n == 0) 0.0 else corpus.truePairs.size.toDouble / n))
  }
}

/** `wc_zipf`-shaped files arriving on a fixed schedule (an open loop: the
  * generator does not wait for the engine), counted by the stateful
  * `streamingWordCount` in update mode into a `foreachBatch` sink that
  * keeps the latest count per word.
  *
  * All files are written before the clock starts; the generator thread only
  * moves each into the watched directory when it is due, so its own
  * lateness stays small and is reported.
  */
final class WcStream(work: File, seed: Long, fileBytes: Long, val intervalMs: Long, val files: Int) {
  import BatchWorkload._
  val in = new File(work, "stream")
  private val staging = new File(work, "staging")
  val checkpoint = new File(work, "checkpoint")
  val tally = new Gen.Tally
  /** Warm-up files, processed one at a time before the clock starts. */
  val WarmUp = 3
  private val names = (0 until WarmUp + files).map(i => f"f$i%05d.txt")
  val bytes: Array[Long] = {
    in.mkdirs(); staging.mkdirs()
    val r = new SplittableRandom(seed)
    val vocab = Gen.vocabulary(r, 50000)
    val next = Gen.zipfTokens(vocab, new Gen.Zipf(vocab.length, 1.0), r)
    names.map(n => Gen.writeTokens(new File(staging, n), fileBytes, r, tally)(next)).toArray
  }
  def timedBytes: Long = bytes.drop(WarmUp).sum

  def describe: String =
    f"${files} files of ${fileBytes / 1024} KB every $intervalMs ms " +
      f"(${fileBytes / Probe.MB * 1000 / intervalMs}%.2f MB/s), ${tally.tokens} tokens, " +
      f"${tally.counts.size} distinct (distinct/token ${tally.counts.size.toDouble / tally.tokens}%.4f)"

  def release(i: Int): Unit =
    java.nio.file.Files.move(new File(staging, names(i)).toPath, new File(in, names(i)).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  /** Latest count per word, as the sink received them. */
  val sinkCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Micro-batch id -> when its result reached the sink (System.nanoTime). */
  val committedAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def start(spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      df.collect().foreach(r => sinkCounts.put(r.getString(0), r.getLong(1)))
      committedAt.put(id, System.nanoTime())
    }
    graft.streaming.StreamOps.streamingWordCount(spark.readStream.text(in.getPath))
      .writeStream.outputMode("update").foreachBatch(sink)
      .option("checkpointLocation", checkpoint.getPath).start()
  }

  /** File name -> the micro-batch that read it, from the file source's log. */
  def batchOf(): Map[String, Long] = {
    val Path = "\"path\":\"([^\"]+)\"".r
    val Batch = "\"batchId\":(\\d+)".r
    val log = new File(checkpoint, "sources/0")
    Option(log.listFiles).getOrElse(Array.empty[File]).toSeq
      .filterNot(_.getName.startsWith(".")) // checksum files
      .flatMap(f => readLines(f).toSeq).flatMap { l =>
      for (p <- Path.findFirstMatchIn(l); b <- Batch.findFirstMatchIn(l))
        yield p.group(1).split('/').last -> b.group(1).toLong
    }.toMap
  }

  def output: Output = new Output {
    def check(): Option[String] = {
      val it = tally.counts.entrySet().iterator()
      var err: Option[String] = None
      while (err.isEmpty && it.hasNext) {
        val e = it.next()
        val got = sinkCounts.get(e.getKey)
        if (got == null || got.longValue != e.getValue.longValue)
          err = Some(s"word '${e.getKey}': got $got, want ${e.getValue}")
      }
      err.orElse(if (sinkCounts.size != tally.counts.size)
        Some(s"${sinkCounts.size} words at the sink, want ${tally.counts.size}") else None)
    }
    def corrupt(): Unit = {
      val k = sinkCounts.keys().nextElement()
      sinkCounts.put(k, sinkCounts.get(k) + 1)
    }
  }
}
