package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.functions.{HashExprs, TextFunctions}
import graft.operators.Dedup
import graft.plans.BandPairsExec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup (8/10 tokens)
    (4L, "completely different content about spark engines"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical text") {
    val r = Dedup.exact(docs).select($"keep_id", $"n_copies")
      .as[(Long, Long)].collect().toMap
    assert(r(1L) == 2L)       // docs 1+2 collapse, keep id 1
    assert(r(3L) == 1L && r(4L) == 1L && r(5L) == 1L)
  }

  test("jaccard pairs find exact and near dups with correct scores") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().sortBy(p => (p._1, p._2)).toSeq
    // distinct tokens: d1=d2={the,quick,brown,fox,jumps,over,lazy,dog}(8)
    // d3 swaps jumps→leaps: |∩|=7, |∪|=9 → 7/9
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 == 1.0)
    assert(math.abs(pairs(1)._3 - 7.0 / 9.0) < 1e-12)
  }

  test("word-trigram jaccard is order-sensitive where token jaccard is not") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.lower
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),  // identical: trigram J = 1
      (3L, "e d c b a")   // same token SET, reversed: disjoint trigrams
    ).toDF("doc_id", "text")
    val tri = Dedup.jaccardPairs(d, threshold = 0.0,
        shingles = tc => TextFunctions.wordNgrams(lower(tc), 3))
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(tri((1L, 2L)) == 1.0)
    assert(!tri.contains((1L, 3L)) || tri((1L, 3L)) == 0.0)
    val tok = Dedup.jaccardPairs(d, threshold = 0.99)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(tok == Set((1L, 2L), (1L, 3L), (2L, 3L))) // token set ignores order
  }

  test("containment catches the subset duplicate that jaccard misses") {
    // doc 2 embeds doc 1 whole inside 20 tokens of filler: containment
    // |A∩B|/min = 5/5 = 1.0, jaccard = 5/25 = 0.2
    val filler = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, s"alpha beta gamma delta epsilon $filler"),
      (3L, "zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, threshold = 0.95)
      .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    val jac = Dedup.jaccardPairs(d, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(jac.isEmpty, "jaccard at 0.8 structurally misses the quotation pair")
  }

  test("minhash signature is deterministic and length k") {
    val sigs = docs.where($"doc_id" <= 2)
      .select(Dedup.minhashSignature($"text", 16)).as[Seq[Long]].collect()
    assert(sigs(0).length == 16)
    assert(sigs(0) == sigs(1)) // identical text → identical signature
  }

  test("minhash+LSH verified pairs equal exact jaccard pairs on fixture docs") {
    val docsTable = spark.read.parquet(s"$sf0001/documents.parquet")
    val exact = Dedup.jaccardPairs(docsTable, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashDupPairs(docsTable, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact) // 32 bands × 4 rows: P(miss|J≥.8) ≈ 4.8e-8 per pair
  }

  /** Brute-force exact token-set Jaccard over every pair, by the MinHash
    * operator's tokenization (lower-case, split on the explicit whitespace
    * class, blank tokens dropped); an empty union (0/0) is no pair.
    */
  private def bruteForcePairs(
      corpus: Seq[(Long, String)], threshold: Double): Map[(Long, Long), Double] = {
    val sets = corpus.map { case (id, t) =>
      id -> t.toLowerCase(java.util.Locale.ROOT)
        .split("[\\t\\n\\x0B\\f\\r ]+").filter(_.nonEmpty).toSet
    }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      union = (sa | sb).size if union > 0
      j = (sa & sb).size.toDouble / union if j >= threshold
    } yield (a, b) -> j).toMap
  }

  /** minhashDupPairs output as a pair → Jaccard map; fails on a repeated pair. */
  private def minhashPairs(corpus: Seq[(Long, String)], threshold: Double) = {
    val got = Dedup.minhashDupPairs(corpus.toDF("doc_id", "text"), threshold)
      .as[(Long, Long, Double)].collect().toSeq
    val byPair = got.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(byPair.size == got.size, s"a pair was emitted twice: $got")
    byPair
  }

  private def assertSamePairs(got: Map[(Long, Long), Double], want: Map[(Long, Long), Double]) = {
    assert(got.keySet == want.keySet)
    want.foreach { case (p, j) => assert(math.abs(got(p) - j) < 1e-12, s"pair $p") }
  }

  test("minhash dup pairs: two blank docs are candidates but not emitted (0/0 is null)") {
    val corpus = Seq((1L, ""), (2L, "   "), (3L, "\t"), (4L, "alpha beta"), (5L, "alpha beta"))
    val cands = Dedup.minhashCandidates(corpus.toDF("doc_id", "text"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)), "blank docs share every bucket")
    val got = minhashPairs(corpus, 0.5)
    assert(got == Map((4L, 5L) -> 1.0))
    assertSamePairs(got, bruteForcePairs(corpus, 0.5))
  }

  test("minhash dup pairs: punctuation-only docs are tokens like any other") {
    val corpus = Seq((1L, "!!! ???"), (2L, "??? !!!"), (3L, "!!! ??? ..."),
      (4L, "... ,,, ;;;"), (5L, "...  ,,,\t;;;"), (6L, "!!!"), (7L, "-- --"))
    val got = minhashPairs(corpus, 0.8)
    assert(got.keySet == Set((1L, 2L), (4L, 5L)))
    assertSamePairs(got, bruteForcePairs(corpus, 0.8))
  }

  test("minhash dup pairs: 200 identical docs (one hot bucket per band) give C(200,2) pairs, each once") {
    val corpus = (1L to 200L).map(i => (i, "one hot bucket shared by every copy")) ++
      Seq((201L, "a different document entirely"), (202L, "and another one"))
    val got = minhashPairs(corpus, 0.8)
    assert(got.size == 200 * 199 / 2)
    assertSamePairs(got, bruteForcePairs(corpus, 0.8))
  }

  test("minhash dup pairs: a pair colliding in many bands is emitted once") {
    val words = (1 to 20).map(i => s"w$i")
    val corpus = Seq((1L, words.mkString(" ")),
      (2L, words.updated(7, "changed").mkString(" ")), (3L, "unrelated text here"))
    val shared = Dedup.lshBuckets(corpus.toDF("doc_id", "text"), "doc_id", "text", 32, 4)
      .groupBy($"band", $"bucket").agg(collect_set($"doc_id").as("ids"))
      .where(array_contains($"ids", 1L) && array_contains($"ids", 2L)).count()
    assert(shared > 1, s"the pair must collide in several bands, got $shared")
    val cands = Dedup.minhashCandidates(corpus.toDF("doc_id", "text"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    assert(cands == Seq((1L, 2L)))
    val got = minhashPairs(corpus, 0.8)
    assert(got.keySet == Set((1L, 2L)))
    assertSamePairs(got, bruteForcePairs(corpus, 0.8))
  }

  test("banded self-join emits exactly the pairs sharing a (band, key), each once") {
    // bandRows/bandPairs over plain key arrays, against the brute-force
    // set of (a < b) pairs that agree at some band position
    val rnd = new scala.util.Random(23)
    def check(name: String, rows: Seq[(Long, Option[Seq[Long]])]): Unit = {
      val want = (for {
        (a, Some(ka)) <- rows; (b, Some(kb)) <- rows
        if a < b && ka.zip(kb).exists { case (x, y) => x == y }
      } yield (a, b)).toSet
      val got = Dedup.bandPairs(Dedup.bandRows(rows.toDF("doc_id", "bk")))
        .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSeq
      val repeats = got.length - got.toSet.size
      assert(repeats == 0, s"$name: $repeats pairs were emitted more than once")
      assert(got.toSet == want, s"$name: got ${got.toSet -- want}, missed ${want -- got.toSet}")
    }
    // 4 bands over 5 key values: most pairs collide in 0-4 bands; ids
    // arrive shuffled, so both orders of a pair occur; null and empty
    // key arrays sit beside them, and three rows agree in every band
    check("random", rnd.shuffle(
      (1L to 80L).map(i => i -> Option(Seq.fill(4)(rnd.nextInt(5).toLong))) ++
        Seq(81L -> None, 82L -> None, 83L -> Some(Seq.empty[Long]),
          84L -> Some(Seq.empty[Long])) ++
        Seq(90L, 91L, 92L).map(_ -> Option(Seq(1L, 2L, 3L, 4L)))))
    check("one band", rnd.shuffle(
      (1L to 40L).map(i => i -> Option(Seq(rnd.nextInt(4).toLong)))))
    // a 200-row hot bucket in band 0, distinct keys in the other bands
    check("hot bucket",
      (200L to 1L by -1L).map(i => i -> Option(Seq(7L, 1000L + i, 2000L + i))))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** What the band-row self-join gave: every two input rows with non-null
    * ids a < b and key arrays agreeing at some position, as (a, b) once.
    */
  private def selfJoinPairs(rows: Seq[(Option[Long], Option[Seq[Long]])]): Seq[(Long, Long)] =
    (for {
      (Some(a), Some(ka)) <- rows; (Some(b), Some(kb)) <- rows
      if a < b && ka.zip(kb).exists { case (p, q) => p == q }
    } yield (a, b)).sorted

  /** Sizes of the (band, key) groups of the input's key arrays. */
  private def groupSizes(rows: Seq[(Option[Long], Option[Seq[Long]])]): Seq[Int] =
    rows.flatMap(_._2.toSeq.flatMap(_.zipWithIndex)).groupBy(identity).values.map(_.size).toSeq

  /** [[Dedup.bandPairs]] over (doc_id, bk) rows: the pairs, sorted, and the exec that made them. */
  private def bandPairsOf(rows: Seq[(Option[Long], Option[Seq[Long]])]): (Seq[(Long, Long)], BandPairsExec) = {
    val df = Dedup.bandPairs(Dedup.bandRows(rows.toDF("doc_id", "bk"))).select($"x.doc_id", $"y.doc_id")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val execs = Plans.collect(df.queryExecution.executedPlan) { case e: BandPairsExec => e }
    assert(execs.size == 1, df.queryExecution.executedPlan)
    (got, execs.head)
  }

  test("band pairs report candidates, groups of 2+ rows and the largest group, equal to brute force") {
    // 4 bands over 6 key values, so one key value is a group in several
    // bands; and a 200-row hot bucket in band 0
    val rnd = new scala.util.Random(29)
    val random = rnd.shuffle((1L to 120L).map(i => Option(i) -> Option(Seq.fill(4)(rnd.nextInt(6).toLong))))
    val hot = (200L to 1L by -1L).map(i => Option(i) -> Option(Seq(7L, 1000L + i, 2000L + i)))
    for ((name, rows) <- Seq("random" -> random, "hot bucket" -> hot)) {
      val (got, exec) = bandPairsOf(rows)
      assert(got == selfJoinPairs(rows), name)
      val sizes = groupSizes(rows)
      def metric(k: String) = exec.metrics(k).value
      assert(metric("numCandidates") == got.size && metric("numOutputRows") == got.size, name)
      assert(metric("numGroups") == sizes.count(_ >= 2), name)
      assert(metric("maxGroupRows") == sizes.max, name)
    }
  }

  test("band pairs: duplicate ids give the self-join's multiset; null ids and one key in two bands never pair") {
    // id 1 twice and id 2 twice: each row of one id pairs with each row of
    // the other at its first agreeing band; rows of one id never pair
    val dups = Seq(1L -> Seq(5L, 6L), 1L -> Seq(5L, 7L), 2L -> Seq(5L, 7L), 2L -> Seq(8L, 7L),
      3L -> Seq(9L, 7L)).map { case (i, k) => Option(i) -> Option(k) }
    val (gotDups, _) = bandPairsOf(dups)
    assert(gotDups == selfJoinPairs(dups))
    assert(gotDups.count(_ == (1L, 2L)) == 3 && gotDups.count(_ == (2L, 3L)) == 2)
    val nulls = Seq(None -> Seq(5L, 6L), None -> Seq(5L, 6L), Some(1L) -> Seq(5L, 6L),
      Some(2L) -> Seq(4L, 6L)).map { case (i, k) => i -> Option(k) }
    assert(bandPairsOf(nulls)._1 == Seq((1L, 2L)))
    // key 5 is band 0 of doc 1 and band 1 of docs 2 and 3
    val crossBand = Seq(1L -> Seq(5L, 1L), 2L -> Seq(2L, 5L), 3L -> Seq(3L, 5L))
      .map { case (i, k) => Option(i) -> Option(k) }
    assert(bandPairsOf(crossBand)._1 == Seq((2L, 3L)))
  }

  test("band pairs over string ids pair and orient as SQL compares them, duplicates and nulls included") {
    // ids whose string order differs from their numeric order ("10" < "9"),
    // a repeated id, a null id and an empty string, over 3 bands of 4 keys
    val rnd = new scala.util.Random(31)
    val ids = (1 to 60).map(i => Option(i.toString)) ++ Seq(Some("7"), Some("12"), None, Some(""))
    val rows = rnd.shuffle(ids.map(i => i -> Seq.fill(3)(rnd.nextInt(4).toLong)))
    val want = (for {
      (Some(a), ka) <- rows; (Some(b), kb) <- rows
      if a < b && ka.zip(kb).exists { case (p, q) => p == q }
    } yield (a, b)).sorted
    val got = Dedup.bandPairs(Dedup.bandRows(rows.toDF("doc_id", "bk")))
      .select($"x.doc_id", $"y.doc_id").as[(String, String)].collect().toSeq.sorted
    assert(got.nonEmpty && got == want)
  }

  test("minhash dup pairs over string ids equal brute force") {
    val corpus = trickyCorpus.take(60)
    val want = bruteForcePairs(corpus, 0.8).map { case ((a, b), j) =>
      (if (s"d$a" < s"d$b") (s"d$a", s"d$b") else (s"d$b", s"d$a")) -> j
    }
    val got = Dedup.minhashDupPairs(corpus.map { case (i, t) => (s"d$i", t) }.toDF("doc_id", "text"), 0.8)
      .as[(String, String, Double)].collect().toSeq
    assert(want.nonEmpty && got.map { case (a, b, j) => (a, b) -> j }.toMap == want && got.size == want.size)
  }

  test("sorted_jaccard is null for two empty sets when its inputs are non-nullable") {
    // text declared NOT NULL makes the token sets non-nullable; generated
    // code must still report the 0/0 Jaccard as null, not NaN (NaN >= t)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType, nullable = false)))
    def notNull(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }), schema)
    val corpus = notNull(Seq((1L, ""), (2L, "  "), (3L, "alpha beta"), (4L, "alpha beta")))
    val batch = notNull(Seq((11L, ""), (12L, "alpha beta")))
    val confs = Seq("spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val index = Dedup.minhashIndex(corpus)
      assert(!index.schema("toks").nullable)
      assert(Dedup.minhashDupPairs(corpus, 0.5).as[(Long, Long, Double)].collect().toSeq == Seq((3L, 4L, 1.0)))
      val found = Dedup.dedupAgainstIndex(batch, Dedup.indexBuckets(index), index, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(found == Set((12L, 3L, 1.0), (12L, 4L, 1.0)))
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("band pairs: a group past the buffer's in-memory threshold spills and still pairs exactly") {
    // band 0 is one 60-row group, band 1 seven groups whose pairs all agree at band 0 already
    val rows = (1L to 60L).map(i => Option(i) -> Option(Seq(3L, 100L + i % 7, 200L + i)))
    val confs = Seq("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "4",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "8")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (got, exec) = bandPairsOf(rows)
      assert(got.size == 60 * 59 / 2 && got == selfJoinPairs(rows))
      assert(exec.metrics("spillSize").value > 0, "the group never spilled")
      assert(exec.metrics("maxGroupRows").value == 60)
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("minhashDupPairs pairs band rows in one operator: one sort on bucket, one read of the band exchange") {
    val docs = trickyCorpus.toDF("doc_id", "text").repartition(3)
    val df = Dedup.minhashDupPairs(docs, 0.8)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exec = Plans.collect(plan) { case e: BandPairsExec => e }
    assert(exec.size == 1, plan)
    val sorts = Plans.collect(plan) { case s: SortExec => s }
    assert(sorts.size == 1 && Plans.collect(exec.head.child) { case s: SortExec => s } == sorts, plan)
    assert(sorts.head.sortOrder.map(_.child.references.toSeq.map(_.name)) == Seq(Seq("bucket")), plan)
    Plans.collect(plan) { case j: BaseJoinExec => j }.foreach { j =>
      assert(!(j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "bucket")), plan)
    }
    val band = Plans.collect(plan) {
      case e @ ShuffleExchangeExec(h: HashPartitioning, _, _, _) if h.references.exists(_.name == "bucket") => e
    }
    assert(band.size == 1, plan)
    val written = band.head.metrics("shuffleRecordsWritten").value
    assert(written == trickyCorpus.size * 32L && band.head.metrics("recordsRead").value == written)
  }

  test("a failed attempt of a band-pair task leaves minhashDupPairs' output as an unfailed run's") {
    val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("target"), "band_retry")
    val Seq(clean, retried) = Seq("clean.txt", "retried.txt").map(f => dir.resolve(f).toString)
    val (ok, out) = SparkSpec.runChildJvm("graft.BandPairsRetryDrill", Seq(clean, retried),
      dir.resolve("drill.log"))
    assert(ok, out.takeRight(4000))
    assert(out.contains("drill: failed attempts 1, pair stage is the result stage true true"), out.takeRight(4000))
    def lines(f: String) = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).asScala.toSeq
    val want = lines(clean)
    assert(want.size > 100 && lines(retried) == want)
    dir.toFile.listFiles().foreach(_.delete())
    dir.toFile.delete()
  }

  /** Near-duplicates that only the tokenizer's edge cases make equal: case,
    * tab and vertical-tab separators, İ (U+0130), a Greek final sigma and
    * the KELVIN SIGN (U+212A, which lower-cases to ASCII `k`): 40 draws of
    * 12 words plus a tag, each with two variants that replace one word;
    * plus one cluster
    * of 300 exact copies of a non-ASCII text, so the sketch kernels run
    * their whole-string lower-casing path under a hot bucket in every band.
    */
  private lazy val trickyCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(61)
    val vocab = Vector("alpha", "Beta", "GAMMA", "delta_x", "don't", "\u0130stanbul",
      "\u039F\u0394\u039F\u03A3", "\u212Aelvin", "kelvin", "\u00E9t\u00E9", "ok", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val seps = Vector(" ", "\t", "\u000B", "  ", " \t ", "\n")
    def render(words: Seq[String]) = words.map { w =>
      val cased = rnd.nextInt(3) match {
        case 0 => w
        case 1 => w.toUpperCase(java.util.Locale.ROOT)
        case _ => w.capitalize
      }
      cased + seps(rnd.nextInt(seps.size))
    }.mkString
    val near = (0 until 40).flatMap { c =>
      val words = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))) :+ s"doc$c"
      Seq(words, words.updated(rnd.nextInt(12), s"w$c"), words.updated(rnd.nextInt(12), s"v$c"))
        .map(render)
    }
    val hot = Seq.fill(300)("Dup \u0130\u0130 \u039F\u0394\u039F\u03A3\t\u212A x\u000By")
    (near ++ hot).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("minhash dup pairs equal brute-force exact Jaccard on case/İ/Σ/K/VT near-dups and a 300-copy cluster") {
    val corpus = trickyCorpus
    val docs = spark.createDataset(spark.sparkContext.parallelize(corpus, 4)).toDF("doc_id", "text")
    val got = Dedup.minhashDupPairs(docs, 0.8).as[(Long, Long, Double)].collect().toSeq
    val byPair = got.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(byPair.size == got.size, "a pair was emitted twice")
    val want = bruteForcePairs(corpus, 0.8)
    assert(want.size > 300 * 299 / 2, s"too few near-dup pairs: ${want.size}")
    assertSamePairs(byPair, want)
  }

  test("an index built by the pre-kernel sketch expressions answers dedupAgainstIndex like minhashIndex") {
    val fixture = spark.read.parquet(s"$sf0001/documents.parquet").select($"doc_id", $"text")
    val tricky = trickyCorpus.map { case (i, t) => (100000L + i, t) }.toDF("doc_id", "text")
    val all = fixture.unionByName(tricky)
    val corpus = all.where($"doc_id" < 400 || $"doc_id" % 2 === 0)
    val batch = all.where(!($"doc_id" < 400 || $"doc_id" % 2 === 0))
    val t = array_distinct(TextFunctions.tokenize(lower($"text")))
    val toks = sort_array(transform(filter(t, x => length(x) > 0), x => xxhash64(x)))
    val specIndex = corpus.select($"doc_id", HashExprs.minhashBuckets(t, 16, 4).as("bk"),
      size(toks).as("n_tok"), toks.as("toks"))
    val index = Dedup.minhashIndex(corpus)
    assert(specIndex.schema == index.schema)
    assert(specIndex.collect().toSet == index.collect().toSet)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_compat").toString
    def lookup(name: String, idx: org.apache.spark.sql.DataFrame) = {
      Dedup.writeIndex(idx, name, s"$tmp/$name", 4)
      Dedup.dedupAgainstIndex(batch, spark.table(s"${name}_buckets"), spark.table(s"${name}_docs"),
          threshold = 0.8)
        .as[(Long, Long, Double)].collect().toSet
    }
    val fromSpec = lookup("spec_compat_old_idx", specIndex)
    assert(fromSpec.exists(_._1 >= 100000L) && fromSpec.exists(_._1 < 100000L), fromSpec.take(5))
    assert(lookup("spec_compat_new_idx", index) == fromSpec)
  }

  test("minhashDupPairs plans both sketch columns as native kernels: no lower, split, array_distinct or lambda") {
    @volatile var plan: String = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("text_token_hashes(")) plan = p
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = trickyCorpus.take(60).toDF("doc_id", "text").repartition(3)
      Dedup.minhashDupPairs(docs, 0.8).collect()
      eventually(timeout(30.seconds))(assert(plan != null))
    } finally spark.listenerManager.unregister(listener)
    Seq("lower(", "split(", "array_distinct(", "lambdafunction").foreach { f =>
      assert(!plan.contains(f), s"$f in\n$plan")
    }
    // each kernel is evaluated inside a whole-stage codegen stage
    Seq("text_minhash_buckets(", "text_token_hashes(").foreach { k =>
      assert(plan.linesIterator.exists(l => l.contains(k) && """\*\(\d+\) Project""".r.findFirstIn(l).nonEmpty),
        s"$k not in a codegen'd projection:\n$plan")
    }
  }

  test("contamination: only docs sharing an n-gram with the benchmark surface") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta"), // shares trigram with bench doc 1
      (11L, "zeta eta theta iota"),    // no overlap
      (12L, "alpha beta gamma delta")  // duplicate of 10 → same overlap
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val r = Dedup.crossContamination(corpus, bench, n = 3)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(10L -> 1L, 12L -> 1L)) // "alpha beta gamma" shared; 11 clean
  }

  test("bloom-prefiltered contamination equals the exact form; empty benchmark → empty") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "zeta eta theta iota"),
      (12L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val exact = Dedup.crossContamination(corpus, bench, n = 3)
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.bloomContamination(corpus, bench, n = 3,
      expectedGrams = 100L, numBits = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact) // no false negatives; FPs die in the verify join
    val none = Dedup.bloomContamination(corpus, bench.limit(0), n = 3,
      expectedGrams = 100L, numBits = 1000L).count()
    assert(none == 0L) // empty benchmark: NULL sketch filters everything
  }

  test("embedding LSH-blocked dup pairs equal the exact all-pairs form") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Dedup.embeddingDupPairsExact(emb, threshold = 0.35)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val blocked = Dedup.embeddingDupPairs(emb, threshold = 0.35,
        nPlanes = 2, nTables = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(blocked == exact) // 2 planes × 16 tables: deterministic 100%
    // recall on this corpus (planes are hash-derived, not random)
  }

  test("selectivity-sized SRP blocking: planted dups at 100% recall, candidates << all pairs") {
    import graft.operators.Similarity
    // 10k near-orthogonal 64-dim vectors (seeded gaussian — deterministic),
    // with 100 planted near-identical pairs (i, 5000+i)
    val rnd = new scala.util.Random(42)
    val base = Array.fill(10000)(Array.fill(64)(rnd.nextGaussian()))
    for (i <- 0 until 100) {
      base(5000 + i) = base(i).clone()
      base(5000 + i)(0) += 1e-3
    }
    val emb = base.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "embedding")
    val planted = (0 until 100).map(i => (i.toLong, (5000 + i).toLong)).toSet
    val got = Dedup.embeddingDupPairs(emb, threshold = 0.9,
        nPlanes = 8, nTables = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == planted,
      s"missing=${planted -- got} extra=${got -- planted}")
    // the blocking bounds candidate VOLUME, not just plan shape: far fewer
    // candidate pairs than the ~5·10⁷ all-pairs product
    val candidates = Similarity.lshCandidatePairs(emb,
      nPlanes = 8, nTables = 4).count()
    val allPairs = 10000L * 9999L / 2L
    assert(candidates < allPairs / 20,
      s"candidates=$candidates is not << allPairs=$allPairs")
    // auto sizing: planes grow with n (linear candidate volume), tables
    // grow as the threshold drops (recall), both clamped
    assert(Dedup.autoPlanes(10000) >= 8 && Dedup.autoPlanes(100L << 40) == 16)
    assert(Dedup.autoTables(0.95, 8) <= Dedup.autoTables(0.80, 8))
    assert(Dedup.autoTables(0.35, 13) == 64) // low-threshold clamp
  }

  test("incremental dedup vs persisted index equals cross-split exact jaccard") {
    val docsTable = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpus = docsTable.where($"doc_id" < 400)
    val batch  = docsTable.where($"doc_id" >= 400)
    // expected: exact jaccard pairs across the split (order-free token sets)
    val all = Dedup.jaccardPairs(docsTable, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val expected = all.collect {
      case (a, b) if a < 400 && b >= 400 => (b, a)
      case (a, b) if b < 400 && a >= 400 => (a, b)
    }.toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Dedup.writeIndex(Dedup.minhashIndex(corpus), "spec_dd09_idx", s"$tmp/idx", 4)
    val got = Dedup.dedupAgainstIndex(batch,
        spark.table("spec_dd09_idx_buckets"), spark.table("spec_dd09_idx_docs"),
        threshold = 0.8)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("index append + compact: rebuild-equivalent content, one file per bucket") {
    val docsTable = spark.read.parquet(s"$sf0001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx17").toString
    def files(sub: String) =
      new java.io.File(s"$tmp/idx/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-")).length
    // build on the first installment, append the second
    Dedup.writeIndex(
      Dedup.minhashIndex(docsTable.where($"doc_id" < 300)),
      "spec_dd17_idx", s"$tmp/idx", 4)
    val builtFiles = files("docs")
    Dedup.appendToIndex(
      docsTable.where($"doc_id" >= 300 && $"doc_id" < 400),
      "spec_dd17_idx", s"$tmp/idx", 4)
    // the append added its own file set — more files than the fresh build
    assert(files("docs") > builtFiles, s"append added no files: ${files("docs")}")
    // content equivalence BEFORE compaction: lookup equals a from-scratch
    // rebuild of the full standing corpus
    val batch = docsTable.where($"doc_id" >= 400)
    def lookup() = Dedup.dedupAgainstIndex(batch,
        spark.table("spec_dd17_idx_buckets"), spark.table("spec_dd17_idx_docs"),
        threshold = 0.8)
      .select($"batch_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val appended = lookup()
    Dedup.writeIndex(
      Dedup.minhashIndex(docsTable.where($"doc_id" < 400)),
      "spec_dd17_ref", s"$tmp/ref", 4)
    val rebuilt = Dedup.dedupAgainstIndex(batch,
        spark.table("spec_dd17_ref_buckets"), spark.table("spec_dd17_ref_docs"),
        threshold = 0.8)
      .select($"batch_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(appended == rebuilt && appended.nonEmpty,
      s"missing=${(rebuilt -- appended).take(3)} extra=${(appended -- rebuilt).take(3)}")
    // compaction: layout-only — back to one file per bucket, same lookup
    Dedup.compactIndex(spark, "spec_dd17_idx", s"$tmp/idx", 4)
    assert(files("docs") == 4 && files("buckets") == 4,
      s"expected one file per bucket after compact, got ${files("docs")}/${files("buckets")}")
    assert(lookup() == rebuilt)
  }

  test("star-round components converge in O(log n) rounds on a path graph") {
    // 64-node path 0-1-2-…-63: HashMin label propagation needs 63 rounds
    // (information travels one hop per round); alternating large/small-star
    // contracts it in a handful
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L until 64L).toDF("doc_id")
    val (labels, rounds) = Dedup.connectedComponents(pairs, nodes)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 64 && got.values.forall(_ == 0L),
      s"all 64 path nodes must label 0, got ${got.filter(_._2 != 0L)}")
    assert(rounds <= 12, s"expected O(log n) star rounds on a path, ran $rounds")
  }

  test("components with a reliable checkpoint dir produce identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
      val got = Dedup.dupClusters(pairs, nodes).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
      // the rounds actually went through the reliable checkpoint path…
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
      // …and setCheckpointDir ran ONCE: one UUID subdir for the whole loop
      // (the old Option-element-equality guard re-ran it every round,
      // spraying a fresh UUID directory per checkpoint)
      assert(wrote.count(_.isDirectory) == 1,
        s"expected one checkpoint UUID dir, got ${wrote.map(_.getName).toSeq}")
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  test("simhash: near-identical docs collide, different docs don't") {
    val r = Dedup.simhashDupPairs(docs, maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(r.contains((1L, 2L))) // identical → hamming 0
    assert(!r.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated content
  }

  test("simhash64 of identical text is equal, of disjoint text differs") {
    val sh = docs.where($"doc_id" =!= 5L)
      .select($"doc_id", Dedup.simhash64($"text")).as[(Long, Long)]
      .collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
  }

  test("span dedup removes repeated spans, keeps first occurrence, rebuilds in order") {
    // segLen=4 → doc 1 spans: "aaaa","bbbb","cccc"; doc 2 repeats "bbbb"
    // between unique spans; doc 3 is entirely doc-1 material; doc 4 empty.
    val d = Seq(
      (1L, "aaaabbbbcccc"),
      (2L, "ddddbbbbeeee"),
      (3L, "aaaacccc"),
      (4L, "")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupSpans(d, segLen = 4)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      (1L, 3L, "aaaabbbbcccc"),   // first occurrence of all its spans
      (2L, 2L, "ddddeeee"),       // interior dup span cut, order kept
      (3L, 0L, ""),               // every span already claimed by doc 1
      (4L, 0L, "")))              // empty doc survives as empty, not lost
  }

  test("substring dedup: any-length repeats removed at non-first sites, runs merged") {
    // k=3. doc 1 owns "a b c d e" (a 5-token repeat = 3 consecutive dup
    // 3-grams in any copy); doc 2 embeds the same 5 tokens mid-document —
    // the overlapping dup grams at p=2,3,4 must merge into ONE removed run
    // covering exactly tokens 2..6; doc 3 is shorter than k and untouched
    // even though its tokens appear inside doc 1's repeat.
    val d = Seq(
      (1L, "a b c d e x1 x2"),
      (2L, "y1 y2 a b c d e z1 z2"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val r = Dedup.dedupSubstrings(d, k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      (1L, 7L, 0L, "a b c d e x1 x2"),      // first occurrence: untouched
      (2L, 9L, 5L, "y1 y2 z1 z2"),          // interior repeat excised whole
      (3L, 2L, 0L, "a b")))                 // sub-k doc passes through
  }

  test("substring dedup: NULL text behaves as empty, not size()=-1") {
    // tokenize(NULL) is NULL and size(NULL) is -1 — unguarded, a null doc
    // would emit n_tokens=-1 while a SQL oracle emits NULL (advisor r9);
    // the coalesce-to-empty guard makes it an ordinary empty document
    val d = Seq((1L, null: String), (2L, "p q r")).toDF("doc_id", "text")
    val r = Dedup.dedupSubstrings(d, k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 0L, 0L, ""), (2L, 3L, 0L, "p q r")))
  }

  test("substring dedup: within-doc tandem repeat keeps exactly one head") {
    // "w w w w w w" with k=3: grams at p=1..3 duplicate p=0, covering
    // tokens 1..5 — one token survives (the conservative erosion the
    // scaladoc documents), and the doc is not dropped.
    val d = Seq((1L, "w w w w w w"), (2L, "p q r")).toDF("doc_id", "text")
    val r = Dedup.dedupSubstrings(d, k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 6L, 5L, "w"), (2L, 3L, 0L, "p q r")))
  }

  test("substring dedup is invariant under input order and partitioning") {
    val docs = (0L until 40L).map { i =>
      // every third doc shares a long boilerplate prefix
      val body = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog again and again"
                 else s"unique u$i v$i w$i x$i y$i z$i a$i b$i c$i d$i"
      (i, s"$body tail$i")
    }
    val a = Dedup.dedupSubstrings(docs.toDF("doc_id", "text"), k = 5)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val b = Dedup.dedupSubstrings(
        docs.reverse.toDF("doc_id", "text").repartition(7), k = 5)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(a == b)
    // the shared 12-token span survives only in doc 0
    val hit = a.filter(r => r._1 % 3 == 0)
    assert(hit.head._3 == 0L && hit.tail.forall(_._3 > 0L))
  }

  test("fuzzy join finds substitution/insertion/deletion pairs, rejects distance-2") {
    import graft.operators.FuzzyJoin
    val d = Seq(
      (1L, "abcd"),
      (2L, "abxd"),  // substitution → d=1
      (3L, "abcde"), // insertion    → d=1 vs 1
      (4L, "bcd"),   // deletion     → d=1 vs 1
      (5L, "abcd"),  // exact        → d=0 vs 1
      (6L, "ba"),    // shares deletion variants with 7 but distance 2
      (7L, "ab"),
      (8L, "")       // empty string must not explode the variant generator
    ).toDF("k", "name")
    val pairs = FuzzyJoin.editDistance1Pairs(d, "k", "name")
      .select($"id_a", $"id_b", $"d").as[(Long, Long, Int)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1)
    assert(pairs((1L, 3L)) == 1)
    assert(pairs((1L, 4L)) == 1)
    assert(pairs((1L, 5L)) == 0)
    assert(!pairs.contains((6L, 7L)), "distance-2 false candidate must be verified away")
    assert(!pairs.keys.exists(p => p._1 == 8L || p._2 == 8L))
  }

  test("span dedup output is invariant under input order and partitioning") {
    // the judged claim is bit-identical results across partitionings: the
    // winner agg is min_by over a total (id, offset) order, so neither row
    // order nor partition layout may change which span survives
    val rows = Seq(
      (1L, "aaaabbbbcccc"), (2L, "bbbbccccdddd"), (3L, "aaaabbbbdddd"),
      (4L, "ccccddddaaaa"), (5L, "aaaabbbbcccc"))
    val base = Dedup.dedupSpans(rows.toDF("doc_id", "text"), segLen = 4)
      .orderBy("doc_id").collect().toSeq
    val shuffled = Dedup.dedupSpans(
        new scala.util.Random(42).shuffle(rows).toDF("doc_id", "text").repartition(7),
        segLen = 4)
      .orderBy("doc_id").collect().toSeq
    assert(shuffled == base)
  }

  test("dd14: cluster keeper is the argmax member and accounting closes") {
    val out = SparkEntry.allDefs("dd14_cluster_keep_best").fn(spark, sf0001)
      .select($"cluster_id", $"n_docs", $"keep_id", $"tokens_dropped")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val fixture = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(out.map(_._2).sum == fixture.count(),
      "cluster sizes partition the corpus")
    assert(out.forall(_._4 >= 0), "dropped-token accounting is non-negative")
    // the keeper must be a member of its own cluster and the argmax by
    // (quality DESC, doc_id ASC) among the members dd07 assigns to it
    val labels = SparkEntry.allDefs("dd07_dup_clusters").fn(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val q = fixture
      .select($"doc_id",
        graft.functions.TextFunctions.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    val byCluster = labels.toSeq.groupBy(_._2)
    out.foreach { case (cid, n, keep, _) =>
      assert(labels(keep) == cid, s"keeper $keep is not in cluster $cid")
      val members = byCluster(cid).map(_._1)
      assert(members.size == n, s"cluster $cid size mismatch")
      assert(keep == members.maxBy(id => (q(id), -id)),
        s"keeper $keep is not the (q DESC, id ASC) argmax of cluster $cid")
    }
  }

  test("span dedup tail shorter than segLen is its own span") {
    val d = Seq((1L, "aaaabb"), (2L, "bb")).toDF("doc_id", "text")
    // doc 1 → "aaaa","bb"; doc 2's whole text "bb" duplicates doc 1's tail
    val r = Dedup.dedupSpans(d, segLen = 4)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 2L, "aaaabb"), (2L, 0L, "")))
  }

  test("winnowing: fingerprints are the window-minima of the k-gram hashes") {
    // Brute-force the definition on one doc: k=2 grams over 6 tokens → 5
    // hashes; w=3 windows → 3 minima; fingerprint set = distinct minima.
    val d = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, k = 2, w = 3)
      .select($"fps").as[Seq[Long]].head().toSet
    val toks = Seq("a", "b", "c", "d", "e", "f")
    val grams = toks.sliding(2).map(g =>
      graft.functions.HashImpl.fnv64(
        org.apache.spark.unsafe.types.UTF8String.fromString(g.mkString(" "))))
      .toIndexedSeq
    val expected = grams.sliding(3).map(_.min).toSet
    assert(fps == expected)
  }

  test("winnowing guarantee: docs sharing a token run ≥ k+w-1 share a fingerprint") {
    // Shared middle run of 7 tokens ≥ k+w-1 = 3+4-1 = 6 → ≥1 common
    // fingerprint regardless of the differing prefixes/suffixes.
    val d = Seq(
      (1L, "alpha beta the quick brown fox jumps over dog omega"),
      (2L, "zeta eta the quick brown fox jumps over dog theta")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, k = 3, w = 4)
      .select($"doc_id", $"fps").as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
  }

  test("winnowing degrades gracefully: short docs and empty text") {
    val d = Seq(
      (1L, "one two"),          // < k=3 tokens → no grams → no fingerprints
      (2L, "one two three"),    // exactly k tokens → 1 gram < w → 1 window
      (3L, "")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, k = 3, w = 4)
      .select($"doc_id", $"fps").as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).isEmpty && fps(3L).isEmpty)
    assert(fps(2L).size == 1)
  }

  test("winnowing pairs: identical docs score 1.0, disjoint docs are absent") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about distributed spark engines here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingDupPairs(d, threshold = 0.5, k = 3, w = 4)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 == 1.0)
  }

  test("lsh tuning curve: refinement nesting, exact-recall top config, zero-safe ticks") {
    val curve = Dedup.lshTuningCurve(docs, threshold = 0.5,
        configs = Seq((4, 8), (8, 4), (16, 2)))
      .orderBy($"bands")
      .collect()
    assert(curve.length == 3)
    val byBands = curve.map(r => r.getInt(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap // cands, hits, true
    // halving rows REFINES bands (contiguous slices), so a coarse-band
    // collision (all r rows equal) forces both finer half-band collisions:
    // candidates and hits are monotone non-decreasing toward finer configs
    assert(byBands(4)._1 <= byBands(8)._1 && byBands(8)._1 <= byBands(16)._1)
    assert(byBands(4)._2 <= byBands(8)._2 && byBands(8)._2 <= byBands(16)._2)
    // n_true is config-independent (the exact pair set)
    assert(curve.map(_.getLong(4)).distinct.length == 1)
    // hits never exceed truth or candidates; recall_ticks = 2^20 iff all found
    curve.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4) && r.getLong(3) <= r.getLong(2))
      assert((r.getLong(5) == (1L << 20)) == (r.getLong(3) == r.getLong(4)))
    }
  }

  test("prefix-filtered jaccard equals the exhaustive inverted-index join exactly") {
    // the fixture corpus + adversarial shapes: subset docs (containment
    // high, jaccard low — the size filter must not drop the REAL pairs),
    // shared-stopword docs (the prefix must exclude the common tail),
    // identical singletons, and df ties broken only by token order
    val tricky = docs.union(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota"), // 9/10
      (12L, "alpha beta gamma"),                     // subset, J = 3/10
      (13L, "zzz"), (14L, "zzz"),                    // identical singletons
      (15L, "the the the unique1"), (16L, "the unique2")
    ).toDF("doc_id", "text"))
    // the prefix form at BOTH caps (the auto cost switch would route the
    // tight cap to the exhaustive join — equality by identity)
    for (t <- Seq(0.5, 0.8, 1.0); cap <- Seq(400L, 10000L)) {
      val fast = Dedup.prefixJaccardPairs(tricky, t, maxDf = cap)
      val slow = Dedup.exhaustiveJaccardPairs(tricky, t, maxDf = cap)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"prefix join must be lossless and exact at t=$t maxDf=$cap")
    }
    // sf0.001 corpus: the real fixture, both thresholds the queries use
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.prefixJaccardPairs(real, t)
      val slow = Dedup.exhaustiveJaccardPairs(real, t)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"prefix join must match exhaustive on the fixture at t=$t")
    }
  }

  test("lsh tuning curve: mismatched band products are rejected; empty corpus is zero rows-safe") {
    intercept[IllegalArgumentException] {
      Dedup.lshTuningCurve(docs, 0.5, Seq((4, 8), (8, 8)))
    }
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = Dedup.lshTuningCurve(empty, 0.5, Seq((4, 4))).collect()
    assert(r.length == 1)
    assert(r(0).getLong(2) == 0L && r(0).getLong(3) == 0L && r(0).getLong(4) == 0L)
    assert(r(0).getLong(5) == 0L && r(0).getLong(6) == 0L) // ticks guard div-0
  }
}

/** The child-JVM half of the retry drill in [[DedupSpec]]: on a
  * `local[4,3]` session, `minhashDupPairs` of [[corpus]] into `clean`,
  * then again into `retried` with the first attempt of the first task to
  * emit a pair failing there, in the stage that runs the band-pair
  * operator. Prints the failed attempts and whether, in each run, that
  * stage is the result stage (one shuffle, under the operator).
  */
object BandPairsRetryDrill extends AdaptiveSparkPlanHelper {
  private val fired = new AtomicBoolean(false)

  /** 1,200 docs of 30 words from 3,000; 300 of them a one-word variant of another. */
  def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(900)(Seq.fill(30)(s"w${rnd.nextInt(3000)}"))
    val variants = base.zipWithIndex.collect { case (w, i) if i % 3 == 0 => w.updated(rnd.nextInt(30), s"v$i") }
    (base ++ variants).zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
  }

  def main(args: Array[String]): Unit = {
    val Array(clean, retried) = args
    val spark = graft.core.GraftSession.builder("local[4,3]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val failed = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.reason != Success) failed.incrementAndGet()
    })
    val failFirstAttempt = udf { (arm: Boolean) =>
      if (arm && TaskContext.get().attemptNumber() == 0 && fired.compareAndSet(false, true))
        throw new IllegalStateException("injected band-pair task failure")
      true
    }.asNondeterministic()
    val docs = corpus.toDF("doc_id", "text")
    val resultStage = for ((out, arm) <- Seq(clean -> false, retried -> true)) yield {
      val pairs = Dedup.minhashDupPairs(docs, 0.8).where(failFirstAttempt(lit(arm)))
      val rows = pairs.as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => s"$a $b ${java.lang.Double.doubleToLongBits(j)}" }.sorted
      java.nio.file.Files.write(java.nio.file.Paths.get(out), rows.toSeq.asJava)
      val plan = pairs.queryExecution.executedPlan
      collect(plan) { case e: ShuffleExchangeExec => e }.size == 1 &&
        collect(plan) { case e: BandPairsExec => e }.size == 1
    }
    spark.stop() // drains the listener bus
    println(s"drill: failed attempts ${failed.get}, pair stage is the result stage ${resultStage.mkString(" ")}")
  }
}
