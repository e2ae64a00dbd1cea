package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.{HashExprs, HashImpl, TextFunctions}
import graft.operators.Dedup

/** Property-based checks (SURVEY §5.2(2)) for the native sketch kernels —
  * pure JVM where they can be, so shrinkage and high case counts are cheap.
  * The last two properties compare the MinHash sketch and candidate
  * stage against the Spark forms they replaced, on the suites' shared
  * session.
  */
object HashImplProps extends Properties("HashImpl") {

  private val token: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("the", "a", "föö", "日本", "", "x"))
  private val tokens: Gen[List[String]] = Gen.listOf(token)

  private def arr(ts: List[String]): GenericArrayData =
    new GenericArrayData(ts.map(t => UTF8String.fromString(t)).toArray[Any])

  property("minhash: deterministic, length k, order-invariant on same set") =
    forAll(tokens, Gen.choose(1, 64)) { (ts, k) =>
      val a = HashImpl.minhash(arr(ts), k)
      val b = HashImpl.minhash(arr(scala.util.Random.shuffle(ts)), k)
      a.numElements() == k &&
        (0 until k).forall(i => a.getLong(i) == b.getLong(i))
    }

  property("minhash: signature entries only decrease as tokens are added") =
    forAll(tokens, token, Gen.choose(1, 32)) { (ts, extra, k) =>
      val base = HashImpl.minhash(arr(ts), k)
      val more = HashImpl.minhash(arr(extra :: ts), k)
      (0 until k).forall(i => more.getLong(i) <= base.getLong(i))
    }

  property("simhash: order-invariant; equal sets hash equal") =
    forAll(tokens) { ts =>
      HashImpl.simhash(arr(ts)) ==
        HashImpl.simhash(arr(scala.util.Random.shuffle(ts)))
    }

  property("sortedIntersectCount == set-intersection size") =
    forAll(Gen.listOf(Gen.choose(-50L, 50L)), Gen.listOf(Gen.choose(-50L, 50L))) {
      (xs, ys) =>
        val a = xs.distinct.sorted
        val b = ys.distinct.sorted
        val got = HashImpl.sortedIntersectCount(
          new GenericArrayData(a.toArray),
          new GenericArrayData(b.toArray))
        got == (a.toSet & b.toSet).size
    }

  property("firstEqIndex == naive first matching position") =
    forAll(Gen.listOf(Gen.choose(0L, 3L)), Gen.listOf(Gen.choose(0L, 3L))) {
      (xs, ys) =>
        val want = xs.zip(ys).indexWhere { case (x, y) => x == y }
        HashImpl.firstEqIndex(
          new GenericArrayData(xs.toArray),
          new GenericArrayData(ys.toArray)) == want
    }

  property("fnv64 == reference code-point fold (incl. non-BMP)") =
    forAll(Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf(Gen.asciiPrintableStr.map(_.take(3)),
        Gen.oneOf("é", "日本", "😀", ""))).map(_.mkString))) { s =>
      val ref = s.codePoints().toArray.foldLeft(-3750763034362895579L)(
        (h, cp) => (h ^ cp.toLong) * 1099511628211L)
      HashImpl.fnv64(UTF8String.fromString(s)) == ref
    }

  property("minhashBuckets: bands entries; equal token sets collide in all bands") =
    forAll(tokens, Gen.choose(1, 8), Gen.choose(1, 8)) { (ts, bands, rows) =>
      val a = HashImpl.minhashBuckets(arr(ts), bands, rows)
      val b = HashImpl.minhashBuckets(arr(scala.util.Random.shuffle(ts)), bands, rows)
      a.numElements() == bands &&
        (0 until bands).forall(i => a.getLong(i) == b.getLong(i))
    }

  /** Brute-force winnowing reference: gram hashes via the joined-string
    * fold the scaladoc promises, then min of every w-slice (one partial
    * slice when grams < w), distinct preserving first occurrence.
    */
  private def winnowRef(ts: List[String], k: Int, w: Int): List[Long] = {
    if (ts.length < k) return Nil
    val grams = ts.sliding(k).map(g =>
      HashImpl.fnv64(UTF8String.fromString(g.mkString(" ")))).toList
    val mins =
      if (grams.length <= w) List(grams.min)
      else grams.sliding(w).map(_.min).toList
    mins.distinct
  }

  private val nonEmptyTokens: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.oneOf("the", "a", "föö", "日本", "x")))

  property("winnowFps == brute-force winnowing (values AND order)") =
    forAll(nonEmptyTokens, Gen.choose(1, 5), Gen.choose(1, 6)) { (ts, k, w) =>
      val got = HashImpl.winnowFps(arr(ts), k, w)
      val ref = winnowRef(ts, k, w)
      got.numElements() == ref.length &&
        ref.indices.forall(i => got.getLong(i) == ref(i))
    }

  property("winnowing guarantee: shared run of k+w-1 tokens ⇒ shared fingerprint") =
    forAll(nonEmptyTokens, nonEmptyTokens, nonEmptyTokens, Gen.choose(1, 4),
        Gen.choose(1, 5)) { (pre, run0, post, k, w) =>
      // plant the same (k+w-1)-token run inside two different contexts
      val run = Iterator.continually(run0).flatten.take(k + w - 1).toList
      val doc1 = pre ++ run ++ post
      val doc2 = post ++ run ++ pre
      def fps(ts: List[String]) = {
        val a = HashImpl.winnowFps(arr(ts), k, w)
        (0 until a.numElements()).map(a.getLong).toSet
      }
      fps(doc1).intersect(fps(doc2)).nonEmpty
    }

  private lazy val spark = SparkSpec.session

  /** Spark-backed properties plan and run jobs per case, so they check
    * fewer cases than the pure-JVM ones.
    */
  private def sparkCheck(p: Prop): Prop = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), p)
    r.passed :| r.status.toString
  }

  private val rawToken: Gen[String] = Gen.oneOf(token,
    Gen.oneOf("\u000B", "a\u000Bb", "Ünïcödé", "日本語", "the"))

  /** The sketch hashes the token array it shares with the bucket keys;
    * the form it replaced tokenized the text again for the token set.
    */
  property("minhashIndex toks == the per-text sort_array(transform(filter(...), xxhash64)) form") =
    sparkCheck(forAll(Gen.listOf(rawToken), Gen.oneOf(" ", "\t", "\u000B", "  ")) { (ts, sep) =>
      val session = spark
      import session.implicits._
      val docs = Seq((1L, (ts ++ ts.take(2)).mkString(sep))).toDF("doc_id", "text")
      val old = sort_array(transform(
        filter(array_distinct(TextFunctions.tokenize(lower(col("text")))),
          x => length(x) > 0), x => xxhash64(x)))
      val want = docs.select(old).head().getSeq[Long](0)
      val idx = Dedup.minhashIndex(docs).select($"toks", $"n_tok").head()
      (idx.getSeq[Long](0) == want && idx.getInt(1) == want.size) :| s"tokens $ts"
    })

  /** The candidate stage `minhashCandidates` replaced: a self-join of the
    * exploded rows carrying the whole bucket array, deduplicated to the
    * first colliding band.
    */
  private def selfJoinCandidates(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val b = docs.select(col("doc_id"), HashExprs.minhashBuckets(
        array_distinct(TextFunctions.tokenize(lower(col("text")))), bands, rows).as("bk"))
      .select(col("doc_id"), col("bk"), posexplode_outer(col("bk")))
    b.as("x").join(b.as("y"), col("x.pos") === col("y.pos") &&
        col("x.col") === col("y.col") && col("x.doc_id") < col("y.doc_id"))
      .where(HashExprs.firstEqIndex(col("x.bk"), col("y.bk")) === col("x.pos"))
      .select(col("x.doc_id"), col("y.doc_id"))
  }

  /** Small corpora over a six-word vocabulary (so buckets collide often),
    * with blank and null texts.
    */
  private val corpus: Gen[List[(Long, String)]] = {
    val text = Gen.oneOf(
      Gen.listOf(Gen.oneOf("a", "b", "c", "d", "E", "f")).map(_.take(5).mkString(" ")),
      Gen.oneOf("", "  ", null))
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, text))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  property("minhashCandidates pairs == the bucket-array self-join's, each pair once") =
    sparkCheck(forAll(corpus, Gen.choose(1, 8), Gen.choose(1, 3)) { (c, bands, rows) =>
      val session = spark
      import session.implicits._
      val docs = c.toDF("doc_id", "text")
      val got = Dedup.minhashCandidates(docs, bands = bands, rowsPerBand = rows)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().sorted.toSeq
      val want = selfJoinCandidates(docs, bands, rows).as[(Long, Long)].collect().sorted.toSeq
      (got == want) :| s"bands $bands rows $rows: got $got want $want"
    })
}
