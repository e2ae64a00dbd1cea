package graft

import java.util.Locale
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.WordCount

/** Pins the reference's token semantics (SURVEY §2 O3-O5, §2.10):
  * `trim().split("\\s+")`, strip `\W`, lower-case, drop empty — boundary
  * cases straight from FIXTURES §A. The engine and the DuckDB oracle strip
  * before lower-casing; the reference (`WorkerNode.java:45`) lower-cases
  * first; the two orders differ only on characters whose lower case is
  * ASCII, pinned below.
  */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def normalized(s: String): Seq[String] =
    Seq(s).toDF("value")
      .select(explode(tokenize(col("value"))).as("raw"))
      .select(normalizeToken(col("raw")).as("w"))
      .where(isNonEmptyToken(col("w")))
      .as[String].collect().toSeq

  test("punctuation collapses like Java \\W-strip: don't→dont, co-op→coop") {
    assert(normalized("don't co-op e-mail 3.14 a_b") ==
      Seq("dont", "coop", "email", "314", "a_b"))
  }

  test("pure-punctuation tokens are dropped") {
    assert(normalized("--- !!! ??? ... hello") == Seq("hello"))
  }

  test("mixed case lowers; digits and underscore survive") {
    assert(normalized("Hello WORLD_9") == Seq("hello", "world_9"))
  }

  test("blank and empty input produce no tokens") {
    assert(normalized("") == Seq.empty)
    assert(normalized("   \t  ") == Seq.empty)
  }

  test("unicode: Java \\W is ASCII-classed, so accents are stripped") {
    // é is \W under the reference's regex (WorkerNode.java:45) → stripped
    assert(normalized("café") == Seq("caf"))
  }

  test("word_tokens strips \\W before lower-casing (the oracle's order, not the reference's)") {
    // Lower-casing first, as WorkerNode.java:45 does, turns U+212A KELVIN
    // SIGN into ASCII `k` and U+0130 into `i` + U+0307, so it keeps them.
    val reference = (s: String) => s.toLowerCase(Locale.ROOT).replaceAll("\\W", "")
    assert(reference("\u212A") == "k" && reference("\u0130x") == "ix")
    val got = Seq("\u212A", "\u0130x").toDF("value")
      .select(wordTokens(col("value"))).as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq.empty, Seq("x")))
    assert(got == Seq("\u212A", "\u0130x").map(normalized))
  }

  test("word count golden: counts and (cnt ASC, word ASC) global order") {
    val df = Seq("b a b", "A b a_", "").toDF("value")
    val out = WordCount.run(df).as[(String, Long)].collect().toSeq
    // a→2, a_→1, b→3 ; order by cnt then word
    assert(out == Seq(("a_", 1L), ("a", 2L), ("b", 3L)))
  }

  test("word count invariant under row permutation and partitioning") {
    val lines = Seq("x y z", "y z", "z", "x y", "")
    val a = WordCount.counts(lines.toDF("value")).as[(String, Long)].collect().toMap
    val b = WordCount.counts(lines.reverse.toDF("value").repartition(7))
      .as[(String, Long)].collect().toMap
    assert(a == b && a == Map("x" -> 2L, "y" -> 3L, "z" -> 3L))
  }

  test("token/subword counts and ratios") {
    val r = Seq("Hello, world! It is fine.").toDF("t")
      .select(
        tokenCount(col("t")).as("n"),
        subwordCount(col("t")).as("s"),
        punctRatio(col("t")).as("p"),
        stopwordRatio(col("t")).as("sw"))
      .as[(Long, Long, Double, Double)].head()
    assert(r._1 == 5)           // whitespace tokens
    assert(r._2 == 8)           // 5 alnum runs + ',' '!' '.'
    assert(r._3 > 0.0 && r._3 < 0.5)
    assert(r._4 == 0.4)         // it, is → 2/5 stopwords
  }

  test("fingerprint64 is FNV-1a over code points (pinned values)") {
    val got = Seq("a", "ab", "").toDF("t")
      .select(fingerprint64(col("t"))).as[Long].collect().toSeq
    def fnv(s: String): Long =
      s.foldLeft(-3750763034362895579L)((h, c) => (h ^ c.toLong) * 1099511628211L)
    assert(got == Seq(fnv("a"), fnv("ab"), -3750763034362895579L))
  }

  test("fingerprint64 folds CODE POINTS: non-BMP chars are one step, not two") {
    // U+1F600 is a surrogate PAIR in UTF-16 but ONE code point — the fold
    // must take one step (matching DuckDB's unicode(c) per character)
    val got = Seq("a😀").toDF("t")
      .select(fingerprint64(col("t"))).as[Long].head()
    def step(h: Long, cp: Long) = (h ^ cp) * 1099511628211L
    assert(got == step(step(-3750763034362895579L, 97L), 0x1F600L))
  }

  test("word n-grams and char shingles") {
    val ng = Seq("a b c d").toDF("t")
      .select(wordNgrams(col("t"), 2)).as[Seq[String]].head()
    assert(ng == Seq("a b", "b c", "c d"))
    val sh = Seq("abcd").toDF("t")
      .select(charShingles(col("t"), 3)).as[Seq[String]].head()
    assert(sh == Seq("abc", "bcd"))
  }

  test("pretokenize: GPT-2-style segmentation, lossless and contraction-aware") {
    def seg(s: String): Seq[String] =
      Seq(s).toDF("t").select(pretokenize(col("t"))).as[Seq[String]].head()
    assert(seg("I don't know... 42 things!") ==
      Seq("I", " don", "'t", " know", "...", " 42", " things", "!"))
    // every char lands in exactly one pretoken: concat reproduces input
    val s = "We've  seen 3.14 co-ops; they'll work\tfine"
    assert(seg(s).mkString == s)
    assert(seg("") == Seq.empty)
    // U+000B is in the EXPLICIT whitespace class (Java \s has it, RE2 \s
    // does not — the pattern spells the class out so both engines agree):
    // VT+space is ONE whitespace run, not a symbol run then a space
    assert(seg("a\u000B b") == Seq("a", "\u000B ", "b"))
  }
}
