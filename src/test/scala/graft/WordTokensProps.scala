package graft

import java.nio.file.{Files, Path, Paths}
import java.util.{Comparator, Locale}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.functions.{TextFunctions, WordTokens}
import graft.operators.WordCount

/** `word_tokens` against the regex specification it replaces, and the word
  * count built on it against a plain-Scala transcription of the reference
  * map step. Each case runs Spark jobs on the suites' shared session.
  */
object WordTokensProps extends Properties("WordTokens") {

  private lazy val spark = SparkSpec.session

  /** As in [[HashImplProps]]: Spark-backed cases plan and run jobs, so
    * fewer of them are checked.
    */
  private def sparkCheck(p: Prop): Prop = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), p)
    r.passed :| r.status.toString
  }

  /** Pieces that stress the byte-level pass: the six separators, Unicode
    * spaces the reference does not split on (NBSP, U+2028), multi-byte
    * letters (é, KELVIN SIGN, İ, a surrogate-pair emoji), punctuation-only
    * runs, `_`, digits and upper case.
    */
  private val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", "   "),
    Gen.oneOf("\u00A0", "\u2028", "\u00E9", "\u212A", "\u0130", "\uD83D\uDE00"),
    Gen.oneOf("--", "!?", "'", "...", "_", "a_b", "don't", "co-op"),
    Gen.numStr.map(_.take(4)),
    Gen.alphaStr.map(_.take(6)),
    Gen.alphaUpperStr.map(_.take(4)))

  private val text: Gen[String] = Gen.frequency(
    20 -> Gen.listOf(piece).map(_.take(24).mkString),
    1 -> Gen.const(""),
    1 -> Gen.const(" \t\u000B\f\r\n "),
    1 -> Gen.const(null))

  /** The specification form, row by row. */
  private val spec = filter(
    transform(TextFunctions.tokenize(col("value")), t => TextFunctions.normalizeToken(t)),
    t => TextFunctions.isNonEmptyToken(t))

  private object Plans extends AdaptiveSparkPlanHelper

  private def strings(a: ArrayData): Seq[String] =
    if (a == null) null else (0 until a.numElements()).map(a.getUTF8String(_).toString)

  property("word_tokens == filter(transform(tokenize, normalizeToken), isNonEmptyToken), eval and codegen") =
    sparkCheck(forAll(Gen.listOf(text)) { texts =>
      val session = spark
      import session.implicits._
      // the repartition keeps both projections out of ConvertToLocalRelation,
      // which would evaluate them interpreted on the driver; the spec's
      // lambdas are not codegen'd, so it runs as a separate projection
      val in = texts.zipWithIndex.toDF("value", "i").repartition(2)
      def values(df: DataFrame) = df.collect().sortBy(_.getInt(0)).toSeq.map(_.getSeq[String](1))
      val want = values(in.select($"i", spec))
      val df = in.select($"i", TextFunctions.wordTokens($"value"))
      val got = values(df)
      val plan = df.queryExecution.executedPlan
      // the stage must exist and compile: a codegen failure would silently
      // fall back to interpreted evaluation
      val codegen = Plans.collect(plan) {
        case w: WholeStageCodegenExec if w.toString.contains("word_tokens(") => w
      }
      codegen.foreach(w => CodeGenerator.compile(w.doCodeGen()._2))
      val evaluated = texts.map(t =>
        strings(WordTokens(Literal.create(t, StringType)).eval().asInstanceOf[ArrayData]))
      (codegen.nonEmpty :| s"word_tokens not in a codegen stage:\n$plan") &&
        (got == want) :| s"codegen got $got want $want" &&
        (evaluated == want) :| s"eval got $evaluated want $want"
    })

  /** The reference map step in plain Scala: whitespace split, `\W` strip,
    * lower-case, drop empty; then counts in `(cnt, word)` order.
    */
  def transcription(lines: Seq[String]): Seq[String] =
    lines.flatMap(_.split("[\t\n\u000B\f\r ]+"))
      .map(_.replaceAll("\\W", "").toLowerCase(Locale.ROOT))
      .filter(_.nonEmpty)
      .groupBy(identity).toSeq.map { case (w, ws) => (ws.size.toLong, w) }
      .sorted.map { case (c, w) => s"$w: $c" }

  private val line: Gen[String] = Gen.frequency(
    8 -> Gen.listOf(piece).map(_.take(12).mkString),
    1 -> Gen.oneOf("", "  ", "\r\n"))

  /** Every word once (all ties), one hot word under several spellings, or
    * free text with blank lines.
    */
  private val corpus: Gen[Seq[String]] = Gen.oneOf(
    Gen.listOf(line),
    Gen.choose(1, 60).map(n => (0 until n).map(i => s"W$i,").grouped(7).map(_.mkString(" \u000B")).toSeq),
    Gen.listOf(Gen.oneOf("hot", "HOT!", "h-ot", "Hot\r\nhot", "cold hot", "")))

  /** `collectSorted` and `writeSorted` (part files read in name order) of
    * `lines` spread over `parts` partitions both equal the transcription.
    */
  private def sortedMatches(lines: Seq[String], parts: Int): Prop = {
    val session = spark
    import session.implicits._
    val df = session.createDataset(session.sparkContext.parallelize(lines, parts)).toDF("value")
    val want = transcription(lines)
    val collected = WordCount.collectSorted(df)
    val out = Files.createTempDirectory(Paths.get("target"), "wc_prop")
    WordCount.writeSorted(df, out.toString)
    val written = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)
    Files.walk(out).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    val shown = lines.map(_.take(200).flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04X" else c.toString))
    (collected == want) :| s"lines $shown: collectSorted $collected want $want" &&
      (written == want) :| s"writeSorted $written want $want"
  }

  /** One line of about 2 MB: 300,000 tokens over a 4,000-word vocabulary
    * (mixed case, punctuation, all six separators), so that one row feeds
    * one task a multi-MB token array.
    */
  private lazy val longLine: String = {
    val rnd = new java.util.SplittableRandom(17)
    val seps = Array(" ", "\t", "\u000B", "\f", "\r", "\n", "  ")
    val sb = new StringBuilder
    for (_ <- 0 until 300000) {
      val w = rnd.nextInt(4000)
      sb.append(if (w % 7 == 0) s"W$w!" else s"w-$w").append(seps(rnd.nextInt(seps.length)))
    }
    sb.toString
  }

  /** Fixed inputs the generator reaches rarely or never: most partitions
    * empty, every partition empty, only blank lines, and a single
    * multi-MB line.
    */
  private def edgeInputs: Seq[(Seq[String], Int)] = Seq(
    (Seq("b a", "A"), 8),
    (Seq.empty, 4),
    (Seq("", "  ", "\t\u000B\f", "\r\n"), 3),
    (Seq(longLine), 3))

  property("WordCount collectSorted and writeSorted == plain-Scala transcription, >= 3 partitions") =
    sparkCheck(forAll(corpus, Gen.choose(3, 5))(sortedMatches)) &&
      edgeInputs.map { case (lines, parts) => sortedMatches(lines, parts) }.reduce(_ && _)
}
