package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.WordCount

/** End-to-end over the reference's actual I/O surface: multi-file text
  * scan in (O1, implicit UNION ALL — `MainMaster.java:4-11`) and the
  * KEEP_LOCAL partitioned text sink out (O16 — `WorkerNode.java:166-178`),
  * with the reference's output format and global (cnt ASC, word ASC) order.
  */
class WordCountE2ESpec extends SparkSpec {
  import spark.implicits._

  test("text files in → counted, ordered, formatted text files out") {
    val base = Files.createTempDirectory(Paths.get("target"), "wc_e2e")
    val in1 = base.resolve("part1.txt")
    val in2 = base.resolve("part2.txt")
    Files.writeString(in1, "the quick brown fox\nthe lazy dog!\n")
    Files.writeString(in2, "The DOG barks; the fox don't.\n")
    val out = base.resolve("out").toString

    val counted = WordCount.fromTextFiles(spark, Seq(in1.toString, in2.toString))
      .as[(String, Long)].collect().toSeq
    val want = Seq( // cnt ASC then word ASC; don't → dont, punctuation stripped
      ("barks", 1L), ("brown", 1L), ("dont", 1L), ("lazy", 1L), ("quick", 1L),
      ("dog", 2L), ("fox", 2L), ("the", 4L))
    assert(counted == want)

    WordCount.writeSorted(
      spark.read.text(in1.toString, in2.toString), out)
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala)
    // ordered part files concatenate to the same global order (KEEP_LOCAL:
    // range partitions are emitted in ascending file order)
    assert(lines == want.map { case (w, c) => s"$w: $c" })
  }

  test("EXPLICIT gather: driver-side sorted lines, guarded by maxRows") {
    // O16's other sink mode (MasterNode.java:187-210): gather-to-one-file
    // on the driver, offered only behind a row-count guard
    val df = Seq("the quick brown fox", "the lazy dog!",
      "The DOG barks; the fox don't.").toDF("value")
    val lines = WordCount.collectSorted(df)
    assert(lines == Seq("barks: 1", "brown: 1", "dont: 1", "lazy: 1",
      "quick: 1", "dog: 2", "fox: 2", "the: 4"))
    // the guard fires BEFORE an unbounded driver gather: 8 distinct words
    // against maxRows = 4 must throw, naming the distributed alternative
    val e = intercept[IllegalArgumentException] {
      WordCount.collectSorted(df, maxRows = 4)
    }
    assert(e.getMessage.contains("writeSorted"))
  }

  test("writeSorted tokenizes in one native word_tokens pass inside whole-stage codegen") {
    val out = Files.createTempDirectory(Paths.get("target"), "wc_plan").resolve("out").toString
    @volatile var plan: String = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains(out)) plan = p
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      WordCount.writeSorted(Seq("The fox, the DOG", "").toDF("value").repartition(3), out)
      eventually(timeout(30.seconds))(assert(plan != null))
    } finally spark.listenerManager.unregister(listener)
    assert(!plan.contains("regexp_replace") && !plan.contains("split("), plan)
    val fin = plan.substring(plan.indexOf("== Final Plan =="), plan.indexOf("== Initial Plan =="))
    assert("Generate ".r.findAllIn(fin).size == 1, fin)
    // the partial aggregate and the generator share one codegen stage,
    // generator below the aggregate
    val agg = """\*\((\d+)\) HashAggregate\(keys=\[word#\d+\], functions=\[partial_count""".r
      .findFirstMatchIn(fin)
    val gen = """\*\((\d+)\) Generate explode\(word_tokens\(value#\d+\)\)""".r
      .findFirstMatchIn(fin)
    assert(agg.isDefined && gen.isDefined, fin)
    assert(agg.get.group(1) == gen.get.group(1) && agg.get.start < gen.get.start, fin)
  }
}
