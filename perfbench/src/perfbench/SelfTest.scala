package perfbench

import java.io.File

/** The benchmark's own check of its checks: on tiny inputs, every
  * workload's output must pass its ground-truth comparison, and the same
  * output, corrupted, must fail it.
  *
  * {{{
  * perfbench.SelfTest --work <dir>
  * }}}
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", d) => d }.getOrElse("work"))
    val spark = Main.session(s"local[${Main.cores}]")
    val seed = 7L
    val outputs: Seq[(String, () => Output)] = Seq(
      "wc_zipf" -> (() => new WcZipf(new File(work, "zipf"), seed, 64L << 10).job(spark)),
      "wc_distinct" -> (() => new WcDistinct(new File(work, "distinct"), new File(work, "distinct-out"), seed, 64L << 10).job(spark)),
      "dedup_minhash" -> (() => new DedupMinhash(spark, new File(work, "dedup"), seed, 300).job(spark)),
      "wc_stream" -> (() => {
        val s = new WcStream(new File(work, "stream"), seed, 4L << 10, 0L, 4)
        val q = s.start(spark)
        for (i <- 0 until s.WarmUp + s.files) s.release(i)
        q.processAllAvailable()
        q.stop()
        s.output
      }))
    var failures = 0
    for ((name, make) <- outputs) {
      val out = make()
      val clean = out.check()
      out.corrupt()
      val corrupted = out.check()
      val ok = clean.isEmpty && corrupted.isDefined
      if (!ok) failures += 1
      println(s"[selftest] $name: ${if (ok) "ok" else "FAILED"}; clean output: " +
        s"${clean.getOrElse("matches")}; corrupted output: ${corrupted.getOrElse("NOT rejected")}")
    }
    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
