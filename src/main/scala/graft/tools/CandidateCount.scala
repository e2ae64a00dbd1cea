package graft.tools

/** Measures dd03's LSH CANDIDATE volume (pre-verification pairs) and
  * verified-pair output at a fixture directory — the quantity the
  * sf-scaling claims are about: minhash+LSH cost is linear in candidate
  * volume, so the wall curve is judged against this, not row count.
  * One pass: candidates from [[graft.operators.Dedup.minhashCandidates]],
  * the candidate stage of [[graft.operators.Dedup.minhashDupPairs]]
  * (32×4 banding), verified pairs from the judged operator itself.
  *
  * Usage: `CandidateCount <sfDir> [more dirs...]` → one JSON line per dir.
  */
object CandidateCount {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass fixture dirs")
    val spark = graft.core.GraftSession
      .builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      val docs = graft.core.Tables(spark, dir).documents
      val candidates = graft.operators.Dedup.minhashCandidates(docs).count()
      val verified = graft.operators.Dedup
        .minhashDupPairs(docs, threshold = 0.8).count()
      println(s"""{"dir":"$dir","candidates":$candidates,"verified":$verified}""")
    }
    spark.stop()
  }
}
