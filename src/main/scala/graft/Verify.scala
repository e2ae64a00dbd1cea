package graft
import java.nio.file.{Files, Paths}
import graft.core.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session every user runs, with the shuffle width of the suites
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for local iteration; the
    // driver never sets it, so the judged run always dumps everything.
    val only = sys.env.get("GRAFT_QUERY_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(s) => SparkEntry.queries.filter { case (n, _) => s(n) }
      case None    => SparkEntry.queries
    }
    val oracleGated = SparkEntry.oracleSql.keySet
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Oracle-gated outputs are sorted by pandas at judge time, which
        // cannot handle nested columns — fail HERE with a clear message
        // instead of crashing the harness after the round is sealed.
        if (oracleGated(name))
          graft.core.SchemaGuard.assertComparable(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle SQL for the selected queries only, so a filtered gate checks
    // exactly what was dumped; a selected query whose dump failed keeps
    // its SQL and shows as a failure
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
