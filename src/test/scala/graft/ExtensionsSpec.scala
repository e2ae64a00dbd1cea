package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftExtensions

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("runtime registration exposes native expressions to spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT fnv64('a') AS f,
        |  cosine_sim(array(3.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |  sorted_intersect_size(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS s,
        |  word_tokens(' Don\'t  CO-OP -- ') AS w
        |""".stripMargin).as[(Long, Double, Int, Seq[String])].head()
    assert(r._1 == (-3750763034362895579L ^ 97L) * 1099511628211L)
    assert(math.abs(r._2 - 1.0) < 1e-12)
    assert(r._3 == 2)
    assert(r._4 == Seq("dont", "coop"))
  }

  test("SQL fnv64 equals the Column-API fingerprint on fixture docs") {
    GraftExtensions.register(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.createOrReplaceTempView("ext_docs_v")
    val viaSql = spark.sql("SELECT doc_id, fnv64(text) AS fp FROM ext_docs_v")
      .as[(Long, Long)].collect().toMap
    val viaCol = docs.select($"doc_id",
        graft.functions.TextFunctions.fingerprint64($"text"))
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaCol)
  }

  test("the extensions injector wires every function without error") {
    // injector path (builder.withExtensions / spark.sql.extensions config);
    // full-session coverage of the injected surface is GraftSession's
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftExtensions.functions.map(_._1).distinct.size ==
      GraftExtensions.functions.size)
  }

  test("SQL winnow_fps equals the operator's fingerprint sets") {
    GraftExtensions.register(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.createOrReplaceTempView("ext_docs_w")
    val viaSql = spark.sql(
      """SELECT doc_id, winnow_fps(
        |  filter(split(trim(lower(text)), '\\s+'), t -> length(t) > 0),
        |  3, 4) AS fps FROM ext_docs_w""".stripMargin)
      .as[(Long, Seq[Long])].collect().toMap
    val viaOp = graft.operators.Dedup.winnowFingerprints(docs, 3, 4)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaSql == viaOp)
  }

  test("a GraftSession starts batch exchanges at 2 × SPARK_GRAFT_CPUS partitions") {
    // the core count is the session's only environment input: no fixture
    // directory (SPARK_GRAFT_SF_DIR or any other) changes the width
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
      (cpus * 2).toString)
  }

  test("non-literal parameters to parameterized functions are rejected") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), cast(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
