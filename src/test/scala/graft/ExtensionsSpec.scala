package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.functions.{array, col, collate, lit, map}
import graft.functions.{GraftExtensions, HashExprs, LayoutExprs, UnigramExprs, VectorExprs}

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

  test("every native expression checks its input types at analysis, with no implicit cast") {
    GraftExtensions.register(spark)
    def mistyped(analyze: => Any): Unit = {
      val e = intercept[AnalysisException](analyze)
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    }
    // one mistyped argument per registered SQL function (array<int> is not
    // array<bigint>: no implicit cast)
    val sqlCalls = Map(
      "fnv64" -> "fnv64(1)",
      "simhash64" -> "simhash64(array(1))",
      "minhash_sig" -> "minhash_sig(array(1L), 4)",
      "minhash_buckets" -> "minhash_buckets(array(1L), 2, 2)",
      "first_eq_index" -> "first_eq_index(array(1), array(1L))",
      "sorted_intersect_size" -> "sorted_intersect_size(array(1L), array('a'))",
      "cosine_sim" -> "cosine_sim(array(1L), array(1.0d))",
      "srp_bucket" -> "srp_bucket(array(1.0f), 4, 0)",
      "nfc_normalize" -> "nfc_normalize(array('a'))",
      "word_tokens" -> "word_tokens(1)",
      "winnow_fps" -> "winnow_fps('a b c', 3, 4)")
    assert(sqlCalls.keySet == GraftExtensions.functions.map(_._1).toSet)
    sqlCalls.values.foreach(call => mistyped(spark.sql(s"SELECT $call")))
    // ... and per Column-only kernel
    val row = spark.range(1).toDF("id")
    Seq(
      HashExprs.sortedJaccard(array(lit(1)), array(lit(1L))),
      HashExprs.textMinhashBuckets(lit(1), 2, 2),
      HashExprs.textTokenHashes(array(lit("a"))),
      HashExprs.fnvMix64(lit(1L)),
      VectorExprs.jlProject(array(lit(1L)), 2, 1),
      LayoutExprs.zorder16(lit(1), col("id")),
      LayoutExprs.hilbert16(col("id"), lit("a")),
      UnigramExprs.viterbiSegment(lit("ab"), map(lit("a"), lit(1)), 4, 1000L)
    ).foreach(c => mistyped(row.select(c)))
    // a string of a non-default collation is not a string input
    mistyped(spark.sql("SELECT fnv64(collate('a', 'UTF8_LCASE'))"))
    mistyped(spark.sql("SELECT word_tokens(collate('a', 'UNICODE'))"))
    mistyped(row.select(HashExprs.textTokenHashes(collate(lit("a b"), "UTF8_LCASE"))))

    // today's inputs still analyze: a NOT NULL-element array<bigint> from
    // text_token_hashes, array<double>, and map<string,bigint>
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("id", "text")
    val jac = docs.as("x").join(docs.as("y"), col("x.id") < col("y.id"))
      .select(HashExprs.sortedJaccard(
        HashExprs.textTokenHashes(col("x.text")), HashExprs.textTokenHashes(col("y.text"))))
      .as[Double].head()
    assert(jac == 0.5)
    val cos = row.select(VectorExprs.cosineSim(
      array(lit(3.0), lit(0.0)), array(lit(1.0), lit(0.0)))).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    val seg = row.select(UnigramExprs.viterbiSegment(lit("ab"),
        map(lit("a"), lit(1L), lit("b"), lit(2L)), 4, 1000L).as("s"))
      .select(col("s.best"), col("s.pieces")).as[(Long, Seq[String])].head()
    assert(seg == ((3L, Seq("a", "b"))))
  }

  test("non-literal parameters to parameterized functions are rejected") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), cast(rand()*4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
