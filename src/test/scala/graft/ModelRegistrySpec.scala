package graft

import graft.core.ModelRegistry

/** The train-offline/serve-online registry behind st24/st29: one train
  * per (session, key), frozen-parameter serving bit-identical to a
  * fresh-train run.
  */
class ModelRegistrySpec extends SparkSpec {

  test("memo trains exactly once per key and returns the same value") {
    var trains = 0
    def train(): java.lang.Integer = { trains += 1; Integer.valueOf(41 + trains) }
    val k = s"spec_counter_${System.nanoTime()}"
    val a = ModelRegistry.memo(spark, k)(train())
    val b = ModelRegistry.memo(spark, k)(train())
    assert(trains == 1)
    assert(a eq b)
  }

  test("freeze/toDF round-trips schema and values exactly") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      lit(7L).as("w1"), lit(-3L).as("w2"), lit(0L).as("w3"))
    val back = ModelRegistry.freeze(df).toDF(spark)
    assert(back.schema == df.schema)
    assert(back.collect().toSeq == df.collect().toSeq)
  }

  test("st24 frozen-model serve equals its first (training) run") {
    val q = SparkEntry.queries("st24_stream_quality_score")
    val first  = q(spark, sf0001).collect().toSeq
    val second = q(spark, sf0001).collect().toSeq // served from the registry
    assert(second == first)
  }

  test("st29 frozen-centroid serve equals its first (training) run") {
    val q = SparkEntry.queries("st29_stream_ann_serve")
    val first  = q(spark, sf0001).collect().toSeq
    val second = q(spark, sf0001).collect().toSeq
    assert(second == first)
  }

  test("clear() forces a retrain that reproduces the same model") {
    val q = SparkEntry.queries("st29_stream_ann_serve")
    val served = q(spark, sf0001).collect().toSeq
    ModelRegistry.clear()
    val retrained = q(spark, sf0001).collect().toSeq
    assert(retrained == served)
  }
}
