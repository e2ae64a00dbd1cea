package graft

/** The driver's t1 smoke — `SparkEntry.entry` must produce rows on
  * sf0.001 — pinned locally so a regression in the flagship path is a
  * named test failure, not a judge-time surprise. Also pins the contract
  * invariant the driver relies on: every query has an oracle.
  */
class EntrySmokeSpec extends SparkSpec {

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: oracles cover every query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "every judged query must carry oracle SQL")
    assert(SparkEntry.queries.size >= 178)
  }
}
