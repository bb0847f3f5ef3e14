package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rule must turn the naive non-equi time-range join into a
  * bucketized equi-join (no nested-loop/cartesian operator) without
  * changing a single row. The shared test session is `Engine.session`'s,
  * so the rule is bound as in production. */
class RangeJoinRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  val naiveSql: String =
    "SELECT a.event_id AS l_id, b.event_id AS r_id FROM events a JOIN events b " +
      "ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 120 SECOND " +
      "ORDER BY l_id, r_id"

  test("naive range join compiles to an equi-join, not a nested loop") {
    Tables.register(spark, TestSpark.sf0001)
    val df = spark.sql(naiveSql)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical.take(2000))
    assert(!physical.contains("CartesianProduct"), physical.take(2000))
    assert(physical.contains("Join"), "a join must remain")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__graft_bucket"), "rewrite fired")
  }

  test("rewritten join returns exactly the naive rows") {
    Tables.register(spark, TestSpark.sf0001)
    val rewritten = spark.sql(naiveSql).collect()
    // same SQL with the rule disabled via excludedRules
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RangeJoinRewrite")
    try {
      val naive = spark.sql(naiveSql).collect()
      assert(rewritten.length == naive.length)
      rewritten.zip(naive).foreach { case (a, b) => assert(a == b) }
      assert(naive.nonEmpty)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("joins with an equi conjunct are left alone") {
    Tables.register(spark, TestSpark.sf0001)
    val df = spark.sql(
      "SELECT a.event_id FROM events a JOIN events b " +
        "ON a.user_id = b.user_id AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND")
    assert(!df.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
  }

  test("matches the TimeJoins operator result (same semantics, same plan family)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, TestSpark.sf0001, "events")
      .select(col("event_id"), col("ts"))
    val viaOperator = graft.operators.TimeJoins.rangeJoin(ev, ev, "ts", "ts", 120L)
      .select(col("l_event_id").as("l_id"), col("r_event_id").as("r_id"))
      .orderBy("l_id", "r_id").collect()
    val viaRule = spark.sql(naiveSql).collect()
    assert(viaOperator.length == viaRule.length)
    viaOperator.zip(viaRule).foreach { case (a, b) => assert(a == b) }
  }
}
