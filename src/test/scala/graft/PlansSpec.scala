package graft

import graft.tools.Plans
import org.scalatest.funsuite.AnyFunSuite

/** Pins every `Plans.normalize` rule: two dumps of one unchanged plan must
  * diff clean, so each token that varies by session or run has exactly one
  * normalized spelling, and nothing else is rewritten. */
class PlansSpec extends AnyFunSuite {
  test("normalize rewrites the data dir, per-session counters and temp work dirs, nothing else") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    val raw = Seq(
      "Location: InMemoryFileIndex [file:/data/sf0.01/documents.parquet]",
      "Output [3]: [id_a#123L, id_b#45L, score#6]",
      "transform(__ids#7, lambdafunction(x_42, x_42#8L, false))",
      "AdaptiveSparkPlan (12) isFinalPlan=false, plan_id=9876",
      "Scan ExistingRDD[1234] LogicalRDD",
      "BroadcastExchange Broadcast(31)",
      "int_dot_lookup([J@1a2b3cF0, __qv#9)",
      "Arguments: graft.operators.Multimodal$$$Lambda$5096/0x00007f832d461368@5e4168dd, obj#12: X",
      "MapPartitionsRDD[7] at createDataFrame at TextDedup.scala:890, ExistingRDD",
      s"Location: InMemoryFileIndex [file:$tmp/graft_q2231234567890123/pairs]",
      s"Location: InMemoryFileIndex [file:$tmp/graft_q224987/pairs]",
      "max_1 between 2 and 1000").mkString("\n")
    val want = Seq(
      "Location: InMemoryFileIndex [file:$SF_DIR/documents.parquet]",
      "Output [3]: [id_a#NL, id_b#NL, score#N]",
      "transform(__ids#N, lambdafunction(x_N, x_N#NL, false))",
      "AdaptiveSparkPlan (12) isFinalPlan=false, plan_id=N",
      "Scan ExistingRDD[N] LogicalRDD",
      "BroadcastExchange Broadcast(N)",
      "int_dot_lookup([J@N, __qv#N)",
      "Arguments: graft.operators.Multimodal$$$Lambda$N, obj#N: X",
      "MapPartitionsRDD[N] at createDataFrame at TextDedup.scala:N, ExistingRDD",
      "Location: InMemoryFileIndex [file:$TMPDIR/graft_q223<n>/pairs]",
      "Location: InMemoryFileIndex [file:$TMPDIR/graft_q224<n>/pairs]",
      "max_1 between 2 and 1000").mkString("\n")
    assert(Plans.normalize(raw, "/data/sf0.01") == want)
  }

  test("normalize rewrites every lambda variable's counter, and leaves numbered columns alone") {
    // q47's `aggregate` binds `y_<n>` beside `x_<n>`; q24's output columns
    // `k_1`/`k_2` are names, not counters
    val raw = Seq(
      "aggregate(split(text#3,  , -1), 0, lambdafunction((lambda x_52#9 + length(lambda y_53#10)), " +
        "lambda x_52#9, lambda y_53#10, false), lambdafunction(lambda x_54#11, lambda x_54#11, false))",
      "Arguments: 100, [c_custkey#1L ASC NULLS FIRST], [k#4 AS k_1#5, k#6 AS k_2#7]").mkString("\n")
    val want = Seq(
      "aggregate(split(text#N,  , -1), 0, lambdafunction((lambda x_N#N + length(lambda y_N#N)), " +
        "lambda x_N#N, lambda y_N#N, false), lambdafunction(lambda x_N#N, lambda x_N#N, false))",
      "Arguments: 100, [c_custkey#NL ASC NULLS FIRST], [k#N AS k_1#N, k#N AS k_2#N]").mkString("\n")
    assert(Plans.normalize(raw, "/data/sf0.01") == want)
  }
}
