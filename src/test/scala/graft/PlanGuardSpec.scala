package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corpus-wide physical-plan guard: the 100 TB posture in one test. Every
  * declared entry is planned (not executed) at sf0.001 and must contain
  * no CartesianProduct at all, and no BroadcastNestedLoopJoin outside the
  * allowlisted intentional broadcasts (a small query/centroid/benchmark
  * side cross-joined against the corpus IS the plan you want there). A
  * new operator that accidentally plans a cartesian or an unintended BNL
  * turns this red before any benchmark does. */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // entries whose builder EXECUTES eagerly (streaming run-to-completion,
  // iterative fixpoints, two-pass RDD ops) — planned shapes are covered
  // by their own specs/PLANS.md instead
  private val eager = Set("q51_stream_hourly", "q65_stream_join",
    "q73_ntile_dist", "q74_neardup_clusters", "q75_seq_pack",
    "q89_stream_sessions", // runs the session stream to completion at build
    "q97_embed_clusters",  // iterative fixpoint: checkpoint + head() actions at build
    "q107_stream_static",  // runs the stream-static enrichment to completion at build
    "q172_ppl_stream",     // runs the scoring stream to completion at build (q162 shape)
    "q176_stream_spans",   // runs the span-scoring stream to completion at build (q172 shape)
    "q191_nb_stream",      // runs the counting stream to completion at build (q162 shape)
    "q194_dsir_stream",    // runs the scoring stream to completion at build (q172 shape)
    "q195_cluster_split",  // iterative CC fixpoint at build (q74/q97 shape)
    "q197_incremental_cluster_split", // CC fixpoint at build (q74/q97 shape)
    "q198_stream_admission", // CC fixpoint + admission stream at build
    "q203_release_manifest", // writes + reloads the JSONL shards at build
    "q204_stream_gate_ensemble", // runs the gate stream to completion at build
    "q206_stream_release", // gate stream + per-batch shard writes at build
    "q208_stream_semdedup", // runs the assignment stream to completion at build (q126 shape)
    "q224_sharded_incremental_embed") // persisted sharded runner: materialize + jobs write at build

  // Intentional broadcast cross joins: a tiny side against the corpus —
  // BNL with a broadcast build IS the linear-scan plan, not a quadratic
  // accident. Each entry's SIZE CONTRACT (what keeps the broadcast side
  // small at any corpus scale) is what earns its place here:
  //  - q44_cosine_topk: the broadcast side is the QUERY set
  //    (bruteForceTopKInt's contract: |queries| is user-bounded and tiny —
  //    5 fixture rows; cost = one corpus scan × |queries|).
  //  - q53_ann_ivf: the broadcast sides are the CENTROID set (nlist ≤
  //    ~4096 by IVF design) and the probed query set — both
  //    corpus-size-independent.
  //  - q68_contamination: the broadcast side is the BENCHMARK suite
  //    (eval sets are thousands of rows at most, fixed as the corpus
  //    grows; contaminationScores scans the corpus once against it).
  //  - q186_semdedup / q187_prototypes / q207_incremental_semdedup: the
  //    broadcast side is the SEMANTIC-CENTROID set (semNlistFor clamps k
  //    to ≤ 4096 — the same corpus-size-independent bound as q53's IVF
  //    centroids); each side of the corpus scans once against it for
  //    assignment. (q208, the streaming twin, replaces the centroid
  //    cross with the literal-centroid expression — no BNL at all — and
  //    is eager-excluded above.)
  //  - q188/q189/q190 (Naive Bayes): the broadcast side is the LABEL-
  //    STATS table — one row per class label (5 langs here; bounded by
  //    the classification task, never the corpus); every document needs
  //    a surprisal row per label, so per-doc base × labels IS the
  //    linear scan. (q191, the streaming twin, shares the scorer but is
  //    eager-excluded above.)
  //  - q201_gate_ensemble composes the q188 scorer, so it carries the
  //    same label-stats broadcast cross (same size contract).
  private val bnlAllowed = Set("q44_cosine_topk", "q53_ann_ivf", "q68_contamination",
    "q186_semdedup", "q187_prototypes", "q207_incremental_semdedup",
    "q188_nb_langid", "q189_nb_confusion", "q190_nb_incremental",
    "q201_gate_ensemble")

  test("no cartesian products or unintended nested-loop joins anywhere in the corpus") {
    val dir = TestSpark.sf0001
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (id, build) =>
      if (eager(id)) None
      else {
        val plan = build(spark, dir).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnl = plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed(id)
        if (cartesian || bnl)
          Some(s"$id: ${if (cartesian) "CartesianProduct " else ""}${if (bnl) "unexpected BNL" else ""}")
        else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  // q18 is the documented SMALL-RESULT-ONLY global NTILE (annotated in
  // Corpus.scala; its scale twin q73 runs with no Window node at all).
  // q164/q166 (round 10) are the rate-anomaly monitors: their trailing
  // window runs over the HOURLY ROLLUP of the event stream — a single
  // global time series by construction (one row per hour; three years
  // of 100 TB ingest is ~26k rows), so the single partition holds at
  // any corpus scale. The event-stream aggregation BELOW the window is
  // a normal partial+final hash aggregate.
  // q80/q151 (round 11, Sort extension): the profile surface's trailing
  // ORDER BY runs over the PROFILE OUTPUT — one row per profiled column
  // across the 10 tables (~40 rows, bounded by schema width, not data).
  // The SinglePartition exchanges the guard sees in its subtree are each
  // branch's GLOBAL-aggregate final step (map-side partials → one final
  // row; the exchange carries one partial-aggregate row per task, the
  // normal global-agg plan), not a corpus funnel — verified in the (298)
  // Sort / (295) Exchange nodes of the formatted q80 plan.
  private val globalWindowAllowed =
    Set("q18_ntile", "q164_rate_anomaly", "q166_stream_anomaly",
      "q80_profile", "q151_sketch_profile")

  test("no single-partition exchange under a Window or Sort outside the q18 allowlist") {
    val dir = TestSpark.sf0001
    // Window AND full Sort subtrees (round 11): a global orderBy that
    // survives as `Sort` + `Exchange SinglePartition` funnels the whole
    // input through one task — the corpus's trailing orderBy+limit pairs
    // must compile to TakeOrderedAndProject instead (no exchange).
    def offendingGlobal(planText: String): Boolean = {
      val lines = planText.linesIterator.toVector
      def prefixLen(l: String) = l.indexWhere(c => c.isLetter)
      lines.zipWithIndex.exists { case (line, i) =>
        val p = prefixLen(line)
        p >= 0 && {
          val node = line.substring(p)
          // "Sort " (trailing space before the plan id) — a bare prefix
          // would also match SortAggregate / SortMergeJoin, whose
          // subtrees legitimately contain global-aggregate
          // SinglePartition exchanges (round-11 review finding)
          node.startsWith("Window") || node.startsWith("Sort ")
        } && {
          // scan the node's subtree: following lines with a deeper prefix
          lines.drop(i + 1)
            .takeWhile(l => prefixLen(l) < 0 || prefixLen(l) > p)
            .exists(_.contains("Exchange SinglePartition"))
        }
      }
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (id, build) =>
      if (eager(id) || globalWindowAllowed(id)) None
      else {
        val plan = build(spark, dir).queryExecution.executedPlan.toString
        if (offendingGlobal(plan)) Some(id) else None
      }
    }
    assert(offenders.isEmpty,
      s"global (single-partition) window/sort in: ${offenders.mkString(", ")} — " +
        "partition the window or add an annotated scale twin like q73")
    // the guard must actually detect the shape it forbids: q18 trips it
    val q18 = SparkEntry.queries("q18_ntile")(spark, dir).queryExecution.executedPlan.toString
    assert(offendingGlobal(q18), "guard self-check: q18's global NTILE should match")
  }

  test("the minhash signature projections of q40 and q82 run no lambda function") {
    // the signature is one native loop (graft.functions.MinHash), not k
    // interpreted array_min(transform(...)) columns: ArrayTransform is a
    // CodegenFallback, so a lambda there runs every shingle hash through
    // k interpreted calls
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.execution.ProjectExec
    val dir = TestSpark.sf0001
    Seq("q40_minhash_neardup", "q82_minhash_portable").foreach { id =>
      val sigs = SparkEntry.queries(id)(spark, dir).queryExecution.sparkPlan.collect {
        case p: ProjectExec if p.projectList.exists(_.name == "__sig") => p
      }
      assert(sigs.nonEmpty, s"$id: no projection of __sig found")
      sigs.foreach { p =>
        assert(!p.projectList.exists(_.exists(_.isInstanceOf[LambdaFunction])),
          s"$id: lambda function in the signature projection: ${p.projectList.mkString(", ")}")
      }
    }
  }
}
