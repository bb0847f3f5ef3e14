package perfbench

import Main.median

/** Per-layer numbers of a traced run. Each traced pass yields one value
  * per metric; the run reports the median over its traced passes. Times
  * and counts are totals over one pass of the workload; set-up layers are
  * the median over the run's set-ups. */
final class Layers(run: Run) {
  private val tracer = run.tracer
  private val ms = 1000000L

  // Spark's records become spans before parents and self times are computed
  run.execL.jobs.foreach(j => tracer.external("exec.job", -1, j.start * ms, (if (j.end > 0) j.end else j.start) * ms))
  run.streamL.started.foreach { case (runId, startMs) =>
    run.streamL.triggers.filter(_.query == runId).map(_.startMs).minOption
      .foreach(first => tracer.external("streaming.startup", -1, startMs * ms, first * ms))
  }
  run.streamL.triggers.foreach { t =>
    tracer.external("streaming.trigger", -1, t.startMs * ms, (t.startMs + t.durations.getOrElse("triggerExecution", 0L)) * ms)
  }
  tracer.attach()
  private val spans = tracer.spans.toSeq
  private val self = tracer.selfTimes()
  private val byId = spans.map(s => s.id -> s).toMap

  private def secs(ns: Long): Double = ns / 1e9

  /** Sum of self times of spans named `name` among `ops`. */
  private def selfOf(ops: Set[Int], names: String*): Double =
    secs(spans.filter(s => ops(s.op) && names.contains(s.name)).map(s => self(s.id)).sum)

  private def durOf(ops: Set[Int], name: String): Double =
    secs(spans.filter(s => ops(s.op) && s.name == name).map(_.dur).sum)

  private def within(s: Span, name: String): Boolean = {
    var p = s.parent
    while (p >= 0) {
      val up = byId(p)
      if (up.name == name) return true
      p = up.parent
    }
    false
  }

  private val setupOps = run.setupOps
  private def setupLayer(name: String): Double =
    median(setupOps.map(o => selfOf(Set(o), name)))

  private val tracedPasses = run.passes.filter(_._2)
  // the workload's own operations only: traced-only ones run in every pass
  // of a traced run, but their time is not what tracing added
  private def opTime(pass: Int): Double =
    run.records.filter(r => r.pass == pass && run.regular(r.key)).map(_.latency).sum
  private val untracedTimes = run.passes.filter(p => !p._2 && p._1 >= Run.FirstMeasured).map(p => opTime(p._1))
  private val overhead =
    if (untracedTimes.isEmpty) 0.0
    else median(tracedPasses.map(p => opTime(p._1))) / median(untracedTimes)

  private def passMetrics(pass: Int, start: Long, end: Long): Seq[(String, Double, String)] = {
    val recs = run.records.filter(_.pass == pass)
    val ops = recs.map(_.op).toSet
    val wall = secs(end - start)
    val jobs = run.execL.jobs.filter(j => j.start * ms >= start && j.start * ms <= end)
    val totals = jobs.flatMap(j => run.execL.totals.get(j.id))
    def tot(f: Totals => Long): Double = totals.map(f).sum.toDouble
    val jobSpans = spans.filter(s => ops(s.op) && s.name == "exec.job")
    val triggers = run.streamL.triggers.filter(t => t.startMs * ms >= start && t.startMs * ms <= end)
    def trig(k: String): Double = triggers.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val queries = triggers.groupBy(_.query).values.map(_.maxBy(_.startMs))
    val triggerS = trig("triggerExecution")
    // the entry call returns this long after its stream's last trigger ends
    val stopS = spans.filter(s => ops(s.op) && s.name == "SparkEntry.build").map { b =>
      val ends = spans.filter(t => t.op == b.op && t.name == "streaming.trigger").map(_.end)
      if (ends.isEmpty) 0.0 else secs(b.end - ends.max)
    }.sum
    val resultRows = recs.map(_.resultRows).sum
    val taskRun = tot(_.runMs) / 1e3
    Seq(
      ("Engine.open_s", setupLayer("Engine.open"), "s"),
      ("Tables.register_s", setupLayer("Tables.register"), "s"),
      ("Catalog.schema_s", setupLayer("Catalog.schema"), "s"),
      ("Frontend.prompt_s", selfOf(ops, "LlmFrontend.toSql"), "s"),
      ("Sanitizer.sanitize_s", selfOf(ops, "Sanitizer.sanitize"), "s"),
      ("Runner.gate_s", selfOf(ops, "Runner.run", "Runner.runSql"), "s"),
      ("plans.parsing_s", durOf(ops, "plans.parsing"), "s"),
      ("plans.analysis_s", durOf(ops, "plans.analysis"), "s"),
      ("plans.optimization_s", durOf(ops, "plans.optimization"), "s"),
      ("plans.planning_s", durOf(ops, "plans.planning"), "s"),
      ("plans.codegen_compiles", recs.map(_.compiles).sum.toDouble, "count"),
      ("exec.jobs", jobs.size.toDouble, "count"),
      ("exec.stages", tot(_.stages), "count"),
      ("exec.tasks", tot(_.tasks), "count"),
      ("exec.job_wait_s", jobs.filter(_.firstTask > 0).map(j => j.firstTask - j.start).sum / 1e3, "s"),
      ("exec.task_run_s", taskRun, "s"),
      ("exec.task_cpu_s", tot(_.cpuNs) / 1e9, "s"),
      ("exec.gc_s", tot(_.gcMs) / 1e3, "s"),
      ("exec.busy_ratio", if (wall > 0) taskRun / (wall * run.cores) else 0.0, "ratio"),
      ("exec.shuffle_write_bytes", tot(_.shuffleWrite), "bytes"),
      ("exec.shuffle_read_bytes", tot(_.shuffleRead), "bytes"),
      ("exec.spill_bytes", tot(_.spill), "bytes"),
      ("exec.rows_scanned_per_result_row",
        if (resultRows > 0) recs.map(_.scannedRows).sum.toDouble / resultRows else 0.0, "ratio"),
      ("Results.export_s", selfOf(ops, "Results.writeCsv"), "s"),
      ("Results.bytes_written", recs.map(_.bytesWritten).sum.toDouble, "bytes"),
      ("SparkEntry.build_s", durOf(ops, "SparkEntry.build"), "s"),
      ("SparkEntry.materialize_s", durOf(ops, "SparkEntry.materialize"), "s"),
      ("SparkEntry.eager_jobs", jobSpans.count(within(_, "SparkEntry.build")).toDouble, "count"),
      ("SparkEntry.count_s", run.countRecords.map(_._2).sum, "s")) ++
      Workloads.families.map { f =>
        (s"operators.$f.wall_s", recs.filter(_.family == f).map(_.latency).sum, "s")
      } ++ Seq(
      ("Checkpoints.persisted_rdds_left", recs.map(_.left.persistedRdds).sum.toDouble, "count"),
      ("Broadcasts.broadcast_blocks_left", recs.map(_.left.broadcasts).sum.toDouble, "count"),
      ("exec.storage_mem_bytes_left", recs.map(_.left.storageBytes).sum.toDouble, "bytes"),
      ("streaming.startup_s", durOf(ops, "streaming.startup"), "s"),
      ("streaming.stop_s", stopS, "s"),
      ("streaming.triggers", triggers.size.toDouble, "count"),
      ("streaming.trigger_s", triggerS, "s"),
      ("streaming.query_planning_s", trig("queryPlanning"), "s"),
      ("streaming.add_batch_s", trig("addBatch"), "s"),
      ("streaming.wal_commit_s", trig("walCommit"), "s"),
      ("streaming.get_batch_s", trig("getBatch"), "s"),
      ("streaming.latest_offset_s", trig("latestOffset"), "s"),
      ("streaming.state_rows", queries.map(_.stateRows).sum.toDouble, "rows"),
      ("streaming.state_mem_bytes", queries.map(_.stateMem).sum.toDouble, "bytes"),
      ("streaming.input_rows_per_s",
        if (triggerS > 0) triggers.map(_.inputRows).sum / triggerS else 0.0, "1/s"),
      ("trace.overhead_ratio", overhead, "ratio"),
      ("trace.unattributed_s", secs(spans.filter(s => ops(s.op) && s.parent == -1).map(s => self(s.id)).sum), "s"))
  }

  private val perPass = tracedPasses.map { case (n, _, s, e) => passMetrics(n, s, e) }

  val values: Seq[(String, Double, String)] =
    perPass.head.indices.map { i =>
      val (k, _, u) = perPass.head(i)
      (k, median(perPass.map(_(i)._2)), u)
    }

  def print(): Unit = {
    println(s"per-layer, median over ${perPass.size} traced passes (totals per pass):")
    values.foreach { case (k, v, u) => println(f"layer $k%-36s $v%.6f $u") }
    run.countRecords.foreach { case (k, c, m) =>
      println(f"count vs materialize $k%-34s count $c%.3f s  materialized $m%.3f s")
    }
  }
}
