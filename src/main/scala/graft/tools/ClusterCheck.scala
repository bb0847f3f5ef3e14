package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Runs corpus queries under `local-cluster` — separate executor JVMs,
  * real serialized task dispatch, network shuffle and broadcast — the
  * closest single-machine approximation of a multi-executor deployment.
  * Catches executor-serialization bugs `local[n]` can never see (closures
  * capturing driver-only state, non-serializable expression trees).
  *
  * Usage: runMain graft.tools.ClusterCheck [ids...] (default: a
  * shuffle/broadcast/window/stream-heavy subset).
  *
  * CHAOS MODE (round 12): `runMain graft.tools.ClusterCheck chaos
  * [ids...]` kills one executor JVM (SIGKILL via destroyForcibly) ~2 s
  * into the FIRST query of a checkpoint-heavy band (default q74/q82/
  * q97) and requires the whole band to still finish with failed=0 —
  * task retry, stage resubmission and RELIABLE-checkpoint recovery
  * actually exercised, not just claimed. A reliable checkpoint dir is
  * mandatory here (localCheckpoint blocks on the killed executor would
  * be unrecoverable BY DESIGN — that is the documented deployment
  * trade-off this mode proves); chaos mode creates a temp dir when
  * SPARK_GRAFT_CHECKPOINT_DIR is not set. */
object ClusterCheck {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // worker-launched executor JVMs need: our compiled classes on their
    // classpath, the same JDK17 --add-opens set the driver gets from
    // build.sbt, and SPARK_SCALA_VERSION in the env (normally exported by
    // bin/load-spark-env.sh; the in-JVM launcher does not infer it in a
    // packaged distro — run with SPARK_SCALA_VERSION=2.13)
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = SparkSession.builder()
      .master("local-cluster[2,8,2048]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", "2g")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.executor.extraJavaOptions", addOpens)
      // the optimizer rules Engine.session installs (RangeJoinRewrite)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // deployment-mode proof: with SPARK_GRAFT_CHECKPOINT_DIR set, every
    // Checkpoints.cut in the iterative operators (q74/q82/q97) goes
    // through RELIABLE checkpointing against this shared dir instead of
    // executor-local blocks — run `ClusterCheck q74_neardup_clusters
    // q82_minhash_portable q97_embed_clusters` with it set to prove the
    // reliable path end-to-end on real executor JVMs
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach(spark.sparkContext.setCheckpointDir)
    // chaos-stream (round 13, verdict #5): the batch chaos receipt
    // exercises checkpoint recovery; this one kills an executor
    // MID-MICRO-BATCH of a run-to-completion STREAMING entry and
    // requires (a) completion, (b) scheduler-visible executor loss +
    // task failure, and (c) the post-recovery output EQUAL to a clean
    // run taken first in the same session — the foreachBatch/state-store
    // recovery claim receipted, not asserted.
    val chaosStream = args.headOption.contains("chaos-stream")
    val chaos = args.headOption.contains("chaos") || chaosStream
    if (chaos && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_chaos_ckpt").toString)
    val rest = if (chaos) args.tail.toSeq else args.toSeq
    val ids = if (rest == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
    else if (rest.nonEmpty) rest
    else if (chaosStream) Seq("q204_stream_gate_ensemble")
    else if (chaos) Seq("q74_neardup_clusters", "q82_minhash_portable", "q97_embed_clusters")
    else Seq(
      "q04_agg_rank", "q11_join4_chain", "q16_topn_window", "q29_not_in_anti",
      "q40_minhash_neardup", "q44_cosine_topk", "q55_rollup", "q59_corr_scalar",
      "q65_stream_join", "q68_contamination")
    // chaos: map executor ids to their JVM pids with one probe job (wide
    // enough that every executor runs at least one task), then arm a
    // killer thread that SIGKILLs the lowest executor id mid-first-query
    @volatile var lossInjected = false
    @volatile var killTimeNs = 0L
    // direct recovery evidence (r12 review): a kill whose wall-clock
    // falls inside a query window can still be hollow (driver-side
    // planning, or no victim task in flight) — count the scheduler's own
    // executor-removal and task-failure events instead
    object chaosEvidence extends org.apache.spark.scheduler.SparkListener {
      val execsRemoved = new java.util.concurrent.atomic.AtomicInteger(0)
      val taskFailures = new java.util.concurrent.atomic.AtomicInteger(0)
      // live-task count ON THE VICTIM — the exact in-flight signal the
      // status tracker's 100 ms polling missed (stages at these SFs run
      // sub-100-ms tasks; two probed runs never sampled ≥9 running)
      @volatile var victimId: String = ""
      val victimLive = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
        execsRemoved.incrementAndGet(); ()
      }
      override def onTaskStart(
          t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (t.taskInfo.executorId == victimId) { victimLive.incrementAndGet(); () }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
        // clamped at 0: the pid-probe job's tasks on the victim can START
        // before victimId is assigned (missed by onTaskStart) yet deliver
        // their async onTaskEnd after it is set — an unclamped decrement
        // then goes negative and the killer's `>= 1` wait stalls to the
        // 60 s fallback (round-13 advice)
        if (t.taskInfo != null && t.taskInfo.executorId == victimId)
          victimLive.updateAndGet(v => math.max(0, v - 1))
        ()
      }
    }
    if (chaos) spark.sparkContext.addSparkListener(chaosEvidence)
    val killer: Option[Thread] = if (!chaos) None else {
      val pids = spark.sparkContext.parallelize(1 to 64, 64)
        .map(_ => (org.apache.spark.SparkEnv.get.executorId, ProcessHandle.current().pid))
        .distinct().collect().toMap
      val victim = pids.toSeq.minBy(_._1)
      chaosEvidence.victimId = victim._1
      println(s"[cluster] chaos armed: executors=${pids.keys.toSeq.sorted.mkString(",")} victim=${victim._1} pid=${victim._2}")
      val t = new Thread(() => {
        // strike only while the victim PROVABLY holds an in-flight task:
        // the listener's start/end delta on the victim's executorId is
        // exact, where both a fixed 2 s delay and 100 ms status-tracker
        // polling measured hollow (executorsRemoved=1 but failedTasks=0
        // — the kill landed between stages and nothing needed recovery).
        // Threshold is ≥1, not more: AQE coalesces these SFs' exchanges
        // to 1-3 post-shuffle partitions, so higher victim concurrency
        // never materializes (measured: ≥4 never fired). The 2 s warm-up
        // lets the band get past trivial setup jobs first; 60 s timeout
        // = kill anyway and let the evidence check fail loudly.
        Thread.sleep(2000)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (System.nanoTime() < deadline && chaosEvidence.victimLive.get() < 1)
          Thread.sleep(2)
        ProcessHandle.of(victim._2).ifPresent { h =>
          lossInjected = h.destroyForcibly()
          killTimeNs = System.nanoTime()
          println(s"[cluster] chaos: SIGKILL executor ${victim._1} (pid ${victim._2}) " +
            s"with ${chaosEvidence.victimLive.get()} victim tasks in flight -> injected=$lossInjected")
        }
      })
      t.setDaemon(true)
      Some(t)
    }
    var failed = 0
    // chaos-stream: a CLEAN reference pass before arming the killer —
    // the same-output receipt's left-hand side (same session, same dir,
    // deterministic entries)
    val cleanRef: Map[String, Seq[String]] =
      if (!chaosStream) Map.empty
      else ids.map { id =>
        val rows = SparkEntry.queries(id)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        println(s"[cluster] chaos-stream clean pass: $id rows=${rows.size}")
        id -> rows
      }.toMap
    // per-query windows so chaos mode can prove the kill landed DURING a
    // query — a receipt where the band finished before the SIGKILL (or
    // the kill fell in a between-queries gap) exercised zero recovery
    val windows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
    ids.zipWithIndex.foreach { case (id, i) =>
      if (i == 0) killer.foreach(_.start())
      val t0 = System.nanoTime()
      try {
        if (chaosStream) {
          val rows = SparkEntry.queries(id)(spark, dir)
            .collect().map(_.toString).sorted.toSeq
          val same = rows == cleanRef(id)
          if (!same) failed += 1
          windows += ((id, t0, System.nanoTime(), same))
          println(f"[cluster] $id rows=${rows.size} ${(System.nanoTime() - t0) / 1e9}%.2f s " +
            s"output==clean: $same")
        } else {
          val n = SparkEntry.queries(id)(spark, dir).count()
          windows += ((id, t0, System.nanoTime(), true))
          println(f"[cluster] $id rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } catch { case e: Throwable =>
        failed += 1
        windows += ((id, t0, System.nanoTime(), false))
        println(s"[cluster] $id FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    if (chaos) {
      killer.foreach(_.join(10000))
      // a chaos run that never actually lost an executor proves nothing —
      // fail loudly instead of printing a hollow receipt
      if (!lossInjected) { failed += 1; println("[cluster] chaos: kill NOT injected") }
      else {
        // …and the loss must have landed INSIDE a query that then
        // SUCCEEDED — that is the recovery actually being exercised
        windows.find(w => killTimeNs >= w._2 && killTimeNs <= w._3) match {
          case Some((id, _, _, true)) =>
            println(s"[cluster] chaos: kill landed during $id, which completed — recovery exercised")
          case Some((id, _, _, false)) =>
            println(s"[cluster] chaos: kill landed during $id, which FAILED")
          case None =>
            failed += 1
            println("[cluster] chaos: kill landed OUTSIDE every query window — " +
              "receipt is hollow (band too fast; use a bigger SF or band)")
        }
        // scheduler-level proof: the window heuristic alone can be hollow
        // (kill during driver-side planning / no victim task in flight)
        val er = chaosEvidence.execsRemoved.get()
        val tf = chaosEvidence.taskFailures.get()
        println(s"[cluster] chaos evidence: executorsRemoved=$er failedTasks=$tf")
        if (er < 1 || tf < 1) {
          failed += 1
          println("[cluster] chaos: scheduler saw no executor removal + task failure — " +
            "no recovery was exercised (band too fast or kill between stages)")
        }
      }
    }
    println(s"[cluster] executors=${spark.sparkContext.statusTracker.getExecutorInfos.length - 1} " +
      s"failed=$failed${if (chaos) s" chaosLossInjected=$lossInjected" else ""}")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
