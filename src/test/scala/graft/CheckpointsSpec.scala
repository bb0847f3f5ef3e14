package graft

import graft.operators.{Checkpoints, TextDedup}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The injectable lineage-cut policy (round-7 verdict item 4): without a
  * configured checkpoint dir every cut is a localCheckpoint (executor-
  * local blocks — the local/bench mode); with one, the SAME call sites
  * write reliable checkpoints to shared storage (the deployment mode,
  * survives executor loss). Both modes must produce identical data. */
class CheckpointsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withCheckpointDir[A](body: String => A): A = {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try body(dir)
    finally sc.setCheckpointDir(null) // Option(null) → None: back to local mode
  }

  private def filesUnder(root: java.io.File): Seq[java.io.File] = {
    val kids = Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(filesUnder)
  }

  test("cut without a checkpoint dir stays local and preserves data") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "test precondition: no global dir")
    val cut = Checkpoints.cut(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), eager = true)
    assert(cut.as[(Long, Long)].collect().toSet === Set((1L, 2L), (2L, 3L)))
  }

  test("cut with a checkpoint dir goes through RELIABLE checkpointing") {
    import spark.implicits._
    withCheckpointDir { dir =>
      val cut = Checkpoints.cut(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), eager = true)
      assert(cut.as[(Long, Long)].collect().toSet === Set((1L, 2L), (2L, 3L)))
      // the evidence that the reliable path ran: checkpoint blocks exist
      // on the (shared in deployment) filesystem, not in executor memory
      assert(filesUnder(new java.io.File(dir)).nonEmpty,
        "reliable checkpoint wrote no files — cut took the local path")
    }
  }

  test("connectedComponents under a reliable checkpoint dir matches the local-mode labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 9L)).toDF("src", "dst")
    // localMaxEdges = 0: this test exists to exercise the reliable
    // CHECKPOINT path, which only the distributed loop takes
    val expected = TextDedup.connectedComponents(edges, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toSet
    val reliable = withCheckpointDir { _ =>
      TextDedup.connectedComponents(edges, localMaxEdges = 0L)
        .as[(Long, Long)].collect().toSet
    }
    assert(reliable === expected)
    assert(expected === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L), (10L, 9L)))
  }

  test("connectedComponents frees its per-round checkpoint blocks (round 11)") {
    import spark.implicits._
    // a 101-node chain forces multiple pointer-jumping rounds; without
    // Checkpoints.free the loop leaves ~3 persisted generations per round
    // in the block manager (measured ~20+ here) — the within-operator
    // analogue of the Bench inter-entry unpersist rule
    val sc = spark.sparkContext
    val edges = (1L until 101L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.size
    // localMaxEdges = 0: the per-round checkpoint discipline under test
    // belongs to the distributed loop
    val labels = TextDedup.connectedComponents(edges, localMaxEdges = 0L)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
    val after = sc.getPersistentRDDs.size
    // only the final labels generation may stay persisted
    assert(after - before <= 1,
      s"connectedComponents leaked ${after - before} persisted RDD generations")
  }

  test("q204 leaves persisted exactly its static cuts and its result cut") {
    // gateStatics cuts four frames every trigger reads (shared-span
    // index, LM key stream, both LM marginals); each trigger's own cuts
    // (its token frame, NaiveBayes' count frame) must be freed after its
    // write, the classifier's training cuts once its model is collected,
    // and the result is one eager cut. SparkContext holds persisted
    // RDDs by weak reference, so a dropped cut can be collected before it
    // is counted: a poller keeps every RDD persisted during the run
    // reachable, and one whose storage level is still set was never
    // unpersisted.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]()
    def poll(): Unit = sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) seen.putIfAbsent(id, r) }
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() => while (running.get()) { poll(); Thread.sleep(2) })
    poller.start()
    val out =
      try SparkEntry.queries("q204_stream_gate_ensemble")(spark, TestSpark.sf0001)
      finally { running.set(false); poller.join() }
    poll()
    val left = seen.asScala.collect {
      case (id, r) if r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE => id
    }.toSet
    val result = out.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(result.size == 1 && left.contains(result.head), s"result cut $result not among $left")
    assert(left.size == 4 + 1, s"q204 left ${left.size} persisted RDDs, expected 4 static + 1 result")
  }

}
