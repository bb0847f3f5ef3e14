package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-cut policy for the iterative / multi-reference operators
  * (`TextDedup.connectedComponents`, `TextDedup.portablePairStats`).
  *
  * `localCheckpoint` stores the cut's blocks on executor-local storage:
  * the right call in `local[n]` and for the bench surface (no shared
  * filesystem round-trip), but on a real cluster those blocks die with
  * their executor and every downstream action becomes unrecoverable —
  * exactly the failure a 1000-executor, hours-long dedup pass must
  * survive. Deployment callers therefore configure a RELIABLE
  * checkpoint directory on shared storage once per job
  * (`spark.sparkContext.setCheckpointDir("hdfs://…/checkpoints")`);
  * every lineage cut in the library then goes through
  * `Dataset.checkpoint` (replayable from shared storage, survives
  * executor loss) with no per-operator API change. One knob, both
  * modes proven: the unit tier pins the reliable path's output equal
  * to the local path's, and ClusterCheck runs the iterative entries on
  * two real executor JVMs with `SPARK_GRAFT_CHECKPOINT_DIR` set.
  */
object Checkpoints {

  /** Cut `df`'s lineage: reliable `checkpoint(eager)` when the session's
    * SparkContext has a checkpoint dir configured, `localCheckpoint`
    * otherwise. Semantics (data, schema, laziness) identical either way. */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Release a cut frame's persisted blocks once no downstream consumer
    * remains. An iterative loop that cuts per round otherwise leaves
    * O(rounds) generations of blocks in the block manager — at toy SF
    * kilobytes, at 100 TB a label-table-sized leak PER ROUND that
    * eventually evicts live working set. Only the localCheckpoint path
    * holds droppable blocks (reliable checkpoints live as files; their
    * cleanup is the configured dir's retention policy), and unpersisting
    * a frame that was never cut is a no-op — safe to call
    * unconditionally. Blocking=false: eviction races nothing (the caller
    * guarantees the frame is dead). */
  def free(df: DataFrame): Unit = cuts(df).foreach(_.unpersist(blocking = false))

  /** The RDDs behind the lineage cuts `df` reads. */
  def cuts(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
