package graft.operators

import org.apache.spark.broadcast.Broadcast

/** Lifetime registry for the library's explicit data broadcasts (today:
  * the monolithic embedding-LSH runners' verify map, Similarity.scala).
  *
  * A `SparkContext.broadcast` the library creates inside a lazy frame
  * must OUTLIVE the frame's last action — there is no safe point inside
  * the operator to destroy it. But serial harnesses (Bench, Verify)
  * build a fresh frame per entry/rep, so broadcasts from finished
  * entries accumulate in the driver and the block manager for the
  * session's remaining lifetime (round-15 advice: at the verify-map
  * bound each is ~100 MB). Operators [[track]] every broadcast
  * they create; the harness calls [[destroyAll]] at its inter-entry
  * cleanup point (the same place persisted RDDs are released), after
  * which any frame still referencing a destroyed broadcast would fail —
  * harnesses only destroy between entries, where no prior frame is
  * re-actioned. */
object Broadcasts {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Broadcast[_]]()

  /** Register a broadcast for inter-entry destruction; returns it. */
  def track[T](b: Broadcast[T]): Broadcast[T] = { live.add(b); b }

  /** Destroy every tracked broadcast (idempotent; safe when empty).
    * Blocking=false — nothing races the release: callers guarantee no
    * frame built on these broadcasts is actioned again. */
  def destroyAll(): Unit = {
    var b = live.poll()
    while (b != null) {
      try b.destroy() catch { case _: Throwable => () }
      b = live.poll()
    }
  }
}
