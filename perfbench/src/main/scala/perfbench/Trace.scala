package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval, in epoch nanoseconds. `op` groups the spans of one
  * operation; `parent` is the id of the enclosing span, -1 for an
  * operation's root. Spans the benchmark opens itself carry their parent
  * when they close; spans read back from Spark (jobs, Catalyst phases,
  * stream triggers) get theirs in [[Tracer.attach]]. */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans kept in memory and written out as JSON lines when the run ends.
  * With `on = false` every call is a pass-through, so traced and untraced
  * runs execute the same code. */
final class Tracer(val on: Boolean) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var nextOp = 0
  private var curOp = -1

  private def fresh(): Int = { val i = nextId; nextId += 1; i }

  /** Open an operation: a root span whose id the spans inside it share. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      curOp = nextOp; nextOp += 1
      span(name)(body)
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = fresh()
      val parent = stack.headOption.getOrElse(-1)
      val op = curOp
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, op, name, parent, t0, now())
      }
    }

  /** The op id of the operation most recently opened. */
  def currentOp: Int = curOp

  /** Record a span measured elsewhere; its parent is found by [[attach]]. */
  def external(name: String, op: Int, start: Long, end: Long): Unit =
    if (on) spans += Span(fresh(), op, name, -2, start, math.max(start, end))

  /** Give every external span an op and a parent: the innermost span
    * whose interval holds the external span's midpoint. Spark reports
    * milliseconds, so containment allows 1 ms of slack at each edge. */
  def attach(): Unit = {
    val slack = 1000000L
    val own = spans.filter(_.parent != -2).toSeq
    val ext = spans.filter(_.parent == -2).sortBy(s => (s.start, -s.dur)).toSeq
    val placed = ArrayBuffer.empty[Span]
    ext.foreach { e =>
      val mid = e.start + e.dur / 2
      val candidates = (own ++ placed).filter { s =>
        (e.op < 0 || s.op == e.op) && s.start - slack <= mid && mid <= s.end + slack && s.id != e.id &&
          s.dur >= e.dur - 2 * slack
      }
      val host = if (candidates.isEmpty) None else Some(candidates.minBy(_.dur))
      placed += e.copy(op = host.map(_.op).getOrElse(e.op), parent = host.map(_.id).getOrElse(-1))
    }
    spans.clear()
    spans ++= own ++ placed
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      s.id -> (s.dur - total)
    }.toMap
  }

  def jsonLines(): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
  }
}

/** A Spark job: submit time, end time and first task launch, epoch ms. */
final case class Job(id: Int, start: Long, var end: Long, var firstTask: Long)

/** Task and stage totals of one job. */
final class Totals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var stages = 0L
}

/** One streaming trigger, from a progress event. */
final case class Trigger(query: String, startMs: Long, durations: Map[String, Long], inputRows: Long,
                         stateRows: Long, stateMem: Long)

/** Job, stage and task records from a SparkListener the benchmark
  * registers. Times are epoch milliseconds, as Spark reports them. */
final class ExecListener extends SparkListener {

  val jobs = ArrayBuffer.empty[Job]
  private val stageToJob = scala.collection.mutable.Map.empty[Int, Job]
  // totals per job id; tasks of stages outside any job land under -1
  val totals = scala.collection.mutable.Map.empty[Int, Totals]

  private def totalsFor(stageId: Int): Totals =
    totals.getOrElseUpdate(stageToJob.get(stageId).map(_.id).getOrElse(-1), new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.jobId, e.time, -1L, -1L)
    jobs += j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totalsFor(e.stageInfo.stageId).stages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      if (j.firstTask < 0 || e.taskInfo.launchTime < j.firstTask) j.firstTask = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totalsFor(e.stageId)
    t.tasks += 1
    t.runMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Streaming query records from a StreamingQueryListener the benchmark
  * registers. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._

  val started = ArrayBuffer.empty[(String, Long)]
  val triggers = ArrayBuffer.empty[Trigger]

  private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started += e.runId.toString -> ms(e.timestamp)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val durs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    triggers += Trigger(p.runId.toString, ms(p.timestamp), durs, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
