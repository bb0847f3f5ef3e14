package perfbench

import graft.{Engine, EngineError, LlmFrontend, Results, Runner, Sanitizer, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark program: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload ask|curate --seed N --seconds S --trace 0|1
  *                --data <dir holding sf0.01/> --work <scratch dir> --pins <pins file>
  * perfbench.Main --pin ... (same flags) — run every operation once and
  *                write its result hash into the pins file
  * }}}
  *
  * A run opens the engine, makes one cold pass over the workload
  * (`first_pass_s`), then measures a fixed number of passes, enough to
  * fill about `--seconds`. Every pass goes round the operations in one
  * cycle whose start the seed picks. One caller, a closed loop. With
  * `--trace 1` untraced and traced passes alternate, and the traced ones
  * give the per-layer numbers. The run then
  * stops the engine and opens it [[SetupReps]] more times in the warm
  * JVM; their median is `setup_s`. The last line of standard output is the
  * result object.
  */
object Main {
  val SetupReps = 3

  // `seconds` has no value of its own: run.py always passes one
  final case class Args(workload: String = "", seed: Long = 0, seconds: Int = -1, trace: Boolean = false,
                        data: String = "", work: String = "", pins: String = "", pin: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--pins" :: v :: t => parse(t, a.copy(pins = v))
    case "--pin" :: t => parse(t, a.copy(pin = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parse(argv.toList)).apply()
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Pinned result hashes, one `"sf/key": "sha256"` pair per line. */
object Pins {
  private val Line = """"([^"]+)"\s*:\s*"([0-9a-f]{64})"""".r

  def load(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.isFile) Map.empty
    else Line.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).map(m => m.group(1) -> m.group(2)).toMap
  }

  def save(path: String, pins: Map[String, String]): Unit = {
    val body = pins.toSeq.sorted.map { case (k, v) => s"""  "$k": "$v"""" }.mkString(",\n")
    Files.write(Paths.get(path), s"{\n$body\n}\n".getBytes("UTF-8"))
  }
}

/** Rows read by the file scans of an executed plan, AQE stages and
  * subqueries included. */
object ScanRows extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case s: BatchScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum
}

/** What one operation left behind, counted before the sweep. */
final case class Leftovers(persistedRdds: Int, broadcasts: Int, storageBytes: Long)

/** One executed operation. `latency` covers only the timed region. */
final case class OpRecord(key: String, family: String, pass: Int, traced: Boolean, op: Int,
                          latency: Double, hash: String, error: String, resultRows: Long, scannedRows: Long,
                          compiles: Long,
                          bytesWritten: Long, left: Leftovers) {
  def ok: Boolean = error.isEmpty
}

final class Run(a: Main.Args) {
  import Main._

  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val workload = Workloads(a.workload, a.seed)
  private val dir = s"${a.data}/${workload.sf}"
  val tracer = new Tracer(a.trace)
  private val exportDir = new File(a.work, "exports")
  private lazy val entries = SparkEntry.queries
  // a traced run adds the workload's traced-only operations to the cold
  // pass, which warms them, and to its traced passes
  private val allOps = workload.ops ++ (if (a.trace) workload.tracedOps else Nil)
  // Every pass goes round the operations in one cycle; the seed picks where
  // the cycle starts. Spark keeps at most 100 compiled classes
  // (spark.sql.codegen.cache.maxEntries) and a pass generates more, so
  // which classes a pass finds cached depends on the order. Under a fresh
  // shuffle per pass, an operation that came right after itself skipped
  // its compiles and ran up to twice as fast; under a shuffle per seed, a
  // warm ask pass compiled 96 to 122 classes. Every rotation of one cycle
  // gives each operation the same predecessors, so every warm pass of
  // every run compiles the same classes.
  private val order: Seq[Op] = {
    val k = java.lang.Math.floorMod(a.seed, allOps.size.toLong).toInt
    allOps.drop(k) ++ allOps.take(k)
  }
  val regular: Set[String] = workload.ops.map(_.key).toSet
  private val pins: Map[String, String] = Pins.load(a.pins)

  // the tracer of the pass in progress: the run's own in a traced pass
  private var active: Tracer = tracer
  private var engine: Engine = _
  private var frontend: LlmFrontend = _
  private def spark: SparkSession = engine.spark

  val records = ArrayBuffer.empty[OpRecord]
  private val setupTimes = ArrayBuffer.empty[Double]
  val setupOps = ArrayBuffer.empty[Int]
  val passes = ArrayBuffer.empty[(Int, Boolean, Long, Long)] // (pass, traced, start ns, end ns)
  val countRecords = ArrayBuffer.empty[(String, Double, Double)] // (key, count s, materialize s)
  val execL = new ExecListener
  val streamL = new StreamListener

  private def pinKey(key: String) = s"${workload.sf}/$key"

  def apply(): Int = {
    require(new File(dir).isDirectory, s"data directory $dir not found")
    require(a.pin || pins.nonEmpty, s"no pinned hashes in ${a.pins}")
    require(a.pin || a.seconds > 0, "--seconds must be given and positive")
    exportDir.mkdirs()
    val host0 = Host.snapshot(cores)
    Host.progress("start")
    openEngine(keep = true)
    Host.progress("cold set-up")

    if (a.pin) return pin()

    pass(0, order, traced = false)
    Host.progress("cold pass")
    // a fixed number of passes, so every run measures the same work at the
    // same warmth; trace mode alternates untraced and traced passes, so the
    // ratio of their times is the tracing overhead
    val measuredPasses = math.max(if (a.trace) 2 else 1, math.round(a.seconds / workload.passSeconds).toInt)
    (Run.FirstMeasured until Run.FirstMeasured + measuredPasses).foreach { n =>
      val traced = a.trace && (n - Run.FirstMeasured) % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(execL)
        spark.streams.addListener(streamL)
      }
      pass(n, if (traced) order else order.filter(op => regular(op.key)), traced)
      if (traced) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(execL)
        spark.streams.removeListener(streamL)
      }
    }
    Host.progress("measured passes")
    if (a.trace && workload.name == "curate") countVsMaterialize()
    val host1 = Host.snapshot(cores)
    engine.stop()
    val coldSetup = setupTimes.head
    setupTimes.clear()
    setupOps.clear()
    // each set-up starts from a collected heap, not the workload's garbage
    (1 to SetupReps).foreach { _ => System.gc(); openEngine(keep = false) }
    Host.progress(s"warm set-ups ${setupTimes.map(t => f"$t%.2f").mkString(" ")}")

    val attempted = records.size
    val failures = records.filterNot(_.ok)
    failures.take(10).foreach(r => System.err.println(s"[perfbench] FAILED ${r.key}: ${r.error}"))
    // end-to-end numbers come from the workload's own operations only
    val mine = records.filter(r => regular(r.key) && r.ok)
    val cold = mine.filter(_.pass == 0).map(_.latency).sum
    val measured = mine.filter(r => r.pass >= Run.FirstMeasured && !r.traced)
    // the rate of a pass made of each operation's median run: one slow
    // sample does not move it
    val perOp = measured.groupBy(_.key).values.map(rs => median(rs.map(_.latency))).toSeq
    val latencies = if (workload.entryLatency) perOp else measured.map(_.latency).toSeq
    println(s"host before: $host0")
    println(s"host after:  $host1")
    println(f"cold set-up (JVM start included): $coldSetup%.3f s")
    println(s"workload ${workload.name} at ${workload.sf}: ${workload.ops.size} operations per pass, " +
      s"$measuredPasses measured passes after a cold pass, seed ${a.seed}, local[$cores], one closed-loop caller" +
      (if (a.trace && workload.tracedOps.nonEmpty) s"; traced run adds ${workload.tracedOps.map(_.key).mkString(", ")}" else ""))

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("first_pass_s", cold, "s"),
      ("latency_p50_s", quantile(latencies, 0.5), "s"),
      ("latency_p90_s", quantile(latencies, 0.9), "s"),
      ("ops_per_s", perOp.size / perOp.sum, "1/s"),
      ("rss_peak_mb", Host.rssPeakMb(), "MB"))
    val errorRate = failures.size.toDouble / attempted
    e2e.foreach { case (k, v, u) => println(f"metric $k%-16s $v%.6f $u") }
    println(f"metric error_rate       $errorRate%.6f ratio (${failures.size} of $attempted operations failed)")
    println(s"latency quantiles over ${latencies.size} " +
      (if (workload.entryLatency) s"operations' median latencies (${measured.size} samples)" else "operation samples") +
      s"; ops_per_s: ${perOp.size} operations over the sum of their median latencies")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else {
        val layers = new Layers(this)
        layers.print()
        layers.values
      }
    writeTrace(host0, host1)
    val correct = failures.isEmpty
    println(s"correct: $correct (result hashes checked against ${a.pins})")
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}""")
    0
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  // ---- setup ---------------------------------------------------------

  /** Engine.open, spelled as its three steps so each can carry a span,
    * then the catalog read the front-end needs and a trivial query. */
  private def openEngine(keep: Boolean): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    val e = tracer.op("setup") {
      val e = tracer.span("Engine.open") {
        val s = Engine.session(cores)
        tracer.span("Tables.register")(Tables.register(s, dir))
        Engine.wrap(s)
      }
      tracer.span("Catalog.schema")(e.catalog.schema())
      tracer.span("first_query") {
        e.runSql("SELECT 1 AS one") match {
          case Right(df) => require(df.collect().head.getInt(0) == 1)
          case Left(err) => throw new IllegalStateException(err.message)
        }
      }
      e
    }
    setupTimes += (System.nanoTime() - t0) / 1e9
    setupOps += tracer.currentOp
    if (keep) {
      engine = e
      val completions = workload.ops.collect { case q: AskOp if q.route == "ask" => q.question -> q.completion }.toMap
      frontend = new LlmFrontend(e.catalog, "postgresql", stub(completions))
    } else e.stop()
  }

  /** The in-process model: answers each question with its prepared
    * completion, without any network call. */
  private def stub(completions: Map[String, String]): String => String = {
    val marker = "\n\nQuestion: "
    prompt => active.span("stub.complete") {
      completions(prompt.substring(prompt.lastIndexOf(marker) + marker.length))
    }
  }

  // ---- passes --------------------------------------------------------

  /** Run every operation once, from a settled JVM. */
  private def pass(n: Int, ops: Seq[Op], traced: Boolean): Unit = {
    Host.progress(f"pass $n settled after ${Host.settle()}%.2f s")
    val t0 = tracer.now()
    ops.foreach(op => records += runOp(op, n, traced))
    passes += ((n, traced, t0, tracer.now()))
  }

  private def runOp(op: Op, n: Int, traced: Boolean): OpRecord = {
    val t = if (traced) tracer else Run.off
    active = t
    var latency = 0.0
    var df: DataFrame = null
    var bytes = 0L
    var resultRows = 0L
    val family = op match { case e: EntryOp => e.family; case _ => "ask" }
    val compiles0 = Run.compiles()
    val outcome: Either[String, String] =
      try t.op(s"${workload.name}:${op.key}") {
        op match {
          case q: AskOp =>
            // checked before timing: the sanitizer restores the original
            val restored = q.route == "runSql" || t.span("Sanitizer.sanitize")(Sanitizer.sanitize(q.completion)) == q.original
            if (!restored) Left("sanitizer did not restore the original text")
            else {
              val path = new File(exportDir, s"${q.key}.csv").getPath
              val t0 = System.nanoTime()
              val res: Either[EngineError, DataFrame] =
                if (q.route == "ask") {
                  // Ask.apply's two calls, made one by one so each carries a span
                  val sql = t.span("LlmFrontend.toSql")(frontend.toSql(q.question))
                  t.span("Runner.run")(Runner.run(spark, sql))
                } else t.span("Runner.runSql")(engine.runSql(q.original))
              res match {
                case Left(err) => Left(s"EngineError: ${err.message}")
                case Right(d) =>
                  t.span("Results.writeCsv")(engine.exportCsv(d, path))
                  latency = (System.nanoTime() - t0) / 1e9
                  df = d
                  val content = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
                  bytes = content.getBytes("UTF-8").length
                  resultRows = content.count(_ == '\n') - 1
                  Right(Results.sha256(content))
              }
            }
          case e: EntryOp =>
            val t0 = System.nanoTime()
            val d = t.span("SparkEntry.build")(entries(e.key)(spark, dir))
            val csv = t.span("SparkEntry.materialize")(Results.canonicalCsv(d))
            latency = (System.nanoTime() - t0) / 1e9
            df = d
            resultRows = csv.count(_ == '\n') - 1
            Right(Results.sha256(csv))
        }
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    val opId = tracer.currentOp
    var scanned = 0L
    if (traced && df != null) {
      val qe = df.queryExecution
      qe.tracker.phases.foreach { case (phase, s) =>
        tracer.external(s"plans.$phase", opId, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L)
      }
      scanned = ScanRows(qe.executedPlan)
    }
    val compiles = Run.compiles() - compiles0
    val left = sweep()
    val (hash, err) = outcome match {
      case Left(msg) => ("", msg)
      case Right(h) if a.pin => (h, "")
      case Right(h) => (h, pins.get(pinKey(op.key)) match {
        case Some(p) if p == h => ""
        case Some(_) => s"result hash $h differs from the pinned one"
        case None => "no pinned hash"
      })
    }
    OpRecord(op.key, family, n, traced, if (traced) opId else -1, latency, hash, err, resultRows, scanned,
      compiles, bytes, left)
  }

  /** Count what the operation left behind, then release it outside any
    * timer, as graft.Bench does between entries. */
  private def sweep(): Leftovers = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    val left = Leftovers(persisted.size, Run.liveBroadcasts(),
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    persisted.values.foreach(_.unpersist(blocking = true))
    graft.operators.Broadcasts.destroyAll()
    left
  }

  /** Traced run, curate only: each entry's `.count()` the way graft.Bench
    * times it (build + count), next to its materialized time. */
  private def countVsMaterialize(): Unit = {
    allOps.foreach { op =>
      val t0 = System.nanoTime()
      tracer.op(s"count:${op.key}")(tracer.span("SparkEntry.count")(entries(op.key)(spark, dir).count()))
      val c = (System.nanoTime() - t0) / 1e9
      sweep()
      val m = records.filter(r => r.key == op.key && r.traced).map(_.latency)
      countRecords += ((op.key, c, median(m.toSeq)))
    }
  }

  // ---- pin mode ------------------------------------------------------

  /** Hash every operation's result once and store it. For ask requests,
    * the hash must also equal that of the corpus entry the oracle gate
    * checks (`SparkEntry.queries(id)`), so the request path and the
    * checked entry agree. */
  private def pin(): Int = {
    val got = (workload.ops ++ workload.tracedOps).map(op => op -> runOp(op, 0, traced = false))
    val bad = got.collect { case (op, r) if !r.ok => s"${op.key}: ${r.error}" }
    val mismatch = got.collect {
      case (q: AskOp, r) if r.ok && Results.resultHash(entries(q.key)(spark, dir)) != r.hash => q.key
    }
    engine.stop()
    bad.foreach(b => System.err.println(s"[perfbench] pin failed: $b"))
    mismatch.foreach(k => System.err.println(s"[perfbench] ask path and corpus entry differ: $k"))
    if (bad.nonEmpty || mismatch.nonEmpty) return 1
    Pins.save(a.pins, Pins.load(a.pins) ++ got.map { case (op, r) => pinKey(op.key) -> r.hash })
    println(s"pinned ${got.size} hashes for ${workload.name} at ${workload.sf}")
    0
  }

  private def writeTrace(host0: String, host1: String): Unit = {
    val out = new File(a.work, s"trace-${workload.name}-seed${a.seed}.jsonl")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println(s"""{"run":{"workload":"${workload.name}","sf":"${workload.sf}","seed":${a.seed},"trace":${a.trace},"host_before":"$host0","host_after":"$host1"}}""")
      records.foreach { r =>
        w.println(s"""{"record":{"key":"${r.key}","family":"${r.family}","pass":${r.pass},"traced":${r.traced},"op":${r.op},"latency_s":${r.latency},"codegen_compiles":${r.compiles},"ok":${r.ok},"persisted_rdds_left":${r.left.persistedRdds},"broadcasts_left":${r.left.broadcasts},"storage_bytes_left":${r.left.storageBytes}}}""")
      }
      countRecords.foreach { case (k, c, m) => w.println(s"""{"count_vs_materialize":{"key":"$k","count_s":$c,"materialize_s":$m}}""") }
      tracer.jsonLines().foreach(w.println)
    } finally w.close()
    println(s"trace: ${out.getName}")
  }
}

object Run {
  val off = new Tracer(false)

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Pass 0 is the cold pass; measuring starts here. */
  val FirstMeasured = 1

  /** Broadcasts the library still tracks for release (graft.operators.
    * Broadcasts keeps them in a private queue). */
  def liveBroadcasts(): Int = {
    val module = graft.operators.Broadcasts
    module.getClass.getDeclaredFields.find(f => classOf[java.util.Collection[_]].isAssignableFrom(f.getType)) match {
      case Some(f) => f.setAccessible(true); f.get(module).asInstanceOf[java.util.Collection[_]].size
      case None => -1
    }
  }
}

object Host {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started, with a label, on standard error. */
  def progress(label: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $label")

  /** Collect the heap, then wait until the JIT compiler has been idle for
    * 300 ms, at most 10 s; returns the seconds waited. Without it, the
    * compile backlog the cold set-up leaves made the first seconds of the
    * cold pass up to 1.8 times slower in some runs and not in others. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 3 && System.nanoTime() - t0 < 10000000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) idle += 1 else { idle = 0; last = now }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  def snapshot(cores: Int): String = {
    val rt = Runtime.getRuntime
    s"nproc=${rt.availableProcessors()} N=$cores heap_max_mb=${rt.maxMemory() / (1 << 20)} " +
      s"heap_used_mb=${(rt.totalMemory() - rt.freeMemory()) / (1 << 20)} loadavg=${loadavg()}"
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
