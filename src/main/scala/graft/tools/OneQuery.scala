package graft.tools

import graft.{Engine, SparkEntry, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Time named SparkEntry queries (dev tool, not part of the driver
  * contract). Every rep materializes every output column through a `noop`
  * write; a `count()` would let Catalyst prune the projections it does not
  * need. With several entries the reps run round-robin (rep 1 of each
  * entry, then rep 2 of each, ...), so host drift lands on every entry
  * alike. Each rep prints its Spark job count and the classes Spark's code
  * generator compiled during it: a warm rep that still compiles generates
  * code that differs from run to run. Each streaming trigger prints its
  * batch id, input rows and phase durations.
  * Usage: runMain graft.tools.OneQuery <queryName>... [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default nproc). */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val (names, reps) = args.toSeq match {
      case init :+ last if last.forall(_.isDigit) => (init, last.toInt)
      case all => (all, 3)
    }
    require(names.nonEmpty, "usage: OneQuery <queryName>... [reps]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, dir)
    spark.sql("SELECT COUNT(*) FROM region").collect()
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[onequery] stream ${Option(p.name).getOrElse(p.id)} batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs.asScala.toSeq.sortBy(_._1).mkString(",")}")
      }
    })
    val times = (1 to reps).flatMap { i =>
      fns.map { case (name, fn) =>
        val j0 = jobs.get()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        println(f"[onequery] $name run $i: $s%.2f s (${jobs.get() - j0} jobs, $compiles compiles)")
        name -> s
      }
    }
    names.distinct.foreach { name =>
      val ts = times.collect { case (`name`, s) => s }.sorted
      println(f"[onequery] $name median of ${ts.length}: ${ts(ts.length / 2)}%.2f s")
    }
    spark.stop()
  }
}
