package graft.tools

import graft.{Engine, SparkEntry, Tables}
import org.apache.spark.metrics.source.CodegenMetrics

/** Time a single named SparkEntry query N times (dev tool, not part of the
  * driver contract). Each rep prints its Spark job count and the classes
  * Spark's code generator compiled during it: a warm rep that still
  * compiles generates code that differs from run to run.
  * Usage: runMain graft.tools.OneQuery q74_neardup_clusters [n]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32). */
object OneQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OneQuery <queryName> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, dir)
    spark.sql("SELECT COUNT(*) FROM region").collect()
    val fn = SparkEntry.queries(name)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val times = (1 to reps).map { i =>
      val j0 = jobs.get()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      val s = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"[onequery] $name run $i: $s%.2f s ($rows rows, ${jobs.get() - j0} jobs, $compiles compiles)")
      s
    }
    val med = times.sorted.apply(times.length / 2)
    println(f"[onequery] $name median of $reps: $med%.2f s")
    spark.stop()
  }
}
