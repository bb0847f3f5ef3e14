package graft.tools

import graft.{Engine, SparkEntry, Tables}

/** Dump formatted physical plans for the load-bearing queries — the
  * "is this the plan you'd want at 100 TB" review loop. The session is
  * `Engine.session`'s (GraftExtensions, UTC, AQE), so a dump shows the
  * plan Engine, Verify and the benchmark run. Every dump goes through
  * `normalize`, so dumps from two sessions or two builds diff cleanly.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default nproc). */
object Plans {
  /** Rewrites what differs between two sessions' dumps of one plan: the
    * data directory (`$SF_DIR`), the per-session counters — expression
    * ids `#<n>`, lambda variables `x_<n>`, `plan_id=<n>`, `RDD[<n>]`,
    * `Broadcast(<n>)`, the `[J@<hash>` identity of a baked long matrix and
    * the `Lambda$<n>/0x<addr>@<hash>` identity of a Scala closure in
    * `MapPartitions`/`MapElements` arguments, which shift whenever an
    * earlier entry in the session changes or the JVM restarts — the
    * source line in an RDD's call-site name (`TextDedup.scala:<n>`), which
    * shifts with any edit above it, and
    * the random suffix of an entry's temp work dir
    * (`<java.io.tmpdir>/graft_q223<digits>` → `$TMPDIR/graft_q223<n>`). */
  def normalize(plan: String, dir: String): String = {
    val tmp = java.util.regex.Pattern.quote(
      System.getProperty("java.io.tmpdir").stripSuffix("/"))
    Seq("""#\d+""" -> "#N", """\bx_\d+""" -> "x_N", """plan_id=\d+""" -> "plan_id=N",
      """RDD\[\d+\]""" -> "RDD[N]", """Broadcast\(\d+\)""" -> "Broadcast(N)", """\[J@\p{XDigit}+""" -> "[J@N",
      """Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""" -> "Lambda\\$N", """\.scala:\d+""" -> ".scala:N",
      s"""$tmp/graft_(q\\d{3})\\d+""" -> """\$TMPDIR/graft_$1<n>""")
      .foldLeft(plan.replace(dir, "$SF_DIR")) { case (s, (re, to)) => s.replaceAll(re, to) }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, dir)
    val interesting = args.toSeq match {
      case Nil => Seq("q02_filter", "q04_agg_rank", "q11_join4_chain", "q16_topn_window",
        "q28_in_subquery", "q40_minhash_neardup", "q44_cosine_topk")
      case xs => xs
    }
    interesting.foreach { id =>
      println(s"\n========== $id ==========")
      val df = SparkEntry.queries(id)(spark, dir)
      println(normalize(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode), dir))
    }
    spark.stop()
  }
}
