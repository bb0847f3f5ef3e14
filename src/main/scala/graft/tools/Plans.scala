package graft.tools

import graft.{Engine, SparkEntry, Tables}

/** Dump formatted physical plans for the load-bearing queries — the
  * "is this the plan you'd want at 100 TB" review loop. The session is
  * `Engine.session`'s (GraftExtensions, UTC, AQE), so a dump shows the
  * plan Engine, Verify and the benchmark run.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default nproc). */
object Plans {
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
      println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
