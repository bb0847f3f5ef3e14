package graft.tools

import graft.{Engine, SparkEntry, Tables}
import java.nio.file.{Files, Paths}

/** Dump formatted physical plans for the load-bearing queries — the
  * "is this the plan you'd want at 100 TB" review loop. The session is
  * `Engine.session`'s (GraftExtensions, UTC, AQE), so a dump shows the
  * plan Engine, Verify and the benchmark run. Every dump goes through
  * `normalize`, so dumps from two sessions or two builds diff cleanly.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default nproc).
  *
  * `Plans --check` is the full-corpus snapshot gate: it dumps every entry,
  * sorted by id, in one session at sf0.01 on local[4], writes the dump to
  * `target/plans_snapshot.txt` and diffs it against the committed
  * `plans/snapshot.txt`. It exits non-zero naming the first entry whose
  * plan differs; copy the fresh dump over the committed one when a plan
  * change is intended. */
object Plans {
  /** Rewrites what differs between two sessions' dumps of one plan: the
    * data directory (`$SF_DIR`), the per-session counters — expression
    * ids `#<n>`, lambda variables `x_<n>` and every other `lambda <name>_<n>`
    * (q47's `aggregate` binds `y_<n>`), `plan_id=<n>`, `RDD[<n>]`,
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
    Seq("""#\d+""" -> "#N", """\bx_\d+""" -> "x_N", """\blambda (\w+?)_\d+""" -> "lambda $1_N",
      """plan_id=\d+""" -> "plan_id=N",
      """RDD\[\d+\]""" -> "RDD[N]", """Broadcast\(\d+\)""" -> "Broadcast(N)", """\[J@\p{XDigit}+""" -> "[J@N",
      """Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""" -> "Lambda\\$N", """\.scala:\d+""" -> ".scala:N",
      s"""$tmp/graft_(q\\d{3})\\d+""" -> """\$TMPDIR/graft_$1<n>""")
      .foldLeft(plan.replace(dir, "$SF_DIR")) { case (s, (re, to)) => s.replaceAll(re, to) }
  }

  /** Each entry's header line and normalized plan; a build that throws
    * dumps its exception instead, so the check names it like any diff. */
  private def dump(spark: org.apache.spark.sql.SparkSession, dir: String, ids: Seq[String]): Seq[String] =
    ids.map { id =>
      val plan =
        try SparkEntry.queries(id)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Exception => s"FAILED: ${e.getClass.getName}: ${e.getMessage}" }
      s"\n========== $id ==========\n${normalize(plan, dir)}"
    }

  /** Sections of a snapshot file, keyed by entry id, in file order. */
  private def sections(text: String): Seq[(String, String)] = {
    val at = """(?m)^========== (\S+) ==========$""".r.findAllMatchIn(text).toSeq
    at.zip(at.drop(1).map(_.start - 1) :+ text.length).map { case (m, end) =>
      m.group(1) -> text.substring(m.start - 1, end)
    }
  }

  /** The snapshot gate; returns the exit code. The data is sf0.01 under
    * `~/testdata` (where perfbench reads it) and the cores are 4, whatever
    * the environment says. */
  private def check(): Int = {
    val dir = System.getProperty("user.home") + "/testdata/sf0.01"
    val spark = Engine.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, dir)
    val text = dump(spark, dir, SparkEntry.queries.keys.toSeq.sorted).mkString("", "\n", "\n")
    spark.stop()
    val out = Paths.get("target/plans_snapshot.txt")
    Files.createDirectories(out.getParent)
    Files.writeString(out, text)
    val committed = Paths.get("plans/snapshot.txt")
    val want = if (Files.exists(committed)) sections(Files.readString(committed)) else Nil
    val got = sections(text)
    want.map(Some(_)).zipAll(got.map(Some(_)), None, None)
      .collectFirst { case (w, g) if w != g => g.orElse(w).get._1 } match {
      case None =>
        println(s"[plans] ${got.size} entries match $committed")
        0
      case Some(id) =>
        System.err.println(s"[plans] $id differs from $committed (fresh dump: $out; " +
          s"diff the two, and copy the fresh dump over the snapshot if the change is intended)")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--check"))) sys.exit(check())
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
    dump(spark, dir, interesting).foreach(println)
    spark.stop()
  }
}
