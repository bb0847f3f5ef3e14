package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (fast local iteration; the driver always runs the full two-arg form)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, keep) => (s, o, Some(keep.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the engine's own session: the gate checks what Engine users run
    val spark = Engine.session(cpus)
    // same deployment knob as ClusterCheck: a configured dir upgrades
    // every Checkpoints.cut to reliable checkpointing
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // remove any previous dump first: a failing query must leave NO
      // output, not a stale one the comparator would grade as fresh
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) SparkEntry.rmTree(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // serial-harness hygiene (mirrors Bench): drop lineage-cut blocks
      // and explicit data broadcasts from the finished entry
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      operators.Broadcasts.destroyAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // texts are a pure function of the sf dir (derived constants —
    // embed-LSH width, SemDeDup nlist — computed from it), so a subset
    // run and the full run dump identical texts for this dir
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
