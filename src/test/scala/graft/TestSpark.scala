package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. It sizes the
  * generated-class cache as `Engine.session` does: the size is JVM-global
  * and fixed by the first session, so whichever test session comes first
  * must carry the production value. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
