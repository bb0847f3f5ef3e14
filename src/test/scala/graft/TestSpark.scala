package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the production
  * session (`Engine.session`: GraftExtensions, AQE, UTC, the codegen
  * cache size), so the suite tests the optimizer production runs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Engine.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
