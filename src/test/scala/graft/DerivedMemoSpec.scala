package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's dir-derived constants are memoized on the data they read,
  * not on the dir path: a table rewritten under the same dir is derived
  * again (tests reuse tmp paths; testdata is regenerated in place). */
class DerivedMemoSpec extends AnyFunSuite {
  test("embedCountFor counts again after embeddings.parquet is rewritten under the same dir") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toString
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      write(10)
      assert(SparkEntry.embedCountFor(spark, dir) == 10L)
      write(20)
      // a fresh session: Tables.register binds views per session
      assert(SparkEntry.embedCountFor(spark.newSession(), dir) == 20L)
    } finally SparkEntry.rmTree(new java.io.File(dir))
  }
}
