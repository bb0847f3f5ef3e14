package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Engine facade: the user-facing switch path from the reference app. */
class EngineSpec extends AnyFunSuite {

  private val segmentsSql =
    "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment"

  test("open → run → describe → export, end to end") {
    // wrap the shared test session rather than opening a second one
    Tables.register(TestSpark.spark, TestSpark.sf0001)
    val engine = Engine.wrap(TestSpark.spark)
    val res = engine.run(segmentsSql)
    assert(res.isRight)
    val df = res.toOption.get
    assert(engine.describeResult(df) == "5 rows")
    val p = java.nio.file.Files.createTempFile("graft", ".csv")
    engine.exportCsv(df, p.toString)
    val csv = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    assert(csv.startsWith("c_mktsegment,n\n"))
    assert(csv.trim.split("\n").length == 6)
    java.nio.file.Files.delete(p)
  }

  test("empty result message matches reference wording shape") {
    val engine = Engine.wrap(TestSpark.spark)
    val df = engine.runOrEmpty("SELECT c_custkey FROM customer WHERE c_custkey < 0")
    assert(engine.describeResult(df).contains("no results"))
  }

  test("catalog reachable through the facade") {
    val engine = Engine.wrap(TestSpark.spark)
    assert(engine.catalog.listTables().contains("customer"))
  }

  test("a repeated query compiles nothing after 300+ other classes (codegen cache sized)") {
    // The cache size is JVM-global and fixed by the first session, which
    // here is TestSpark's or RangeJoinRewriteSpec's, both built with
    // Engine.CodegenCacheEntries. This relies on sbt running suites one
    // after another in the forked test JVM (testForkedParallel defaults
    // to false and build.sbt leaves it), so no other suite compiles
    // during the re-run.
    Tables.register(TestSpark.spark, TestSpark.sf0001)
    val engine = Engine.wrap(TestSpark.spark)
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(sql: String): Unit = engine.runSql(sql).fold(e => fail(s"${e.message}: $sql"), _.collect())
    run(segmentsSql)
    // Spark's default holds 100 classes in 4 LRU segments of 25, so well
    // over 100 compiles evict the first query's classes from every
    // segment under the default size
    val c0 = compiles
    val texts = Corpus.queries.iterator.map(_.sparkSql).filter(_ != segmentsSql)
    while (compiles - c0 <= 300 && texts.hasNext) run(texts.next())
    assert(compiles - c0 > 300, "the corpus compiled too few classes to evict anything")
    val c1 = compiles
    run(segmentsSql)
    assert(compiles - c1 == 0, "the re-run recompiled classes it compiled before")
  }

  test("only Engine.session and ClusterCheck build a SparkSession in src/main") {
    // every other main, and every spec (through TestSpark), opens
    // Engine.session, so its numbers and assertions are about the engine
    // Engine, Verify and the benchmark run; ClusterCheck needs a
    // local-cluster master and executor JVM options Engine.session does
    // not take. src/test is scanned too; the needle is split so this
    // file does not match itself.
    val needle = "SparkSession" + ".builder()"
    val root = java.nio.file.Paths.get("src")
    val files = java.nio.file.Files.walk(root)
    val builders =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(p => root.relativize(p).toString).toSet
      finally files.close()
    assert(builders == Set("main/scala/graft/Engine.scala", "main/scala/graft/tools/ClusterCheck.scala"))
  }
}
