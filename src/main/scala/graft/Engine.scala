package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public engine facade (SURVEY.md §7.1) — the surface a user of the
  * reference app would switch to:
  *
  * {{{
  * val engine = Engine.open("/root/testdata/sf0.01")
  * engine.run("SELECT ...")          // Either[EngineError, DataFrame]
  * engine.runOrEmpty("SELECT ...")   // reference error-as-value shape
  * engine.catalog.listTables()
  * engine.exportCsv(df, "/tmp/out.csv")
  * }}}
  *
  * Session defaults follow the scale posture: AQE on (runtime coalescing +
  * skew-join splitting), UTC session timezone (oracle parity),
  * shuffle partitions sized to local cores rather than the 200 default.
  */
final class Engine private (val spark: SparkSession) {

  lazy val catalog: Catalog = new Catalog(spark)

  /** Execute raw (possibly LLM-produced) SQL text: sanitize → gate →
    * Catalyst → dup-column rename; errors as values. */
  def run(sql: String): Either[EngineError, DataFrame] = Runner.run(spark, sql)

  /** Reference-compatible failure shape: empty DataFrame on error. */
  def runOrEmpty(sql: String): DataFrame = Runner.runOrEmpty(spark, sql)

  /** Trusted well-formed SQL (no LLM sanitizer — the sanitizer's
    * bug-compatible leading-SELECT slice mangles CTEs). */
  def runSql(sql: String): Either[EngineError, DataFrame] = Runner.runSql(spark, sql)

  /** Row count + empty detection (app.py:296-299, P7). */
  def describeResult(df: DataFrame): String = {
    val n = df.count()
    if (n == 0) "Query executed successfully, but returned no results."
    else s"$n rows"
  }

  /** CSV export in the canonical serialization (app.py:301-302, P6). */
  def exportCsv(df: DataFrame, path: String): Unit = Results.writeCsv(df, path)

  def stop(): Unit = spark.stop()
}

object Engine {

  /** Open an engine over driver testdata parquet (registers all tables). */
  def open(dataDir: String, cores: Int = Runtime.getRuntime.availableProcessors()): Engine = {
    val spark = session(cores)
    Tables.register(spark, dataDir)
    new Engine(spark)
  }

  /** Open over an already-configured session (cluster deployments: build
    * the session with your master/conf, register sources, wrap). The
    * session needs no function setup: every native expression reaches a
    * plan as a Column, not through the session's function registry. */
  def wrap(spark: SparkSession): Engine = new Engine(spark)

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU, and an LRU smaller than a repeating working set misses on every
    * access: with 100 entries every warm pass recompiled everything it
    * ran (one pass over the 93 `Corpus.queries` texts generates about 790
    * classes, a warm benchmark `ask` pass about 120). Sized from the
    * declared corpus: one cold pass over all 221 `SparkEntry.queries` at
    * sf0.01 compiles about 3,300 classes. The conf is static and
    * `CodeGenerator` builds its cache once per JVM, from the conf of the
    * session active when it first compiles, so the first SparkContext in
    * a JVM fixes the size for the whole JVM; a later session's value is
    * ignored. */
  val CodegenCacheEntries: Int = 4096

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-engine")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
