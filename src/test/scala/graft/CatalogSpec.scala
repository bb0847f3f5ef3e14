package graft

import graft.streaming.StreamOps
import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Q33: catalog listing + TTL cache + prompt serialization
  * (db_utils.py:116-156, app.py:246). */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The schema of the frame `Tables.register` declares for `path` vs
    * the one Spark infers. Both drop the footer's REQUIRED flags. */
  private def footerVsInferred(path: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as register sets it
    val footer = Tables.footerSchema(spark, path, spark.sessionState.newHadoopConf())
    spark.read.schema(footer).parquet(path).schema -> spark.read.parquet(path).schema
  }

  test("Q33: listTables returns all 10 testdata tables, sorted") {
    Tables.register(spark, TestSpark.sf0001)
    // order-independence: any spec that EXECUTES the streaming entries
    // (PlanGuardSpec, CorpusSpec) leaves their per-entry helper views
    // (memory sinks `qN_mem_*`, q166's `qN_hourly_*`) in the shared
    // session — drop them before the exact-set assertion
    spark.catalog.listTables().collect()
      .filter(_.name.matches("q\\d+_(mem|hourly)_\\d+"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    val cat = new Catalog(spark)
    assert(cat.listTables().toSet == Tables.names.toSet)
    assert(cat.listTables() == cat.listTables().sorted)
  }

  test("Q33: listColumns preserves ordinal order (FIXTURES.md)") {
    Tables.register(spark, TestSpark.sf0001)
    val cat = new Catalog(spark)
    assert(cat.listColumns("customer") ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    assert(cat.listColumns("region") == Seq("r_regionkey", "r_name"))
    assert(cat.listColumns("no_such_table").isEmpty)
  }

  test("TTL cache: introspection memoized until expiry (db_utils.py:116)") {
    Tables.register(spark, TestSpark.sf0001)
    var now = 0L
    val cat = new Catalog(spark, ttlMillis = 300000L, clock = () => now)
    val first = cat.schema()
    // a view created after the snapshot is invisible until TTL expiry
    spark.sql("SELECT 1 AS one").createOrReplaceTempView("ttl_probe")
    now = 299999L
    assert(cat.schema() eq first)
    now = 300001L
    assert(cat.schema()("ttl_probe") == Seq("one"))
    spark.catalog.dropTempView("ttl_probe")
    cat.invalidate()
  }

  test("prompt serialization matches app.py:246 line shape") {
    Tables.register(spark, TestSpark.sf0001)
    val cat = new Catalog(spark)
    val lines = cat.promptSerialization().split("\n")
    assert(lines.exists(_ ==
      """TABLE "region" (columns: r_regionkey, r_name)"""))
    assert(lines.length == cat.listTables().length)
  }

  test("Tables.register rebinds views when the directory changes") {
    // regression: the memo used to be per (session, dir), so registering
    // dir B then calling register(A) again no-op'd and left every view at
    // B — a batch/stream equivalence test then read events from the wrong
    // scale factor. The memo now tracks the BOUND dir per session.
    val a = Tables.table(spark, TestSpark.sf0001, "orders").count()
    val b = Tables.table(spark, TestSpark.sf01, "orders").count()
    assert(a != b, "scale factors must differ for this test to mean anything")
    assert(Tables.table(spark, TestSpark.sf0001, "orders").count() == a)
    assert(Tables.table(spark, TestSpark.sf01, "orders").count() == b)
    // leave the shared session back on the small SF for suites that follow
    Tables.register(spark, TestSpark.sf0001)
  }

  test("S11: joinPath finds shortest FK chains and respects table presence") {
    Tables.register(spark, TestSpark.sf0001)
    val cat = new Catalog(spark)
    // direct edge
    assert(cat.joinPath("orders", "customer") ==
      Seq(FkEdge("orders", "o_custkey", "customer", "c_custkey")))
    // two hops, both directions give the same chain
    assert(cat.joinPath("lineitem", "customer") == Seq(
      FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
      FkEdge("orders", "o_custkey", "customer", "c_custkey")))
    assert(cat.joinPath("customer", "lineitem") == cat.joinPath("lineitem", "customer").reverse)
    // lineitem→nation: shortest is via supplier (2 hops), not orders→customer (3)
    assert(cat.joinPath("lineitem", "nation") == Seq(
      FkEdge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      FkEdge("supplier", "s_nationkey", "nation", "n_nationkey")))
    // no path to FK-less fact tables; self-path empty
    assert(cat.joinPath("documents", "customer").isEmpty)
    assert(cat.joinPath("orders", "orders").isEmpty)
    // an edge naming an absent table is filtered out of fkEdges
    val withGhost = new Catalog(spark,
      fks = Catalog.defaultFks :+ FkEdge("ghost", "g_id", "customer", "c_custkey"))
    assert(!withGhost.fkEdges.exists(_.fromTable == "ghost"))
  }

  test("Tables.register onto a new dir starts no Spark job (footers read on the driver)") {
    // Spark's schema inference runs one job per table; the footer read
    // runs none. Only jobs started under this test's group count, so a
    // stream left running by another suite cannot disturb the number.
    Tables.register(spark, TestSpark.sf0001)
    val sc = spark.sparkContext
    val group = "catalogspec-register"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables.register")
      Tables.register(spark, TestSpark.sf01)
      ListenerBusDrain(sc)
      val registerJobs = jobs.get
      // the control: one job in the group is counted as one
      sc.parallelize(Seq(1), 1).count()
      ListenerBusDrain(sc)
      assert(jobs.get - registerJobs == 1, "the listener missed the control job")
      assert(registerJobs == 0, s"registering ${Tables.names.size} tables started $registerJobs Spark jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Tables.register(spark, TestSpark.sf0001)
    }
  }

  test("the footer schema equals Spark's inferred schema for every table at sf0.001/sf0.01/sf0.1") {
    val root = new java.io.File(TestSpark.sf0001).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.names) {
      val (footer, inferred) = footerVsInferred(s"$root/$sf/$t.parquet")
      assert(footer == inferred, s"$sf/$t")
    }
  }

  test("a Spark-written multi-part directory reads the footer Spark's inference reads") {
    import spark.implicits._
    // Inference with mergeSchema off reads _common_metadata, else
    // _metadata, else the first data file in path order, and skips the
    // hidden _SUCCESS and .crc files. Each step below adds a file whose
    // schema differs from the rest, so a wrong choice changes the schema.
    // Every step is a fresh directory: Spark caches a path's listing.
    val tmp = Files.createTempDirectory("graft_footer_dir")
    def parquetFile(df: org.apache.spark.sql.DataFrame, name: String): Path = {
      val out = tmp.resolve(s"$name.src")
      df.coalesce(1).write.parquet(out.toString)
      Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    }
    def copyDir(from: Path, to: Path): Path = {
      Files.createDirectories(to)
      Files.list(from).forEach(f => Files.copy(f, to.resolve(f.getFileName)))
      to
    }
    val parts = tmp.resolve("parts.parquet")
    (0 until 30).map(i => (i.toLong, s"r$i", i * 0.5)).toDF("id", "name", "x")
      .repartition(3).write.parquet(parts.toString)
    assert(Files.list(parts).filter(_.getFileName.toString.startsWith("part-")).count() == 3)
    assert(Files.exists(parts.resolve("_SUCCESS")))
    val firstData = copyDir(parts, tmp.resolve("first.parquet"))
    // "a-…" sorts before every "part-…" file
    Files.copy(parquetFile(Seq((1L, "a")).toDF("id", "first_only"), "first"), firstData.resolve("a-first.parquet"))
    val metadata = copyDir(firstData, tmp.resolve("metadata.parquet"))
    Files.copy(parquetFile(Seq((1L, 2)).toDF("id", "metadata_only"), "metadata"), metadata.resolve("_metadata"))
    val common = copyDir(metadata, tmp.resolve("common.parquet"))
    Files.copy(parquetFile(Seq((1L, 2.0f)).toDF("id", "common_only"), "common"), common.resolve("_common_metadata"))
    Seq(parts -> "x", firstData -> "first_only", metadata -> "metadata_only", common -> "common_only")
      .foreach { case (dir, column) =>
        val (footer, inferred) = footerVsInferred(dir.toString)
        assert(footer == inferred, dir.getFileName.toString)
        assert(inferred.fieldNames.contains(column), s"${dir.getFileName}: $inferred")
      }
  }

  test("a TIMESTAMP(NANOS) events file registers and streams as µs TimestampType") {
    // Today's testdata stores events.ts as TIMESTAMP(MICROS); earlier
    // generations stored TIMESTAMP(NANOS), which Spark reads only as a raw
    // long under spark.sql.legacy.parquet.nanosAsLong. Write such a file
    // with parquet's own writer and run both readers over it.
    val dir = Files.createTempDirectory("graft_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = new Configuration()
    val nanos = Seq(1704067200000000123L, 1704070800000999999L, 1704074400123456789L)
    val path = dir.resolve("events.parquet").toString
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 10L + i).append("event_type", Seq("click", "purchase", "error")(i))
        .append("value", i + 0.5).append("props", "{}"))
    } finally writer.close()
    val (footer, inferred) = footerVsInferred(path)
    assert(footer == inferred)
    assert(footer("ts").dataType == LongType)
    try {
      Tables.register(spark, dir.toString)
      val events = spark.table("events")
      assert(events.schema("ts").dataType == TimestampType)
      val micros = events.orderBy("event_id").collect().map { r =>
        val t = r.getTimestamp(1).toInstant
        t.getEpochSecond * 1000000L + t.getNano / 1000
      }
      assert(micros.toSeq == nanos.map(_ / 1000))
      val batch = StreamOps.hourlyByType(events, withWatermarkCol = false)
        .orderBy("h", "event_type").collect().toSeq
      val streamed = StreamOps.runToCompletion(spark,
        StreamOps.hourlyByType(StreamOps.eventsStream(spark, dir.toString)), "catalogspec_nanos")
        .orderBy("h", "event_type").collect().toSeq
      assert(batch.size == 3 && streamed == batch)
    } finally Tables.register(spark, TestSpark.sf0001)
  }
}
