package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Q38(E): streaming output on a closed input equals the batch answer
  * (SURVEY.md §5 item 5). */
class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming hourly window equals batch on closed input") {
    val streamed = StreamOps.runToCompletion(spark,
      StreamOps.hourlyByType(StreamOps.eventsStream(spark, TestSpark.sf0001)),
      "stream_hourly")
      .orderBy("h", "event_type").collect()

    val batch = StreamOps.hourlyByType(
      Tables.table(spark, TestSpark.sf0001, "events"), withWatermarkCol = false)
      .orderBy("h", "event_type").collect()

    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    assert(batch.nonEmpty)
  }

  test("streaming hourly HLL registers equal the batch build on closed input") {
    import graft.operators.Sketches
    val streamed = StreamOps.runToCompletion(spark,
      StreamOps.hllHourlyUsers(StreamOps.eventsStream(spark, TestSpark.sf0001)),
      "stream_hll")
      .orderBy("h", "bucket").collect()
    graft.functions.PortableShingleHash.register(spark)
    val batch = Sketches.hllBuild(
      Tables.table(spark, TestSpark.sf0001, "events")
        .select(date_trunc("hour", col("ts")).as("h"),
          element_at(call_function("portable_shingle_hash",
            array(coalesce(col("user_id").cast("string"), lit(""))), lit(1)), 1).as("hk")),
      Seq("h"), "hk")
      .orderBy("h", "bucket").collect()
    assert(streamed.length == batch.length && batch.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming CMS build equals the batch sketch on closed input") {
    import graft.operators.Sketches
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
    val streamed = StreamOps.runToCompletion(spark,
      StreamOps.cmsBuildStream(stream, "text"), "stream_cms")
      .collect().map(r => (r.getAs[Int]("i"), r.getAs[Long]("p")) -> r.getAs[Long]("s")).toMap
    graft.functions.PortableShingleHash.register(spark)
    val hc = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .select(element_at(call_function("portable_shingle_hash",
        array(col("token")), lit(1)), 1).as("h"), col("c"))
      .groupBy("h").agg(sum(col("c")).as("c"))
    val batch = Sketches.countMinBuild(hc, "h", "c")
      .collect().map(r => (r.getAs[Int]("i"), r.getAs[Long]("p")) -> r.getAs[Long]("s")).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming bigram-LM model build equals the batch count table across forced micro-batches") {
    // Force THREE micro-batches (3 parquet files + maxFilesPerTrigger=1)
    // so the additive per-batch-partials merge is exercised across real
    // batch boundaries, with shared bigram keys crossing batches.
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lm_src").toString
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$srcDir/p0")
    docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$srcDir/p1")
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$srcDir/p2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(srcDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_partials").toString
    val streamed = StreamOps.lmModelStream(spark, stream, "text", s"$tmp/partials")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // more than one batch=N partial subdir proves the merge actually
    // spanned batches (round 11: each batch overwrites its own
    // batchId-derived subpath so checkpoint replays are idempotent)
    assert(new java.io.File(s"$tmp/partials").listFiles().count(_.getName.startsWith("batch=")) > 1)
    graft.functions.PortableShingleHash.register(spark)
    val batch = docs
      .select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 2)
      .select(
        call_function("portable_shingle_hash", col("t"), lit(1)).as("u"),
        posexplode(call_function("portable_shingle_hash", col("t"), lit(2))))
      .select(col("col").as("k"), element_at(col("u"), col("pos") + lit(1)).as("k1"))
      .groupBy("k", "k1").agg(count(lit(1)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("per-batch parquet partials are replay-idempotent (batchId overwrite, round-11 advice)") {
    import spark.implicits._
    // Simulate the streaming-replay hazard directly: a micro-batch whose
    // parquet write committed but whose streaming commit did not is
    // re-executed on restart. With append-mode partials the rows double;
    // with the batchId-derived overwrite subpath they must not.
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val part = Seq((1L, 2L, 3L), (4L, 5L, 6L)).toDF("k", "k1", "m")
    part.write.mode("overwrite").parquet(s"$tmp/batch=0")
    part.write.mode("overwrite").parquet(s"$tmp/batch=0") // the replay
    Seq((7L, 8L, 9L)).toDF("k", "k1", "m").write.mode("overwrite").parquet(s"$tmp/batch=1")
    val merged = spark.read.parquet(tmp).groupBy("k", "k1")
      .agg(sum("m").as("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == Map((1L, 2L) -> 3L, (4L, 5L) -> 6L, (7L, 8L) -> 9L),
      "a replayed batch's partial must overwrite, not double-count")
  }

  test("eventsStream adapts to every ts physical layout the driver has shipped") {
    // The driver regenerates /root/testdata between rounds and events.ts
    // has shipped as INT64 TIMESTAMP(NANOS) (rounds ≤8; reads as a raw ns
    // long under the legacy conf) and tz-naive TIMESTAMP(MICROS) (round 9;
    // infers as TIMESTAMP_NTZ, which watermarks reject). Round 8's driver
    // run went red exactly here: a hardcoded ns schema double-divided the
    // µs file and collapsed every streaming timestamp into Jan 1970. Pin
    // all three layouts (ns-long, µs-LTZ, µs-NTZ) to the same stream
    // output so the NEXT drift fails `sbt test`, not the driver gate.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.DataFrame
    val base = Seq(
      (1L, 1704067200000000L, 10L, "click", 1.5, "{}"),
      (2L, 1704070800000000L, 11L, "purchase", 2.5, "{}"),
      (3L, 1704074400000000L, 10L, "error", 0.5, "{}"))
    def writeSingleFile(df: DataFrame, dir: String): Unit = {
      val tmp = dir + "_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.move(part.toPath, Paths.get(dir, "events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    import spark.implicits._
    val root = Files.createTempDirectory("evts_layout").toString
    // layout A: raw INT64 ns longs (what a NANOS file reads as)
    writeSingleFile(base.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), s"$root/ns")
    // layout B: TimestampType (µs, UTC-adjusted)
    writeSingleFile(base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts"))), s"$root/us")
    // layout C: TIMESTAMP_NTZ (the round-9 driver layout)
    writeSingleFile(base.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz")), s"$root/ntz")
    val results = Seq("ns", "us", "ntz").map { layout =>
      val out = StreamOps.runToCompletion(spark,
        StreamOps.hourlyByType(StreamOps.eventsStream(spark, s"$root/$layout")),
        s"layout_$layout")
        .orderBy("h", "event_type").collect().toSeq
      assert(out.nonEmpty, s"layout $layout produced no rows")
      layout -> out
    }.toMap
    assert(results("ns") == results("us"), "ns-long vs µs-LTZ stream output")
    assert(results("us") == results("ntz"), "µs-LTZ vs µs-NTZ stream output")
    // and the timestamps are the REAL hours, not a 1970 collapse
    assert(results("us").head.getTimestamp(0).toInstant.toString.startsWith("2024-01-01"))
  }

  test("streaming hourly matches the Q32 SQL corpus answer on counts") {
    Tables.register(spark, TestSpark.sf0001)
    val q32 = spark.sql(Corpus.byId("q32_time_bucket").sparkSql)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = StreamOps.runToCompletion(spark,
      StreamOps.hourlyByType(StreamOps.eventsStream(spark, TestSpark.sf0001)),
      "stream_hourly_q32")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // q32 is LIMIT 100; every limited row must agree with the stream result
    q32.foreach { case (k, n) => assert(streamed(k) == n, s"bucket $k") }
  }

  test("stream-static enrichment equals the batch join on closed input") {
    val dim = Tables.table(spark, TestSpark.sf0001, "customer")
      .join(Tables.table(spark, TestSpark.sf0001, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    def agg(events: org.apache.spark.sql.DataFrame) =
      StreamOps.enrichAgainstStatic(events, dim, "user_id", "c_custkey")
        .groupBy("n_name").agg(count(lit(1)).as("n_events"))
    val streamed = StreamOps.runToCompletion(spark,
      agg(StreamOps.eventsStream(spark, TestSpark.sf0001)), "stream_static")
      .orderBy("n_name").collect()
    val batch = agg(Tables.table(spark, TestSpark.sf0001, "events"))
      .orderBy("n_name").collect()
    assert(streamed.length == batch.length && batch.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("streaming edit-distance ingest equals the batch incremental operator on closed input") {
    import graft.operators.TextDedup
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val corpus = docs.filter(col("doc_id") < split)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
      .filter(col("doc_id") >= split)
    val streamed = StreamOps.runAppend(spark,
        TextDedup.editDistanceCrossPairs(corpus, stream, "doc_id", "text"),
        "stream_edit")
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = TextDedup.editDistanceCrossPairs(
        corpus, docs.filter(col("doc_id") >= split), "doc_id", "text")
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming simhash ingest equals the corpus-capped batch cross operator on closed input (q216)") {
    import graft.operators.TextDedup
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val corpus = docs.filter(col("doc_id") < split)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
      .filter(col("doc_id") >= split)
    val streamed = StreamOps.runAppend(spark,
        TextDedup.portableSimhashCrossPairs(corpus, stream, "doc_id", "text"),
        "stream_simhash")
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // equality holds while no combo bucket approaches the cap (true at
    // sf0.001): the streaming side's cap sees corpus-side occupancy only
    val batch = TextDedup.portableSimhashCrossPairs(
        corpus, docs.filter(col("doc_id") >= split), "doc_id", "text")
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty, "fixture must contain cross simhash pairs")
  }

  test("streaming phash ingest equals the corpus-capped batch cross operator on closed input (q218)") {
    import graft.operators.Multimodal
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val imgs = Multimodal.syntheticMediaRows(docs)
      .filter(col("media_type") === "image")
    val offset = 1000000L
    def variants(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
      Multimodal.resizeMedia(ds, 18, 16)
        .map(r => r.copy(media_id = r.media_id + offset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
      .filter(col("doc_id") % 3 === 0)
    val streamVariants = variants(Multimodal.syntheticMediaRows(stream)
      .filter(col("media_type") === "image")
      .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]))
    val streamed = StreamOps.runAppend(spark,
        Multimodal.phashCrossPairs(Multimodal.phashFeatures(imgs),
          Multimodal.phashFeatures(streamVariants)),
        "stream_phash")
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // equality holds while no combo bucket approaches the cap (true at
    // sf0.001): the streaming side's cap sees corpus-side occupancy only
    val batch = Multimodal.phashCrossPairs(Multimodal.phashFeatures(imgs),
        Multimodal.phashFeatures(variants(imgs)))
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(batch.nonEmpty, "fixture must contain original-variant phash pairs")
  }

  test("q142 cap-coupling margin: no prefix block near DefaultMaxBucketSize") {
    // r10 advice: q142's streaming cap sees CORPUS-side occupancy only
    // while its oracle (the q141 replay) caps COMBINED occupancy — the
    // two agree as long as no prefix-16 block's TOTAL occupancy (corpus
    // + incoming = the whole documents table, since the split partitions
    // it) comes anywhere near the cap. Assert a 2× safety margin at the
    // fixture the gate runs on, so a regenerated corpus that drifts
    // toward the cap fails HERE with a diagnosis instead of going red at
    // the oracle. (CLAUDE.md records the cap DOES fire for q83's simhash
    // buckets at sf0.1 — this guards the edit-distance block keys.)
    import graft.operators.TextDedup
    val worst = Tables.table(spark, TestSpark.sf01, "documents")
      .groupBy(substring(col("text"), 1, TextDedup.EditPrefixLen)).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(worst * 2 <= TextDedup.DefaultMaxBucketSize,
      s"largest prefix-${TextDedup.EditPrefixLen} block ($worst docs) is within 2× of " +
        s"DefaultMaxBucketSize (${TextDedup.DefaultMaxBucketSize}) — q142's corpus-only " +
        "cap may diverge from the q141 combined-cap oracle; see TextDedup.editDistanceCrossPairs")
  }

  test("streaming ingest dedup equals the batch incremental operator on closed input") {
    import graft.operators.TextDedup
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val corpus = docs.filter(col("doc_id") < split)
    val (corpusBase, corpusBanded) = TextDedup.portableIndexFrames(corpus, "doc_id", "text")
    // closed streaming input: the same parquet files, streamed, filtered
    // to the "incoming batch" half
    // the file source requires a directory; scope it to the documents file
    val docStream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(TestSpark.sf0001)
      .filter(col("doc_id") >= split)
    val streamed = StreamOps.runAppend(spark,
      StreamOps.dedupAgainstCorpus(docStream, corpusBase, corpusBanded, "doc_id", "text"),
      "stream_ingest_dedup")
      // output is a documented multiset (one row per matching band) —
      // distinct batch-side
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = TextDedup.portableCrossPairStats(corpus, docs.filter(col("doc_id") >= split),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // equality holds while no band bucket approaches the cap (true at all
    // tested SFs): the streaming guard sees corpus-side occupancy only
    assert(streamed.nonEmpty, "closed stream must surface cross candidates")
    assert(streamed == batch,
      s"stream diverged: only-stream=${(streamed -- batch).take(5)}, only-batch=${(batch -- streamed).take(5)}")
  }

  test("runBatches delivers every row to the side effect exactly once across forced batches") {
    // the q206 runner's contract: side-effect-only (no parquet partials,
    // no read-back), each input row seen in exactly ONE micro-batch —
    // a dup or drop here would corrupt the streamed release shards
    val docs = Tables.table(spark, TestSpark.sf0001, "documents").select("doc_id")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_rb_src").toString
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$srcDir/p0")
    docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$srcDir/p1")
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$srcDir/p2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(srcDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rb_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    StreamOps.runBatches(stream, ckpt) { (b, batchId) =>
      b.collect().foreach(r => seen.add((r.getLong(0), batchId)))
    }
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSeq
    assert(rows.map(_._2).distinct.size > 1, "maxFilesPerTrigger=1 should force >1 batch")
    val expected = docs.collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet === expected, "some rows never reached the side effect")
    assert(rows.size === expected.size, "a row was delivered to more than one batch")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(srcDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
  }

  test("stream-stream attribution join equals the batch join on closed input") {
    val streamed = StreamOps.runAppend(spark,
      StreamOps.attributionPairs(
        StreamOps.eventsStream(spark, TestSpark.sf0001), "click", "purchase", 1800L),
      "stream_attrib")
      .orderBy("id_a", "id_b").collect()

    val ev = Tables.table(spark, TestSpark.sf0001, "events")
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("id_a"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_a"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("id_b"), col("user_id").as("u_b"),
        date_trunc("second", col("ts")).as("ts_b"))
    val batch = a.join(b, col("user_id") === col("u_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 1800 SECONDS") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b", "user_id")
      .orderBy("id_a", "id_b").collect()

    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s2, b2) => assert(s2 == b2) }
    assert(batch.nonEmpty)
  }

  test("streaming parquet sink with checkpoint round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    StreamOps.sinkParquet(
      StreamOps.attributionPairs(
        StreamOps.eventsStream(spark, TestSpark.sf0001), "click", "purchase", 1800L),
      s"$tmp/out", s"$tmp/ckpt")
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.columns.sorted.toSeq == Seq("id_a", "id_b", "user_id"))
    assert(back.count() > 0)
  }

  test("dropDuplicatesWithinWatermark emits each key at most once per window") {
    val deduped = StreamOps.runAppend(spark,
      StreamOps.dedupWithinWatermark(
        StreamOps.eventsStream(spark, TestSpark.sf0001), Seq("event_id")),
      "dedup_wm")
    // event_id is unique in the testdata, so bounded-state dedup must be
    // a no-op pass-through: same cardinality as the batch table
    val n = deduped.count()
    val batch = Tables.table(spark, TestSpark.sf0001, "events").count()
    assert(n == batch, s"$n != $batch")
    // and a planted duplicate stream collapses: duplicate every event_id
    val dupStream = StreamOps.eventsStream(spark, TestSpark.sf0001)
      .select(col("event_id"), col("ts"))
      .unionByName(StreamOps.eventsStream(spark, TestSpark.sf0001)
        .select(col("event_id"), col("ts")))
    val collapsed = StreamOps.runAppend(spark,
      StreamOps.dedupWithinWatermark(dupStream, Seq("event_id")), "dedup_wm2")
      .count()
    assert(collapsed == batch, s"$collapsed != $batch")
  }

  test("session windows merge events within the gap") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "click", 1.0, "{}"),
      (2L, "2024-01-01 00:10:00", 10L, "click", 2.0, "{}"),  // same session (gap 30m)
      (3L, "2024-01-01 02:00:00", 10L, "click", 3.0, "{}"),  // new session
      (4L, "2024-01-01 00:05:00", 20L, "view", 4.0, "{}")
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // batch evaluation of session_window (same expression semantics)
    val sessions = events.groupBy(session_window(col("ts"), "30 minutes").as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sessions.count(_._1 == 10L) == 2, "user 10 has two sessions")
    assert(sessions.filter(_._1 == 10L).map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(sessions.count(_._1 == 20L) == 1)
  }

  test("bloomGateStream literal-probe path equals the broadcast-join batch operator") {
    // The streaming gate ships the filter as a literal word array and
    // tests bits with per-row shifts; the batch operator broadcast-joins
    // the (word, bits) frame. Same filter, same probes → identical
    // per-doc rollups, or one of the two bit paths is wrong.
    import spark.implicits._
    import graft.operators.Sketches
    graft.functions.PortableShingleHash.register(spark)
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val sh = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
      .distinct()
    val filt = Sketches.bloomBuild(sh, "h")
    val probeDocs = docs.filter(col("doc_id") % 7 =!= 0)
    val viaGate = StreamOps.bloomGateStream(probeDocs, filt, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val probeSh = probeDocs
      .select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
      .distinct()
    val viaJoin = Sketches.bloomMaybeContains(probeSh, filt, "h", Seq("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("maybe_in"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("flag_bp", expr("n_flagged * 10000 DIV n_shingles"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaGate.nonEmpty && viaGate.toSeq == viaJoin.toSeq)
    // and the gate flags every blocklist member's own text (no false negatives)
    val self = StreamOps.bloomGateStream(docs.filter(col("doc_id") % 7 === 0), filt,
        "doc_id", "text").collect()
    self.foreach { r =>
      assert(r.getAs[Long]("n_flagged") == r.getAs[Long]("n_shingles"),
        s"doc ${r.getAs[Long]("doc_id")} not fully flagged")
    }
  }

  test("streaming KMV state equals the batch sketch on closed input") {
    import graft.operators.Sketches
    graft.functions.PortableShingleHash.register(spark)
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
    val rows = stream
      .select(col("source").as("g"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("g"), explode(array_distinct(
        call_function("portable_shingle_hash", col("t"), lit(3)))).as("h"))
      .withColumn("id", lit(0L)).withColumn("v", lit(0L))
    val raw = StreamOps.runUpdate(spark,
      StreamOps.kSmallestStream(rows, Sketches.DefaultKmvK), "stream_kmv")
    val streamed = StreamOps.kSmallestFinal(raw)
      .groupBy("g").agg(sort_array(collect_list(col("h"))).as("sketch"))
      .orderBy("g").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toVector)
    val sh = docs.select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"),
        explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
    val batch = Sketches.kmvSketch(sh, "source", "h", Sketches.DefaultKmvK)
      .orderBy("source").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toVector)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("k-smallest state merges across micro-batches (forced 3-batch source)") {
    import spark.implicits._
    import graft.operators.Sketches
    // 60 rows over 2 groups with duplicate (h, id) pairs planted across
    // file boundaries; maxFilesPerTrigger=1 forces one micro-batch per
    // file, so the state must merge — the final sketch has to equal the
    // batch k-smallest over the union regardless of the split.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ksmall").toString + "/in"
    val data = (0 until 60).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val (h, id) = (((i * 37) % 20).toLong, (i % 5).toLong)
      // v derives from (h, id): duplicate keys planted across batches
      // carry the same payload, as in real use (payload rides the key)
      (g, h, id, h * 100 + id)
    }
    data.toDF("g", "h", "id", "v").repartition(3).write.parquet(tmp)
    val stream = spark.readStream
      .schema(data.toDF("g", "h", "id", "v").schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val k = 7
    val raw = StreamOps.runUpdate(spark, StreamOps.kSmallestStream(stream, k),
      "stream_ksmall_multi")
    // multi-batch proof: at least one group emitted more than once with
    // strictly increasing n_merged
    val emissions = raw.orderBy("g", "n_merged").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(emissions.groupBy(_._1).values.exists(_.length > 1),
      s"expected multiple update-mode emissions, got ${emissions.toSeq}")
    emissions.groupBy(_._1).values.foreach { es =>
      val ns = es.map(_._2).toSeq
      assert(ns == ns.sorted && ns.distinct == ns, s"n_merged not monotone: $ns")
    }
    val fin = StreamOps.kSmallestFinal(raw)
      .orderBy("g", "h", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = data.map(t => ((t._1, t._2, t._3), t._4)).toMap.toSeq
      .map { case ((g, h, id), v) => (g, h, id, v) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (t._2, t._3)).take(k)
      }.sortBy(t => (t._1, t._2, t._3))
    assert(fin.toSeq == expected)
  }

  test("streaming hash-sample quantiles equal the batch q150 path on closed input") {
    import graft.operators.Sketches
    graft.functions.PortableShingleHash.register(spark)
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(TestSpark.sf0001)
    val rows = stream.select(col("lang").as("g"),
      element_at(call_function("portable_shingle_hash",
        array(coalesce(col("doc_id").cast("string"), lit(""))), lit(1)), 1).as("h"),
      col("doc_id").as("id"), col("n_chars").cast("long").as("v"))
    val raw = StreamOps.runUpdate(spark,
      StreamOps.kSmallestStream(rows, Sketches.DefaultSampleK), "stream_sample")
    val samp = StreamOps.kSmallestFinal(raw)
      .select(col("g").as("lang"), col("id").as("doc_id"),
        col("v").as("n_chars"), col("h"))
    val qs = Seq(2500, 5000, 7500, 9000, 9900)
    val streamed = Sketches.sampleQuantiles(samp, Seq("lang"), "n_chars",
        "doc_id", "h", qs)
      .orderBy("lang", "q_bp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val keyed = docs.select(col("lang"), col("doc_id"),
      col("n_chars").cast("long").as("n_chars"),
      element_at(call_function("portable_shingle_hash",
        array(coalesce(col("doc_id").cast("string"), lit(""))), lit(1)), 1).as("h"))
    val batch = Sketches.sampleQuantiles(
        Sketches.hashSample(keyed, Seq("lang"), "doc_id", "h"),
        Seq("lang"), "n_chars", "doc_id", "h", qs)
      .orderBy("lang", "q_bp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }
}
