package graft.streaming

import graft.functions.PortableShingleHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bounded per-group state for `StreamOps.kSmallestStream`: the ≤ k
  * smallest distinct (h, id) pairs seen so far (parallel arrays — a flat
  * product encoder, no nested-struct state) plus a monotone count of rows
  * merged. `nMerged` strictly increases on every invocation (an
  * invocation has ≥ 1 input row), which is what lets the batch tail pick
  * each group's FINAL update-mode emission deterministically. */
case class KSmallState(hs: Seq[Long], ids: Seq[Long], vs: Seq[Long], nMerged: Long)

/** Structured Streaming over the `events` table shape (SURVEY.md §2.4
  * "Streaming" / Q38(E)): file-source stream → watermark → windowed
  * aggregates. Batch and streaming share the same logical transforms, so
  * streaming output on a closed input must equal the batch answer — that
  * equivalence is the unit-test contract (no DuckDB hashing of streams).
  *
  * Scale notes: the file source at 100 TB is a directory of parquet parts;
  * `maxFilesPerTrigger` bounds micro-batch size, the 10-minute watermark
  * bounds state, and the windowed aggregate shuffles only
  * (window, event_type) partial aggregates — map-side combine applies
  * exactly as in batch.
  */
object StreamOps {

  /** The events stream schema with `ts` as a raw long — the shape a
    * TIMESTAMP(NANOS) events.parquet reads as under
    * `spark.sql.legacy.parquet.nanosAsLong`. Testdata generations have
    * shipped `ts` as BOTH nanos and micros (the driver regenerates the
    * fixtures between rounds), so `eventsStream` sniffs the actual file
    * type instead of assuming this schema — round 8's driver run silently
    * double-divided a µs file by 1000 and collapsed every timestamp into
    * 1970, which only the streaming path hit because the batch path
    * (`Tables.register`) already guards on the file's type. */
  val rawEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read the footer on the driver (no Spark job): under the legacy conf
    // a NANOS file surfaces ts as LongType, a MICROS file as a timestamp
    // type natively. Declare the stream schema to match what the reader
    // will actually produce and convert only ns longs.
    val tsType = graft.Tables.footerSchema(spark, s"$dir/events.parquet",
      spark.sessionState.newHadoopConf())("ts").dataType
    val schema = StructType(rawEventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    // the file source requires a directory; scope it to the events file
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // Normalize to TimestampType: watermarks reject TIMESTAMP_NTZ (the
    // type a tz-naive MICROS file infers as). Session tz is UTC in every
    // entrypoint, so the NTZ→LTZ cast is value-identity.
    if (tsType == LongType) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Tumbling 1-hour windowed aggregate with a 10-minute watermark —
    * the streaming form of Q32. Works identically on a batch DataFrame
    * (window() is the same expression), which is how equivalence is tested. */
  def hourlyByType(events: DataFrame, withWatermarkCol: Boolean = true): DataFrame = {
    val src = if (withWatermarkCol) events.withWatermark("ts", "10 minutes") else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("total"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("total"))
  }

  /** Session windows per user: events within `gap` of each other merge into
    * one session (streaming sessionization). Merge semantics: an event at
    * t joins the session iff t < last_event_ts + gap (strictly less — an
    * event landing exactly at the gap boundary starts a NEW session),
    * session_end = last_event_ts + gap. The q89 DuckDB replay mirrors the
    * boundary with `ts >= lag(ts) + gap ⇒ new session`. The value sum is
    * DECIMAL(18,2) like hourlyByType so callers can expose exact cents. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("session_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup with custom state (`flatMapGroupsWithState`):
    * events keyed by a dedup key emit only on first sight; later
    * occurrences are dropped. State per key is a single boolean — at scale
    * the state store holds one entry per distinct key, and a real
    * deployment bounds it with state TTL (timeout conf) or a key domain
    * that rolls with time. */
  def streamingDedup(events: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(col(keyCol).cast("string").as("k"),
      to_json(struct(events.columns.map(col): _*)).as("payload"))
      .as[(String, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }.toDF("k", "payload")
  }

  /** Built-in bounded-state streaming dedup: Spark's
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes, so state is O(keys-per-watermark-window) instead of
    * O(all keys ever) — the right default at 100 TB/day. Contrast with
    * `streamingDedup` (flatMapGroupsWithState), which demonstrates custom
    * unbounded state for exactly-once-per-key-ever semantics. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join (attribution shape): for every `leftType`
    * event, the `rightType` events by the same user within `withinSeconds`
    * after it. Both sides carry watermarks and the join condition bounds
    * event time on both ends, so Spark can expire join state — at 100 TB
    * the state store holds only `withinSeconds + watermark` worth of
    * events per side, independent of stream length.
    *
    * Timestamps are compared at second granularity (`date_trunc`) because
    * the events parquet is TIMESTAMP(NANOS) truncated to µs on read —
    * sub-second precision could never hash-match a ns-exact oracle.
    * Output is append-mode eligible (both watermarks bound the result). */
  def attributionPairs(events: DataFrame, leftType: String, rightType: String,
                       withinSeconds: Long): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("id_a"), col("user_id").as("u_a"),
        date_trunc("second", col("ts")).as("ts_a"))
      .withWatermark("ts_a", "10 minutes")
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("id_b"), col("user_id").as("u_b"),
        date_trunc("second", col("ts")).as("ts_b"))
      .withWatermark("ts_b", "10 minutes")
    l.join(r, col("u_a") === col("u_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $withinSeconds SECONDS") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("u_a").as("user_id"))
  }

  /** Stream-static join (the dimension-enrichment shape): the streaming
    * fact side joins a STATIC dimension frame. Unlike stream-stream
    * joins this keeps NO join state at all — Spark re-evaluates the
    * static side per micro-batch — and with `broadcast` on the (small
    * by definition) dimension the stream never shuffles for the join:
    * at 100 TB/day of events the per-batch cost is one broadcast probe
    * per row, the same plan a batch enrichment gets. Inner join;
    * downstream aggregates compose as usual (the q107 entry aggregates
    * per dimension attribute and hash-checks against the DuckDB batch
    * join — the same closed-input contract as q51/q65/q89). */
  def enrichAgainstStatic(stream: DataFrame, dim: DataFrame,
                          streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey))

  /** Streaming ingest dedup: every micro-batch of incoming documents is
    * near-dup-checked AGAINST a static corpus index — the streaming form
    * of `TextDedup.portableCrossPairStats` (same coefficients, same band
    * keys via `TextDedup.portableBandKeys`, same `crossBucketPairs`
    * eligibility), and the shape a 24/7 crawl pipeline actually runs.
    *
    * Entirely STATELESS: banding is per-row expression work (shingle
    * hashes → affine signature → band keys, one `posexplode`), and both
    * joins are stream-static (no join state, no watermark, unbounded
    * uptime — Spark re-binds the static side per micro-batch, so a
    * corpus-index refresh is picked up on the next batch). Callers pass
    * the PERSISTED index frames from `TextDedup.portableIndexFrames`;
    * at scale the static side is partitioned storage the (small) batch
    * shuffles to — no broadcast hint here on purpose.
    *
    * Two documented deltas vs the batch operator: the degenerate-bucket
    * cap sees CORPUS-side occupancy only (`crossBucketPairs`' rule for a
    * streaming side — per-batch stream occupancy is unknowable without
    * state and bounded by batch size anyway), and the output is a
    * MULTISET — a pair matching in k bands emits k identical rows,
    * because per-pair dedup would be a stateful aggregate; distinct() it
    * batch-side or in foreachBatch (one narrow shuffle over matches
    * only). That multiset is why this stays a separate entry point
    * instead of a streaming call of `portableCrossPairStats`, whose
    * candidate `distinct` would need state. The stream side carries its
    * shingle-hash set through the band join — batch-sized payload
    * against a keys-only static side, the right side of the keys-only
    * trade.
    *
    * Output: (id_a ∈ corpus, id_b ∈ stream, n_inter, n_union); threshold
    * on n_inter/n_union is the caller's (integer cross-multiply). */
  def dedupAgainstCorpus(docStream: DataFrame,
                         corpusBase: DataFrame, corpusBanded: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = graft.operators.TextDedup.PortableShingleN,
                         numHashes: Int = graft.operators.TextDedup.PortableNumHashes,
                         bands: Int = graft.operators.TextDedup.PortableBands,
                         seed: Long = 7L,
                         maxBucketSize: Int = graft.operators.TextDedup.DefaultMaxBucketSize): DataFrame = {
    import graft.operators.TextDedup
    val coeffs = TextDedup.affineCoeffs(numHashes, seed)
    val streamBanded = docStream
      .select(col(idCol).as("id_b"),
        array_distinct(TextDedup.portableShingleHashes(col(textCol), shingleN)).as("__hb"))
      .filter(size(col("__hb")) > 0)
      .withColumn("__sig", TextDedup.affineSignature(col("__hb"), coeffs))
      .select(col("id_b"), col("__hb"),
        posexplode(TextDedup.portableBandKeys(col("__sig"), bands, numHashes / bands))
          .as(Seq("__band", "__bkey")))
    TextDedup.crossBucketPairs(
        corpusBanded.select(col("__band"), col("__bkey"), col(idCol).as("id_a")),
        streamBanded, Seq("__band", "__bkey"), maxBucketSize)
      .join(corpusBase.select(col(idCol).as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long").as("n_inter"),
        size(array_union(col("__ha"), col("__hb"))).cast("long").as("n_union"))
  }

  /** Streaming cardinality: hourly distinct-user HLL registers built AS
    * THE STREAMING AGGREGATE — max is algebraic, so per-(hour, bucket)
    * state is ONE small int updated map-side like any windowed max, and
    * the state store holds ≤ |hours|·2^p rows no matter how many events
    * flow (contrast `streamingDedup`, whose exact-distinct state grows
    * with the key universe — this is the sketch that fixes that at
    * 100 TB). The estimate rollup (`Sketches.hllEstimate`) runs as a
    * small BATCH step over the materialized registers after completion:
    * chained stateful aggregations are not a structured-streaming shape,
    * and the rollup input is sketch-sized, not data-sized. Keys are the
    * repo's 32-bit portable md5-derived values, so a DuckDB replay of
    * the register table is bit-identical (the q148 contract restricted
    * to the hourly grouping). Output: (h, bucket, reg). */
  def hllHourlyUsers(events: DataFrame, p: Int = graft.operators.Sketches.HllP): DataFrame = {
    import graft.operators.Sketches
    events.withWatermark("ts", "10 minutes")
      .select(window(col("ts"), "1 hour").as("w"),
        // coalesce: portable_shingle_hash rejects containsNull arrays
        // (its split()-only contract); user_id is never null in events,
        // the coalesce just proves it to the type check
        element_at(PortableShingleHash.column(
          array(coalesce(col("user_id").cast("string"), lit(""))), 1), 1).as("__h"))
      .select(col("w"), Sketches.hllBucket(col("__h"), p).as("bucket"),
        Sketches.hllRho(col("__h"), p).as("__rho"))
      .groupBy(col("w"), col("bucket"))
      .agg(max(col("__rho")).cast("long").as("reg"))
      .select(col("w.start").as("h"), col("bucket"), col("reg"))
  }

  /** Streaming Count-Min build: the frequency sketch accumulated AS THE
    * STREAMING AGGREGATE over a token stream — sum is algebraic, so
    * state is the ≤ depth×width cell table (~24 KiB) no matter how many
    * tokens flow, and the merge that makes CMS distributable is exactly
    * what the partial aggregates do per micro-batch. One pass: each
    * token explodes to its d (row, position) coordinates via a struct
    * array (no d-way union re-reading the stream). Completes the
    * sketch×streaming matrix beside q126 (minhash), q142 (edit), q147
    * (Bloom membership) and q149 (HLL cardinality): this one STREAMS THE
    * BUILD side where q147 streams the probe side. Output: (i, p, s) —
    * the `countMinBuild` cell schema, so the batch estimate/top-k tail
    * runs unchanged against it. */
  def cmsBuildStream(docStream: DataFrame, textCol: String,
                     width: Long = graft.operators.Sketches.CmsWidth): DataFrame = {
    import graft.operators.Sketches
    docStream
      .select(explode(split(col(textCol), " ")).as("token"))
      .select(element_at(PortableShingleHash.column(array(col("token")), 1), 1).as("__h"))
      .select(explode(array(Sketches.BloomHashes.indices.map { i =>
        struct(lit(i).as("i"), Sketches.cmsPosition(col("__h"), i, width).as("p"))
      }: _*)).as("__ip"))
      .select(col("__ip.i").as("i"), col("__ip.p").as("p"))
      .groupBy("i", "p")
      .agg(count(lit(1)).as("s"))
  }

  /** File-stream source over the documents table, robust to BOTH
    * physical layouts the table ships in: the driver's testdata is a
    * single FILE `dir/documents.parquet` (the file source rejects a
    * file as its path — "basePath must be a directory" — so that case
    * scopes a pathGlobFilter over the parent), while Spark-written
    * copies (ScaleTenX's replicated corpus, any `df.write.parquet`)
    * are a DIRECTORY of part files the glob silently EXCLUDES — a
    * zero-file source that streams nothing (round-10 finding: the
    * first 10× points for the streaming doc entries measured exactly
    * that empty stream). */
  def docsSource(spark: SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    tableSource(spark, dir, "documents", schema)

  /** Streaming source over one driver-testdata parquet table (round 13:
    * docsSource generalized so the vector stream twins can read
    * embeddings.parquet the same way). */
  def tableSource(spark: SparkSession, dir: String, table: String,
                  schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // directory probe through the Hadoop FileSystem API, not java.io.File:
    // File.isDirectory is always false for HDFS/S3 URIs, which would send
    // every non-local deployment into the glob branch — a zero-file source
    // that silently streams nothing for directory-shaped tables (the exact
    // bug this helper exists to fix; round-11 advice)
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.getFileStatus(path).isDirectory)
      spark.readStream.schema(schema).parquet(path.toString)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Per-batch bigram-LM partial counts: the stateless transform behind
    * `lmModelStream` — one document micro-batch in, its (k, k1, m)
    * count table out. Carries (long, long) keys only; k1 is the
    * bigram's prefix hash, so BOTH marginals (c2 by k, c1 by k1) fall
    * out of the merged table by summation. The keys are the batch LM
    * entries' (`TextAnalysis.lmKeyStreamToks`). */
  def lmBatchCounts(docs: DataFrame, textCol: String): DataFrame =
    graft.operators.TextAnalysis
      .lmKeyStreamToks(docs.select(col("doc_id"), split(col(textCol), " ").as("t")), "t")
      .groupBy("k", "k1")
      .agg(count(lit(1)).as("m"))

  /** Streaming bigram-LM model build WITHOUT a state store: because
    * bigram counts are ADDITIVE (q161's key-wise merge), the streaming
    * form doesn't need stateful aggregation at all — each micro-batch
    * writes its own partial (k, k1, m) table via `foreachBatch` (the
    * standard streaming-ETL model-update sink) and the merge is a plain
    * sum over the appended partials, run once downstream. This replaced
    * a complete-mode stateful `groupBy` whose vocabulary-sized state the
    * HDFS state store re-snapshotted per batch and whose complete-mode
    * emission re-materialized the whole model on the driver every batch
    * (14.5 s at sf0.1 vs ~2 s for this shape — measured round 10); at
    * 100 TB the same holds with the partials landing in a table and
    * periodic compaction doing the sum. Returns the MERGED model after
    * the closed input drains. */
  def lmModelStream(spark: SparkSession, docStream: DataFrame, textCol: String,
                    partialsPath: String): DataFrame =
    runBatchesToParquet(spark, docStream, partialsPath)(lmBatchCounts(_, textCol))
      .groupBy("k", "k1").agg(sum("m").as("m"))

  /** Stateless foreachBatch runner: applies `transform` to each
    * micro-batch as a plain batch job and lands the result under a
    * batchId-derived subpath, then reads the union back (the subpaths
    * appear as a `batch` partition column — aggregate or drop it).
    * Each batch OVERWRITES its own subpath: a restart that replays a
    * micro-batch whose parquet write committed before the streaming
    * commit would otherwise double-count that batch's rows (round-11
    * advice — append-mode foreachBatch is not idempotent under the
    * checkpoint's replay contract; per-batch overwrite is the standard
    * idempotent sink). This is the NO-state-store streaming shape for
    * per-batch-complete work (model partials, per-doc scoring where a
    * document never splits across batches): nothing is snapshotted per
    * batch, so state cost is zero at any corpus scale. */
  def runBatchesToParquet(spark: SparkSession, stream: DataFrame, path: String)
                         (transform: DataFrame => DataFrame): DataFrame = {
    runBatches(stream, s"$path-ckpt") { (df, batchId) =>
      transform(df).write.mode("overwrite").parquet(s"$path/batch=$batchId")
    }
    spark.read.parquet(path)
  }

  /** Side-effect-only foreachBatch runner — for entries whose per-batch
    * output goes through their OWN idempotent batchId-keyed sink (q206's
    * JSONL shard exports) rather than the parquet-partials convention; a
    * recomputed batch must overwrite its own subpath, never append a
    * duplicate. Running the stream this way writes NOTHING the caller
    * does not ask for (the r12 review finding: q206 paid a dead
    * parquet-partials write + read-back per batch). */
  def runBatches(stream: DataFrame, ckptPath: String)
                (sideEffect: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sideEffect(df, batchId)
      }
      .option("checkpointLocation", ckptPath)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming k-smallest-by-(hash, id) custom state — the bounded-state
    * primitive behind the LAST TWO sketch×streaming matrix cells: the KMV
    * cardinality/overlap sketch (id = 0, k smallest distinct hashes) and
    * the hash-sample distribution sketch (id = row id, v = profiled
    * value) in streaming form. Unlike the HLL/CMS streaming builds
    * (q149/q153), whose registers are ALGEBRAIC aggregates (max/sum) that
    * plain windowed `groupBy` state handles, k-smallest is order-
    * sensitive and has no built-in bounded aggregate — so this is the
    * repo's one `flatMapGroupsWithState` with NON-TRIVIAL bounded state
    * (`streamingDedup`'s state is a boolean): a TreeMap capped at k
    * entries per group, merged incrementally per input row (never
    * materializing a batch's group rows), exactly the KMV identity that
    * makes `kmvMerge`/`hashSampleMerge` correct — merge-then-take-k ≡
    * take-k of the concatenation, so the final state on a closed input
    * EQUALS the batch sketch regardless of how rows split into
    * micro-batches (StreamOpsSpec proves this over a forced 3-batch
    * file source).
    *
    * Input columns: (g string, h long, id long, v long); state per group
    * is ≤ k (h, id, v) triples + one counter — at 100 TB the state store
    * holds |groups|·k small rows no matter how many rows flow. Update
    * mode emits each group's running sketch once per batch it appears
    * in; `kSmallestFinal` picks the last (max `nMerged`) emission. */
  def kSmallestStream(rows: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = rows.sparkSession
    import spark.implicits._
    val keyed = rows.select(col("g").cast("string"), col("h").cast("long"),
        col("id").cast("long"), col("v").cast("long"))
      .as[(String, Long, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[KSmallState, (String, Long, Seq[Long], Seq[Long], Seq[Long])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Long, Long)], state: GroupState[KSmallState]) =>
          val acc = scala.collection.mutable.TreeMap.empty[(Long, Long), Long]
          val prev = if (state.exists) state.get else KSmallState(Nil, Nil, Nil, 0L)
          prev.hs.indices.foreach(i => acc((prev.hs(i), prev.ids(i))) = prev.vs(i))
          var n = prev.nMerged
          val ord = Ordering[(Long, Long)]
          it.foreach { r =>
            n += 1
            val kk = (r._2, r._3)
            if (!acc.contains(kk)) {
              if (acc.size < k) acc(kk) = r._4
              else if (ord.lt(kk, acc.lastKey)) { acc -= acc.lastKey; acc(kk) = r._4 }
            }
          }
          val hs = acc.keysIterator.map(_._1).toVector
          val ids = acc.keysIterator.map(_._2).toVector
          val vs = acc.valuesIterator.toVector
          state.update(KSmallState(hs, ids, vs, n))
          Iterator.single((key, n, hs, ids, vs))
      }
      .toDF("g", "n_merged", "hs", "ids", "vs")
  }

  /** Batch tail for `kSmallestStream`'s update-mode output: keep each
    * group's final emission (max `nMerged` — strictly monotone per group)
    * and explode the parallel arrays back to (g, h, id, v) rows, sorted
    * ascending by (h, id) within the arrays already. Input is
    * sketch-sized (≤ |groups|·batches rows), so the window is cheap. */
  def kSmallestFinal(raw: DataFrame): DataFrame =
    raw.withColumn("__rn", row_number().over(
        Window.partitionBy("g").orderBy(col("n_merged").desc)))
      .filter(col("__rn") === 1)
      .select(col("g"), explode(arrays_zip(col("hs"), col("ids"), col("vs"))).as("z"))
      .select(col("g"), col("z.hs").as("h"), col("z.ids").as("id"), col("z.vs").as("v"))

  /** Streaming contamination gate: every micro-batch of incoming
    * documents is probed against a Bloom filter of blocklist shingle keys
    * (`Sketches.bloomBuild`) — the streaming form of q145's screen, and
    * the third member of the stateless ingest family (minhash
    * `dedupAgainstCorpus`, edit `TextDedup.editDistanceCrossPairs` on a
    * stream, now membership). The filter is materialized ONCE into a driver-side
    * word array (fixed ≤ bits/32 longs — ~256 KiB at 2^20 bits, the same
    * small-metadata collect class as the IVF centroids) and shipped as a
    * literal through the task closure, so the stream side is PURE per-row
    * expression work: shingle hashes → k positions → bit tests → per-doc
    * counts, no join, no state, no watermark, one output row per
    * document. A filter refresh means restarting the query with a new
    * literal — acceptable for a gate whose blocklist changes rarely; the
    * broadcast-join form (`Sketches.bloomMaybeContains`) is the batch
    * path when it doesn't. Output: (doc_id-named idCol, n_shingles,
    * n_flagged, flag_bp) — identical row shape and arithmetic to q145's
    * rollup, which is what its oracle hash-checks. */
  def bloomGateStream(docStream: DataFrame, filter: DataFrame,
                      idCol: String, textCol: String,
                      shingleN: Int = 3,
                      bits: Long = graft.operators.Sketches.BloomBits): DataFrame = {
    import graft.operators.Sketches
    val nWords = (bits / 32).toInt
    val words = new Array[Long](nWords)
    filter.collect().foreach { r =>
      words(r.getAs[Long]("word").toInt) = r.getAs[Long]("bits")
    }
    val flit = typedLit(words.toIndexedSeq)
    // all k positions set ⇒ maybe-in (identical arithmetic to
    // Sketches.bloomPositions: middle bits of h·C + D, 32-bit words)
    def flagged(h: Column): Column = Sketches.BloomHashes.map { case (c, d) =>
      val p = shiftright(h * lit(c) + lit(d), Sketches.PosShift) % lit(bits)
      val word = element_at(flit, shiftright(p, 5).cast("int") + 1)
      call_function("shiftright", word, (p % 32).cast("int"))
        .bitwiseAND(lit(1L)) =!= lit(0L)
    }.reduce(_ && _)
    docStream
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= shingleN)
      .select(col(idCol),
        array_distinct(PortableShingleHash.column(col("__t"), shingleN)).as("__hs"))
      .select(col(idCol),
        size(col("__hs")).cast("long").as("n_shingles"),
        aggregate(col("__hs"), lit(0L),
          (acc, h) => acc + when(flagged(h), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("flag_bp", expr("n_flagged * 10000 DIV n_shingles"))
  }

  /** Streaming parquet sink with checkpointing — the durable-output path
    * (memory sink is test-only). Append mode; returns after all available
    * input is processed. At scale the checkpoint directory lives on
    * shared storage and the query restarts from it exactly-once. */
  def sinkParquet(df: DataFrame, outPath: String, checkpointPath: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run a streaming aggregate over the (closed) input to completion via
    * the memory sink; returns the final result table. Complete mode so all
    * windows emit even though the watermark never passes the last one. */
  def runToCompletion(spark: SparkSession, agg: DataFrame, name: String): DataFrame =
    runWithMode(spark, agg, name, "complete")

  /** Append-mode runner (stateful ops like streamingDedup emit append). */
  def runAppend(spark: SparkSession, df: DataFrame, name: String): DataFrame =
    runWithMode(spark, df, name, "append")

  /** Update-mode runner (`kSmallestStream` emits its running sketch per
    * batch; the memory sink appends every update, so callers follow with
    * `kSmallestFinal` to keep each group's last emission). */
  def runUpdate(spark: SparkSession, df: DataFrame, name: String): DataFrame =
    runWithMode(spark, df, name, "update")

  private val boundedRunLock = new Object

  /** State partitions of a bounded run (see `runWithMode`). */
  private val StateParts = 4

  /** Bounded-input runner. Two overheads dominate small closed inputs and
    * are turned off here (measured 6.5 s → 2.3 s on the sf0.1 attribution
    * join; round 5: 4 partitions → 1.6 s — a stream-stream join commits
    * FOUR state stores per partition per micro-batch, so addBatch scales
    * with the partition count: 3.6 s at 32, 1.0 s at 8, 0.88 s at 4 on
    * the same 200k-row closed input):
    *
    *   - state partitions: a stateful op commits one state-store file per
    *     partition per micro-batch; 32 partitions of near-empty state is
    *     pure fsync overhead. `StateParts` = 4 fits any bench SF; a real
    *     deployment sizes `spark.sql.shuffle.partitions` to its state
    *     volume instead.
    *   - no-data micro-batches: they only exist to advance the watermark
    *     after the last data batch — complete-mode aggregates and inner
    *     joins have already emitted everything by then. An append-mode
    *     windowed AGGREGATION (emission gated on the watermark) would lose
    *     its tail windows here; run it complete-mode (`runToCompletion`).
    *
    * The runner mutates SESSION-GLOBAL conf around the run and restores
    * it after (both settings are bound at query start, so the temporary
    * change cannot leak into concurrent plans already started). Two
    * concurrent bounded runs on the same session would race those
    * settings (observed: parallel test suites left a stream on the wrong
    * partition count), so `boundedRunLock` serializes them. Real
    * deployments run one streaming query per session and never hit the
    * lock. */
  private def runWithMode(spark: SparkSession, df: DataFrame, name: String,
                          mode: String): DataFrame = boundedRunLock.synchronized {
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", StateParts)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", false)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      oldNoData match {
        case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    spark.table(name)
  }
}
