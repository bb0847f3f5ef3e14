package graft
package entries

import graft.SparkEntry._
import graft.functions.PortableShingleHash
import graft.streaming.StreamOps.SessionGapMinutes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming entries: windowed aggregates, sessions, stream-static and
  * stream-stream joins, weighted and anomaly streams and their
  * incremental twins. */
private[graft] object StreamEntries {

  def entries: Seq[Entry] = Seq(
    // Structured Streaming tumbling window run to completion on the closed
    // input — hash-checked against the DuckDB BATCH oracle (Q38(E):
    // streaming output = batch answer on closed input)
    // the streaming result must equal the batch answer — DuckDB computes
    // the batch answer directly
    Entry("q51_stream_hourly", { (spark, dir) =>
      graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.hourlyByType(
          graft.streaming.StreamOps.eventsStream(spark, dir)),
        s"q51_mem_${math.abs(dir.hashCode)}")
        // BIGINT cents: hashed outputs must never carry DECIMAL (the
        // driver's oracle path floats decimals; see Corpus Q04 note)
        .select(col("h"), col("event_type"), col("n"),
          (col("total") * 100).cast("long").as("total_cents"))
        .orderBy("h", "event_type").limit(100)
    }, Some(_ =>
      ("SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents FROM events " +
        "GROUP BY date_trunc('hour', ts), event_type ORDER BY h, event_type LIMIT 100"))),
    // Streaming SESSION-window aggregation run to completion on the closed
    // input — hash-checked against a DuckDB lag-based island-detection
    // replay (same closed-input contract as q51/q65). Input timestamps are
    // truncated to seconds first: the parquet is TIMESTAMP(NANOS) and a
    // µs-vs-ns session boundary could never hash-match (cf.
    // attributionPairs). Boundary semantics: session_window merges an
    // event iff t < last_t + gap, so the replay breaks on ts >= lag + gap
    // (NOT q76's lenient `>` — the two differ exactly at the boundary).
    // streaming sessionization replayed relationally: lag-based island
    // detection per user. Boundary: new session when ts >= lag + gap
    // (session_window merges strictly-within-gap only); session_end =
    // MAX(ts) + gap; value as exact cents (DECIMAL sum, never a raw
    // double sum — float addition order would not hash)
    Entry("q89_stream_sessions", { (spark, dir) =>
      val src = graft.streaming.StreamOps.eventsStream(spark, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
      graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.userSessions(src),
        s"q89_mem_${math.abs(dir.hashCode)}")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"),
          (col("session_value") * 100).cast("long").as("value_cents"))
        .orderBy("user_id", "session_start").limit(100)
    }, Some(_ =>
      ("WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts2, value FROM events), " +
        "t1 AS (SELECT user_id, event_id, ts2, value, " +
        "CASE WHEN lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2, event_id) IS NULL " +
        s"OR ts2 >= lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2, event_id) + INTERVAL $SessionGapMinutes MINUTE " +
        "THEN 1 ELSE 0 END AS new_sess FROM e), " +
        "t2 AS (SELECT user_id, ts2, value, SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts2, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM t1) " +
        s"SELECT user_id, MIN(ts2) AS session_start, MAX(ts2) + INTERVAL $SessionGapMinutes MINUTE AS session_end, " +
        "COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents " +
        "FROM t2 GROUP BY user_id, sid ORDER BY user_id, session_start LIMIT 100"))),
    // Stream-static dimension enrichment run to completion on the closed
    // input (round 7): the events STREAM broadcast-joins the static
    // customer→nation dimension (no join state, no stream shuffle) and
    // aggregates per nation — hash-checked against the DuckDB batch
    // join, the same closed-input contract as q51/q65/q89.
    // the stream-static enrichment must equal the batch join on the
    // closed input — DuckDB computes the batch answer directly
    Entry("q107_stream_static", { (spark, dir) =>
      val cust = Tables.table(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val dim = cust.join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val enriched = graft.streaming.StreamOps.enrichAgainstStatic(
        graft.streaming.StreamOps.eventsStream(spark, dir), dim, "user_id", "c_custkey")
      graft.streaming.StreamOps.runToCompletion(spark,
        enriched.groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("total")),
        s"q107_mem_${math.abs(dir.hashCode)}")
        .select(col("n_name"), col("n_events"),
          (col("total") * 100).cast("long").as("value_cents"))
        .orderBy("n_name").limit(100)
    }, Some(_ =>
      ("SELECT n.n_name, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(e.value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "GROUP BY n.n_name ORDER BY n_name LIMIT 100"))),
    // Stream-stream interval join (attribution: purchases within 30 min of
    // a click, same user) run to completion on the closed input —
    // hash-checked against the DuckDB batch join (same contract as q51)
    Entry("q65_stream_join", { (spark, dir) =>
      graft.streaming.StreamOps.runAppend(spark,
        graft.streaming.StreamOps.attributionPairs(
          graft.streaming.StreamOps.eventsStream(spark, dir),
          "click", "purchase", withinSeconds = 1800L),
        s"q65_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      ("SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND date_trunc('second', b.ts) >= date_trunc('second', a.ts) " +
        "AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 1800 SECOND " +
        "AND a.event_id < b.event_id " +
        "AND a.event_type = 'click' AND b.event_type = 'purchase' " +
        "ORDER BY id_a, id_b LIMIT 100"))),
    // Streaming weighted sampling (round 10): q160's deterministic
    // priority sample built AS BOUNDED STREAMING STATE — priority =
    // h DIV w is just another k-smallest order, so the SAME
    // `kSmallestStream` primitive (≤ 10 (prio, doc_id) entries per
    // language) holds the reproducible weighted sample under any
    // micro-batch split (the KMV identity: k-smallest of a union =
    // k-smallest of merged k-smallests; tie-break (prio, doc_id) is
    // exactly q160's ORDER BY). The batch tail re-derives q160's rn
    // with one row_number over the ≤ |langs|·10 final state, and the
    // entry hashes against the IDENTICAL q160 oracle — streaming =
    // batch on closed input, the q156 contract with a weighted order.
    // q165 (round 10): identical replay to q160 — the streamed
    // k-smallest state equals the batch priority sample on closed
    // input (same (prio, doc_id) order, same k).
    Entry("q165_stream_weighted", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream.select(col("lang").as("g"),
        weightedPrio.as("h"),
        col("doc_id").as("id"), col("n_chars").cast("long").as("v"))
      val raw = graft.streaming.StreamOps.runUpdate(spark,
        graft.streaming.StreamOps.kSmallestStream(rows, 10),
        s"q165_mem_${math.abs(dir.hashCode)}")
      graft.streaming.StreamOps.kSmallestFinal(raw)
        .select(col("g").as("lang"), col("h").as("prio"),
          col("id").as("doc_id"), col("v").as("n_chars"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy("prio", "doc_id")).cast("long"))
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"), col("prio"))
        .orderBy("lang", "rn").limit(100)
    }, Some(_ => Corpus.byId("q160_weighted_sample").duckSql)),
    // Incremental weighted sampling (round 10): the batch-vs-corpus form
    // of q160 — the corpus keeps only its ≤ 10-row-per-language priority
    // sample (a k-smallest sketch under the weighted order), a new batch
    // computes its own, and the merged sample re-ranks the UNION of the
    // two sketches: k-smallest of a union = k-smallest of merged
    // k-smallests (the q156/q165 identity with priorities for hashes),
    // so the result equals the full-corpus q160 answer — hash-proven
    // against the IDENTICAL oracle. Corpus raw rows never re-read; the
    // per-split windows stay partitioned by language.
    // q167/q168 (round 10): identical replays to q160/q159 — the
    // split-build-merge results equal the full builds on closed input
    // (k-smallest and additive-count merge identities).
    Entry("q167_incremental_weighted", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      def top10(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("lang"), col("doc_id"), col("n_chars"),
          weightedPrio.as("prio"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("prio", "doc_id")))
        .filter(col("rn") <= 10).drop("rn")
      top10(d.filter(col("doc_id") < IncrementalSplitId))
        .unionByName(top10(d.filter(col("doc_id") >= IncrementalSplitId)))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("prio", "doc_id")).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"), col("prio"))
        .orderBy("lang", "rn").limit(100)
    }, Some(_ => Corpus.byId("q160_weighted_sample").duckSql)),
    // Incremental inverted-index postings (round 10): the index-merge
    // form of q159 — per-split posting summaries (exact df, sorted
    // first-20 preview, min/max doc) merge by term: df is ADDITIVE over
    // disjoint doc sets, the merged preview is the k-smallest of the
    // union of per-split k-smallests (the same identity as q167), and
    // min/max fold. The merged index equals the full q159 build —
    // hash-proven against the IDENTICAL oracle — without re-reading
    // corpus text: the daily index-update shape.
    Entry("q168_incremental_postings", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      def side(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("tok").orderBy("doc_id")))
        .groupBy("tok")
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(when(col("rn") <= 20, col("doc_id")))).as("p20"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      side(d.filter(col("doc_id") < IncrementalSplitId))
        .unionByName(side(d.filter(col("doc_id") >= IncrementalSplitId)))
        .groupBy("tok")
        .agg(sum("df").as("df"),
          expr("slice(sort_array(flatten(collect_list(p20))), 1, 20)").as("p20m"),
          min("min_doc").as("min_doc"), max("max_doc").as("max_doc"))
        .select(col("tok"), col("df"),
          expr("array_join(transform(p20m, x -> CAST(x AS STRING)), ',')").as("posting20"),
          col("min_doc").cast("long").as("min_doc"), col("max_doc").cast("long").as("max_doc"))
        .orderBy(col("df").desc, col("tok")).limit(100)
    }, Some(_ => Corpus.byId("q159_inverted_postings").duckSql)),
    // Streaming event-rate anomaly detection (round 10): q164's monitor
    // with the hourly aggregate computed AS THE WATERMARKED STREAMING
    // WINDOW (the q51 machinery — bounded per-hour state), then the
    // integer z-score tail running over the tiny streamed hourly table
    // (the window-over-aggregate discipline: trailing-24 h sums touch
    // hundreds of rows, never the event stream). Per-type streamed
    // counts sum to the per-hour totals exactly, so on closed input the
    // entry hashes against the IDENTICAL q164 oracle — streaming =
    // batch, and the ingest monitor this row models is precisely the
    // thing one runs ON a stream in production.
    // q166 (round 10): identical replay to q164 — streamed hourly
    // windows sum to the batch hourly counts on closed input.
    Entry("q166_stream_anomaly", { (spark, dir) =>
      val hourly = graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.hourlyByType(
          graft.streaming.StreamOps.eventsStream(spark, dir)),
        s"q166_mem_${math.abs(dir.hashCode)}")
      val hv = s"q166_hourly_${math.abs(dir.hashCode)}"
      hourly.groupBy("h").agg(sum("n").as("n")).createOrReplaceTempView(hv)
      val out = spark.sql(
        s"WITH w AS (SELECT h, n, " +
          "COUNT(*) OVER win AS cnt, COALESCE(SUM(n) OVER win, 0) AS s, " +
          "COALESCE(SUM(n * n) OVER win, 0) AS s2 " +
          s"FROM $hv WINDOW win AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) " +
          "SELECT h, n, CAST(cnt AS BIGINT) AS w_hours, CAST(s AS BIGINT) AS w_sum, " +
          "CAST((n * cnt - s) * (n * cnt - s) AS BIGINT) AS devsq, " +
          "CAST(cnt * s2 - s * s AS BIGINT) AS varnum, " +
          "CASE WHEN cnt >= 12 AND n * cnt > s " +
          "AND (n * cnt - s) * (n * cnt - s) > 9 * (cnt * s2 - s * s) " +
          "THEN 1 ELSE 0 END AS spike " +
          "FROM w ORDER BY spike DESC, h LIMIT 100")
      // the analyzed plan holds the resolved relation — drop the helper
      // view so the session catalog stays exactly the testdata tables
      // (CatalogSpec's exact-set assertion)
      spark.catalog.dropTempView(hv)
      out
    }, Some(_ => Corpus.byId("q164_rate_anomaly").duckSql)),
  )

  /** q160's weighted priority, `h DIV (n_chars DIV 100 + 1)` over the
    * portable 32-bit hash of doc_id. coalesce proves non-null to the
    * hash's type check (doc_id is never null in documents — the q156
    * spelling). */
  private def weightedPrio: Column =
    call_function("div",
      element_at(PortableShingleHash.column(
        array(coalesce(col("doc_id").cast("string"), lit(""))), 1), 1),
      call_function("div", col("n_chars"), lit(100)) + 1)
}
