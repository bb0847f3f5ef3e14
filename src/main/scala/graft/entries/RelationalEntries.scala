package graft
package entries

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Relational entries: the engine-path behaviors (q24/q25), JSON
  * extraction, range and as-of joins, windows, splits, packing, upserts,
  * the corpus mix and the table profile. */
private[graft] object RelationalEntries {

  /** q80's profile surface — every int/string/date column of all 10
    * testdata tables. One source of truth: the Spark entry AND the DuckDB
    * oracle text are both generated from this spec (doubles excluded —
    * float→string rendering is the cross-engine hash hazard; events.ts
    * excluded — timestamp-nanos renders engine-specifically). */
  private val profileSpec: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
    "documents" -> Seq("doc_id", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "label"),
    "events" -> Seq("event_id", "user_id", "event_type"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate", "l_extendedprice"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority", "o_totalprice"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
    "region" -> Seq("r_regionkey", "r_name"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"))

  private val profileDateCols: Set[String] = Set("o_orderdate", "l_shipdate")

  /** Money (double) columns profiled as exact BIGINT cents (round 7):
    * raw doubles are the float-render hash hazard, but the corpus's own
    * DECIMAL(18,2)·100 trick makes their ranges hash-safe. */
  private val profileCentsCols: Set[String] = Set("o_totalprice", "l_extendedprice")

  def entries: Seq[Entry] = Seq(
    // Q24 — duplicate-output-column rename (db_utils.py:169-177): the
    // engine must emit k_1, k_2. No oracle (DuckDB forbids dup aliases in
    // this shape) → rows-only check + unit test.
    Entry("q24_dup_rename", { (spark, dir) =>
      Tables.register(spark, dir)
      Runner.runOrEmpty(spark,
        "SELECT c.c_nationkey AS k, n.n_nationkey AS k FROM customer c " +
          "JOIN nation n ON c.c_nationkey = n.n_nationkey ORDER BY c.c_custkey LIMIT 100")
    }, None),
    // Q25 — LIMIT injection (app.py:265): engine receives no-LIMIT text and
    // must execute it as `… LIMIT 100`; the oracle text carries the limit.
    Entry("q25_limit_inject", { (spark, dir) =>
      Tables.register(spark, dir)
      Runner.runOrEmpty(spark, "SELECT c_custkey FROM customer ORDER BY c_custkey")
    }, Some(_ => "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100")),
    // JSON field extraction from events.props (Q34(E), dual text)
    // CAST the SUM: DuckDB SUM(BIGINT) is HUGEINT, which its pandas
    // path renders as float ("99111.0") — BIGINT renders like Spark's.
    Entry("q34_json_extract", { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT event_type, SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS k_sum " +
        "FROM events GROUP BY event_type ORDER BY event_type LIMIT 100")
    }, Some(_ =>
      ("SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum " +
        "FROM events GROUP BY event_type ORDER BY event_type LIMIT 100"))),
    // Bucketed time-range join (scale-safe form of the non-equi join Spark
    // would execute as BNL) — oracle-checked against DuckDB's IEJoin.
    // Timestamps truncated to seconds in both texts: events.ts is ns in
    // parquet and µs in Spark, so sub-second precision cannot hash-match.
    Entry("q54_range_join", { (spark, dir) =>
      val ev = Tables.table(spark, dir, "events")
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts"))
      graft.operators.TimeJoins.rangeJoin(ev, ev, "ts", "ts", 120L)
        .select(col("l_event_id"), col("r_event_id"))
        .orderBy("l_event_id", "r_event_id").limit(100)
    }, Some(_ =>
      ("SELECT a.event_id AS l_event_id, b.event_id AS r_event_id FROM events a JOIN events b " +
        "ON date_trunc('second', b.ts) >= date_trunc('second', a.ts) " +
        "AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 120 SECOND " +
        "ORDER BY l_event_id, r_event_id LIMIT 100"))),
    // As-of join: latest 'view' by the same user within 1 h of each
    // 'click' (trade→quote shape) — oracle-checked against DuckDB's
    // native ASOF JOIN + tolerance filter. Only the matched timestamp is
    // projected: equal-timestamp ties then collapse identically in both
    // engines. Second truncation as in q54 (ns parquet vs µs Spark).
    Entry("q72_asof", { (spark, dir) =>
      val ev = Tables.table(spark, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      graft.operators.TimeJoins.asofJoin(clicks, views, "user_id", "ts", "ts", 3600L,
          leftUniqueKey = Some("event_id"))
        .select(col("l_event_id"), col("r_ts"))
        .orderBy("l_event_id").limit(100)
    }, Some(_ =>
      ("WITH clicks AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts " +
        "FROM events WHERE event_type = 'click'), " +
        "views AS (SELECT user_id, date_trunc('second', ts) AS ts " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT a.event_id AS l_event_id, b.ts AS r_ts " +
        "FROM clicks a ASOF JOIN views b ON a.user_id = b.user_id AND b.ts <= a.ts " +
        "WHERE a.ts - b.ts <= INTERVAL 3600 SECOND " +
        "ORDER BY l_event_id LIMIT 100"))),
    // Deterministic hash train/test split — split sizes per label.
    // Promoted to the oracle (round-3 verdict item 4): the md5 method is
    // dual-spellable (DuckDB parses '0x'||hex in a CAST), so the exact
    // per-split counts hash-check cross-engine. xxhash64 stays the
    // production default (no string conversion); same operator, same plan.
    // promoted round 4: md5-prefix split is engine-portable — DuckDB
    // parses '0x'-prefixed hex in a CAST, Spark spells the same integer
    // via conv(substr(md5(key),1,8),16,10)
    Entry("q69_hash_split", { (spark, dir) =>
      graft.operators.Scale.hashSplit(Tables.table(spark, dir, "documents"), "doc_id", 80,
          method = "md5")
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split").limit(100)
    }, Some(_ =>
      ("SELECT split, COUNT(*) AS n FROM (SELECT CASE WHEN " +
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
        "THEN 'train' ELSE 'test' END AS split FROM documents) t " +
        "GROUP BY split ORDER BY split LIMIT 100"))),
    // Scale-safe NTILE (round-3 verdict item 1): the RFM M-score computed
    // by Scale.ntileExact — range-partition + two passes, NO
    // single-partition window anywhere in the plan — hash-checked against
    // DuckDB's true NTILE over the same total order. q18 keeps the window
    // spelling as the declared small-result-only form (see Corpus note).
    // new round 4: DuckDB's window NTILE is the oracle for the
    // distributed two-pass form (identical positional semantics over the
    // same unique total order)
    Entry("q73_ntile_dist", { (spark, dir) =>
      val orders = Tables.table(spark, dir, "orders")
      val monetary = orders.groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("monetary_cents"))
      graft.operators.Scale.ntileExact(monetary,
          Seq(col("monetary_cents").desc, col("o_custkey")), 4, "m_score")
        .select(col("o_custkey"), col("monetary_cents"), col("m_score"))
        .orderBy(col("monetary_cents").desc, col("o_custkey")).limit(100)
    }, Some(_ =>
      ("SELECT o_custkey, monetary_cents, " +
        "CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_score " +
        "FROM (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary_cents " +
        "FROM orders GROUP BY o_custkey) t " +
        "ORDER BY monetary_cents DESC, o_custkey LIMIT 100"))),
    // Greedy sequence packing (round 4): shard-parallel first-fit into
    // 512-token packs — oracle-checked against a DuckDB recursive CTE
    // replaying the identical sequential rule per shard.
    // new round 4: linear recursion replays the per-shard greedy packing
    // rule row by row — same shard, order, budget and overflow policy
    Entry("q75_seq_pack", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Scale.packSequences(d, "doc_id", "n_tokens",
          budgetTokens = 512L, nShards = 4)
        .select(col("id").as("doc_id"), col("shard"), col("pack"))
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH RECURSIVE docs AS (" +
        "SELECT doc_id % 4 AS shard, doc_id, len(string_split(text, ' ')) AS n_tokens, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn FROM documents" +
        "), packed(shard, rn, doc_id, n_tokens, acc, pack) AS (" +
        "SELECT shard, rn, doc_id, n_tokens, n_tokens, 0 FROM docs WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT d.shard, d.rn, d.doc_id, d.n_tokens, " +
        "CASE WHEN p.acc + d.n_tokens > 512 THEN d.n_tokens ELSE p.acc + d.n_tokens END, " +
        "CASE WHEN p.acc + d.n_tokens > 512 THEN p.pack + 1 ELSE p.pack END " +
        "FROM docs d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1" +
        ") SELECT doc_id, CAST(shard AS BIGINT) AS shard, CAST(pack AS BIGINT) AS pack " +
        "FROM packed ORDER BY doc_id LIMIT 100"))),
    // CDC upsert compaction (round 5): latest version per key wins — one
    // max_by hash aggregate over base ∪ updates, no window/sort; the
    // update batch is derived deterministically so both engines replay
    // the identical merge.
    // round 5: the merge replayed with a version-desc window (DuckDB's
    // spelling of keep-latest); versions are unique per key by
    // construction so both forms agree
    Entry("q81_upsert_latest", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val base = d.select(col("doc_id"), lit(1L).as("version"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val updates = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          (size(split(col("text"), " ")) + 2).cast("long").as("n_tokens"))
      graft.operators.Scale.upsertLatest(base, updates, "doc_id", "version")
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH base AS (SELECT doc_id, 1 AS version, len(string_split(text, ' ')) AS n_tokens FROM documents), " +
        "upd AS (SELECT doc_id, 2 AS version, len(string_split(text, ' ')) + 2 AS n_tokens FROM documents WHERE doc_id % 7 = 0), " +
        "allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd), " +
        "r AS (SELECT doc_id, version, n_tokens, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM allr) " +
        "SELECT doc_id, CAST(version AS BIGINT) AS version, CAST(n_tokens AS BIGINT) AS n_tokens " +
        "FROM r WHERE rn = 1 ORDER BY doc_id LIMIT 100"))),
    // Deterministic stratified corpus mix (round 7): per-language quotas
    // applied by md5-key-hash threshold — the promotable twin of
    // weightedMix/stratifiedSample (seeded rand is engine-specific; the
    // hash mix gives every engine the IDENTICAL surviving key set, the
    // q69 discipline). The report is the per-stratum kept-count — what a
    // curation run logs after composing a training mixture.
    // round 7: the mix replayed on the same md5 integers — quotas
    // interpolated from MixQuotasBp (one source of truth; cf. q69's
    // '0x'||hex CAST dual spelling of Spark's conv(substr(md5(…))))
    Entry("q101_corpus_mix", { (spark, dir) =>
      graft.operators.Scale.hashStratifiedMix(
          Tables.table(spark, dir, "documents"), "lang", "doc_id", MixQuotasBp)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang").limit(100)
    }, Some { _ =>
      val cases = MixQuotasBp.toSeq.sortBy(_._1)
        .map { case (l, bp) => s"WHEN lang = '$l' THEN $bp" }.mkString(" ")
      "SELECT lang, COUNT(*) AS n_kept FROM documents " +
        "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || lang), 1, 8)) AS BIGINT) % 10000 " +
        s"< (CASE $cases ELSE 0 END) " +
        "GROUP BY lang ORDER BY lang LIMIT 100"
    }),
    // Whole-corpus table profiling (widened round 6): nulls /
    // cardinalities / ranges for every int/string/date column of all 10
    // testdata tables — one pruned one-column scan per branch, unioned;
    // output is metadata-sized (one row per profiled column). Doubles are
    // excluded (float→string rendering is the known cross-engine hash
    // hazard), as is events.ts (timestamp-nanos). The DuckDB text is
    // GENERATED from the same `profileSpec`, so the two can't drift.
    // per-column profile over all 10 tables (round 6) — min/max exposed
    // as strings so heterogeneous types share one schema; dates
    // normalized to DATE strings. The branch list is GENERATED from
    // `profileSpec` — the same value the Spark entry profiles — so the
    // two texts cannot drift.
    Entry("q80_profile", { (spark, dir) =>
      graft.operators.TableProfile.profileTables(
          profileSpec.map { case (t, cols) => (t, Tables.table(spark, dir, t), cols) },
          dateCols = profileDateCols, centsCols = profileCentsCols)
        .orderBy("col_name").limit(100)
    }, Some { _ =>
      val branches = profileSpec.flatMap { case (t, cols) =>
        cols.map { c =>
          val (label, minE, maxE) =
            if (profileCentsCols(c)) {
              val cents = s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"
              (s"${c}_cents", s"CAST(MIN($cents) AS VARCHAR)", s"CAST(MAX($cents) AS VARCHAR)")
            } else if (profileDateCols(c))
              (c, s"CAST(CAST(MIN($c) AS DATE) AS VARCHAR)", s"CAST(CAST(MAX($c) AS DATE) AS VARCHAR)")
            else (c, s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
          s"SELECT '$t.$label' AS col_name, COUNT(*) AS n_rows, COUNT(*) - COUNT($c) AS n_null, " +
            s"COUNT(DISTINCT $c) AS n_distinct, $minE AS min_v, $maxE AS max_v FROM $t"
        }
      }
      branches.mkString("SELECT col_name, n_rows, n_null, n_distinct, min_v, max_v FROM (",
        " UNION ALL ", ") ORDER BY col_name LIMIT 100")
    }),
  )
}
