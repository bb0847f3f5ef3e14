package graft
package entries

import graft.SparkEntry._
import graft.functions.PortableShingleHash
import graft.operators.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch entries: KMV, Bloom, count-min, HLL, sampling and the
  * sketch profile, batch, incremental and streaming. */
private[graft] object SketchEntries {

  /** Shared by q148 (batch HLL) and q154 (incremental HLL merge): the
    * merge is register-wise max, so split-build-merge equals the full
    * build on closed input — both hash against the identical replay. */
  private lazy val hllCardinalityOracle: String = {
    val m = graft.operators.Sketches.HllM
    "WITH toks AS (" +
      "SELECT source, t FROM (SELECT source, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
      "), sh AS (" +
      "SELECT source, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
      "FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
      s"), r AS (${graft.operators.Sketches.hllRegSql("sh", "source")}), " +
      "s AS (SELECT source, COUNT(*) AS nb, " +
      "SUM(1::BIGINT << CAST(32 - reg AS INTEGER)) AS sp FROM r GROUP BY source) " +
      "SELECT source, CAST(nb AS BIGINT) AS n_buckets, " +
      s"CAST(sp + ($m - nb) * 4294967296 AS BIGINT) AS s_scaled, " +
      s"CAST(FLOOR(${graft.operators.Sketches.HllNumerator} / " +
      s"CAST(sp + ($m - nb) * 4294967296 AS DOUBLE)) AS BIGINT) AS est_hll " +
      "FROM s ORDER BY source LIMIT 100"
  }

  /** Shared by q146 (batch CMS) and q153 (streaming CMS build): on the
    * closed input the streamed sketch cells equal the batch build's, so
    * both entries hash against the identical DuckDB replay — the
    * streaming = batch contract, q141/q142-style. */
  private lazy val cmsHeavyHittersOracle: String = {
    val rows = graft.operators.Sketches.BloomHashes.indices.map { i =>
      s"SELECT h, c, $i AS i, ${graft.operators.Sketches.cmsPosSql("h", i)} AS p FROM hc"
    }.mkString(" UNION ALL ")
    "WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "th AS (SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tk), " +
      "hc AS (SELECT h, COUNT(*) AS c FROM th GROUP BY h), " +
      s"ps AS ($rows), " +
      "cms AS (SELECT i, p, SUM(c) AS s FROM ps GROUP BY i, p), " +
      "est AS (SELECT ps.h, ps.c, MIN(cms.s) AS est FROM ps " +
      "JOIN cms ON cms.i = ps.i AND cms.p = ps.p GROUP BY ps.h, ps.c), " +
      "top AS (SELECT h, c, est FROM est ORDER BY est DESC, h LIMIT 100), " +
      "vocab AS (SELECT DISTINCT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h, tok FROM tk) " +
      "SELECT v.tok AS token, t.h AS key_h, CAST(t.c AS BIGINT) AS exact_c, " +
      "CAST(t.est AS BIGINT) AS est_c " +
      "FROM top t JOIN vocab v ON v.h = t.h " +
      "ORDER BY est_c DESC, key_h, token LIMIT 100"
  }

  /** Shared by q150 (batch hash-sample) and q156 (streaming k-smallest
    * state): the streamed sketch's final state is exactly the batch
    * `hashSample` kept set on closed input (k smallest (hash, id) —
    * the KMV identity under any micro-batch split), so both entries
    * hash against the identical sample+rank replay. */
  private lazy val sampleQuantilesOracle: String = {
    val k = graft.operators.Sketches.DefaultSampleK
    "WITH keyed AS (SELECT lang, doc_id, n_chars, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM documents), " +
      "s AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM keyed), " +
      s"samp AS (SELECT lang, doc_id, n_chars, h FROM s WHERE rn <= $k), " +
      "o AS (SELECT lang, n_chars, h, doc_id, " +
      "row_number() OVER (PARTITION BY lang ORDER BY n_chars, h, doc_id) AS rn2, " +
      "COUNT(*) OVER (PARTITION BY lang) AS n FROM samp), " +
      "q AS (SELECT unnest([2500, 5000, 7500, 9000, 9900]) AS q_bp) " +
      "SELECT o.lang, q.q_bp, CAST(o.n AS BIGINT) AS n_sample, o.n_chars AS v_at_q " +
      "FROM o JOIN q ON o.rn2 = GREATEST(1, (q.q_bp * o.n + 9999) // 10000) " +
      "ORDER BY lang, q_bp LIMIT 100"
  }

  def entries: Seq[Entry] = Seq(
    // Approximate aggregates — the sketch-based scale path for exact
    // RFM-style rollups (HLL++ inside Spark; values engine-specific →
    // rows-only; accuracy bounds unit-tested)
    Entry("q52_approx_distinct", { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT o_custkey, APPROX_COUNT_DISTINCT(o_orderkey) AS approx_orders, " +
        "APPROX_PERCENTILE(o_totalprice, 0.5) AS approx_median_price " +
        "FROM orders GROUP BY o_custkey ORDER BY approx_orders DESC, o_custkey LIMIT 100")
    }, None),
    // KMV-sketch source overlap (round 10): the q132 comment's promised
    // scale path for UNBOUNDED source counts — per-source k-minimum-
    // values sketches over the same 32-bit portable shingle keys, then
    // pairwise Jaccard ESTIMATES from the sketches alone. Sketch
    // construction is one windowed top-k over (source, long) rows
    // (WindowGroupLimit prunes before the sort spills); candidate pairs
    // come from an equi-join on sketch members (keys+ids only — never a
    // nested-loop pair enumeration), and each surviving pair evaluates
    // the estimator over two ≤k arrays. The DuckDB text replays the
    // identical sketches and estimator, so the entry hash-checks exactly
    // — the ERROR BOUND vs exact Jaccard is SketchesSpec's job.
    // q144 (round 10): full KMV replay — identical sketches (k smallest
    // distinct 32-bit keys per source), identical candidate rule (pairs
    // sharing a sketch member), identical estimator arithmetic.
    Entry("q144_kmv_overlap", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val sh = d.select(col("source"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
        .select(col("source"), explode(PortableShingleHash.column(col("t"), 3)).as("h"))
        .distinct()
      graft.operators.Sketches.kmvJaccard(sh, "source", "h", graft.operators.Sketches.DefaultKmvK)
        .orderBy(col("est_bp").desc, col("src_a"), col("src_b")).limit(100)
    }, Some { _ =>
      val k = graft.operators.Sketches.DefaultKmvK
      "WITH toks AS (" +
        "SELECT source, t FROM (SELECT source, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
        "), sh AS (" +
        "SELECT DISTINCT source, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
        "FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
        "), rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh), " +
        s"sk AS (SELECT source, list_sort(list(h)) AS s FROM rk WHERE rn <= $k GROUP BY source), " +
        "cand AS (SELECT DISTINCT a.source AS src_a, b.source AS src_b FROM rk a " +
        s"JOIN rk b ON a.h = b.h AND a.source < b.source WHERE a.rn <= $k AND b.rn <= $k), " +
        "est AS (SELECT src_a, src_b, " +
        s"(list_sort(list_distinct(list_concat(sa.s, sb.s))))[1:$k] AS u, sa.s AS s_a, sb.s AS s_b " +
        "FROM cand JOIN sk sa ON sa.source = cand.src_a JOIN sk sb ON sb.source = cand.src_b) " +
        "SELECT src_a, src_b, CAST(len(u) AS BIGINT) AS k_union, " +
        "CAST(len(list_intersect(list_intersect(s_a, s_b), u)) AS BIGINT) AS n_shared, " +
        "CAST(len(list_intersect(list_intersect(s_a, s_b), u)) * 10000 // len(u) AS BIGINT) AS est_bp " +
        "FROM est ORDER BY est_bp DESC, src_a, src_b LIMIT 100"
    }),
    // Bloom-filter contamination screening (round 10): the fixed-size
    // MEMBERSHIP-sketch scale path beside q68's exact broadcast form —
    // q68 broadcasts the benchmark's whole token arrays, which stops
    // being viable when the blocklist side grows past broadcast size; the
    // Bloom filter is ≤ 2^20/32 (word, bits) rows (~256 KiB) REGARDLESS
    // of blocklist size, and the corpus side probes it in one pass with
    // no exchange carrying text. Same shared-32-bit-key posture as
    // q132/q144: the DuckDB twin computes the identical positions
    // ((h*C + D) % 2^20, BIGINT arithmetic, 32-bit words), so the
    // filter bits — and therefore the false-positive set — are equal by
    // construction; no false negatives by construction (SketchesSpec).
    // q145 (round 10): full Bloom replay — identical positions (the
    // constants interpolate from Sketches.BloomHashes so the two texts
    // cannot drift), identical 32-bit words and bit_or-aggregated
    // filter, identical all-k-bits-set probe rule. Note `& mask <> 0`
    // ≡ `= mask` for single-bit masks.
    Entry("q145_bloom_contamination", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      // the distinct (doc_id, key) stream feeds BOTH the filter build and
      // the probe — computed once, lineage-cut (CLAUDE.md discipline)
      val sh = Checkpoints.cut(
        d.select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            explode(PortableShingleHash.column(col("t"), 3)).as("h"))
          .distinct(), eager = false)
      val filt = graft.operators.Sketches.bloomBuild(sh.filter(col("doc_id") % 97 === 0), "h")
      graft.operators.Sketches
        .bloomMaybeContains(sh.filter(col("doc_id") % 97 =!= 0), filt, "h", Seq("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("maybe_in"), 1L).otherwise(0L)).as("n_flagged"))
        .select(col("doc_id"), col("n_shingles"), col("n_flagged"),
          expr("n_flagged * 10000 DIV n_shingles").as("flag_bp"))
        .orderBy(col("flag_bp").desc, col("doc_id")).limit(100)
    }, Some { _ =>
      val pos = graft.operators.Sketches.bloomPosSql("h")
      "WITH toks AS (" +
        "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
        "), sh AS (" +
        "SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
        s"), pos AS (SELECT unnest($pos) AS p FROM sh WHERE doc_id % 97 = 0), " +
        "flt AS (SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits " +
        "FROM pos GROUP BY p // 32), " +
        s"pp AS (SELECT doc_id, h, unnest($pos) AS p FROM sh WHERE doc_id % 97 <> 0), " +
        "hit AS (SELECT doc_id, h, " +
        "SUM(CASE WHEN (COALESCE(f.bits, 0) & (1::BIGINT << CAST(pp.p % 32 AS INTEGER))) <> 0 THEN 1 ELSE 0 END) AS nset " +
        "FROM pp LEFT JOIN flt f ON f.word = pp.p // 32 GROUP BY doc_id, h) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS flag_bp " +
        "FROM hit GROUP BY doc_id ORDER BY flag_bp DESC, doc_id LIMIT 100"
    }),
    // Count-Min heavy hitters (round 10): the fixed-size FREQUENCY-sketch
    // scale path for token statistics — q37's exact term frequencies
    // aggregate the full vocabulary; the CMS replaces that with
    // depth×width = 3×1024 counters (~24 KiB broadcast) whose estimates
    // only ever OVERCOUNT (est_c ≥ exact_c, pinned in SketchesSpec).
    // Token strings never shuffle: occurrences reduce to (32-bit key,
    // count) scan-locally, the sketch and estimates run on longs only,
    // and strings join back for the surviving top-100 keys alone (the
    // q129 discipline). The DuckDB twin replays the identical cells.
    // q146 (round 10): full CMS replay — identical (row, position)
    // cells from the shared constants, identical min-over-rows
    // estimator; the top-100 cut happens on (est, key) BEFORE the
    // string join-back in both engines, so the surviving key sets are
    // equal by construction.
    Entry("q146_cms_heavy_hitters", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      // ONE tokenization pass (the q131 lesson): aggregate by token first
      // — map-side combine keeps the exchange vocabulary-sized (the q37
      // shape) — then hash once per DISTINCT token, not per occurrence.
      // The lineage-cut frame feeds both the per-key counts and the
      // top-100 string join-back.
      val tv = Checkpoints.cut(
        d.select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c"))
          .select(element_at(
              PortableShingleHash.column(array(col("token")), 1), 1).as("h"),
            col("token"), col("c")), eager = false)
      // 32-bit key collisions merge here — shared with the DuckDB twin,
      // and exactly what a counter sketch does at cell level anyway
      val hc = tv.groupBy("h").agg(sum(col("c")).as("c"))
      val cms = graft.operators.Sketches.countMinBuild(hc, "h", "c")
      val top = graft.operators.Sketches.countMinEstimate(hc, cms, "h")
        .orderBy(col("est").desc, col("h")).limit(100)
      tv.select("h", "token").join(broadcast(top), Seq("h"))
        .select(col("token"), col("h").as("key_h"), col("c").as("exact_c"),
          col("est").as("est_c"))
        .orderBy(col("est_c").desc, col("key_h"), col("token")).limit(100)
    }, Some(_ => cmsHeavyHittersOracle)),
    // HyperLogLog distinct-shingle cardinality (round 10): the fixed-size
    // CARDINALITY-sketch scale path beside q132's exact per-source
    // distinct counts — per-source register tables of 1024 ints replace
    // the distinct-shingle exchange, and NO distinct() precedes the
    // build: registers are a MAX, so duplicate shingles are absorbed by
    // the scan-local partial aggregate and the single exchange carries
    // (source, bucket, rho) rows bounded by 20·1024 — never by the
    // shingle stream. Same shared-32-bit-key posture as q132/q144; the
    // register math is string-wise binary-length (no float, no log2),
    // the harmonic sum is exact BIGINT, and the raw estimate is one
    // FLOOR'd double division (the q85/q116 rule) — all replayed
    // bit-identically by the DuckDB twin. The ln()-based small-range
    // correction stays OUT of the hashed output (SketchesSpec owns it).
    // q148 (round 10): full HLL replay — identical buckets/ranks (the
    // register CTE interpolates from Sketches.hllRegSql so the two
    // texts cannot drift), exact-BIGINT harmonic sum, and the raw
    // estimate as ONE double division + FLOOR over identical integer
    // inputs with the numerator literal interpolated from
    // Sketches.HllNumerator — bit-identical cross-engine.
    Entry("q148_hll_cardinality", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val sh = d.select(col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"),
          explode(PortableShingleHash.column(col("t"), 3)).as("h"))
      val regs = graft.operators.Sketches.hllBuild(sh, Seq("source"), "h")
      graft.operators.Sketches.hllEstimate(regs, Seq("source"))
        .drop("est_corrected")
        .orderBy(col("source")).limit(100)
    }, Some(_ => hllCardinalityOracle)),
    // Incremental HLL (round 10): the incremental-family form for
    // cardinality — the existing corpus's register table persists (built
    // once, ≤ |sources|·1024 ints) and each new batch builds its own
    // registers and MERGES (register-wise max), never re-reading old
    // data: the mergeability property doing the incremental work, where
    // q124/q141 needed careful cross-pair restriction. On the closed
    // input the merged result equals the full q148 build, so it hashes
    // against the identical oracle — the identity is hash-proven, not
    // just unit-asserted. Completes batch(q148)/incremental(here)/
    // streaming(q149) for the cardinality sketch.
    // q154 (round 10): the IDENTICAL replay — register-wise max is the
    // HLL merge, so the split-build-merge result equals the full build
    // on closed input (the mergeability identity, hash-proven).
    Entry("q154_incremental_hll", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      def keys(docs: org.apache.spark.sql.DataFrame) =
        docs.select(col("source"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("source"),
            explode(PortableShingleHash.column(col("t"), 3)).as("h"))
      val existing = graft.operators.Sketches.hllBuild(
        keys(d.filter(col("doc_id") < IncrementalSplitId)), Seq("source"), "h")
      val incoming = graft.operators.Sketches.hllBuild(
        keys(d.filter(col("doc_id") >= IncrementalSplitId)), Seq("source"), "h")
      graft.operators.Sketches.hllEstimate(
          graft.operators.Sketches.hllMerge(existing, incoming, Seq("source")),
          Seq("source"))
        .drop("est_corrected")
        .orderBy(col("source")).limit(100)
    }, Some(_ => hllCardinalityOracle)),
    // Join-size estimation from sketches (round 10): the planner-support
    // operator — estimate |events ⋈ events ON user_id| (the self-join
    // blow-up question every skew-aware pipeline asks before shuffling)
    // from two ~24 KiB Count-Min sketches instead of running the join:
    // per depth row the cell inner product upper-bounds Σ_v f(v)², min
    // over rows is the estimate (AMS-style; one-sided like the point
    // estimates — est ≥ exact ALWAYS, so a green light is trustworthy).
    // Key counts reduce scan-locally to (32-bit key, count); the exact
    // Σc² rides the same tiny aggregate (collected once as a literal, the
    // q129 N-pattern) so the output row exposes est vs exact vs over_bp.
    // The DuckDB twin replays cells and products bit-identically.
    // q152 (round 10): full cell-level replay — identical per-key
    // counts (32-bit collisions merge upstream, shared), identical CMS
    // cells from the interpolated constants, identical Σ cell² per
    // depth row and min-over-rows; exact Σc² and over_bp in plain
    // BIGINT arithmetic (CAST-wrapped: DuckDB SUM(BIGINT) is HUGEINT).
    Entry("q152_join_size_estimate", { (spark, dir) =>
      val e = Tables.table(spark, dir, "events")
      val hc = Checkpoints.cut(
        e.groupBy("user_id").agg(count(lit(1)).as("__c"))
          .select(element_at(PortableShingleHash.column(
              array(coalesce(col("user_id").cast("string"), lit(""))), 1), 1).as("h"),
            col("__c"))
          .groupBy("h").agg(sum(col("__c")).as("c")), eager = false)
      val exact = hc.agg(sum(expr("c * c")).as("x")).head.getLong(0)
      val cms = graft.operators.Sketches.countMinBuild(hc, "h", "c")
      graft.operators.Sketches.countMinJoinSize(cms, cms)
        .select(lit(exact).as("exact_pairs"), col("est_join_size").as("est_pairs"),
          expr(s"est_join_size * 10000 DIV $exact").as("over_bp"))
        .orderBy("exact_pairs").limit(100)
    }, Some { _ =>
      val rows = graft.operators.Sketches.BloomHashes.indices.map { i =>
        s"SELECT h, c, $i AS i, ${graft.operators.Sketches.cmsPosSql("h", i)} AS p FROM hc"
      }.mkString(" UNION ALL ")
      "WITH uc AS (SELECT user_id, COUNT(*) AS c0 FROM events GROUP BY user_id), " +
        "hc AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h, " +
        "CAST(SUM(c0) AS BIGINT) AS c FROM uc GROUP BY 1), " +
        s"ps AS ($rows), " +
        "cms AS (SELECT i, p, CAST(SUM(c) AS BIGINT) AS s FROM ps GROUP BY i, p), " +
        "dot AS (SELECT i, CAST(SUM(s * s) AS BIGINT) AS d FROM cms GROUP BY i), " +
        "x AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs FROM hc), " +
        "est AS (SELECT CAST(MIN(d) AS BIGINT) AS est_pairs FROM dot) " +
        "SELECT x.exact_pairs, est.est_pairs, " +
        "CAST(est.est_pairs * 10000 // x.exact_pairs AS BIGINT) AS over_bp " +
        "FROM x, est ORDER BY exact_pairs LIMIT 100"
    }),
    // Sketch-mode table profiling (round 10): the bounded-memory twin of
    // q95's exact profile — count_distinct (per-column state ∝
    // cardinality, the one aggregate in the exact profile that cannot
    // hold at 100 TB) replaced by HLL registers, with exact null/row
    // counts falling out of the SAME single aggregate via a −1 sentinel
    // bucket: one scan and one ≤1025-row exchange per column, whatever
    // the column's cardinality. Values hash through the portable key of
    // their string rendering (BIGINT/VARCHAR — and midnight TIMESTAMPs,
    // which both engines render 'yyyy-MM-dd HH:mm:ss' — are identical
    // cross-engine; DOUBLE is not and stays excluded), so the DuckDB
    // twin replays registers and estimates bit-identically.
    // q151 (round 10): full sketch-profile replay — per column the
    // identical sentinel-bucket register aggregate (constants
    // interpolated from Sketches), exact-BIGINT sums (CAST wrapped:
    // DuckDB SUM(BIGINT) is HUGEINT), and the q148 FLOOR'd-double
    // estimate. Values hash via md5 of the VARCHAR rendering —
    // BIGINT/VARCHAR/midnight-TIMESTAMP render identically cross-engine.
    Entry("q151_sketch_profile", { (spark, dir) =>
      val o = Tables.table(spark, dir, "orders")
      graft.operators.TableProfile.sketchProfile(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate"))
        .orderBy("col_name").limit(100)
    }, Some { _ =>
      val m = graft.operators.Sketches.HllM
      def one(c: String): String =
        s"SELECT '$c' AS col_name, n_rows, n_null, n_buckets, s_scaled, " +
          s"CAST(FLOOR(${graft.operators.Sketches.HllNumerator} / " +
          "CAST(s_scaled AS DOUBLE)) AS BIGINT) AS est_distinct FROM (" +
          "SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, " +
          "CAST(SUM(CASE WHEN bucket = -1 THEN cnt ELSE 0 END) AS BIGINT) AS n_null, " +
          "COUNT(CASE WHEN bucket >= 0 THEN 1 END) AS n_buckets, " +
          "CAST(SUM(CASE WHEN bucket >= 0 THEN (1::BIGINT << CAST(32 - reg AS INTEGER)) ELSE 0 END) + " +
          s"($m - COUNT(CASE WHEN bucket >= 0 THEN 1 END)) * 4294967296 AS BIGINT) AS s_scaled FROM (" +
          "SELECT bucket, COUNT(*) AS cnt, MAX(rho) AS reg FROM (" +
          s"SELECT CASE WHEN $c IS NULL THEN -1 ELSE hk % $m END AS bucket, " +
          s"CASE WHEN $c IS NULL THEN 0 WHEN hk // $m = 0 THEN 23 " +
          s"ELSE 23 - length(bin(hk // $m)) END AS rho " +
          s"FROM (SELECT $c, CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 8)) AS BIGINT) AS hk " +
          "FROM orders)) GROUP BY bucket))"
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate").map(one).mkString(" UNION ALL ") +
        " ORDER BY col_name LIMIT 100"
    }),
    // Hash-sample quantiles (round 10): fixed-size DISTRIBUTION sketch —
    // per-language doc-length quantiles from a deterministic 256-row
    // uniform sample (k smallest portable hashes of the UNIQUE doc_id)
    // instead of the exact forms' full-group buffers (percentile_disc
    // q114 is holistic; approx_percentile q52 is engine-specific, rows-
    // only). Selection and quantile extraction are row_number windows +
    // integer index arithmetic — no interpolation, no float — so the
    // DuckDB twin replays them bit-identically; the rank lookup is a
    // broadcast equi-join on (lang, rank) derived via explode, never a
    // nested loop. Mergeable by the KMV identity (SketchesSpec).
    // q150 (round 10): full hash-sample replay — identical kept set
    // (k smallest md5-derived keys, doc_id tie-break), identical
    // (value, hash, id) rank order and ceil(q·n/10⁴) index rule, all
    // integer — equal by construction.
    Entry("q150_sample_quantiles", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val keyed = d.select(col("lang"), col("doc_id"), col("n_chars"),
        element_at(PortableShingleHash.column(
          array(coalesce(col("doc_id").cast("string"), lit(""))), 1), 1).as("h"))
      val samp = graft.operators.Sketches.hashSample(keyed, Seq("lang"), "doc_id", "h")
      graft.operators.Sketches.sampleQuantiles(samp, Seq("lang"), "n_chars",
          "doc_id", "h", Seq(2500, 5000, 7500, 9000, 9900))
        .orderBy("lang", "q_bp").limit(100)
    }, Some(_ => sampleQuantilesOracle)),
    // Streaming contamination gate (round 10): the incoming half STREAMED
    // through the Bloom filter built from the static blocklist — the
    // third member of the stateless ingest family (minhash q126, edit
    // q142, now membership). The filter ships as a literal word array
    // (fixed ~256 KiB regardless of blocklist size), so the stream side
    // is pure per-row expression work: no join, no state, one output row
    // per document. Hash-checked against the q145 DuckDB replay
    // restricted to the streamed ids — streaming output = batch answer
    // on closed input (the q126/q142 contract).
    // q147 (round 10): the q145 replay with the probe side restricted
    // to the streamed ids (doc_id >= split) — bit-for-bit the same
    // filter (built from the full blocklist) and probe rule, so
    // hash-equality proves streaming output = batch answer.
    Entry("q147_stream_bloom", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(PortableShingleHash.column(col("t"), 3)).as("h"))
        .distinct()
      val filt = graft.operators.Sketches.bloomBuild(bench, "h")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId && col("doc_id") % 97 =!= 0)
      graft.streaming.StreamOps.runAppend(spark,
          graft.streaming.StreamOps.bloomGateStream(stream, filt, "doc_id", "text"),
          s"q147_mem_${math.abs(dir.hashCode)}")
        .orderBy(col("flag_bp").desc, col("doc_id")).limit(100)
    }, Some { _ =>
      val pos = graft.operators.Sketches.bloomPosSql("h")
      s"WITH toks AS (" +
        "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
        "), sh AS (" +
        "SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
        s"), pos AS (SELECT unnest($pos) AS p FROM sh WHERE doc_id % 97 = 0), " +
        "flt AS (SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits " +
        "FROM pos GROUP BY p // 32), " +
        s"pp AS (SELECT doc_id, h, unnest($pos) AS p FROM sh " +
        s"WHERE doc_id >= $IncrementalSplitId AND doc_id % 97 <> 0), " +
        "hit AS (SELECT doc_id, h, " +
        "SUM(CASE WHEN (COALESCE(f.bits, 0) & (1::BIGINT << CAST(pp.p % 32 AS INTEGER))) <> 0 THEN 1 ELSE 0 END) AS nset " +
        "FROM pp LEFT JOIN flt f ON f.word = pp.p // 32 GROUP BY doc_id, h) " +
        "SELECT doc_id, COUNT(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(SUM(CASE WHEN nset = 3 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS flag_bp " +
        "FROM hit GROUP BY doc_id ORDER BY flag_bp DESC, doc_id LIMIT 100"
    }),
    // Streaming Count-Min build (round 10): the BUILD side streamed —
    // token frequencies accumulate into the fixed ~24 KiB cell table as
    // the streaming aggregate (sum is algebraic; per-micro-batch partial
    // aggregation IS the CMS merge), where q147 streamed the probe side
    // against a static sketch. The batch tail (point estimates, top-100,
    // string join-back) runs unchanged against the streamed cells, and
    // the output hashes against the IDENTICAL q146 oracle — streaming =
    // batch on closed input, completing the sketch×streaming matrix
    // (minhash q126, edit q142, Bloom q147, HLL q149, CMS here).
    // q153 (round 10): the IDENTICAL replay — on the closed input the
    // streamed cell table equals the batch build, so hash-equality
    // proves streaming = batch for the sketch-build side.
    Entry("q153_stream_cms", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val cms = graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.cmsBuildStream(stream, "text"),
        s"q153_mem_${math.abs(dir.hashCode)}")
      // batch tail — identical to q146's (one tokenization, lineage cut)
      val tv = Checkpoints.cut(
        docs.select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c"))
          .select(element_at(
              PortableShingleHash.column(array(col("token")), 1), 1).as("h"),
            col("token"), col("c")), eager = false)
      val hc = tv.groupBy("h").agg(sum(col("c")).as("c"))
      val top = graft.operators.Sketches.countMinEstimate(hc, cms, "h")
        .orderBy(col("est").desc, col("h")).limit(100)
      tv.select("h", "token").join(broadcast(top), Seq("h"))
        .select(col("token"), col("h").as("key_h"), col("c").as("exact_c"),
          col("est").as("est_c"))
        .orderBy(col("est_c").desc, col("key_h"), col("token")).limit(100)
    }, Some(_ => cmsHeavyHittersOracle)),
    // Streaming cardinality (round 10): hourly distinct-user HLL
    // registers as THE windowed streaming aggregate — bounded state
    // (≤ |hours|·1024 ints) where q42's exact streamingDedup state grows
    // with the key universe — then the sketch-sized estimate rollup in
    // batch after completion. Hash-checked against the full DuckDB
    // register+estimator replay (the q148 contract under an hourly
    // grouping): streaming output = batch answer on closed input.
    // q149 (round 10): the q148 register+estimator replay under an
    // hourly grouping, keyed on md5(user_id-as-string) — streaming
    // output = batch answer on closed input (the q126/q142/q147
    // contract, now for a STATEFUL windowed aggregate).
    Entry("q149_stream_hll", { (spark, dir) =>
      val regs = graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.hllHourlyUsers(
          graft.streaming.StreamOps.eventsStream(spark, dir)),
        s"q149_mem_${math.abs(dir.hashCode)}")
      graft.operators.Sketches.hllEstimate(regs, Seq("h"))
        .drop("est_corrected")
        .orderBy("h").limit(100)
    }, Some { _ =>
      val m = graft.operators.Sketches.HllM
      "WITH uh AS (SELECT date_trunc('hour', ts) AS h, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hk FROM events" +
        s"), r AS (${graft.operators.Sketches.hllRegSql("(SELECT h AS g, hk AS h FROM uh)", "g")}), " +
        "s AS (SELECT g, COUNT(*) AS nb, " +
        "SUM(1::BIGINT << CAST(32 - reg AS INTEGER)) AS sp FROM r GROUP BY g) " +
        "SELECT g AS h, CAST(nb AS BIGINT) AS n_buckets, " +
        s"CAST(sp + ($m - nb) * 4294967296 AS BIGINT) AS s_scaled, " +
        s"CAST(FLOOR(${graft.operators.Sketches.HllNumerator} / " +
        s"CAST(sp + ($m - nb) * 4294967296 AS DOUBLE)) AS BIGINT) AS est_hll " +
        "FROM s ORDER BY h LIMIT 100"
    }),
    // Streaming KMV (round 10): the per-source k-minimum-values sketch
    // built AS STREAMING STATE — the last two sketch×streaming matrix
    // cells (KMV here, hash-sample in q156) need a BOUNDED k-smallest
    // state that no algebraic aggregate provides (q149's HLL max and
    // q153's CMS sum do; k-smallest is order-sensitive), so this is the
    // flatMapGroupsWithState path: ≤ k longs per source no matter how
    // many shingles flow. Per-row work is stateless (shingle hashes +
    // explode); cross-row dedup happens inside the state's TreeMap. The
    // batch tail is `kmvDistinct` — giving the KMV cardinality estimator
    // its first ORACLE entry (previously unit-only) — and hash-equality
    // against the full DuckDB sketch+estimator replay proves streaming
    // state = batch sketch on closed input (the q126/q142/q149 contract).
    // q155 (round 10): full per-source KMV sketch + kmvDistinct
    // estimator replay (the q144 sketch CTEs under the same k, the
    // Beyer et al. (k−1)·M/h_k estimate as ONE FLOOR'd double division
    // over identical integer inputs — the q85/q116 rule; exact regime
    // below k). The numerator constant interpolates from the same
    // expression kmvDistinct spells, so the two texts cannot drift.
    Entry("q155_stream_kmv", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream
        .select(col("source").as("g"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("g"), explode(array_distinct(
          PortableShingleHash.column(col("t"), 3))).as("h"))
        .withColumn("id", lit(0L)).withColumn("v", lit(0L))
      val raw = graft.streaming.StreamOps.runUpdate(spark,
        graft.streaming.StreamOps.kSmallestStream(rows, graft.operators.Sketches.DefaultKmvK),
        s"q155_mem_${math.abs(dir.hashCode)}")
      val sk = graft.streaming.StreamOps.kSmallestFinal(raw)
        .groupBy(col("g").as("source"))
        .agg(sort_array(collect_list(col("h"))).as("sketch"))
      graft.operators.Sketches.kmvDistinct(sk, "source", graft.operators.Sketches.DefaultKmvK)
        .orderBy("source").limit(100)
    }, Some { _ =>
      val k = graft.operators.Sketches.DefaultKmvK
      "WITH toks AS (" +
        "SELECT source, t FROM (SELECT source, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
        "), sh AS (" +
        "SELECT DISTINCT source, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
        "FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
        "), rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh), " +
        s"sk AS (SELECT source, list_sort(list(h)) AS s FROM rk WHERE rn <= $k GROUP BY source) " +
        "SELECT source, CAST(len(s) AS BIGINT) AS n_sketch, " +
        s"CASE WHEN len(s) < $k THEN CAST(len(s) AS BIGINT) " +
        s"ELSE CAST(FLOOR(${(k - 1).toDouble * 4294967296.0} / " +
        s"CAST(GREATEST(s[$k], 1) AS DOUBLE)) AS BIGINT) END AS est_distinct " +
        "FROM sk ORDER BY source LIMIT 100"
    }),
    // Streaming hash-sample (round 10): the per-language distribution
    // sketch built as the same bounded k-smallest state (id = doc_id
    // breaking 32-bit hash ties, v = the profiled value riding the
    // state), then the UNCHANGED `sampleQuantiles` batch tail over the
    // final ≤ 256-row-per-group sample. Hash-checks against the
    // IDENTICAL q150 replay — streamed k-smallest state picks exactly
    // the batch `hashSample` kept set on closed input, the KMV identity
    // under arbitrary micro-batch splits.
    // q156 (round 10): the IDENTICAL q150 replay — the streamed
    // k-smallest state equals the batch hashSample kept set on closed
    // input, so hash-equality proves streaming = batch for the
    // distribution sketch.
    Entry("q156_stream_sample", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream.select(col("lang").as("g"),
        element_at(PortableShingleHash.column(
          array(coalesce(col("doc_id").cast("string"), lit(""))), 1), 1).as("h"),
        col("doc_id").as("id"), col("n_chars").cast("long").as("v"))
      val raw = graft.streaming.StreamOps.runUpdate(spark,
        graft.streaming.StreamOps.kSmallestStream(rows, graft.operators.Sketches.DefaultSampleK),
        s"q156_mem_${math.abs(dir.hashCode)}")
      val samp = graft.streaming.StreamOps.kSmallestFinal(raw)
        .select(col("g").as("lang"), col("id").as("doc_id"),
          col("v").as("n_chars"), col("h"))
      graft.operators.Sketches.sampleQuantiles(samp, Seq("lang"), "n_chars",
          "doc_id", "h", Seq(2500, 5000, 7500, 9000, 9900))
        .orderBy("lang", "q_bp").limit(100)
    }, Some(_ => sampleQuantilesOracle)),
    // Portable approx-distinct (round 15): q52's APPROX_COUNT_DISTINCT
    // re-expressed over the portable HLL registers (the q148 machinery)
    // so the estimator itself replays bit-identically in DuckDB —
    // string-wise leading-zero ranks, exact-BIGINT harmonic sum, one
    // FLOOR'd double division (the q85/q116 rule). Register exchange is
    // ≤ |custkeys|·1024 (source-bounded, never order-stream-bounded) —
    // the same fixed-size-sketch scale contract as q148; Spark's HLL++
    // q52 stays the production rows-only form (values engine-specific).
    // round 15: portable approx-distinct — the q148 register chain
    // grouped by customer; estimator arithmetic replayed exactly
    // (string-wise ranks, BIGINT harmonic sum, one FLOOR'd division)
    Entry("q221_approx_distinct_portable", { (spark, dir) =>
      val o = Tables.table(spark, dir, "orders")
      val keyed = o.select(col("o_custkey"),
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      val regs = graft.operators.Sketches.hllBuild(keyed, Seq("o_custkey"), "h")
      graft.operators.Sketches.hllEstimate(regs, Seq("o_custkey"))
        .drop("est_corrected")
        .orderBy(col("est_hll").desc, col("o_custkey")).limit(100)
    }, Some(_ =>
      ("WITH sh AS (SELECT o_custkey, CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM orders), " +
        s"r AS (${graft.operators.Sketches.hllRegSql("sh", "o_custkey")}), " +
        "s AS (SELECT o_custkey, COUNT(*) AS nb, " +
        "SUM(1::BIGINT << CAST(32 - reg AS INTEGER)) AS sp FROM r GROUP BY o_custkey) " +
        "SELECT o_custkey, CAST(nb AS BIGINT) AS n_buckets, " +
        s"CAST(sp + (${graft.operators.Sketches.HllM} - nb) * 4294967296 AS BIGINT) AS s_scaled, " +
        s"CAST(FLOOR(${graft.operators.Sketches.HllNumerator} / " +
        s"CAST(sp + (${graft.operators.Sketches.HllM} - nb) * 4294967296 AS DOUBLE)) AS BIGINT) AS est_hll " +
        "FROM s ORDER BY est_hll DESC, o_custkey LIMIT 100"))),
  )
}
