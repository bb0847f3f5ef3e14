package graft
package entries

import graft.SparkEntry._
import graft.functions.PortableShingleHash
import graft.operators.{Bpe, Checkpoints, TextAnalysis, TextDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text entries: token statistics, language id, normalization and
  * redaction, collocations, novelty, the bigram LM and perplexity gate,
  * shared-span removal, BPE fertility and the corpus diagnostics. */
private[graft] object TextEntries {

  private def spanRemovalOracle(docFilter: String): String =
    s"WITH $spanOccCtes, " +
      s"${spanRemovalCtes("")} " +
      "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(COALESCE(rm.nr, 0) AS BIGINT) AS n_removed, " +
      "CAST((len(string_split(d.text, ' ')) - COALESCE(rm.nr, 0)) * 10000 " +
      "// len(string_split(d.text, ' ')) AS BIGINT) AS kept_bp " +
      "FROM documents d LEFT JOIN rm ON rm.doc_id = d.doc_id " +
      docFilter +
      " ORDER BY d.doc_id LIMIT 100"

  /** Shared gate tail of q170-q172: bits-per-bigram ×10⁴, threshold,
    * total order. */
  private def pplGateTail(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored.withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .filter(col("ppl_bp") <= PplGateBp)
      .select(col("doc_id"), col("n_bigrams"), col("bits_total"), col("ppl_bp"))
      .orderBy(col("ppl_bp").desc, col("doc_id")).limit(100)

  /** Shared by q157 (batch bigram-LM) and q162 (streaming model build):
    * on the closed input the streamed (k, k1) count table equals the
    * batch model, so both entries hash against the identical DuckDB
    * replay — the streaming = batch contract (q146/q153). The oracle
    * spells the Spark side's fused 32-bit keys via the documented
    * '0x'||substr(md5(…),1,8) equivalence (bigram key over w1||' '||w2,
    * prefix key over w1 — the PortableShingleHash width-2/width-1
    * forms), so count merges under collision are SHARED; all scoring
    * arithmetic is truncating integer division on non-negative
    * operands, where Spark DIV and DuckDB // agree. Inner CAST: SUM
    * over BIGINT is HUGEINT in DuckDB, and // must run on BIGINT. */
  private lazy val bigramLmOracle: String =
    "WITH toks AS (" +
      "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2" +
      "), st AS (" +
      "SELECT doc_id, " +
      "CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8)) AS BIGINT) AS k, " +
      "CAST(('0x' || substr(md5(t[i]), 1, 8)) AS BIGINT) AS k1 " +
      "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)" +
      "), c2 AS (SELECT k, COUNT(*) AS c2 FROM st GROUP BY k), " +
      "c1 AS (SELECT k1, COUNT(*) AS c1 FROM st GROUP BY k1) " +
      "SELECT st.doc_id, COUNT(*) AS n_bigrams, " +
      "CAST(CAST(SUM((c2.c2 * 10000) // c1.c1) AS BIGINT) // COUNT(*) AS BIGINT) AS lm_bp " +
      "FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 " +
      "GROUP BY st.doc_id ORDER BY lm_bp DESC, doc_id LIMIT 100"

  def entries: Seq[Entry] = Seq(
    // Term frequencies via explode (Q37(E), dual text)
    Entry("q37_token_stats", { (spark, dir) =>
      TextAnalysis.termFrequencies(Tables.table(spark, dir, "documents"), "text")
        .orderBy(col("n").desc, col("token")).limit(100)
    }, Some(_ =>
      ("SELECT token, COUNT(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS token " +
        "FROM documents) t GROUP BY token ORDER BY n DESC, token LIMIT 100"))),
    // Language-ID heuristic — oracle (CASE-ladder argmax, deterministic)
    // promoted round 2: the langId CASE-ladder argmax is deterministic
    // integer arithmetic — expressible in DuckDB (same stopword lists,
    // same lexicographic-first tie-break, 'und' when nothing matches)
    Entry("q46_langid", { (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"), col("lang"))
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH sc AS (SELECT doc_id, lang, " +
        "len(list_intersect(list_distinct(string_split(text, ' ')), ['der','die','das','und','ist','nicht','ein','mit','auf','für'])) AS s_de, " +
        "len(list_intersect(list_distinct(string_split(text, ' ')), ['the','a','of','and','to','in','is','that','it','for'])) AS s_en, " +
        "len(list_intersect(list_distinct(string_split(text, ' ')), ['el','la','de','que','y','en','un','es','no','por'])) AS s_es, " +
        "len(list_intersect(list_distinct(string_split(text, ' ')), ['le','la','de','et','un','est','pas','que','pour','dans'])) AS s_fr, " +
        "len(list_intersect(list_distinct(string_split(text, ' ')), ['的','是','不','了','在','人','有','我','他','这'])) AS s_zh " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und' " +
        "WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de' " +
        "WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en' " +
        "WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es' " +
        "WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr' " +
        "ELSE 'zh' END AS lang_guess, lang " +
        "FROM sc ORDER BY doc_id LIMIT 100"))),
    // Quality metrics — all-integer, oracle-able (dual text)
    // list_sum returns HUGEINT → DuckDB's pandas path floats it; CAST
    // every derived metric to BIGINT so both engines render identically.
    Entry("q47_quality", { (spark, dir) =>
      TextAnalysis.qualityMetrics(Tables.table(spark, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("diversity_pct"), col("mean_token_len_tenths"))
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
        "len(list_distinct(string_split(text, ' '))) AS n_distinct, " +
        "CAST((100 * len(list_distinct(string_split(text, ' ')))) // len(string_split(text, ' ')) AS BIGINT) AS diversity_pct, " +
        "CAST((10 * list_sum(list_transform(string_split(text, ' '), w -> len(w)))) // len(string_split(text, ' ')) AS BIGINT) AS mean_token_len_tenths " +
        "FROM documents ORDER BY doc_id LIMIT 100"))),
    // Token counting (dual text)
    Entry("q48_token_count", { (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("n_tokens").desc, col("doc_id")).limit(100)
    }, Some(_ =>
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents " +
        "ORDER BY n_tokens DESC, doc_id LIMIT 100"))),
    // Document fingerprint (min-k sketch; xxhash64 is engine-specific) — rows-only
    // ORACLE since round 5: the declared form is the md5-based portable
    // min-k sketch (BIGINT sum of the k smallest shingle hashes — the q69
    // dual-spelling trick), hash-checked against DuckDB computing the
    // identical integers; xxhash64 `fingerprint` stays the production
    // scorer (fused ShingleHash pass), spec'd for determinism.
    // promoted round 5: md5 min-k sketch — shingle→first-8-hex-digits
    // integer, sort, sum the k smallest (see q69 for the md5 ↔ conv
    // dual spelling). DuckDB's range(0, n) + 1-based inclusive slice
    // mirror Spark's sequence + slice exactly.
    Entry("q49_fingerprint", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.fingerprintPortable(col("text")).as("fp"))
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, " +
        "list_sort(list_distinct(list_transform(range(0, greatest(len(toks) - 3, 0) + 1), " +
        "i -> CAST(('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 8)) AS BIGINT)))) AS hs " +
        "FROM t) " +
        "SELECT doc_id, CAST(list_sum(hs[1:8]) AS BIGINT) AS fp " +
        "FROM sh ORDER BY doc_id LIMIT 100"))),
    // Text normalization (lower/strip/collapse) over the punctuation-rich
    // props JSON — shared regex subset, dual text only for DuckDB's 'g' flag
    // dual texts: DuckDB regexp_replace is first-match without 'g'
    Entry("q66_normalize", { (spark, dir) =>
      Tables.table(spark, dir, "events")
        .select(col("event_id"), TextAnalysis.normalize(col("props")).as("norm"))
        .orderBy("event_id").limit(100)
    }, Some(_ =>
      ("SELECT event_id, trim(regexp_replace(regexp_replace(lower(props), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm " +
        "FROM events ORDER BY event_id LIMIT 100"))),
    // PII redaction: synthetic email woven in from user_id so the redactor
    // has real work on every row
    Entry("q67_redact", { (spark, dir) =>
      Tables.table(spark, dir, "events")
        .select(col("event_id"),
          TextAnalysis.redactPii(
            concat(lit("user"), col("user_id").cast("string"), lit("@example.com "), col("props")))
            .as("red"))
        .orderBy("event_id").limit(100)
    }, Some(_ =>
      ("SELECT event_id, regexp_replace(regexp_replace(" +
        "concat('user', CAST(user_id AS VARCHAR), '@example.com ', props), " +
        "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+', '<EMAIL>', 'g'), " +
        "'[0-9]{7,}', '<NUM>', 'g') AS red " +
        "FROM events ORDER BY event_id LIMIT 100"))),
    // Collocation mining (moved from the SQL corpus in round 10 — the r9
    // verdict's worst plan: GROUP BY raw bigram strings plus a unigram
    // CTE recomputed 3× by Catalyst CTE inlining; 5.0 s vs DuckDB 0.10 s
    // at sf0.1). The plan now follows the repo's exchange discipline:
    //   - tokenize ONCE (lineage cut; the unigram and bigram passes both
    //     read the materialized frame);
    //   - the bigram aggregate groups on (xxhash64(w1), xxhash64(w2)) —
    //     16 bytes/row through the exchange, never token strings; the
    //     strings ride back via two BROADCAST joins against the
    //     vocabulary-sized unigram aggregate (64-bit collision over a
    //     1e6-token vocab < 1e-7, and a collision would only merge two
    //     unigram rows — the declared-semantics trade every portable-hash
    //     entry already makes at 32 bits);
    //   - N (total tokens) collects as ONE scalar (the Scale.scala
    //     centroid precedent) and inlines as a literal — no scalar
    //     subquery re-running the token scan;
    //   - lift is DOUBLE hashed via the q85/q116 FLOOR rule (identical
    //     IEEE expression tree both engines → bit-identical), replacing
    //     the BIGINT c2·N·100 chain that was documented overflow-unsafe
    //     past ~1e6 tokens — the r9 verdict's one shipped 100 TB
    //     scale-killer. Doubles never overflow; every operand is an
    //     exact integer < 2^53.
    // q129 (round 10): the oracle keeps the STRING-keyed spelling — the
    // Spark side's 64-bit unigram hashes are injective on the corpus
    // vocabulary, so the groupings coincide; the lift is the q85/q116
    // FLOOR-double rule with the identical left-associated IEEE
    // expression tree both engines evaluate bit-for-bit (every operand
    // an exact integer < 2^53) — overflow-safe at any corpus size,
    // unlike the retired BIGINT c2·N·100 chain.
    Entry("q129_collocations", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val toks = Checkpoints.cut(
        d.select(split(col("text"), " ").as("t")).filter(size(col("t")) >= 2),
        eager = false)
      val uni = Checkpoints.cut(
        toks.select(explode(col("t")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c1"))
          .withColumn("h", xxhash64(col("tok"))),
        eager = false)
      val totalTokens = uni.agg(sum(col("c1"))).head.getLong(0)
      val big = toks
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> named_struct(" +
            "'h1', xxhash64(element_at(t, i)), 'h2', xxhash64(element_at(t, i + 1))))")).as("bg"))
        .select(col("bg.h1").as("h1"), col("bg.h2").as("h2"))
        .groupBy("h1", "h2").agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= 3)
      big
        .join(broadcast(uni.select(col("h").as("h1"), col("tok").as("w1"), col("c1").as("c1a"))), Seq("h1"))
        .join(broadcast(uni.select(col("h").as("h2"), col("tok").as("w2"), col("c1").as("c1b"))), Seq("h2"))
        .select(col("w1"), col("w2"), col("c2"),
          expr(s"CAST(FLOOR(CAST(c2 AS DOUBLE) * 100 * CAST($totalTokens AS DOUBLE) / " +
            "(CAST(c1a AS DOUBLE) * CAST(c1b AS DOUBLE))) AS BIGINT)").as("lift_c"))
        .orderBy(col("lift_c").desc, col("w1"), col("w2")).limit(100)
    }, Some(_ =>
      ("WITH toks AS (" +
        "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2" +
        "), uni AS (" +
        "SELECT tok, COUNT(*) AS c1 FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok" +
        "), bi AS (" +
        "SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2 " +
        "FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1), " +
        "i -> t[i] || ' ' || t[i + 1])) AS bg FROM toks)" +
        "), big AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2) " +
        "SELECT w1, w2, c2, " +
        "CAST(FLOOR(CAST(c2 AS DOUBLE) * 100 * (SELECT CAST(SUM(c1) AS DOUBLE) FROM uni) / " +
        "(CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE))) AS BIGINT) AS lift_c " +
        "FROM big JOIN uni ua ON big.w1 = ua.tok JOIN uni ub ON big.w2 = ub.tok " +
        "WHERE c2 >= 3 ORDER BY lift_c DESC, w1, w2 LIMIT 100"))),
    // Pairwise source-overlap (moved from the SQL corpus in round 10 —
    // r9 "weak": 32-hex md5 keys on the DISTINCT + self-join exchanges,
    // shingle CTE recomputed 3×). Keys are now the fused 8-byte
    // PortableShingleHash longs (4× smaller than hex, no per-shingle
    // string/hex/parse round-trip), the distinct shingle stream is
    // lineage-cut once, and the per-source size aggregate broadcasts.
    // The DuckDB twin spells the identical 32-bit key via the documented
    // '0x'||substr(md5(…),1,8) equivalence, so hash collisions (expected
    // at 32 bits over a large shingle universe) are SHARED — the outputs
    // are equal by construction, not by injectivity. Intersections come
    // from in-bucket pair generation over (long, source) rows, bounded
    // per hash by the source universe, not corpus size. The KMV-sketch
    // twin for unbounded source counts is q144.
    // q132 (round 10): the oracle spells the Spark side's fused 8-byte
    // shingle key via the documented '0x'||substr(md5(…),1,8)
    // equivalence — 32-bit collisions are SHARED, so the two engines
    // agree by construction, not by injectivity.
    Entry("q132_source_overlap", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val sh = Checkpoints.cut(
        d.select(col("source"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
          .select(col("source"), explode(PortableShingleHash.column(col("t"), 3)).as("h"))
          .distinct(), eager = false)
      val sz = sh.groupBy("source").agg(count(lit(1)).as("n"))
      // in-bucket pair generation, not a self-join (round 10 follow-up):
      // ONE exchange of (h, source) collecting each hash's source set,
      // pairs by double explode — the repo's standard pair shape; the
      // self-join re-shuffled the distinct stream on BOTH sides. Fan-out
      // per hash is bounded by the SOURCE universe (≤ |sources|² pairs),
      // so no bucket cap is needed.
      val ix = sh.groupBy("h").agg(collect_set(col("source")).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(col("ss")).as("src_a"), col("ss"))
        .select(col("src_a"), explode(col("ss")).as("src_b"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      ix.join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_inter"), col("n_a"), col("n_b"),
          expr("n_inter * 10000 DIV (n_a + n_b - n_inter)").as("jaccard_bp"))
        .orderBy(col("jaccard_bp").desc, col("src_a"), col("src_b")).limit(100)
    }, Some(_ =>
      ("WITH toks AS (" +
        "SELECT source, t FROM (SELECT source, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3" +
        "), sh AS (" +
        "SELECT DISTINCT source, CAST(('0x' || substr(md5(array_to_string(t[g:g+2], ' ')), 1, 8)) AS BIGINT) AS h " +
        "FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS g FROM toks)" +
        "), sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source), " +
        "ix AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter " +
        "FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source GROUP BY a.source, b.source) " +
        "SELECT ix.src_a, ix.src_b, ix.n_inter, na.n AS n_a, nb.n AS n_b, " +
        "CAST(ix.n_inter * 10000 // (na.n + nb.n - ix.n_inter) AS BIGINT) AS jaccard_bp " +
        "FROM ix JOIN sz na ON na.source = ix.src_a JOIN sz nb ON nb.source = ix.src_b " +
        "ORDER BY jaccard_bp DESC, src_a, src_b LIMIT 100"))),
    // Novelty scoring (moved from the SQL corpus in round 10 — r9
    // "weak": same md5-hex key class as q132). First-seen bigrams now
    // key on the fused PortableShingleHash long computed straight from
    // the token array (no concat/md5-hex per bigram); first-seen is a
    // window MIN over the distinct (doc_id, key) stream — every
    // exchange carries (long, doc_id) rows and the plan reads the
    // stream once. The DuckDB twin spells the identical 32-bit key, so
    // collisions are shared and outputs equal by construction.
    // q138 (round 10): same shared-32-bit-key posture as q132.
    Entry("q138_novelty", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val bi = d.select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(PortableShingleHash.column(col("t"), 2)).as("k"))
        .distinct()
      // first-seen via a window MIN over the same k-partitioning the
      // distinct already established — ONE exchange, no aggregate + join
      // back (round 10 follow-up; the lineage cut became unnecessary once
      // the plan reads bi exactly once)
      bi.withColumn("first_doc", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
          expr("n_novel * 10000 DIV n_bigrams").as("novel_bp"))
        .orderBy(col("novel_bp").desc, col("doc_id")).limit(100)
    }, Some(_ =>
      ("WITH toks AS (" +
        "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2" +
        "), bi AS (" +
        "SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(bg), 1, 8)) AS BIGINT) AS k " +
        "FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1), " +
        "i -> t[i] || ' ' || t[i + 1])) AS bg FROM toks)" +
        "), fs AS (SELECT k, MIN(doc_id) AS first_doc FROM bi GROUP BY k) " +
        "SELECT bi.doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(SUM(CASE WHEN fs.first_doc = bi.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(SUM(CASE WHEN fs.first_doc = bi.doc_id THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS novel_bp " +
        "FROM bi JOIN fs ON bi.k = fs.k " +
        "GROUP BY bi.doc_id ORDER BY novel_bp DESC, doc_id LIMIT 100"))),
    // Bigram-LM quality scoring (round 10): the CCNet/KenLM-style
    // perplexity filter in exact-integer form — a document whose bigrams
    // carry high conditional probability under the corpus's OWN bigram
    // model reads as fluent prose; gibberish, shuffled text and
    // over-templated boilerplate score at the extremes. Differs from
    // q128 (unigram document frequency) by conditioning on the PRECEDING
    // token: score = mean over positions of P(w2|w1) =
    // c(w1 w2) / c(w1 as prefix), in basis points — integer counts and
    // truncating divisions only, no log/float in the hashed path.
    // Discipline: both keys are fused PortableShingleHash longs computed
    // scan-locally from ONE tokenization (the bigram key from the
    // width-2 array, the prefix key indexed out of the width-1 array),
    // so the (doc_id, k, k1) stream carries three longs and token
    // strings never cross an exchange; the stream is lineage-cut once
    // (three downstream references: two count aggregates + the scoring
    // join); the c2/c1 aggregates are vocabulary-sized. c2·10⁴ stays
    // far inside BIGINT at any corpus size (10¹³ bigram occurrences →
    // 10¹⁷ < 2⁶³). The DuckDB twin spells the identical 32-bit keys, so
    // hash collisions merge counts IDENTICALLY in both engines — equal
    // by construction, not by injectivity (the q132/q138 posture).
    // q157/q162 (round 10): the shared full-model replay — see
    // `bigramLmOracle`. q162 streams the model build; on the closed
    // input the streamed counts equal the batch model, so it hashes
    // against the identical text.
    Entry("q157_bigram_lm", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val st = Checkpoints.cut(TextAnalysis.lmKeyStream(d), eager = false)
      val c2 = st.groupBy("k").agg(count(lit(1)).as("c2"))
      val c1 = st.groupBy("k1").agg(count(lit(1)).as("c1"))
      st.join(c2, Seq("k")).join(c1, Seq("k1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("(c2 * 10000) DIV c1")).as("sp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sp DIV n_bigrams").as("lm_bp"))
        .orderBy(col("lm_bp").desc, col("doc_id")).limit(100)
    }, Some(_ => bigramLmOracle)),
    // Incremental bigram-LM (round 10): the incremental-family form for
    // MODEL-BASED scoring — the corpus's (k, c2)/(k1, c1) count tables
    // persist, a new batch builds its own counts from its own text
    // alone, and the model updates by KEY-WISE SUM (bigram counts over
    // disjoint doc sets are additive — mergeability doing the
    // incremental work, the q154 register-merge pattern applied to a
    // model rather than a sketch). The batch's documents then score
    // against the MERGED model; on the closed input that model equals
    // the full q157 model, so the oracle is the q157 replay restricted
    // to batch doc ids — the identity hash-proven cross-engine, and
    // TierESpec pins the Spark-side equality against full-model
    // scoring. The corpus raw text is never re-read or re-shuffled:
    // only its vocabulary-sized count tables meet the batch's.
    // q161 (round 10): the q157 replay restricted to batch doc ids —
    // the model CTEs still aggregate over ALL documents, which equals
    // the Spark side's corpus+batch key-wise count merge on the closed
    // input (disjoint doc sets ⇒ additive counts). Hash equality IS
    // the incremental-correctness proof.
    Entry("q161_incremental_lm", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      // in deployment the corpus model is read back from a sink; built
      // here from the corpus split (cut: two count aggregates read it)
      val corpus = Checkpoints.cut(
        TextAnalysis.lmKeyStream(d.filter(col("doc_id") < IncrementalSplitId)), eager = false)
      val batch = Checkpoints.cut(
        TextAnalysis.lmKeyStream(d.filter(col("doc_id") >= IncrementalSplitId)), eager = false)
      val c2 = corpus.groupBy("k").agg(count(lit(1)).as("c2"))
        .unionByName(batch.groupBy("k").agg(count(lit(1)).as("c2")))
        .groupBy("k").agg(sum("c2").as("c2"))
      val c1 = corpus.groupBy("k1").agg(count(lit(1)).as("c1"))
        .unionByName(batch.groupBy("k1").agg(count(lit(1)).as("c1")))
        .groupBy("k1").agg(sum("c1").as("c1"))
      batch.join(c2, Seq("k")).join(c1, Seq("k1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("(c2 * 10000) DIV c1")).as("sp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sp DIV n_bigrams").as("lm_bp"))
        .orderBy(col("lm_bp").desc, col("doc_id")).limit(100)
    }, Some(_ =>
      bigramLmOracle.replace("FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 GROUP BY",
        "FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 " +
          s"WHERE st.doc_id >= $IncrementalSplitId GROUP BY"))),
    // Streaming bigram-LM build (round 10): the MODEL build side
    // streamed WITHOUT a state store — bigram counts are ADDITIVE, so
    // each micro-batch appends its own partial (k, k1, m) table via
    // foreachBatch (the standard streaming-ETL model-update sink) and
    // the merge is one sum over the partials: q161's key-wise merge
    // running per micro-batch, completing batch(q157)/incremental(q161)
    // /streaming(here) for the LM operator, the same matrix the
    // sketches closed. No vocabulary-sized state snapshots, no
    // complete-mode driver re-materialization (the stateful-aggregate
    // form measured 14.5 s at sf0.1; this shape ~2 s). The batch tail
    // derives both marginals from the merged table (k1 is the bigram's
    // prefix hash) and runs q157's scoring join/rollup unchanged; on
    // the closed input the merged model equals the batch model, so the
    // entry hashes against the IDENTICAL q157 oracle — streaming =
    // batch, the q126/q149/q153 contract.
    Entry("q162_stream_lm", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q162")
      // the merged model is vocabulary-sized — cut its lineage eagerly so
      // the parquet partials + streaming checkpoint can be deleted HERE
      // instead of accumulating one temp tree per invocation under /tmp
      // (round-11 advice: Bench's 3 reps × repeated Verify runs grew it
      // unboundedly)
      val model = graft.operators.Checkpoints.cut(
        graft.streaming.StreamOps.lmModelStream(
          spark, stream, "text", s"$tmpPath/partials"),
        eager = true)
      rmTree(tmpPath.toFile)
      val c2 = model.groupBy("k").agg(sum("m").as("c2"))
      val c1 = model.groupBy("k1").agg(sum("m").as("c1"))
      val st = TextAnalysis.lmKeyStream(docs)
      st.join(c2, Seq("k")).join(c1, Seq("k1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("(c2 * 10000) DIV c1")).as("sp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sp DIV n_bigrams").as("lm_bp"))
        .orderBy(col("lm_bp").desc, col("doc_id")).limit(100)
    }, Some(_ => bigramLmOracle)),
    // Per-document perplexity gate (round 11, the natural composition of
    // the LM family): score every document's bits-per-bigram under the
    // q157 bigram model and keep the predictable ones — the model-based
    // quality filter a curation pipeline runs after building its LM.
    // Surprisal is INTEGER bits (length(bin(c1 DIV c2)) = floor(log₂)+1,
    // the q148 leading-bit spelling): a libm log here would be the exact
    // cross-engine ulp hazard CLAUDE.md bans from hashed cells, and
    // integer bits-per-bigram ×10⁴ IS log₂(perplexity) at the gate's
    // natural resolution. Same scale shape as q157: one (k, k1) key
    // stream cut once, two vocabulary-sized marginals, hash joins.
    // q170-q172 (round 11): the perplexity-gate family — see
    // `pplOracle`. q171/q172 score only the incoming batch against the
    // full model (merged/streamed model = full model on closed input),
    // so their replay is the q170 text with the scoring stage
    // restricted to batch doc ids.
    Entry("q170_ppl_gate", { (spark, dir) =>
      pplGateTail(pplScoresAll(spark, dir))
    }, Some(_ => pplOracle(""))),
    // Incremental perplexity gate (round 11): the corpus model's count
    // tables persist, the incoming batch's counts merge key-wise (the
    // q161 additivity identity), and only the BATCH documents score
    // against the merged model — on the closed input that model equals
    // the full q170 model, so the oracle is the q170 replay restricted
    // to batch doc ids. Corpus text is never re-read or re-scored.
    Entry("q171_ppl_incremental", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val corpus = Checkpoints.cut(
        TextAnalysis.lmKeyStream(d.filter(col("doc_id") < IncrementalSplitId)), eager = false)
      val batch = Checkpoints.cut(
        TextAnalysis.lmKeyStream(d.filter(col("doc_id") >= IncrementalSplitId)), eager = false)
      val c2 = corpus.groupBy("k").agg(count(lit(1)).as("c2"))
        .unionByName(batch.groupBy("k").agg(count(lit(1)).as("c2")))
        .groupBy("k").agg(sum("c2").as("c2"))
      val c1 = corpus.groupBy("k1").agg(count(lit(1)).as("c1"))
        .unionByName(batch.groupBy("k1").agg(count(lit(1)).as("c1")))
        .groupBy("k1").agg(sum("c1").as("c1"))
      pplGateTail(pplAgg(batch.join(c2, Seq("k")).join(c1, Seq("k1"))))
    }, Some(_ => pplOracle(s"WHERE st.doc_id >= $IncrementalSplitId"))),
    // Streaming perplexity gate (round 11): incoming documents STREAMED
    // and scored per micro-batch against the static full-corpus model —
    // the q162 no-state-store shape (foreachBatch batch-scoring, zero
    // streaming state at any scale: a document never splits across
    // micro-batches, so per-batch scoring is complete). The model
    // marginals are lineage-cut once so micro-batches don't re-aggregate
    // them. On the closed input the output equals the batch answer
    // restricted to incoming docs — hashes against the IDENTICAL q171
    // replay (streaming = batch, the q126/q162 contract).
    Entry("q172_ppl_stream", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val st = Checkpoints.cut(TextAnalysis.lmKeyStream(docs), eager = false)
      val c2 = Checkpoints.cut(
        st.groupBy("k").agg(count(lit(1)).as("c2")), eager = false)
      val c1 = Checkpoints.cut(
        st.groupBy("k1").agg(count(lit(1)).as("c1")), eager = false)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q172")
      val scored = graft.operators.Checkpoints.cut(
        graft.streaming.StreamOps.runBatchesToParquet(spark, stream, s"$tmpPath/scores") { b =>
          pplAgg(TextAnalysis.lmKeyStream(b).join(c2, Seq("k")).join(c1, Seq("k1")))
        }.select("doc_id", "n_bigrams", "bits_total"),
        eager = true)
      rmTree(tmpPath.toFile)
      pplGateTail(scored)
    }, Some(_ => pplOracle(s"WHERE st.doc_id >= $IncrementalSplitId"))),
    // Exact-substring span sharing (round 11, Lee et al. 2021
    // arXiv:2107.06499): the span-level complement to the document-level
    // dedup family — WHERE the repeated k-token spans are, not just
    // which documents overlap. Pure aggregation (no pair generation, no
    // caps): one keys-only exchange of (hash, packed doc·pos) longs,
    // linear at any span popularity.
    // q173/q174 (round 11): exact-substring span dedup — the k-gram
    // occurrence stream replayed with the composed md5 spelling (the
    // q98 window construction at k = TextDedup.SpanK), canonical
    // occurrence as MIN over the packed doc·10⁶+pos BIGINT (a
    // struct-min is not a shared spelling; the pack is), coverage via
    // generate_series. len(t) >= k mirrors spanOccurrences' sub-k
    // exclusion.
    Entry("q173_shared_spans", { (spark, dir) =>
      TextDedup.sharedSpanStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("n_occ").desc, col("h")).limit(100)
    }, Some(_ =>
      (s"WITH $spanOccCtes, " +
        s"sp AS (SELECT h, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs, " +
        s"MIN(doc_id * $SpanPosPackSql + pos) AS canon FROM occ GROUP BY h) " +
        "SELECT h, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs, " +
        s"CAST(canon // $SpanPosPackSql AS BIGINT) AS canon_doc, " +
        s"CAST(canon % $SpanPosPackSql AS BIGINT) AS canon_pos " +
        "FROM sp WHERE n_occ >= 2 ORDER BY n_occ DESC, h LIMIT 100"))),
    // Span-removal accounting (round 11): every occurrence of a shared
    // k-token span except its canonical first is marked for removal; a
    // token position is removed if any non-canonical occurrence covers
    // it — per-doc tokens/removed/kept_bp, the curation log of the Lee
    // et al. dedup rewrite.
    Entry("q174_span_removal", { (spark, dir) =>
      TextDedup.spanRemovalStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id").limit(100)
    }, Some(_ => spanRemovalOracle(""))),
    // Incremental span removal (round 11): the daily-crawl form — the
    // corpus contributes only its PERSISTED span index (mergeable by
    // key-wise (sum, min), the sketch/LM discipline), the batch's own
    // occurrences merge in, and only incoming docs score. Oracle = the
    // q174 replay restricted to incoming doc ids (merged index ≡ full
    // index on closed input).
    // q175/q176 (round 11): the same replay restricted to incoming doc
    // ids — the merged (q175) / precomputed-static (q176) span index
    // equals the full-corpus index on the closed input, so incremental
    // and streaming both hash against the restricted batch answer.
    Entry("q175_incremental_spans", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      TextDedup.spanRemovalStatsCross(
          d.filter(col("doc_id") < IncrementalSplitId),
          d.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("doc_id").limit(100)
    }, Some(_ => spanRemovalOracle(s"WHERE d.doc_id >= $IncrementalSplitId"))),
    // Streaming span removal (round 11): incoming documents STREAMED and
    // scored per micro-batch against the static full-corpus shared-span
    // table — the q172 no-state shape (foreachBatch batch-scoring; a doc
    // never splits across micro-batches). Hashes against the identical
    // q175 replay: streaming = batch on closed input.
    Entry("q176_stream_spans", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val spans = Checkpoints.cut(
        TextDedup.spanIndex(docs, "doc_id", "text").filter(col("__n") >= 2),
        eager = false)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q176")
      val scored = Checkpoints.cut(
        graft.streaming.StreamOps.runBatchesToParquet(spark, stream, s"$tmpPath/scores") { b =>
          TextDedup.spanRemovalStatsAgainstIndex(b, spans, "doc_id", "text")
        }.select("doc_id", "n_tokens", "n_removed", "kept_bp"),
        eager = true)
      rmTree(tmpPath.toFile)
      scored.orderBy("doc_id").limit(100)
    }, Some(_ => spanRemovalOracle(s"WHERE d.doc_id >= $IncrementalSplitId"))),
    // Round-11 curation capstone: span-level dedup → model-based quality
    // gate → per-language budget report, composed from the round's new
    // operators exactly as a curation run ships them (the q140
    // discipline: every stage is the linear shape its standalone entry
    // proved — q174's removal accounting, q170's integer-bits perplexity
    // — and the composition is what THIS row hash-proves). Documents
    // losing ≥ half their tokens to shared spans are dropped, survivors
    // must pass the LM gate, and the report totals what a mixture
    // builder budgets on: kept docs, kept tokens, removed tokens, total
    // surprisal per language.
    // q177 (round 11 capstone): the composed curation path — span
    // removal accounting (q174's CTEs, renamed tk8/…) feeding the
    // retention gate, the LM surprisal stage (q170's CTEs, renamed
    // tk2/…) feeding the perplexity gate, one per-language budget
    // aggregate. Stage equivalences are individually hash-proven by
    // q174/q170; this row proves the COMPOSITION (the q140
    // discipline).
    Entry("q177_curation_capstone", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val span = TextDedup.spanRemovalStats(docs, "doc_id", "text")
        .filter(col("kept_bp") >= SpanKeepBp)
      val ppl = pplScoresAll(spark, dir)
        .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
        .filter(col("ppl_bp") <= PplGateBp)
      span.join(ppl.select("doc_id", "bits_total"), Seq("doc_id"))
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum("n_removed").as("sum_removed"),
          sum("bits_total").as("sum_bits"))
        .orderBy("lang").limit(100)
    }, Some { _ =>
      val k = TextDedup.SpanK
      "WITH tk8 AS (SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) " +
        s"WHERE len(t) >= $k), " +
        "occ AS (SELECT doc_id, i AS pos, " +
        s"CAST(('0x' || substr(md5(array_to_string(t[i + 1:i + $k], ' ')), 1, 8)) AS BIGINT) AS h " +
        s"FROM (SELECT doc_id, t, unnest(range(0, len(t) - $k + 1)) AS i FROM tk8)), " +
        s"sp AS (SELECT h, COUNT(*) AS n, MIN(doc_id * $SpanPosPackSql + pos) AS canon FROM occ GROUP BY h), " +
        "rme AS (SELECT occ.doc_id AS doc_id, " +
        s"unnest(generate_series(occ.pos, occ.pos + ${k - 1})) AS p " +
        "FROM occ JOIN sp ON occ.h = sp.h " +
        s"WHERE sp.n >= 2 AND occ.doc_id * $SpanPosPackSql + occ.pos <> sp.canon), " +
        "rm AS (SELECT doc_id, COUNT(DISTINCT p) AS nr FROM rme GROUP BY doc_id), " +
        "spst AS (SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tokens, " +
        "COALESCE(rm.nr, 0) AS n_removed, " +
        "(len(string_split(d.text, ' ')) - COALESCE(rm.nr, 0)) * 10000 " +
        "// len(string_split(d.text, ' ')) AS kept_bp " +
        "FROM documents d LEFT JOIN rm ON rm.doc_id = d.doc_id), " +
        "tk2 AS (SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2), " +
        "st AS (SELECT doc_id, " +
        "CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8)) AS BIGINT) AS k, " +
        "CAST(('0x' || substr(md5(t[i]), 1, 8)) AS BIGINT) AS k1 " +
        "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM tk2)), " +
        "c2 AS (SELECT k, COUNT(*) AS c2 FROM st GROUP BY k), " +
        "c1 AS (SELECT k1, COUNT(*) AS c1 FROM st GROUP BY k1), " +
        "pp AS (SELECT st.doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(SUM(length(bin(c1.c1 // c2.c2))) AS BIGINT) AS bits_total " +
        "FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 GROUP BY st.doc_id) " +
        "SELECT s.lang AS lang, COUNT(*) AS n_docs, CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens, " +
        "CAST(SUM(s.n_removed) AS BIGINT) AS sum_removed, CAST(SUM(p.bits_total) AS BIGINT) AS sum_bits " +
        "FROM spst s JOIN pp p ON p.doc_id = s.doc_id " +
        s"WHERE s.kept_bp >= $SpanKeepBp AND (p.bits_total * 10000) // p.n_bigrams <= $PplGateBp " +
        "GROUP BY s.lang ORDER BY lang LIMIT 100"
    }),
    // BPE tokenizer fertility (round 10, rows-only — DuckDB cannot
    // replay an iterative trainer): train 50 merges on the corpus word
    // histogram (ONE distributed tokenize+count aggregate, map-side
    // combined to vocabulary size; the merge loop runs driver-side on
    // that histogram, the reference-trainer shape — the corpus is read
    // once at any scale), then segment every document scan-locally
    // (mapPartitions, broadcast ranks, per-partition word memo) and
    // report subword fertility in exact basis points — the real
    // measurement behind q130/q139's vocab decisions, replacing the
    // subwordCountEstimate heuristic with learned merges. Deterministic
    // end to end (tie-broken argmax, leftmost-lowest-rank merges);
    // TierESpec pins a hand-computed fixture + run-to-run equality.
    Entry("q163_bpe_fertility", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      Bpe.segmentStats(d, "doc_id", "text", bpeMergesFor(spark, dir))
        .orderBy(col("fertility_bp").desc, col("doc_id")).limit(100)
    }, None),
    // Subword-true token budget (round 12): q179's relative per-language
    // budget measured in the unit training actually pays — BPE subword
    // counts under the q163 trainer's merge list. The DuckDB text
    // interpolates the SAME dir-derived merge list as a constant and
    // replays per-word greedy segmentation with a recursive CTE
    // (leftmost-lowest-rank, one merge per step — exactly
    // Bpe.segmentStats' loop), then the q179 priority/cumsum budget over
    // the per-doc subword totals. This hash-proves the segmentation
    // stage q163's rows-only trainer entry could not: the iterative
    // trainer stays un-replayable by design, but its OUTPUT (the merge
    // list) now has its consumption oracle-covered end to end. Same
    // single prefix-sum plan as q179 (range-partition + boundary-carry
    // groupedPrefixSum); the segmentation join is cut once (priority
    // totals + prefix sum both read it).
    // round 11: DuckDB's lang-partitioned running-sum window is the
    // oracle for the distributed two-pass prefix sum (boundary-carry
    // range partitioning — Scale.groupedPrefixSum); same q160 priority
    // order, same relative token budget
    // round 12: the subword-budget replay — the q163 merge list
    // interpolated in rank order, per-word greedy segmentation as a
    // recursive CTE (ranks via 1-based list_position — order-preserving
    // vs the Spark side's 0-based ranks; argmin picks the LEFTMOST
    // minimum in both engines), per-doc subword totals, then the q179
    // priority/cumsum budget verbatim with n_toks := subword count
    Entry("q205_subword_budget", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val seg = Bpe.segmentStats(d, "doc_id", "text", bpeMergesFor(spark, dir))
      val pr = Checkpoints.cut(
        d.select(col("doc_id"), col("lang"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("long").as("h"),
            col("n_chars"))
          .withColumn("prio", expr("h DIV (n_chars DIV 100 + 1)"))
          .join(seg.select(col("doc_id"), col("n_subwords").as("n_toks")), Seq("doc_id")),
        eager = false)
      val cum = graft.operators.Scale.groupedPrefixSum(
        pr, "lang", Seq(col("prio"), col("doc_id")), "n_toks", "cum_toks")
      val tot = pr.groupBy("lang").agg(sum("n_toks").as("tot_toks"))
      budgetReport(cum.join(broadcast(tot), Seq("lang")))
        .select("lang", "n_docs", "toks_kept", "tot_toks", "kept_bp")
        .orderBy("lang").limit(100)
    }, Some { p =>
      def esc(s: String) = s.replace("'", "''")
      val mlist = "CAST([" +
        p.bpeMerges.map { case (l, r) => s"'${esc(l)} ${esc(r)}'" }.mkString(", ") +
        "] AS VARCHAR[])"
      ("WITH RECURSIVE " +
        "wrd AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wv AS (SELECT w FROM wrd WHERE length(w) > 0), " +
        "seg(w, syms) AS (" +
        "SELECT w, list_append(list_transform(range(1, length(w) + 1), i -> w[i:i]), '</w>') FROM wv " +
        "UNION ALL " +
        "SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:len(syms)] FROM (" +
        "SELECT w, syms, list_position(rk, list_min(rk)) AS bi, list_min(rk) AS mn FROM (" +
        s"SELECT w, syms, list_transform(range(1, len(syms)), i -> coalesce(nullif(list_position($mlist, syms[i] || ' ' || syms[i+1]), 0), 1000000)) AS rk " +
        "FROM seg)) WHERE mn < 1000000), " +
        "fin AS (SELECT w, len(syms) AS ns FROM seg " +
        s"WHERE len(list_filter(range(1, len(syms)), i -> list_contains($mlist, syms[i] || ' ' || syms[i+1]))) = 0), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "dsw AS (SELECT t.doc_id, CAST(SUM(f.ns) AS BIGINT) AS n_toks FROM tok t JOIN fin f ON t.w = f.w GROUP BY t.doc_id), " +
        "pr AS (SELECT d.doc_id, d.lang, dsw.n_toks, " +
        "CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h, d.n_chars " +
        "FROM documents d JOIN dsw ON dsw.doc_id = d.doc_id), " +
        "wt AS (SELECT doc_id, lang, n_toks, CAST(h // (n_chars // 100 + 1) AS BIGINT) AS prio FROM pr), " +
        "cs AS (SELECT lang, n_toks, " +
        "SUM(n_toks) OVER (PARTITION BY lang ORDER BY prio, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "SUM(n_toks) OVER (PARTITION BY lang) AS tot FROM wt) " +
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS toks_kept, " +
        "CAST(MAX(tot) AS BIGINT) AS tot_toks, " +
        "CAST(SUM(n_toks) * 10000 // MAX(tot) AS BIGINT) AS kept_bp " +
        s"FROM cs WHERE cum * 100 <= tot * $MixBudgetPct " +
        "GROUP BY lang ORDER BY lang LIMIT 100")
    }),
    // TF-IDF top terms per document (round 5): integer tf·1000 div df
    // surrogate score (log IDF is a float — the surrogate preserves the
    // per-document ranking and hash-checks cross-engine). Two linear
    // aggregations over one exploded token stream + a partitioned window.
    // round 5: integer TF-IDF surrogate — both engines integer-divide
    // (Spark `div`, DuckDB `//`), ties break lexicographically
    Entry("q79_tfidf_topterms", { (spark, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.table(spark, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk").limit(100)
    }, Some(_ =>
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token), " +
        "docfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token), " +
        "s AS (SELECT tf.doc_id, tf.token, tf.tf, docfreq.df, (tf.tf * 1000) // docfreq.df AS score_k, " +
        "row_number() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * 1000) // docfreq.df DESC, tf.token) AS rnk " +
        "FROM tf JOIN docfreq USING (token)) " +
        "SELECT doc_id, token, tf, df, score_k, rnk FROM s WHERE rnk <= 3 " +
        "ORDER BY doc_id, rnk LIMIT 100"))),
    // Within-document repetition detection (round 6): share of the
    // shingle stream taken by the single most frequent bigram —
    // the template/spam quality gate. Integers only; linear shuffles.
    // round 6: per-document bigram repetition — same shingle
    // construction as the q82 replay (positions 0..len-n), counts and
    // ratio as pure integers (DuckDB SUM(BIGINT) is HUGEINT → CAST)
    Entry("q98_repetition", { (spark, dir) =>
      TextAnalysis.repetitionStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text", shingleN = 2)
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 2, 0) + 1), " +
        "i -> array_to_string(toks[i+1:i+2], ' '))) AS sh FROM t), " +
        "tf AS (SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh) " +
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles, CAST(MAX(c) AS BIGINT) AS max_rep, " +
        "CAST(MAX(c) * 1000 // SUM(c) AS BIGINT) AS rep_permille " +
        "FROM tf GROUP BY doc_id ORDER BY doc_id LIMIT 100"))),
    // Zipf-slope corpus diagnostic (round 11 session 2): the power-law
    // fit every corpus health report carries — per language, regress
    // integer log₂ token frequency on integer log₂ rank over the
    // frequency head (top-ZipfHead terms via a WindowGroupLimit-pruned
    // row_number — the q160 scale path: rank-limit pushdown keeps the
    // per-lang exchange bounded to the head, never the vocabulary).
    // Slope is an EXACT integer least-squares quotient in basis points:
    // both log₂s are the q148 length(bin(·)) spelling, the division is
    // sign-extracted so the quotient is computed on POSITIVES only
    // (Spark DIV truncates toward zero, DuckDB // floors — identical
    // only for non-negative operands), and the zero-variance degenerate
    // case is CASE-guarded in both texts. A healthy Zipfian corpus
    // reads ≈ −10⁴ (slope −1 in log-log).
    // round 11 session 2: Zipf slope — integer-bits least squares over
    // the per-lang frequency head; sign extracted before the integer
    // division (DIV truncates, // floors — equal only on positives)
    Entry("q199_zipf_slope", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val c = d.select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("n").desc, col("tok"))
      val h = c.withColumn("r", row_number.over(w)).filter(col("r") <= ZipfHead)
        .select(col("lang"),
          length(bin(col("r"))).cast("long").as("x"),
          length(bin(col("n"))).cast("long").as("y"))
      h.groupBy("lang").agg(count(lit(1)).as("k"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("lang"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("den"),
          col("k"))
        .select(col("lang"), col("k").as("n_terms"),
          expr("CASE WHEN den = 0 THEN 0L ELSE " +
            "(CASE WHEN num < 0 THEN -1L ELSE 1L END) * ((abs(num) * 10000L) DIV den) END")
            .as("slope_bp"))
        .orderBy("lang").limit(100)
    }, Some(_ =>
      ("WITH tk AS (SELECT d.lang, unnest(string_split(d.text, ' ')) AS tok FROM documents d), " +
        "c AS (SELECT lang, tok, COUNT(*) AS n FROM tk GROUP BY lang, tok), " +
        "rk AS (SELECT lang, tok, n, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS r FROM c), " +
        s"h AS (SELECT lang, CAST(length(bin(r)) AS BIGINT) AS x, CAST(length(bin(n)) AS BIGINT) AS y FROM rk WHERE r <= $ZipfHead), " +
        "a AS (SELECT lang, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM h GROUP BY lang), " +
        "b AS (SELECT lang, k, k*sxy - sx*sy AS num, k*sxx - sx*sx AS den FROM a) " +
        "SELECT lang, CAST(k AS BIGINT) AS n_terms, " +
        "CAST(CASE WHEN den = 0 THEN 0 ELSE " +
        "(CASE WHEN num < 0 THEN -1 ELSE 1 END) * ((abs(num) * 10000) // den) END AS BIGINT) AS slope_bp " +
        "FROM b ORDER BY lang LIMIT 100"))),
    // Rare-span memorization-risk audit (round 11 session 2): per
    // document, the share of its k-token windows that are globally
    // UNIQUE in the corpus — the privacy/outlier surface (Kandpal et
    // al. 2022: duplicated spans drive extraction; what remains unique
    // is what a model memorizes from exactly one place). The n==1
    // complement of the q173 shared-span table, same keys-only pass.
    // round 11 session 2: rare-span audit — the q173 occurrence CTEs,
    // per-hash count via a window, per-doc unique-window share
    Entry("q200_rare_spans", { (spark, dir) =>
      TextDedup.rareSpanStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("rare_bp").desc, col("doc_id")).limit(100)
    }, Some(_ =>
      (s"WITH $spanOccCtes, " +
        "wc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS n FROM occ), " +
        "st AS (SELECT doc_id, COUNT(*) AS n_spans, " +
        "SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_rare FROM wc GROUP BY doc_id) " +
        "SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans, CAST(n_rare AS BIGINT) AS n_rare, " +
        "CAST(CAST(n_rare AS BIGINT) * 10000 // n_spans AS BIGINT) AS rare_bp " +
        "FROM st ORDER BY rare_bp DESC, doc_id LIMIT 100"))),
  )
}
