package graft
package entries

import graft.SparkEntry._
import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** Text dedup entries: exact and near-duplicate pairs (minhash,
  * simhash, n-gram jaccard, edit distance), their clusters and survivors,
  * and their incremental and streaming forms. */
private[graft] object DedupEntries {

  /** The q83 32-bit simhash replay (token md5 → sign fold → combination
    * banding → cap → min-combo → hamming), parameterized for the
    * incremental/streaming twins: `bszExpr` is the bucket-occupancy
    * window (combined COUNT(*) for q83/q215; existing-side-only
    * CASE-sum for q216's stateless streaming contract) and `extraWhere`
    * restricts the final pair set (the cross forms). The packed-integer
    * combo key is the identical arithmetic the Spark side computes, so
    * keys and bucket-cap drops stay value-equal across engines; the
    * min-combo condition mirrors simhashMinComboByMask's
    * single-emission rule. */
  private def simhash32ReplaySql(bszExpr: String, extraWhere: String): String = {
    val chunkBits = 32 / graft.operators.TextDedup.SimhashChunks
    val nChunks = graft.operators.TextDedup.SimhashChunks
    val mask = (1L << chunkBits) - 1
    val comboVals = graft.operators.TextDedup.simhashCombos.zipWithIndex
      .map { case (cs, j) => s"($j, ${cs.mkString("[", ", ", "]")})" }.mkString(", ")
    val minCombo = graft.operators.TextDedup.simhashMinComboByMask
      .mkString("[", ", ", "]")
    "WITH th AS (SELECT doc_id, list_distinct(list_transform(string_split(text, ' '), " +
      "t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))) AS hs FROM documents), " +
      "sig AS (SELECT doc_id, list_sum(list_transform(range(0, 32), b -> " +
      "CASE WHEN list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)) >= 0 " +
      "THEN (1::BIGINT << b) ELSE 0 END)) AS sim FROM th), " +
      s"combos AS (SELECT * FROM (VALUES $comboVals) AS x(j, cs)), " +
      "chunks0 AS (SELECT doc_id, sim, j, " +
      s"CAST(list_sum(list_transform(range(0, ${graft.operators.TextDedup.SimhashIntact}), " +
      s"i -> ((sim >> ($chunkBits * cs[i+1])) & $mask) * (1::BIGINT << ($chunkBits * i)))) AS BIGINT) AS ckey " +
      "FROM sig, combos), " +
      s"chunks AS (SELECT *, $bszExpr AS bsz FROM chunks0), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sa, b.sim AS sb " +
      "FROM chunks a JOIN chunks b ON a.j = b.j AND a.ckey = b.ckey AND a.doc_id < b.doc_id " +
      s"WHERE a.bsz <= ${graft.operators.TextDedup.DefaultMaxBucketSize} " +
      s"AND a.j = ($minCombo)[CAST(list_sum(list_transform(range(0, $nChunks), " +
      s"c -> CASE WHEN ((xor(a.sim, b.sim) >> ($chunkBits * c)) & $mask) = 0 THEN (1 << c) ELSE 0 END)) AS INT) + 1]) " +
      "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming " +
      s"FROM pairs WHERE bit_count(xor(sa, sb)) <= ${TextDedup.SimhashMaxHamming}$extraWhere " +
      "ORDER BY id_a, id_b LIMIT 100"
  }

  /** TWO-PASS edit-distance blocking replay (round 10), shared by the
    * q136 / q141 / q142 oracle texts: pass 1 blocks on the first
    * EditPrefixLen characters, pass 2 on the LAST EditPrefixLen (spelled
    * as a positive-start substr with GREATEST clamping — `length`/
    * `substr`/`greatest` count characters identically in both engines,
    * unlike `reverse`, which DuckDB applies per grapheme cluster and
    * Spark per code point). Pass 2 keeps only prefix-DIFFERING pairs, so
    * the union is disjoint by construction — the exact rule the Spark
    * operators (batch and stateless-streaming) implement. Caps apply per
    * pass. `crossOnly` restricts each pass to (corpus, incoming) pairs —
    * the q141/q142 form. Constants interpolated from the TextDedup
    * compile-time source of truth. */
  private def editPairReplay(crossOnly: Boolean): String = {
    val P = graft.operators.TextDedup.EditPrefixLen
    val M = graft.operators.TextDedup.DefaultMaxBucketSize
    val D = graft.operators.TextDedup.EditMaxDist
    val crossPred =
      if (crossOnly) s" AND a.doc_id < $IncrementalSplitId AND c.doc_id >= $IncrementalSplitId"
      else ""
    s"WITH b1 AS (SELECT substr(text, 1, $P) AS k, doc_id FROM documents), " +
      s"b2 AS (SELECT substr(text, GREATEST(length(text) - ${P - 1}, 1), $P) AS k, doc_id FROM documents), " +
      s"el1 AS (SELECT k FROM b1 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND $M), " +
      s"el2 AS (SELECT k FROM b2 GROUP BY k HAVING COUNT(*) BETWEEN 2 AND $M), " +
      "p1 AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b FROM b1 a " +
      s"JOIN b1 c ON a.k = c.k AND a.doc_id < c.doc_id JOIN el1 e ON e.k = a.k WHERE TRUE$crossPred), " +
      "p2 AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b FROM b2 a " +
      s"JOIN b2 c ON a.k = c.k AND a.doc_id < c.doc_id JOIN el2 e ON e.k = a.k WHERE TRUE$crossPred), " +
      "p AS (SELECT id_a, id_b FROM p1 UNION ALL " +
      "SELECT p2.id_a, p2.id_b FROM p2 " +
      "JOIN documents da ON da.doc_id = p2.id_a JOIN documents dc ON dc.doc_id = p2.id_b " +
      s"WHERE substr(da.text, 1, $P) <> substr(dc.text, 1, $P)), " +
      "d AS (SELECT p.id_a, p.id_b, levenshtein(da.text, dc.text) AS dist " +
      "FROM p JOIN documents da ON da.doc_id = p.id_a JOIN documents dc ON dc.doc_id = p.id_b) " +
      s"SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist FROM d WHERE dist <= $D " +
      "ORDER BY id_a, id_b LIMIT 100"
  }

  /** Shared by q141 (batch) and q142 (streaming): the symmetric q136
    * replay restricted to cross pairs. One text for both keys IS the
    * streaming-equals-batch contract — the two entries must hash to the
    * same answer on the closed input. */
  private lazy val incrementalEditOracle: String = editPairReplay(crossOnly = true)

  def entries: Seq[Entry] = Seq(
    // Exact-dedup stats (Q35(E)) — identical SQL both engines
    Entry("q35_dedup_exact", { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_uniq FROM documents")
    }, Some(_ => "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_uniq FROM documents")),
    // Exact dedup survivors by hash — rows-only (count must equal n_uniq; unit-tested)
    // promoted round 2: dedupExactByHash keeps MIN(doc_id) per distinct
    // text (modulo xxhash64 collisions, negligible at any tested SF)
    Entry("q36_dedup_survivors", { (spark, dir) =>
      TextDedup.dedupExactByHash(Tables.table(spark, dir, "documents"), "doc_id", "text")
        .select("doc_id").orderBy("doc_id").limit(1000)
    }, Some(_ =>
      ("SELECT doc_id FROM (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) t " +
        "ORDER BY doc_id LIMIT 1000"))),
    // MinHash LSH near-dup pairs, Jaccard-verified — rows-only (double sim)
    Entry("q40_minhash_neardup", { (spark, dir) =>
      TextDedup.nearDupPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
          threshold = 0.3, shingleN = 2)
        .orderBy("id_a", "id_b").limit(100)
    }, None),
    // SimHash near-dup pairs (native codegen Expression) — rows-only
    Entry("q41_simhash_neardup", { (spark, dir) =>
      TextDedup.simhashPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b").limit(100)
    }, None),
    // n-gram Jaccard between consecutive docs — integer outputs, oracle-able
    Entry("q42_ngram_jaccard", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), array_distinct(split(col("text"), " ")).as("ta"))
      val b = d.select(col("doc_id").as("id_b"), array_distinct(split(col("text"), " ")).as("tb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_common"),
          size(array_union(col("ta"), col("tb"))).cast("long").as("n_union"))
        .orderBy("id_a").limit(100)
    }, Some(_ =>
      ("SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "len(list_intersect(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' ')))) AS n_common, " +
        "len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' '))))) AS n_union " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 ORDER BY id_a LIMIT 100"))),
    // Benchmark-contamination scores vs a deterministic pseudo-benchmark
    // (every 97th document) — integer outputs, oracle-checked
    Entry("q68_contamination", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.contaminationScores(docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
        .orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("SELECT c.doc_id, CAST(MAX(len(list_intersect(" +
        "list_distinct(string_split(c.text, ' ')), " +
        "list_distinct(string_split(b.text, ' '))))) AS BIGINT) AS max_overlap " +
        "FROM documents c, (SELECT text FROM documents WHERE doc_id % 97 = 0) b " +
        "GROUP BY c.doc_id ORDER BY doc_id LIMIT 100"))),
    // Transitive near-dup clustering (round 4): connected components over
    // a verified pair graph — hash-min + pointer-jumping label
    // propagation, O(log diameter) rounds. The declared pair graph is the
    // SQL-expressible consecutive-id jaccard ≥ 0.9 (integer
    // cross-multiplied, so both engines derive the identical edge set);
    // the oracle computes the same components with a recursive CTE. The
    // sf0.01 graph has chains up to length 4, so transitivity is real.
    // new round 4: the recursive-CTE transitive closure is the oracle
    // for the distributed connected-components operator (same integer
    // jaccard edge set, min-id labels)
    Entry("q74_neardup_clusters", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      TextDedup.nearDupClusters(adjacentJaccardPairs(d)).orderBy("doc_id").limit(100)
    }, Some(_ =>
      ("WITH RECURSIVE pairs AS (" +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 " +
        "WHERE len(list_intersect(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' ')))) * 10 >= " +
        "len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' '))))) * 9" +
        "), edges AS (" +
        "SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs" +
        "), reach(id, lbl) AS (" +
        "SELECT src, src FROM edges " +
        "UNION " +
        "SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst" +
        ") SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster FROM reach " +
        "GROUP BY id ORDER BY doc_id LIMIT 100"))),
    // Near-dup survivor selection (round 8): the dedup ACTION that q74's
    // clustering feeds — keep ONE canonical document per near-dup cluster
    // (longest text, doc_id tie-break) and report the post-dedup corpus
    // budget per language. Same integer-jaccard edge set as q74 so the
    // DuckDB recursive-closure oracle replays the identical clusters;
    // singletons label themselves via COALESCE (no join fan-out). The
    // window is PARTITIONED by cluster (never global) and the final
    // aggregate is 5 rows — the whole selection adds one narrow shuffle
    // of (doc_id, cluster, n_chars, lang) rows on top of the clustering.
    // round 8: the same recursive closure extended with the survivor
    // argmax (row_number over n_chars DESC, doc_id) and the per-lang
    // post-dedup budget — the oracle for the distributed winner
    // selection on top of connectedComponents
    Entry("q131_dedup_survivors", { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val labeled = d.join(TextDedup.nearDupClusters(adjacentJaccardPairs(d)), Seq("doc_id"), "left")
        .withColumn("comp", coalesce(col("cluster"), col("doc_id")))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("comp").orderBy(col("n_chars").desc, col("doc_id"))
      labeled.withColumn("rn", row_number().over(win))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") === 1, col("n_chars")).otherwise(0L)).as("chars_kept"))
        .orderBy("lang").limit(100)
    }, Some(_ =>
      ("WITH RECURSIVE pairs AS (" +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 " +
        "WHERE len(list_intersect(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' ')))) * 10 >= " +
        "len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' '))))) * 9" +
        "), edges AS (" +
        "SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs" +
        "), reach(id, lbl) AS (" +
        "SELECT src, src FROM edges " +
        "UNION " +
        "SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst" +
        "), comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id), " +
        "lab AS (SELECT d.doc_id, d.lang, d.n_chars, COALESCE(c.cluster, d.doc_id) AS comp " +
        "FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id), " +
        "rk AS (SELECT lang, n_chars, row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn FROM lab) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept " +
        "FROM rk GROUP BY lang ORDER BY lang LIMIT 100"))),
    // Portable MinHash+LSH near-dup pairs (round 5): md5-derived shingle
    // hashes + affine universal-hash permutations are bit-identical
    // integers in any engine, so the ENTIRE pipeline — signatures,
    // banding, bucket pairs, jaccard verification — is deterministic and
    // hash-checked (the production xxhash64 path stays q40, rows-only).
    // τ = 0.9 matches the corpus's planted near-dup similarity.
    // round 5: the full LSH pipeline replayed on the SAME integers —
    // coefficients interpolated from TextDedup.affineCoeffs so both
    // texts share one source of truth; banding uses exact string band
    // keys (no engine-specific band hash), so candidate sets match
    // bit-for-bit and the oracle checks banding itself
    Entry("q82_minhash_portable", { (spark, dir) =>
      TextDedup.portablePairStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      (s"WITH $minhashReplayCtes " +
        "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
        "FROM v WHERE n_inter * 10 >= n_union * 9 ORDER BY id_a, id_b LIMIT 100"))),
    // End-to-end curation pipeline (round 9 capstone): exact dedup →
    // lexical-quality gate → deterministic md5 train/test split → corpus
    // budget report, composed from the ACTUAL operators (dedupExactByHash,
    // hashSplit) — the full pre-training data path as one declared,
    // hash-checked query. Every stage is the linear-shuffle shape its
    // standalone entry proved (q35/q137/q69); composition adds nothing
    // but the stages themselves.
    // round 9 capstone: the DuckDB replay of the composed pipeline —
    // min-id-per-text dedup, the q137 TTR gate, the q69 md5 split
    // spelling, one aggregate. Stage equivalences are individually
    // proven by q35/q137/q69; this row proves the COMPOSITION.
    Entry("q140_pipeline", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val deduped = TextDedup.dedupExactByHash(docs, "doc_id", "text")
      val scored = deduped
        .withColumn("__t", split(col("text"), " "))
        // 10000L: BIGINT multiply — ANSI int×int would throw past ~214k
        // tokens where the DuckDB twin's len() is already BIGINT
        .withColumn("ttr_bp", expr("size(array_distinct(__t)) * 10000L DIV size(__t)"))
        .filter(col("ttr_bp") >= 3000)
      graft.operators.Scale.hashSplit(scored, "doc_id", 80, method = "md5")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(size(col("__t"))).cast("long").as("sum_toks"))
        .orderBy("lang", "split").limit(100)
    }, Some(_ =>
      ("WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text), " +
        "d AS (SELECT doc.* FROM documents doc JOIN keep k ON doc.doc_id = k.doc_id), " +
        "s AS (SELECT lang, n_chars, len(string_split(text, ' ')) AS n_toks, " +
        "CAST(len(list_distinct(string_split(text, ' '))) * 10000 // len(string_split(text, ' ')) AS BIGINT) AS ttr_bp, " +
        "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
        "THEN 'train' ELSE 'test' END AS split FROM d) " +
        "SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(SUM(n_toks) AS BIGINT) AS sum_toks " +
        "FROM s WHERE ttr_bp >= 3000 " +
        "GROUP BY lang, split ORDER BY lang, split LIMIT 100"))),
    // Edit-distance fuzzy-dup pairs (round 9): the character-level
    // complement to minhash — prefix-16 blocking (each doc in exactly ONE
    // block, so the pair stream is unique by construction), capped blocks,
    // banded 3-arg levenshtein with early exit at the threshold. Text
    // never crosses the blocking shuffle; it joins back for survivors.
    // round 9 (two-pass since round 10): blocked Levenshtein replay —
    // DuckDB computes the plain 2-arg distance with a WHERE threshold;
    // the engine's banded 3-arg form returns the true distance for
    // every pair it keeps, so the kept rowsets are identical.
    Entry("q136_edit_distance", { (spark, dir) =>
      TextDedup.editDistancePairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ => editPairReplay(crossOnly = false))),
    // Incremental edit-distance dedup (round 9): the q136 pipeline's
    // daily-crawl form — incoming batch blocked against the existing
    // corpus only, no intra-corpus recompute; combined-occupancy cap
    // makes the pair set exactly the symmetric q136 restricted to cross
    // pairs, which is what the oracle replays (the q124 discipline).
    // round 9: the symmetric q136 replay restricted to cross pairs
    // (id_a < split ≤ id_b) — hash-equality proves the asymmetric
    // plan finds exactly them (the q124 oracle discipline)
    Entry("q141_incremental_edit", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.editDistanceCrossPairs(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ => incrementalEditOracle)),
    // Streaming edit-distance ingest run to completion on the closed
    // input (round 9): the incoming half STREAMED through q141's own
    // operator and fuzzy-matched per micro-batch against the static
    // corpus — stateless (one substring block key per row, stream-static
    // joins, corpus-side block cap, no watermark/state store;
    // single-block membership makes the output a set, no distinct).
    // Hash-checked against the SAME oracle as q141: streaming output =
    // batch answer on closed input (the q126 contract, now for the
    // edit-distance family).
    // round 9: the STREAMING form hashes against the identical batch
    // replay — streaming output = batch answer on closed input (the
    // q126 contract for the edit-distance family)
    Entry("q142_stream_edit", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      graft.streaming.StreamOps.runAppend(spark,
          TextDedup.editDistanceCrossPairs(corpus, stream, "doc_id", "text"),
          s"q142_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ => incrementalEditOracle)),
    // Incremental near-dup (round 8): the incoming batch (doc_id ≥ split)
    // deduped AGAINST the existing corpus (doc_id < split) without
    // recomputing intra-corpus pairs — the daily-crawl shape. The oracle
    // replays the SYMMETRIC pipeline restricted to cross pairs, so
    // hash-equality proves the asymmetric plan finds exactly them.
    // round 8: incremental near-dup — the SAME replay restricted to
    // pairs straddling the id split. Equality proves the asymmetric
    // Spark plan (portableCrossPairStats — incoming banded against
    // existing, combined-occupancy cap) finds exactly the symmetric
    // pipeline's cross pairs.
    Entry("q124_incremental_neardup", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.portableCrossPairStats(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      (s"WITH $minhashReplayCtes " +
        "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
        s"FROM v WHERE n_inter * 10 >= n_union * 9 AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
        "ORDER BY id_a, id_b LIMIT 100"))),
    // Incremental SimHash near-dup (round 14): an incoming batch checked
    // against the existing corpus — completes the simhash family's
    // {batch q83, incremental, streaming} matrix row (the q124/q125
    // shape: combined per-bucket occupancy cap, keys-only, min-combo
    // unique emission). Oracle = the q83 replay restricted to cross
    // pairs.
    // round 14, q215: the q83 replay restricted to cross pairs — with
    // every incoming id above the split, the symmetric a<b order
    // restricted to (existing, incoming) IS the incremental cross
    // generator's output, and the symmetric bsz IS the combined cap.
    Entry("q215_incremental_simhash", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.portableSimhashCrossPairs(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      simhash32ReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)",
        s" AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId"))),
    // Streaming SimHash ingest check (round 14): incoming documents
    // simhashed per micro-batch against the STATIC corpus combo-key
    // index through q215's own operator — entirely stateless (the
    // q126/q142 contract: with a streaming side the bucket cap sees
    // corpus-side occupancy only, which the oracle text mirrors exactly;
    // min-combo keeps the stream a true set with no state-store dedup).
    // round 14, q216: the STREAMING contract replayed exactly — the
    // stateless per-batch check can only cap on EXISTING-side
    // occupancy (per-batch incoming occupancy is unknowable without
    // state), so bsz counts corpus-side rows only.
    Entry("q216_stream_simhash", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      graft.streaming.StreamOps.runAppend(spark,
          TextDedup.portableSimhashCrossPairs(
            docs.filter(col("doc_id") < IncrementalSplitId), stream, "doc_id", "text"),
          s"q216_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      simhash32ReplaySql(
        s"SUM(CASE WHEN doc_id < $IncrementalSplitId THEN 1 ELSE 0 END) OVER (PARTITION BY j, ckey)",
        s" AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId"))),
    // Streaming ingest dedup run to completion on the closed input
    // (round 8): the incoming half STREAMED and deduped per micro-batch
    // against the static corpus index — stateless (no watermark, no join
    // state; banding is per-row expression work, both joins
    // stream-static). Hash-checked against the same DuckDB batch replay
    // as q124: streaming output = batch answer on closed input (the
    // q51/q89 contract, now for the dedup pipeline).
    // round 8: the STREAMING ingest-dedup entry must equal the same
    // batch answer on closed input (q51/q89 contract) — same replay
    Entry("q126_stream_dedup", { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val (base, banded) = TextDedup.portableIndexFrames(corpus, "doc_id", "text")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      graft.streaming.StreamOps.runAppend(spark,
          graft.streaming.StreamOps.dedupAgainstCorpus(stream, base, banded, "doc_id", "text"),
          s"q126_mem_${math.abs(dir.hashCode)}")
        .distinct() // documented multiset output: one row per matching band
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ =>
      (s"WITH $minhashReplayCtes " +
        "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
        s"FROM v WHERE n_inter * 10 >= n_union * 9 AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
        "ORDER BY id_a, id_b LIMIT 100"))),
    // Portable SimHash near-dup pairs (round 5; combination banding round
    // 8): 32-bit sign-sum signatures from md5 token hashes, 5-of-8-chunk
    // combination banding (TextDedup.SimhashChunks — kills the 2^8
    // bucket-cardinality ceiling; the verified pair set is pigeonhole-
    // identical), exact-hamming verification — all integer arithmetic, so
    // the whole pipeline hash-checks (production 64-bit SimHash64 stays
    // q41, rows-only; the 32-bit twin is noisier — hamming ≤ 3 of 32
    // admits weaker matches — which the oracle doesn't mind: it checks
    // determinism, not recall).
    // round 5 (rebanded round 8): simhash replayed bit-for-bit —
    // sign-sum per bit plane, COMBINATION banding (every
    // C(SimhashChunks, SimhashIntact) chunk subset — combos, chunk
    // width and the bucket cap all interpolated from the SAME
    // TextDedup constants the Spark side bands with), bit_count(xor)
    // hamming. Pigeonhole completeness makes the verified pair set
    // identical to single-chunk banding; the key space grows 2^8 →
    // 2^20 (the round-7 cardinality ceiling).
    Entry("q83_simhash_portable", { (spark, dir) =>
      TextDedup.portableSimhashPairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    }, Some(_ => simhash32ReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)", ""))),
  )
}
