package graft

import graft.entries.{CurationEntries, DedupEntries, EmbeddingEntries, MediaEntries, RelationalEntries,
  SketchEntries, StreamEntries, TextEntries}
import graft.operators.{Bpe, Checkpoints, Multimodal, NaiveBayes, Similarity, TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One declared query: its Spark build and, when its output is
  * SQL-expressible, the DuckDB oracle text the gate hashes it against.
  * `oracle = None` marks a rows-only entry. */
final case class Entry(id: String, build: (SparkSession, String) => DataFrame,
                       oracle: Option[OracleParams => String])

/** The dir-derived constants oracle texts interpolate, computed once per
  * dir by `SparkEntry.oracleSqlFor` from the same rules the builds size
  * themselves by: the embed-LSH width, the SemDeDup nlist, the BPE merge
  * list, the pHash MIH chunk count and the ANN search point
  * (tables, bits, probes). */
final case class OracleParams(embedBits: Int, semNlist: Int, bpeMerges: Seq[(String, String)],
                              phashChunks: Int, annPoint: (Int, Int, Int))

/** Driver contract — see SURVEY.md §7. `entries` declares every query
  * once (SURVEY.md §2: the oracle corpus, the P-layer behaviors and the
  * Tier-E extension operators); `queries` and `oracleSqlFor` are derived
  * from it. Entries without an oracle get the driver's weaker rows-only
  * check (non-SQL-expressible ops only). This object also holds the
  * helpers and constants that several families or the specs share.
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the reference's canonical ranking
    * aggregate (prompts.py:28), scan→agg→sort→limit end to end. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Tables.register(spark, dir)
    spark.sql(Corpus.byId("q04_agg_rank").sparkSql)
  }

  /** Every declared query, once: the declared oracle corpus
    * (`Corpus.queries`, whose texts are their own oracle) and the
    * extension families under `graft.entries`, each Spark build beside
    * its DuckDB text. `queries` and `oracleSqlFor` derive from it. */
  private[graft] lazy val entries: Seq[Entry] =
    Corpus.queries.map { q =>
      Entry(q.id, { (spark, dir) =>
        Tables.register(spark, dir)
        spark.sql(q.sparkSql)
      }, Some(_ => q.duckSql))
    } ++ RelationalEntries.entries ++ TextEntries.entries ++ DedupEntries.entries ++
      EmbeddingEntries.entries ++ SketchEntries.entries ++ StreamEntries.entries ++
      MediaEntries.entries ++ CurationEntries.entries

  /** Every entry's Spark build by id (no oracle text is built here). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.id -> e.build).toMap

  /** Oracle texts of the hash-checked entries, with every derived
    * constant computed FROM `dir` — the one generation path every gate
    * uses (Verify, ClusterCheck, the specs). Texts are a pure function of
    * the dir, so two dirs in one JVM can never bleed constants into each
    * other's texts. */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] = {
    val p = OracleParams(embedBitsFor(spark, dir), semNlistFor(spark, dir),
      bpeMergesFor(spark, dir).map(m => (m.left, m.right)),
      phashChunksFor(spark, dir), annSearchPointFor(spark, dir))
    entries.flatMap(e => e.oracle.map(text => e.id -> text(p))).toMap
  }

  /** q84/q97's verification threshold — ≈ cosine 0.25 on unit-norm vectors
    * after the ×10⁴ quantization. One constant for the Spark entries AND
    * both DuckDB texts. */
  private[graft] val EmbedMinScore = 25000000L

  /** Self-sizing LSH width for the portable embedding family (q84/q97/
    * q125): bits derives from the corpus count via
    * Similarity.recommendedBits, so a regenerated or 10×-bigger
    * embeddings table re-sizes its buckets instead of hitting the
    * measured 13× occupancy blowup a pinned constant gave at 10×
    * (BASELINE.md round 10). The count is cached per dir (one tiny
    * pruned-scan count per JVM per dir); the DuckDB texts interpolate
    * the SAME dir-derived value because `oracleSqlFor(spark, dir)` is
    * the only text-generation path — no mutable interpolation state
    * (the r11 verdict's `lastEmbedBits` trap is deleted: two dirs in
    * one JVM each get their own texts). */
  private val embedCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def embedCountFor(spark: SparkSession, dir: String): Long =
    embedCountCache.computeIfAbsent(dir, d =>
      Tables.table(spark, d, "embeddings").count()).longValue()

  private[graft] def embedBitsFor(spark: SparkSession, dir: String): Int =
    graft.operators.Similarity.recommendedBits(embedCountFor(spark, dir), 32)

  /** The width's recall-preserving table count (round 12, multi-probe
    * round 13): bits bounds OCCUPANCY, tables holds threshold-pair
    * RECALL as bits grows — the classical LSH n^(1+ρ) trade
    * (occupancy-only sizing measured 0.298 → 0.043 pair recall at 10×,
    * BASELINE.md). Round 13 ships the 1-bit multi-probe form (Lv et al.
    * 2007): every vector also probes its `bits` Hamming-1 neighbor
    * buckets, so the per-table collision probability of a threshold
    * pair rises ≈(1 + bits(1−p)/p)× and the same recall needs that many
    * fewer tables — at the 10× point this is L=72 → L=9, an 8× cut in
    * signature work (the measured 10× bottleneck). Derived from bits
    * via ONE rule in both the entries and the replay texts; probes =
    * bits (the full 1-flip neighborhood) in both likewise. */
  private[graft] def embedTablesFor(bits: Int): Int =
    graft.operators.Similarity.recommendedTablesProbed(bits)

  /** Self-sized (tables, bits, probes) for the ANN SEARCH family
    * (q45/q220/q222) — round 16, verdict #4: replaces the hardcoded
    * 4×4+4 with the dir-derived rule the pair family already uses
    * (Similarity.recommendedSearchPoint: occupancy-8 bits, probes =
    * bits, tables holding the declared base point's collision
    * probability). Entries AND the q220/q222 DuckDB texts interpolate
    * the SAME dir-derived triple — the embedBitsFor pattern. */
  private[graft] def annSearchPointFor(spark: SparkSession, dir: String): (Int, Int, Int) =
    graft.operators.Similarity.recommendedSearchPoint(embedCountFor(spark, dir))

  /** q186/q187's semantic-cluster count — self-sized like the LSH width:
    * k targets ~125 vectors per cluster (SemDeDup's k ≪ n regime; the
    * in-cluster pair term is then occupancy-bounded, not corpus-bounded),
    * clamped to [16, 4096] so the centroid broadcast stays
    * corpus-size-sublinear (the q53 IVF contract). Both Spark entries
    * and both DuckDB texts interpolate the SAME dir-derived value —
    * the embedBitsFor pattern exactly. */
  private val semNlistCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private[graft] def semNlistFor(spark: SparkSession, dir: String): Int =
    semNlistCache.computeIfAbsent(dir, d =>
      math.max(16, math.min(4096,
        math.ceil(Tables.table(spark, d, "embeddings").count() / 125.0).toInt)))

  /** Per-dir cached BPE merge list — q163's trainer run once per JVM per
    * dir (nMerges = 50, the one spelling); q163, q205 and q205's DuckDB
    * replay all read the SAME list. The trainer is deterministic
    * (tie-broken argmax), so the cache is a cost saver, not a semantic
    * dependence; the dir-keyed shape is the embedBitsFor pattern. */
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()

  private[graft] def bpeMergesFor(spark: SparkSession, dir: String): Seq[Bpe.Merge] =
    bpeMergesCache.computeIfAbsent(dir, d =>
      Bpe.train(Tables.table(spark, d, "documents"), "text", nMerges = 50))

  /** Shared recursive delete for the streaming entries' temp trees
    * (q162/q172/q176) and Verify's stale-dump removal. Null-safe:
    * listFiles returns null on IO errors/races — treat as empty. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** q101's per-language mix quotas in basis points — one constant for the
    * Spark entry AND the generated DuckDB text (documents.lang takes
    * exactly these five values, FIXTURES.md). */
  private[graft] val MixQuotasBp: Map[String, Int] =
    Map("de" -> 9000, "en" -> 5000, "es" -> 2500, "fr" -> 10000, "zh" -> 1000)

  /** q179's per-language token budget as a PERCENT of that language's own
    * total — self-scaling, so a regenerated corpus can never strand it the
    * way an absolute token count would (the DriftGuard lesson applied at
    * design time: a relative threshold splits every corpus whose languages
    * have >1 document). One constant for the Spark entry AND the DuckDB
    * text. */
  private[graft] val MixBudgetPct = 30L

  /** q179/q182/q185's shared priority frame: per-document token count,
    * the q160 deterministic hash priority (quality-weighted: shorter docs
    * hash-rank earlier via the n_chars divisor), the per-language prefix
    * sum in that order (Scale.groupedPrefixSum — range-partition +
    * boundary-carry two-pass, never a low-cardinality partitioned
    * window), and the broadcast-joined per-language totals. Columns:
    * (lang, doc_id, n_toks, cum_toks, tot_toks). */
  private[graft] def prioCumFrame(docs: DataFrame): DataFrame = {
    val pr = docs
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"),
        col("n_chars"))
      .withColumn("prio", expr("h DIV (n_chars DIV 100 + 1)"))
    val cum = graft.operators.Scale.groupedPrefixSum(
      pr, "lang", Seq(col("prio"), col("doc_id")), "n_toks", "cum_toks")
    val tot = pr.groupBy("lang").agg(sum("n_toks").as("tot_toks"))
    cum.join(broadcast(tot), Seq("lang"))
  }

  /** Shared budget tail of q179/q182/q196: keep the per-lang prefix
    * whose cumulative tokens fit MixBudgetPct% of the language's own
    * total, aggregate to the per-lang report (+ caller-supplied extra
    * aggregates). One spelling for the filter and the kept_bp DIV —
    * these must stay in lockstep with the q179 AND q196 DuckDB texts. */
  private[graft] def budgetReport(cumFrame: DataFrame,
                           extraAggs: org.apache.spark.sql.Column*): DataFrame =
    cumFrame
      .filter(col("cum_toks") * 100 <= col("tot_toks") * MixBudgetPct)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (sum("n_toks").as("toks_kept") +: max("tot_toks").as("tot_toks") +: extraAggs): _*)
      .withColumn("kept_bp", expr("toks_kept * 10000L DIV tot_toks"))

  /** q185's data-constrained upsampling budget as a PERCENT of each
    * language's own total — deliberately > 100 (the q179 regime is
    * budget < corpus; this is the epochs regime, Muennighoff-style
    * repeat-aware scaling). 230% ⇒ every document repeats
    * `230 DIV 100 = 2` full epochs and the highest-priority prefix
    * holding `230 MOD 100 = 30%` of each language's tokens repeats once
    * more. One constant for the Spark entry AND the DuckDB text. */
  private[graft] val UpsamplePct = 230L

  /** q185's materializer: per-document integer epoch counts under the
    * UpsamplePct budget — `full` epochs for everyone plus one boost
    * epoch for the priority prefix — aggregated to the per-lang report.
    * Same plan shape as budgetMixFrame (one prefix-sum pass, broadcast
    * totals); the boost indicator is scan-local arithmetic on the
    * prefix-sum output, so upsampling costs exactly what downsampling
    * does at any scale. Unordered/unlimited: callers add the order. */
  private[graft] def epochUpsampleFrame(docs: DataFrame): DataFrame = {
    val full = UpsamplePct / 100
    val remPct = UpsamplePct % 100
    prioCumFrame(docs)
      .withColumn("boost",
        when(col("cum_toks") * 100 <= col("tot_toks") * remPct, lit(1L))
          .otherwise(lit(0L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("boost").as("n_boosted"),
        sum(col("n_toks") * (lit(full) + col("boost"))).as("emitted_toks"),
        max("tot_toks").as("tot_toks"))
      .withColumn("emitted_bp", expr("emitted_toks * 10000L DIV tot_toks"))
  }

  /** q124's corpus/batch boundary: doc_id < split = "existing corpus",
    * doc_id ≥ split = "incoming batch". One constant for the Spark entry
    * AND the DuckDB text; private[graft] so the specs (DriftGuardSpec,
    * ClusterSplitSpec, NbDsirSpec) reference it instead of re-spelling
    * 400 — a retuned boundary must move every guard with it. */
  private[graft] val IncrementalSplitId = 400L

  /** q210's planted-variant id offset: a resized copy of image media_id
    * keeps identity as media_id + this. One constant for the Spark entry
    * AND the DuckDB text; far above any doc_id the generator emits
    * (DriftGuardSpec pins max doc_id < offset each regen — an overlap
    * would alias a variant onto a real row in both engines). */
  private[graft] val PhashVariantOffset = 1000000L

  /** Planted variants (q210/q213/q214/q217-q219) under ids shifted by
    * PhashVariantOffset, so a variant never aliases a real media id. */
  private[graft] def offsetVariantIds(
      variants: Dataset[Multimodal.MediaRow]): Dataset[Multimodal.MediaRow] =
    variants.map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])

  /** q219's self-sized MIH chunk count — the Norouzi-rule analogue of
    * embedBitsFor: m ≈ 64/log₂(n) over the ASCII image corpus keeps
    * posting lists O(1) as n grows (fixed m measured 18.5× wall at 10×);
    * the exactness radius chunks − 1 narrows with scale accordingly.
    * Entry and DuckDB text interpolate the SAME dir-derived value. */
  private val phashChunksCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private[graft] def phashChunksFor(spark: SparkSession, dir: String): Int =
    phashChunksCache.computeIfAbsent(dir, d => {
      Tables.register(spark, d)
      Multimodal.recommendedHammingChunks(math.max(1L,
        spark.table("documents")
          .filter(col("doc_id") % 3 === 0 &&
            length(col("text")) === octet_length(col("text")))
          .count()))
    })

  /** q199's frequency head: the Zipf fit runs over the top-ZipfHead
    * terms per language (the power-law HEAD — standard practice, and
    * what keeps the per-lang rank window WindowGroupLimit-prunable and
    * the regression sums far from BIGINT overflow: with x ≤ bits(10³)
    * and y ≤ bits(10¹⁹), |num|·10⁴ stays < 2⁶³ at any corpus scale).
    * One constant for the Spark entry AND the DuckDB text. */
  private[graft] val ZipfHead = 1000L

  /** q192-q194's DSIR target domain: the train docs of this language
    * define p_target; all train docs define p_raw. private[graft] so
    * DriftGuardSpec can assert the target stays non-empty (and a strict
    * subset) on each regenerated corpus. */
  private[graft] val DsirTargetLang = "en"

  /** Per-dir cached train-split NB model as DRIVER data (round 15):
    * q188/q189, the gate-ensemble batch entries (q201/q203) and the
    * streaming admission entries (q204/q206) all train the IDENTICAL
    * model (same split, same corpus), and the build is several driver
    * actions (~1–2 s at sf0.1) paid once per entry. The artifact is
    * bounded (≤ vocab × labels rows, tens of KB) and collected, so —
    * unlike a block-backed NbModel — it survives the Bench inter-entry
    * unpersist and rebuilds into LocalRelation frames per use. The
    * trainer is deterministic: cache is a cost saver, not a semantic
    * dependence (the bpeMergesFor pattern). */
  private val nbModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, NaiveBayes.NbModelData]()

  /** Cache key carries a cheap DATA fingerprint (documents.parquet
    * length + mtime), not the dir path alone (round-15 advice): testdata
    * is regenerated between rounds and tests reuse tmp paths, so a
    * path-only key within one JVM session could silently serve a stale
    * model to q188/q189/q201/q203/q204/q206. */
  private def nbCacheKey(dir: String): String = {
    val f = new java.io.File(s"$dir/documents.parquet")
    s"$dir:${f.length}:${f.lastModified}"
  }

  private def trainSplitNbModel(spark: SparkSession, dir: String): NaiveBayes.NbModel =
    NaiveBayes.modelFromData(spark, nbModelCache.computeIfAbsent(nbCacheKey(dir), _ => {
      val m = NaiveBayes.model(
        Tables.table(spark, dir, "documents").filter(col("doc_id") < IncrementalSplitId),
        "text", "lang")
      // the collected data is the model from here on; its training cuts are dead
      try NaiveBayes.collectModel(m)
      finally Seq(m.vocab, m.deltas, m.labelStats).foreach(Checkpoints.free)
    }))

  /** Shared q188/q189 classifier pipeline: Naive Bayes trained on the
    * labeled train split, EVERY document scored, true label joined
    * back. private[graft] for NbSpec's scalar cross-check. */
  private[graft] def nbScoresAll(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    val m = trainSplitNbModel(spark, dir)
    NaiveBayes.score(d, m, "doc_id", "text")
      .join(d.select("doc_id", "lang"), Seq("doc_id"))
  }

  /** Per-document composed 3-gate decision (doc_id, lang, n_gates) —
    * the q201 histogram's input, q203's admission predicate and q204's
    * batch reference. Span and perplexity statistics are full-corpus;
    * the classifier trains on the labeled split — each stage exactly as
    * its standalone entry (q174/q170/q188) proved it. Documents a gate
    * never scored (too short / zero in-vocab tokens) FAIL that gate via
    * left-join + coalesce — the NaiveBayes.score drop contract made
    * explicit, mirrored in the replay. private[graft] for SinksSpec's
    * round-trip check. */
  private[graft] def gateDecisions(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    // ONE tokenize pass feeds all three gates (r18): span occurrences,
    // the LM bigram keys and the NB token stream each derived split(text)
    // independently before — three full scan+split passes for one entry.
    // The token frame is cut once (executor-local, (id, lang, tokens) —
    // the same bytes the text scan carried) and every gate reads it.
    val toks = Checkpoints.cut(
      d.select(col("doc_id"), col("lang"),
        TextDedup.tokens(col("text")).as("__t")), eager = false)
    val span = TextDedup.spanRemovalStatsToks(toks, "doc_id", "__t")
      .select(col("doc_id"), (col("kept_bp") >= SpanKeepBp).cast("long").as("g_span"))
    val st = Checkpoints.cut(TextAnalysis.lmKeyStreamToks(toks, "__t"), eager = false)
    val c2 = st.groupBy("k").agg(count(lit(1)).as("c2"))
    val c1 = st.groupBy("k1").agg(count(lit(1)).as("c1"))
    val ppl = pplAgg(st.join(c2, Seq("k")).join(c1, Seq("k1")))
      .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .select(col("doc_id"), (col("ppl_bp") <= PplGateBp).cast("long").as("g_ppl"))
    val nb = NaiveBayes.scoreToks(toks, trainSplitNbModel(spark, dir), "doc_id", "__t")
      .join(toks.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), (col("pred_label") === col("lang")).cast("long").as("g_nb"))
    composeGates(toks.select("doc_id", "lang"), span, ppl, nb)
  }

  /** The ONE composition tail for batch (gateDecisions) and streaming
    * (writeGateBatchDecisions): unscored docs FAIL their gate via left-join +
    * coalesce — the NaiveBayes.score drop contract, mirrored in the
    * replay. One spelling so batch and streaming can never desync. */
  private[graft] def composeGates(base: DataFrame, span: DataFrame,
                           ppl: DataFrame, nb: DataFrame): DataFrame =
    base
      .join(span, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        (coalesce(col("g_span"), lit(0L)) + coalesce(col("g_ppl"), lit(0L))
          + coalesce(col("g_nb"), lit(0L))).as("n_gates"))

  /** Arm the static gate structures ONCE for streaming admission
    * (q204/q206): full-corpus shared-span index, full-corpus LM
    * marginals, train-built NB model — each lineage-cut so micro-batches
    * join materialized frames instead of re-aggregating the corpus per
    * trigger. */
  private[graft] def gateStatics(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, NaiveBayes.NbModel) = {
    val d = Tables.table(spark, dir, "documents")
    val spans = Checkpoints.cut(
      TextDedup.spanIndex(d, "doc_id", "text").filter(col("__n") >= 2), eager = false)
    val st = Checkpoints.cut(TextAnalysis.lmKeyStream(d), eager = false)
    val c2 = Checkpoints.cut(st.groupBy("k").agg(count(lit(1)).as("c2")), eager = false)
    val c1 = Checkpoints.cut(st.groupBy("k1").agg(count(lit(1)).as("c1")), eager = false)
    val m = trainSplitNbModel(spark, dir)
    (spans, c2, c1, m)
  }

  /** q170-q172's perplexity-gate threshold: keep documents whose
    * bits-per-bigram (×10⁴) under the bigram LM is ≤ this. 53200 ≈ 5.32
    * bits/bigram = the sf0.01 corpus's MEDIAN (measured round 11: min
    * 50833, q25 52666, median 53202, q75 53653, max 56800), so the gate
    * genuinely splits the corpus rather than passing or dropping
    * everything. One constant for the Spark entries AND the DuckDB
    * texts — a distribution drift only moves the kept fraction, never
    * cross-engine equality. private[graft]: DriftGuardSpec asserts the
    * gate still SPLITS each regenerated corpus (a threshold stranded
    * outside the new distribution stays hash-green but degenerates to
    * keep-all/drop-all). */
  private[graft] val PplGateBp = 53200L

  /** Shared DuckDB replay for the perplexity-gate family (q170 batch,
    * q171 incremental, q172 streaming): the q157 bigram model's two
    * marginals, then per-document INTEGER surprisal — each bigram
    * contributes `length(bin(c1 // c2))` = floor(log2(c1/c2)) + 1 bits,
    * the q148-q152 leading-bit spelling both engines compute string-wise
    * (a float log2 would be the exact libm-drift hazard CLAUDE.md bans:
    * Spark's Math.log and DuckDB's std::log are not ulp-identical, and
    * one flipped ulp under a FLOOR flips a hashed cell). bits-per-bigram
    * ×10⁴ is log₂(perplexity) in basis points — integer end to end.
    * `scoreFilter` restricts the SCORED documents (incremental/streaming
    * twins score only the incoming batch; the model CTEs still aggregate
    * over ALL documents, which equals the Spark side's merged model on
    * the closed input — the q161 additivity identity). */
  private[graft] def pplOracle(scoreFilter: String): String =
    s"WITH ${pplCtes("", scoreFilter)} " +
      "SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, bits_total, " +
      "CAST((bits_total * 10000) // n_bigrams AS BIGINT) AS ppl_bp " +
      s"FROM sc WHERE (bits_total * 10000) // n_bigrams <= $PplGateBp " +
      "ORDER BY ppl_bp DESC, doc_id LIMIT 100"

  /** The perplexity chain's CTE body (…sc = per-doc n_bigrams/
    * bits_total) with every CTE name carrying prefix `px`, so a
    * COMPOSED replay (q201 — whose other chains already use toks/sc)
    * reuses the ONE spelling instead of a hand-mirrored copy.
    * `scoreFilter` must qualify by `${px}st` when non-empty. */
  private[graft] def pplCtes(px: String, scoreFilter: String): String =
    s"${px}toks AS (" +
      "SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2" +
      s"), ${px}st AS (" +
      "SELECT doc_id, " +
      "CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8)) AS BIGINT) AS k, " +
      "CAST(('0x' || substr(md5(t[i]), 1, 8)) AS BIGINT) AS k1 " +
      s"FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM ${px}toks)" +
      s"), ${px}c2 AS (SELECT k, COUNT(*) AS c2 FROM ${px}st GROUP BY k), " +
      s"${px}c1 AS (SELECT k1, COUNT(*) AS c1 FROM ${px}st GROUP BY k1), " +
      s"${px}sc AS (SELECT ${px}st.doc_id, COUNT(*) AS n_bigrams, " +
      s"CAST(SUM(length(bin(${px}c1.c1 // ${px}c2.c2))) AS BIGINT) AS bits_total " +
      s"FROM ${px}st JOIN ${px}c2 ON ${px}st.k = ${px}c2.k JOIN ${px}c1 ON ${px}st.k1 = ${px}c1.k1 " +
      scoreFilter +
      s" GROUP BY ${px}st.doc_id)"

  /** q173/q174's packed-occurrence constant — TextDedup.SpanPosPack
    * interpolated (the pack is part of the canonical-occurrence
    * definition both engines MIN over). */
  private[graft] val SpanPosPackSql = TextDedup.SpanPosPack

  /** Shared occurrence CTE for the span-dedup replays (q173/q174): every
    * k-token window of every ≥k-token document as (doc_id, pos 0-based,
    * 32-bit md5 hash) — the composed spelling of the fused
    * PortableShingleHash at k = TextDedup.SpanK. */
  private[graft] def spanOccCtes: String = {
    val k = TextDedup.SpanK
    "toks AS (SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) " +
      s"WHERE len(t) >= $k), " +
      "occ AS (SELECT doc_id, i AS pos, " +
      s"CAST(('0x' || substr(md5(array_to_string(t[i + 1:i + $k], ' ')), 1, 8)) AS BIGINT) AS h " +
      s"FROM (SELECT doc_id, t, unnest(range(0, len(t) - $k + 1)) AS i FROM toks))"
  }

  /** q174-q176's shared removal replay: shared-span table, non-canonical
    * occurrence coverage via generate_series, distinct-position count per
    * doc, stats for every document. `docFilter` restricts the REPORTED
    * documents (q175/q176 score only the incoming batch; the span CTEs
    * still aggregate over ALL documents, which equals the merged/static
    * index on the closed input). */
  /** The quantized-embedding CTE — the ONE replay spelling of
    * Similarity.quantize's floor(double·10⁴) contract (must match the
    * Catalyst expression bit-for-bit). `name`/`vcol` let each chain pick
    * the CTE and column names it expects. */
  private[graft] def quantEmbCte(name: String, vcol: String): String =
    s"$name AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS $vcol FROM embeddings)"

  /** The span-removal chain's CTE body (…${px}rm = per-doc removed
    * count) with every CTE name carrying prefix `px` — one spelling for
    * the q174-q176 replays (px = "") and the composed q201 (px = "e",
    * whose NB chain already owns the bare names). */
  private[graft] def spanRemovalCtes(px: String): String =
    s"${px}sp AS (SELECT h, COUNT(*) AS n, MIN(doc_id * $SpanPosPackSql + pos) AS canon " +
      "FROM occ GROUP BY h), " +
      s"${px}rme AS (SELECT occ.doc_id AS doc_id, " +
      s"unnest(generate_series(occ.pos, occ.pos + ${TextDedup.SpanK - 1})) AS p " +
      s"FROM occ JOIN ${px}sp ON occ.h = ${px}sp.h " +
      s"WHERE ${px}sp.n >= 2 AND occ.doc_id * $SpanPosPackSql + occ.pos <> ${px}sp.canon), " +
      s"${px}rm AS (SELECT doc_id, COUNT(DISTINCT p) AS nr FROM ${px}rme GROUP BY doc_id)"

  /** q177's span-retention gate: drop documents retaining < 50% of their
    * tokens after span removal (heavily-duplicated docs — the sf0.01
    * corpus is bimodal: ~95% fully kept, a planted near-dup tail at
    * 0-5000 bp). One constant for the Spark entry AND the DuckDB text;
    * private[graft] for DriftGuardSpec's still-splits assertion. */
  private[graft] val SpanKeepBp = 5000L

  /** Per-document integer surprisal over a joined (doc_id, c2, c1) bigram
    * stream — the Spark half of `pplOracle`'s sc stage: each bigram is
    * worth `length(bin(c1 DIV c2))` bits (floor(log₂)+1, string-wise —
    * no libm log in the hashed path). */
  private[graft] def pplAgg(joined: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    joined.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(expr("c1 DIV c2"))).cast("long")).as("bits_total"))

  /** UNGATED per-doc perplexity frame (doc_id, n_bigrams, bits_total) —
    * the q170/q177 scoring stage before any threshold; private[graft] so
    * DriftGuardSpec can assert the gate still splits a regenerated
    * corpus. */
  private[graft] def pplScoresAll(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    val st = Checkpoints.cut(TextAnalysis.lmKeyStream(d), eager = false)
    val c2 = st.groupBy("k").agg(count(lit(1)).as("c2"))
    val c1 = st.groupBy("k1").agg(count(lit(1)).as("c1"))
    pplAgg(st.join(c2, Seq("k")).join(c1, Seq("k1")))
  }

  /** Shared DuckDB CTE chain replaying the portable MinHash+LSH pipeline
    * (q82 symmetric pairs, q124 incremental cross pairs): md5 shingle
    * hashes, affine-permutation signatures, string band keys, total-
    * occupancy bucket cap, distinct-set verification. Every LSH parameter
    * interpolated from the SAME constants the Spark side uses
    * (TextDedup.Portable*, DefaultMaxBucketSize, affineCoeffs) — changing
    * a default cannot silently desynchronize the texts. Ends with CTE
    * `v(id_a, id_b, n_inter, n_union)` over pairs with id_a < id_b. */
  private[graft] def minhashReplayCtes: String = {
    val nGram = graft.operators.TextDedup.PortableShingleN
    val numHashes = graft.operators.TextDedup.PortableNumHashes
    val bands = graft.operators.TextDedup.PortableBands
    val maxBucket = graft.operators.TextDedup.DefaultMaxBucketSize
    val rpb = numHashes / bands
    val coeffs = graft.operators.TextDedup.affineCoeffs(numHashes)
    val aList = coeffs.map(_._1).mkString("[", ", ", "]")
    val bList = coeffs.map(_._2).mkString("[", ", ", "]")
    "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"hsx AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks) - $nGram, 0) + 1), " +
      s"i -> CAST(('0x' || substr(md5(array_to_string(toks[i+1:i+$nGram], ' ')), 1, 8)) AS BIGINT))) AS hs FROM t), " +
      // empty shingle sets dropped before banding (mirrors the Spark
      // guard): they share one degenerate all-sentinel bucket and pair
      // as 0/0 "near-dups"
      s"sigx AS (SELECT doc_id, hs, list_transform(range(1, ${numHashes + 1}), i -> " +
      s"list_min(list_transform(hs, h -> (h * ($aList)[i] + ($bList)[i]) % 2305843009213693951))) AS sig FROM hsx WHERE len(hs) > 0), " +
      s"banded0 AS (SELECT doc_id, hs, b, array_to_string(sig[$rpb*b+1:$rpb*b+$rpb], '-') AS bkey FROM sigx, (SELECT unnest(range(0, $bands)) AS b) bs), " +
      // bsz ≤ cap mirrors the Spark side's between(2, maxBucketSize)
      // degenerate-bucket guard (TextDedup.DefaultMaxBucketSize — one
      // constant for both texts; no tested-SF bucket comes near it)
      "banded AS (SELECT *, COUNT(*) OVER (PARTITION BY b, bkey) AS bsz FROM banded0), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, a.hs AS ha, c.hs AS hb " +
      s"FROM banded a JOIN banded c ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id WHERE a.bsz <= $maxBucket), " +
      "v AS (SELECT id_a, id_b, len(list_intersect(ha, hb)) AS n_inter, len(list_distinct(list_concat(ha, hb))) AS n_union FROM pairs)"
  }

  /** Tier-E training-data-pipeline operators (SURVEY.md §2.4 + build
    * brief): dedup, similarity search, text analysis, multimodal plumbing.
    * DataFrame-API implementations; DuckDB oracles where SQL-expressible,
    * rows-only otherwise (floats/engine-specific hashes never hashed). */
  /** q74/q131's shared edge set: consecutive-id integer-jaccard ≥ 0.9
    * pairs. Round 10: tokenize ONCE — the r9 verdict measured ~2 s of
    * q131's time as recomputed `array_distinct(split(...))` because both
    * sides of the shifted self-join re-derived it (the CLAUDE.md
    * anti-pattern). The token frame is lineage-cut once; the self-join
    * then reads the materialized blocks twice instead of re-splitting,
    * and each side's exchange carries (shift key, tokens) exactly once.
    * (A `lag` window would do it in one exchange but with no PARTITION BY
    * — the single-partition shape that dies at scale; the keyed
    * equi-join re-plans to N partitions.) */
  private[graft] def adjacentJaccardPairs(d: DataFrame): DataFrame = {
    val t = Checkpoints.cut(
      d.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("__t")),
      eager = false)
    t.select(col("doc_id").as("id_a"), col("__t").as("ta"))
      .join(t.select((col("doc_id") - 1).as("id_a"), col("__t").as("tb")), Seq("id_a"))
      .filter(size(array_intersect(col("ta"), col("tb"))) * 10 >=
        size(array_union(col("ta"), col("tb"))) * 9)
      .select(col("id_a"), (col("id_a") + 1).as("id_b"))
  }
}
