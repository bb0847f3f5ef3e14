package graft

import graft.operators.{Bpe, Checkpoints, Dsir, Multimodal, NaiveBayes, Similarity, TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2
  * (declared oracle corpus Q01-Q32 + P-layer behaviors + Tier-E extension
  * operators). `oracleSql`: DuckDB-runnable equivalent for every
  * hash-checked entry; entries without an oracle get the driver's weaker
  * rows-only check (non-SQL-expressible ops only).
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the reference's canonical ranking
    * aggregate (prompts.py:28), scan→agg→sort→limit end to end. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Tables.register(spark, dir)
    spark.sql(Corpus.byId("q04_agg_rank").sparkSql)
  }

  private def corpusEntries: Map[String, (SparkSession, String) => DataFrame] =
    Corpus.queries.map { q =>
      q.id -> { (spark: SparkSession, dir: String) =>
        Tables.register(spark, dir)
        spark.sql(q.sparkSql)
      }
    }.toMap

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
  private def embedCountFor(spark: SparkSession, dir: String): Long =
    embedCountCache.computeIfAbsent(dir, d =>
      Tables.table(spark, d, "embeddings").count()).longValue()
  private def embedBitsFor(spark: SparkSession, dir: String): Int =
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
  private def embedTablesFor(bits: Int): Int =
    graft.operators.Similarity.recommendedTablesProbed(bits)
  private def embedProbesFor(bits: Int): Int = bits

  /** Self-sized (tables, bits, probes) for the ANN SEARCH family
    * (q45/q220/q222) — round 16, verdict #4: replaces the hardcoded
    * 4×4+4 with the dir-derived rule the pair family already uses
    * (Similarity.recommendedSearchPoint: occupancy-8 bits, probes =
    * bits, tables holding the declared base point's collision
    * probability). Entries AND the q220/q222 DuckDB texts interpolate
    * the SAME dir-derived triple — the embedBitsFor pattern. */
  private def annSearchPointFor(spark: SparkSession, dir: String): (Int, Int, Int) =
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
  private def bpeMergesFor(spark: SparkSession, dir: String): Seq[Bpe.Merge] =
    bpeMergesCache.computeIfAbsent(dir, d =>
      Bpe.train(Tables.table(spark, d, "documents"), "text", nMerges = 50))

  /** q187's prototype-pruning fraction in basis points: drop the 20%
    * most-prototypical (closest-to-centroid) members of each semantic
    * cluster — the Sorscher et al. 2022 easy-example prune at the D4
    * paper's operating region. One constant for the Spark entry AND the
    * DuckDB text. */
  private val ProtoDropBp = 2000

  /** Oracle texts with every derived constant (embed-LSH width,
    * SemDeDup nlist) computed FROM `dir` — the one generation path
    * every gate uses (Verify, ClusterCheck, the specs). Replaces the
    * r11 `bindOracleDir` + volatile-globals pattern: texts are now a
    * pure function of the dir, so two dirs in one JVM can never bleed
    * constants into each other's texts. */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] =
    oracleTexts(embedBitsFor(spark, dir), semNlistFor(spark, dir),
      bpeMergesFor(spark, dir).map(m => (m.left, m.right)),
      phashChunksFor(spark, dir), annSearchPointFor(spark, dir))

  /** Shared recursive delete for the streaming entries' temp trees
    * (q162/q172/q176) and Verify's stale-dump removal. Null-safe:
    * listFiles returns null on IO errors/races — treat as empty. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Fresh work directory for a sharded entry (q223/q224), removed when
    * the JVM exits: the returned frame scans `workDir/pairs` lazily, so
    * the tree cannot go any sooner. */
  private def shardWorkDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(rmTree(dir))
    dir.toString
  }

  /** q101's per-language mix quotas in basis points — one constant for the
    * Spark entry AND the generated DuckDB text (documents.lang takes
    * exactly these five values, FIXTURES.md). */
  private val MixQuotasBp: Map[String, Int] =
    Map("de" -> 9000, "en" -> 5000, "es" -> 2500, "fr" -> 10000, "zh" -> 1000)

  /** q179's per-language token budget as a PERCENT of that language's own
    * total — self-scaling, so a regenerated corpus can never strand it the
    * way an absolute token count would (the DriftGuard lesson applied at
    * design time: a relative threshold splits every corpus whose languages
    * have >1 document). One constant for the Spark entry AND the DuckDB
    * text. */
  private[graft] val MixBudgetPct = 30L

  /** The q69 md5 split as a scan-local column — a pure function of the
    * id, shared by the leakage family (q178/q181/q182) and spelled
    * identically to `Scale.hashSplit(method = "md5")`. */
  private def mdSplitCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L)) < 80, lit("train")).otherwise(lit("test"))

  /** q178/q181/q182's shared tail: label each verified near-dup pair's
    * ends with the md5 split (zero exchanges on the pair rows), keep
    * cross-split pairs, and project the actionable (leaked test doc,
    * train near-twin) removal list. */
  private def crossSplitPairs(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("sa", mdSplitCol(col("id_a")))
      .withColumn("sb", mdSplitCol(col("id_b")))
      .filter(col("sa") =!= col("sb"))
      .select(
        when(col("sa") === "test", col("id_a")).otherwise(col("id_b")).as("test_doc"),
        when(col("sa") === "test", col("id_b")).otherwise(col("id_a")).as("train_doc"),
        col("n_inter"), col("n_union"))

  private def crossSplitProjection(pairs: DataFrame): DataFrame =
    crossSplitPairs(pairs).orderBy("test_doc", "train_doc").limit(100)

  /** q179/q182/q185's shared priority frame: per-document token count,
    * the q160 deterministic hash priority (quality-weighted: shorter docs
    * hash-rank earlier via the n_chars divisor), the per-language prefix
    * sum in that order (Scale.groupedPrefixSum — range-partition +
    * boundary-carry two-pass, never a low-cardinality partitioned
    * window), and the broadcast-joined per-language totals. Columns:
    * (lang, doc_id, n_toks, cum_toks, tot_toks). */
  private def prioCumFrame(docs: DataFrame): DataFrame = {
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
  private def budgetReport(cumFrame: DataFrame,
                           extraAggs: org.apache.spark.sql.Column*): DataFrame =
    cumFrame
      .filter(col("cum_toks") * 100 <= col("tot_toks") * MixBudgetPct)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (sum("n_toks").as("toks_kept") +: max("tot_toks").as("tot_toks") +: extraAggs): _*)
      .withColumn("kept_bp", expr("toks_kept * 10000L DIV tot_toks"))

  /** q179/q182's shared budget materializer: per language, documents in
    * the q160 priority order until cumulative tokens reach MixBudgetPct%
    * of the language's own total, aggregated to the per-lang budget
    * report. Unordered/unlimited: callers add the total order. */
  private def budgetMixFrame(docs: DataFrame): DataFrame =
    budgetReport(prioCumFrame(docs))

  /** q185's data-constrained upsampling budget as a PERCENT of each
    * language's own total — deliberately > 100 (the q179 regime is
    * budget < corpus; this is the epochs regime, Muennighoff-style
    * repeat-aware scaling). 230% ⇒ every document repeats
    * `230 DIV 100 = 2` full epochs and the highest-priority prefix
    * holding `230 MOD 100 = 30%` of each language's tokens repeats once
    * more. One constant for the Spark entry AND the DuckDB text. */
  private val UpsamplePct = 230L

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

  /** Shared CTE chain replaying the portable embedding-LSH pipeline in
    * DuckDB (q84 pair check, q97 clustering): quantized integer vectors,
    * hyperplanes as a generated VALUES table
    * (Similarity.portableHyperplanes — one source of truth), bucket
    * signatures via sign-bit sums, candidate pairs, integer-dot
    * verification. Ends with CTE `v(id_a, id_b, score)`. */
  private def embedLshReplayCtes(embedBits: Int): String = {
    // embedBits: the caller (oracleTexts) derives it from the SAME dir
    // the Spark entries size against; the table count derives from the
    // bits via the SAME recall-preserving multi-probe rule
    // (embedTablesFor), and the probe width (= bits, embedProbesFor)
    // likewise — so the replay banding is value-identical by
    // construction
    val probes = embedProbesFor(embedBits)
    val planes = graft.operators.Similarity.portableHyperplanes(
      64, embedTablesFor(embedBits), embedBits)
    val vals = planes.zipWithIndex.flatMap { case (tbl, t) =>
      tbl.zipWithIndex.map { case (p, b) =>
        s"($t, $b, ${p.mkString("[", ", ", "]")})"
      }
    }.mkString(", ")
    s"${quantEmbCte("c", "qv")}, " +
      s"hp AS (SELECT * FROM (VALUES $vals) AS x(t, b, h)), " +
      "sc AS (SELECT c.vec_id, hp.t, hp.b, CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * hp.h[i])) AS BIGINT) AS s FROM c, hp), " +
      "bk0 AS (SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bkt FROM sc GROUP BY vec_id, t), " +
      // bsz ≤ cap on the HOME side mirrors the Spark degenerate-bucket
      // guard (TextDedup.DefaultMaxBucketSize); pb is the DIRECTIONAL
      // 1-bit-flip multi-probe key stream (home bucket + each UNSET
      // probe bit flipped to 1 — Similarity.probedBucketKeys), so a
      // Hamming-1 pair is probed exactly once, by its 0-bit member: it
      // survives iff the 1-side member's home bucket is under the cap;
      // a Hamming-0 pair pairs through the shared home bucket — exactly
      // the Spark pair set
      "bk AS (SELECT *, COUNT(*) OVER (PARTITION BY t, bkt) AS bsz FROM bk0), " +
      s"pb AS (SELECT vec_id, t, unnest(list_prepend(bkt, list_transform(list_filter(range(0, $probes), j -> ((bkt >> j) & 1) = 0), j -> bkt | (1::BIGINT << j)))) AS pbkt FROM bk0), " +
      "pr AS (SELECT DISTINCT least(p.vec_id, h.vec_id) AS id_a, greatest(p.vec_id, h.vec_id) AS id_b " +
      "FROM pb p JOIN bk h ON h.t = p.t AND h.bkt = p.pbkt AND h.vec_id <> p.vec_id " +
      s"WHERE h.bsz <= ${graft.operators.TextDedup.DefaultMaxBucketSize}), " +
      "v AS (SELECT id_a, id_b, CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) AS score " +
      "FROM pr JOIN c ca ON ca.vec_id = pr.id_a JOIN c cb ON cb.vec_id = pr.id_b)"
  }

  /** Shared DuckDB replay for the SemDeDup family (q186/q187): quantize,
    * take the `semNlist` lowest-id vectors as centroids, assign each
    * vector to its integer-dot argmax centroid (ROW_NUMBER by s DESC,
    * cid — the max_by(struct(s, -cid)) spelling), and carry cluster
    * sizes. All BIGINT arithmetic over identical inputs — exact
    * cross-engine (the q84 quantization rule). */
  private def semClusterCtes(semNlist: Int): String =
    s"${quantEmbCte("c", "qv")}, " +
      s"cent AS (SELECT vec_id AS cid, qv AS cv FROM c ORDER BY vec_id LIMIT $semNlist), " +
      "sc AS (SELECT c.vec_id, cent.cid, CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * cent.cv[i])) AS BIGINT) AS s FROM c, cent), " +
      "asg AS (SELECT vec_id, cid, s FROM (SELECT vec_id, cid, s, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r FROM sc) WHERE r = 1), " +
      "csz AS (SELECT cid, COUNT(*) AS n_members FROM asg GROUP BY cid)"

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

  /** q209/q210's shared oracle CTE: the image-typed ASCII documents with
    * the synthetic generator's dimensions (w = 4 + id%13, h = 3 + id%7 —
    * `Multimodal.syntheticMedia`'s one spelling) and the byte length the
    * pixel replay indexes modulo. DuckDB spells byte-length `strlen`
    * where Spark spells it `octet_length` (dual-text allowlisted). */
  private val phashImgCte: String =
    "img AS (SELECT doc_id, text, strlen(text) AS len, " +
      "4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h " +
      "FROM documents WHERE doc_id % 3 = 0 AND length(text) = strlen(text))"

  /** The dHash64 replay over `img`: bit b (gx = b%8, gy = b DIV 8) set
    * iff pixel(sample(gx+1), sample(gy)) > pixel(sample(gx), sample(gy)),
    * where pixel(x, y) = ascii byte at (x + y·7) mod len and the sample
    * lattice is the 9×8 floor grid — integer arithmetic both engines
    * evaluate identically (prototyped value-equal against a scalar
    * reference before wiring). Bit 63 must be the min-long literal:
    * DuckDB's (1::BIGINT << 63) raises Out of Range. */
  private val phashExprSql: String =
    "CAST(list_sum(list_transform(range(0, 64), b -> " +
      "CASE WHEN ascii(substr(text, CAST((((b % 8 + 1) * w // 9) + ((b // 8) * h // 8) * 7) % len AS INT) + 1, 1)) " +
      "> ascii(substr(text, CAST((((b % 8) * w // 9) + ((b // 8) * h // 8) * 7) % len AS INT) + 1, 1)) " +
      "THEN (CASE WHEN b = 63 THEN (-9223372036854775807::BIGINT - 1) ELSE (1::BIGINT << b) END) " +
      "ELSE 0::BIGINT END)) AS BIGINT)"

  /** The q209/q210 image fixture: image-typed rows of the synthetic
    * media table whose source document is pure ASCII (byte length =
    * char length — the precondition for the oracle's ascii(substr(...))
    * pixel replay; the current corpus is entirely ASCII, so this is a
    * regen guard, not a filter). The ASCII semi-join runs BEFORE any
    * decode so non-replayable rows never cost codec work. */
  /** Materialize a synthesized media frame once (r17 optimization round):
    * the perceptual pair/search entries derive BOTH a direct branch and a
    * resize/transcode-variant branch from the same synthesized rows, and
    * without a cut each branch re-runs the codec ENCODE pipeline (the
    * before-plans show the documents scan + encode subtree twice under
    * the union). localCheckpoint keeps the blobs executor-local — no
    * payload crosses an exchange, the same discipline as the q82 md5
    * cut; the Bench inter-entry unpersist releases the blocks. */
  private def cutMedia(ds: Dataset[Multimodal.MediaRow]): Dataset[Multimodal.MediaRow] =
    Checkpoints.cut(ds.toDF(), eager = false)
      .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])

  private def phashAsciiImages(spark: SparkSession,
                               dir: String): Dataset[Multimodal.MediaRow] = {
    val media = Multimodal.syntheticMedia(spark, dir) // registers documents
    val ascii = spark.table("documents")
      .filter(length(col("text")) === octet_length(col("text")))
      .select(col("doc_id").as("media_id"))
    media.filter(col("media_type") === "image")
      .join(broadcast(ascii), Seq("media_id"), "left_semi")
      .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
  }

  /** q211/q213's audio fixture: audio-typed rows of the synthetic media
    * table whose source document is pure ASCII and ≥ 65 bytes — the
    * aHash lattice precondition (shorter streams have empty floor
    * windows, which the oracle's list_sum reads as NULL); both
    * preconditions mirrored in the `aud` CTE. */
  private def ahashAsciiAudio(spark: SparkSession,
                              dir: String): Dataset[Multimodal.MediaRow] = {
    val media = Multimodal.syntheticMedia(spark, dir) // registers documents
    val ok = spark.table("documents")
      .filter(length(col("text")) === octet_length(col("text")) &&
        octet_length(col("text")) >= 65)
      .select(col("doc_id").as("media_id"))
    media.filter(col("media_type") === "audio")
      .join(broadcast(ok), Seq("media_id"), "left_semi")
      .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
  }

  /** q212/q214's video fixture — ASCII precondition only (the pixel
    * replay indexes bytes; every frame count the generator emits is
    * ≥ 2, no length bound needed beyond non-empty). */
  private def vhashAsciiVideo(spark: SparkSession,
                              dir: String): Dataset[Multimodal.MediaRow] = {
    val media = Multimodal.syntheticMedia(spark, dir)
    val ok = spark.table("documents")
      .filter(length(col("text")) === octet_length(col("text")) &&
        octet_length(col("text")) >= 1)
      .select(col("doc_id").as("media_id"))
    media.filter(col("media_type") === "video")
      .join(broadcast(ok), Seq("media_id"), "left_semi")
      .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
  }

  /** q211/q213's shared oracle CTE: the audio-typed ASCII documents with
    * the aHash length precondition. */
  private val ahashAudCte: String =
    "aud AS (SELECT doc_id, text, strlen(text) AS len FROM documents " +
      "WHERE doc_id % 3 = 1 AND length(text) = strlen(text) AND strlen(text) >= 65)"

  /** The aHash64 replay over `aud`: the synthetic audio's PCM samples
    * ARE the document bytes (`Multimodal.syntheticMedia` →
    * `encodeWav(8000, text)`), so window k's sum is a byte-range
    * list_sum on the floor lattice and bit b compares windows b+1 and b
    * (1-based list indices b+2 / b+1). len ≥ 65 (the CTE guard) keeps
    * every window non-empty. Bit 63 spelled as min-long (cf.
    * phashExprSql). */
  private val ahashSumsCte: String =
    "aws AS (SELECT doc_id, list_transform(range(0, 65), k -> " +
      "list_sum(list_transform(range(k * len // 65, (k + 1) * len // 65), " +
      "i -> CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS BIGINT)))) AS s FROM aud)"
  private val ahashExprSql: String =
    "CAST(list_sum(list_transform(range(0, 64), b -> " +
      "CASE WHEN s[CAST(b AS INT) + 2] > s[CAST(b AS INT) + 1] " +
      "THEN (CASE WHEN b = 63 THEN (-9223372036854775807::BIGINT - 1) ELSE (1::BIGINT << b) END) " +
      "ELSE 0::BIGINT END)) AS BIGINT)"

  /** q212/q214's shared oracle CTE: the video-typed ASCII documents with
    * the synthetic generator's dimensions (w = 4 + id%9, h = 3 + id%5,
    * nf = 2 + id%4 — `Multimodal.syntheticMedia`'s one spelling). */
  private val vhashVidCte: String =
    "vid AS (SELECT doc_id, text, strlen(text) AS len, " +
      "4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h, 2 + doc_id % 4 AS nf " +
      "FROM documents WHERE doc_id % 3 = 2 AND length(text) = strlen(text) AND strlen(text) >= 1)"

  /** The vHash64 replay over `vid`: frame f's pixel(x, y) is
    * text[((x + f) + y·7) mod len] (the generator's px(x + f, y)), the
    * 9×8 sample lattice is the dHash floor grid, samples are SUMMED over
    * frames with a nested lambda, and bit b compares the summed right
    * and left samples. */
  private val vhashExprSql: String =
    "CAST(list_sum(list_transform(range(0, 64), b -> " +
      "CASE WHEN " +
      "list_sum(list_transform(range(0, nf), f -> CAST(ascii(substr(text, " +
      "CAST((((b % 8 + 1) * w // 9 + f) + ((b // 8) * h // 8) * 7) % len AS INT) + 1, 1)) AS BIGINT))) " +
      "> list_sum(list_transform(range(0, nf), f -> CAST(ascii(substr(text, " +
      "CAST((((b % 8) * w // 9 + f) + ((b // 8) * h // 8) * 7) % len AS INT) + 1, 1)) AS BIGINT))) " +
      "THEN (CASE WHEN b = 63 THEN (-9223372036854775807::BIGINT - 1) ELSE (1::BIGINT << b) END) " +
      "ELSE 0::BIGINT END)) AS BIGINT)"

  /** The combination-banding replay over a `ph(media_id, phash)` CTE —
    * q210's tail (packed combo keys → bucket cap → min-combo single
    * emission → exact hamming), factored so the image/audio/video
    * planted-pair replays share one spelling. `extraWhere` restricts the
    * final pair set (the q217/q218 cross forms); `bszExpr` is the
    * bucket-occupancy window (combined COUNT(*) by default;
    * existing-side-only CASE-sum for q218's stateless streaming
    * contract — cf. simhash32ReplaySql). */
  private def phashBandingReplaySql: String = phashBandingReplaySql("")
  private def phashBandingReplaySql(extraWhere: String): String =
    phashBandingReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)", extraWhere)
  private def phashBandingReplaySql(bszExpr: String, extraWhere: String): String =
    phashBandingReplaySql(bszExpr, extraWhere,
      graft.operators.TextDedup.SimhashIntact, maxHamming = 3)
  private def phashBandingReplaySql(bszExpr: String, extraWhere: String,
                                    intact: Int, maxHamming: Int): String = {
    val chunkBits = 64 / graft.operators.TextDedup.SimhashChunks
    val nChunks = graft.operators.TextDedup.SimhashChunks
    val mask = (1L << chunkBits) - 1
    val comboVals = graft.operators.TextDedup.simhashCombosOf(intact).zipWithIndex
      .map { case (cs, j) => s"($j, ${cs.mkString("[", ", ", "]")})" }.mkString(", ")
    val minCombo = graft.operators.TextDedup.simhashMinComboByMaskOf(intact)
      .mkString("[", ", ", "]")
    s"combos AS (SELECT * FROM (VALUES $comboVals) AS x(j, cs)), " +
      "chunks0 AS (SELECT media_id, phash, j, " +
      s"CAST(list_sum(list_transform(range(0, $intact), " +
      s"i -> ((phash >> ($chunkBits * cs[i+1])) & $mask) * (1::BIGINT << ($chunkBits * i)))) AS BIGINT) AS ckey " +
      "FROM ph, combos), " +
      s"chunks AS (SELECT *, $bszExpr AS bsz FROM chunks0), " +
      "pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b, a.phash AS sa, b.phash AS sb " +
      "FROM chunks a JOIN chunks b ON a.j = b.j AND a.ckey = b.ckey AND a.media_id < b.media_id " +
      s"WHERE a.bsz <= ${graft.operators.TextDedup.DefaultMaxBucketSize} " +
      s"AND a.j = ($minCombo)[CAST(list_sum(list_transform(range(0, $nChunks), " +
      s"c -> CASE WHEN ((xor(a.phash, b.phash) >> ($chunkBits * c)) & $mask) = 0 THEN (1 << c) ELSE 0 END)) AS INT) + 1]) " +
      "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming " +
      s"FROM pairs WHERE bit_count(xor(sa, sb)) <= $maxHamming$extraWhere " +
      "ORDER BY id_a, id_b LIMIT 100"
  }

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
      s"FROM pairs WHERE bit_count(xor(sa, sb)) <= 3$extraWhere " +
      "ORDER BY id_a, id_b LIMIT 100"
  }

  /** q199's frequency head: the Zipf fit runs over the top-ZipfHead
    * terms per language (the power-law HEAD — standard practice, and
    * what keeps the per-lang rank window WindowGroupLimit-prunable and
    * the regression sums far from BIGINT overflow: with x ≤ bits(10³)
    * and y ≤ bits(10¹⁹), |num|·10⁴ stays < 2⁶³ at any corpus scale).
    * One constant for the Spark entry AND the DuckDB text. */
  private[graft] val ZipfHead = 1000L

  /** q190/q193's split WITHIN the labeled train set (doc_id <
    * IncrementalSplitId): counts from [0, NbInnerSplitId) merged with
    * counts from [NbInnerSplitId, IncrementalSplitId) must equal the
    * full-train counts — the additivity identity the incremental
    * classifier/DSIR twins demonstrate Spark-side. */
  private val NbInnerSplitId = 200L

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

  /** Shared prediction output of q188/q190/q191: per-doc predicted
    * label, its total surprisal bits, and the runner-up margin (the
    * confidence a downstream gate thresholds on). */
  private def nbPredOut(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("lang"), col("pred_label").as("pred_lang"),
        col("best_bits"), (col("second_bits") - col("best_bits")).as("margin"))
      .orderBy("doc_id").limit(100)

  /** q197/q198's shared admission tail: batch-vs-corpus verified pairs +
    * corpus clusters → per-batch-doc inherited representative (MIN over
    * the twins' cluster reps, corpus-singleton twins via COALESCE; own
    * doc_id when novel) → the q69 md5 split on the representative. A doc
    * that near-dups an existing cluster therefore joins that cluster's
    * side — the admission-time form of q195's guarantee. Batch-internal
    * pairs are out of scope by design (the incremental contract:
    * corpus-relative assignment now, full q195 consistency at the next
    * compaction). */
  private def admissionOut(batch: DataFrame, cross: DataFrame, comp: DataFrame): DataFrame = {
    val rep = cross
      .join(comp.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left")
      .select(col("id_b").as("doc_id"), coalesce(col("cluster"), col("id_a")).as("r"))
      .groupBy("doc_id").agg(min("r").as("rep"), count(lit(1)).as("n_twins"))
    graft.operators.Scale.hashSplit(
        batch.select("doc_id").join(rep, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep"), col("doc_id")).as("rep"),
            coalesce(col("n_twins"), lit(0L)).as("n_twins")),
        "rep", 80, method = "md5")
      .select("doc_id", "rep", "split", "n_twins")
      .orderBy("doc_id").limit(100)
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
    graft.functions.PortableShingleHash.register(spark)
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
    val st = Checkpoints.cut(lmKeyStreamToks(toks, "__t"), eager = false)
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
  private def composeGates(base: DataFrame, span: DataFrame,
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
  private def gateStatics(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, NaiveBayes.NbModel) = {
    val d = Tables.table(spark, dir, "documents")
    graft.functions.PortableShingleHash.register(spark)
    val spans = Checkpoints.cut(
      TextDedup.spanIndex(d, "doc_id", "text").filter(col("__n") >= 2), eager = false)
    val st = Checkpoints.cut(lmKeyStream(d), eager = false)
    val c2 = Checkpoints.cut(st.groupBy("k").agg(count(lit(1)).as("c2")), eager = false)
    val c1 = Checkpoints.cut(st.groupBy("k1").agg(count(lit(1)).as("c1")), eager = false)
    val m = trainSplitNbModel(spark, dir)
    (spans, c2, c1, m)
  }

  /** The per-micro-batch composed gate decision shared by q204/q206:
    * score ONE batch against the static structures, hand
    * (doc_id, lang, n_gates) to `write` — the batch-local form of
    * gateDecisions, with the same left-join + coalesce
    * unscored-fails-its-gate rule. The trigger's own lineage cuts are
    * freed once `write` returns; the static cuts stay for later
    * triggers. */
  private def writeGateBatchDecisions(b: DataFrame, spans: DataFrame, c2: DataFrame,
                                      c1: DataFrame, m: NaiveBayes.NbModel)
                                     (write: DataFrame => Unit): Unit = {
    // the batch-local form of gateDecisions' shared token frame (r18):
    // inside foreachBatch `b` is a plain batch frame, so the cut is legal
    // — one tokenize of the micro-batch instead of three per trigger
    val bt = Checkpoints.cut(
      b.select(col("doc_id"), col("lang"),
        TextDedup.tokens(col("text")).as("__t")), eager = false)
    val span = TextDedup.spanRemovalStatsAgainstIndexToks(bt, spans, "doc_id", "__t")
      .select(col("doc_id"), (col("kept_bp") >= SpanKeepBp).cast("long").as("g_span"))
    val ppl = pplAgg(lmKeyStreamToks(bt, "__t").join(c2, Seq("k")).join(c1, Seq("k1")))
      .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .select(col("doc_id"), (col("ppl_bp") <= PplGateBp).cast("long").as("g_ppl"))
    val nb = NaiveBayes.scoreToks(bt, m, "doc_id", "__t")
      .join(bt.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), (col("pred_label") === col("lang")).cast("long").as("g_nb"))
    val decided = composeGates(bt.select("doc_id", "lang"), span, ppl, nb)
    try write(decided)
    finally {
      // this trigger's cuts: the token frame and NaiveBayes' count frame
      val statics = Seq(spans, c2, c1).flatMap(Checkpoints.cuts).toSet
      Checkpoints.cuts(decided).filterNot(statics).foreach(_.unpersist(blocking = false))
    }
  }

  /** q203/q206's pinned reload schema — the production ingest path reads
    * shards with NO inference pass. */
  private val releaseReloadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  /** q203's per-band manifest columns over rows carrying (n_gates, lang,
    * doc_id, text): doc count, whitespace-token total, and the XOR of a
    * 32-bit md5 content signature over (doc_id ':' text) — XOR is
    * order-independent and exact, so the hashed manifest proves CONTENT
    * equality of whatever frame it aggregates (for the ship band, the
    * RELOADED shards — the write→read round-trip is inside the hash). */
  private def bandManifest(rows: DataFrame): DataFrame =
    rows
      .withColumn("__nt", size(split(col("text"), " ")).cast("long"))
      .withColumn("__sig",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))),
          1, 8), 16, 10).cast("long"))
      .groupBy("n_gates", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_toks"),
        expr("CAST(bit_xor(__sig) AS BIGINT)").as("xor_sig"))

  /** Corpus-side near-dup clusters over the q82 portable-minhash verified
    * pairs — q197/q198's static cluster table. */
  private def corpusClusters(corpus: DataFrame): DataFrame =
    TextDedup.nearDupClusters(
      TextDedup.portablePairStats(corpus, "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .select("id_a", "id_b"))

  /** Shared DSIR output tail of q192-q194. */
  private def dsirOut(scored: DataFrame, docs: DataFrame): DataFrame =
    scored.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_feat"), col("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id")).limit(100)

  /** Model CTEs of the Naive Bayes replay (q188-q191): train token
    * stream → capped vocab (count DESC, token tie-break — the Spark
    * side's exact ordering) → per-(lang, token) counts, in-vocab label
    * totals, doc-count priors → integer-bit label stats. bits0 = the
    * unseen-token cost length(bin((nl+V)·2¹⁰)); prior = length(bin(
    * (D+L)·2¹⁰ // (nd+1))); delta = the SEEN-pair rebate below bits0 —
    * all the q148 leading-bit spelling (a libm log in a hashed cell is
    * the banned cross-engine ulp hazard). */
  private def nbCtes: String =
    "tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      s"ttk0 AS (SELECT tk.doc_id, d.lang, tk.tok FROM tk JOIN documents d ON tk.doc_id = d.doc_id WHERE tk.doc_id < $IncrementalSplitId), " +
      "voc AS (SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM ttk0 GROUP BY tok " +
      s"ORDER BY n DESC, tok LIMIT ${NaiveBayes.DefaultVocab})), " +
      "ttk AS (SELECT ttk0.doc_id, ttk0.lang, ttk0.tok FROM ttk0 JOIN voc ON ttk0.tok = voc.tok), " +
      "tc AS (SELECT lang, tok, COUNT(*) AS n FROM ttk GROUP BY lang, tok), " +
      "nl AS (SELECT lang, COUNT(*) AS nl FROM ttk GROUP BY lang), " +
      s"dl AS (SELECT lang, COUNT(*) AS nd FROM documents WHERE doc_id < $IncrementalSplitId GROUP BY lang), " +
      "ls AS (SELECT nl.lang, " +
      "CAST(length(bin((nl.nl + (SELECT COUNT(*) FROM voc)) * 1024)) AS BIGINT) AS bits0, " +
      s"CAST(length(bin(((SELECT COUNT(*) FROM documents WHERE doc_id < $IncrementalSplitId) + " +
      "(SELECT COUNT(*) FROM dl)) * 1024 // (dl.nd + 1))) AS BIGINT) AS prior_bits " +
      "FROM nl JOIN dl ON nl.lang = dl.lang), " +
      "tcd AS (SELECT tc.lang, tc.tok, " +
      "CAST(length(bin((nl.nl + (SELECT COUNT(*) FROM voc)) * 1024)) - " +
      "length(bin((nl.nl + (SELECT COUNT(*) FROM voc)) * 1024 // (tc.n + 1))) AS BIGINT) AS delta " +
      "FROM tc JOIN nl ON tc.lang = nl.lang)"

  /** Scoring CTEs of the Naive Bayes replay: per-doc in-vocab token
    * counts → surprisal per (doc, label) via the inner-join rebate
    * rearrangement → argmin prediction + runner-up. `scoreFilter`
    * restricts the SCORED documents (q190/q191 score only the incoming
    * batch; the model CTEs always aggregate the full train split, which
    * equals the Spark side's merged artifact on the closed input — the
    * q161 additivity identity). */
  private def nbScoreCtes(scoreFilter: String): String =
    s"dtok AS (SELECT tk.doc_id, tk.tok, COUNT(*) AS cnt FROM tk JOIN voc ON tk.tok = voc.tok $scoreFilter GROUP BY tk.doc_id, tk.tok), " +
      "m AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS m FROM dtok GROUP BY doc_id), " +
      "adj AS (SELECT dtok.doc_id, tcd.lang, CAST(SUM(dtok.cnt * tcd.delta) AS BIGINT) AS adj " +
      "FROM dtok JOIN tcd ON dtok.tok = tcd.tok GROUP BY dtok.doc_id, tcd.lang), " +
      "sc AS (SELECT m.doc_id, ls.lang AS cl, m.m * ls.bits0 + ls.prior_bits - COALESCE(adj.adj, 0) AS score " +
      "FROM m CROSS JOIN ls LEFT JOIN adj ON adj.doc_id = m.doc_id AND adj.lang = ls.lang), " +
      "rk AS (SELECT doc_id, cl, score, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score, cl) AS rn FROM sc), " +
      "pr AS (SELECT doc_id, MAX(CASE WHEN rn = 1 THEN cl END) AS pred_lang, " +
      "MAX(CASE WHEN rn = 1 THEN score END) AS best_bits, " +
      "MAX(CASE WHEN rn = 2 THEN score END) AS second_bits FROM rk GROUP BY doc_id)"

  private def nbOracle(scoreFilter: String): String =
    s"WITH $nbCtes, ${nbScoreCtes(scoreFilter)} " +
      "SELECT pr.doc_id, d.lang, pr.pred_lang, CAST(pr.best_bits AS BIGINT) AS best_bits, " +
      "CAST(pr.second_bits - pr.best_bits AS BIGINT) AS margin " +
      "FROM pr JOIN documents d ON pr.doc_id = d.doc_id ORDER BY pr.doc_id LIMIT 100"

  /** Shared DuckDB replay for the DSIR family (q192-q194): hashed-bigram
    * buckets (the pplOracle md5-prefix hash mod Dsir.Buckets), train
    * target/raw histograms, basis-point normalization (overflow-safe at
    * any corpus scale — totals never multiply each other), per-bucket
    * integer-bit log ratio minus bits(2¹⁰) = 11. `scoreFilter` restricts
    * the SCORED documents (q193/q194 score only the incoming batch; the
    * histogram CTEs aggregate the full train split = the merged
    * histograms on the closed input). */
  private def dsirOracle(scoreFilter: String): String =
    s"WITH ${dsirScoreCtes(scoreFilter)} " +
      "SELECT sc.doc_id, d.lang, sc.n_feat, sc.dsir_score " +
      "FROM sc JOIN documents d ON sc.doc_id = d.doc_id " +
      "ORDER BY sc.dsir_score DESC, sc.doc_id LIMIT 100"

  /** The DSIR replay's CTE body through the per-doc score table `sc` —
    * shared by q192-q194's ranking tail and q196's budget tail. */
  private def dsirScoreCtes(scoreFilter: String): String =
    "dtoks AS (SELECT doc_id, t FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) WHERE len(t) >= 2), " +
      s"bg AS (SELECT doc_id, CAST(('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8)) AS BIGINT) % ${Dsir.Buckets} AS f " +
      "FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM dtoks)), " +
      s"tgt AS (SELECT f, COUNT(*) AS tn FROM bg JOIN documents d ON bg.doc_id = d.doc_id " +
      s"WHERE d.lang = '$DsirTargetLang' AND bg.doc_id < $IncrementalSplitId GROUP BY f), " +
      s"rawc AS (SELECT f, COUNT(*) AS rn FROM bg WHERE doc_id < $IncrementalSplitId GROUP BY f), " +
      "w AS (SELECT rawc.f, " +
      "CAST(length(bin(((COALESCE(tgt.tn, 0) * 10000 // (SELECT CAST(SUM(tn) AS BIGINT) FROM tgt)) + 1) * 1024 " +
      "// ((rawc.rn * 10000 // (SELECT CAST(SUM(rn) AS BIGINT) FROM rawc)) + 1))) AS BIGINT) - 11 AS wb " +
      "FROM rawc LEFT JOIN tgt ON rawc.f = tgt.f), " +
      s"df AS (SELECT doc_id, f, COUNT(*) AS cnt FROM bg $scoreFilter GROUP BY doc_id, f), " +
      "sc AS (SELECT df.doc_id, CAST(SUM(df.cnt) AS BIGINT) AS n_feat, " +
      "CAST(SUM(df.cnt * w.wb) AS BIGINT) AS dsir_score " +
      "FROM df JOIN w ON df.f = w.f GROUP BY df.doc_id)"

  /** q197/q198's shared DuckDB replay: the q82 minhash pipeline's
    * verified pairs restricted to the corpus (→ recursive closure →
    * cluster reps) and to the batch-vs-corpus boundary (→ per-batch-doc
    * inherited rep via MIN over twins' clusters), then the q69 md5 CASE
    * on the representative. Restricting the GLOBAL replay's pair set
    * equals the Spark side's corpus-only/asymmetric pipelines because
    * bucket membership is pairwise (and DriftGuardSpec holds occupancy
    * under cap, so the cap never truncates one side only — the q124
    * equivalence). */
  private def admissionOracle: String =
    s"WITH RECURSIVE $minhashReplayCtes, " +
      "vv AS (SELECT id_a, id_b FROM v WHERE n_inter * 10 >= n_union * 9), " +
      s"cp AS (SELECT id_a, id_b FROM vv WHERE id_b < $IncrementalSplitId), " +
      "aedges AS (SELECT id_a AS src, id_b AS dst FROM cp UNION ALL SELECT id_b, id_a FROM cp), " +
      "areach(id, lbl) AS (SELECT src, src FROM aedges " +
      "UNION SELECT e.src, r.lbl FROM aedges e JOIN areach r ON r.id = e.dst), " +
      "acomp AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM areach GROUP BY id), " +
      s"cx AS (SELECT id_a, id_b FROM vv WHERE id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId), " +
      "arep AS (SELECT cx.id_b AS doc_id, MIN(COALESCE(c.cluster, cx.id_a)) AS rep, COUNT(*) AS n_twins " +
      "FROM cx LEFT JOIN acomp c ON c.doc_id = cx.id_a GROUP BY cx.id_b), " +
      "aout AS (SELECT d.doc_id, COALESCE(r.rep, d.doc_id) AS rep, " +
      "CAST(COALESCE(r.n_twins, 0) AS BIGINT) AS n_twins " +
      s"FROM documents d LEFT JOIN arep r ON r.doc_id = d.doc_id WHERE d.doc_id >= $IncrementalSplitId) " +
      "SELECT doc_id, rep, CASE WHEN " +
      "CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
      "THEN 'train' ELSE 'test' END AS split, n_twins " +
      "FROM aout ORDER BY doc_id LIMIT 100"

  /** The adjacent-Jaccard near-dup closure shared by the q180 and q195
    * replays: verified adjacent pairs → undirected edges → recursive
    * reachability → component = min reachable doc_id. */
  private def adjClusterCtes: String =
    "pairs AS (" +
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
      "), comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id)"

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
  private def pplOracle(scoreFilter: String): String =
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
  private def pplCtes(px: String, scoreFilter: String): String =
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

  /** The bigram-LM family's (doc_id, k, k1) key stream: k = fused 32-bit
    * hash of the bigram, k1 = fused hash of its prefix token. Both hash
    * arrays are computed ONCE per document row and zipped BEFORE the
    * explode, so each output row carries two longs — the first spelling
    * carried the whole width-1 array through the explode (≈ array-length
    * copies per document, ~84M longs at sf0.1) and that payload
    * duplication was 2–3× the family's entire runtime (round-10
    * profile, ProfileQ162). slice keeps the n−1 prefix positions, which
    * is exactly the width-2 array's length. */
  private def lmKeyStream(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lmKeyStreamToks(d.select(col("doc_id"), split(col("text"), " ").as("t")), "t")

  /** [[lmKeyStream]] over a PRE-TOKENIZED frame (doc_id, tokCol array) —
    * the gate-ensemble form (r18: one tokenize pass for span/ppl/NB). */
  private def lmKeyStreamToks(d: org.apache.spark.sql.DataFrame,
                              tokCol: String): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), col(tokCol).as("t")).filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        call_function("portable_shingle_hash", col("t"), lit(2)).as("h2"),
        expr("slice(portable_shingle_hash(t, 1), 1, size(t) - 1)").as("h1p"))
      .select(col("doc_id"), explode(arrays_zip(col("h2"), col("h1p"))).as("z"))
      .select(col("doc_id"), col("z.h2").as("k"), col("z.h1p").as("k1"))

  /** q173/q174's packed-occurrence constant — TextDedup.SpanPosPack
    * interpolated (the pack is part of the canonical-occurrence
    * definition both engines MIN over). */
  private val SpanPosPackSql = TextDedup.SpanPosPack

  /** Shared occurrence CTE for the span-dedup replays (q173/q174): every
    * k-token window of every ≥k-token document as (doc_id, pos 0-based,
    * 32-bit md5 hash) — the composed spelling of the fused
    * PortableShingleHash at k = TextDedup.SpanK. */
  private def spanOccCtes: String = {
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
  private def quantEmbCte(name: String, vcol: String): String =
    s"$name AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS $vcol FROM embeddings)"

  /** The span-removal chain's CTE body (…${px}rm = per-doc removed
    * count) with every CTE name carrying prefix `px` — one spelling for
    * the q174-q176 replays (px = "") and the composed q201 (px = "e",
    * whose NB chain already owns the bare names). */
  private def spanRemovalCtes(px: String): String =
    s"${px}sp AS (SELECT h, COUNT(*) AS n, MIN(doc_id * $SpanPosPackSql + pos) AS canon " +
      "FROM occ GROUP BY h), " +
      s"${px}rme AS (SELECT occ.doc_id AS doc_id, " +
      s"unnest(generate_series(occ.pos, occ.pos + ${TextDedup.SpanK - 1})) AS p " +
      s"FROM occ JOIN ${px}sp ON occ.h = ${px}sp.h " +
      s"WHERE ${px}sp.n >= 2 AND occ.doc_id * $SpanPosPackSql + occ.pos <> ${px}sp.canon), " +
      s"${px}rm AS (SELECT doc_id, COUNT(DISTINCT p) AS nr FROM ${px}rme GROUP BY doc_id)"

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

  /** The composed gate-ensemble replay (q201/q203/q204): the q188 NB
    * chain (tk/voc/…/pr) + the q174 span chain (toks/occ + e-prefixed
    * removal CTEs) + the q170 ppl chain (pp_-prefixed to avoid the
    * toks/sc name collisions), composed into the per-document
    * `gates(doc_id, lang, n_gates)` table via LEFT JOINs (unscored docs
    * fail their gate — the NaiveBayes.score drop contract made
    * explicit). One spelling for the batch histogram, the release
    * manifest and the streaming twin. */
  private def gateEnsembleCtes: String =
    s"$nbCtes, ${nbScoreCtes("")}, " +
      s"$spanOccCtes, " +
      s"${spanRemovalCtes("e")}, " +
      "eres AS (SELECT d.doc_id, " +
      "CAST((len(string_split(d.text, ' ')) - COALESCE(erm.nr, 0)) * 10000 " +
      "// len(string_split(d.text, ' ')) AS BIGINT) AS kept_bp " +
      "FROM documents d LEFT JOIN erm ON erm.doc_id = d.doc_id), " +
      s"${pplCtes("pp_", "")}, " +
      "gates AS (SELECT d.doc_id, d.lang, " +
      s"(CASE WHEN s.kept_bp >= $SpanKeepBp THEN 1 ELSE 0 END " +
      s"+ CASE WHEN (p.bits_total * 10000) // p.n_bigrams <= $PplGateBp THEN 1 ELSE 0 END " +
      "+ CASE WHEN pr.pred_lang = d.lang THEN 1 ELSE 0 END) AS n_gates " +
      "FROM documents d " +
      "LEFT JOIN eres s ON s.doc_id = d.doc_id " +
      "LEFT JOIN pp_sc p ON p.doc_id = d.doc_id " +
      "LEFT JOIN pr ON pr.doc_id = d.doc_id)"

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
  private def pplAgg(joined: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    joined.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(expr("c1 DIV c2"))).cast("long")).as("bits_total"))

  /** UNGATED per-doc perplexity frame (doc_id, n_bigrams, bits_total) —
    * the q170/q177 scoring stage before any threshold; private[graft] so
    * DriftGuardSpec can assert the gate still splits a regenerated
    * corpus. */
  private[graft] def pplScoresAll(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    graft.functions.PortableShingleHash.register(spark)
    val st = Checkpoints.cut(lmKeyStream(d), eager = false)
    val c2 = st.groupBy("k").agg(count(lit(1)).as("c2"))
    val c1 = st.groupBy("k1").agg(count(lit(1)).as("c1"))
    pplAgg(st.join(c2, Seq("k")).join(c1, Seq("k1")))
  }

  /** Shared gate tail of q170-q172: bits-per-bigram ×10⁴, threshold,
    * total order. */
  private def pplGateTail(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored.withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .filter(col("ppl_bp") <= PplGateBp)
      .select(col("doc_id"), col("n_bigrams"), col("bits_total"), col("ppl_bp"))
      .orderBy(col("ppl_bp").desc, col("doc_id")).limit(100)

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

  /** Shared DuckDB CTE chain replaying the portable MinHash+LSH pipeline
    * (q82 symmetric pairs, q124 incremental cross pairs): md5 shingle
    * hashes, affine-permutation signatures, string band keys, total-
    * occupancy bucket cap, distinct-set verification. Every LSH parameter
    * interpolated from the SAME constants the Spark side uses
    * (TextDedup.Portable*, DefaultMaxBucketSize, affineCoeffs) — changing
    * a default cannot silently desynchronize the texts. Ends with CTE
    * `v(id_a, id_b, n_inter, n_union)` over pairs with id_a < id_b. */
  private def minhashReplayCtes: String = {
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

  /** q178/q181's shared DuckDB tail (cf. crossSplitProjection): the
    * verified-pair minhash replay, per-id md5 split labels, cross-split
    * filter, (test_doc, train_doc) projection. `pairFilter` restricts the
    * pair set (q181: the q124 incremental boundary). */
  private def crossSplitLeakageOracle(pairFilter: String): String =
    s"WITH $minhashReplayCtes, " +
      "sl AS (SELECT id_a, id_b, n_inter, n_union, " +
      "CASE WHEN CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' ELSE 'test' END AS sa, " +
      "CASE WHEN CAST(('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' ELSE 'test' END AS sb " +
      s"FROM v WHERE n_inter * 10 >= n_union * 9 $pairFilter) " +
      "SELECT CASE WHEN sa = 'test' THEN id_a ELSE id_b END AS test_doc, " +
      "CASE WHEN sa = 'test' THEN id_b ELSE id_a END AS train_doc, " +
      "CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
      "FROM sl WHERE sa <> sb ORDER BY test_doc, train_doc LIMIT 100"

  /** P-layer behaviors exercised through the engine path (Runner). */
  private def behaviorEntries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q24 — duplicate-output-column rename (db_utils.py:169-177): the
    // engine must emit k_1, k_2. No oracle (DuckDB forbids dup aliases in
    // this shape) → rows-only check + unit test.
    "q24_dup_rename" -> { (spark, dir) =>
      Tables.register(spark, dir)
      Runner.runOrEmpty(spark,
        "SELECT c.c_nationkey AS k, n.n_nationkey AS k FROM customer c " +
          "JOIN nation n ON c.c_nationkey = n.n_nationkey ORDER BY c.c_custkey LIMIT 100")
    },
    // Q25 — LIMIT injection (app.py:265): engine receives no-LIMIT text and
    // must execute it as `… LIMIT 100`; the oracle text carries the limit.
    "q25_limit_inject" -> { (spark, dir) =>
      Tables.register(spark, dir)
      Runner.runOrEmpty(spark, "SELECT c_custkey FROM customer ORDER BY c_custkey")
    }
  )

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
  private def adjacentJaccardPairs(d: DataFrame): DataFrame = {
    val t = Checkpoints.cut(
      d.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("__t")),
      eager = false)
    t.select(col("doc_id").as("id_a"), col("__t").as("ta"))
      .join(t.select((col("doc_id") - 1).as("id_a"), col("__t").as("tb")), Seq("id_a"))
      .filter(size(array_intersect(col("ta"), col("tb"))) * 10 >=
        size(array_union(col("ta"), col("tb"))) * 9)
      .select(col("id_a"), (col("id_a") + 1).as("id_b"))
  }

  private def tierEEntries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JSON field extraction from events.props (Q34(E), dual text)
    "q34_json_extract" -> { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT event_type, SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS k_sum " +
        "FROM events GROUP BY event_type ORDER BY event_type LIMIT 100")
    },
    // Exact-dedup stats (Q35(E)) — identical SQL both engines
    "q35_dedup_exact" -> { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_uniq FROM documents")
    },
    // Exact dedup survivors by hash — rows-only (count must equal n_uniq; unit-tested)
    "q36_dedup_survivors" -> { (spark, dir) =>
      TextDedup.dedupExactByHash(Tables.table(spark, dir, "documents"), "doc_id", "text")
        .select("doc_id").orderBy("doc_id").limit(1000)
    },
    // Term frequencies via explode (Q37(E), dual text)
    "q37_token_stats" -> { (spark, dir) =>
      TextAnalysis.termFrequencies(Tables.table(spark, dir, "documents"), "text")
        .orderBy(col("n").desc, col("token")).limit(100)
    },
    // MinHash LSH near-dup pairs, Jaccard-verified — rows-only (double sim)
    "q40_minhash_neardup" -> { (spark, dir) =>
      TextDedup.nearDupPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
          threshold = 0.3, shingleN = 2)
        .orderBy("id_a", "id_b").limit(100)
    },
    // SimHash near-dup pairs (native codegen Expression) — rows-only
    "q41_simhash_neardup" -> { (spark, dir) =>
      TextDedup.simhashPairs(Tables.table(spark, dir, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b").limit(100)
    },
    // n-gram Jaccard between consecutive docs — integer outputs, oracle-able
    "q42_ngram_jaccard" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), array_distinct(split(col("text"), " ")).as("ta"))
      val b = d.select(col("doc_id").as("id_b"), array_distinct(split(col("text"), " ")).as("tb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_common"),
          size(array_union(col("ta"), col("tb"))).cast("long").as("n_union"))
        .orderBy("id_a").limit(100)
    },
    // Embedding-cosine near-dup pairs via hyperplane LSH — rows-only.
    // τ=0.25 because the synthetic embeddings top out near cosine 0.4;
    // real corpora use τ≈0.9 with the same operator. Round 13: the
    // production float path runs the same self-sized directional
    // multi-probe operating point as its hash-checked portable twin
    // (q84) — fewer tables for the same threshold recall, broadcast
    // verify regime under the row hint.
    "q43_embed_neardup" -> { (spark, dir) =>
      val b = embedBitsFor(spark, dir)
      Similarity.embeddingNearDupPairs(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.25,
          numTables = embedTablesFor(b), bitsPerTable = b,
          probes = embedProbesFor(b), corpusRowsHint = embedCountFor(spark, dir))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Brute-force top-k (exact ANN baseline) — ORACLE since round 5: the
    // declared form ranks by the quantized integer dot product
    // (floor(x·10^4) per component, BIGINT scores — bit-identical in any
    // IEEE engine, so the driver hash-checks it; float cosine
    // bruteForceTopK remains the production scorer, spec'd vs a scalar
    // reference). Unit-norm embeddings ⇒ dot ranking ≈ cosine ranking.
    "q44_cosine_topk" -> { (spark, dir) =>
      val emb = Tables.table(spark, dir, "embeddings")
      Similarity.bruteForceTopKInt(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5)
        .orderBy("query_id", "rank").limit(100)
    },
    // LSH-bucketed approximate top-k — rows-only. Round 13: query-side
    // multi-probe (tables are the CORPUS side's cost — n×L bucket keys —
    // while the probe fan-out rides the broadcast-small query side).
    // Round 16: the operating point is SELF-SIZED from the corpus count
    // (annSearchPointFor) instead of the hardcoded 4×4+4, which
    // under-buckets at 100× corpus; the rule reproduces 4×4+4 exactly
    // at n ≤ 128 and holds its collision probability as bits grow.
    "q45_ann_lsh" -> { (spark, dir) =>
      val emb = Tables.table(spark, dir, "embeddings")
      val (t, b, p) = annSearchPointFor(spark, dir)
      Similarity.lshTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5, numTables = t, bitsPerTable = b, probes = p)
        .orderBy("query_id", "rank").limit(100)
    },
    // IVF coarse-quantizer ANN (the nprobe/nlist alternative to LSH) —
    // ORACLE since round 5: integer scoring end to end (assignment, probe,
    // rank), so DuckDB replicates the exact pipeline — centroid choice,
    // list assignment, nprobe probing and final ranking all hash-match.
    // Float-cosine ivfTopK remains the production scorer (tools/Recall).
    "q53_ann_ivf" -> { (spark, dir) =>
      val emb = Tables.table(spark, dir, "embeddings")
      Similarity.ivfTopKInt(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5, nlist = 16, nprobe = 4)
        .orderBy("query_id", "rank").limit(100)
    },
    // Bucketed time-range join (scale-safe form of the non-equi join Spark
    // would execute as BNL) — oracle-checked against DuckDB's IEJoin.
    // Timestamps truncated to seconds in both texts: events.ts is ns in
    // parquet and µs in Spark, so sub-second precision cannot hash-match.
    "q54_range_join" -> { (spark, dir) =>
      val ev = Tables.table(spark, dir, "events")
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts"))
      graft.operators.TimeJoins.rangeJoin(ev, ev, "ts", "ts", 120L)
        .select(col("l_event_id"), col("r_event_id"))
        .orderBy("l_event_id", "r_event_id").limit(100)
    },
    // As-of join: latest 'view' by the same user within 1 h of each
    // 'click' (trade→quote shape) — oracle-checked against DuckDB's
    // native ASOF JOIN + tolerance filter. Only the matched timestamp is
    // projected: equal-timestamp ties then collapse identically in both
    // engines. Second truncation as in q54 (ns parquet vs µs Spark).
    "q72_asof" -> { (spark, dir) =>
      val ev = Tables.table(spark, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), date_trunc("second", col("ts")).as("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      graft.operators.TimeJoins.asofJoin(clicks, views, "user_id", "ts", "ts", 3600L,
          leftUniqueKey = Some("event_id"))
        .select(col("l_event_id"), col("r_ts"))
        .orderBy("l_event_id").limit(100)
    },
    // Language-ID heuristic — oracle (CASE-ladder argmax, deterministic)
    "q46_langid" -> { (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"), col("lang"))
        .orderBy("doc_id").limit(100)
    },
    // Quality metrics — all-integer, oracle-able (dual text)
    "q47_quality" -> { (spark, dir) =>
      TextAnalysis.qualityMetrics(Tables.table(spark, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("diversity_pct"), col("mean_token_len_tenths"))
        .orderBy("doc_id").limit(100)
    },
    // Token counting (dual text)
    "q48_token_count" -> { (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("n_tokens").desc, col("doc_id")).limit(100)
    },
    // Document fingerprint (min-k sketch; xxhash64 is engine-specific) — rows-only
    // ORACLE since round 5: the declared form is the md5-based portable
    // min-k sketch (BIGINT sum of the k smallest shingle hashes — the q69
    // dual-spelling trick), hash-checked against DuckDB computing the
    // identical integers; xxhash64 `fingerprint` stays the production
    // scorer (fused ShingleHash pass), spec'd for determinism.
    "q49_fingerprint" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.fingerprintPortable(col("text")).as("fp"))
        .orderBy("doc_id").limit(100)
    },
    // Structured Streaming tumbling window run to completion on the closed
    // input — hash-checked against the DuckDB BATCH oracle (Q38(E):
    // streaming output = batch answer on closed input)
    "q51_stream_hourly" -> { (spark, dir) =>
      graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.hourlyByType(
          graft.streaming.StreamOps.eventsStream(spark, dir)),
        s"q51_mem_${math.abs(dir.hashCode)}")
        // BIGINT cents: hashed outputs must never carry DECIMAL (the
        // driver's oracle path floats decimals; see Corpus Q04 note)
        .select(col("h"), col("event_type"), col("n"),
          (col("total") * 100).cast("long").as("total_cents"))
        .orderBy("h", "event_type").limit(100)
    },
    // Streaming SESSION-window aggregation run to completion on the closed
    // input — hash-checked against a DuckDB lag-based island-detection
    // replay (same closed-input contract as q51/q65). Input timestamps are
    // truncated to seconds first: the parquet is TIMESTAMP(NANOS) and a
    // µs-vs-ns session boundary could never hash-match (cf.
    // attributionPairs). Boundary semantics: session_window merges an
    // event iff t < last_t + gap, so the replay breaks on ts >= lag + gap
    // (NOT q76's lenient `>` — the two differ exactly at the boundary).
    "q89_stream_sessions" -> { (spark, dir) =>
      val src = graft.streaming.StreamOps.eventsStream(spark, dir)
        .withColumn("ts", date_trunc("second", col("ts")))
      graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.userSessions(src),
        s"q89_mem_${math.abs(dir.hashCode)}")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"),
          (col("session_value") * 100).cast("long").as("value_cents"))
        .orderBy("user_id", "session_start").limit(100)
    },
    // Stream-static dimension enrichment run to completion on the closed
    // input (round 7): the events STREAM broadcast-joins the static
    // customer→nation dimension (no join state, no stream shuffle) and
    // aggregates per nation — hash-checked against the DuckDB batch
    // join, the same closed-input contract as q51/q65/q89.
    "q107_stream_static" -> { (spark, dir) =>
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
    },
    // Stream-stream interval join (attribution: purchases within 30 min of
    // a click, same user) run to completion on the closed input —
    // hash-checked against the DuckDB batch join (same contract as q51)
    "q65_stream_join" -> { (spark, dir) =>
      graft.streaming.StreamOps.runAppend(spark,
        graft.streaming.StreamOps.attributionPairs(
          graft.streaming.StreamOps.eventsStream(spark, dir),
          "click", "purchase", withinSeconds = 1800L),
        s"q65_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Approximate aggregates — the sketch-based scale path for exact
    // RFM-style rollups (HLL++ inside Spark; values engine-specific →
    // rows-only; accuracy bounds unit-tested)
    "q52_approx_distinct" -> { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql("SELECT o_custkey, APPROX_COUNT_DISTINCT(o_orderkey) AS approx_orders, " +
        "APPROX_PERCENTILE(o_totalprice, 0.5) AS approx_median_price " +
        "FROM orders GROUP BY o_custkey ORDER BY approx_orders DESC, o_custkey LIMIT 100")
    },
    // Text normalization (lower/strip/collapse) over the punctuation-rich
    // props JSON — shared regex subset, dual text only for DuckDB's 'g' flag
    "q66_normalize" -> { (spark, dir) =>
      Tables.table(spark, dir, "events")
        .select(col("event_id"), TextAnalysis.normalize(col("props")).as("norm"))
        .orderBy("event_id").limit(100)
    },
    // PII redaction: synthetic email woven in from user_id so the redactor
    // has real work on every row
    "q67_redact" -> { (spark, dir) =>
      Tables.table(spark, dir, "events")
        .select(col("event_id"),
          TextAnalysis.redactPii(
            concat(lit("user"), col("user_id").cast("string"), lit("@example.com "), col("props")))
            .as("red"))
        .orderBy("event_id").limit(100)
    },
    // Benchmark-contamination scores vs a deterministic pseudo-benchmark
    // (every 97th document) — integer outputs, oracle-checked
    "q68_contamination" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.contaminationScores(docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
        .orderBy("doc_id").limit(100)
    },
    // Deterministic hash train/test split — split sizes per label.
    // Promoted to the oracle (round-3 verdict item 4): the md5 method is
    // dual-spellable (DuckDB parses '0x'||hex in a CAST), so the exact
    // per-split counts hash-check cross-engine. xxhash64 stays the
    // production default (no string conversion); same operator, same plan.
    "q69_hash_split" -> { (spark, dir) =>
      graft.operators.Scale.hashSplit(Tables.table(spark, dir, "documents"), "doc_id", 80,
          method = "md5")
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split").limit(100)
    },
    // Scale-safe NTILE (round-3 verdict item 1): the RFM M-score computed
    // by Scale.ntileExact — range-partition + two passes, NO
    // single-partition window anywhere in the plan — hash-checked against
    // DuckDB's true NTILE over the same total order. q18 keeps the window
    // spelling as the declared small-result-only form (see Corpus note).
    "q73_ntile_dist" -> { (spark, dir) =>
      val orders = Tables.table(spark, dir, "orders")
      val monetary = orders.groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("monetary_cents"))
      graft.operators.Scale.ntileExact(monetary,
          Seq(col("monetary_cents").desc, col("o_custkey")), 4, "m_score")
        .select(col("o_custkey"), col("monetary_cents"), col("m_score"))
        .orderBy(col("monetary_cents").desc, col("o_custkey")).limit(100)
    },
    // Transitive near-dup clustering (round 4): connected components over
    // a verified pair graph — hash-min + pointer-jumping label
    // propagation, O(log diameter) rounds. The declared pair graph is the
    // SQL-expressible consecutive-id jaccard ≥ 0.9 (integer
    // cross-multiplied, so both engines derive the identical edge set);
    // the oracle computes the same components with a recursive CTE. The
    // sf0.01 graph has chains up to length 4, so transitivity is real.
    "q74_neardup_clusters" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      TextDedup.nearDupClusters(adjacentJaccardPairs(d)).orderBy("doc_id").limit(100)
    },
    // Near-dup survivor selection (round 8): the dedup ACTION that q74's
    // clustering feeds — keep ONE canonical document per near-dup cluster
    // (longest text, doc_id tie-break) and report the post-dedup corpus
    // budget per language. Same integer-jaccard edge set as q74 so the
    // DuckDB recursive-closure oracle replays the identical clusters;
    // singletons label themselves via COALESCE (no join fan-out). The
    // window is PARTITIONED by cluster (never global) and the final
    // aggregate is 5 rows — the whole selection adds one narrow shuffle
    // of (doc_id, cluster, n_chars, lang) rows on top of the clustering.
    "q131_dedup_survivors" -> { (spark, dir) =>
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
    },
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
    "q129_collocations" -> { (spark, dir) =>
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
    },
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
    "q132_source_overlap" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val sh = Checkpoints.cut(
        d.select(col("source"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
          .select(col("source"), explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
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
    },
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
    "q144_kmv_overlap" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val sh = d.select(col("source"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
        .select(col("source"), explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
        .distinct()
      graft.operators.Sketches.kmvJaccard(sh, "source", "h", graft.operators.Sketches.DefaultKmvK)
        .orderBy(col("est_bp").desc, col("src_a"), col("src_b")).limit(100)
    },
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
    "q145_bloom_contamination" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      // the distinct (doc_id, key) stream feeds BOTH the filter build and
      // the probe — computed once, lineage-cut (CLAUDE.md discipline)
      val sh = Checkpoints.cut(
        d.select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
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
    },
    // Count-Min heavy hitters (round 10): the fixed-size FREQUENCY-sketch
    // scale path for token statistics — q37's exact term frequencies
    // aggregate the full vocabulary; the CMS replaces that with
    // depth×width = 3×1024 counters (~24 KiB broadcast) whose estimates
    // only ever OVERCOUNT (est_c ≥ exact_c, pinned in SketchesSpec).
    // Token strings never shuffle: occurrences reduce to (32-bit key,
    // count) scan-locally, the sketch and estimates run on longs only,
    // and strings join back for the surviving top-100 keys alone (the
    // q129 discipline). The DuckDB twin replays the identical cells.
    "q146_cms_heavy_hitters" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      // ONE tokenization pass (the q131 lesson): aggregate by token first
      // — map-side combine keeps the exchange vocabulary-sized (the q37
      // shape) — then hash once per DISTINCT token, not per occurrence.
      // The lineage-cut frame feeds both the per-key counts and the
      // top-100 string join-back.
      val tv = Checkpoints.cut(
        d.select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c"))
          .select(element_at(
              call_function("portable_shingle_hash", array(col("token")), lit(1)), 1).as("h"),
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
    },
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
    "q148_hll_cardinality" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val sh = d.select(col("source"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"),
          explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
      val regs = graft.operators.Sketches.hllBuild(sh, Seq("source"), "h")
      graft.operators.Sketches.hllEstimate(regs, Seq("source"))
        .drop("est_corrected")
        .orderBy(col("source")).limit(100)
    },
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
    "q154_incremental_hll" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      def keys(docs: org.apache.spark.sql.DataFrame) =
        docs.select(col("source"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("source"),
            explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
      val existing = graft.operators.Sketches.hllBuild(
        keys(d.filter(col("doc_id") < IncrementalSplitId)), Seq("source"), "h")
      val incoming = graft.operators.Sketches.hllBuild(
        keys(d.filter(col("doc_id") >= IncrementalSplitId)), Seq("source"), "h")
      graft.operators.Sketches.hllEstimate(
          graft.operators.Sketches.hllMerge(existing, incoming, Seq("source")),
          Seq("source"))
        .drop("est_corrected")
        .orderBy(col("source")).limit(100)
    },
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
    "q152_join_size_estimate" -> { (spark, dir) =>
      val e = Tables.table(spark, dir, "events")
      graft.functions.PortableShingleHash.register(spark)
      val hc = Checkpoints.cut(
        e.groupBy("user_id").agg(count(lit(1)).as("__c"))
          .select(element_at(call_function("portable_shingle_hash",
              array(coalesce(col("user_id").cast("string"), lit(""))), lit(1)), 1).as("h"),
            col("__c"))
          .groupBy("h").agg(sum(col("__c")).as("c")), eager = false)
      val exact = hc.agg(sum(expr("c * c")).as("x")).head.getLong(0)
      val cms = graft.operators.Sketches.countMinBuild(hc, "h", "c")
      graft.operators.Sketches.countMinJoinSize(cms, cms)
        .select(lit(exact).as("exact_pairs"), col("est_join_size").as("est_pairs"),
          expr(s"est_join_size * 10000 DIV $exact").as("over_bp"))
        .orderBy("exact_pairs").limit(100)
    },
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
    "q151_sketch_profile" -> { (spark, dir) =>
      val o = Tables.table(spark, dir, "orders")
      graft.operators.TableProfile.sketchProfile(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_orderdate"))
        .orderBy("col_name").limit(100)
    },
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
    "q150_sample_quantiles" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val keyed = d.select(col("lang"), col("doc_id"), col("n_chars"),
        element_at(call_function("portable_shingle_hash",
          array(coalesce(col("doc_id").cast("string"), lit(""))), lit(1)), 1).as("h"))
      val samp = graft.operators.Sketches.hashSample(keyed, Seq("lang"), "doc_id", "h")
      graft.operators.Sketches.sampleQuantiles(samp, Seq("lang"), "n_chars",
          "doc_id", "h", Seq(2500, 5000, 7500, 9000, 9900))
        .orderBy("lang", "q_bp").limit(100)
    },
    // Novelty scoring (moved from the SQL corpus in round 10 — r9
    // "weak": same md5-hex key class as q132). First-seen bigrams now
    // key on the fused PortableShingleHash long computed straight from
    // the token array (no concat/md5-hex per bigram); first-seen is a
    // window MIN over the distinct (doc_id, key) stream — every
    // exchange carries (long, doc_id) rows and the plan reads the
    // stream once. The DuckDB twin spells the identical 32-bit key, so
    // collisions are shared and outputs equal by construction.
    "q138_novelty" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val bi = d.select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(call_function("portable_shingle_hash", col("t"), lit(2))).as("k"))
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
    },
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
    "q157_bigram_lm" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val st = Checkpoints.cut(lmKeyStream(d), eager = false)
      val c2 = st.groupBy("k").agg(count(lit(1)).as("c2"))
      val c1 = st.groupBy("k1").agg(count(lit(1)).as("c1"))
      st.join(c2, Seq("k")).join(c1, Seq("k1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("(c2 * 10000) DIV c1")).as("sp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sp DIV n_bigrams").as("lm_bp"))
        .orderBy(col("lm_bp").desc, col("doc_id")).limit(100)
    },
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
    "q161_incremental_lm" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      // in deployment the corpus model is read back from a sink; built
      // here from the corpus split (cut: two count aggregates read it)
      val corpus = Checkpoints.cut(
        lmKeyStream(d.filter(col("doc_id") < IncrementalSplitId)), eager = false)
      val batch = Checkpoints.cut(
        lmKeyStream(d.filter(col("doc_id") >= IncrementalSplitId)), eager = false)
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
    },
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
    "q162_stream_lm" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
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
      val st = lmKeyStream(docs)
      st.join(c2, Seq("k")).join(c1, Seq("k1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("(c2 * 10000) DIV c1")).as("sp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sp DIV n_bigrams").as("lm_bp"))
        .orderBy(col("lm_bp").desc, col("doc_id")).limit(100)
    },
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
    "q170_ppl_gate" -> { (spark, dir) =>
      pplGateTail(pplScoresAll(spark, dir))
    },
    // Incremental perplexity gate (round 11): the corpus model's count
    // tables persist, the incoming batch's counts merge key-wise (the
    // q161 additivity identity), and only the BATCH documents score
    // against the merged model — on the closed input that model equals
    // the full q170 model, so the oracle is the q170 replay restricted
    // to batch doc ids. Corpus text is never re-read or re-scored.
    "q171_ppl_incremental" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val corpus = Checkpoints.cut(
        lmKeyStream(d.filter(col("doc_id") < IncrementalSplitId)), eager = false)
      val batch = Checkpoints.cut(
        lmKeyStream(d.filter(col("doc_id") >= IncrementalSplitId)), eager = false)
      val c2 = corpus.groupBy("k").agg(count(lit(1)).as("c2"))
        .unionByName(batch.groupBy("k").agg(count(lit(1)).as("c2")))
        .groupBy("k").agg(sum("c2").as("c2"))
      val c1 = corpus.groupBy("k1").agg(count(lit(1)).as("c1"))
        .unionByName(batch.groupBy("k1").agg(count(lit(1)).as("c1")))
        .groupBy("k1").agg(sum("c1").as("c1"))
      pplGateTail(pplAgg(batch.join(c2, Seq("k")).join(c1, Seq("k1"))))
    },
    // Streaming perplexity gate (round 11): incoming documents STREAMED
    // and scored per micro-batch against the static full-corpus model —
    // the q162 no-state-store shape (foreachBatch batch-scoring, zero
    // streaming state at any scale: a document never splits across
    // micro-batches, so per-batch scoring is complete). The model
    // marginals are lineage-cut once so micro-batches don't re-aggregate
    // them. On the closed input the output equals the batch answer
    // restricted to incoming docs — hashes against the IDENTICAL q171
    // replay (streaming = batch, the q126/q162 contract).
    "q172_ppl_stream" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val st = Checkpoints.cut(lmKeyStream(docs), eager = false)
      val c2 = Checkpoints.cut(
        st.groupBy("k").agg(count(lit(1)).as("c2")), eager = false)
      val c1 = Checkpoints.cut(
        st.groupBy("k1").agg(count(lit(1)).as("c1")), eager = false)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q172")
      val scored = graft.operators.Checkpoints.cut(
        graft.streaming.StreamOps.runBatchesToParquet(spark, stream, s"$tmpPath/scores") { b =>
          pplAgg(lmKeyStream(b).join(c2, Seq("k")).join(c1, Seq("k1")))
        }.select("doc_id", "n_bigrams", "bits_total"),
        eager = true)
      rmTree(tmpPath.toFile)
      pplGateTail(scored)
    },
    // Exact-substring span sharing (round 11, Lee et al. 2021
    // arXiv:2107.06499): the span-level complement to the document-level
    // dedup family — WHERE the repeated k-token spans are, not just
    // which documents overlap. Pure aggregation (no pair generation, no
    // caps): one keys-only exchange of (hash, packed doc·pos) longs,
    // linear at any span popularity.
    "q173_shared_spans" -> { (spark, dir) =>
      TextDedup.sharedSpanStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("n_occ").desc, col("h")).limit(100)
    },
    // Span-removal accounting (round 11): every occurrence of a shared
    // k-token span except its canonical first is marked for removal; a
    // token position is removed if any non-canonical occurrence covers
    // it — per-doc tokens/removed/kept_bp, the curation log of the Lee
    // et al. dedup rewrite.
    "q174_span_removal" -> { (spark, dir) =>
      TextDedup.spanRemovalStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id").limit(100)
    },
    // Incremental span removal (round 11): the daily-crawl form — the
    // corpus contributes only its PERSISTED span index (mergeable by
    // key-wise (sum, min), the sketch/LM discipline), the batch's own
    // occurrences merge in, and only incoming docs score. Oracle = the
    // q174 replay restricted to incoming doc ids (merged index ≡ full
    // index on closed input).
    "q175_incremental_spans" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      TextDedup.spanRemovalStatsCross(
          d.filter(col("doc_id") < IncrementalSplitId),
          d.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("doc_id").limit(100)
    },
    // Streaming span removal (round 11): incoming documents STREAMED and
    // scored per micro-batch against the static full-corpus shared-span
    // table — the q172 no-state shape (foreachBatch batch-scoring; a doc
    // never splits across micro-batches). Hashes against the identical
    // q175 replay: streaming = batch on closed input.
    "q176_stream_spans" -> { (spark, dir) =>
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
    },
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
    "q177_curation_capstone" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
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
    },
    // Test-set leakage detection (round 11): the decontamination check a
    // train/test split SHIPS WITH — verified near-dup pairs (the q82
    // portable minhash pipeline, keys-only banding, capped buckets)
    // crossing the q69 md5 split boundary. The split label is a pure
    // function of doc_id, computed scan-locally on the verified pair rows
    // — ZERO exchanges on top of q82's pipeline, so the entry scales
    // exactly as far as q82 does. Output = (leaked test doc, its train
    // near-twin) — the actionable removal list.
    "q178_split_leakage" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      crossSplitProjection(
        TextDedup.portablePairStats(docs, "doc_id", "text")
          .filter(col("n_inter") * 10 >= col("n_union") * 9))
    },
    // Incremental test-set leakage (round 11): q178 run the way ingest
    // actually happens — each incoming batch (doc_id ≥ split) is banded
    // against the EXISTING corpus only (q124's asymmetric
    // portableCrossPairStats: corpus never reshuffles, combined-occupancy
    // caps), then the cross-split projection flags incoming docs that
    // near-dup an opposite-split existing doc BEFORE the batch is
    // admitted. Oracle = the q124 replay + the q178 split labels.
    "q181_incremental_leakage" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      crossSplitProjection(
        TextDedup.portableCrossPairStats(
            docs.filter(col("doc_id") < IncrementalSplitId),
            docs.filter(col("doc_id") >= IncrementalSplitId),
            "doc_id", "text")
          .filter(col("n_inter") * 10 >= col("n_union") * 9))
    },
    // Streaming test-set leakage (round 11): q181's admission check run
    // as the ingest stream itself — incoming documents STREAMED against
    // the static corpus band index (the q126 machinery: corpus blocks
    // keys-only, stateless stream-static join per micro-batch), the
    // cross-split projection applied to the streamed pair output.
    // Completes the leakage matrix {batch q178, incremental q181,
    // streaming q183}; hashes against the identical q181 replay
    // (streaming = batch on closed input, the q126/q142 contract).
    "q183_stream_leakage" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val (base, banded) = TextDedup.portableIndexFrames(corpus, "doc_id", "text")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      crossSplitProjection(
        graft.streaming.StreamOps.runAppend(spark,
            graft.streaming.StreamOps.dedupAgainstCorpus(stream, base, banded, "doc_id", "text"),
            s"q183_mem_${math.abs(dir.hashCode)}")
          .distinct() // multiset band output, cf. q126
          .filter(col("n_inter") * 10 >= col("n_union") * 9))
    },
    // Token-budget mixture materialization (round 11): the step that turns
    // a data recipe into an actual training corpus — per language, take
    // documents in the q160 deterministic priority order until the
    // language's cumulative tokens reach MixBudgetPct% of its total. The
    // cumulative sum uses Scale.groupedPrefixSum (range-partition +
    // boundary-carry two-pass), NOT a lang-partitioned running window:
    // with ~5 languages a windowed cumsum serializes 1/5 of a 100 TB
    // corpus through one task. Totals come from a broadcast-sized per-lang
    // aggregate; the priority frame is scan-local arithmetic re-derived
    // per reference (cheap subtree — no lineage cut warranted).
    "q179_budget_mix" -> { (spark, dir) =>
      budgetMixFrame(Tables.table(spark, dir, "documents")).orderBy("lang").limit(100)
    },
    // Repeat-aware upsampling (round 11): q179's complement — the
    // data-CONSTRAINED regime where the token budget EXCEEDS the corpus
    // (Muennighoff et al., "Scaling Data-Constrained Language Models"),
    // so documents get integer epoch repeats: every doc `full` epochs,
    // the per-language highest-priority prefix one more. Completes the
    // budget family {downsample q179, upsample q185} on the same
    // priority order and the same single prefix-sum plan.
    "q185_epoch_upsample" -> { (spark, dir) =>
      epochUpsampleFrame(Tables.table(spark, dir, "documents")).orderBy("lang").limit(100)
    },
    // Release gate (round 11 capstone v3): the composed path that ships a
    // TRAINING split — q178's leaked train twins are dropped (keep the
    // test set fixed, decontaminate train: the standard direction), then
    // q179's token budget is materialized over the decontaminated train
    // corpus, with the per-language leak count in the report. Stage
    // equivalences individually hash-proven by q178/q179/q69; this row
    // proves the composition (the q140/q177 discipline applied to the
    // round's new operators). The leaked-id frame is pair-derived and
    // referenced twice (anti-join + leak report) — lineage-cut once.
    "q182_decon_release" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val leaked = Checkpoints.cut(
        crossSplitPairs(
          TextDedup.portablePairStats(docs, "doc_id", "text")
            .filter(col("n_inter") * 10 >= col("n_union") * 9))
          .select(col("train_doc").as("doc_id")).distinct(),
        eager = false)
      val train = docs.filter(mdSplitCol(col("doc_id")) === "train")
        .join(leaked, Seq("doc_id"), "left_anti")
      val lk = leaked.join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang").agg(count(lit(1)).as("n_leaked"))
      budgetMixFrame(train)
        .join(lk, Seq("lang"), "left")
        .withColumn("n_leaked", coalesce(col("n_leaked"), lit(0L)))
        .orderBy("lang").limit(100)
    },
    // Dedup audit report (round 11): the cluster-size histogram a dedup
    // run is judged by — per near-dup cluster size (q74's clustering,
    // singletons via COALESCE), how many clusters, how many documents,
    // and the characters that keep-longest canonicalization would remove
    // (Σchars − Σmax_chars). Two narrow aggregates on top of the
    // clustering: (comp) then (csize) — both broadcast-sized outputs.
    "q180_dedup_audit" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val comp = d.join(TextDedup.nearDupClusters(adjacentJaccardPairs(d)), Seq("doc_id"), "left")
        .select(coalesce(col("cluster"), col("doc_id")).as("comp"), col("n_chars"))
      comp.groupBy("comp")
        .agg(count(lit(1)).as("csize"), sum("n_chars").as("chars"),
          max("n_chars").as("max_chars"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"),
          sum("csize").as("n_docs"),
          (sum("chars") - sum("max_chars")).as("dup_chars"))
        .orderBy("csize").limit(100)
    },
    // Benchmark span scrub (round 11): span-LEVEL decontamination —
    // remove from the training corpus EVERY occurrence of any k-gram
    // that appears in the evaluation set (the operation the big-model
    // reports run before training), completing the decontamination
    // ladder: doc-level overlap scores (q68), membership gate (q145),
    // split-level near-dup (q178-q183), exact spans HERE. Benchmark =
    // the q68 convention (every 97th doc); its span table is
    // vocabulary-scale; training docs score against it via the q176
    // batch machinery — the canonical-occurrence exemption is vacuous
    // across the benchmark/train boundary (packed ids never collide), so
    // every training occurrence is removed, single occurrences included
    // (no n ≥ 2 filter: one benchmark appearance is enough). Output
    // leads with the contaminated tail ((kept_bp, doc_id) total order).
    "q184_benchmark_scrub" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val spans = TextDedup.spanIndex(docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      TextDedup.spanRemovalStatsAgainstIndex(
          docs.filter(col("doc_id") % 97 =!= 0), spans, "doc_id", "text")
        .orderBy("kept_bp", "doc_id").limit(100)
    },
    // Greedy sequence packing (round 4): shard-parallel first-fit into
    // 512-token packs — oracle-checked against a DuckDB recursive CTE
    // replaying the identical sequential rule per shard.
    "q75_seq_pack" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Scale.packSequences(d, "doc_id", "n_tokens",
          budgetTokens = 512L, nShards = 4)
        .select(col("id").as("doc_id"), col("shard"), col("pack"))
        .orderBy("doc_id").limit(100)
    },
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
    "q163_bpe_fertility" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      Bpe.segmentStats(d, "doc_id", "text", bpeMergesFor(spark, dir))
        .orderBy(col("fertility_bp").desc, col("doc_id")).limit(100)
    },
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
    "q205_subword_budget" -> { (spark, dir) =>
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
    },
    // Multimodal decode/feature pipeline (stubbed codec, real plumbing) — rows-only
    "q50_multimodal" -> { (spark, dir) =>
      Multimodal.decodeFeatures(Multimodal.syntheticMedia(spark, dir))
        .toDF()
        .select("media_id", "media_type", "width", "height", "n_frames")
        .orderBy("media_id").limit(100)
    },
    // TF-IDF top terms per document (round 5): integer tf·1000 div df
    // surrogate score (log IDF is a float — the surrogate preserves the
    // per-document ranking and hash-checks cross-engine). Two linear
    // aggregations over one exploded token stream + a partitioned window.
    "q79_tfidf_topterms" -> { (spark, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.table(spark, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk").limit(100)
    },
    // Within-document repetition detection (round 6): share of the
    // shingle stream taken by the single most frequent bigram —
    // the template/spam quality gate. Integers only; linear shuffles.
    "q98_repetition" -> { (spark, dir) =>
      TextAnalysis.repetitionStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text", shingleN = 2)
        .orderBy("doc_id").limit(100)
    },
    // Portable MinHash+LSH near-dup pairs (round 5): md5-derived shingle
    // hashes + affine universal-hash permutations are bit-identical
    // integers in any engine, so the ENTIRE pipeline — signatures,
    // banding, bucket pairs, jaccard verification — is deterministic and
    // hash-checked (the production xxhash64 path stays q40, rows-only).
    // τ = 0.9 matches the corpus's planted near-dup similarity.
    "q82_minhash_portable" -> { (spark, dir) =>
      TextDedup.portablePairStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .orderBy("id_a", "id_b").limit(100)
    },
    // End-to-end curation pipeline (round 9 capstone): exact dedup →
    // lexical-quality gate → deterministic md5 train/test split → corpus
    // budget report, composed from the ACTUAL operators (dedupExactByHash,
    // hashSplit) — the full pre-training data path as one declared,
    // hash-checked query. Every stage is the linear-shuffle shape its
    // standalone entry proved (q35/q137/q69); composition adds nothing
    // but the stages themselves.
    "q140_pipeline" -> { (spark, dir) =>
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
    },
    // Edit-distance fuzzy-dup pairs (round 9): the character-level
    // complement to minhash — prefix-16 blocking (each doc in exactly ONE
    // block, so the pair stream is unique by construction), capped blocks,
    // banded 3-arg levenshtein with early exit at the threshold. Text
    // never crosses the blocking shuffle; it joins back for survivors.
    "q136_edit_distance" -> { (spark, dir) =>
      TextDedup.editDistancePairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Incremental edit-distance dedup (round 9): the q136 pipeline's
    // daily-crawl form — incoming batch blocked against the existing
    // corpus only, no intra-corpus recompute; combined-occupancy cap
    // makes the pair set exactly the symmetric q136 restricted to cross
    // pairs, which is what the oracle replays (the q124 discipline).
    "q141_incremental_edit" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.editDistanceCrossPairs(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Streaming edit-distance ingest run to completion on the closed
    // input (round 9): the incoming half STREAMED and fuzzy-matched per
    // micro-batch against the static corpus — stateless (one substring
    // block key per row, stream-static join, no watermark/state store;
    // single-block membership makes the output a set, no distinct).
    // Hash-checked against the SAME oracle as q141: streaming output =
    // batch answer on closed input (the q126 contract, now for the
    // edit-distance family).
    "q142_stream_edit" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      graft.streaming.StreamOps.runAppend(spark,
          graft.streaming.StreamOps.editDistanceAgainstCorpus(stream, corpus, "doc_id", "text"),
          s"q142_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Streaming contamination gate (round 10): the incoming half STREAMED
    // through the Bloom filter built from the static blocklist — the
    // third member of the stateless ingest family (minhash q126, edit
    // q142, now membership). The filter ships as a literal word array
    // (fixed ~256 KiB regardless of blocklist size), so the stream side
    // is pure per-row expression work: no join, no state, one output row
    // per document. Hash-checked against the q145 DuckDB replay
    // restricted to the streamed ids — streaming output = batch answer
    // on closed input (the q126/q142 contract).
    "q147_stream_bloom" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("t")).filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(call_function("portable_shingle_hash", col("t"), lit(3))).as("h"))
        .distinct()
      val filt = graft.operators.Sketches.bloomBuild(bench, "h")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId && col("doc_id") % 97 =!= 0)
      graft.streaming.StreamOps.runAppend(spark,
          graft.streaming.StreamOps.bloomGateStream(stream, filt, "doc_id", "text"),
          s"q147_mem_${math.abs(dir.hashCode)}")
        .orderBy(col("flag_bp").desc, col("doc_id")).limit(100)
    },
    // Streaming Count-Min build (round 10): the BUILD side streamed —
    // token frequencies accumulate into the fixed ~24 KiB cell table as
    // the streaming aggregate (sum is algebraic; per-micro-batch partial
    // aggregation IS the CMS merge), where q147 streamed the probe side
    // against a static sketch. The batch tail (point estimates, top-100,
    // string join-back) runs unchanged against the streamed cells, and
    // the output hashes against the IDENTICAL q146 oracle — streaming =
    // batch on closed input, completing the sketch×streaming matrix
    // (minhash q126, edit q142, Bloom q147, HLL q149, CMS here).
    "q153_stream_cms" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val cms = graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.cmsBuildStream(stream, "text"),
        s"q153_mem_${math.abs(dir.hashCode)}")
      // batch tail — identical to q146's (one tokenization, lineage cut)
      val tv = Checkpoints.cut(
        docs.select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c"))
          .select(element_at(
              call_function("portable_shingle_hash", array(col("token")), lit(1)), 1).as("h"),
            col("token"), col("c")), eager = false)
      val hc = tv.groupBy("h").agg(sum(col("c")).as("c"))
      val top = graft.operators.Sketches.countMinEstimate(hc, cms, "h")
        .orderBy(col("est").desc, col("h")).limit(100)
      tv.select("h", "token").join(broadcast(top), Seq("h"))
        .select(col("token"), col("h").as("key_h"), col("c").as("exact_c"),
          col("est").as("est_c"))
        .orderBy(col("est_c").desc, col("key_h"), col("token")).limit(100)
    },
    // Streaming cardinality (round 10): hourly distinct-user HLL
    // registers as THE windowed streaming aggregate — bounded state
    // (≤ |hours|·1024 ints) where q42's exact streamingDedup state grows
    // with the key universe — then the sketch-sized estimate rollup in
    // batch after completion. Hash-checked against the full DuckDB
    // register+estimator replay (the q148 contract under an hourly
    // grouping): streaming output = batch answer on closed input.
    "q149_stream_hll" -> { (spark, dir) =>
      val regs = graft.streaming.StreamOps.runToCompletion(spark,
        graft.streaming.StreamOps.hllHourlyUsers(
          graft.streaming.StreamOps.eventsStream(spark, dir)),
        s"q149_mem_${math.abs(dir.hashCode)}")
      graft.operators.Sketches.hllEstimate(regs, Seq("h"))
        .drop("est_corrected")
        .orderBy("h").limit(100)
    },
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
    "q155_stream_kmv" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream
        .select(col("source").as("g"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("g"), explode(array_distinct(
          call_function("portable_shingle_hash", col("t"), lit(3)))).as("h"))
        .withColumn("id", lit(0L)).withColumn("v", lit(0L))
      val raw = graft.streaming.StreamOps.runUpdate(spark,
        graft.streaming.StreamOps.kSmallestStream(rows, graft.operators.Sketches.DefaultKmvK),
        s"q155_mem_${math.abs(dir.hashCode)}")
      val sk = graft.streaming.StreamOps.kSmallestFinal(raw)
        .groupBy(col("g").as("source"))
        .agg(sort_array(collect_list(col("h"))).as("sketch"))
      graft.operators.Sketches.kmvDistinct(sk, "source", graft.operators.Sketches.DefaultKmvK)
        .orderBy("source").limit(100)
    },
    // Streaming hash-sample (round 10): the per-language distribution
    // sketch built as the same bounded k-smallest state (id = doc_id
    // breaking 32-bit hash ties, v = the profiled value riding the
    // state), then the UNCHANGED `sampleQuantiles` batch tail over the
    // final ≤ 256-row-per-group sample. Hash-checks against the
    // IDENTICAL q150 replay — streamed k-smallest state picks exactly
    // the batch `hashSample` kept set on closed input, the KMV identity
    // under arbitrary micro-batch splits.
    "q156_stream_sample" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream.select(col("lang").as("g"),
        element_at(call_function("portable_shingle_hash",
          array(coalesce(col("doc_id").cast("string"), lit(""))), lit(1)), 1).as("h"),
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
    },
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
    "q165_stream_weighted" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
      val rows = stream.select(col("lang").as("g"),
        // coalesce proves non-null to the hash's type check (doc_id is
        // never null in documents — the q156 spelling)
        expr("element_at(portable_shingle_hash(array(coalesce(CAST(doc_id AS STRING), '')), 1), 1) " +
          "DIV (n_chars DIV 100 + 1)").as("h"),
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
    },
    // Incremental weighted sampling (round 10): the batch-vs-corpus form
    // of q160 — the corpus keeps only its ≤ 10-row-per-language priority
    // sample (a k-smallest sketch under the weighted order), a new batch
    // computes its own, and the merged sample re-ranks the UNION of the
    // two sketches: k-smallest of a union = k-smallest of merged
    // k-smallests (the q156/q165 identity with priorities for hashes),
    // so the result equals the full-corpus q160 answer — hash-proven
    // against the IDENTICAL oracle. Corpus raw rows never re-read; the
    // per-split windows stay partitioned by language.
    "q167_incremental_weighted" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      graft.functions.PortableShingleHash.register(spark)
      def top10(docs: org.apache.spark.sql.DataFrame) = docs
        .select(col("lang"), col("doc_id"), col("n_chars"),
          expr("element_at(portable_shingle_hash(array(coalesce(CAST(doc_id AS STRING), '')), 1), 1) " +
            "DIV (n_chars DIV 100 + 1)").as("prio"))
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
    },
    // Incremental inverted-index postings (round 10): the index-merge
    // form of q159 — per-split posting summaries (exact df, sorted
    // first-20 preview, min/max doc) merge by term: df is ADDITIVE over
    // disjoint doc sets, the merged preview is the k-smallest of the
    // union of per-split k-smallests (the same identity as q167), and
    // min/max fold. The merged index equals the full q159 build —
    // hash-proven against the IDENTICAL oracle — without re-reading
    // corpus text: the daily index-update shape.
    "q168_incremental_postings" -> { (spark, dir) =>
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
    },
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
    "q166_stream_anomaly" -> { (spark, dir) =>
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
    },
    // Incremental near-dup (round 8): the incoming batch (doc_id ≥ split)
    // deduped AGAINST the existing corpus (doc_id < split) without
    // recomputing intra-corpus pairs — the daily-crawl shape. The oracle
    // replays the SYMMETRIC pipeline restricted to cross pairs, so
    // hash-equality proves the asymmetric plan finds exactly them.
    "q124_incremental_neardup" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.portableCrossPairStats(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .orderBy("id_a", "id_b").limit(100)
    },
    // Portable embedding-LSH near-dup pairs (round 5): quantized integer
    // vectors + ±1 integer hyperplanes make bucket signs AND verification
    // scores exact integers — the whole embedding near-dup pipeline
    // hash-checks (float-cosine q43 stays the production path).
    // minScore 25M ≈ cosine 0.25 on unit-norm vectors, matching q43's τ.
    // bits self-sizes from the corpus count (round 11) — oracleSqlFor
    // interpolates the same dir-derived width into the replay text.
    "q84_embedlsh_portable" -> { (spark, dir) =>
      val b = embedBitsFor(spark, dir)
      Similarity.portableEmbedPairs(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding", minScore = EmbedMinScore,
          tables = embedTablesFor(b), bits = b, probes = embedProbesFor(b),
          corpusRowsHint = embedCountFor(spark, dir))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Sharded past-bound embedding near-dup (round 17, verdict #1): the
    // shipped 100-TB policy promoted into the oracle gate. shardRows is
    // FORCED to n/3+1 so the gate fixture runs S = 3 (3 within-shard +
    // 3 cross-shard broadcast-verify jobs over xxhash64 id-shards, read
    // back from signature tables materialized once) —
    // the decomposition a past-bound corpus runs, exercised end-to-end
    // at sf0.01 AND sf0.1. Under the fixtures' pinned occupancy (the
    // DriftGuard margin) the per-job cap never fires differently from
    // the global one, so the union is provably the monolithic pair set
    // (ShardedPairsSpec asserts exact set equality) and the oracle is
    // the q84 replay VERBATIM — hash-equality proves the sharded plan
    // finds exactly the monolithic pairs.
    "q223_sharded_embedlsh" -> { (spark, dir) =>
      val b = embedBitsFor(spark, dir)
      Similarity.shardedEmbedPairs(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding", minScore = EmbedMinScore,
          tables = embedTablesFor(b), bits = b, probes = embedProbesFor(b),
          shardRows = embedCountFor(spark, dir) / 3 + 1,
          workDir = shardWorkDir("graft_q223"))
        .orderBy("id_a", "id_b").limit(100)
    },
    // round 17: the sharded runner's INCREMENTAL twin in the
    // gate — the daily-crawl shape where the EXISTING corpus is past the
    // per-job broadcast envelope: both sides' signatures materialized
    // once as shard-partitioned tables, then the Sₑ × Sᵢ cross jobs run
    // sequentially with per-job map build/destroy. Both sides FORCED to
    // 2 shards so the gate exercises real cross-shard decomposition
    // (4 jobs, every (shardₑ, shardᵢ) combination). Pair set provably
    // identical to q125's monolithic operator under the gate fixtures'
    // occupancy (ShardedPairsSpec) → oracle = the q125 replay verbatim.
    "q224_sharded_incremental_embed" -> { (spark, dir) =>
      val vecs = Tables.table(spark, dir, "embeddings")
      val b = embedBitsFor(spark, dir)
      val old = vecs.filter(col("vec_id") < IncrementalSplitId)
      val inc = vecs.filter(col("vec_id") >= IncrementalSplitId)
      Similarity.shardedCrossEmbedPairs(old, inc,
          "vec_id", "embedding", minScore = EmbedMinScore,
          tables = embedTablesFor(b), bits = b, probes = embedProbesFor(b),
          shardRowsExisting = old.count() / 2 + 1,
          shardRowsIncoming = inc.count() / 2 + 1,
          workDir = shardWorkDir("graft_q224"))
        .orderBy("id_a", "id_b").limit(100)
    },
    // SemDeDup (round 11; Abbas et al. 2023): CLUSTER-then-pairwise
    // semantic dedup — the published alternative to q84's LSH banding as
    // the candidate generator (clusters give coherent semantic
    // neighborhoods where hyperplane buckets give random slices; both
    // bound the pair term, cluster count self-sizes like the LSH width).
    // Per-cluster report: members, verified duplicate pairs (dot ≥ the
    // q84 threshold), docs a greedy keep-lowest-id pass would drop.
    "q186_semdedup" -> { (spark, dir) =>
      Similarity.semDedupStats(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding", minScore = EmbedMinScore,
          nlist = semNlistFor(spark, dir))
        .orderBy("cid").limit(100)
    },
    // Prototype pruning (round 11; Sorscher et al. 2022, the D4 step
    // after SemDeDup): drop the 20% most-prototypical members of each
    // semantic cluster — the dropped manifest, rank-exact cross-engine.
    "q187_prototypes" -> { (spark, dir) =>
      Similarity.semPrototypeDrops(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding",
          nlist = semNlistFor(spark, dir), dropBp = ProtoDropBp)
        .orderBy("cid", "proto_rank").limit(100)
    },
    // Incremental SemDeDup (round 13, completing the {batch q186,
    // incremental, streaming} matrix for the semantic-cluster family —
    // the q125 shape): an incoming vector batch deduped against the
    // EXISTING corpus's cluster structure — centroids come from the
    // existing side alone (the persisted-index contract), candidate
    // pairs are existing × incoming within a cluster, and the cap keys
    // on the EXISTING cluster size only (micro-batch-invariant, which is
    // what makes q208 ≡ q207 on any input split). Oracle = the q186
    // cluster replay restricted to cross pairs (the centroid sets
    // coincide because the nlist lowest vec_ids all precede the split —
    // DriftGuardSpec pins that containment each regen).
    "q207_incremental_semdedup" -> { (spark, dir) =>
      val vecs = Tables.table(spark, dir, "embeddings")
      Similarity.semCrossPairs(
          vecs.filter(col("vec_id") < IncrementalSplitId),
          vecs.filter(col("vec_id") >= IncrementalSplitId),
          "vec_id", "embedding", minScore = EmbedMinScore,
          nlist = semNlistFor(spark, dir))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Streaming SemDeDup (round 13): the incoming half STREAMED — each
    // micro-batch row assigned per-row to its nearest existing centroid
    // by the literal-centroid expression (Similarity.semAssignExpr, pure
    // codegen — no stateful aggregation), stream-static joined to the
    // eligible-cluster member index built once at arm time, verified by
    // exact integer dot. Zero streaming state (the q126 discipline).
    // Streaming ≡ batch on the closed input → hashes against the same
    // replay as q207.
    "q208_stream_semdedup" -> { (spark, dir) =>
      val vecs = Tables.table(spark, dir, "embeddings")
      val existing = vecs.filter(col("vec_id") < IncrementalSplitId)
      val nlist = semNlistFor(spark, dir)
      val idx = Checkpoints.cut(
        Similarity.semExistingIndex(existing, "vec_id", "embedding", nlist),
        eager = false)
      val cents = Similarity.collectCentroids(
        Similarity.semCentroids(existing, "vec_id", "embedding", nlist))
      val stream = graft.streaming.StreamOps
        .tableSource(spark, dir, "embeddings", vecs.schema)
        .filter(col("vec_id") >= IncrementalSplitId)
      graft.streaming.StreamOps.runAppend(spark,
          Similarity.semStreamCrossPairs(stream, "vec_id", "embedding",
            cents, idx, minScore = EmbedMinScore),
          s"q208_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Perceptual image hash (round 14 — the brief's multimodal modality
    // gets a similarity signature, not just byte-exact dedup): every
    // image row of the synthetic media table is ENCODED as a real
    // BMP/PNG container, decoded back through the real codecs, and
    // dHash64'd over the reconstructed pixel grid. The oracle recomputes
    // the hash straight from the document text bytes (the pixel source),
    // so a hash match proves the ENTIRE container round-trip — zlib
    // INFLATE, filter reversal, row order, channel averaging — is
    // pixel-exact, the q83 discipline applied to binary media. ASCII
    // filter: the oracle reads pixel bytes via ascii(substr(...)), valid
    // only where byte length = char length (currently the whole corpus;
    // the filter is the regen guard).
    "q209_phash" -> { (spark, dir) =>
      Multimodal.phashFeatures(phashAsciiImages(spark, dir))
        .orderBy("media_id").limit(100)
    },
    // Perceptual near-dup pairs (round 14): originals ∪ planted
    // integer-lattice resizes (18×16 = 2× the 9×8 dHash sample lattice ⇒
    // dHash-invariant by the floor arithmetic — the variant is a
    // different container byte stream with the SAME perceptual hash),
    // banded with the text-SimHash combination machinery. The DuckDB
    // text replays dHash from text bytes, duplicates it at the variant
    // offset, and mirrors banding + cap + min-combo — hash-checking
    // decode → resize → re-encode → decode → dHash → banding end to end.
    "q210_phash_pairs" -> { (spark, dir) =>
      val imgs = cutMedia(phashAsciiImages(spark, dir))
      val variants = Multimodal.resizeMedia(imgs, 18, 16)
        .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      Multimodal.phashPairs(Multimodal.phashFeatures(imgs.unionAll(variants)))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Audio perceptual hash (round 14, completing the brief's modality
    // set): 64-bit envelope-sum gradient over the REAL-decoded PCM
    // stream (aHash64 — 65 floor-lattice windows, bit = right sum >
    // left sum). The DuckDB text recomputes the hash straight from the
    // document bytes (the synthetic WAV's samples ARE the text bytes) —
    // a match proves WAV encode → chunk-walk decode → envelope hash is
    // sample-exact.
    "q211_ahash" -> { (spark, dir) =>
      Multimodal.ahashFeatures(ahashAsciiAudio(spark, dir))
        .orderBy("media_id").limit(100)
    },
    // Video perceptual hash (round 14): 64-bit cross-frame lattice-sum
    // gradient over the REAL-decoded AVI frames (vHash64 — the image
    // dHash's 9×8 lattice per frame, sums across frames). DuckDB
    // replays pixel(x, y, f) from the text bytes with a nested lambda.
    "q212_vhash" -> { (spark, dir) =>
      Multimodal.vhashFeatures(vhashAsciiVideo(spark, dir))
        .orderBy("media_id").limit(100)
    },
    // Audio perceptual near-dup pairs (round 14): originals ∪ planted
    // 8→16-bit PCM transcodes (every container byte differs, the
    // normalized sample stream is identical ⇒ aHash-invariant), banded
    // with the shared SimHash combination machinery. The q210 recipe on
    // the audio modality.
    "q213_ahash_pairs" -> { (spark, dir) =>
      val aud = cutMedia(ahashAsciiAudio(spark, dir))
      val variants = Multimodal.transcodeWav16(aud)
        .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      Multimodal.phashPairs(
          Multimodal.ahashFeatures(aud.unionAll(variants)), hashCol = "ahash")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Video perceptual near-dup pairs (round 14): originals ∪ planted
    // per-frame 18×16 integer-lattice resizes (the dHash floor identity
    // applied frame-wise ⇒ vHash-invariant). Round 16: banded at the
    // VIDEO point — 3-of-8 combos (same 56-combo fan-out), hamming ≤ 5
    // with exact pigeonhole completeness — the ham-≤3 radius measured
    // 0.72 noise-pair recall (Multimodal.VhashIntact scaladoc).
    "q214_vhash_pairs" -> { (spark, dir) =>
      val vid = cutMedia(vhashAsciiVideo(spark, dir))
      val variants = Multimodal.resizeVideo(vid, 18, 16)
        .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      Multimodal.phashPairs(
          Multimodal.vhashFeatures(vid.unionAll(variants)), hashCol = "vhash",
          maxHamming = Multimodal.VhashMaxHamming, intact = Multimodal.VhashIntact)
        .orderBy("id_a", "id_b").limit(100)
    },
    // Perceptual similarity SEARCH (round 14): hamming top-k over the
    // image corpus via multi-index hashing (Norouzi et al. 2012) —
    // disjoint 8-bit chunk indexes, pigeonhole-exact for neighbors at
    // hamming ≤ 7, capped posting lists, keys-only exchange, exact
    // (hamming, id) ranking. Queries = the resize variants; each one's
    // top-1 is its original at hamming 0. Extends the similarity-search
    // tier (q44/q45/q53) to the media modalities.
    "q219_phash_topk" -> { (spark, dir) =>
      val imgs = cutMedia(phashAsciiImages(spark, dir))
      val corpus = Multimodal.phashFeatures(imgs)
      val queries = Multimodal.phashFeatures(
          Multimodal.resizeMedia(imgs, 18, 16)
            .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
              org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]))
        .select(col("media_id").as("query_id"), col("phash"))
      Multimodal.phashTopK(corpus, queries, k = 3,
          chunks = phashChunksFor(spark, dir))
        .orderBy("query_id", "rank").limit(100)
    },
    // Portable LSH ANN top-k (round 15): the hash-checkable twin of q45
    // (the q44/q53 integer-twin pattern applied to the last rows-only
    // ANN entry) — quantized vectors, ±1 integer hyperplane buckets,
    // query-side full-XOR multi-probe at the SELF-SIZED search point
    // (round 16: annSearchPointFor, the dir-derived rule — entry and
    // DuckDB text interpolate the same triple), BIGINT dot ranking with
    // ties to the lower vec_id. DuckDB replays the identical pipeline:
    // bucketing, probe fan-out, candidate join and ranking all
    // hash-match (float-cosine lshTopK stays the production scorer,
    // recall-pinned in RecallSpec).
    "q220_ann_lsh_portable" -> { (spark, dir) =>
      val emb = Tables.table(spark, dir, "embeddings")
      val (t, b, p) = annSearchPointFor(spark, dir)
      Similarity.lshTopKInt(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5, numTables = t, bitsPerTable = b, probes = p)
        .orderBy("query_id", "rank").limit(100)
    },
    // Streaming ANN serving (round 15): query vectors arrive as a STREAM
    // and are answered per micro-batch against a STATIC prebuilt LSH
    // index (Similarity.lshAnnIndex, lineage-cut once — the persisted-
    // index deployment shape: signatures are never re-derived per
    // trigger). Completes the similarity-search tier's matrix
    // {batch q44/q45/q53/q219/q220 → streaming}: the online-retrieval
    // form a training-data pipeline runs at ingest (rank incoming
    // vectors against the curated corpus). ZERO streaming state — a
    // query's top-k depends only on the static corpus, so per-batch
    // answers ≡ the batch answer on the closed input, and the oracle is
    // the q220 replay with corpus/query sides split at the incremental
    // boundary.
    "q222_stream_ann" -> { (spark, dir) =>
      val vecs = Tables.table(spark, dir, "embeddings")
      // self-sized from the DIR's corpus count (round 16) — entry and
      // DuckDB text interpolate the same triple
      val (t, b, p) = annSearchPointFor(spark, dir)
      val (cq0, cKeys0) = Similarity.lshAnnIndex(
        vecs.filter(col("vec_id") < IncrementalSplitId), "vec_id", "embedding",
        numTables = t, bitsPerTable = b)
      val cq = Checkpoints.cut(cq0, eager = false)
      val cKeys = Checkpoints.cut(cKeys0, eager = false)
      val stream = graft.streaming.StreamOps
        .tableSource(spark, dir, "embeddings", vecs.schema)
        .filter(col("vec_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q222")
      val out = Checkpoints.cut(
        graft.streaming.StreamOps.runBatchesToParquet(
            spark, stream, s"$tmpPath/topk") { batch =>
          Similarity.lshTopKIntAgainstIndex(cq, cKeys,
            batch.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
            "qid", "qvec", k = 5, numTables = t, bitsPerTable = b, probes = p)
        }.select("query_id", "vec_id", "score", "rank"),
        eager = true)
      rmTree(tmpPath.toFile)
      out.orderBy("query_id", "rank").limit(100)
    },
    // Portable approx-distinct (round 15): q52's APPROX_COUNT_DISTINCT
    // re-expressed over the portable HLL registers (the q148 machinery)
    // so the estimator itself replays bit-identically in DuckDB —
    // string-wise leading-zero ranks, exact-BIGINT harmonic sum, one
    // FLOOR'd double division (the q85/q116 rule). Register exchange is
    // ≤ |custkeys|·1024 (source-bounded, never order-stream-bounded) —
    // the same fixed-size-sketch scale contract as q148; Spark's HLL++
    // q52 stays the production rows-only form (values engine-specific).
    "q221_approx_distinct_portable" -> { (spark, dir) =>
      val o = Tables.table(spark, dir, "orders")
      val keyed = o.select(col("o_custkey"),
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      val regs = graft.operators.Sketches.hllBuild(keyed, Seq("o_custkey"), "h")
      graft.operators.Sketches.hllEstimate(regs, Seq("o_custkey"))
        .drop("est_corrected")
        .orderBy(col("est_hll").desc, col("o_custkey")).limit(100)
    },
    // Incremental SimHash near-dup (round 14): an incoming batch checked
    // against the existing corpus — completes the simhash family's
    // {batch q83, incremental, streaming} matrix row (the q124/q125
    // shape: combined per-bucket occupancy cap, keys-only, min-combo
    // unique emission). Oracle = the q83 replay restricted to cross
    // pairs.
    "q215_incremental_simhash" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      TextDedup.portableSimhashCrossPairs(
          docs.filter(col("doc_id") < IncrementalSplitId),
          docs.filter(col("doc_id") >= IncrementalSplitId),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Streaming SimHash ingest check (round 14): incoming documents
    // simhashed per micro-batch against the STATIC corpus combo-key
    // index — entirely stateless (the q126/q142 contract: the bucket
    // cap sees corpus-side occupancy only, which the oracle text
    // mirrors exactly; min-combo keeps the stream a true set with no
    // state-store dedup).
    "q216_stream_simhash" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val staticChunks = TextDedup.portableSimhashChunkKeys(
        docs.filter(col("doc_id") < IncrementalSplitId), "doc_id", "text",
        cutSigs = true) // static side is referenced twice per trigger
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val streamChunks = TextDedup.portableSimhashChunkKeys(stream, "doc_id", "text")
      graft.streaming.StreamOps.runAppend(spark,
          TextDedup.simhashCrossEmitPairs(staticChunks, streamChunks,
            32 / TextDedup.SimhashChunks, maxHamming = 3,
            maxBucketSize = TextDedup.DefaultMaxBucketSize, combinedCap = false),
          s"q216_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    },
    // Incremental perceptual dedup (round 14): arriving re-encoded
    // copies (the 18×16 resizes) checked against the stored image
    // corpus WITHOUT re-banding it — the media family's daily-crawl
    // twin, sharing the text machinery's cross generator. Oracle = the
    // q210 replay restricted to cross pairs.
    "q217_incremental_phash" -> { (spark, dir) =>
      val imgs = cutMedia(phashAsciiImages(spark, dir))
      val variants = Multimodal.resizeMedia(imgs, 18, 16)
        .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      Multimodal.phashCrossPairs(
          Multimodal.phashFeatures(imgs), Multimodal.phashFeatures(variants))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Streaming perceptual ingest (round 14): arriving image files
    // hashed PER MICRO-BATCH (encode → resize → decode → dHash inside
    // the batch's own partition pass — blobs never leave it) and
    // checked against the static corpus combo-key index. Stateless (the
    // q216 contract: corpus-side cap, min-combo uniqueness — no state
    // store), completing the media family's {batch, incremental,
    // streaming} row.
    "q218_stream_phash" -> { (spark, dir) =>
      val imgs = phashAsciiImages(spark, dir) // registers documents
      val docs = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") % 3 === 0 &&
          length(col("text")) === octet_length(col("text")))
      val streamVariants = Multimodal.resizeMedia(
          Multimodal.syntheticMediaRows(stream)
            .filter(col("media_type") === "image")
            .as(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]), 18, 16)
        .map(r => r.copy(media_id = r.media_id + PhashVariantOffset))(
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
      graft.streaming.StreamOps.runAppend(spark,
          Multimodal.phashCrossPairs(
            Multimodal.phashFeatures(imgs),
            Multimodal.phashFeatures(streamVariants), combinedCap = false),
          s"q218_mem_${math.abs(dir.hashCode)}")
        .orderBy("id_a", "id_b").limit(100)
    },
    // TRAINED-classifier gate (round 11, session 2): multinomial Naive
    // Bayes over token counts — the fastText-style model-based language/
    // quality filter (CCNet / GPT-3-era curation), completing the gate
    // ladder: heuristic (q47/q158), LM perplexity (q170), trained
    // classifier here. Training is pure counting, so the model is
    // mergeable (the q161 additivity) and the incremental/streaming
    // twins fall out of the LM family's machinery. Scores are INTEGER
    // bits end to end (the q148 leading-bit spelling over 2¹⁰-scaled
    // ratios): per (doc, label) surprisal = m·bits0 + prior − Σ
    // cnt·delta, computed via an INNER join on observed (label, token)
    // pairs — the dense label × vocab cross never materializes. The one
    // tiny-dim cross join (per-doc base × label stats) is the q44/q53
    // broadcast-cross class: |labels| rows at any corpus scale
    // (PlanGuardSpec allowlist). Prediction = argmin with lexicographic
    // tie-break; margin = runner-up gap, the downstream confidence gate.
    "q188_nb_langid" -> { (spark, dir) =>
      nbPredOut(nbScoresAll(spark, dir))
    },
    // Classifier evaluation (round 11, session 2): q188's predictions
    // against the held labels as a confusion matrix — ≤ |labels|² rows,
    // broadcast-sized at any corpus scale.
    "q189_nb_confusion" -> { (spark, dir) =>
      nbScoresAll(spark, dir)
        .groupBy(col("lang"), col("pred_label").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang").limit(100)
    },
    // Incremental classifier (round 11, session 2): the labeled corpus
    // persists its counting artifact; a labeled increment merges in
    // key-wise (sum) and the model re-derives from merged counts — the
    // corpus's documents are never re-tokenized. Only the unlabeled
    // batch is scored. Merged ≡ full-train counts on the closed input →
    // hashes against the q188 replay restricted to batch doc ids.
    "q190_nb_incremental" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val train = d.filter(col("doc_id") < IncrementalSplitId)
      val merged = NaiveBayes.mergeCounts(
        NaiveBayes.counts(train.filter(col("doc_id") < NbInnerSplitId), "text", "lang"),
        NaiveBayes.counts(train.filter(col("doc_id") >= NbInnerSplitId), "text", "lang"))
      val m = NaiveBayes.modelFromCounts(merged)
      nbPredOut(
        NaiveBayes.score(d.filter(col("doc_id") >= IncrementalSplitId), m, "doc_id", "text")
          .join(d.select("doc_id", "lang"), Seq("doc_id")))
    },
    // Streaming classifier train (round 11, session 2): labeled TRAIN
    // documents streamed; each micro-batch appends its own counting
    // artifact through the idempotent batchId-subpath parquet sink (the
    // q162 shape — counts are additive, no state store), the merge is
    // one key-wise sum over the partials, and the unlabeled batch is
    // scored against the derived model. Streamed ≡ batch model on the
    // closed input → hashes against the q190 replay.
    "q191_nb_stream" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, d.schema)
        .filter(col("doc_id") < IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q191")
      val partials = graft.streaming.StreamOps.runBatchesToParquet(
          spark, stream, s"$tmpPath/partials") { b =>
        NaiveBayes.counts(b, "text", "lang")
      }
      val merged = partials.groupBy("__kind", "__lab", "__tok")
        .agg(sum("__n").as("__n"))
      // modelFromCounts cuts the artifact EAGERLY, so the parquet
      // partials + checkpoint can be deleted here (the q162 rule)
      val m = NaiveBayes.modelFromCounts(merged)
      rmTree(tmpPath.toFile)
      nbPredOut(
        NaiveBayes.score(d.filter(col("doc_id") >= IncrementalSplitId), m, "doc_id", "text")
          .join(d.select("doc_id", "lang"), Seq("doc_id")))
    },
    // DSIR importance weighting (round 11, session 2; Xie et al. 2023,
    // arXiv:2302.03169): rank documents by how much their hashed-bigram
    // distribution resembles a TARGET domain (lang = DsirTargetLang
    // among train docs) relative to the RAW train distribution —
    // Σ cnt·(log₂ p_t − log₂ p_r) in integer bits over 64-bucket
    // histograms normalized to basis points (overflow-safe cross-
    // multiplication at any corpus scale — raw totals never multiply
    // each other). The feature stream is hashed ONCE and cut (the q82
    // md5-pass rule): target/raw histograms and the scoring pass all
    // read the cut; the weight table is 64 rows, broadcast.
    "q192_dsir_weights" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val feats = Checkpoints.cut(
        Dsir.featStream(d, "doc_id", "text", carry = Seq("lang")), eager = false)
      val train = feats.filter(col("__id") < IncrementalSplitId)
      val wgt = Dsir.weights(
        Dsir.featCounts(train.filter(col("lang") === DsirTargetLang)),
        Dsir.featCounts(train))
      dsirOut(Dsir.scoreFeats(feats, wgt, "doc_id"), d)
    },
    // Incremental DSIR (round 11, session 2): the corpus persists its
    // 64-bucket target/raw histograms; an increment's histograms merge
    // key-wise and only the incoming batch is scored — the ingest
    // prioritization check. Merged ≡ full-train histograms on the
    // closed input → hashes against the q192 replay restricted to
    // batch doc ids.
    "q193_dsir_incremental" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val feats = Checkpoints.cut(
        Dsir.featStream(d, "doc_id", "text", carry = Seq("lang")), eager = false)
      val corpus = feats.filter(col("__id") < NbInnerSplitId)
      val inc = feats.filter(
        col("__id") >= NbInnerSplitId && col("__id") < IncrementalSplitId)
      val wgt = Dsir.weights(
        Dsir.mergeFeatCounts(
          Dsir.featCounts(corpus.filter(col("lang") === DsirTargetLang)),
          Dsir.featCounts(inc.filter(col("lang") === DsirTargetLang))),
        Dsir.mergeFeatCounts(Dsir.featCounts(corpus), Dsir.featCounts(inc)))
      dsirOut(
        Dsir.scoreFeats(feats.filter(col("__id") >= IncrementalSplitId), wgt, "doc_id"), d)
    },
    // Streaming DSIR (round 11, session 2): incoming documents STREAMED
    // and scored per micro-batch against the static train-built weight
    // table — the q172 zero-state shape (foreachBatch batch-scoring; a
    // doc never splits across micro-batches). The weight table is cut
    // EAGERLY so each micro-batch broadcasts the materialized 64 rows
    // instead of re-running the histogram aggregation. Streaming ≡
    // batch on the closed input → hashes against the q193 replay.
    "q194_dsir_stream" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val tf = Checkpoints.cut(
        Dsir.featStream(d.filter(col("doc_id") < IncrementalSplitId),
          "doc_id", "text", carry = Seq("lang")), eager = false)
      val wgt = Checkpoints.cut(
        Dsir.weights(
          Dsir.featCounts(tf.filter(col("lang") === DsirTargetLang)),
          Dsir.featCounts(tf)),
        eager = true)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, d.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q194")
      val scored = Checkpoints.cut(
        graft.streaming.StreamOps.runBatchesToParquet(
            spark, stream, s"$tmpPath/scores") { b =>
          Dsir.score(b, wgt, "doc_id", "text")
        },
        eager = true)
      rmTree(tmpPath.toFile)
      dsirOut(scored, d)
    },
    // Cluster-aware train/test split (round 11 session 2): the PREVENTION
    // counterpart to q178's leakage DETECTION — near-dup clusters (q74's
    // connected components over verified pairs, singletons via COALESCE)
    // are assigned WHOLE to one side by hashing the CLUSTER
    // representative through the q69 md5 split, so no verified pair can
    // ever straddle the boundary (GroupShuffleSplit semantics; the
    // standard fix once q178 finds leaks). Split labeling is scan-local
    // arithmetic on the cluster id — zero exchanges beyond the
    // clustering itself. ClusterSplitSpec pins the guarantee (0 cross
    // pairs) against the doc-id split's measured leakage.
    "q195_cluster_split" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val comp = d.join(TextDedup.nearDupClusters(adjacentJaccardPairs(d)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("cluster"), col("doc_id")).as("comp"))
      graft.operators.Scale.hashSplit(comp, "comp", 80, method = "md5")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), countDistinct("comp").as("n_clusters"))
        .orderBy("split", "lang").limit(100)
    },
    // DSIR-ranked token budget (round 11 session 2): importance
    // resampling DEPLOYED — per language, documents selected in q192's
    // DSIR-importance order (highest target affinity first, doc_id
    // tie-break) until the q179 relative token budget fills. Same single
    // prefix-sum plan as q179 (range-partition + boundary-carry
    // groupedPrefixSum — never a low-cardinality partitioned window),
    // with the hash priority swapped for the model-based one; the
    // priority frame carries the scoring join, so it is lineage-cut once
    // (totals + prefix sum both read it).
    "q196_dsir_budget" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val feats = Checkpoints.cut(
        Dsir.featStream(d, "doc_id", "text", carry = Seq("lang")), eager = false)
      val train = feats.filter(col("__id") < IncrementalSplitId)
      val wgt = Dsir.weights(
        Dsir.featCounts(train.filter(col("lang") === DsirTargetLang)),
        Dsir.featCounts(train))
      val pr = Checkpoints.cut(
        d.select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
          .join(Dsir.scoreFeats(feats, wgt, "doc_id")
            .select(col("doc_id"), col("dsir_score")), Seq("doc_id"))
          .withColumn("prio", -col("dsir_score")),
        eager = false)
      val cum = graft.operators.Scale.groupedPrefixSum(
        pr, "lang", Seq(col("prio"), col("doc_id")), "n_toks", "cum_toks")
      val tot = pr.groupBy("lang").agg(sum("n_toks").as("tot_toks"))
      budgetReport(cum.join(broadcast(tot), Seq("lang")),
          sum("dsir_score").as("score_kept"))
        .select("lang", "n_docs", "toks_kept", "tot_toks", "kept_bp", "score_kept")
        .orderBy("lang").limit(100)
    },
    // Incremental cluster-split admission (round 11 session 2): q195's
    // guarantee applied at INGEST time — an incoming document that
    // near-dups an existing cluster (q124's asymmetric batch-vs-corpus
    // verified pairs; the corpus is banded once, never reshuffled) is
    // assigned that cluster's side: split = the q69 md5 rule on the
    // inherited representative (MIN over its twins' corpus-cluster reps,
    // q74's clustering over the q82 corpus pairs), own doc_id when
    // novel. Completes {batch q195, incremental here, streaming q198}.
    "q197_incremental_cluster_split" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val batch = docs.filter(col("doc_id") >= IncrementalSplitId)
      val cross = TextDedup.portableCrossPairStats(corpus, batch, "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
      admissionOut(batch, cross, corpusClusters(corpus))
    },
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
    "q199_zipf_slope" -> { (spark, dir) =>
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
    },
    // Cross-modality consistency audit (round 11 session 2): verified
    // TEXT near-dup pairs (the q82 portable minhash pipeline) scored by
    // their EMBEDDING integer dot (the q84/q186 quantized spelling) —
    // pairs whose modalities disagree (near-identical text, dot below
    // the q84 similarity floor) flag stale or corrupted embeddings
    // BEFORE a SemDeDup-style pass trusts them. First entry joining the
    // text-pair pipeline with the embeddings table: vectors join AFTER
    // pair generation (payload-per-surviving-pair — the q82 verify
    // discipline, never payload through the bucket shuffle); pairs
    // without embeddings drop in the inner join, identically in the
    // replay. The dot is materialized ONCE (the CLAUDE.md aliased-column
    // rule) and the divergent flag is scan-local.
    "q202_modality_audit" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val emb = Tables.table(spark, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      TextDedup.portablePairStats(docs, "doc_id", "text")
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
        .join(emb.select(col("vec_id").as("id_a"), col("qv").as("qa")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"), col("qv").as("qb")), Seq("id_b"))
        .withColumn("dot", Similarity.intDot(col("qa"), col("qb")))
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
          col("dot"),
          (col("dot") < EmbedMinScore).cast("long").as("divergent"))
        .orderBy(col("divergent").desc, col("id_a"), col("id_b")).limit(100)
    },
    // Gate-ensemble agreement matrix (round 11 session 2, capstone v4):
    // the multi-gate curation DECISION in one plan — every document
    // scored by the three independent model/structural gates the rounds
    // built (span retention ≥ SpanKeepBp, LM perplexity ≤ PplGateBp,
    // trained-classifier agreement pred == label), then the per-(gates
    // passed, lang) histogram a curation run triages with: the 3-gate
    // band ships, the 0-gate band drops, the middle bands get review
    // budgets. Stage equivalences individually hash-proven by q174/
    // q170/q188; this row proves the COMPOSITION (the q140/q177/q182
    // discipline). Documents a gate never scored (too short / zero
    // in-vocab tokens) FAIL that gate via left-join + coalesce — the
    // same rule in the replay, so the NaiveBayes.score drop contract is
    // handled, not assumed away.
    "q201_gate_ensemble" -> { (spark, dir) =>
      gateDecisions(spark, dir)
        .groupBy("n_gates", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("n_gates", "lang").limit(100)
    },
    // Release artifact (round 12): the "ship it" step the gate ensemble
    // stopped short of — the 3-gate admitted documents WRITTEN as
    // sharded JSONL (Sinks.writeJsonlShards, the tokenizer/loader
    // interchange format), then the per-(gates-passed, lang) manifest a
    // release publishes. The ship band's manifest row is computed FROM
    // THE RELOADED SHARDS (schema-pinned read-back), so the oracle hash
    // covers the write→read round-trip: n_docs, token totals and an
    // order-independent XOR content signature must survive JSON
    // encode/decode bit-exactly. Non-admitted bands aggregate the
    // decision frame directly — one spelling for every band in the
    // replay. 100-TB shape: the write is the sink's own rolling
    // (maxRecordsPerFile, no extra shuffle) and the manifest is a
    // keyed aggregate — nothing driver-sided but the bounded band list.
    "q203_release_manifest" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val gates = Checkpoints.cut(gateDecisions(spark, dir), eager = false)
      val admitted = gates.filter(col("n_gates") === 3)
        .join(d.select("doc_id", "text"), Seq("doc_id"))
        .select("doc_id", "lang", "text")
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q203")
      graft.sources.Sinks.writeJsonlShards(admitted, s"$tmpPath/shards",
        maxRecordsPerShard = 64)
      val ship = Checkpoints.cut(
        bandManifest(
          graft.sources.Sources.jsonl(spark, s"$tmpPath/shards", releaseReloadSchema)
            .withColumn("n_gates", lit(3L))),
        eager = true)
      rmTree(tmpPath.toFile)
      bandManifest(gates.filter(col("n_gates") < 3)
          .join(d.select("doc_id", "text"), Seq("doc_id")))
        .unionByName(ship)
        .orderBy("n_gates", "lang").limit(100)
    },
    // Streaming admission ensemble (round 12): the composed three-gate
    // decision run at INGEST — incoming documents streamed and scored
    // per micro-batch against STATIC structures (full-corpus shared-span
    // index, full-corpus LM marginals, train-built classifier model; all
    // lineage-cut once so micro-batches join materialized frames), ONE
    // composed admission decision per document, zero streaming state
    // (the q172/q176/q194 shape — a doc never splits across batches).
    // Streaming ≡ batch on the closed input → hashes against the q201
    // gates replay restricted to streamed ids.
    "q204_stream_gate_ensemble" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val (spans, c2, c1, m) = gateStatics(spark, dir)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, d.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q204")
      val gates = s"$tmpPath/gates"
      graft.streaming.StreamOps.runBatches(stream, s"$gates-ckpt") { (b, batchId) =>
        writeGateBatchDecisions(b, spans, c2, c1, m)(
          _.write.mode("overwrite").parquet(s"$gates/batch=$batchId"))
      }
      val decided = Checkpoints.cut(
        spark.read.parquet(gates).select("doc_id", "lang", "n_gates"), eager = true)
      rmTree(tmpPath.toFile)
      decided.orderBy("doc_id").limit(100)
    },
    // Streaming release (round 12, capstone v6): continuous ingest that
    // SHIPS — per micro-batch, the composed q204 admission decision AND
    // the batch's admitted documents written as JSONL shards through a
    // batchId-derived subpath (replay-idempotent: a recomputed batch
    // overwrites its own subpath, never appends a duplicate — the q162
    // sink rule applied to the release format). The manifest is then
    // computed FROM THE RELOADED shards, so the oracle hash covers gate
    // composition + streaming shard write + schema-pinned reload in
    // one. Streaming ≡ batch on closed input → the q203 replay's ship
    // band restricted to streamed ids.
    "q206_stream_release" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val (spans, c2, c1, m) = gateStatics(spark, dir)
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, d.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_q206")
      val shardRoot = s"$tmpPath/shards"
      // side-effect-only runner: the JSONL shards ARE the entry's sink —
      // the parquet-partials convention would add a dead write+read per
      // batch that nothing consumes
      graft.streaming.StreamOps.runBatches(stream, s"$tmpPath/ckpt") { (b, batchId) =>
        writeGateBatchDecisions(b, spans, c2, c1, m) { g =>
          graft.sources.Sinks.writeJsonlShards(
            g.filter(col("n_gates") === 3)
              .join(b.select("doc_id", "text"), Seq("doc_id"))
              .select("doc_id", "lang", "text"),
            s"$shardRoot/batch=$batchId", maxRecordsPerShard = 64)
        }
      }
      val manifest = Checkpoints.cut(
        bandManifest(
            graft.sources.Sources.jsonl(spark, s"$shardRoot/batch=*", releaseReloadSchema)
              .withColumn("n_gates", lit(3L)))
          .select("lang", "n_docs", "n_toks", "xor_sig"),
        eager = true)
      rmTree(tmpPath.toFile)
      manifest.orderBy("lang").limit(100)
    },
    // Rare-span memorization-risk audit (round 11 session 2): per
    // document, the share of its k-token windows that are globally
    // UNIQUE in the corpus — the privacy/outlier surface (Kandpal et
    // al. 2022: duplicated spans drive extraction; what remains unique
    // is what a model memorizes from exactly one place). The n==1
    // complement of the q173 shared-span table, same keys-only pass.
    "q200_rare_spans" -> { (spark, dir) =>
      TextDedup.rareSpanStats(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("rare_bp").desc, col("doc_id")).limit(100)
    },
    // Streaming admission (round 11 session 2): the q197 check per
    // micro-batch — incoming docs banded against the STATIC corpus index
    // (the q126/q183 machinery, zero streaming state), then the same
    // inherited-representative split. Streaming ≡ batch on the closed
    // input → hashes against the q197 replay.
    "q198_stream_admission" -> { (spark, dir) =>
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < IncrementalSplitId)
      val batch = docs.filter(col("doc_id") >= IncrementalSplitId)
      val comp = Checkpoints.cut(corpusClusters(corpus), eager = false)
      val (base, banded) = TextDedup.portableIndexFrames(corpus, "doc_id", "text")
      val stream = graft.streaming.StreamOps.docsSource(spark, dir, docs.schema)
        .filter(col("doc_id") >= IncrementalSplitId)
      val cross = graft.streaming.StreamOps.runAppend(spark,
          graft.streaming.StreamOps.dedupAgainstCorpus(stream, base, banded, "doc_id", "text"),
          s"q198_mem_${math.abs(dir.hashCode)}")
        .distinct() // multiset band output, cf. q126
        .filter(col("n_inter") * 10 >= col("n_union") * 9)
      admissionOut(batch, cross, comp)
    },
    // Streaming ingest dedup run to completion on the closed input
    // (round 8): the incoming half STREAMED and deduped per micro-batch
    // against the static corpus index — stateless (no watermark, no join
    // state; banding is per-row expression work, both joins
    // stream-static). Hash-checked against the same DuckDB batch replay
    // as q124: streaming output = batch answer on closed input (the
    // q51/q89 contract, now for the dedup pipeline).
    "q126_stream_dedup" -> { (spark, dir) =>
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
    },
    // Incremental embedding near-dup (round 8): the vector analogue of
    // q124 — an incoming batch (vec_id ≥ split) deduped against the
    // existing index (vec_id < split); oracle = the symmetric q84 replay
    // restricted to cross pairs.
    "q125_incremental_embed" -> { (spark, dir) =>
      val vecs = Tables.table(spark, dir, "embeddings")
      val b = embedBitsFor(spark, dir)
      Similarity.portableCrossEmbedPairs(
          vecs.filter(col("vec_id") < IncrementalSplitId),
          vecs.filter(col("vec_id") >= IncrementalSplitId),
          "vec_id", "embedding", minScore = EmbedMinScore,
          tables = embedTablesFor(b), bits = b, probes = embedProbesFor(b))
        .orderBy("id_a", "id_b").limit(100)
    },
    // Transitive clustering over the hash-checked q84 pairs (round 6):
    // pointer-jumping connected components (the q74 machinery) on the
    // embedding near-dup graph — the grouping step an embedding-dedup
    // pipeline actually ships. DuckDB replays with a recursive closure
    // over the SAME pair CTEs, so clustering itself is hash-checked.
    "q97_embed_clusters" -> { (spark, dir) =>
      val b = embedBitsFor(spark, dir)
      val pairs = Similarity.portableEmbedPairs(Tables.table(spark, dir, "embeddings"),
          "vec_id", "embedding", minScore = EmbedMinScore,
          tables = embedTablesFor(b), bits = b, probes = embedProbesFor(b),
          corpusRowsHint = embedCountFor(spark, dir))
        .select(col("id_a"), col("id_b"))
      TextDedup.nearDupClusters(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster"))
        .orderBy("vec_id").limit(100)
    },
    // Portable SimHash near-dup pairs (round 5; combination banding round
    // 8): 32-bit sign-sum signatures from md5 token hashes, 5-of-8-chunk
    // combination banding (TextDedup.SimhashChunks — kills the 2^8
    // bucket-cardinality ceiling; the verified pair set is pigeonhole-
    // identical), exact-hamming verification — all integer arithmetic, so
    // the whole pipeline hash-checks (production 64-bit SimHash64 stays
    // q41, rows-only; the 32-bit twin is noisier — hamming ≤ 3 of 32
    // admits weaker matches — which the oracle doesn't mind: it checks
    // determinism, not recall).
    "q83_simhash_portable" -> { (spark, dir) =>
      TextDedup.portableSimhashPairs(Tables.table(spark, dir, "documents"),
          "doc_id", "text")
        .orderBy("id_a", "id_b").limit(100)
    },
    // CDC upsert compaction (round 5): latest version per key wins — one
    // max_by hash aggregate over base ∪ updates, no window/sort; the
    // update batch is derived deterministically so both engines replay
    // the identical merge.
    "q81_upsert_latest" -> { (spark, dir) =>
      val d = Tables.table(spark, dir, "documents")
      val base = d.select(col("doc_id"), lit(1L).as("version"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val updates = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          (size(split(col("text"), " ")) + 2).cast("long").as("n_tokens"))
      graft.operators.Scale.upsertLatest(base, updates, "doc_id", "version")
        .orderBy("doc_id").limit(100)
    },
    // Deterministic stratified corpus mix (round 7): per-language quotas
    // applied by md5-key-hash threshold — the promotable twin of
    // weightedMix/stratifiedSample (seeded rand is engine-specific; the
    // hash mix gives every engine the IDENTICAL surviving key set, the
    // q69 discipline). The report is the per-stratum kept-count — what a
    // curation run logs after composing a training mixture.
    "q101_corpus_mix" -> { (spark, dir) =>
      graft.operators.Scale.hashStratifiedMix(
          Tables.table(spark, dir, "documents"), "lang", "doc_id", MixQuotasBp)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang").limit(100)
    },
    // Whole-corpus table profiling (widened round 6): nulls /
    // cardinalities / ranges for every int/string/date column of all 10
    // testdata tables — one pruned one-column scan per branch, unioned;
    // output is metadata-sized (one row per profiled column). Doubles are
    // excluded (float→string rendering is the known cross-engine hash
    // hazard), as is events.ts (timestamp-nanos). The DuckDB text is
    // GENERATED from the same `profileSpec`, so the two can't drift.
    "q80_profile" -> { (spark, dir) =>
      graft.operators.TableProfile.profileTables(
          profileSpec.map { case (t, cols) => (t, Tables.table(spark, dir, t), cols) },
          dateCols = profileDateCols, centsCols = profileCentsCols)
        .orderBy("col_name").limit(100)
    }
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    corpusEntries ++ behaviorEntries ++ tierEEntries

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

  /** Driver-contract surface: texts at the sf0.1 default constants
    * (embed bits 6 = recommendedBits at 2,000 vectors, nlist 16, empty
    * merge list → pure character segmentation, ANN search point at the
    * 2,000-vector rule value). Specs use it for keys/sizes only; every
    * gate path that RUNS the texts goes through `oracleSqlFor(spark,
    * dir)`. */
  def oracleSql: Map[String, String] =
    oracleTexts(6, 16, Nil, 4, graft.operators.Similarity.recommendedSearchPoint(2000))

  private def oracleTexts(embedBits: Int, semNlist: Int,
                          bpeMerges: Seq[(String, String)],
                          phashChunks: Int,
                          annPoint: (Int, Int, Int)): Map[String, String] = {
    val (annTables, annBits, annProbes) = annPoint
    // round 13, q207/q208 (one text — streaming ≡ batch on closed
    // input): the q186 semantic-cluster replay restricted to CROSS pairs
    // (existing < split ≤ incoming). The cap keys on the EXISTING-side
    // cluster size only (micro-batch-invariant — Similarity.semCrossPairs'
    // contract), so it is a window over the existing members, not csz.
    // Centroids are the full replay's (the nlist lowest vec_ids all
    // precede the split — DriftGuardSpec pins the containment).
    val semCrossOracle =
      s"WITH ${semClusterCtes(semNlist)}, " +
        s"csze AS (SELECT cid, COUNT(*) AS ne FROM asg WHERE vec_id < $IncrementalSplitId GROUP BY cid), " +
        s"pr AS (SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b FROM asg a " +
        s"JOIN asg b ON a.cid = b.cid AND a.vec_id < $IncrementalSplitId AND b.vec_id >= $IncrementalSplitId " +
        s"JOIN csze ON csze.cid = a.cid WHERE csze.ne <= ${graft.operators.TextDedup.DefaultMaxBucketSize}), " +
        "v AS (SELECT pr.cid, id_a, id_b, CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) AS score " +
        "FROM pr JOIN c ca ON ca.vec_id = pr.id_a JOIN c cb ON cb.vec_id = pr.id_b) " +
        s"SELECT cid, id_a, id_b, score FROM v WHERE score >= $EmbedMinScore " +
        "ORDER BY id_a, id_b LIMIT 100"
    Corpus.queries.map(q => q.id -> q.duckSql).toMap ++ Map(
      "q25_limit_inject" -> "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100",
      // q129 (round 10): the oracle keeps the STRING-keyed spelling — the
      // Spark side's 64-bit unigram hashes are injective on the corpus
      // vocabulary, so the groupings coincide; the lift is the q85/q116
      // FLOOR-double rule with the identical left-associated IEEE
      // expression tree both engines evaluate bit-for-bit (every operand
      // an exact integer < 2^53) — overflow-safe at any corpus size,
      // unlike the retired BIGINT c2·N·100 chain.
      "q129_collocations" ->
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
          "WHERE c2 >= 3 ORDER BY lift_c DESC, w1, w2 LIMIT 100"),
      // q132 (round 10): the oracle spells the Spark side's fused 8-byte
      // shingle key via the documented '0x'||substr(md5(…),1,8)
      // equivalence — 32-bit collisions are SHARED, so the two engines
      // agree by construction, not by injectivity.
      "q132_source_overlap" ->
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
          "ORDER BY jaccard_bp DESC, src_a, src_b LIMIT 100"),
      // q144 (round 10): full KMV replay — identical sketches (k smallest
      // distinct 32-bit keys per source), identical candidate rule (pairs
      // sharing a sketch member), identical estimator arithmetic.
      "q144_kmv_overlap" -> {
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
      },
      // q145 (round 10): full Bloom replay — identical positions (the
      // constants interpolate from Sketches.BloomHashes so the two texts
      // cannot drift), identical 32-bit words and bit_or-aggregated
      // filter, identical all-k-bits-set probe rule. Note `& mask <> 0`
      // ≡ `= mask` for single-bit masks.
      "q145_bloom_contamination" -> {
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
      },
      // q147 (round 10): the q145 replay with the probe side restricted
      // to the streamed ids (doc_id >= split) — bit-for-bit the same
      // filter (built from the full blocklist) and probe rule, so
      // hash-equality proves streaming output = batch answer.
      "q147_stream_bloom" -> {
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
      },
      // q146 (round 10): full CMS replay — identical (row, position)
      // cells from the shared constants, identical min-over-rows
      // estimator; the top-100 cut happens on (est, key) BEFORE the
      // string join-back in both engines, so the surviving key sets are
      // equal by construction.
      "q146_cms_heavy_hitters" -> cmsHeavyHittersOracle,
      // q153 (round 10): the IDENTICAL replay — on the closed input the
      // streamed cell table equals the batch build, so hash-equality
      // proves streaming = batch for the sketch-build side.
      "q153_stream_cms" -> cmsHeavyHittersOracle,
      // q148 (round 10): full HLL replay — identical buckets/ranks (the
      // register CTE interpolates from Sketches.hllRegSql so the two
      // texts cannot drift), exact-BIGINT harmonic sum, and the raw
      // estimate as ONE double division + FLOOR over identical integer
      // inputs with the numerator literal interpolated from
      // Sketches.HllNumerator — bit-identical cross-engine.
      "q148_hll_cardinality" -> hllCardinalityOracle,
      // q154 (round 10): the IDENTICAL replay — register-wise max is the
      // HLL merge, so the split-build-merge result equals the full build
      // on closed input (the mergeability identity, hash-proven).
      "q154_incremental_hll" -> hllCardinalityOracle,
      // q149 (round 10): the q148 register+estimator replay under an
      // hourly grouping, keyed on md5(user_id-as-string) — streaming
      // output = batch answer on closed input (the q126/q142/q147
      // contract, now for a STATEFUL windowed aggregate).
      "q149_stream_hll" -> {
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
      },
      // q152 (round 10): full cell-level replay — identical per-key
      // counts (32-bit collisions merge upstream, shared), identical CMS
      // cells from the interpolated constants, identical Σ cell² per
      // depth row and min-over-rows; exact Σc² and over_bp in plain
      // BIGINT arithmetic (CAST-wrapped: DuckDB SUM(BIGINT) is HUGEINT).
      "q152_join_size_estimate" -> {
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
      },
      // q151 (round 10): full sketch-profile replay — per column the
      // identical sentinel-bucket register aggregate (constants
      // interpolated from Sketches), exact-BIGINT sums (CAST wrapped:
      // DuckDB SUM(BIGINT) is HUGEINT), and the q148 FLOOR'd-double
      // estimate. Values hash via md5 of the VARCHAR rendering —
      // BIGINT/VARCHAR/midnight-TIMESTAMP render identically cross-engine.
      "q151_sketch_profile" -> {
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
      },
      // q150 (round 10): full hash-sample replay — identical kept set
      // (k smallest md5-derived keys, doc_id tie-break), identical
      // (value, hash, id) rank order and ceil(q·n/10⁴) index rule, all
      // integer — equal by construction.
      "q150_sample_quantiles" -> sampleQuantilesOracle,
      // q156 (round 10): the IDENTICAL q150 replay — the streamed
      // k-smallest state equals the batch hashSample kept set on closed
      // input, so hash-equality proves streaming = batch for the
      // distribution sketch.
      "q156_stream_sample" -> sampleQuantilesOracle,
      // q155 (round 10): full per-source KMV sketch + kmvDistinct
      // estimator replay (the q144 sketch CTEs under the same k, the
      // Beyer et al. (k−1)·M/h_k estimate as ONE FLOOR'd double division
      // over identical integer inputs — the q85/q116 rule; exact regime
      // below k). The numerator constant interpolates from the same
      // expression kmvDistinct spells, so the two texts cannot drift.
      "q155_stream_kmv" -> {
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
      },
      // q138 (round 10): same shared-32-bit-key posture as q132.
      "q138_novelty" ->
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
          "GROUP BY bi.doc_id ORDER BY novel_bp DESC, doc_id LIMIT 100"),
      // q157/q162 (round 10): the shared full-model replay — see
      // `bigramLmOracle`. q162 streams the model build; on the closed
      // input the streamed counts equal the batch model, so it hashes
      // against the identical text.
      "q157_bigram_lm" -> bigramLmOracle,
      "q162_stream_lm" -> bigramLmOracle,
      // q170-q172 (round 11): the perplexity-gate family — see
      // `pplOracle`. q171/q172 score only the incoming batch against the
      // full model (merged/streamed model = full model on closed input),
      // so their replay is the q170 text with the scoring stage
      // restricted to batch doc ids.
      "q170_ppl_gate" -> pplOracle(""),
      "q171_ppl_incremental" ->
        pplOracle(s"WHERE st.doc_id >= $IncrementalSplitId"),
      "q172_ppl_stream" ->
        pplOracle(s"WHERE st.doc_id >= $IncrementalSplitId"),
      // q173/q174 (round 11): exact-substring span dedup — the k-gram
      // occurrence stream replayed with the composed md5 spelling (the
      // q98 window construction at k = TextDedup.SpanK), canonical
      // occurrence as MIN over the packed doc·10⁶+pos BIGINT (a
      // struct-min is not a shared spelling; the pack is), coverage via
      // generate_series. len(t) >= k mirrors spanOccurrences' sub-k
      // exclusion.
      "q173_shared_spans" ->
        (s"WITH $spanOccCtes, " +
          s"sp AS (SELECT h, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs, " +
          s"MIN(doc_id * $SpanPosPackSql + pos) AS canon FROM occ GROUP BY h) " +
          "SELECT h, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs, " +
          s"CAST(canon // $SpanPosPackSql AS BIGINT) AS canon_doc, " +
          s"CAST(canon % $SpanPosPackSql AS BIGINT) AS canon_pos " +
          "FROM sp WHERE n_occ >= 2 ORDER BY n_occ DESC, h LIMIT 100"),
      "q174_span_removal" -> spanRemovalOracle(""),
      // round 11: the benchmark-scrub replay — benchmark span set as a
      // DISTINCT hash table (no n ≥ 2, no canonical exemption: every
      // training occurrence of a benchmark span is removed), coverage and
      // stats as in the q174 replay, training docs only, contaminated
      // tail first
      "q184_benchmark_scrub" ->
        (s"WITH $spanOccCtes, " +
          "bs AS (SELECT DISTINCT h FROM occ WHERE doc_id % 97 = 0), " +
          "rme AS (SELECT occ.doc_id AS doc_id, " +
          s"unnest(generate_series(occ.pos, occ.pos + ${TextDedup.SpanK - 1})) AS p " +
          "FROM occ JOIN bs ON occ.h = bs.h WHERE occ.doc_id % 97 <> 0), " +
          "rm AS (SELECT doc_id, COUNT(DISTINCT p) AS nr FROM rme GROUP BY doc_id) " +
          "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
          "CAST(COALESCE(rm.nr, 0) AS BIGINT) AS n_removed, " +
          "CAST((len(string_split(d.text, ' ')) - COALESCE(rm.nr, 0)) * 10000 " +
          "// len(string_split(d.text, ' ')) AS BIGINT) AS kept_bp " +
          "FROM documents d LEFT JOIN rm ON rm.doc_id = d.doc_id " +
          "WHERE d.doc_id % 97 <> 0 " +
          "ORDER BY kept_bp, d.doc_id LIMIT 100"),
      // q175/q176 (round 11): the same replay restricted to incoming doc
      // ids — the merged (q175) / precomputed-static (q176) span index
      // equals the full-corpus index on the closed input, so incremental
      // and streaming both hash against the restricted batch answer.
      "q175_incremental_spans" ->
        spanRemovalOracle(s"WHERE d.doc_id >= $IncrementalSplitId"),
      "q176_stream_spans" ->
        spanRemovalOracle(s"WHERE d.doc_id >= $IncrementalSplitId"),
      // q177 (round 11 capstone): the composed curation path — span
      // removal accounting (q174's CTEs, renamed tk8/…) feeding the
      // retention gate, the LM surprisal stage (q170's CTEs, renamed
      // tk2/…) feeding the perplexity gate, one per-language budget
      // aggregate. Stage equivalences are individually hash-proven by
      // q174/q170; this row proves the COMPOSITION (the q140
      // discipline).
      "q177_curation_capstone" -> {
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
      },
      // q165 (round 10): identical replay to q160 — the streamed
      // k-smallest state equals the batch priority sample on closed
      // input (same (prio, doc_id) order, same k).
      "q165_stream_weighted" -> Corpus.byId("q160_weighted_sample").duckSql,
      // q166 (round 10): identical replay to q164 — streamed hourly
      // windows sum to the batch hourly counts on closed input.
      "q166_stream_anomaly" -> Corpus.byId("q164_rate_anomaly").duckSql,
      // q167/q168 (round 10): identical replays to q160/q159 — the
      // split-build-merge results equal the full builds on closed input
      // (k-smallest and additive-count merge identities).
      "q167_incremental_weighted" -> Corpus.byId("q160_weighted_sample").duckSql,
      "q168_incremental_postings" -> Corpus.byId("q159_inverted_postings").duckSql,
      // q161 (round 10): the q157 replay restricted to batch doc ids —
      // the model CTEs still aggregate over ALL documents, which equals
      // the Spark side's corpus+batch key-wise count merge on the closed
      // input (disjoint doc sets ⇒ additive counts). Hash equality IS
      // the incremental-correctness proof.
      "q161_incremental_lm" ->
        bigramLmOracle.replace("FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 GROUP BY",
          "FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 " +
            s"WHERE st.doc_id >= $IncrementalSplitId GROUP BY"),
      // CAST the SUM: DuckDB SUM(BIGINT) is HUGEINT, which its pandas
      // path renders as float ("99111.0") — BIGINT renders like Spark's.
      "q34_json_extract" ->
        ("SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum " +
          "FROM events GROUP BY event_type ORDER BY event_type LIMIT 100"),
      "q35_dedup_exact" -> "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_uniq FROM documents",
      // promoted round 2: dedupExactByHash keeps MIN(doc_id) per distinct
      // text (modulo xxhash64 collisions, negligible at any tested SF)
      "q36_dedup_survivors" ->
        ("SELECT doc_id FROM (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) t " +
          "ORDER BY doc_id LIMIT 1000"),
      "q37_token_stats" ->
        ("SELECT token, COUNT(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS token " +
          "FROM documents) t GROUP BY token ORDER BY n DESC, token LIMIT 100"),
      "q42_ngram_jaccard" ->
        ("SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
          "len(list_intersect(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' ')))) AS n_common, " +
          "len(list_distinct(list_concat(list_distinct(string_split(a.text, ' ')), list_distinct(string_split(b.text, ' '))))) AS n_union " +
          "FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 ORDER BY id_a LIMIT 100"),
      // list_sum returns HUGEINT → DuckDB's pandas path floats it; CAST
      // every derived metric to BIGINT so both engines render identically.
      "q47_quality" ->
        ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
          "len(list_distinct(string_split(text, ' '))) AS n_distinct, " +
          "CAST((100 * len(list_distinct(string_split(text, ' ')))) // len(string_split(text, ' ')) AS BIGINT) AS diversity_pct, " +
          "CAST((10 * list_sum(list_transform(string_split(text, ' '), w -> len(w)))) // len(string_split(text, ' ')) AS BIGINT) AS mean_token_len_tenths " +
          "FROM documents ORDER BY doc_id LIMIT 100"),
      "q48_token_count" ->
        ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents " +
          "ORDER BY n_tokens DESC, doc_id LIMIT 100"),
      // the streaming result must equal the batch answer — DuckDB computes
      // the batch answer directly
      "q51_stream_hourly" ->
        ("SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, " +
          "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents FROM events " +
          "GROUP BY date_trunc('hour', ts), event_type ORDER BY h, event_type LIMIT 100"),
      "q72_asof" ->
        ("WITH clicks AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts " +
          "FROM events WHERE event_type = 'click'), " +
          "views AS (SELECT user_id, date_trunc('second', ts) AS ts " +
          "FROM events WHERE event_type = 'view') " +
          "SELECT a.event_id AS l_event_id, b.ts AS r_ts " +
          "FROM clicks a ASOF JOIN views b ON a.user_id = b.user_id AND b.ts <= a.ts " +
          "WHERE a.ts - b.ts <= INTERVAL 3600 SECOND " +
          "ORDER BY l_event_id LIMIT 100"),
      // round 5: integer TF-IDF surrogate — both engines integer-divide
      // (Spark `div`, DuckDB `//`), ties break lexicographically
      "q79_tfidf_topterms" ->
        ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
          "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token), " +
          "docfreq AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token), " +
          "s AS (SELECT tf.doc_id, tf.token, tf.tf, docfreq.df, (tf.tf * 1000) // docfreq.df AS score_k, " +
          "row_number() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * 1000) // docfreq.df DESC, tf.token) AS rnk " +
          "FROM tf JOIN docfreq USING (token)) " +
          "SELECT doc_id, token, tf, df, score_k, rnk FROM s WHERE rnk <= 3 " +
          "ORDER BY doc_id, rnk LIMIT 100"),
      // round 5: the full LSH pipeline replayed on the SAME integers —
      // coefficients interpolated from TextDedup.affineCoeffs so both
      // texts share one source of truth; banding uses exact string band
      // keys (no engine-specific band hash), so candidate sets match
      // bit-for-bit and the oracle checks banding itself
      "q82_minhash_portable" ->
        (s"WITH $minhashReplayCtes " +
          "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
          "FROM v WHERE n_inter * 10 >= n_union * 9 ORDER BY id_a, id_b LIMIT 100"),
      // round 8: incremental near-dup — the SAME replay restricted to
      // pairs straddling the id split. Equality proves the asymmetric
      // Spark plan (portableCrossPairStats — incoming banded against
      // existing, combined-occupancy cap) finds exactly the symmetric
      // pipeline's cross pairs.
      "q124_incremental_neardup" ->
        (s"WITH $minhashReplayCtes " +
          "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
          s"FROM v WHERE n_inter * 10 >= n_union * 9 AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
          "ORDER BY id_a, id_b LIMIT 100"),
      // round 8: the STREAMING ingest-dedup entry must equal the same
      // batch answer on closed input (q51/q89 contract) — same replay
      "q126_stream_dedup" ->
        (s"WITH $minhashReplayCtes " +
          "SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter, CAST(n_union AS BIGINT) AS n_union " +
          s"FROM v WHERE n_inter * 10 >= n_union * 9 AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
          "ORDER BY id_a, id_b LIMIT 100"),
      // round 11: the same verified-pair replay with the q69 md5 split
      // label derived per id — hash equality proves the scan-local split
      // projection finds exactly the cross-boundary near-dup pairs
      "q178_split_leakage" -> crossSplitLeakageOracle(""),
      // round 11: the q124 replay (pairs straddling the id split —
      // incoming batch vs existing corpus) under the same split labels:
      // the asymmetric plan's admission check equals the symmetric
      // pipeline's cross-boundary leaks on the closed input
      "q181_incremental_leakage" -> crossSplitLeakageOracle(
        s"AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId "),
      // round 11: the STREAMING leakage form hashes against the identical
      // q181 replay — streaming output = batch answer on closed input
      "q183_stream_leakage" -> crossSplitLeakageOracle(
        s"AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId "),
      // round 11 capstone v3: the composed release-gate replay — the q178
      // leak CTEs feed an anti-join decontaminating the train split, the
      // q179 budget CTEs run over the decontaminated frame, and the leak
      // report joins back per language (ORDER BY qualified — the r10
      // binder lesson)
      "q182_decon_release" ->
        (s"WITH $minhashReplayCtes, " +
          "sl AS (SELECT id_a, id_b, " +
          "CASE WHEN CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' ELSE 'test' END AS sa, " +
          "CASE WHEN CAST(('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train' ELSE 'test' END AS sb " +
          "FROM v WHERE n_inter * 10 >= n_union * 9), " +
          "leak AS (SELECT DISTINCT CASE WHEN sa = 'test' THEN id_b ELSE id_a END AS doc_id FROM sl WHERE sa <> sb), " +
          "tr AS (SELECT d.* FROM documents d WHERE " +
          "CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
          "AND d.doc_id NOT IN (SELECT doc_id FROM leak)), " +
          "pr AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h, n_chars FROM tr), " +
          "wt AS (SELECT doc_id, lang, n_toks, CAST(h // (n_chars // 100 + 1) AS BIGINT) AS prio FROM pr), " +
          "cs AS (SELECT lang, n_toks, " +
          "SUM(n_toks) OVER (PARTITION BY lang ORDER BY prio, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "SUM(n_toks) OVER (PARTITION BY lang) AS tot FROM wt), " +
          "bud AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS toks_kept, " +
          "CAST(MAX(tot) AS BIGINT) AS tot_toks, " +
          "CAST(SUM(n_toks) * 10000 // MAX(tot) AS BIGINT) AS kept_bp " +
          s"FROM cs WHERE cum * 100 <= tot * $MixBudgetPct GROUP BY lang), " +
          "lk AS (SELECT d.lang, COUNT(*) AS n_leaked FROM leak JOIN documents d ON d.doc_id = leak.doc_id GROUP BY d.lang) " +
          "SELECT b.lang AS lang, b.n_docs, b.toks_kept, b.tot_toks, b.kept_bp, " +
          "CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked " +
          "FROM bud b LEFT JOIN lk l ON l.lang = b.lang ORDER BY b.lang LIMIT 100"),
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
      "q205_subword_budget" -> {
        def esc(s: String) = s.replace("'", "''")
        val mlist = "CAST([" +
          bpeMerges.map { case (l, r) => s"'${esc(l)} ${esc(r)}'" }.mkString(", ") +
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
      },
      "q179_budget_mix" ->
        ("WITH pr AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h, n_chars " +
          "FROM documents), " +
          "wt AS (SELECT doc_id, lang, n_toks, CAST(h // (n_chars // 100 + 1) AS BIGINT) AS prio FROM pr), " +
          "cs AS (SELECT lang, n_toks, " +
          "SUM(n_toks) OVER (PARTITION BY lang ORDER BY prio, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "SUM(n_toks) OVER (PARTITION BY lang) AS tot FROM wt) " +
          "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS toks_kept, " +
          "CAST(MAX(tot) AS BIGINT) AS tot_toks, " +
          "CAST(SUM(n_toks) * 10000 // MAX(tot) AS BIGINT) AS kept_bp " +
          s"FROM cs WHERE cum * 100 <= tot * $MixBudgetPct " +
          "GROUP BY lang ORDER BY lang LIMIT 100"),
      // round 11: the upsampling twin — same priority/cumsum replay, the
      // prefix boundary becomes a +1-epoch indicator instead of a filter
      "q185_epoch_upsample" ->
        ("WITH pr AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks, " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h, n_chars " +
          "FROM documents), " +
          "wt AS (SELECT doc_id, lang, n_toks, CAST(h // (n_chars // 100 + 1) AS BIGINT) AS prio FROM pr), " +
          "cs AS (SELECT lang, n_toks, " +
          "SUM(n_toks) OVER (PARTITION BY lang ORDER BY prio, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "SUM(n_toks) OVER (PARTITION BY lang) AS tot FROM wt), " +
          s"bs AS (SELECT lang, n_toks, tot, CASE WHEN cum * 100 <= tot * ${UpsamplePct % 100} THEN 1 ELSE 0 END AS boost FROM cs) " +
          "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(boost) AS BIGINT) AS n_boosted, " +
          s"CAST(SUM(n_toks * (${UpsamplePct / 100} + boost)) AS BIGINT) AS emitted_toks, " +
          "CAST(MAX(tot) AS BIGINT) AS tot_toks, " +
          s"CAST(SUM(n_toks * (${UpsamplePct / 100} + boost)) * 10000 // MAX(tot) AS BIGINT) AS emitted_bp " +
          "FROM bs GROUP BY lang ORDER BY lang LIMIT 100"),
      // round 11: the q74/q131 recursive closure aggregated into the
      // cluster-size histogram + keep-longest removal accounting
      "q180_dedup_audit" ->
        (s"WITH RECURSIVE $adjClusterCtes, " +
          "lab AS (SELECT d.doc_id, d.n_chars, COALESCE(c.cluster, d.doc_id) AS comp " +
          "FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id), " +
          "sz AS (SELECT comp, COUNT(*) AS csize, SUM(n_chars) AS chars, MAX(n_chars) AS max_chars FROM lab GROUP BY comp) " +
          "SELECT CAST(csize AS BIGINT) AS csize, COUNT(*) AS n_clusters, " +
          "CAST(SUM(csize) AS BIGINT) AS n_docs, " +
          "CAST(SUM(chars) - SUM(max_chars) AS BIGINT) AS dup_chars " +
          "FROM sz GROUP BY csize ORDER BY csize LIMIT 100"),
      // round 11 session 2: cluster-aware split — whole near-dup
      // clusters assigned by the q69 md5 rule on the CLUSTER id
      "q195_cluster_split" ->
        (s"WITH RECURSIVE $adjClusterCtes, " +
          "lab AS (SELECT d.doc_id, d.lang, COALESCE(c.cluster, d.doc_id) AS comp " +
          "FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id), " +
          "sp AS (SELECT lang, comp, CASE WHEN " +
          "CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
          "THEN 'train' ELSE 'test' END AS split FROM lab) " +
          "SELECT split, lang, COUNT(*) AS n_docs, COUNT(DISTINCT comp) AS n_clusters " +
          "FROM sp GROUP BY split, lang ORDER BY split, lang LIMIT 100"),
      // round 11 session 2: DSIR-ranked token budget — the q192 score as
      // the q179 priority; DuckDB's lang-partitioned running sum is the
      // oracle for the distributed boundary-carry prefix sum
      "q196_dsir_budget" ->
        (s"WITH ${dsirScoreCtes("")}, " +
          "dtk AS (SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_toks, sc.dsir_score " +
          "FROM documents d JOIN sc ON sc.doc_id = d.doc_id), " +
          "cs AS (SELECT lang, doc_id, n_toks, dsir_score, " +
          "SUM(n_toks) OVER (PARTITION BY lang ORDER BY (0 - dsir_score), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "SUM(n_toks) OVER (PARTITION BY lang) AS tot FROM dtk) " +
          "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS toks_kept, " +
          "CAST(MAX(tot) AS BIGINT) AS tot_toks, " +
          "CAST(CAST(SUM(n_toks) AS BIGINT) * 10000 // MAX(tot) AS BIGINT) AS kept_bp, " +
          "CAST(SUM(dsir_score) AS BIGINT) AS score_kept " +
          s"FROM cs WHERE cum * 100 <= tot * $MixBudgetPct " +
          "GROUP BY lang ORDER BY lang LIMIT 100"),
      // round 5: embedding LSH replayed relationally — hyperplanes as a
      // VALUES table generated from Similarity.portableHyperplanes (one
      // source of truth), buckets via SUM of sign bits, verification by
      // integer dot (CTE chain shared with q97's clustering replay)
      "q84_embedlsh_portable" ->
        (s"WITH ${embedLshReplayCtes(embedBits)} " +
          s"SELECT id_a, id_b, score FROM v WHERE score >= $EmbedMinScore ORDER BY id_a, id_b LIMIT 100"),
      // round 17: the sharded decomposition returns the IDENTICAL pair
      // set under the gate fixtures' occupancy (ShardedPairsSpec), so
      // its oracle is the q84 replay verbatim
      "q223_sharded_embedlsh" ->
        (s"WITH ${embedLshReplayCtes(embedBits)} " +
          s"SELECT id_a, id_b, score FROM v WHERE score >= $EmbedMinScore ORDER BY id_a, id_b LIMIT 100"),
      // round 17: the persisted sharded incremental twin — identical
      // pair set to q125 under the gate occupancy (ShardedPairsSpec),
      // so its oracle is the q125 replay verbatim
      "q224_sharded_incremental_embed" ->
        (s"WITH ${embedLshReplayCtes(embedBits)} " +
          s"SELECT id_a, id_b, score FROM v WHERE score >= $EmbedMinScore " +
          s"AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
          "ORDER BY id_a, id_b LIMIT 100"),
      // round 11: SemDeDup — cluster-then-pairwise; the cap mirrors the
      // Spark degenerate-cluster guard (TextDedup.DefaultMaxBucketSize),
      // COUNT(DISTINCT id_b) = the greedy keep-lowest-id drop set
      "q186_semdedup" ->
        (s"WITH ${semClusterCtes(semNlist)}, " +
          "pr AS (SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
          s"JOIN csz ON csz.cid = a.cid WHERE csz.n_members <= ${graft.operators.TextDedup.DefaultMaxBucketSize}), " +
          "v AS (SELECT pr.cid, id_a, id_b FROM pr JOIN c ca ON ca.vec_id = pr.id_a JOIN c cb ON cb.vec_id = pr.id_b " +
          s"WHERE CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) >= $EmbedMinScore), " +
          "st AS (SELECT cid, COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_dropped FROM v GROUP BY cid) " +
          "SELECT csz.cid, csz.n_members, CAST(COALESCE(st.n_pairs, 0) AS BIGINT) AS n_pairs, " +
          "CAST(COALESCE(st.n_dropped, 0) AS BIGINT) AS n_dropped " +
          "FROM csz LEFT JOIN st ON st.cid = csz.cid ORDER BY csz.cid LIMIT 100"),
      // round 13: incremental SemDeDup — the q186 cluster replay
      // restricted to cross pairs (existing < split ≤ incoming), cap on
      // the EXISTING-side cluster size only (the micro-batch-invariant
      // cap that makes the streaming twin equal the batch form); q208 =
      // the same replay (streaming ≡ batch on closed input)
      "q207_incremental_semdedup" -> semCrossOracle,
      "q208_stream_semdedup" -> semCrossOracle,
      // round 11: prototype pruning — per-cluster centroid-affinity rank,
      // integer quota (n_members × dropBp) DIV 10⁴, dropped manifest
      "q187_prototypes" ->
        (s"WITH ${semClusterCtes(semNlist)}, " +
          "rk AS (SELECT vec_id, cid, s, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY s DESC, vec_id) AS proto_rank FROM asg), " +
          "dr AS (SELECT rk.cid, rk.vec_id, rk.proto_rank, rk.s AS proto_score FROM rk JOIN csz ON csz.cid = rk.cid " +
          s"WHERE rk.proto_rank <= (csz.n_members * $ProtoDropBp) // 10000) " +
          "SELECT cid, vec_id, proto_rank, proto_score FROM dr ORDER BY cid, proto_rank LIMIT 100"),
      // round 11 session 2: Naive Bayes classifier family — train-split
      // token counts, capped vocab, integer-bit label stats/rebates,
      // per-(doc,label) surprisal, argmin prediction + runner-up margin
      "q188_nb_langid" -> nbOracle(""),
      "q189_nb_confusion" ->
        (s"WITH $nbCtes, ${nbScoreCtes("")} " +
          "SELECT d.lang, pr.pred_lang, COUNT(*) AS n " +
          "FROM pr JOIN documents d ON pr.doc_id = d.doc_id " +
          "GROUP BY d.lang, pr.pred_lang ORDER BY d.lang, pr.pred_lang LIMIT 100"),
      // incremental/streaming twins score only the incoming batch; the
      // model CTEs aggregate the full train split = the merged artifact
      "q190_nb_incremental" ->
        nbOracle(s"WHERE tk.doc_id >= $IncrementalSplitId"),
      "q191_nb_stream" ->
        nbOracle(s"WHERE tk.doc_id >= $IncrementalSplitId"),
      // round 11 session 2: admission-time cluster split — the minhash
      // replay's verified pairs split into corpus pairs (recursive
      // closure → clusters) and cross pairs (per-batch-doc inherited
      // rep), the q69 md5 CASE on the rep; q198 = the same replay
      // (streaming ≡ batch on closed input)
      "q197_incremental_cluster_split" -> admissionOracle,
      "q198_stream_admission" -> admissionOracle,
      // round 11 session 2: Zipf slope — integer-bits least squares over
      // the per-lang frequency head; sign extracted before the integer
      // division (DIV truncates, // floors — equal only on positives)
      "q199_zipf_slope" ->
        ("WITH tk AS (SELECT d.lang, unnest(string_split(d.text, ' ')) AS tok FROM documents d), " +
          "c AS (SELECT lang, tok, COUNT(*) AS n FROM tk GROUP BY lang, tok), " +
          "rk AS (SELECT lang, tok, n, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS r FROM c), " +
          s"h AS (SELECT lang, CAST(length(bin(r)) AS BIGINT) AS x, CAST(length(bin(n)) AS BIGINT) AS y FROM rk WHERE r <= $ZipfHead), " +
          "a AS (SELECT lang, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM h GROUP BY lang), " +
          "b AS (SELECT lang, k, k*sxy - sx*sy AS num, k*sxx - sx*sx AS den FROM a) " +
          "SELECT lang, CAST(k AS BIGINT) AS n_terms, " +
          "CAST(CASE WHEN den = 0 THEN 0 ELSE " +
          "(CASE WHEN num < 0 THEN -1 ELSE 1 END) * ((abs(num) * 10000) // den) END AS BIGINT) AS slope_bp " +
          "FROM b ORDER BY lang LIMIT 100"),
      // round 11 session 2: modality audit — the q82 pair replay joined
      // to the q84/q186 quantized-vector CTE, integer dot, divergence
      // flag against the q84 floor
      "q202_modality_audit" ->
        (s"WITH $minhashReplayCtes, " +
          s"${quantEmbCte("qe", "qv")}, " +
          "vp AS (SELECT id_a, id_b, n_inter, n_union FROM v WHERE n_inter * 10 >= n_union * 9), " +
          "md AS (SELECT vp.id_a, vp.id_b, vp.n_inter, vp.n_union, " +
          "CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot " +
          "FROM vp JOIN qe a ON a.vec_id = vp.id_a JOIN qe b ON b.vec_id = vp.id_b) " +
          "SELECT id_a, id_b, n_inter, n_union, dot, " +
          s"CAST(CASE WHEN dot < $EmbedMinScore THEN 1 ELSE 0 END AS BIGINT) AS divergent " +
          "FROM md ORDER BY divergent DESC, id_a, id_b LIMIT 100"),
      // round 11 session 2, capstone v4: the gate-ensemble replay — the
      // q188 NB chain (tk/voc/.../pr) + the q174 span chain (toks/occ +
      // e-prefixed removal CTEs) + the q170 ppl chain (pp_-prefixed to
      // avoid the toks/sc name collisions), composed into per-doc gate
      // indicators via LEFT JOINs (unscored docs fail their gate — the
      // NaiveBayes.score drop contract made explicit) and the
      // (n_gates, lang) histogram
      "q201_gate_ensemble" ->
        (s"WITH $gateEnsembleCtes " +
          "SELECT CAST(n_gates AS BIGINT) AS n_gates, lang, COUNT(*) AS n_docs " +
          "FROM gates GROUP BY n_gates, lang ORDER BY n_gates, lang LIMIT 100"),
      // round 12: the release manifest — the gates chain joined back to
      // the documents for token totals and the order-independent XOR
      // content signature; ONE spelling for every band, which on the
      // Spark side forces the ship band's RELOADED shards to carry the
      // exact admitted content (the write→read round-trip is inside the
      // hash)
      "q203_release_manifest" ->
        (s"WITH $gateEnsembleCtes " +
          "SELECT CAST(g.n_gates AS BIGINT) AS n_gates, g.lang, COUNT(*) AS n_docs, " +
          "CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_toks, " +
          "CAST(bit_xor(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 8)) AS BIGINT)) AS BIGINT) AS xor_sig " +
          "FROM gates g JOIN documents d ON g.doc_id = d.doc_id " +
          "GROUP BY g.n_gates, g.lang ORDER BY n_gates, g.lang LIMIT 100"),
      // round 12: streaming admission ensemble — the q201 gates replay
      // restricted to streamed ids (streaming ≡ batch on closed input,
      // the house identity)
      "q204_stream_gate_ensemble" ->
        (s"WITH $gateEnsembleCtes " +
          "SELECT doc_id, lang, CAST(n_gates AS BIGINT) AS n_gates FROM gates " +
          s"WHERE doc_id >= $IncrementalSplitId ORDER BY doc_id LIMIT 100"),
      // round 12: streaming release — the q203 manifest spelling
      // restricted to the streamed 3-gate band (streaming shard write +
      // reload ≡ the batch ship band on closed input)
      "q206_stream_release" ->
        (s"WITH $gateEnsembleCtes " +
          "SELECT g.lang, COUNT(*) AS n_docs, " +
          "CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_toks, " +
          "CAST(bit_xor(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 8)) AS BIGINT)) AS BIGINT) AS xor_sig " +
          "FROM gates g JOIN documents d ON g.doc_id = d.doc_id " +
          s"WHERE g.doc_id >= $IncrementalSplitId AND g.n_gates = 3 " +
          "GROUP BY g.lang ORDER BY g.lang LIMIT 100"),
      // round 11 session 2: rare-span audit — the q173 occurrence CTEs,
      // per-hash count via a window, per-doc unique-window share
      "q200_rare_spans" ->
        (s"WITH $spanOccCtes, " +
          "wc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS n FROM occ), " +
          "st AS (SELECT doc_id, COUNT(*) AS n_spans, " +
          "SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_rare FROM wc GROUP BY doc_id) " +
          "SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans, CAST(n_rare AS BIGINT) AS n_rare, " +
          "CAST(CAST(n_rare AS BIGINT) * 10000 // n_spans AS BIGINT) AS rare_bp " +
          "FROM st ORDER BY rare_bp DESC, doc_id LIMIT 100"),
      // round 11 session 2: DSIR importance weights — hashed-bigram
      // 64-bucket histograms (the pplOracle hash spelling mod buckets),
      // basis-point normalization, integer-bit log ratio minus the 2¹⁰
      // scale's own bit count
      "q192_dsir_weights" -> dsirOracle(""),
      "q193_dsir_incremental" ->
        dsirOracle(s"WHERE doc_id >= $IncrementalSplitId"),
      "q194_dsir_stream" ->
        dsirOracle(s"WHERE doc_id >= $IncrementalSplitId"),
      // round 8: incremental embedding near-dup — the same replay
      // restricted to pairs straddling the vec_id split (cf. q124)
      "q125_incremental_embed" ->
        (s"WITH ${embedLshReplayCtes(embedBits)} " +
          s"SELECT id_a, id_b, score FROM v WHERE score >= $EmbedMinScore " +
          s"AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId " +
          "ORDER BY id_a, id_b LIMIT 100"),
      // round 6: transitive clustering ON TOP of the hash-checked q84 pair
      // pipeline — connected components (Spark: pointer-jumping hash-min,
      // cf. q74) vs DuckDB's recursive closure over the same verified
      // pairs. cluster = min reachable vec_id.
      "q97_embed_clusters" ->
        (s"WITH RECURSIVE ${embedLshReplayCtes(embedBits)}, " +
          s"pairs AS (SELECT id_a, id_b FROM v WHERE score >= $EmbedMinScore), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs), " +
          "reach(id, lbl) AS (SELECT src, src FROM edges " +
          "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst) " +
          "SELECT id AS vec_id, CAST(MIN(lbl) AS BIGINT) AS cluster FROM reach " +
          "GROUP BY id ORDER BY vec_id LIMIT 100"),
      // round 6: per-document bigram repetition — same shingle
      // construction as the q82 replay (positions 0..len-n), counts and
      // ratio as pure integers (DuckDB SUM(BIGINT) is HUGEINT → CAST)
      "q98_repetition" ->
        ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
          "sh AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 2, 0) + 1), " +
          "i -> array_to_string(toks[i+1:i+2], ' '))) AS sh FROM t), " +
          "tf AS (SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh) " +
          "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles, CAST(MAX(c) AS BIGINT) AS max_rep, " +
          "CAST(MAX(c) * 1000 // SUM(c) AS BIGINT) AS rep_permille " +
          "FROM tf GROUP BY doc_id ORDER BY doc_id LIMIT 100"),
      // round 5 (rebanded round 8): simhash replayed bit-for-bit —
      // sign-sum per bit plane, COMBINATION banding (every
      // C(SimhashChunks, SimhashIntact) chunk subset — combos, chunk
      // width and the bucket cap all interpolated from the SAME
      // TextDedup constants the Spark side bands with), bit_count(xor)
      // hamming. Pigeonhole completeness makes the verified pair set
      // identical to single-chunk banding; the key space grows 2^8 →
      // 2^20 (the round-7 cardinality ceiling).
      "q83_simhash_portable" ->
        simhash32ReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)", ""),
      // round 14, q215: the q83 replay restricted to cross pairs — with
      // every incoming id above the split, the symmetric a<b order
      // restricted to (existing, incoming) IS the incremental cross
      // generator's output, and the symmetric bsz IS the combined cap.
      "q215_incremental_simhash" ->
        simhash32ReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)",
          s" AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId"),
      // round 14, q216: the STREAMING contract replayed exactly — the
      // stateless per-batch check can only cap on EXISTING-side
      // occupancy (per-batch incoming occupancy is unknowable without
      // state), so bsz counts corpus-side rows only.
      "q216_stream_simhash" ->
        simhash32ReplaySql(
          s"SUM(CASE WHEN doc_id < $IncrementalSplitId THEN 1 ELSE 0 END) OVER (PARTITION BY j, ckey)",
          s" AND id_a < $IncrementalSplitId AND id_b >= $IncrementalSplitId"),
      // round 14, q209: the dHash recomputed straight from the document
      // text bytes — the synthetic image's pixel(x, y) is
      // text[(x + y·7) mod len], the 9×8 sample lattice is floor
      // arithmetic, and bit b compares the two adjacent samples. A match
      // proves the Spark side's BMP/PNG encode → real-codec decode →
      // pixel-grid dHash round-trip is pixel-exact. ascii(substr) reads
      // BYTES only on ASCII text — the img CTE's strlen guard (mirrored
      // by the Spark side's octet_length semi-join). Bit 63 is spelled
      // as min-long (DuckDB's 1<<63 throws); summing disjoint bit values
      // through HUGEINT then casting back is exact two's-complement.
      "q209_phash" ->
        (s"WITH $phashImgCte " +
          s"SELECT doc_id AS media_id, $phashExprSql AS phash FROM img " +
          "ORDER BY media_id LIMIT 100"),
      // round 14, q210: q209's hash duplicated at the variant offset
      // (the 18×16 integer-lattice resize is dHash-invariant — the
      // planted-pair identity the Spark pipeline must reproduce through
      // decode → resample → re-encode → decode), then the q83
      // combination-banding replay verbatim at 8-bit chunks: packed
      // combo keys, bucket cap, min-combo single emission, exact
      // hamming.
      "q210_phash_pairs" ->
        (s"WITH $phashImgCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $phashExprSql AS phash FROM img), " +
          s"ph AS (SELECT media_id, phash FROM ph0 UNION ALL SELECT media_id + $PhashVariantOffset, phash FROM ph0), " +
          phashBandingReplaySql),
      // round 14, q211: the aHash recomputed straight from the document
      // bytes — the synthetic WAV's PCM samples ARE the text bytes, so
      // the 65 floor-lattice window sums and the gradient bits replay as
      // pure integer arithmetic. A match proves WAV encode → chunk-walk
      // decode → envelope hash is sample-exact.
      "q211_ahash" ->
        (s"WITH $ahashAudCte, $ahashSumsCte " +
          s"SELECT doc_id AS media_id, $ahashExprSql AS ahash FROM aws " +
          "ORDER BY media_id LIMIT 100"),
      // round 14, q212: the vHash replayed from the text bytes — frame
      // f's pixel(x, y) is text[((x + f) + y·7) mod len], sampled on the
      // dHash lattice and summed over frames with a nested lambda.
      "q212_vhash" ->
        (s"WITH $vhashVidCte " +
          s"SELECT doc_id AS media_id, $vhashExprSql AS vhash FROM vid " +
          "ORDER BY media_id LIMIT 100"),
      // round 14, q217: the q210 replay restricted to cross pairs — the
      // incremental media twin's oracle (combined cap = the symmetric
      // bsz; originals sit below the variant offset, so a<b restricted
      // to cross IS (existing, incoming)).
      "q217_incremental_phash" ->
        (s"WITH $phashImgCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $phashExprSql AS phash FROM img), " +
          s"ph AS (SELECT media_id, phash FROM ph0 UNION ALL SELECT media_id + $PhashVariantOffset, phash FROM ph0), " +
          phashBandingReplaySql(
            s" AND id_a < $PhashVariantOffset AND id_b >= $PhashVariantOffset")),
      // round 14, q218: the streaming contract replayed exactly — the
      // stateless per-batch check caps on CORPUS-side occupancy only
      // (the q216 rule), so bsz counts originals (below the variant
      // offset) alone.
      "q218_stream_phash" ->
        (s"WITH $phashImgCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $phashExprSql AS phash FROM img), " +
          s"ph AS (SELECT media_id, phash FROM ph0 UNION ALL SELECT media_id + $PhashVariantOffset, phash FROM ph0), " +
          phashBandingReplaySql(
            s"SUM(CASE WHEN media_id < $PhashVariantOffset THEN 1 ELSE 0 END) OVER (PARTITION BY j, ckey)",
            s" AND id_a < $PhashVariantOffset AND id_b >= $PhashVariantOffset")),
      // round 14, q219: the multi-index hamming top-k replayed literally
      // — chunk indexes from the same shift-and-mask arithmetic (DuckDB's
      // masked shift agrees with Spark's unsigned shift on every chunk,
      // incl. bit 63), capped posting lists, DISTINCT candidates, exact
      // (hamming, media_id) row_number ranking.
      "q219_phash_topk" -> {
        val cap = graft.operators.TextDedup.DefaultMaxBucketSize
        val cb = 64 / phashChunks                 // substring width
        val cm = (BigInt(1) << cb) - 1            // substring mask (fits BIGINT: cb <= 32)
        (s"WITH $phashImgCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $phashExprSql AS phash FROM img), " +
          s"q AS (SELECT media_id + $PhashVariantOffset AS query_id, phash FROM ph0), " +
          s"ck AS (SELECT media_id, phash, t.c AS c, (phash >> ($cb * t.c)) & $cm AS v FROM ph0, range(0, $phashChunks) t(c)), " +
          "bsz AS (SELECT c, v, COUNT(*) AS n FROM ck GROUP BY c, v), " +
          s"qk AS (SELECT query_id, phash, t.c AS c, (phash >> ($cb * t.c)) & $cm AS v FROM q, range(0, $phashChunks) t(c)), " +
          "cand AS (SELECT DISTINCT qk.query_id, ck.media_id FROM qk " +
          "JOIN ck ON qk.c = ck.c AND qk.v = ck.v " +
          s"JOIN bsz ON bsz.c = ck.c AND bsz.v = ck.v WHERE bsz.n <= $cap), " +
          "scored AS (SELECT cand.query_id, cand.media_id, " +
          "CAST(bit_count(xor(q.phash, p.phash)) AS BIGINT) AS hamming " +
          "FROM cand JOIN q ON q.query_id = cand.query_id JOIN ph0 p ON p.media_id = cand.media_id), " +
          s"r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, media_id) AS rnk " +
          s"FROM scored WHERE hamming <= ${phashChunks - 1}) " +
          "SELECT query_id, media_id, hamming, CAST(rnk AS BIGINT) AS rank " +
          "FROM r WHERE rnk <= 3 ORDER BY query_id, rank LIMIT 100")
      },
      // round 14, q213: q211's hash duplicated at the variant offset
      // (the 8→16-bit PCM transcode is aHash-invariant — the planted-
      // pair identity the Spark pipeline must reproduce through decode →
      // re-encode → decode), then the shared banding replay.
      "q213_ahash_pairs" ->
        (s"WITH $ahashAudCte, $ahashSumsCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $ahashExprSql AS phash FROM aws), " +
          s"ph AS (SELECT media_id, phash FROM ph0 UNION ALL SELECT media_id + $PhashVariantOffset, phash FROM ph0), " +
          phashBandingReplaySql),
      // round 14, q214: q212's hash duplicated at the variant offset
      // (the per-frame 18×16 integer-lattice resize is vHash-invariant),
      // then the shared banding replay AT THE VIDEO POINT (round 16:
      // 3-of-8 combos, hamming ≤ 5 — Multimodal.VhashIntact, moved in
      // lockstep with the entry).
      "q214_vhash_pairs" ->
        (s"WITH $vhashVidCte, " +
          s"ph0 AS (SELECT doc_id AS media_id, $vhashExprSql AS phash FROM vid), " +
          s"ph AS (SELECT media_id, phash FROM ph0 UNION ALL SELECT media_id + $PhashVariantOffset, phash FROM ph0), " +
          phashBandingReplaySql("COUNT(*) OVER (PARTITION BY j, ckey)", "",
            graft.operators.Multimodal.VhashIntact,
            graft.operators.Multimodal.VhashMaxHamming)),
      // round 5: the merge replayed with a version-desc window (DuckDB's
      // spelling of keep-latest); versions are unique per key by
      // construction so both forms agree
      "q81_upsert_latest" ->
        ("WITH base AS (SELECT doc_id, 1 AS version, len(string_split(text, ' ')) AS n_tokens FROM documents), " +
          "upd AS (SELECT doc_id, 2 AS version, len(string_split(text, ' ')) + 2 AS n_tokens FROM documents WHERE doc_id % 7 = 0), " +
          "allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd), " +
          "r AS (SELECT doc_id, version, n_tokens, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM allr) " +
          "SELECT doc_id, CAST(version AS BIGINT) AS version, CAST(n_tokens AS BIGINT) AS n_tokens " +
          "FROM r WHERE rn = 1 ORDER BY doc_id LIMIT 100"),
      // round 7: the mix replayed on the same md5 integers — quotas
      // interpolated from MixQuotasBp (one source of truth; cf. q69's
      // '0x'||hex CAST dual spelling of Spark's conv(substr(md5(…))))
      "q101_corpus_mix" -> {
        val cases = MixQuotasBp.toSeq.sortBy(_._1)
          .map { case (l, bp) => s"WHEN lang = '$l' THEN $bp" }.mkString(" ")
        "SELECT lang, COUNT(*) AS n_kept FROM documents " +
          "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || lang), 1, 8)) AS BIGINT) % 10000 " +
          s"< (CASE $cases ELSE 0 END) " +
          "GROUP BY lang ORDER BY lang LIMIT 100"
      },
      // per-column profile over all 10 tables (round 6) — min/max exposed
      // as strings so heterogeneous types share one schema; dates
      // normalized to DATE strings. The branch list is GENERATED from
      // `profileSpec` — the same value the Spark entry profiles — so the
      // two texts cannot drift.
      "q80_profile" -> {
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
      },
      // promoted round 5: md5 min-k sketch — shingle→first-8-hex-digits
      // integer, sort, sum the k smallest (see q69 for the md5 ↔ conv
      // dual spelling). DuckDB's range(0, n) + 1-based inclusive slice
      // mirror Spark's sequence + slice exactly.
      "q49_fingerprint" ->
        ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
          "sh AS (SELECT doc_id, " +
          "list_sort(list_distinct(list_transform(range(0, greatest(len(toks) - 3, 0) + 1), " +
          "i -> CAST(('0x' || substr(md5(array_to_string(toks[i+1:i+3], ' ')), 1, 8)) AS BIGINT)))) AS hs " +
          "FROM t) " +
          "SELECT doc_id, CAST(list_sum(hs[1:8]) AS BIGINT) AS fp " +
          "FROM sh ORDER BY doc_id LIMIT 100"),
      // promoted round 5: ranking by quantized INTEGER dot product —
      // floor(x·10^4) per component is bit-identical in any IEEE-double
      // engine, so the BIGINT scores hash-match (float cosine never can:
      // comparator floats + ulp drift). list_sum yields HUGEINT → CAST.
      "q44_cosine_topk" ->
        (s"WITH ${quantEmbCte("c", "cv")}, " +
          "q AS (SELECT vec_id AS query_id, cv AS qv FROM c WHERE vec_id < 5), " +
          "scored AS (SELECT q.query_id, c.vec_id, " +
          "CAST(list_sum(list_transform(range(1, len(c.cv) + 1), i -> q.qv[i] * c.cv[i])) AS BIGINT) AS score " +
          "FROM q, c WHERE c.vec_id <> q.query_id), " +
          "ranked AS (SELECT query_id, vec_id, score, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM scored) " +
          "SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank LIMIT 100"),
      // promoted round 5: the ENTIRE IVF pipeline on integer scores —
      // centroids = nlist lowest ids, assignment/probe/final rank all by
      // integer dot with ties to the lower centroid/vector id — exactly
      // Similarity.ivfTopKInt's semantics, so rows hash-match end to end.
      "q53_ann_ivf" ->
        (s"WITH ${quantEmbCte("c", "cv")}, " +
          "cent AS (SELECT vec_id AS cid, cv AS cvec FROM c ORDER BY vec_id LIMIT 16), " +
          "ascore AS (SELECT c.vec_id, c.cv, cent.cid, row_number() OVER (PARTITION BY c.vec_id ORDER BY " +
          "CAST(list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * cent.cvec[i])) AS BIGINT) DESC, cent.cid) AS rn " +
          "FROM c, cent), " +
          "assigned AS (SELECT vec_id, cv, cid AS list FROM ascore WHERE rn = 1), " +
          "qs AS (SELECT vec_id AS query_id, cv AS qv FROM c WHERE vec_id < 5), " +
          "pscore AS (SELECT qs.query_id, qs.qv, cent.cid, row_number() OVER (PARTITION BY qs.query_id ORDER BY " +
          "CAST(list_sum(list_transform(range(1, len(qs.qv) + 1), i -> qs.qv[i] * cent.cvec[i])) AS BIGINT) DESC, cent.cid) AS rn " +
          "FROM qs, cent), " +
          "probed AS (SELECT query_id, qv, cid AS list FROM pscore WHERE rn <= 4), " +
          "cand AS (SELECT p.query_id, a.vec_id, " +
          "CAST(list_sum(list_transform(range(1, len(a.cv) + 1), i -> p.qv[i] * a.cv[i])) AS BIGINT) AS score " +
          "FROM probed p JOIN assigned a USING (list) WHERE a.vec_id <> p.query_id), " +
          "ranked AS (SELECT query_id, vec_id, score, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM cand) " +
          "SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank LIMIT 100"),
      // round 15: the q45 LSH ANN twin replayed literally — the SAME
      // ±1 hyperplanes as VALUES (one source of truth:
      // portableHyperplanes at the SELF-SIZED search point, seed 11 —
      // round 16: the triple is dir-derived, annSearchPointFor),
      // bucketing via sign-bit sums, query-side full-XOR probe fan-out
      // (search shape: only the query probes — xor, not the pair-gen
      // path's directional 0→1 flips), integer-dot ranking
      "q220_ann_lsh_portable" -> {
        val planes = graft.operators.Similarity.portableHyperplanes(64, annTables, annBits, 11L)
        val vals = planes.zipWithIndex.flatMap { case (tbl, t) =>
          tbl.zipWithIndex.map { case (p, b) =>
            s"($t, $b, ${p.mkString("[", ", ", "]")})"
          }
        }.mkString(", ")
        s"WITH ${quantEmbCte("c", "qv")}, " +
          s"hp AS (SELECT * FROM (VALUES $vals) AS x(t, b, h)), " +
          "sc AS (SELECT c.vec_id, hp.t, hp.b, CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * hp.h[i])) AS BIGINT) AS s FROM c, hp), " +
          "bk0 AS (SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bkt FROM sc GROUP BY vec_id, t), " +
          // round 16: the index caps corpus posting lists per (t, bkt) —
          // the phashTopK discipline, mirrored so drops agree cross-engine
          "bk AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY t, bkt) AS bsz FROM bk0) " +
          s"WHERE bsz <= ${graft.operators.TextDedup.DefaultMaxBucketSize}), " +
          s"qb AS (SELECT vec_id AS query_id, t, unnest(list_prepend(bkt, list_transform(range(0, $annProbes), j -> xor(bkt, 1::BIGINT << j)))) AS bkt " +
          "FROM bk0 WHERE vec_id < 5), " +
          "cand AS (SELECT DISTINCT qb.query_id, bk.vec_id FROM qb JOIN bk ON bk.t = qb.t AND bk.bkt = qb.bkt AND bk.vec_id <> qb.query_id), " +
          "sv AS (SELECT cand.query_id, cand.vec_id, CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) AS score " +
          "FROM cand JOIN c ca ON ca.vec_id = cand.query_id JOIN c cb ON cb.vec_id = cand.vec_id), " +
          "ranked AS (SELECT query_id, vec_id, score, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM sv) " +
          "SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank LIMIT 100"
      },
      // round 15: streaming ANN — the q220 replay with corpus/query
      // sides split at the incremental boundary (streaming ≡ batch on
      // the closed input: zero cross-query state, static corpus)
      "q222_stream_ann" -> {
        val planes = graft.operators.Similarity.portableHyperplanes(64, annTables, annBits, 11L)
        val vals = planes.zipWithIndex.flatMap { case (tbl, t) =>
          tbl.zipWithIndex.map { case (p, b) =>
            s"($t, $b, ${p.mkString("[", ", ", "]")})"
          }
        }.mkString(", ")
        s"WITH ${quantEmbCte("c", "qv")}, " +
          s"cor AS (SELECT * FROM c WHERE vec_id < $IncrementalSplitId), " +
          s"qs AS (SELECT * FROM c WHERE vec_id >= $IncrementalSplitId), " +
          s"hp AS (SELECT * FROM (VALUES $vals) AS x(t, b, h)), " +
          "sc AS (SELECT cor.vec_id, hp.t, hp.b, CAST(list_sum(list_transform(range(1, 65), i -> cor.qv[i] * hp.h[i])) AS BIGINT) AS s FROM cor, hp), " +
          "bk0 AS (SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bkt FROM sc GROUP BY vec_id, t), " +
          // the q220 cap rule on the STATIC index side (lshAnnIndex caps
          // at build time; the query stream is never capped)
          "bk AS (SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY t, bkt) AS bsz FROM bk0) " +
          s"WHERE bsz <= ${graft.operators.TextDedup.DefaultMaxBucketSize}), " +
          "qsc AS (SELECT qs.vec_id, hp.t, hp.b, CAST(list_sum(list_transform(range(1, 65), i -> qs.qv[i] * hp.h[i])) AS BIGINT) AS s FROM qs, hp), " +
          "qbk AS (SELECT vec_id, t, CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bkt FROM qsc GROUP BY vec_id, t), " +
          s"qb AS (SELECT vec_id AS query_id, t, unnest(list_prepend(bkt, list_transform(range(0, $annProbes), j -> xor(bkt, 1::BIGINT << j)))) AS bkt FROM qbk), " +
          "cand AS (SELECT DISTINCT qb.query_id, bk.vec_id FROM qb JOIN bk ON bk.t = qb.t AND bk.bkt = qb.bkt AND bk.vec_id <> qb.query_id), " +
          "sv AS (SELECT cand.query_id, cand.vec_id, CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) AS score " +
          "FROM cand JOIN c ca ON ca.vec_id = cand.query_id JOIN c cb ON cb.vec_id = cand.vec_id), " +
          "ranked AS (SELECT query_id, vec_id, score, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM sv) " +
          "SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank LIMIT 100"
      },
      // round 15: portable approx-distinct — the q148 register chain
      // grouped by customer; estimator arithmetic replayed exactly
      // (string-wise ranks, BIGINT harmonic sum, one FLOOR'd division)
      "q221_approx_distinct_portable" ->
        ("WITH sh AS (SELECT o_custkey, CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM orders), " +
          s"r AS (${graft.operators.Sketches.hllRegSql("sh", "o_custkey")}), " +
          "s AS (SELECT o_custkey, COUNT(*) AS nb, " +
          "SUM(1::BIGINT << CAST(32 - reg AS INTEGER)) AS sp FROM r GROUP BY o_custkey) " +
          "SELECT o_custkey, CAST(nb AS BIGINT) AS n_buckets, " +
          s"CAST(sp + (${graft.operators.Sketches.HllM} - nb) * 4294967296 AS BIGINT) AS s_scaled, " +
          s"CAST(FLOOR(${graft.operators.Sketches.HllNumerator} / " +
          s"CAST(sp + (${graft.operators.Sketches.HllM} - nb) * 4294967296 AS DOUBLE)) AS BIGINT) AS est_hll " +
          "FROM s ORDER BY est_hll DESC, o_custkey LIMIT 100"),
      // promoted round 2: the langId CASE-ladder argmax is deterministic
      // integer arithmetic — expressible in DuckDB (same stopword lists,
      // same lexicographic-first tie-break, 'und' when nothing matches)
      "q46_langid" ->
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
          "FROM sc ORDER BY doc_id LIMIT 100"),
      // dual texts: DuckDB regexp_replace is first-match without 'g'
      "q66_normalize" ->
        ("SELECT event_id, trim(regexp_replace(regexp_replace(lower(props), " +
          "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm " +
          "FROM events ORDER BY event_id LIMIT 100"),
      "q67_redact" ->
        ("SELECT event_id, regexp_replace(regexp_replace(" +
          "concat('user', CAST(user_id AS VARCHAR), '@example.com ', props), " +
          "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+', '<EMAIL>', 'g'), " +
          "'[0-9]{7,}', '<NUM>', 'g') AS red " +
          "FROM events ORDER BY event_id LIMIT 100"),
      "q68_contamination" ->
        ("SELECT c.doc_id, CAST(MAX(len(list_intersect(" +
          "list_distinct(string_split(c.text, ' ')), " +
          "list_distinct(string_split(b.text, ' '))))) AS BIGINT) AS max_overlap " +
          "FROM documents c, (SELECT text FROM documents WHERE doc_id % 97 = 0) b " +
          "GROUP BY c.doc_id ORDER BY doc_id LIMIT 100"),
      // streaming sessionization replayed relationally: lag-based island
      // detection per user. Boundary: new session when ts >= lag + gap
      // (session_window merges strictly-within-gap only); session_end =
      // MAX(ts) + gap; value as exact cents (DECIMAL sum, never a raw
      // double sum — float addition order would not hash)
      "q89_stream_sessions" ->
        ("WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS ts2, value FROM events), " +
          "t1 AS (SELECT user_id, event_id, ts2, value, " +
          "CASE WHEN lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2, event_id) IS NULL " +
          "OR ts2 >= lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2, event_id) + INTERVAL 30 MINUTE " +
          "THEN 1 ELSE 0 END AS new_sess FROM e), " +
          "t2 AS (SELECT user_id, ts2, value, SUM(new_sess) OVER (PARTITION BY user_id " +
          "ORDER BY ts2, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM t1) " +
          "SELECT user_id, MIN(ts2) AS session_start, MAX(ts2) + INTERVAL 30 MINUTE AS session_end, " +
          "COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents " +
          "FROM t2 GROUP BY user_id, sid ORDER BY user_id, session_start LIMIT 100"),
      // the stream-static enrichment must equal the batch join on the
      // closed input — DuckDB computes the batch answer directly
      "q107_stream_static" ->
        ("SELECT n.n_name, COUNT(*) AS n_events, " +
          "CAST(SUM(CAST(e.value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents " +
          "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
          "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
          "GROUP BY n.n_name ORDER BY n_name LIMIT 100"),
      "q65_stream_join" ->
        ("SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id AS user_id " +
          "FROM events a JOIN events b ON a.user_id = b.user_id " +
          "AND date_trunc('second', b.ts) >= date_trunc('second', a.ts) " +
          "AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 1800 SECOND " +
          "AND a.event_id < b.event_id " +
          "AND a.event_type = 'click' AND b.event_type = 'purchase' " +
          "ORDER BY id_a, id_b LIMIT 100"),
      "q54_range_join" ->
        ("SELECT a.event_id AS l_event_id, b.event_id AS r_event_id FROM events a JOIN events b " +
          "ON date_trunc('second', b.ts) >= date_trunc('second', a.ts) " +
          "AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 120 SECOND " +
          "ORDER BY l_event_id, r_event_id LIMIT 100"),
      // promoted round 4: md5-prefix split is engine-portable — DuckDB
      // parses '0x'-prefixed hex in a CAST, Spark spells the same integer
      // via conv(substr(md5(key),1,8),16,10)
      "q69_hash_split" ->
        ("SELECT split, COUNT(*) AS n FROM (SELECT CASE WHEN " +
          "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
          "THEN 'train' ELSE 'test' END AS split FROM documents) t " +
          "GROUP BY split ORDER BY split LIMIT 100"),
      // new round 4: linear recursion replays the per-shard greedy packing
      // rule row by row — same shard, order, budget and overflow policy
      "q75_seq_pack" ->
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
          "FROM packed ORDER BY doc_id LIMIT 100"),
      // round 9 capstone: the DuckDB replay of the composed pipeline —
      // min-id-per-text dedup, the q137 TTR gate, the q69 md5 split
      // spelling, one aggregate. Stage equivalences are individually
      // proven by q35/q137/q69; this row proves the COMPOSITION.
      "q140_pipeline" ->
        ("WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text), " +
          "d AS (SELECT doc.* FROM documents doc JOIN keep k ON doc.doc_id = k.doc_id), " +
          "s AS (SELECT lang, n_chars, len(string_split(text, ' ')) AS n_toks, " +
          "CAST(len(list_distinct(string_split(text, ' '))) * 10000 // len(string_split(text, ' ')) AS BIGINT) AS ttr_bp, " +
          "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 " +
          "THEN 'train' ELSE 'test' END AS split FROM d) " +
          "SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
          "CAST(SUM(n_toks) AS BIGINT) AS sum_toks " +
          "FROM s WHERE ttr_bp >= 3000 " +
          "GROUP BY lang, split ORDER BY lang, split LIMIT 100"),
      // round 9: the symmetric q136 replay restricted to cross pairs
      // (id_a < split ≤ id_b) — hash-equality proves the asymmetric
      // plan finds exactly them (the q124 oracle discipline)
      "q141_incremental_edit" -> incrementalEditOracle,
      // round 9: the STREAMING form hashes against the identical batch
      // replay — streaming output = batch answer on closed input (the
      // q126 contract for the edit-distance family)
      "q142_stream_edit" -> incrementalEditOracle,
      // round 9 (two-pass since round 10): blocked Levenshtein replay —
      // DuckDB computes the plain 2-arg distance with a WHERE threshold;
      // the engine's banded 3-arg form returns the true distance for
      // every pair it keeps, so the kept rowsets are identical.
      "q136_edit_distance" -> editPairReplay(crossOnly = false),
      // new round 4: the recursive-CTE transitive closure is the oracle
      // for the distributed connected-components operator (same integer
      // jaccard edge set, min-id labels)
      "q74_neardup_clusters" ->
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
          "GROUP BY id ORDER BY doc_id LIMIT 100"),
      // round 8: the same recursive closure extended with the survivor
      // argmax (row_number over n_chars DESC, doc_id) and the per-lang
      // post-dedup budget — the oracle for the distributed winner
      // selection on top of connectedComponents
      "q131_dedup_survivors" ->
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
          "FROM rk GROUP BY lang ORDER BY lang LIMIT 100"),
      // new round 4: DuckDB's window NTILE is the oracle for the
      // distributed two-pass form (identical positional semantics over the
      // same unique total order)
      "q73_ntile_dist" ->
        ("SELECT o_custkey, monetary_cents, " +
          "CAST(NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_score " +
          "FROM (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary_cents " +
          "FROM orders GROUP BY o_custkey) t " +
          "ORDER BY monetary_cents DESC, o_custkey LIMIT 100")
    )
  }
}
