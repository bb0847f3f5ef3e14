package graft.operators

import graft.functions.PortableShingleHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based corpus curation: the TRAINED-classifier gate (multinomial
  * Naive Bayes over token counts — the fastText-style quality/language
  * filter of CCNet / GPT-3-era pipelines) and DSIR hashed-n-gram
  * importance weighting (Xie et al. 2023, arXiv:2302.03169). Both are
  * COUNTING models, so the batch / incremental / streaming matrix comes
  * from count additivity exactly like the bigram-LM family (q157/q161/
  * q162): persist key-wise counts, merge by sum, derive the model from
  * merged counts.
  *
  * Every scored quantity is INTEGER bits — `length(bin(x))` =
  * floor(log₂ x) + 1, the q148 leading-bit spelling — over ratios scaled
  * by 2¹⁰, so the DuckDB oracle replays bit-identically (a libm log in a
  * hashed cell is the exact cross-engine ulp hazard CLAUDE.md bans).
  *
  * 100 TB shape: the persisted count tables are keyed aggregates
  * (label × token / 64 feature buckets — the postings/sketch class);
  * the SCORING model is explicitly bounded (vocab capped at `DefaultVocab`
  * by global count with a deterministic tie-break, label set bounded by
  * the task), so it broadcasts at any corpus scale and scoring is one
  * corpus scan + per-doc hash aggregation. No payload crosses a shuffle:
  * the token stream reduces to (id, tok, cnt) before any join.
  */
object NaiveBayes {

  /** Scoring-model vocabulary cap: top tokens by training count
    * (deterministic `count DESC, token` tie-break). Keeps the broadcast
    * model label-set × cap sized regardless of corpus vocabulary. */
  val DefaultVocab = 1000

  /** Fractional resolution of the integer log-likelihoods: ratios are
    * scaled by 2¹⁰ before the leading-bit count, giving ~10 fractional
    * bits of log₂ — enough to rank 5 labels without ties dominating. */
  val Scale = 1024L

  /** Bounded scoring model. `vocab` ≤ DefaultVocab rows; `deltas` ≤
    * DefaultVocab × |labels| rows of per-(label, token) bit REBATES below
    * the unseen-token cost (the rearrangement that keeps scoring an
    * INNER join — see `score`); `labelStats` = |labels| rows of
    * (unseen-token bits, prior bits). All three broadcast. */
  final case class NbModel(vocab: DataFrame, deltas: DataFrame, labelStats: DataFrame)

  /** Mergeable training artifact from a labeled doc set, as ONE frame
    * (so the streaming form can write it per micro-batch through the
    * single-output parquet-partials sink): token rows
    * (__kind='t', __lab, __tok, __n = token count) unioned with
    * doc-count rows (__kind='d', __lab, __tok='', __n = doc count).
    * Merging two artifacts = key-wise sum — count additivity, the q161
    * identity. */
  def counts(labeled: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val tk = labeled.select(col(labelCol).as("__lab"),
        explode(TextDedup.tokens(col(textCol))).as("__tok"))
      .groupBy("__lab", "__tok").agg(count(lit(1)).as("__n"))
      .select(lit("t").as("__kind"), col("__lab"), col("__tok"), col("__n"))
    val dc = labeled.groupBy(col(labelCol).as("__lab"))
      .agg(count(lit(1)).as("__n"))
      .select(lit("d").as("__kind"), col("__lab"), lit("").as("__tok"), col("__n"))
    tk.unionByName(dc)
  }

  /** Key-wise sum of two (or N, by folding) training artifacts. */
  def mergeCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("__kind", "__lab", "__tok").agg(sum("__n").as("__n"))

  /** Derive the bounded scoring model from a (possibly merged) training
    * artifact. The artifact is cut once — every model frame below
    * re-reads it, and re-deriving it means re-scanning the corpus. The
    * two scalars the bit formulas need (train doc total, label count)
    * come off the |labels|-row doc-count slice — a bounded head(), the
    * manifest-sized driver action class. */
  def modelFromCounts(artifact: DataFrame): NbModel = {
    val a = Checkpoints.cut(artifact, eager = true)
    val tc = a.filter(col("__kind") === "t").select("__lab", "__tok", "__n")
    val dl = a.filter(col("__kind") === "d").select("__lab", "__n")

    val vocab = Checkpoints.cut(
      tc.groupBy("__tok").agg(sum("__n").as("__vn"))
        .orderBy(col("__vn").desc, col("__tok")).limit(DefaultVocab).select("__tok"),
      eager = true)
    val v = vocab.count()

    // in-vocab per-label token counts and totals — all ≤ DefaultVocab × |labels|.
    // nl is cut EAGERLY: the materialization IS the job the fail-fast
    // check below needs anyway, and ls + deltas then reuse the ≤|labels|
    // materialized rows instead of re-aggregating perLab twice (r12
    // review — the guard must not add a dedicated job).
    val perLab = tc.join(broadcast(vocab), "__tok")
    val nl = Checkpoints.cut(
      perLab.groupBy("__lab").agg(sum("__n").as("__nl")), eager = true)
    // A label whose docs carry ZERO in-vocab tokens drops out of nl (and
    // so of labelStats); with <2 surviving labels every scored doc's
    // second_bits is NULL, and a NULL BIGINT renders differently across
    // the comparator's two read paths — fail fast at model build instead
    // (r11 advice). count() here reads the materialized cut.
    val survivingLabels = nl.count()
    require(survivingLabels >= 2,
      s"NaiveBayes: only $survivingLabels label(s) carry in-vocab tokens — " +
        "margins (second_bits) would be NULL for every scored document")

    val totals = dl.agg(sum("__n").as("__d"), count(lit(1)).as("__l")).head()
    val dTrain = totals.getLong(0)
    val labN = totals.getLong(1)

    // bits0 = cost of a token the label never saw (Laplace +1 smoothing);
    // prior = label prior with +1 smoothing over (train docs + labels)
    val ls = nl.join(dl.withColumnRenamed("__n", "__nd"), "__lab")
      .select(col("__lab"),
        length(bin(expr(s"(__nl + ${v}L) * ${Scale}L"))).cast("long").as("__bits0"),
        length(bin(expr(s"((${dTrain}L + ${labN}L) * ${Scale}L) DIV (__nd + 1L)")))
          .cast("long").as("__prior"))

    // delta(lab, tok) = bits0(lab) − bits((nl+V)·2¹⁰ DIV (n+1)) ≥ 0: the
    // rebate a SEEN (label, token) pair earns below the unseen cost, so
    // scoring needs only the observed pairs (inner join) — unseen pairs
    // contribute zero rebate by construction instead of by a dense
    // label × vocab cross join.
    val deltas = perLab.join(nl, "__lab")
      .select(col("__lab"), col("__tok"),
        (length(bin(expr(s"(__nl + ${v}L) * ${Scale}L"))).cast("long")
          - length(bin(expr(s"((__nl + ${v}L) * ${Scale}L) DIV (__n + 1L)"))).cast("long"))
          .as("__delta"))
    NbModel(vocab, deltas, ls)
  }

  /** One-shot model from a labeled doc set. */
  def model(labeled: DataFrame, textCol: String, labelCol: String): NbModel =
    modelFromCounts(counts(labeled, textCol, labelCol))

  /** Driver-resident model artifact — the three bounded frames collected
    * (vocab ≤ DefaultVocab, deltas ≤ DefaultVocab × |labels|, labelStats =
    * |labels| rows; a few tens of KB). The deployment shape of a trained
    * model is persisted DATA, not live executor blocks: a block-backed
    * NbModel dies with any blanket unpersist (the Bench inter-entry
    * discipline) while this survives a JVM's whole session and rebuilds
    * into LocalRelation frames on demand — what lets the gate-ensemble
    * entries (q201/q203/q204/q206) and the NB family share ONE training
    * pass per corpus dir (round 15). */
  final case class NbModelData(vocab: Seq[String],
                               deltas: Seq[(String, String, Long)],
                               labelStats: Seq[(String, Long, Long)])

  def collectModel(m: NbModel): NbModelData = NbModelData(
    m.vocab.collect().map(_.getString(0)).toSeq,
    m.deltas.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq,
    m.labelStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)

  def modelFromData(spark: org.apache.spark.sql.SparkSession, d: NbModelData): NbModel = {
    import spark.implicits._
    NbModel(
      d.vocab.toDF("__tok"),
      d.deltas.toDF("__lab", "__tok", "__delta"),
      d.labelStats.toDF("__lab", "__bits0", "__prior"))
  }

  /** Score docs against the model: per (doc, label), total surprisal =
    * m · bits0(label) + prior(label) − Σ_seen cnt · delta(label, tok),
    * where m = the doc's in-vocab token instances. Lower = more likely;
    * prediction = argmin with a lexicographic label tie-break. Returns
    * (idCol, pred_label, best_bits, second_bits) — second-best enables
    * a margin-based confidence gate downstream.
    *
    * CONTRACT: a document with ZERO in-vocab tokens emits NO row — the
    * model has no evidence either way. A downstream gate must decide
    * what to do with unscored documents explicitly (left-join the
    * scores and route the NULLs), not assume every input id comes back;
    * the DuckDB replays share the same drop, so the oracle gate cannot
    * surface a caller that forgets.
    *
    * Plan: the token stream reduces to (id, tok, cnt) per doc BEFORE
    * joining the broadcast model (keys-only discipline); the base term
    * needs every (doc, label) pair, which is the one genuine tiny-dim
    * cross join — labelStats is label-cardinality-bounded, the q44/q53
    * broadcast-cross size contract (PlanGuardSpec allowlist). The doc×
    * label window partitions on the high-cardinality doc id. */
  def score(docs: DataFrame, m: NbModel, idCol: String, textCol: String): DataFrame =
    scoreToks(docs.select(col(idCol), TextDedup.tokens(col(textCol)).as("__stk")),
      m, idCol, "__stk")

  /** [[score]] over a PRE-TOKENIZED frame (idCol, tokCol array) — the
    * gate-ensemble form (r18): one tokenize pass shared by span/ppl/NB.
    * Same contract (zero-in-vocab documents emit no row). */
  def scoreToks(docs: DataFrame, m: NbModel, idCol: String, tokCol: String): DataFrame = {
    // (id, tok, cnt): referenced twice (base term + rebates) and derived
    // from the full tokenize+explode — cut once, lazily (q82 rule)
    val dtok = Checkpoints.cut(
      docs.select(col(idCol).as("__id"), explode(col(tokCol)).as("__tok"))
        .join(broadcast(m.vocab), "__tok")
        .groupBy("__id", "__tok").agg(count(lit(1)).as("__cnt")),
      eager = false)
    val mdoc = dtok.groupBy("__id").agg(sum("__cnt").as("__m"))
    val adj = dtok.join(broadcast(m.deltas), "__tok")
      .groupBy("__id", "__lab").agg(sum(col("__cnt") * col("__delta")).as("__adj"))
    val base = mdoc.crossJoin(broadcast(m.labelStats))
      .select(col("__id"), col("__lab"),
        (col("__m") * col("__bits0") + col("__prior")).as("__base"))
    val scores = base.join(adj, Seq("__id", "__lab"), "left")
      .select(col("__id"), col("__lab"),
        (col("__base") - coalesce(col("__adj"), lit(0L))).as("__score"))
    val w = Window.partitionBy("__id").orderBy(col("__score"), col("__lab"))
    scores.withColumn("__rn", row_number.over(w))
      .groupBy("__id").agg(
        max(when(col("__rn") === 1, col("__lab"))).as("pred_label"),
        max(when(col("__rn") === 1, col("__score"))).as("best_bits"),
        max(when(col("__rn") === 2, col("__score"))).as("second_bits"))
      .withColumnRenamed("__id", idCol)
  }
}

/** DSIR-style hashed-n-gram importance weighting (Xie et al. 2023):
  * score every document by how much its hashed-bigram distribution
  * looks like a TARGET domain relative to the RAW corpus —
  * Σ_f cnt_f · (log₂ p_target(f) − log₂ p_raw(f)) in integer bits.
  * Distributions are 64-bucket feature histograms (mergeable by
  * key-wise sum — the sketch discipline), normalized to basis points
  * so the cross-multiplied ratio stays far from BIGINT overflow at any
  * corpus scale; each bucket's weight is
  * length(bin((tbp+1)·2¹⁰ DIV (rbp+1))) − 11 (the 2¹⁰ scale's own bit
  * count), negative when the bucket is raw-typical. */
object Dsir {

  /** Feature-hash buckets: small enough that the weight table is a
    * constant-size broadcast, large enough to separate domains. */
  val Buckets = 64

  /** See NaiveBayes.Scale. bits(2¹⁰) = 11 is the zero-log offset. */
  val Scale = 1024L
  val ZeroBits = 11L

  /** Per-doc hashed-bigram bucket stream (__id, [carry...], __f).
    * Reuses the LM family's fused 32-bit bigram hash so the DuckDB
    * replay is the pplOracle spelling mod Buckets. `carry` columns
    * (e.g. the target-domain label) ride the scan-local explode so the
    * caller never joins the corpus back. */
  def featStream(docs: DataFrame, idCol: String, textCol: String,
                 carry: Seq[String] = Nil): DataFrame = {
    val base = docs.select((col(idCol).as("__id") +: carry.map(col) :+
        TextDedup.tokens(col(textCol)).as("__t")): _*)
      .filter(size(col("__t")) >= 2)
    val keep = col("__id") +: carry.map(col)
    base.select((keep :+
        explode(PortableShingleHash.column(col("__t"), 2)).as("__h")): _*)
      .select((keep :+ pmod(col("__h"), lit(Buckets)).as("__f")): _*)
  }

  /** Mergeable bucket histogram (__f, __n) of a doc set — ≤ Buckets rows. */
  def featCounts(feats: DataFrame): DataFrame =
    feats.groupBy("__f").agg(count(lit(1)).as("__n"))

  /** Key-wise sum of bucket histograms (the incremental/streaming merge). */
  def mergeFeatCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("__f").agg(sum("__n").as("__n"))

  /** Per-bucket integer-bit importance weights from target/raw
    * histograms. Buckets absent from the target count as 0 (+1
    * smoothing); buckets absent from RAW don't exist in the weight
    * table and score zero downstream (inner join — identical in the
    * replay). Totals come off the ≤Buckets-row frames: bounded head()
    * actions. Output ≤ Buckets rows: (__f, __wb). */
  def weights(target: DataFrame, raw: DataFrame): DataFrame = {
    val t = Checkpoints.cut(target, eager = true)
    val r = Checkpoints.cut(raw, eager = true)
    val tTot = t.agg(coalesce(sum("__n"), lit(0L))).head().getLong(0)
    val rTot = r.agg(coalesce(sum("__n"), lit(0L))).head().getLong(0)
    require(tTot > 0 && rTot > 0, s"empty DSIR distribution: target=$tTot raw=$rTot")
    r.withColumnRenamed("__n", "__rn")
      .join(t.withColumnRenamed("__n", "__tn"), Seq("__f"), "left")
      .select(col("__f"),
        (length(bin(expr(
          s"(((coalesce(__tn, 0L) * 10000L) DIV ${tTot}L + 1L) * ${Scale}L)" +
            s" DIV ((__rn * 10000L) DIV ${rTot}L + 1L)"))).cast("long")
          - lit(ZeroBits)).as("__wb"))
  }

  /** Score a prepared feature stream against a weight table:
    * (idCol, n_feat, dsir_score = Σ cnt·wb). One scan, per-doc
    * reduction to (id, f, cnt) BEFORE the broadcast join — no payload
    * crosses an exchange. Buckets the weight table never saw (absent
    * from raw) drop in the inner join, identically to the replay. */
  def scoreFeats(feats: DataFrame, wgt: DataFrame, idCol: String): DataFrame =
    feats.groupBy("__id", "__f").agg(count(lit(1)).as("__cnt"))
      .join(broadcast(wgt), "__f")
      .groupBy("__id").agg(
        sum("__cnt").as("n_feat"),
        sum(col("__cnt") * col("__wb")).as("dsir_score"))
      .withColumnRenamed("__id", idCol)

  /** One-shot scoring from raw docs. */
  def score(docs: DataFrame, wgt: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreFeats(featStream(docs, idCol, textCol), wgt, idCol)
}
