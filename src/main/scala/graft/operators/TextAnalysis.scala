package graft.operators

import graft.functions.PortableShingleHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline tier
  * (build brief: language-ID, quality scoring, token counting, document
  * fingerprinting) over the `documents` table shape. All built-ins.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Token count — whitespace tokenization. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words + extra units for long words
    * (a real tokenizer emits ~1 unit per ~4 chars beyond the first 4). */
  def subwordCountEstimate(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0),
      (acc, w) => acc + lit(1) + greatest(ceil((length(w) - 4).cast("double") / 4.0), lit(0)).cast("int"))

  /** Canonical text normalization for dedup/fingerprint pipelines:
    * lowercase, strip non-alphanumerics, collapse runs of spaces, trim.
    * Pure codegen'd built-ins — no UDF in the 100 TB hot path. Patterns
    * avoid backslash classes so the same spelling runs in DuckDB
    * (which needs the 'g' flag — regexp_replace there is first-match
    * by default; Spark's is always global). */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** PII redaction: emails → <EMAIL>, long digit runs (phone/account
    * numbers) → <NUM>. Regex subset chosen to mean the same thing in
    * Java regex (Spark) and RE2 (DuckDB). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")

  /** Function-word lists for the n-gram/stopword language heuristic.
    * Real-world function words; deterministic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pas", "que", "pour", "dans"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Language-ID heuristic: count function-word hits per language over the
    * token set; argmax with deterministic tie-break (lexicographic language
    * code), 'und' when nothing matches. Integer arithmetic throughout. */
  def langIdScores(text: Column): Seq[(String, Column)] =
    stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(array_intersect(tokens(text), typedLit(words)))
    }

  def langId(text: Column): Column = {
    val scores = langIdScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in sorted order) achieving the max — deterministic
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality metrics, all integers (hash-safe): token count, distinct-token
    * count, lexical diversity in percent (integer division), mean token
    * length in tenths, longest run …. Score: documents dominated by
    * repeated tokens or extreme lengths rate low. */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("n_tokens", size(t))
      .withColumn("n_distinct", size(array_distinct(t)))
      .withColumn("diversity_pct",
        when(size(t) === 0, lit(0L))
          .otherwise(floor((size(array_distinct(t)) * 100) / size(t))))
      .withColumn("mean_token_len_tenths",
        when(size(t) === 0, lit(0L))
          .otherwise(floor((aggregate(t, lit(0), (acc, w) => acc + length(w)) * 10) / size(t))))
  }

  /** Both fingerprints' sketch: the FingerprintK smallest distinct hashes
    * of FingerprintShingleN-token shingles. The q49 DuckDB text
    * interpolates both. */
  val FingerprintShingleN = 3
  val FingerprintK = 8

  /** Document fingerprint: min-k sketch of shingle hashes (winnowing-style).
    * Sort the distinct shingle xxhash64 values, keep the k smallest, hash
    * the sketch to one 64-bit fingerprint. Deterministic; near-identical
    * documents produce identical fingerprints with high probability. */
  def fingerprint(text: Column): Column = {
    val hashes = array_sort(array_distinct(TextDedup.shingleHashes(text, FingerprintShingleN)))
    xxhash64(slice(hashes, lit(1), lit(FingerprintK)))
  }

  /** Engine-portable min-k fingerprint: same sketch as `fingerprint` but
    * the shingle hash is the first 8 hex digits of md5 (an integer any SQL
    * engine derives identically — the q69 dual-spelling trick) and the
    * sketch collapses to the BIGINT SUM of the k smallest values, so the
    * result is hash-checkable cross-engine. xxhash64 `fingerprint` stays
    * the production default (one fused pass, no md5 string round-trip). */
  def fingerprintPortable(text: Column): Column = {
    // round 9: the fused PortableShingleHash expression replaces the
    // conv(substring(md5)) per-shingle round-trip (bit-identical values;
    // see TextDedup.portableShingleHashes)
    val hs = array_sort(array_distinct(
      TextDedup.portableShingleHashes(text, FingerprintShingleN)))
    aggregate(slice(hs, 1, FingerprintK), lit(0L), (acc, x) => acc + x)
  }

  /** `tfIdfTopTerms`' integer score scale — interpolated into the q79
    * DuckDB text. */
  val TfIdfScale = 1000L

  /** TF-IDF-style top-k terms per document, integer-exact: score =
    * tf·TfIdfScale div df (the log-free surrogate — monotone in tf/df, which
    * is what the per-document RANKING needs; exact IDF logs are floats
    * and would break cross-engine hashing). ONE explode of the corpus:
    * tf shuffles (doc, token); df is derived from the tf aggregate —
    * tf already has exactly one row per (doc, token), so counting rows
    * per token IS the document frequency, with no second explode and no
    * corpus-wide distinct shuffle. Both remaining shuffles are linear.
    * Output: (doc_id, token, tf, df, score_k, rnk), rnk 1..k. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score_k").desc, col("token"))
    tf.join(docFreq, "token")
      .withColumn("score_k", expr(s"tf * $TfIdfScale div df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("score_k"), col("rnk"))
  }

  /** Within-document repetition stats over n-gram shingles — the
    * boilerplate/template signal quality filters gate on: a document whose
    * single most frequent shingle covers a large share of its shingle
    * stream is repetition-heavy (spam, scraped nav bars, generated
    * filler). Output: (id, n_shingles, max_rep, rep_permille =
    * max_rep·1000 div n_shingles) — integers only. One explode + a
    * (doc, shingle)-keyed count + a doc-keyed aggregate: both shuffles
    * linear in corpus size, no corpus-wide distinct.
    *
    * Counts by 64-bit SHINGLE HASH (the fused ShingleHash pass), never by
    * n-gram string: string materialization (transform + array_join) is the
    * measured dominant cost of every shingle pipeline (ShingleHash
    * scaladoc, PLANS.md), and the max/sum repetition stats are
    * hash-insensitive — a within-document 64-bit collision merging two
    * distinct shingles' counts is negligible at any corpus size — so the
    * string-counting DuckDB twin derives the identical integers. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 2): DataFrame = {
    val sh = df.select(col(idCol),
      explode(TextDedup.shingleHashes(col(textCol), shingleN)).as("sh"))
    sh.groupBy(idCol, "sh").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(sum("c").as("n_shingles"), max("c").as("max_rep"))
      .withColumn("rep_permille", expr("max_rep * 1000 div n_shingles"))
  }

  /** Term-frequency table: (token, n) over a whole corpus — the Q37(E)
    * generator-surface op (explode). */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))

  /** The bigram-LM family's (doc_id, k, k1) key stream: k = fused 32-bit
    * hash of the bigram, k1 = fused hash of its prefix token. Both hash
    * arrays are computed ONCE per document row and zipped BEFORE the
    * explode, so each output row carries two longs — the first spelling
    * carried the whole width-1 array through the explode (≈ array-length
    * copies per document, ~84M longs at sf0.1) and that payload
    * duplication was 2–3× the family's entire runtime (round-10
    * profile, ProfileQ162). slice keeps the n−1 prefix positions, which
    * is exactly the width-2 array's length. Shared by the batch LM
    * entries and `StreamOps.lmBatchCounts`. */
  private[graft] def lmKeyStream(d: DataFrame): DataFrame =
    lmKeyStreamToks(d.select(col("doc_id"), tokens(col("text")).as("t")), "t")

  /** [[lmKeyStream]] over a PRE-TOKENIZED frame (doc_id, tokCol array) —
    * the gate-ensemble form (r18: one tokenize pass for span/ppl/NB). */
  private[graft] def lmKeyStreamToks(d: DataFrame, tokCol: String): DataFrame =
    d.select(col("doc_id"), col(tokCol).as("t")).filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        PortableShingleHash.column(col("t"), 2).as("h2"),
        slice(PortableShingleHash.column(col("t"), 1), lit(1), size(col("t")) - 1).as("h1p"))
      .select(col("doc_id"), explode(arrays_zip(col("h2"), col("h1p"))).as("z"))
      .select(col("doc_id"), col("z.h2").as("k"), col("z.h1p").as("k1"))
}
