package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators over the `documents` table shape
  * (doc_id, text, …) — the LLM-training-pipeline tier (SURVEY.md §2.4).
  *
  * All column math is composed from codegen'd built-ins (split / slice /
  * xxhash64 / explode …) and graft's native expressions (graft.functions:
  * shingle hashes, minhash signatures) — no UDFs — so every step is a
  * plain shuffle-analyzable Spark plan.
  *
  * Scale notes (100 TB, 1000 executors):
  *   - `dedupExactByHash` shuffles an 8-byte hash + id instead of full
  *     document text (the naive `dropDuplicates(text)` shuffles the corpus).
  *   - MinHash banding turns the quadratic all-pairs problem into
  *     per-bucket joins; bucket width is `bands × bucket` keyed, so the
  *     shuffle is linear in corpus size. Skewed buckets (giant near-dup
  *     clusters) are handled by AQE skew-join splitting; `maxBucketSize`
  *     additionally drops degenerate buckets (e.g. the empty-document
  *     bucket) before the self-join goes quadratic.
  *   - Every keyed pair family has one shape: keys → capped buckets →
  *     self or cross pairs → verify. Self pairs come from `bucketPairs`
  *     (the simhash families' sorted-list emitter is its upper-triangle
  *     form); cross pairs — incremental batches and streams alike — come
  *     from `crossBucketPairs`, which derives the cap rule from its input:
  *     combined occupancy for a batch, corpus-side occupancy for a stream.
  */
object TextDedup {

  /** Degenerate-bucket cap shared by EVERY in-bucket pair generator in the
    * repo (minhash, simhash, embedding-LSH — production and portable twins)
    * and interpolated into the q82/q83/q84 DuckDB oracle texts: a single
    * LSH bucket of m members materializes m² candidate pairs inside ONE
    * collected-array task before any distinct/verification can help, and
    * AQE cannot split a collected row — so a legitimate giant near-dup
    * cluster (viral boilerplate, scraped nav bars) must be dropped, not
    * paired. 1000 is ≥ 50× the largest bucket at every tested SF (pair
    * sets unchanged) while capping the worst single task at ~10⁶ rows. */
  val DefaultMaxBucketSize = 1000

  /** Whitespace tokenizer (documents.text is space-separated, FIXTURES.md). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles as strings: n=1 → tokens themselves. */
  def shingles(toks: Column, n: Int): Column =
    if (n <= 1) toks
    else transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => array_join(slice(toks, i + 1, lit(n)), " "))

  /** MinHash signature from PRE-HASHED shingles (array<long>): element i =
    * min over base hashes h of xxhash64(h, i), all 64 minima in one native
    * loop (graft.functions.MinHash). Hashing the fixed-width longs per
    * permutation is cheap; the expensive string traversal happens once in
    * `shingleHashes`. Empty shingle sets get Long.MaxValue (never collides
    * into a band). CollapseProject will not inline a non-cheap alias with
    * multiple references, so an input that an expression references many
    * times is materialized in its own projection first — the composed
    * 64-column signature this replaced ran the shingle construction once
    * per permutation without that split (measured 64× slower at sf0.1). */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    graft.functions.MinHash.xxhash(baseHashes, numHashes)

  /** N-gram hashes straight from token bytes (graft.functions.ShingleHash):
    * no n-gram string materialization — the measured dominant cost of the
    * signature stage. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHash.column(tokens(text), n)

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`,
    * each hashed to one bucket key. Returns array<long> of length `bands`. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b))

  /** Exact dedup, hash-first: keep the lowest `idCol` per identical `textCol`.
    * Shuffles (xxhash64, id) — not the text — then semi-joins survivors. */
  def dedupExactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol), xxhash64(col(textCol)).as("__h"))
    val keep = h.groupBy("__h").agg(min(idCol).as(idCol)).drop("__h")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact duplicate groups: (text, n) with n > 1. */
  def exactDupGroups(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(textCol).agg(count(lit(1)).as("n")).filter(col("n") > 1)

  /** In-bucket self pairs — the one capped pair builder behind every
    * symmetric keyed generator (minhash `nearDupPairs`, portable minhash
    * `portablePairStats`, edit-distance blocking): ONE shuffle of compact
    * (keys, id) rows, bucket members collected per key, degenerate
    * buckets (> maxBucketSize, see `DefaultMaxBucketSize`) dropped before
    * pair generation, pairs by double explode. (A self-join formulation
    * recomputes the whole key subtree per join side — measured 2× slower
    * at sf0.1 — and a Window-count cap adds a sort; this shape does
    * neither.) Output: (id_a, id_b), id_a < id_b, one row per shared
    * bucket — callers that need a set add their own `distinct`. */
  private def bucketPairs(keyed: DataFrame, keyCols: Seq[String], idCol: String,
                          maxBucketSize: Int): DataFrame =
    keyed.groupBy(keyCols.head, keyCols.tail: _*)
      .agg(collect_list(col(idCol)).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))

  /** In-bucket cross pairs between an EXISTING and an INCOMING keyed
    * frame — the one capped builder behind every cross/incremental/
    * streaming generator (`portableCrossPairStats`,
    * `editDistanceCrossPairs`, `simhashCrossEmitPairs`,
    * `StreamOps.dedupAgainstCorpus`). Both frames carry `keyCols` plus
    * their own (distinctly named) id and payload columns.
    *
    * The degenerate-bucket cap counts COMBINED existing + incoming
    * occupancy per key — exactly the symmetric generators' bucket size,
    * so a batch cross pair set equals the symmetric generator on the
    * concatenated corpus restricted to cross pairs. A STREAMING incoming
    * side's occupancy is unknowable without state, so there the cap
    * counts existing-side occupancy only (bounded per micro-batch by its
    * size; at tested SFs no bucket nears the cap, so stream and batch
    * agree on closed input). The counts are keys-only aggregates; the
    * result is existing ⋈ eligible keys ⋈ incoming, one row per shared
    * bucket. */
  private[graft] def crossBucketPairs(existing: DataFrame, incoming: DataFrame,
                                      keyCols: Seq[String],
                                      maxBucketSize: Int): DataFrame = {
    val keys = keyCols.map(col)
    val occupancy =
      if (incoming.isStreaming) existing.select(keys: _*)
      else existing.select(keys: _*).unionAll(incoming.select(keys: _*))
    val eligible = occupancy.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select(keys: _*)
    existing.join(eligible, keyCols).join(incoming, keyCols)
  }

  /** Parameters shared by `editDistancePairs` and the q136 DuckDB oracle
    * text (SparkEntry interpolates them) — one compile-time source of
    * truth, same discipline as the Portable* constants. */
  val EditPrefixLen = 16
  val EditMaxDist = 64

  /** The PREFIX block key: first `prefixLen` characters. */
  private[graft] def prefixKey(text: Column, prefixLen: Int): Column =
    substring(text, 1, prefixLen)

  /** The SUFFIX block key (round 10 — the second blocking pass closing
    * the recall hole PLANS.md documents for prefix-only blocking): the
    * LAST `prefixLen` characters, spelled as a positive-start substr —
    * `substr(text, greatest(length(text) − prefixLen + 1, 1), prefixLen)`
    * — because `length`/`substr`/`greatest` count characters identically
    * in Spark and DuckDB, while string `reverse` does NOT (Spark reverses
    * code points, DuckDB grapheme clusters — combining characters would
    * diverge). Shorter-than-prefixLen documents key on their whole text,
    * same clamping as the prefix pass. */
  private[graft] def suffixKey(text: Column, prefixLen: Int): Column =
    text.substr(greatest(length(text) - (prefixLen - 1), lit(1)), lit(prefixLen))

  /** Fuzzy-duplicate pairs by EDIT DISTANCE with prefix blocking — the
    * character-level complement to set-similarity dedup (minhash catches
    * reordered/shuffled token overlap; edit distance catches small
    * insertions/typos/template fills that keep the character stream
    * aligned). All-pairs Levenshtein is O(n²·len²) and unshippable, so
    * candidates are blocked on exact-match keys — the classic
    * sorted-neighborhood/blocking trade (recall bounded by the blocking
    * keys, like LSH banding is by band width).
    *
    * TWO blocking passes (round 10 — prefix-only blocking missed every
    * pair whose edits fall inside the first `prefixLen` characters, the
    * exact templated-prefix case the cap exists for; PLANS.md documented
    * the hole in r9): pass 1 blocks on the first `prefixLen` characters,
    * pass 2 on the LAST `prefixLen`. A true fuzzy pair escapes both only
    * when edits hit BOTH ends — the residual recall bound, documented
    * rather than hidden. Pass 2 keeps ONLY pairs whose prefix keys
    * DIFFER, so the union is disjoint BY CONSTRUCTION — no distinct()
    * exchange, and (critically) the same rule is stateless when
    * `editDistanceCrossPairs` runs on a stream, where a post-union dedup
    * would need a state store.
    *
    * Scale shape (the repo's standard pair-generator discipline):
    *   - each blocking exchange carries (key, id) ONLY — document text
    *     never crosses the bucket shuffle; it joins back for the
    *     surviving candidate pairs;
    *   - blocks are capped at `maxBucketSize` PER PASS (m-doc
    *     boilerplate block → m² pairs inside one collected task
    *     otherwise); a same-prefix pair dropped by pass 1's cap does not
    *     re-enter through pass 2 (the prefix-differs rule is
    *     cap-independent, so the oracle replays it exactly);
    *   - the distance itself uses Spark's banded 3-arg `levenshtein`
    *     (threshold form): the DP early-exits at `maxDist` band width, so
    *     each comparison is O(len·maxDist) not O(len²), and mismatched
    *     pairs cost the minimum. The DuckDB oracle spells the same
    *     predicate as plain levenshtein ≤ maxDist — the 3-arg form
    *     returns the true distance for every pair it keeps, so the kept
    *     rowsets are identical.
    * Output: (id_a, id_b, dist), id_a < id_b. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = EditPrefixLen,
                        maxDist: Int = EditMaxDist,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    def blocked(key: Column): DataFrame =
      bucketPairs(df.select(key.as("__k"), col(idCol)), Seq("__k"), idCol, maxBucketSize)
    val p1 = blocked(prefixKey(col(textCol), prefixLen))
    val p2 = blocked(suffixKey(col(textCol), prefixLen))
    def withText(pairs: DataFrame): DataFrame = pairs
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__ta")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__tb")), Seq("id_b"))
    withText(p1)
      .unionByName(withText(p2).filter(
        prefixKey(col("__ta"), prefixLen) =!= prefixKey(col("__tb"), prefixLen)))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // 3-arg levenshtein returns -1 above maxDist
  }

  /** Incremental edit-distance dedup: fuzzy pairs between an EXISTING
    * corpus and an INCOMING batch or stream — `editDistancePairs`'
    * daily-crawl form, completing the incremental family (minhash
    * `portableCrossPairStats`, embedding `crossEmbedPairs`). Both sides
    * run the SAME two blocking passes as the symmetric operator (prefix
    * + suffix keys, pass 2 keeping only prefix-differing pairs) through
    * `crossBucketPairs`, whose cap bounds COMBINED block occupancy for a
    * batch: every document lands in exactly one block per pass on
    * exactly one side, so combined occupancy EQUALS the symmetric
    * operator's block size for that key and the pair set is exactly
    * `editDistancePairs` on the concatenated corpus restricted to cross
    * pairs (what the q141 oracle replays). For a streaming incoming side
    * (q142) the cap sees corpus-side occupancy only, and the passes stay
    * disjoint statelessly, so the output is a true set with no state
    * store. The existing side never self-pairs, blocks keys + ids only
    * and joins its text back by id for the surviving pairs; the incoming
    * side carries its text through the block join (a stream cannot be
    * joined back to itself by id, and it is batch-sized).
    * Output: (id_a ∈ existing, id_b ∈ incoming, dist ≤ maxDist). */
  def editDistanceCrossPairs(existing: DataFrame, incoming: DataFrame,
                             idCol: String, textCol: String,
                             prefixLen: Int = EditPrefixLen,
                             maxDist: Int = EditMaxDist,
                             maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    def crossPass(keyOf: Column => Column): DataFrame =
      crossBucketPairs(
          existing.select(keyOf(col(textCol)).as("__k"), col(idCol).as("id_a")),
          incoming.select(keyOf(col(textCol)).as("__k"), col(idCol).as("id_b"),
            col(textCol).as("__tb")),
          Seq("__k"), maxBucketSize)
        .join(existing.select(col(idCol).as("id_a"), col(textCol).as("__ta")), Seq("id_a"))
    crossPass(t => prefixKey(t, prefixLen))
      .unionByName(crossPass(t => suffixKey(t, prefixLen)).filter(
        prefixKey(col("__ta"), prefixLen) =!= prefixKey(col("__tb"), prefixLen)))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Portable shingle hashes: md5-derived 32-bit integers (the q69
    * dual-spelling trick) — the cross-engine twin of `shingleHashes`
    * (whose fused xxhash64 stays the production path). Round 9: computed
    * by the fused native `PortableShingleHash` expression (digest bytes →
    * long, no n-gram string / hex-render / base-16 parse per shingle —
    * the composed form, which the DuckDB oracles still spell, is the
    * test reference in TierESpec). */
  def portableShingleHashes(text: Column, n: Int): Column =
    graft.functions.PortableShingleHash.column(tokens(text), n)

  /** Span length (in tokens) for exact-substring dedup (q173/q174) —
    * interpolated into both DuckDB texts, cf. PortableShingleN. 8 tokens
    * is the classic "long enough to be non-accidental" window (Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, use 50 BPE tokens on web text; the
    * synthetic corpus's 30-word vocabulary saturates 8-grams the way web
    * text saturates 50-grams). */
  val SpanK = 8

  /** Packed (doc, pos) occurrence key: doc_id·10⁶ + pos — a single
    * BIGINT both engines MIN identically (a struct/ROW min is not a
    * shared spelling). Positions are bounded by document length ≪ 10⁶.
    * Public: SparkEntry interpolates the same constant into the q173/
    * q174 DuckDB texts (the pack is part of the canonical-occurrence
    * definition). */
  val SpanPosPack = 1000000L

  /** Every k-token window occurrence: (id, pos 0-based, h). Keys-only —
    * one long hash per window, token strings never leave the scan.
    * Sub-k documents are excluded (a span of length k cannot occur in
    * them; PortableShingleHash's clamped whole-doc hash would otherwise
    * cover positions past the document's end in the removal accounting).
    * Mirrored as `len(t) >= k` in the q173/q174 DuckDB texts. */
  private def spanOccurrences(df: DataFrame, idCol: String, textCol: String,
                              k: Int): DataFrame =
    spanOccurrencesToks(
      df.select(col(idCol), tokens(col(textCol)).as("__t")), idCol, "__t", k)

  /** [[spanOccurrences]] over a PRE-TOKENIZED frame (idCol, tokCol array)
    * — the form the gate-ensemble entries feed from their shared token
    * frame (r18: one tokenize pass for span/ppl/NB instead of three). */
  private[graft] def spanOccurrencesToks(df: DataFrame, idCol: String,
                                         tokCol: String, k: Int): DataFrame =
    df.filter(size(col(tokCol)) >= k)
      .select(col(idCol),
        posexplode(graft.functions.PortableShingleHash.column(col(tokCol), k))
          .as(Seq("__pos", "__h")))

  /** Exact-substring (k-token span) sharing report — the span-level
    * complement to the document-level dedup family: minhash/simhash say
    * WHICH documents overlap, this says WHERE — the repeated k-gram
    * spans themselves, with occurrence/document counts and the canonical
    * (first) occurrence. Output: (h, n_occ, n_docs, canon_doc,
    * canon_pos), shared spans only (n_occ ≥ 2).
    *
    * Scale shape: one exchange of (h, id·10⁶+pos) longs — linear in
    * corpus token count, map-side partial aggregation collapses
    * per-partition duplicates; no strings, no pairs, no caps needed
    * (aggregation is linear regardless of span popularity — unlike pair
    * generators, a million-occurrence boilerplate span costs one
    * aggregate row here). */
  def sharedSpanStats(df: DataFrame, idCol: String, textCol: String,
                      k: Int = SpanK): DataFrame =
    spanOccurrences(df, idCol, textCol, k)
      .groupBy("__h")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol) * SpanPosPack + col("__pos")).as("__canon"))
      .filter(col("n_occ") >= 2)
      .select(col("__h").as("h"), col("n_occ"), col("n_docs"),
        expr(s"__canon DIV $SpanPosPack").as("canon_doc"),
        (col("__canon") % SpanPosPack).as("canon_pos"))

  /** Memorization-risk audit (round 11 session 2; the n==1 complement
    * of sharedSpanStats — cf. Kandpal et al. 2022, "Deduplicating
    * Training Data Mitigates Privacy Risks": DUPLICATED spans drive
    * extraction, and the globally UNIQUE spans are a document's
    * private/outlier surface). Per document: total k-token windows,
    * windows whose span hash appears exactly once in the whole corpus,
    * and their share in basis points. One keys-only span pass; the
    * per-hash occurrence count rides a window over the hash key (the
    * q138 one-exchange shape — high-cardinality partitioning, never a
    * global window), then one per-doc aggregate. */
  def rareSpanStats(df: DataFrame, idCol: String, textCol: String,
                    k: Int = SpanK): DataFrame = {
    val occ = spanOccurrences(df, idCol, textCol, k)
    occ
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__h")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_bp", expr("n_rare * 10000L DIV n_spans"))
  }

  /** Span index over a corpus: (h, n occurrences, canonical packed
    * occurrence) — the persisted artifact of incremental span dedup.
    * MERGEABLE by (sum, min) per hash (the sketch/LM-family discipline):
    * index(A ∪ B) = key-wise merge of index(A), index(B), which is what
    * lets a daily batch update the corpus index without re-scanning the
    * corpus (`spanRemovalStatsCross`). */
  def spanIndex(df: DataFrame, idCol: String, textCol: String,
                k: Int = SpanK): DataFrame =
    spanOccurrences(df, idCol, textCol, k)
      .groupBy("__h")
      .agg(count(lit(1)).as("__n"),
        min(col(idCol) * SpanPosPack + col("__pos")).as("__canon"))

  /** Shared removal tail: non-canonical occurrences of shared spans →
    * coverage explode ×k → distinct-position count per doc → stats for
    * every document of `docLens` (zero-removal docs included). `spans` =
    * (h, __n, __canon) with n ≥ 2 already filtered; `docLens` =
    * (idCol, n_tokens) — callers derive it from text or a shared token
    * frame. */
  private def spanRemovalTail(docLens: DataFrame, occ: DataFrame, spans: DataFrame,
                              idCol: String, k: Int): DataFrame = {
    val removedPerDoc = occ.join(spans.select("__h", "__canon"), Seq("__h"))
      .filter(col(idCol) * SpanPosPack + col("__pos") =!= col("__canon"))
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__p"))
      .groupBy(idCol).agg(countDistinct(col("__p")).as("__nr"))
    docLens
      .join(removedPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__nr"), lit(0L)).as("n_removed"))
      .withColumn("kept_bp",
        expr("(n_tokens - n_removed) * 10000 DIV n_tokens"))
  }

  /** (idCol, n_tokens) from raw text — the tail's doc-length frame. */
  private def docLensOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))

  /** Per-batch span scoring against a PRECOMPUTED shared-span table
    * (`spanIndex(corpus).filter(n ≥ 2)`, lineage-cut by the caller) —
    * the streaming form's micro-batch body (q176): a document never
    * splits across micro-batches, so batch-local scoring against the
    * static table is complete, with zero streaming state. */
  def spanRemovalStatsAgainstIndex(docs: DataFrame, spans: DataFrame,
                                   idCol: String, textCol: String,
                                   k: Int = SpanK): DataFrame =
    spanRemovalTail(docLensOf(docs, idCol, textCol),
      spanOccurrences(docs, idCol, textCol, k), spans, idCol, k)

  /** [[spanRemovalStatsAgainstIndex]] over a PRE-TOKENIZED frame — the
    * streaming gate ensemble's per-batch form (one tokenize pass shared
    * by span/ppl/NB; the caller lineage-cuts the token frame). */
  def spanRemovalStatsAgainstIndexToks(docs: DataFrame, spans: DataFrame,
                                       idCol: String, tokCol: String,
                                       k: Int = SpanK): DataFrame =
    spanRemovalTail(
      docs.select(col(idCol), size(col(tokCol)).cast("long").as("n_tokens")),
      spanOccurrencesToks(docs, idCol, tokCol, k), spans, idCol, k)

  /** Incremental span removal: stats for an INCOMING batch against an
    * EXISTING corpus — the daily-crawl form of `spanRemovalStats` (cf.
    * portableCrossPairStats / editDistanceCrossPairs). The corpus
    * contributes only its PERSISTED span index (`spanIndex`, merged
    * key-wise with the batch's own — sum counts, min canonical); its
    * raw text is never re-read, and since existing ids precede incoming
    * ids, any span present in the corpus keeps its corpus-side canonical
    * — every incoming occurrence of it is removed, while spans shared
    * only WITHIN the batch keep their first batch occurrence. Equals
    * `spanRemovalStats` on the concatenated corpus restricted to
    * incoming docs (the q175 oracle). */
  def spanRemovalStatsCross(existing: DataFrame, incoming: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = SpanK): DataFrame = {
    // the batch occurrence stream feeds both the index merge and the
    // removal join — cut once (cf. spanRemovalStats)
    val occNew = Checkpoints.cut(
      spanOccurrences(incoming, idCol, textCol, k), eager = false)
    val merged = spanIndex(existing, idCol, textCol, k)
      .unionByName(occNew.groupBy("__h")
        .agg(count(lit(1)).as("__n"),
          min(col(idCol) * SpanPosPack + col("__pos")).as("__canon")))
      .groupBy("__h")
      .agg(sum("__n").as("__n"), min("__canon").as("__canon"))
      .filter(col("__n") >= 2)
    spanRemovalTail(docLensOf(incoming, idCol, textCol), occNew, merged, idCol, k)
  }

  /** Exact-substring span REMOVAL stats (Lee et al. 2021's dedup
    * operation, arXiv:2107.06499): every occurrence of a shared k-token
    * span except its canonical first (min packed (doc, pos)) is marked
    * for removal; a token position is removed if ANY non-canonical
    * occurrence covers it. Output per document: (id, n_tokens,
    * n_removed, kept_bp) — the cleanup accounting a curation run logs
    * (the actual text rewrite is a trailing slice-and-join on the same
    * coverage set).
    *
    * Scale shape: occurrences → vocabulary-sized span aggregate → hash
    * join back (both sides keys-only) → coverage explode ×k on
    * REMOVABLE occurrences only → distinct positions → per-doc count.
    * Linear end to end; the ×k fan-out applies only to duplicated
    * spans, which dedup's premise says are the minority. */
  def spanRemovalStats(df: DataFrame, idCol: String, textCol: String,
                       k: Int = SpanK): DataFrame =
    spanRemovalStatsToks(
      df.select(col(idCol), tokens(col(textCol)).as("__t")), idCol, "__t", k)

  /** [[spanRemovalStats]] over a PRE-TOKENIZED frame (idCol, tokCol
    * array) — the gate-ensemble form (r18): q201/q203 tokenize the
    * corpus ONCE and feed the same cut token frame to all three gates. */
  def spanRemovalStatsToks(df: DataFrame, idCol: String, tokCol: String,
                           k: Int = SpanK): DataFrame = {
    // occ feeds BOTH the span aggregate and the removal join — cut the
    // md5 window-hash pass once instead of recomputing it per reference
    // (the q82 lineage-cut rule; the occurrence stream is 3 longs/row)
    val occ = Checkpoints.cut(spanOccurrencesToks(df, idCol, tokCol, k), eager = false)
    val spans = occ.groupBy("__h")
      .agg(count(lit(1)).as("__n"),
        min(col(idCol) * SpanPosPack + col("__pos")).as("__canon"))
      .filter(col("__n") >= 2)
    spanRemovalTail(
      df.select(col(idCol), size(col(tokCol)).cast("long").as("n_tokens")),
      occ, spans, idCol, k)
  }

  /** Parameters shared by `portablePairStats` and the q82 DuckDB oracle
    * text (SparkEntry interpolates them into the SQL) — one compile-time
    * source of truth so changing them cannot silently desynchronize the
    * two texts. */
  val PortableShingleN = 3
  val PortableNumHashes = 16
  val PortableBands = 4

  /** Deterministic affine coefficients for universal-hash permutations:
    * odd multipliers < 2^29, so a·h + b < 2^61 for 32-bit h — no overflow
    * under ANSI in Spark and identical BIGINT math in any SQL engine. */
  def affineCoeffs(numHashes: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numHashes)((rng.nextInt(1 << 28).toLong * 2 + 1, rng.nextInt(1 << 28).toLong))
  }

  /** MinHash signature via affine permutations of PORTABLE hashes —
    * unlike `minhashSignature` (xxhash64-seeded), every sig element is
    * plain integer arithmetic, (h·a + b) mod (2^61 − 1), that both engines
    * reproduce bit-exactly; computed by the native graft.functions.MinHash
    * loop. Empty shingle sets get Long.MaxValue (never collides into a
    * band). */
  def affineSignature(baseHashes: Column, coeffs: Seq[(Long, Long)]): Column =
    graft.functions.MinHash.affine(baseHashes, coeffs)

  /** The full MinHash+LSH near-dup pipeline on portable hashes:
    * signatures → band keys (exact string keys, no engine-specific band
    * hash) → single-pass bucketing → in-bucket pairs → distinct-set
    * overlap counts. LSH recall is probabilistic in J but DETERMINISTIC
    * given the coefficients, so two engines computing the same integers
    * produce the IDENTICAL pair set — which is what lets the q82 oracle
    * hash-check banding itself, not just the verification step. Same
    * scale shape as `nearDupPairs`: one shuffle of (band, key, id)
    * triples, pairs by double explode (`bucketPairs`), no self-join.
    * Output: (id_a, id_b, n_inter, n_union) — threshold on
    * n_inter/n_union is the caller's (integer cross-multiply). */
  def portablePairStats(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = PortableShingleN,
                        numHashes: Int = PortableNumHashes,
                        bands: Int = PortableBands,
                        seed: Long = 7L,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (base, banded) = portableBanded(df, idCol, textCol, shingleN, numHashes, bands, seed)
    // the degenerate-bucket guard of bucketPairs is mirrored into the q82
    // DuckDB text (see DefaultMaxBucketSize)
    bucketPairs(banded, Seq("__band", "__bkey"), idCol, maxBucketSize)
      .distinct()
      .join(base.select(col(idCol).as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col("__hs").as("__hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long").as("n_inter"),
        size(array_union(col("__ha"), col("__hb"))).cast("long").as("n_union"))
  }

  /** Shared banding stage of the portable minhash pipeline: returns
    * (base = (id, __hs) distinct-shingle-hash sets, banded = (id, __band,
    * __bkey) band-key triples). Factored out so `portableOversizeBuckets`
    * audits the EXACT buckets `portablePairStats` pairs on. */
  private def portableBanded(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, numHashes: Int, bands: Int,
                             seed: Long): (DataFrame, DataFrame) = {
    val rowsPerBand = numHashes / bands
    val coeffs = affineCoeffs(numHashes, seed)
    // Empty shingle sets are dropped BEFORE banding: every such document
    // shares the all-Long.MaxValue signature, so they land in one
    // degenerate bucket and pair with each other as n_inter=0/n_union=0
    // "90% near-dups" (0·10 ≥ 0·9). The filter is this path's analogue
    // of the maxBucketSize guard, mirrored in the q82 DuckDB text.
    // (id, __hs) is referenced THREE times downstream (signature
    // derivation + both verification join sides) and the md5 string
    // round-trip per shingle is the measured dominant cost of the whole
    // pipeline — the lineage cut materializes it once instead of
    // recomputing the hash pass per reference (cf. connectedComponents).
    // Checkpoints.cut picks reliable checkpointing when the caller has
    // configured a checkpoint dir (deployment), localCheckpoint otherwise.
    val base = Checkpoints.cut(
      df.select(col(idCol),
          array_distinct(portableShingleHashes(col(textCol), shingleN)).as("__hs"))
        .filter(size(col("__hs")) > 0),
      eager = false)
    // Banding fans out KEYS ONLY — compact (band, bkey, id) triples, never
    // the shingle-hash arrays: carrying __hs here duplicates every
    // document's hash set bands× through the corpus-wide shuffle and was
    // the most expensive plan in the round-5 corpus (9.9 s driver-side).
    // The hash sets are joined back for surviving candidate pairs only,
    // exactly as nearDupPairs verifies its candidates.
    val sig = base.select(col(idCol),
      affineSignature(col("__hs"), coeffs).as("__sig"))
    val banded = sig.select(col(idCol),
      posexplode(portableBandKeys(col("__sig"), bands, rowsPerBand)).as(Seq("__band", "__bkey")))
    (base, banded)
  }

  /** Portable LSH band keys: the signature's `bands` slices of
    * `rowsPerBand`, each dash-joined into one exact string key (no
    * engine-specific band hash — the q82 DuckDB text spells the same
    * join). The one layout both the batch banding above and the
    * streaming side of `StreamOps.dedupAgainstCorpus` explode. */
  private[graft] def portableBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand), "-")): _*)

  /** Audit of what the `maxBucketSize` guard drops: every band bucket
    * whose occupancy EXCEEDS the cap, as (band, bucket_key, bucket_size).
    * Pair generators drop such buckets silently (pairing them is the m²
    * blow-up the cap exists to prevent); a curation run executes this
    * alongside `portablePairStats` when it needs the dropped boilerplate
    * clusters on record. Aggregate-only — never collects bucket members. */
  def portableOversizeBuckets(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = PortableShingleN,
                              numHashes: Int = PortableNumHashes,
                              bands: Int = PortableBands,
                              seed: Long = 7L,
                              maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (_, banded) = portableBanded(df, idCol, textCol, shingleN, numHashes, bands, seed)
    banded.groupBy(col("__band").as("band"), col("__bkey").as("bucket_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
  }

  /** Public corpus-index frames for incremental/streaming dedup:
    * base = (id, __hs distinct shingle-hash set), banded = (id, __band,
    * __bkey). A production pipeline computes these ONCE per corpus
    * snapshot and persists both (banding is per-document, so stored
    * frames stay valid as batches arrive); `portableCrossPairStats`
    * re-derives them per call only because its oracle needs the
    * self-contained form. */
  def portableIndexFrames(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = PortableShingleN,
                          numHashes: Int = PortableNumHashes,
                          bands: Int = PortableBands,
                          seed: Long = 7L): (DataFrame, DataFrame) =
    portableBanded(df, idCol, textCol, shingleN, numHashes, bands, seed)

  /** Incremental near-dup: candidate pairs between an EXISTING corpus and
    * an INCOMING batch — the daily-crawl shape, where recomputing all
    * intra-corpus pairs per batch is the scale mistake. Both sides are
    * banded with the SAME affine coefficients, so a cross pair surfaces
    * iff the symmetric pipeline would have surfaced it; only (band, key,
    * id) triples meet at the join, and the incoming side is typically
    * orders of magnitude smaller than the corpus — AQE broadcasts it, so
    * the corpus never shuffles. (A production deployment additionally
    * PERSISTS the existing side's signature table between batches;
    * banding is per-document, so stored signatures stay valid.)
    *
    * The degenerate-bucket guard is `crossBucketPairs`': COMBINED
    * (existing + incoming) occupancy per key — exactly the symmetric
    * pipelines' total-bucket cap, so the pair set equals
    * `portablePairStats` on the concatenated corpus restricted to cross
    * pairs (which is what the q124 oracle replays). Output: (id_a ∈
    * existing, id_b ∈ incoming, n_inter, n_union). */
  def portableCrossPairStats(existing: DataFrame, incoming: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = PortableShingleN,
                             numHashes: Int = PortableNumHashes,
                             bands: Int = PortableBands,
                             seed: Long = 7L,
                             maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (baseOld, bandedOld) = portableBanded(existing, idCol, textCol, shingleN, numHashes, bands, seed)
    val (baseNew, bandedNew) = portableBanded(incoming, idCol, textCol, shingleN, numHashes, bands, seed)
    crossBucketPairs(
        bandedOld.select(col("__band"), col("__bkey"), col(idCol).as("id_a")),
        bandedNew.select(col("__band"), col("__bkey"), col(idCol).as("id_b")),
        Seq("__band", "__bkey"), maxBucketSize)
      .select("id_a", "id_b")
      .distinct()
      .join(baseOld.select(col(idCol).as("id_a"), col("__hs").as("__ha")), Seq("id_a"))
      .join(baseNew.select(col(idCol).as("id_b"), col("__hs").as("__hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long").as("n_inter"),
        size(array_union(col("__ha"), col("__hb"))).cast("long").as("n_union"))
  }

  /** Exact n-gram Jaccard similarity between two token-array columns. */
  def jaccard(aToks: Column, bToks: Column): Column = {
    val ad = array_distinct(aToks)
    val bd = array_distinct(bToks)
    val unionSz = size(array_union(ad, bd))
    when(unionSz === 0, lit(1.0))
      .otherwise(size(array_intersect(ad, bd)).cast("double") / unionSz.cast("double"))
  }

  /** Benchmark-contamination scores: for every corpus document, the
    * maximum distinct-token overlap with any benchmark document.
    * Training pipelines run this before release to prove eval sets did
    * not leak into training data. The benchmark side is small by
    * definition → broadcast; the corpus side streams through in one
    * pass, no shuffle of corpus text. Integer outputs (hash-safe). */
  def contaminationScores(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val c = corpus.select(col(idCol), array_distinct(tokens(col(textCol))).as("__ct"))
    val b = bench.select(array_distinct(tokens(col(textCol))).as("__bt"))
    c.crossJoin(broadcast(b))
      .groupBy(idCol)
      .agg(max(size(array_intersect(col("__ct"), col("__bt")))).cast("long").as("max_overlap"))
  }

  /** MinHash LSH candidates (band keys → `bucketPairs`, buckets over
    * `DefaultMaxBucketSize` dropped) verified by exact shingle-set
    * Jaccard ≥ threshold. Output: (id_a, id_b, jaccard). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleN: Int = 3,
                   numHashes: Int = 64, bands: Int = 16): DataFrame = {
    // ONE shingle-hash pass (r17 optimization round; previously three —
    // the signature stage hashed the text and each verification join
    // side re-ran it): the distinct hash-set frame is cut once and feeds
    // BOTH the minhash signature (min over a distinct set ≡ min over the
    // multiset, element-wise — the permutation hashes are per-element)
    // and the two verification joins.
    val sh = Checkpoints.cut(
      df.select(col(idCol),
        array_distinct(shingleHashes(col(textCol), shingleN)).as("__sh")),
      eager = false)
    val sig = sh.select(col(idCol), minhashSignature(col("__sh"), numHashes).as("__sig"))
    val keyed = sig.select(col(idCol),
      posexplode(bandKeys(col("__sig"), bands, numHashes / bands)).as(Seq("__band", "__key")))
    val cands = bucketPairs(keyed, Seq("__band", "__key"), idCol, DefaultMaxBucketSize)
      .distinct()
    // verification joins the distinct shingle-HASH sets: set arithmetic on
    // longs, same Jaccard modulo negligible 64-bit collision probability
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** One-pass dedup policy over verified near-dup pairs: a document is
    * removed if it near-matches any earlier (lower-id) document. (Full
    * connected components would need iteration; keep-earliest is the
    * standard single-pass policy and is deterministic.) */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                threshold: Double, shingleN: Int = 3): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, threshold, shingleN)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected edge list — the transitive
    * closure `dedupNear`'s single-pass policy deliberately skips. Labels
    * every vertex with the MINIMUM vertex id reachable from it.
    *
    * Algorithm: hash-min label propagation with POINTER JUMPING — each
    * round first takes the min label over self+neighbors, then replaces
    * every label by its label's label (path halving), so convergence is
    * O(log diameter) rounds, not O(diameter): a 1M-document near-dup chain
    * converges in ~20 rounds instead of 1M. Each round is two equi-joins
    * + an aggregate (plain shuffles, AQE-splittable); lineage is cut per
    * round so the plan does not grow with the iteration count — via
    * `Checkpoints.cut`, so a configured checkpoint dir upgrades every
    * cut to a reliable one (deployment mode). Converged when no label
    * changes.
    *
    * Cost discipline (ONE Spark job per round, measured round 5; the
    * round-4 shape paid three — an eager checkpoint job, a separate
    * count() job, and a per-round re-derivation of the edge pipeline):
    *   - `sym` is checkpointed ONCE up front: every round's neighborhood
    *     join references it, and without the cut each round's fresh
    *     QueryExecution re-runs the whole upstream edge DAG (for near-dup
    *     input, the full MinHash candidate + verification pipeline).
    *   - the jump output carries a `__chg` flag and is checkpointed
    *     LAZILY; the convergence aggregate is the action that both
    *     materializes the checkpoint and returns the changed count — the
    *     count is fused into the pass, not a second job (which also makes
    *     an every-round convergence check free, so no every-2nd-round
    *     staleness is needed). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          contractionMinEdges: Long = CcContractionMinEdges,
                          localMaxEdges: Long = CcLocalMaxEdges): DataFrame = {
    val sym = Checkpoints.cut(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(),
      eager = false)
    // THREE-regime adaptive switch (local added in the r17 optimization
    // round; contraction shipped earlier in r17). The count is the one
    // setup job — it materializes `sym`'s lazy checkpoint, so every
    // branch below reads the cut, never the upstream pair pipeline.
    //
    //   1. symEdges ≤ localMaxEdges: DRIVER-LOCAL union-find over the
    //      collected edge list. The distributed loop pays one Spark job
    //      per hash-min round (plus AQE stage jobs) — pure scheduler
    //      latency when the edge set is a few thousand rows (q131's
    //      whole entry was 41 jobs, ~1.5 s of it this loop, for a 5-row
    //      answer). Same regime family as the broadcast-verify maps:
    //      decide on a measured size, collect under a documented driver
    //      envelope, stay distributed past it.
    //   2. symEdges < contractionMinEdges: flat hash-min + pointer
    //      jumping. The round-15 A/B measured the round-1 contraction as
    //      a LOSS at small scale (+0.4 s at 18k pairs, neutral at 2.9M
    //      symmetric edges, 11.88 vs 9.70 s at 32M — re-run per round
    //      since, always inside variance at ≤32M): each contraction pass
    //      pays two full-edge label joins + a distinct that the saved
    //      rounds don't repay below the crossover.
    //   3. past contractionMinEdges: round-1 contraction. The r17 A/B at
    //      the 615.9M-pair / 1.23B-symmetric-edge fixture flips the
    //      verdict: contraction 590.1 s vs flat 978.1 s (1.66×), 150M
    //      edges already winning 65.6 vs 84.2 s — past the crossover
    //      each flat round exchanges the FULL edge multiset while the
    //      contraction iterates on a quotient graph orders of magnitude
    //      smaller.
    //
    // All three branches produce identical labels (min reachable id —
    // CcContractionSpec pins per-vertex equality across the forced
    // regimes), so the switch is invisible to every caller and oracle.
    val symEdges = sym.count()
    val out =
      if (symEdges <= localMaxEdges) localCc(sym)
      else {
        val labels0 = Checkpoints.cut(
          sym.select(col("src").as("id")).distinct()
            .withColumn("cluster", col("id")),
          eager = true)
        if (symEdges < contractionMinEdges) hashMinLoop(sym, labels0, maxIter)
        else contractedCc(sym, labels0, maxIter)
      }
    Checkpoints.free(sym)
    out
  }

  /** Symmetric-edge count at or below which [[connectedComponents]] runs
    * the driver-local regime. Envelope at the bound: one collect() of the
    * already-checkpointed (src, dst) rows (2M × ~80 B of Row overhead ≈
    * 160 MB transient) plus a Long→Long parent map over V ≤ 2·E vertices
    * (open-addressed LongMap, ≤ ~128 MB at load ≥ 0.25) — the same
    * driver-memory class as the broadcast-verify maps
    * (`Similarity.broadcastVerifyMaxRows`), and freed when the labels
    * frame is parallelized back out. Past the bound nothing is collected
    * and the distributed regimes run unchanged. */
  val CcLocalMaxEdges: Long = 2000000L

  /** Driver-local union-find over a (small, already-cut) symmetric edge
    * set — [[connectedComponents]] regime 1. Union-by-min-root with full
    * path compression: attaching the larger root under the smaller makes
    * each final root its component's minimum id, the exact label the
    * distributed branches compute. The result is parallelized back out
    * (sorted by id — deterministic), so downstream equi-joins see a
    * size-known small relation and plan broadcast joins instead of the
    * sort-merge exchanges the checkpointed label table used to force. */
  private[graft] def localCc(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var y = x0
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    sym.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    lastCcRounds = 0 // diagnostic: no distributed rounds ran
    val ids = parent.keysIterator.toArray
    java.util.Arrays.sort(ids)
    val rows = ids.map(v => org.apache.spark.sql.Row(v, find(v))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      ids.length / 65536 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** Symmetric-edge count at which [[connectedComponents]] switches from
    * the flat hash-min loop to the round-1 contraction prelude. Measured
    * crossover (ProfileQ97 at-scale mode, BASELINE.md round 17): flat
    * wins/washes through 32M symmetric edges, contraction wins at 150M
    * (factor-70 fixture, 65.6 vs 84.2 s) and by 1.66× at 1.23B; 100M
    * sits safely past the wash zone on the winning side's shoulder. */
  val CcContractionMinEdges: Long = 100000000L

  /** Round-1 contraction CC (shipped round 17 for the past-crossover
    * regime; the former ProfileQ97 experiment): one hash-min +
    * pointer-jumping round over the full symmetric edge set, quotient
    * the graph by those first labels (edges whose endpoints already
    * share a label drop out), run the flat loop on the — orders of
    * magnitude smaller — contracted graph, and compose the two label
    * maps. Exact by the min-label argument: round-1 labels are a
    * vertex→representative map whose representatives' components in the
    * quotient graph are isomorphic to the original components, and
    * min-composition preserves the global minimum (per-vertex equality
    * vs the flat loop pinned by CcContractionSpec). `lastCcRounds`
    * counts the full-graph round plus the quotient rounds. */
  private[graft] def contractedCc(sym: DataFrame, labels0: DataFrame,
                                  maxIter: Int): DataFrame = {
    val (labels1, changed1) = ccRound(sym, labels0)
    if (changed1 == 0) {
      lastCcRounds = 1
      labels1.select("id", "cluster")
    } else {
      val contracted = Checkpoints.cut(
        sym.join(labels1.select(col("id").as("__sa"), col("cluster").as("__ca")),
            sym("src") === col("__sa"))
          .join(labels1.select(col("id").as("__sb"), col("cluster").as("__cb")),
            sym("dst") === col("__sb"))
          .filter(col("__ca") =!= col("__cb"))
          .select(col("__ca").as("src"), col("__cb").as("dst"))
          .distinct(),
        eager = false)
      val compLabels0 = Checkpoints.cut(
        contracted.select(col("src").as("id")).distinct()
          .withColumn("cluster", col("id")),
        eager = true)
      val comp = hashMinLoop(contracted, compLabels0, maxIter)
      val quotientRounds = lastCcRounds
      Checkpoints.free(contracted)
      val composed = labels1.as("l")
        .join(comp.select(col("id").as("__ci"), col("cluster").as("__cc")),
          col("l.cluster") === col("__ci"), "left")
        .select(col("l.id").as("id"),
          coalesce(col("__cc"), col("l.cluster")).as("cluster"))
      val out = Checkpoints.cut(composed, eager = true)
      // composed's analyzed plan holds labels1's and comp's checkpointed
      // RDDs — freeing through it releases both generations at once
      Checkpoints.free(composed)
      lastCcRounds = 1 + quotientRounds
      out
    }
  }

  /** One hash-min + pointer-jumping round: returns the new (checkpointed,
    * materialized) labels and the changed count. Frees the caller's
    * labels and the round's intermediate — the one-job-per-round cost
    * discipline of the former inline loop, unchanged. */
  private[graft] def ccRound(sym: DataFrame, labels: DataFrame): (DataFrame, Long) = {
    // min label over the neighborhood, then combined with the vertex's
    // own label via join+least (a union of a frame with its own
    // derivation trips Catalyst's constraint rewriting)
    val nbrMin = sym.join(labels, sym("dst") === labels("id"))
      .select(sym("src").as("id"), col("cluster").as("__nc"))
      .groupBy("id").agg(min("__nc").as("__nc"))
    val step1 = Checkpoints.cut(
      labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("__old"),
          coalesce(least(col("cluster"), col("__nc")), col("cluster")).as("cluster")),
      eager = false)
    val jumped = Checkpoints.cut(
      step1.as("a")
        .join(step1.select(col("id").as("__cid"), col("cluster").as("__cparent")),
          col("a.cluster") === col("__cid"), "left")
        .select(col("a.id").as("id"), col("a.__old").as("__old"),
          coalesce(col("__cparent"), col("a.cluster")).as("cluster"))
        .select(col("id"), col("cluster"),
          (col("cluster") =!= col("__old")).cast("long").as("__chg")),
      eager = false)
    val changed = jumped.agg(coalesce(sum("__chg"), lit(0L))).head().getLong(0)
    // this round's blocks are live in `jumped` now — the previous
    // round's labels and this round's step1 are dead; free them or the
    // block manager holds O(rounds) label-table generations (a
    // working-set leak at 100 TB, the Bench inter-entry lesson applied
    // WITHIN the iterative operator)
    Checkpoints.free(labels)
    Checkpoints.free(step1)
    (jumped.select("id", "cluster"), changed)
  }

  /** The hash-min iteration on an (already cut) edge set — the former
    * inline loop body, factored so the contraction prelude can run it on
    * the quotient graph. */
  private[graft] def hashMinLoop(sym: DataFrame, labels0: DataFrame,
                          maxIter: Int): DataFrame = {
    var labels = labels0
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val (next, chg) = ccRound(sym, labels)
      labels = next
      changed = chg
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    lastCcRounds = i
    labels
  }

  /** Rounds the most recent [[hashMinLoop]] took to converge — a
    * diagnostic the scale receipts read (RegimeProbe's cc stage), not
    * part of the operator contract. */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Cluster labels for near-duplicate groups: connected components over a
    * verified pair list (id_a, id_b). Output (doc_id, cluster) covers only
    * documents that appear in at least one pair; cluster = min doc id of
    * the group. */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .select(col("id").as("doc_id"), col("cluster"))

  /** Transitive dedup policy: one survivor (the min id) per near-dup
    * CLUSTER — the group semantics `dedupNear`'s keep-earliest pass
    * approximates. A −B −C chains collapse to A even when A and C never
    * pair directly. */
  def dedupNearTransitive(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, shingleN: Int = 3): DataFrame = {
    val labels = nearDupClusters(nearDupPairs(df, idCol, textCol, threshold, shingleN))
    val losers = labels.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Portable 32-bit SimHash over the DISTINCT token set: per bit b, sum
    * ±1 weights ((h >> b & 1)·2 − 1) of md5-derived token hashes; the
    * bit is set when the sum is ≥ 0. Pure integer arithmetic — the
    * cross-engine twin of the native `SimHash64` expression. Round 10:
    * computed by the fused native `PortableSimhash32` expression (one
    * tight loop per row — no 32-wide HOF accumulator array per token;
    * the r9 PortableShingleHash playbook applied to the sign-fold, which
    * the q83 profile showed dominating). The composed HOF form, which
    * the q83 DuckDB text still replays, is the bit-equality test
    * reference in TierESpec. */
  def portableSimhash32(tokenHashes: Column): Column =
    graft.functions.PortableSimhash32.column(tokenHashes)

  /** Combination-banding layout shared by BOTH simhash pair generators and
    * the q83 DuckDB text. The round-7 scheme banded on single chunks (4
    * chunks of w bits ⇒ 2^w buckets per chunk: 2^8 for the portable 32-bit
    * twin, 2^16 for production 64-bit) — a hard bucket-cardinality ceiling:
    * occupancy grows linearly with corpus size, in-bucket pair candidates
    * quadratically (measured: max 8-bit chunk bucket at sf0.1 is already
    * 2,443 of 5,000 docs). Combination banding removes it: split into
    * `SimhashChunks` = 8 chunks; hamming ≤ 3 dirties at most 3, so some
    * `SimhashIntact` = 5-subset of chunks is guaranteed identical — banding
    * on every C(8,5) = 56 subset keeps EXACT pigeonhole completeness (the
    * verified pair set is provably unchanged) while the bucket key widens
    * from one chunk to five (2^20 keys for the 32-bit twin, 2^40 for
    * production). The fan-out cost is 56 vs 4 keys-only triples per doc;
    * the payoff is per-bucket occupancy ~n/2^(5w/8·width) instead of
    * n/2^(w/4·width). Residual oversize buckets are identical-signature
    * clusters — genuine boilerplate, `DefaultMaxBucketSize`'s job. */
  val SimhashChunks = 8
  val SimhashIntact = 5

  /** All C(SimhashChunks, SimhashIntact) chunk-index subsets, in
    * deterministic lexicographic order (mirrored into the q83 text). */
  def simhashCombos: Seq[Seq[Int]] = simhashCombosOf(SimhashIntact)

  /** Combo subsets at an explicit intact count (round 16): the video
    * perceptual family bands on 3-of-8 combos — SAME C(8,3) = C(8,5) =
    * 56-combo fan-out as the text point, 24-bit keys, pigeonhole-complete
    * for hamming ≤ 8 − intact = 5 (the vHash noise envelope needs the
    * wider radius — BASELINE.md round-16 recall table). */
  def simhashCombosOf(intact: Int): Seq[Seq[Int]] = {
    require(intact >= 1 && intact <= SimhashChunks)
    (0 until SimhashChunks).combinations(intact).map(_.toSeq).toSeq
  }

  /** Minimal combo index whose chunk subset is fully inside the
    * intact-chunk mask, per 8-bit mask (−1 when fewer than SimhashIntact
    * chunks are intact — such pairs never share any combo bucket). Pair
    * emission is restricted to THIS combo, so each colliding pair is
    * generated exactly once instead of once per shared combo (identical
    * signatures share all 56 — measured 2× end-to-end at sf0.1 without
    * the restriction), which also makes the pair stream unique by
    * construction: no distinct() shuffle. Mirrored into the q83 DuckDB
    * text so the bucket cap's drop semantics stay aligned across engines
    * (a pair whose min-combo bucket is oversize is dropped in both, even
    * if another combo's bucket survived). */
  def simhashMinComboByMask: Seq[Int] = simhashMinComboByMaskOf(SimhashIntact)

  /** [[simhashMinComboByMask]] at an explicit intact count (the vhash
    * family's 3-of-8 point). */
  def simhashMinComboByMaskOf(intact: Int): Seq[Int] = {
    val combos = simhashCombosOf(intact)
    (0 until (1 << SimhashChunks)).map { m =>
      combos.indexWhere(cs => cs.forall(c => (m & (1 << c)) != 0))
    }
  }

  /** Portable SimHash near-dup pairs: 32-bit signatures combination-banded
    * over 8×4-bit chunks (hamming ≤ 3 ⇒ some 5 chunks intact ⇒ the pair
    * shares that combo's bucket), verified by exact hamming distance —
    * every integer derivable bit-exactly in any engine, so the q83 oracle
    * hash-checks the whole pipeline (cf. `portablePairStats` for the
    * MinHash family). Output: (id_a, id_b, hamming). */
  def portableSimhashPairs(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3,
                           maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming <= SimhashChunks - SimhashIntact,
      s"$SimhashChunks chunks with $SimhashIntact intact only guarantee hamming <= ${SimhashChunks - SimhashIntact}")
    // token hashes materialized first: the 32 bit-folds of
    // portableSimhash32 each reference the array (CollapseProject note on
    // minhashSignature)
    // round 9: per-token md5 via the fused PortableShingleHash (n=1 ⇒
    // the tokens themselves; bit-identical to the conv(substring(md5))
    // spelling the q83 DuckDB text keeps)
    // single-pass bucketing (cf. bucketPairs): ONE shuffle of
    // (combo, key, id, sim) and in-bucket pairs by double explode — the
    // two-sided join shape recomputes the md5+signature subtree per side
    // (measured ~2× at sf0.1)
    // degenerate-bucket guard (cf. DefaultMaxBucketSize), mirrored into
    // the q83 DuckDB text
    simhashEmitPairs(portableSimhashChunkKeys(df, idCol, textCol),
      32 / SimhashChunks, maxHamming, maxBucketSize)
  }

  /** (id, __combo, __ckey, __sim) combo-key stream of the portable simhash
    * banding — the EXACT keys `portableSimhashPairs` buckets on, factored
    * out so the occupancy audit below can never drift from the generator. */
  private[graft] def portableSimhashChunkKeys(df: DataFrame, idCol: String,
                                       textCol: String,
                                       cutSigs: Boolean = false): DataFrame = {
    // token hashes materialized first: the 32 bit-folds of
    // portableSimhash32 each reference the array (CollapseProject note on
    // minhashSignature); per-token md5 via the fused PortableShingleHash
    val th = df.select(col(idCol),
      array_distinct(portableShingleHashes(col(textCol), 1)).as("__th"))
    val sigs0 = th.select(col(idCol), portableSimhash32(col("__th")).as("__sim"))
    // cutSigs (r17 optimization round): the CROSS generators reference
    // each chunk stream twice (simhashCrossEmitPairs' occupancy
    // aggregate + probe side), and without a cut each reference re-runs
    // the per-token md5 + 32 bit-folds above — the dominant cost. Cut at
    // the (id, __sim) level (n rows; the 56-combo explode below is cheap
    // arithmetic and re-runs per reference). Streaming frames cannot be
    // checkpointed and are batch-sized by definition — skipped.
    val sigs =
      if (cutSigs && !df.isStreaming) Checkpoints.cut(sigs0, eager = false)
      else sigs0
    // combo key = the 5 chunk values PACKED into one 20-bit long (round
    // 10 — the production simhashPairs packing applied to the portable
    // twin: the ProfileQ83 receipt put ~0.45 s of q83's 2.1 s in building
    // 56 dash-joined STRINGS per doc; since round 14 the packing lives in
    // the shared simhashComboKeys)
    simhashComboKeys(sigs, 32 / SimhashChunks)
  }

  /** (id, __sim, __combo, __ckey) combination-banding key stream of any
    * (id, __sim) signature frame at the given chunk width — the one
    * packing all three banded signature families share (32-bit portable
    * simhash, 64-bit production simhash, and round 14's 64-bit
    * perceptual dHash in [[graft.operators.Multimodal.phashPairs]]).
    * Combo key = the SimhashIntact chunk values packed into one long
    * (integer keys shuffle 4-8× narrower than strings; the q83/q210
    * DuckDB texts spell the identical arithmetic with a range lambda). */
  private[graft] def simhashComboKeys(sigs: DataFrame, chunkBits: Int,
                                      intact: Int = SimhashIntact): DataFrame = {
    val idCol = sigs.columns.filterNot(_.startsWith("__")).head
    val mask = (1L << chunkBits) - 1
    sigs.select(
      col(idCol), col("__sim"),
      posexplode(array(simhashCombosOf(intact).map { cs =>
        cs.zipWithIndex.map { case (c, i) =>
          shiftrightunsigned(col("__sim"), chunkBits * c).bitwiseAND(lit(mask)) * lit(1L << (chunkBits * i))
        }.reduce(_ + _)
      }: _*)).as(Seq("__combo", "__ckey")))
  }

  /** Occupancy audit for the portable simhash combo buckets: (combo, ckey,
    * n) per bucket — DriftGuardSpec's margin probe against regenerated
    * testdata (cf. `portableOversizeBuckets` for the minhash bands and
    * `Similarity.portableEmbedBucketSizes`). Oversize buckets here are
    * identical-signature boilerplate clusters the cap legitimately drops;
    * what the guard bounds is the FRACTION of the corpus living in them. */
  def portableSimhashBucketSizes(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    portableSimhashChunkKeys(df, idCol, textCol)
      .groupBy(col("__combo").as("combo"), col("__ckey").as("ckey"))
      .agg(count(lit(1)).as("n"))

  /** Symmetric simhash pair generator: bucket, cap, upper-triangle
    * emission, then `simhashVerify`. `chunks` = (__combo, __ckey,
    * id-col, __sim). */
  private[graft] def simhashEmitPairs(chunks: DataFrame, chunkBits: Int,
                                          maxHamming: Int, maxBucketSize: Int,
                                          intact: Int = SimhashIntact): DataFrame = {
    val idCol = chunks.columns.filterNot(c => c.startsWith("__")).head
    val pairs = chunks
      .groupBy("__combo", "__ckey")
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("__sim").as("sim")))).as("__m"))
      .filter(size(col("__m")).between(2, maxBucketSize))
      // strict upper triangle emitted DIRECTLY (round 14, ProfileQ83):
      // the list is sorted by (unique) id, so pairing each element with
      // its suffix slice yields exactly the id_a < id_b pairs — m(m−1)/2
      // generated rows instead of the full m² double explode filtered in
      // half afterwards. Pair set identical by construction; measured
      // 1.9× on the 10× tail (BASELINE.md round-14 stage table).
      .select(col("__combo"), col("__m"), posexplode(col("__m")).as(Seq("__i", "a")))
      .select(col("__combo"), col("a"),
        explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("b"))
    simhashVerify(pairs, col("a.id"), col("b.id"), col("a.sim"), col("b.sim"),
      chunkBits, maxHamming, intact)
  }

  /** Shared tail of both simhash pair generators: min-combo single
    * emission (simhashMinComboByMask — each colliding pair survives in
    * exactly one combo bucket, so the pair stream is unique by
    * construction, no distinct) and exact-hamming verification.
    * `pairs` carries `__combo`; the id and signature columns are named by
    * the caller. Output: (id_a, id_b, hamming ≤ maxHamming). */
  private def simhashVerify(pairs: DataFrame, idA: Column, idB: Column,
                            simA: Column, simB: Column, chunkBits: Int,
                            maxHamming: Int, intact: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val intactMask = (0 until SimhashChunks).map { c =>
      when(shiftrightunsigned(col("__xor"), chunkBits * c).bitwiseAND(lit(mask)) === 0,
        lit(1 << c)).otherwise(lit(0))
    }.reduce(_ + _)
    pairs
      .withColumn("__xor", simA.bitwiseXOR(simB))
      .filter(col("__combo") ===
        element_at(typedLit(simhashMinComboByMaskOf(intact)), intactMask + 1))
      .select(idA.as("id_a"), idB.as("id_b"),
        expr("bit_count(__xor)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-corpus form of the simhash machinery (round 14): in-bucket
    * pairs between an EXISTING combo-key stream and an INCOMING one —
    * the daily-crawl shape (cf. `portableCrossPairStats` /
    * `Similarity.portableCrossEmbedPairs`), shared by the text simhash
    * and perceptual-hash incremental and streaming entries. Buckets and
    * the cap come from `crossBucketPairs` (combined occupancy for a
    * batch, corpus-side for a stream); a batch pair set then equals the
    * symmetric generator on the concatenated corpus restricted to cross
    * pairs, PROVIDED every incoming id exceeds every existing id (the
    * callers' split/offset convention; the `id_a < id_b` guard makes the
    * restriction literal). Keys-only exchange throughout.
    *
    * Each side is referenced TWICE inside `crossBucketPairs` (occupancy
    * aggregate + join side) — callers whose signature upstream is
    * expensive (per-token md5 + bit-folds for text, decode + resize +
    * dHash for media) cut the (id, __sim) frame BEFORE the combo explode
    * (r17 optimization round; the cut carries n rows, not 56n exploded
    * key rows). */
  private[graft] def simhashCrossEmitPairs(chunksOld: DataFrame, chunksNew: DataFrame,
                                           chunkBits: Int, maxHamming: Int,
                                           maxBucketSize: Int,
                                           intact: Int = SimhashIntact): DataFrame = {
    val idOld = chunksOld.columns.filterNot(_.startsWith("__")).head
    val idNew = chunksNew.columns.filterNot(_.startsWith("__")).head
    val pairs = crossBucketPairs(
        chunksOld.select(col("__combo"), col("__ckey"),
          col(idOld).as("id_a"), col("__sim").as("__sa")),
        chunksNew.select(col("__combo"), col("__ckey"),
          col(idNew).as("id_b"), col("__sim").as("__sb")),
        Seq("__combo", "__ckey"), maxBucketSize)
      .filter(col("id_a") < col("id_b"))
    simhashVerify(pairs, col("id_a"), col("id_b"), col("__sa"), col("__sb"),
      chunkBits, maxHamming, intact)
  }

  /** Incremental portable SimHash near-dup: candidate pairs between an
    * EXISTING document corpus and an INCOMING batch or stream — the
    * simhash family's incremental (q215) and streaming (q216) entries
    * (cf. q124/q125 for the minhash/embedding families). A batch pair
    * set equals `portableSimhashPairs` on the concatenated corpus
    * restricted to cross pairs (the q215 oracle); a stream caps
    * corpus-side occupancy only (`crossBucketPairs`), which the q216
    * oracle mirrors. Output: (id_a ∈ existing, id_b ∈ incoming,
    * hamming). */
  def portableSimhashCrossPairs(existing: DataFrame, incoming: DataFrame,
                                idCol: String, textCol: String,
                                maxHamming: Int = 3,
                                maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming <= SimhashChunks - SimhashIntact,
      s"$SimhashChunks chunks with $SimhashIntact intact only guarantee hamming <= ${SimhashChunks - SimhashIntact}")
    simhashCrossEmitPairs(
      portableSimhashChunkKeys(existing, idCol, textCol, cutSigs = true),
      portableSimhashChunkKeys(incoming, idCol, textCol, cutSigs = true),
      32 / SimhashChunks, maxHamming, maxBucketSize)
  }

  /** SimHash near-dup: 64-bit signatures combination-banded over 8×8-bit
    * chunks (hamming ≤ 3 ⇒ some 5 chunks intact — see `SimhashChunks`),
    * verified by exact hamming distance. Bucket keys are 40-bit integers
    * (five 8-bit chunks packed by combo position), so key space scales to
    * 10¹²-doc corpora. Output: (id_a, id_b, hamming). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming <= SimhashChunks - SimhashIntact,
      s"$SimhashChunks chunks with $SimhashIntact intact only guarantee hamming <= ${SimhashChunks - SimhashIntact}")
    val sigs = df.select(
      col(idCol),
      graft.functions.SimHash64.column(tokens(col(textCol))).as("__sim"))
    val chunkBits = 64 / SimhashChunks
    // combo key = the 5 chunk values packed into one 40-bit long via the
    // shared simhashComboKeys builder (round 14; integer keys shuffle
    // cheaper than strings — the SQL mirror spells it with a range lambda)
    val chunks = simhashComboKeys(sigs, chunkBits)
    // single-pass bucketing (cf. bucketPairs / portableSimhashPairs):
    // ONE shuffle of (combo, key, id, sim) and in-bucket pairs by double
    // explode — the previous two-sided join recomputed the tokenize +
    // SimHash64 subtree once per side (the twin measured that shape ~2×
    // slower at sf0.1)
    // degenerate-bucket guard (cf. DefaultMaxBucketSize)
    simhashEmitPairs(chunks, chunkBits, maxHamming, maxBucketSize)
  }
}
