package graft.operators

import graft.functions.IntDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings.embedding`: array<float>[64] — FIXTURES.md), the
  * similarity-search tier of the build brief.
  *
  * One scorer: vectors are quantized to BIGINT components
  * (`quantize`, floor(x·10^4)) and scored by the integer dot product
  * (`graft.functions.IntDot`), so every score is exact and any IEEE
  * engine replays it bit-for-bit. Search paths:
  *   - `bruteForceTopKInt` — exact top-k per query. The join is a
  *     broadcast of the (small) query set against the corpus, so the corpus
  *     is scanned once with no shuffle of vectors; ranking shuffles only
  *     (query_id, vec_id, score). Correctness baseline + the right answer
  *     whenever |queries| is small.
  *   - `lshTopKInt` — sign-random-projection LSH (Charikar hyperplane LSH)
  *     over ±1 integer hyperplanes: `numTables` tables of `bitsPerTable`
  *     seeded planes; a vector's bucket in a table is the integer of its
  *     dot-product signs. Candidates = bucket collisions in ANY table
  *     (plus query-side probes); the exact integer dot re-ranks. At 100 TB
  *     the bucket join replaces the cartesian product — shuffle is linear
  *     in corpus size × numTables.
  *   - `ivfTopKInt` — inverted-file search over a lowest-id centroid set.
  *
  * Hyperplanes are generated driver-side from a fixed seed; signatures are
  * one native expression (graft.functions.PortableBuckets) — no UDF, no
  * extra shuffle, deterministic across runs and engines.
  */
object Similarity {

  /** Embedding width (`embeddings.embedding`, FIXTURES.md): the length of
    * every hyperplane and the `range(1, EmbedDim + 1)` dot the DuckDB
    * replay texts spell. */
  val EmbedDim = 64

  /** `quantize`'s fixed-point scale: floor(x · QuantScale) per component.
    * SparkEntry.quantEmbCte interpolates it into the replay texts. */
  val QuantScale = 10000

  /** Seed of the ±1 LSH hyperplanes; the replay texts build their
    * VALUES table from `portableHyperplanes(EmbedDim, …, PlaneSeed)`. */
  val PlaneSeed = 11L

  /** The pair family's base operating point (6 bits × 8 tables — q84's
    * design point) and the sign-agreement probability of its threshold
    * (cosine 0.25): 1 − arccos(0.25)/π ≈ 0.580 — the inputs of the
    * recall-preserving table rules below. */
  private val PairBaseBits = 6
  private val PairBaseTables = 8
  private val ThresholdPBit: Double = 1.0 - math.acos(0.25) / math.Pi

  /** Sizing rule for hyperplane-LSH signature width: with n corpus
    * vectors and b bits per table, expected bucket occupancy is n/2^b, so
    * b ≈ log₂(n / targetOccupancy). Occupancy is the knob that matters:
    * candidate generation is quadratic per bucket (and verification cost
    * linear in candidates), so bits must GROW with log₂(n) — a fixed b
    * that is right at 10⁶ vectors is 2¹⁰× over-occupied at 10⁹. Targets
    * used by the defaults here: ~32 for near-dup pair generation
    * (recall-leaning — exact verification prunes false candidates) and
    * ~8 for top-k search (per-query candidate cost). The oracle twins pin
    * bits (q84: 6 ≈ recommendedBits(2000, 32)) because the DuckDB replay
    * interpolates the same constants; production callers should derive
    * from a corpus count. Clamped to [4, 24]: below 4 bits buckets are
    * meaningless, above 24 empty-bucket overhead dominates and more
    * tables (not more bits) buy recall. */
  def recommendedBits(corpusSize: Long, targetOccupancy: Long = 32): Int = {
    require(corpusSize > 0 && targetOccupancy > 0)
    val raw = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.max(4, math.min(24, raw))
  }

  /** Recall-preserving table count to pair with `recommendedBits` (round
    * 12): widening buckets by Δ bits multiplies the per-table collision
    * probability of a threshold pair by pBit^Δ, so holding RECALL
    * constant needs the table count to grow by (1/pBit)^Δ — the
    * classical LSH n^(1+ρ) trade (Indyk–Motwani 1998; Gionis et al.
    * 1999): occupancy-only sizing silently converts scale into recall
    * loss (measured at 10×: pair recall 0.298 → 0.043 with tables
    * pinned at 8 — BASELINE.md round 12), while bits+tables sizing
    * holds the threshold collision probability 1−(1−pBit^bits)^L fixed
    * by construction, with pBit = `ThresholdPBit` and the base point
    * `PairBaseBits` × `PairBaseTables`. Floor at the base table count
    * (never fewer than the base operating point); cap at 128 — past
    * that, per-table work is cheap but the banding fan-out constant
    * matters, and a corpus needing >128 tables
    * (bits ≈ 17, n ≈ 4M per partition-group) should shard the corpus
    * before the LSH instead. */
  def recommendedTables(bits: Int): Int = {
    require(bits >= 1)
    // minimal L with 1−(1−pBit^bits)^L ≥ the base point's collision
    // probability — exact by construction (a multiplicative
    // (1/pBit)^Δ scale-up undershoots by the ceil discretization);
    // the 1e-9 slack absorbs float error at bits == baseBits, where
    // the quotient is 8.000000x and must ceil to 8, not 9
    val baseCollide = 1.0 - math.pow(1.0 - math.pow(ThresholdPBit, PairBaseBits.toDouble),
      PairBaseTables.toDouble)
    val l = math.ceil(
      math.log1p(-baseCollide) / math.log1p(-math.pow(ThresholdPBit, bits.toDouble)) - 1e-9).toInt
    math.max(PairBaseTables, math.min(128, l))
  }

  /** Recall-preserving table count under 1-bit MULTI-PROBE (round 13;
    * Lv et al. 2007 "Multi-probe LSH"): when every vector also probes
    * the `bits` buckets at Hamming distance 1 from its own signature, a
    * threshold pair collides in a table iff its signatures agree on all
    * bits OR differ in exactly one — per-table collision rises from
    * pBit^b to pBit^b + b·pBit^(b−1)·(1−pBit), an ≈(1 + b(1−p)/p)×
    * boost — so holding the SAME base collision probability as
    * `recommendedTables` needs ~that-factor fewer tables. At the
    * measured 10× operating point (bits=10) this is L=72 → L=9: an 8×
    * cut in signature work and bucket exchanges, bought with a
    * (bits+1)× probe-key fan-out on the candidate join's probe side
    * (keys only — the fan-out never carries vectors). Floor 2 (never a
    * single table — one bad table would be the whole pair stream); cap
    * 128 as in the base rule. */
  def recommendedTablesProbed(bits: Int, baseBits: Int = PairBaseBits,
                              baseTables: Int = PairBaseTables,
                              baseProbed: Boolean = false): Int = {
    require(bits >= 1 && baseTables >= 1)
    val pBit = ThresholdPBit
    def pT(b: Int): Double = math.pow(pBit, b.toDouble) +
      b * math.pow(pBit, (b - 1).toDouble) * (1.0 - pBit)
    // baseProbed: the base operating point itself ran multi-probe (the
    // search family's declared 4×4+4 — recommendedSearchPoint), so the
    // collision probability to hold is the PROBED one; the pair family's
    // base (6×8 home-only) keeps the home-only default
    val basePerTable = if (baseProbed) pT(baseBits) else math.pow(pBit, baseBits.toDouble)
    val baseCollide = 1.0 - math.pow(1.0 - basePerTable, baseTables.toDouble)
    val l = math.ceil(
      math.log1p(-baseCollide) / math.log1p(-pT(bits)) - 1e-9).toInt
    math.max(2, math.min(128, l))
  }

  /** Self-sizing operating point (tables, bits, probes) for the ANN
    * SEARCH family (q45/q220/q222) — the round-16 application of the
    * pair family's recommendedBits/recommendedTablesProbed pattern to
    * the last hardcoded point (round-15 verdict #4: a fixed 4×4+4
    * under-buckets at 100× corpus).
    *
    * bits: occupancy-driven at the SEARCH target (~8 candidates per
    * bucket — per-query candidate cost is L·(1+probes)·n/2^bits, so
    * bits must grow with log₂(n) to keep a query's verify work flat).
    * probes = bits: the full 1-flip XOR neighborhood, query-side only —
    * fan-out rides the broadcast-small query frame, never the corpus.
    * tables: minimal L holding the DECLARED r15 base point's collision
    * probability (4 tables × 4 bits + 4 probes — recall@10 0.940
    * measured at r13, RecallSpec floor 0.70) under multi-probe, i.e.
    * recommendedTablesProbed at the search base. The 128-table cap is
    * the same shard-first contract as the pair family. */
  def recommendedSearchPoint(corpusSize: Long): (Int, Int, Int) = {
    val bits = recommendedBits(corpusSize, targetOccupancy = 8)
    val tables = recommendedTablesProbed(bits, baseBits = 4, baseTables = 4,
      baseProbed = true)
    (tables, bits, bits)
  }

  /** Fixed-point quantization: floor(x · QuantScale) per component, BIGINT.
    * float→double widening is exact and floor is rounding-mode-free, so
    * Spark and any IEEE-double SQL engine derive the IDENTICAL integer
    * vector from the same parquet floats — what makes similarity scores
    * hash-comparable cross-engine (float cosine never is: summation order
    * and ulp drift differ). For unit-norm embeddings the integer dot
    * product is a monotone stand-in for cosine up to quantization error. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * QuantScale).cast("long"))

  /** Exact top-k by quantized integer dot product: broadcast query set,
    * one corpus scan, narrow rank shuffle.
    * Output: (query_id, vec_id, score BIGINT, rank). */
  def bruteForceTopKInt(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, queryIdCol: String, queryVecCol: String,
                        k: Int): DataFrame = {
    val c = corpus.select(col(idCol), quantize(col(vecCol)).as("__cq"))
    val q = queries.select(col(queryIdCol), quantize(col(queryVecCol)).as("__qq"))
    val w = Window.partitionBy(queryIdCol).orderBy(col("score").desc, col(idCol))
    c.crossJoin(broadcast(q))
      .filter(col(queryIdCol) =!= col(idCol))
      .withColumn("score", IntDot.column(col("__cq"), col("__qq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"), col("score"), col("rank"))
  }

  /** LSH-bucketed approximate top-k with PORTABLE integer scoring end to
    * end: quantized vectors, ±1 integer hyperplane buckets (sign
    * decisions exact cross-engine), query-side full-XOR multi-probe
    * (search has no second orientation — only the broadcast-small query
    * side fans out), BIGINT dot scoring, ties to the lower vec_id.
    * Recall < 1 by construction, tunable via numTables/bitsPerTable/
    * probes. Keys-only candidate plan: the corpus never shuffles; only
    * (query_id, vec_id) candidate ids do. */
  def lshTopKInt(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, queryIdCol: String, queryVecCol: String,
                 k: Int, numTables: Int = 4, bitsPerTable: Int = 4,
                 probes: Int = 4): DataFrame = {
    val (cq, cKeys) = lshAnnIndex(corpus, idCol, vecCol, numTables, bitsPerTable)
    lshTopKIntAgainstIndex(cq, cKeys, queries, queryIdCol, queryVecCol,
      k, numTables, bitsPerTable, probes)
  }

  /** The CORPUS side of the portable LSH ANN, factored as a persisted
    * index: (quantized frame (vec_id, __qv), bucket keys (vec_id, __t,
    * __bkt)). A deployment builds this once per corpus snapshot (and
    * lineage-cuts / persists it); the streaming twin (q222) serves every
    * query micro-batch against the SAME materialized frames instead of
    * re-deriving signatures per trigger. */
  def lshAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
                  numTables: Int = 4, bitsPerTable: Int = 4): (DataFrame, DataFrame) = {
    val planes = portableHyperplanes(EmbedDim, numTables, bitsPerTable, PlaneSeed)
    val cq = portableQuantized(corpus, idCol, vecCol)
      .select(col(idCol).as("vec_id"), col("__qv"))
    // capped at BUILD time (round 16 — the phashTopK posting-list
    // discipline): an over-cap bucket's keys never enter the index, so
    // no query can fan out on a degenerate cluster; its members stay
    // reachable through their other tables. Mirrored in the q220/q222
    // DuckDB texts so drops agree cross-engine when the cap fires.
    // the key subtree feeds BOTH the cap aggregate and the join probe
    // side — the q82 cut rule was A/B'd here and REJECTED on measurement
    // (round-17 ADVICE #4, RegimeProbe ann stage at the 10x fixture's
    // self-sized 128x12+12 point: 3.53 s min-of-3 re-derived vs 3.68 s
    // cut — native-PortableBuckets signatures re-derive as cheaply as
    // the 2.56M-row key materialization reads back; the one-shot wall is
    // candidate-join/rank-bound). Deployment callers persist the index
    // anyway (the scaladoc contract); re-derivation stays.
    val keys = portableBucketKeys(cq, "vec_id", planes)
    val eligible = keys.groupBy("__t", "__bkt")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= TextDedup.DefaultMaxBucketSize)
      .select("__t", "__bkt")
    (cq, keys.join(eligible, Seq("__t", "__bkt")))
  }

  /** Query-side top-k against a prebuilt [[lshAnnIndex]]: query
    * signatures + full-XOR probes (broadcast-small by contract), the
    * keys-only candidate join, integer-dot ranking. Per-query output is
    * independent of how queries are batched (the corpus side is static
    * and no cross-query state exists), so a streaming caller scoring
    * each micro-batch gets exactly the batch answer — the q222
    * streaming ≡ batch contract. */
  def lshTopKIntAgainstIndex(cq: DataFrame, cKeys: DataFrame,
                             queries: DataFrame, queryIdCol: String, queryVecCol: String,
                             k: Int, numTables: Int = 4, bitsPerTable: Int = 4,
                             probes: Int = 4): DataFrame = {
    require(probes <= bitsPerTable,
      s"probes ($probes) beyond the $bitsPerTable-bit signature flip bits no bucket key carries")
    val planes = portableHyperplanes(EmbedDim, numTables, bitsPerTable, PlaneSeed)
    val qq = queries.select(col(queryIdCol).as("query_id"),
      quantize(col(queryVecCol)).as("__qq"))
    val qHome = portableBucketKeys(
      qq.select(col("query_id"), col("__qq").as("__qv")), "query_id", planes)
    val qKeys =
      if (probes <= 0) qHome
      else qHome.select(col("query_id"), col("__t"),
        explode(array((col("__bkt") +: (0 until probes).map(j =>
          col("__bkt").bitwiseXOR(lit(1L << j)))): _*)).as("__bkt"))
    val candidates = cKeys.join(broadcast(qKeys), Seq("__t", "__bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    candidates
      .join(cq.select(col("vec_id"), col("__qv").as("__cv")), Seq("vec_id"))
      .join(broadcast(qq), Seq("query_id"))
      .withColumn("score", IntDot.column(col("__cv"), col("__qq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer
    * alternative to hyperplane LSH, with quantized integer scoring end to
    * end (assignment, probe, and final rank all on BIGINT dot products),
    * replicable exactly in any SQL engine. The `nlist` centroids are the
    * lowest-id vectors; every vector joins its nearest centroid's list,
    * and a query probes only its `nprobe` nearest lists. The plan is
    * nlist-independent: centroids are a broadcast frame, assignment a
    * broadcast join + max_by (ties to the lowest centroid id), never a
    * collect() into a plan literal. Recall/latency tune via nlist and
    * nprobe. */
  def ivfTopKInt(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, queryIdCol: String, queryVecCol: String,
                 k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cq = corpus.select(col(idCol).cast("long").as("vec_id"),
      quantize(col(vecCol)).as("__v"))
    val centroids = broadcast(cq.orderBy("vec_id").limit(nlist)
      .select(col("vec_id").as("__cid"), col("__v").as("__cvec")))
    val assigned = cq.crossJoin(centroids)
      .groupBy("vec_id")
      .agg(first(col("__v")).as("__v"),
        max_by(col("__cid"),
          struct(IntDot.column(col("__v"), col("__cvec")).as("s"), (-col("__cid")).as("tb"))).as("__list"))
    val pw = Window.partitionBy("query_id").orderBy(col("__s").desc, col("__cid"))
    val probed = queries.select(col(queryIdCol).cast("long").as("query_id"),
        quantize(col(queryVecCol)).as("__qv"))
      .crossJoin(centroids)
      .withColumn("__s", IntDot.column(col("__qv"), col("__cvec")))
      .withColumn("__r", row_number().over(pw))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cid").as("__list"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(probed), Seq("__list"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", IntDot.column(col("__v"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }

  /** Deterministic ±1 hyperplanes for the PORTABLE embedding LSH: with
    * quantized integer vectors, sign(dot(qv, plane)) is exact integer
    * arithmetic any engine reproduces — unlike Gaussian float hyperplanes,
    * whose dots can straddle zero differently at the last ulp.
    * |dot| ≤ 64·10^4 ≪ Long.Max. Callers pass `EmbedDim` and `PlaneSeed`,
    * as the replay texts do. */
  def portableHyperplanes(dim: Int, tables: Int, bits: Int,
                          seed: Long): Seq[Seq[Array[Long]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Array.fill(dim)(if (rng.nextBoolean()) 1L else -1L)))
  }

  /** Quantized-vector frame (id, __qv) — materialized in its own
    * projection: the bucket expressions reference __qv tables×bits times
    * (CollapseProject, cf. TextDedup.minhashSignature). */
  private[graft] def portableQuantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), quantize(col(vecCol)).as("__qv"))

  /** (table, bucket) key stream of the portable embedding-LSH bucketing —
    * the EXACT keys `portableEmbedPairs` pairs on, factored out so the
    * occupancy audit below and the pair generator can never drift.
    * Round 16: the signature is ONE native expression
    * (graft.functions.PortableBuckets — the constant plane matrix loops
    * inside compiled code) instead of tables × bits inlined
    * `when(intDot ≥ 0)` sums: the composed form's generated method
    * outgrew janino's 64 KB limit at the 100× rule point (bits 13 ×
    * tables 36), dropping the whole signature pass out of whole-stage
    * codegen exactly where it matters. Value-identical, incl. the
    * null/length-mismatch → key-0 edge (NativeExprPropSpec pins it). */
  private[graft] def portableBucketKeys(q: DataFrame, idCol: String,
                                 planes: Seq[Seq[Array[Long]]],
                                 carry: Seq[String] = Nil): DataFrame =
    q.select(col(idCol) +: carry.map(col) :+
      posexplode(graft.functions.PortableBuckets.column(col("__qv"), planes))
        .as(Seq("__t", "__bkt")): _*)

  /** Occupancy audit for the portable embedding-LSH buckets: (t, bkt, n)
    * per bucket — what DriftGuardSpec asserts margins on after the driver
    * regenerates the testdata (a clustered or bigger corpus shows up here
    * as occupancy approaching the cap — the silent recall-drop /
    * quadratic-work failure mode, cf. TextDedup.portableOversizeBuckets).
    * Aggregate-only; never collects bucket members. */
  def portableEmbedBucketSizes(corpus: DataFrame, idCol: String, vecCol: String,
                               tables: Int = 8, bits: Int = 6): DataFrame = {
    val planes = portableHyperplanes(EmbedDim, tables, bits, PlaneSeed)
    portableBucketKeys(portableQuantized(corpus, idCol, vecCol), idCol, planes)
      .groupBy(col("__t").as("t"), col("__bkt").as("bkt"))
      .agg(count(lit(1)).as("n"))
  }

  /** The DIRECTIONAL 1-bit-flip probe key stream: each (t, bkt, id)
    * home key fans out to its own bucket plus the buckets obtained by
    * flipping each UNSET bit among the first `probes` signature bits to
    * 1 (probes = bits ⇒ the full directional 1-flip neighborhood of Lv
    * et al. 2007). Directionality (0→1 only) means a Hamming-1 pair is
    * probed by exactly ONE member — the one holding 0 on the differing
    * bit — instead of both, halving the candidate stream the verifier
    * pays for at identical Hamming-≤1 coverage; a Hamming-0 pair pairs
    * through the shared home bucket as before. Cap consequence
    * (mirrored in the DuckDB texts): a ham-1 pair survives iff the
    * 1-side member's home bucket is under the cap; a ham-0 pair iff
    * the shared bucket is. Keys only — ≈(probes/2 + 1)× key rows,
    * never a vector. */
  private def probedBucketKeys(keys: DataFrame, idCol: String,
                               probes: Int): DataFrame = {
    val flips = (0 until probes).map { j =>
      when(col("__bkt").bitwiseAND(lit(1L << j)) === 0L,
        col("__bkt").bitwiseOR(lit(1L << j)))
    }
    keys.select(col(idCol), col("__t"),
      explode(filter(array((col("__bkt") +: flips): _*), x => x.isNotNull))
        .as("__bkt"))
  }

  // Round 15: the fused IntDotLookup verify broadcasts the frame ONCE
  // where the former two-join shape shipped it TWICE, so the SAME
  // measured r13 memory envelope (2 × 100k rows × 64 dims × 8 B ≈
  // 106 MB peak) now admits 200k rows — the bound doubles with zero new
  // memory exposure (receipt: ProfileQ84 at 100×, BASELINE.md).
  // The budget is BYTES of packed vector payload, representation-
  // independent; the per-row cost is what the representation sets.
  val BroadcastVerifyBudgetBytes = 200000L * 64 * 8

  /** Row bound of the monolithic runners' broadcast verify map, DERIVED
    * from the vector dimension (round-14 verdict #5: the former flat
    * 100000L silently encoded dim=64 — at dim=512 the same row count is
    * 8× the broadcast payload). rows ≈ budget / (dim × 4 bytes per
    * PACKED component): round 17 (verdict #5) stores the verify maps as
    * Array[Int] — ±10⁴-scaled components are lossless in 4 B
    * (`IntDotLookup.pack` guards it) — so the SAME measured byte
    * envelope admits 2× the rows of the r15 Array[Long]
    * representation: 400k at dim 64 (RegimeProbe re-measured, see
    * BASELINE.md round 17). Past it [[portableEmbedPairs]] and
    * [[portableCrossEmbedPairs]] throw; the sharded runners take any
    * size. */
  def broadcastVerifyMaxRows(dim: Int): Long = {
    require(dim > 0, s"dim must be positive, got $dim")
    BroadcastVerifyBudgetBytes / (dim * 4L)
  }

  /** RAW (with multiplicity) multi-probe candidate pairs of a
    * (id, __t, __bkt) key stream — directional probe keys joined to the
    * capped home buckets; `fusedVerify`'s survivor distinct removes the
    * duplicates (dedup commutes with exact verification). Shared by
    * [[portableEmbedPairs]] and [[shardedJobs]].
    *
    * MULTI-PROBE (round 13, Lv et al. 2007): a pair collides in a table
    * iff its signatures differ in ≤ 1 bit — each doc's probe keys (home
    * + DIRECTIONAL 0→1 flips, probedBucketKeys) join the capped HOME
    * buckets, so the same threshold recall needs ~(1 + bits(1−p)/p)×
    * fewer tables (recommendedTablesProbed) while each ham-1 pair costs
    * the verifier exactly ONE candidate row (probed by its 0-bit member
    * alone). Home lists of size 1 stay eligible: a singleton bucket can
    * still receive probes from neighbors. At probes = 0 the probe keys
    * are the home keys, so every within-bucket pair arrives twice (once
    * from each member). */
  private[graft] def probedRawPairs(keys: DataFrame, idCol: String,
                             probes: Int): DataFrame = {
    val home = keys
      .groupBy("__t", "__bkt")
      .agg(collect_list(col(idCol)).as("__ids"))
      .filter(size(col("__ids")) <= TextDedup.DefaultMaxBucketSize)
    // the capped home lists carry ≤ n×L ids total (metadata-sized by the
    // verify bound) — forcing the broadcast keeps the candidate join
    // map-side at data sizes where AQE's post-aggregate size estimate
    // would fall back to a shuffle join (measured at 10×: the probe
    // stream then flows through ONE codegen stage from probe-key explode
    // to verified score)
    probedBucketKeys(keys, idCol, probes)
      .join(broadcast(home), Seq("__t", "__bkt"))
      .select(col(idCol).as("__pid"), explode(col("__ids")).as("__hid"))
      .filter(col("__pid") =!= col("__hid"))
      .select(least(col("__pid"), col("__hid")).as("id_a"),
        greatest(col("__pid"), col("__hid")).as("id_b"))
  }

  /** Driver-side packed verify map over one or more (id, __qv) frames —
    * toLocalIterator build (the driver holds the HashMap plus ONE
    * partition of rows at a time, never a collect()'d Array[Row] copy)
    * into the Array[Int] representation (`IntDotLookup.pack`). Past
    * `maxRows` rows it throws, naming `sharded` as the runner to use;
    * rows are counted as the map fills, so the bound costs no Spark
    * job. An id seen twice throws: one map holds every side's vectors,
    * so a repeat would silently score against the wrong vector. */
  private[graft] def packedVerifyMap(frames: Seq[DataFrame], maxRows: Long = Long.MaxValue,
      sharded: String = ""): java.util.HashMap[java.lang.Long, Array[Int]] = {
    val m = new java.util.HashMap[java.lang.Long, Array[Int]]()
    var rows = 0L
    frames.foreach(_.toLocalIterator().forEachRemaining { r =>
      rows += 1
      require(rows <= maxRows, s"more than $maxRows vector rows: past " +
        s"broadcastVerifyMaxRows the verify map outgrows its broadcast budget — use $sharded")
      require(m.put(r.getLong(0), graft.functions.IntDotLookup.pack(r.getSeq[Long](1))) == null,
        s"id ${r.getLong(0)} appears twice in the verify map's frames")
    })
    m
  }

  /** Fused broadcast-lookup verification of a raw (id_a, id_b) candidate
    * stream: two hash lookups + the integer dot per candidate inside
    * whole-stage codegen, threshold filter, survivor-set distinct (dedup
    * commutes with exact verification). */
  private[graft] def fusedVerify(cands: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]],
      minScore: Long): DataFrame =
    cands
      .select(col("id_a"), col("id_b"),
        graft.functions.IntDotLookup.column(col("id_a"), col("id_b"), bc).as("score"))
      .filter(col("score") >= minScore)
      .distinct()

  /** The monolithic runners' verify: ONE tracked broadcast of the packed
    * map over `frames`, bounded by `broadcastVerifyMaxRows(dim)` (past
    * it the caller is pointed at `sharded`), then [[fusedVerify]] of
    * `cands` — taken by name and built AFTER the map, so an oversize
    * input fails before any candidate work. The driver holds the
    * HashMap plus ONE partition of rows at a time (round-16 heap receipt
    * in BASELINE.md); the broadcast's serialized copy is the one
    * unavoidable transient double. TRACKED: serial harnesses destroy it
    * between entries (Broadcasts.destroyAll), so finished entries don't
    * pin ~100 MB maps for the session. The handle is baked into the
    * expression instance (IntDotLookup.column) — no session-global
    * registry. */
  private def broadcastVerify(frames: Seq[DataFrame], dim: Int, sharded: String,
                              minScore: Long)(cands: => DataFrame): DataFrame = {
    val m = packedVerifyMap(frames, broadcastVerifyMaxRows(dim), sharded)
    val bc = Broadcasts.track(frames.head.sparkSession.sparkContext.broadcast(m))
    fusedVerify(cands, bc, minScore)
  }

  /** Embedding near-dup pairs: integer-quantized vectors, ±1 integer
    * hyperplane buckets, integer-dot verification — exact integers end to
    * end, so the pair set hash-checks cross-engine. One keys-only
    * exchange (the home-bucket groupBy), the directional multi-probe
    * stream (home keys alone at `probes` = 0) joined map-side to the
    * capped home lists, and [[broadcastVerify]]. Up to
    * `broadcastVerifyMaxRows(dim)` vectors; past it this throws — run
    * [[shardedEmbedPairs]]. `minScore` is the quantized-dot threshold
    * (≈ cosine·10^8 for unit-norm inputs).
    * Output: (id_a, id_b, score BIGINT), id_a < id_b. */
  def portableEmbedPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         minScore: Long, tables: Int = 8, bits: Int = 6,
                         dim: Int = EmbedDim, probes: Int = 0): DataFrame = {
    require(probes <= bits,
      s"probes ($probes) beyond the $bits-bit signature flip bits no bucket key carries")
    val planes = portableHyperplanes(dim, tables, bits, PlaneSeed)
    val q = portableQuantized(corpus, idCol, vecCol)
    broadcastVerify(Seq(q), dim, "shardedEmbedPairs", minScore) {
      // Bucketing fans out KEYS ONLY — compact (t, bkt, id) triples,
      // never the vectors: carrying __qv here duplicates every vector
      // tables× through the corpus-wide bucket exchange (the shape class
      // portablePairStats was cured of in round 6). Bucket-size cap:
      // degenerate-bucket guard (cf. TextDedup.DefaultMaxBucketSize),
      // mirrored into the q84/q97 DuckDB text. The signature subtree
      // feeds both the home buckets and the probe stream — cut once
      // (the q82 lineage rule; measured 18.1 → 14.5 s at 10× —
      // BASELINE.md round 14).
      val keys = Checkpoints.cut(portableBucketKeys(q, idCol, planes), eager = true)
      probedRawPairs(keys, idCol, probes)
    }
  }

  /** Incremental embedding near-dup: candidate pairs between an EXISTING
    * vector corpus and an INCOMING batch — the embedding analogue of
    * `TextDedup.portableCrossPairStats` (same daily-crawl shape): both
    * sides bucketed with the SAME hyperplanes, combined per-key
    * occupancy capped, keys-only candidate joins, and ONE bounded
    * broadcast of both sides' vectors verifying the raw candidates
    * ([[broadcastVerify]]). Up to `broadcastVerifyMaxRows(dim)` vectors
    * on both sides together; past it this throws — run
    * [[shardedCrossEmbedPairs]]. An id on both sides throws.
    * Pair set equals `portableEmbedPairs` on the concatenated corpus
    * restricted to cross pairs (the q125 oracle).
    * Output: (id_a ∈ existing, id_b ∈ incoming, score BIGINT). */
  def portableCrossEmbedPairs(existing: DataFrame, incoming: DataFrame,
                              idCol: String, vecCol: String,
                              minScore: Long, tables: Int = 8, bits: Int = 6,
                              dim: Int = EmbedDim, probes: Int = 0): DataFrame = {
    val planes = portableHyperplanes(dim, tables, bits, PlaneSeed)
    val qOld = portableQuantized(existing, idCol, vecCol)
    val qNew = portableQuantized(incoming, idCol, vecCol)
    broadcastVerify(Seq(qOld, qNew), dim, "shardedCrossEmbedPairs", minScore) {
      // Cut each side's bucket-key stream once (r17 optimization round —
      // the q82 N-references rule): crossCandidatesRaw references each
      // side 3× (occupancy + home + probe stream), and every reference
      // otherwise re-runs the tables×-dot signature pass.
      val bOld = Checkpoints.cut(portableBucketKeys(qOld, idCol, planes), eager = false)
      val bNew = Checkpoints.cut(portableBucketKeys(qNew, idCol, planes), eager = false)
      crossCandidatesRaw(bOld, bNew, idCol, probes)
    }
  }

  /** RAW cross-side candidate pairs of two bucketed key streams — the
    * (existing → id_a, incoming → id_b) generator shared by
    * [[portableCrossEmbedPairs]] and [[shardedJobs]]' cross jobs.
    * Keys-only. Pair-set-equal BY CONSTRUCTION to the probed symmetric
    * pipeline on the concatenated corpus restricted to cross pairs (the
    * q125 oracle identity): the cap is the COMBINED home-bucket
    * occupancy (= the symmetric pipeline's home-bucket size), and with
    * DIRECTIONAL probing a ham-1 cross pair is found by exactly one
    * orientation (its 0-bit member probing the 1-side's home) — the two
    * probe-into-home joins are unioned so both orientations are
    * available, whichever side holds the 0 bit. At `probes` = 0 both
    * joins emit every same-bucket pair, so each arrives twice. */
  private[graft] def crossCandidatesRaw(bOld: DataFrame, bNew: DataFrame,
      idCol: String, probes: Int): DataFrame = {
    val occ = bOld.select("__t", "__bkt").unionAll(bNew.select("__t", "__bkt"))
      .groupBy("__t", "__bkt").agg(count(lit(1)).as("__n"))
    val okOld = bOld.join(occ.filter(col("__n") <= TextDedup.DefaultMaxBucketSize), Seq("__t", "__bkt"))
      .select(col("__t"), col("__bkt"), col(idCol).as("id_a"))
    val okNew = bNew.join(occ.filter(col("__n") <= TextDedup.DefaultMaxBucketSize), Seq("__t", "__bkt"))
      .select(col("__t"), col("__bkt"), col(idCol).as("id_b"))
    val prOld = probedBucketKeys(bOld, idCol, probes)
      .select(col("__t"), col("__bkt"), col(idCol).as("id_a"))
    val prNew = probedBucketKeys(bNew, idCol, probes)
      .select(col("__t"), col("__bkt"), col(idCol).as("id_b"))
    prNew.join(okOld, Seq("__t", "__bkt")).select("id_a", "id_b")
      .unionAll(prOld.join(okNew, Seq("__t", "__bkt")).select("id_a", "id_b"))
  }

  /** SHARD-FIRST portable embedding near-dup — the past-bound path
    * (round 16 verdict #3; persisted signature tables since round 17):
    * past `broadcastVerifyMaxRows` [[portableEmbedPairs]] throws — its
    * one verify map would outgrow the broadcast budget, and the
    * distinct-first shuffle plan that once ran there paid one global
    * exchange of the ~n^1.79 raw candidate stream (1.85B raw rows at
    * 200k vectors, where it failed — BASELINE.md round 16). This
    * operator decomposes the SAME pair set into bounded-memory
    * broadcast-verify jobs over S = ⌈n/shardRows⌉ hash-shards
    * (deterministic xxhash64 of the id): every shard pairs with itself
    * and with each later shard, so a pair (a, b) lands in EXACTLY the
    * (shard(a), shard(b)) job — coverage is exact and no global
    * candidate exchange or global distinct ever forms. Job loop and cost
    * shape: [[shardedJobs]].
    *
    * Cap semantics (the one delta vs the monolithic operator,
    * documented honestly): the bucket-size cap fires on PER-JOB
    * occupancy, so a bucket globally over cap can stay under it inside
    * every job — the sharded form then emits EXTRA exact-verified true
    * pairs the monolithic cap dropped. Recall is one-sided UP; on
    * corpora whose occupancy sits under the cap (DriftGuard pins the
    * gate fixtures there) the pair set is IDENTICAL — ShardedPairsSpec
    * asserts exact set equality at the default S=1 and a forced S=3.
    *
    * `shardRows` defaults to half the broadcast bound, so a cross-shard
    * job's map (two shards) fits the monolithic runner's broadcast
    * budget; a corpus under it runs ONE within-shard job. EAGER: jobs
    * run at call time. Output: (id_a, id_b, score BIGINT), id_a < id_b. */
  def shardedEmbedPairs(corpus: DataFrame, idCol: String, vecCol: String,
      minScore: Long, tables: Int = 8, bits: Int = 6,
      probes: Int = 0, shardRows: Long = -1L, workDir: String): DataFrame =
    shardedJobs(corpus, None, idCol, vecCol, minScore, tables, bits,
      probes, shardRows, -1L, workDir)

  /** Sharded INCREMENTAL near-dup — the daily-crawl twin of
    * [[shardedEmbedPairs]] (round 17): an incoming batch deduped against
    * an existing corpus where EITHER side exceeds the per-job broadcast
    * envelope. Sₑ = ⌈nₑ/shardRowsExisting⌉ existing shards × Sᵢ =
    * ⌈nᵢ/shardRowsIncoming⌉ incoming shards, every (i, j) a CROSS job:
    * a pair (a ∈ existing, b ∈ incoming) lands in EXACTLY the
    * (shard(a), shard(b)) job, so coverage is exact; no within-side
    * pairs are ever generated (the q125 contract), and no global
    * candidate exchange or global distinct forms.
    *
    * Cap semantics (same one-sided delta as [[shardedEmbedPairs]]): the
    * combined-occupancy cap fires on PER-JOB occupancy (one existing
    * shard + one incoming shard), so a key over the monolithic combined
    * cap can stay under it inside a job — the sharded form then emits
    * EXTRA exact-verified true pairs. On corpora whose occupancy sits
    * under the cap (DriftGuard pins the gate fixtures' full-corpus
    * occupancy there, which upper-bounds every job's) the pair set is
    * IDENTICAL to [[portableCrossEmbedPairs]] — ShardedPairsSpec pins
    * exact set equality at Sₑ = Sᵢ = 2 and Sₑ = 3 × Sᵢ = 1.
    *
    * The per-side bounds are separate because a deployment legitimately
    * runs a huge-corpus × small-batch asymmetry (Sₑ large, Sᵢ = 1); both
    * default to `broadcastVerifyMaxRows(dim) / 2` so any job's combined
    * map fits the monolithic runners' broadcast budget. EAGER: jobs run
    * at call time. Output: (id_a ∈ existing, id_b ∈ incoming, score
    * BIGINT) — directional, like [[portableCrossEmbedPairs]]. */
  def shardedCrossEmbedPairs(existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, minScore: Long,
      tables: Int = 8, bits: Int = 6,
      probes: Int = 0, shardRowsExisting: Long = -1L,
      shardRowsIncoming: Long = -1L, workDir: String): DataFrame =
    shardedJobs(existing, Some(incoming), idCol, vecCol, minScore, tables,
      bits, probes, shardRowsExisting, shardRowsIncoming, workDir)

  /** The one job loop of the sharded runners — symmetric over side `a`
    * alone (`b` empty: jobs i ≤ j) or cross from `a` to `b` (every
    * (i, j)). Each side's quantized vectors and bucket keys are
    * materialized ONCE as shard-partitioned parquet under `workDir`
    * (S = ⌈n/shardRows⌉ id-hash shards, default bound half the broadcast
    * bound), then the jobs run SEQUENTIALLY: each reads back exactly its
    * shards (partition-pruned scans), builds its packed verify map,
    * fused-verifies its raw candidates, writes its pair slice to
    * `workDir/pairs/job=i_j` and destroys its broadcast before the next
    * job starts. The cost shape that buys:
    *   - signatures are computed ONCE (the materialize pass), not per job;
    *   - the driver holds ONE job's map (≤ 2 shards) at a time;
    *   - the plan tree is O(1) in the job count: each job is an
    *     independent small plan, and the returned frame is a plain
    *     parquet scan of `workDir/pairs` — LAZY, so the directory must
    *     outlive the frame.
    * On a cluster the jobs are embarrassingly parallel from the same
    * tables; sequential here bounds ONE JVM's memory. */
  private def shardedJobs(a: DataFrame, b: Option[DataFrame],
      idCol: String, vecCol: String, minScore: Long, tables: Int, bits: Int,
      probes: Int, shardRowsA: Long, shardRowsB: Long, workDir: String): DataFrame = {
    val spark = a.sparkSession
    val planes = portableHyperplanes(EmbedDim, tables, bits, PlaneSeed)
    // materialize pass: ONE quantize+signature scan per side, both
    // tables partitioned by the side's deterministic id-hash shard so
    // every job's read prunes to its own files
    def materialize(side: DataFrame, shardRows: Long, tag: String) = {
      val bound = if (shardRows > 0) shardRows else broadcastVerifyMaxRows(EmbedDim) / 2
      val s = math.max(1, math.ceil(side.count().toDouble / bound).toInt)
      val quantPath = s"$workDir/quantized_$tag"
      val keysPath = s"$workDir/keys_$tag"
      portableQuantized(side, idCol, vecCol)
        .withColumn("__shard", pmod(xxhash64(col(idCol)), lit(s.toLong)))
        .write.mode("overwrite").partitionBy("__shard").parquet(quantPath)
      val qt = spark.read.parquet(quantPath)
      portableBucketKeys(qt, idCol, planes, carry = Seq("__shard"))
        .write.mode("overwrite").partitionBy("__shard").parquet(keysPath)
      val kt = spark.read.parquet(keysPath)
      (s, (i: Int) => qt.filter(col("__shard") === i).select(col(idCol), col("__qv")),
        (i: Int) => kt.filter(col("__shard") === i).select(col(idCol), col("__t"), col("__bkt")))
    }
    val symmetric = b.isEmpty
    val (sA, qA, kA) = materialize(a, shardRowsA, "a")
    val (sB, qB, kB) = b.fold((sA, qA, kA))(materialize(_, shardRowsB, "b"))
    for (i <- 0 until sA; j <- (if (symmetric) i else 0) until sB) {
      val within = symmetric && i == j
      val cands =
        if (within) probedRawPairs(kA(i), idCol, probes)
        else crossCandidatesRaw(kA(i), kB(j), idCol, probes)
      // UNTRACKED broadcast, destroyed per job — Broadcasts.track is for
      // handles that must outlive the call (a harness frees them between
      // entries); here the job's write is the last reference. UNBOUNDED:
      // shards are sized at half the bound, and id-hash skew can push a
      // two-shard map slightly past it
      val bc = spark.sparkContext.broadcast(
        packedVerifyMap(if (within) Seq(qA(i)) else Seq(qA(i), qB(j))))
      val verified = fusedVerify(cands, bc, minScore)
      // a symmetric cross-shard job orients (id_a ∈ shard i, id_b ∈
      // shard j) — put it into the symmetric id-order contract
      val slice =
        if (symmetric && !within)
          verified.select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"), col("score"))
        else verified
      slice.write.mode("overwrite").parquet(s"$workDir/pairs/job=${i}_$j")
      bc.destroy()
    }
    // partition discovery adds the job column — drop it from the contract
    spark.read.parquet(s"$workDir/pairs").select("id_a", "id_b", "score")
  }

  /** (vec_id, __v) quantized frame — the shared entry point of the
    * semantic-cluster family. Cheap cast pass; re-derive per reference
    * rather than cutting (CLAUDE.md). */
  private[graft] def semQuantized(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("vec_id"),
      quantize(col(vecCol)).as("__v"))

  /** The `nlist` lowest-id vectors as a broadcast centroid frame
    * (__cid, __cvec) — the deterministic seed set any engine reproduces. */
  def semCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): DataFrame =
    broadcast(semQuantized(corpus, idCol, vecCol).orderBy("vec_id").limit(nlist)
      .select(col("vec_id").as("__cid"), col("__v").as("__cvec")))

  /** Greedy k-center (Gonzalez 1985) farthest-point seeding over
    * quantized integer dots — the deterministic seeding ALTERNATIVE the
    * round-17 verdict asked to be measured against the lowest-id
    * convention. MEASURED RESULT (BASELINE.md round 17, DedupQuality
    * receipt): it does NOT lift SemDeDup same-cluster visibility on the
    * gate fixtures — visibility is set by the cell count k and the
    * truth pairs' geometry (mean pair cosine ≈ 0.29 at the q84
    * threshold, i.e. ~73° apart; the fixtures hold ZERO pairs at cosine
    * ≥ 0.7), not by centroid placement: lowest-id, farthest-point,
    * Lloyd-refined, the max of 1000 random draws, and a truth-
    * supervised hill-climb all land below 0.30. The declared
    * hash-checked path therefore KEEPS lowest-id seeds (q186-family
    * texts unchanged); this operator stays as the measured-no-better
    * alternative and the receipt generator's dependency — the
    * CC-contraction negative-receipt pattern (ProfileQ97).
    *
    * Scale shape: nlist−1 rounds, each ONE map-only corpus scan against
    * a broadcast ≤ nlist×dim literal matrix (the ArgmaxIntDot native —
    * its `s` field IS the max dot to the chosen set) plus a 1-row
    * driver action; SemDeDup runs with k ≪ n by contract, and the
    * sequential rounds are inherent to greedy k-center. Seed 1 =
    * MIN(id); each round adds the vector MINIMIZING its max dot to the
    * chosen set, ties to the lowest id. Returns the
    * `collectCentroids` shape `semAssignExpr` consumes. */
  def semCentroidsFarthest(corpus: DataFrame, idCol: String, vecCol: String,
                           nlist: Int): Seq[(Long, Seq[Long])] = {
    val q = semQuantized(corpus, idCol, vecCol)
    val seeds = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    q.orderBy("vec_id").limit(1).collect()
      .foreach(r => seeds += ((r.getLong(0), r.getSeq[Long](1))))
    while (seeds.nonEmpty && seeds.size < nlist) {
      val next = q
        .filter(!col("vec_id").isin(seeds.map(_._1).toSeq: _*))
        .select(col("vec_id"), col("__v"),
          semAssignExpr(col("__v"), seeds.toSeq).getField("s").as("__md"))
        .orderBy(col("__md").asc, col("vec_id").asc)
        .limit(1).collect()
      if (next.isEmpty) return seeds.toSeq // n < nlist: all vectors are seeds
      next.foreach(r => seeds += ((r.getLong(0), r.getSeq[Long](1))))
    }
    seeds.toSeq
  }

  /** Integer-dot argmax assignment of a quantized frame to a centroid
    * frame. Score materialized ONCE as a column (CLAUDE.md: never inline
    * an expensive subexpression into N branches), then argmax by
    * (s desc, cid asc) via max_by on a (s, -cid) ordering struct. */
  private def semAssignTo(q: DataFrame, centroids: DataFrame): DataFrame =
    q.crossJoin(centroids)
      .select(col("vec_id"), col("__cid"),
        IntDot.column(col("__v"), col("__cvec")).as("s"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("__cid"), col("s")),
        struct(col("s"), (-col("__cid")).as("tb"))).as("__a"))
      .select(col("vec_id"), col("__a.__cid").as("cid"), col("__a.s").as("s"))

  /** Deterministic semantic clustering for the SemDeDup family (q186/
    * q187): assign every vector to its nearest of `nlist` centroids,
    * where the centroids are the `nlist` LOWEST-ID vectors (the
    * `ivfTopKInt` convention) and "nearest" is the exact integer-dot
    * argmax over ×10⁴-quantized vectors — so any engine replays the
    * IDENTICAL partition of the corpus (a float k-means would be both
    * seed- and ulp-divergent cross-engine). Ties break to the lowest
    * centroid id.
    *
    * Scale shape: centroids are one broadcast (corpus-size-sublinear by
    * contract — SemDeDup runs with k ≪ n; at k beyond broadcast range
    * assignment goes through the IVF probe machinery instead), the
    * corpus scans ONCE, and the argmax is a map-side max_by — no shuffle
    * wider than (vec_id, cid, s). Output: (vec_id, cid, s BIGINT).
    */
  def semAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nlist: Int): DataFrame =
    semAssignTo(semQuantized(corpus, idCol, vecCol),
      semCentroids(corpus, idCol, vecCol, nlist))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space, then search for semantic duplicates ONLY within
    * clusters — the clustering replaces LSH banding as the candidate
    * generator, turning the all-pairs O(n²) into Σ per-cluster m² with
    * m bounded by `maxClusterSize` (the `DefaultMaxBucketSize`
    * discipline: a degenerate cluster is skipped, never exploded —
    * mirrored into the q186 DuckDB text). Within a cluster, pairs with
    * quantized dot ≥ `minScore` are duplicates and the HIGHER id of each
    * pair is dropped (greedy keep-lowest — deterministic, the
    * `dedupNear` convention).
    *
    * Same keys-only exchange as `portableEmbedPairs`: only (cid, vec_id)
    * rides the cluster shuffle, ids pair by double explode, vectors join
    * back for candidate pairs alone. Output: one row per cluster —
    * (cid, n_members, n_pairs, n_dropped), all BIGINT. */
  def semDedupStats(corpus: DataFrame, idCol: String, vecCol: String,
                    minScore: Long, nlist: Int,
                    maxClusterSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val q = corpus.select(col(idCol).cast("long").as("vec_id"),
      quantize(col(vecCol)).as("__v"))
    // the assignment subtree (n × nlist dot products) feeds BOTH the
    // cluster sizes and the pair generator — cut its lineage once
    // (CLAUDE.md discipline: a frame referenced N times recomputes its
    // subtree N times per action)
    val asg = Checkpoints.cut(
      semAssign(corpus, idCol, vecCol, nlist).select("vec_id", "cid"),
      eager = false)
    val csz = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
    val pairs = asg
      .groupBy("cid")
      .agg(collect_list(col("vec_id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxClusterSize))
      .select(col("cid"), explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("cid"), col("id_a"), explode(col("__ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
    val verified = pairs
      .join(q.select(col("vec_id").as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(q.select(col("vec_id").as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .filter(IntDot.column(col("__va"), col("__vb")) >= minScore)
      .select("cid", "id_a", "id_b")
    val st = verified.groupBy("cid")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("id_b")).as("n_dropped"))
    csz.join(st, Seq("cid"), "left")
      .select(col("cid"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Prototype pruning (Sorscher et al. 2022 "Beyond neural scaling
    * laws"; the D4 recipe of Tirumala et al. 2023 runs it after
    * SemDeDup): within each semantic cluster, the examples CLOSEST to
    * the centroid are the most prototypical — and on large corpora the
    * most redundant — so the top `dropBp`/10⁴ fraction of each cluster
    * by centroid affinity is pruned. Rank = integer-dot to the assigned
    * centroid, descending, vec_id tie-break — exact cross-engine.
    *
    * The per-cluster window partitions by cid (parallel across
    * clusters, never a global sort); the rank-vs-quota join is
    * cluster-sizes (broadcast-sized) back onto the ranked frame.
    * Output: the DROPPED manifest (cid, vec_id, proto_rank,
    * proto_score) — what a curation run logs before deleting. */
  def semPrototypeDrops(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, dropBp: Int): DataFrame = {
    val asg = Checkpoints.cut(
      semAssign(corpus, idCol, vecCol, nlist), eager = false)
    val csz = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
    val w = Window.partitionBy("cid").orderBy(col("s").desc, col("vec_id"))
    asg.withColumn("proto_rank", row_number().over(w))
      .join(broadcast(csz), Seq("cid"))
      .filter(col("proto_rank") <= expr(s"(n_members * $dropBp) DIV 10000"))
      .select(col("cid"), col("vec_id"), col("proto_rank"),
        col("s").as("proto_score"))
  }

  /** Incremental SemDeDup (the q125 shape for the cluster family): an
    * INCOMING vector batch deduped against an EXISTING corpus — centroids
    * come from the existing corpus alone (the persisted-index contract:
    * the cluster structure never moves when a batch arrives), both sides
    * assign to them, and candidate pairs are existing × incoming within a
    * cluster. The cap keys on the EXISTING-side cluster size only: that
    * bounds the fan-out PER INCOMING ROW (work stays linear in the batch
    * at any corpus scale) and — unlike a combined-occupancy cap — is
    * micro-batch-invariant, so the streaming twin equals this batch form
    * on any input split (the q126 streaming=batch contract holds by
    * construction, not by luck). Keys-only exchanges throughout; vectors
    * join back for candidate pairs alone.
    * Output: (cid, id_a ∈ existing, id_b ∈ incoming, score BIGINT). */
  def semCrossPairs(existing: DataFrame, incoming: DataFrame,
                    idCol: String, vecCol: String,
                    minScore: Long, nlist: Int,
                    maxExistingCluster: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val qE = semQuantized(existing, idCol, vecCol)
    val qI = semQuantized(incoming, idCol, vecCol)
    val centroids = semCentroids(existing, idCol, vecCol, nlist)
    val asgE = Checkpoints.cut(
      semAssignTo(qE, centroids).select("vec_id", "cid"), eager = false)
    val asgI = semAssignTo(qI, centroids).select("vec_id", "cid")
    val eligible = asgE.groupBy("cid").agg(count(lit(1)).as("__ne"))
      .filter(col("__ne") <= maxExistingCluster)
      .select("cid")
    val cands = asgE.join(eligible, Seq("cid"))
      .select(col("cid"), col("vec_id").as("id_a"))
      .join(asgI.select(col("cid"), col("vec_id").as("id_b")), Seq("cid"))
    cands
      .join(qE.select(col("vec_id").as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(qI.select(col("vec_id").as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .select(col("cid"), col("id_a"), col("id_b"),
        IntDot.column(col("__va"), col("__vb")).as("score"))
      .filter(col("score") >= minScore)
  }

  /** Static half of the STREAMING SemDeDup twin (q208): the existing
    * corpus's members keyed by their cluster, restricted to clusters
    * under the existing-side cap — exactly the (cluster → members)
    * index `semCrossPairs` pairs against, materialized once at arm
    * time so each micro-batch's per-row assignment joins it
    * stream-static (zero streaming state, the q126 discipline).
    * Output: (cid, id_a, __va) — one row per eligible existing member,
    * the quantized vector carried once (cluster-linear, never
    * pair-linear). */
  def semExistingIndex(existing: DataFrame, idCol: String, vecCol: String,
                       nlist: Int): DataFrame = {
    val qE = semQuantized(existing, idCol, vecCol)
    val asgE = semAssignTo(qE, semCentroids(existing, idCol, vecCol, nlist))
      .select("vec_id", "cid")
    val eligible = asgE.groupBy("cid").agg(count(lit(1)).as("__ne"))
      .filter(col("__ne") <= TextDedup.DefaultMaxBucketSize)
      .select("cid")
    asgE.join(eligible, Seq("cid"))
      .join(qE, Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("id_a"), col("__v").as("__va"))
  }

  /** Streaming SemDeDup (q208, the q126 zero-state pattern): each
    * incoming vector is assigned per-row to its nearest EXISTING
    * centroid via the literal-centroid expression (`semAssignExpr` — no
    * stateful aggregation, pure codegen), stream-static joined to the
    * eligible-cluster member index, and exact-verified by integer dot.
    * Equals `semCrossPairs` on the closed input (streaming ≡ batch, the
    * house identity — SemDedupSpec pins it; the q207/q208 oracle is the
    * shared q186-replay restriction). Output: (cid, id_a ∈ existing,
    * id_b ∈ incoming, score BIGINT). */
  def semStreamCrossPairs(vecStream: DataFrame, idCol: String, vecCol: String,
                          cents: Seq[(Long, Seq[Long])], existingIndex: DataFrame,
                          minScore: Long): DataFrame = {
    vecStream.select(col(idCol).cast("long").as("id_b"),
        quantize(col(vecCol)).as("__vb"))
      .withColumn("__a", semAssignExpr(col("__vb"), cents))
      .select(col("id_b"), col("__vb"), col("__a").getField("cid").as("cid"))
      .join(existingIndex, Seq("cid"))
      .select(col("cid"), col("id_a"), col("id_b"),
        IntDot.column(col("__va"), col("__vb")).as("score"))
      .filter(col("score") >= minScore)
  }

  /** Per-row argmax assignment against DRIVER-COLLECTED centroid literals
    * — the streaming form of `semAssignTo` (a streaming groupBy would be
    * a stateful aggregation; with the centroid set manifest-sized by the
    * nlist ≤ 4096 contract, inlining it makes assignment a pure
    * expression, the hyperplane-literal discipline). Returns a (cid, s)
    * struct column.
    *
    * Measured envelope (round 13): the literal tree is probed working
    * at nlist = 64 / 256 / 1024 (2.3 / 2.4 / 6.6 s for a 1k-row frame
    * INCLUDING plan construction — past a few hundred centroids Spark
    * falls back from codegen to interpreted evaluation, and the plan
    * cost grows with the constant count, but q208 builds the expression
    * ONCE per stream arm, so it amortizes over every micro-batch). For
    * nlist near the 4096 clamp prefer the batch `semAssignTo`
    * broadcast-join form; SemDedupSpec pins streaming ≡ batch at
    * nlist = 64 on top of the small-nlist cases. */
  def semAssignExpr(vec: Column, cents: Seq[(Long, Seq[Long])]): Column =
    // round 16: ONE native expression over the baked centroid matrix —
    // the composed array_max over nlist inlined intDot structs outgrows
    // the 64 KB codegen method limit once semNlistFor's n/125 rule
    // passes a few hundred centroids (the portableBucketCols failure
    // class); value-identical for non-null vectors incl. the
    // length-mismatch edge (NativeExprPropSpec pins it vs the composed
    // reference it keeps)
    graft.functions.ArgmaxIntDot.column(vec, cents)

  /** Collect a centroid frame to driver literals for `semAssignExpr` —
    * bounded by the nlist clamp (a manifest-sized collect, the allowed
    * class). */
  def collectCentroids(centroids: DataFrame): Seq[(Long, Seq[Long])] =
    centroids.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toList).toList.sortBy(_._1)
}
