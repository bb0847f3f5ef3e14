package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) sketches over hashed set elements — the
  * bounded-size scale path for pairwise set overlap when the exact
  * distinct self-join (q132) stops being viable: at an unbounded source
  * count the exact form's per-source distinct streams grow with the
  * corpus, while a KMV sketch is a fixed ≤k longs per source no matter
  * how many shingles feed it (the "KMV-sketch form" the q132 comment
  * promised; reference has no dedup analogue — LLM-pipeline brief row).
  *
  * Estimator (Beyer et al., SIGMOD 2007, "On Synopses for Distinct-Value
  * Estimation Under Multiset Operations"): for sets A, B with KMV
  * sketches S_A, S_B (each the k smallest distinct hash values), let
  * U = the k smallest of S_A ∪ S_B. Then |U ∩ S_A ∩ S_B| / |U| estimates
  * the Jaccard similarity J(A, B) with standard error ≈ √(J(1−J)/k).
  * SketchesSpec pins both the exact-regime identity (k ≥ |A ∪ B| ⇒ the
  * estimate IS the exact Jaccard) and the error bound at small k.
  */
object Sketches {

  /** Default sketch size: 64 longs ⇒ ~6 pp standard error at J ≈ 0.3 —
    * the screening regime (candidate source pairs for exact follow-up). */
  val DefaultKmvK = 64

  /** Per-group KMV sketch: the k smallest DISTINCT values of `hashCol`
    * as a sorted array. Exchanges carry (group, long) rows only; the
    * windowed top-k is pruned by WindowGroupLimit before the per-group
    * sort materializes anything beyond rank k. */
  def kmvSketch(df: DataFrame, groupCol: String, hashCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(hashCol))
    df.select(col(groupCol), col(hashCol)).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(groupCol)
      .agg(sort_array(collect_list(col(hashCol))).as("sketch"))
  }

  /** Pairwise Jaccard ESTIMATES between all groups whose sketches share
    * at least one member. Candidate pairs come from an equi-join on the
    * EXPLODED sketches — (long, group) rows, the repo's keys+ids pair
    * discipline, never a nested-loop over the group universe — and each
    * surviving pair evaluates the estimator over its two ≤k arrays
    * joined back by group (AQE broadcasts the sketch table while it is
    * small; the join stays a keyed equi-join at any group count).
    * Output: (src_a, src_b, k_union, n_shared, est_bp),
    * est_bp = 10⁴·|U ∩ S_A ∩ S_B| DIV |U|. */
  def kmvJaccard(df: DataFrame, groupCol: String, hashCol: String, k: Int): DataFrame = {
    val sk = Checkpoints.cut(kmvSketch(df, groupCol, hashCol, k), eager = false)
    val m = sk.select(col(groupCol), explode(col("sketch")).as("h"))
    val cand = m.select(col(groupCol).as("src_a"), col("h"))
      .join(m.select(col(groupCol).as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .select("src_a", "src_b").distinct()
    cand
      .join(sk.select(col(groupCol).as("src_a"), col("sketch").as("sa")), Seq("src_a"))
      .join(sk.select(col(groupCol).as("src_b"), col("sketch").as("sb")), Seq("src_b"))
      .withColumn("__u", slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      // intersect materialized ONCE (CLAUDE.md: no expensive
      // subexpression inlined into N output branches)
      .withColumn("__i",
        size(array_intersect(array_intersect(col("sa"), col("sb")), col("__u"))).cast("long"))
      .select(col("src_a"), col("src_b"),
        size(col("__u")).cast("long").as("k_union"),
        col("__i").as("n_shared"),
        expr("__i * 10000L DIV size(__u)").as("est_bp"))
  }

  /** Distinct-count estimates from per-group KMV sketches — the KMV
    * counterpart to the HLL estimator (two independent cardinality
    * estimators over the same 32-bit key space; useful as a cross-check
    * and because the KMV sketch is often already materialized for
    * overlap work). Unbiased k-th-smallest estimator (Beyer et al.
    * 2007): n̂ = (k−1)·M/h_k with M = 2^32 the hash domain; a group
    * whose sketch holds fewer than k values is in the EXACT regime (the
    * sketch IS the distinct set) and reports its size. Output:
    * (groupCol, n_sketch, est_distinct). */
  def kmvDistinct(sketches: DataFrame, groupCol: String, k: Int): DataFrame =
    sketches.select(col(groupCol), size(col("sketch")).cast("long").as("n_sketch"),
        // guard: ANSI element_at throws on out-of-bounds (exact regime)
        when(size(col("sketch")) >= k, element_at(col("sketch"), k)).as("__hk"))
      .withColumn("est_distinct",
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(s"CAST(FLOOR(${(k - 1).toDouble * 4294967296.0} / " +
            "CAST(GREATEST(__hk, 1) AS DOUBLE)) AS BIGINT)"))) // h_k=0 guard
      .drop("__hk")

  // ---------------------------------------------------------------------
  // Bloom filter (portable) — fixed-size MEMBERSHIP sketch. Completes the
  // sketch family beside KMV (distinct/overlap) and countMin (frequency):
  // the scale path for benchmark-contamination screening when the
  // benchmark/blocklist side outgrows q68's broadcast of whole token
  // arrays. The filter is ≤ BloomBits/32 (word, bits) rows — ~256 KiB at
  // 2^20 bits — REGARDLESS of how many elements fed it, so the probe side
  // joins a fixed-size broadcast no matter the blocklist size.
  //
  // Portability contract: elements are the repo's 32-bit md5-derived keys
  // (PortableShingleHash longs, nonnegative < 2^32), and every position is
  // plain BIGINT arithmetic ((h*C + D) % M with C < 2^31, so h*C < 2^63 —
  // no overflow under ANSI mode) that DuckDB computes identically; 32-bit
  // words keep every mask positive (no BIGINT sign-bit shifts, which the
  // two engines could render differently). One-sided error only:
  // a member NEVER probes false (no false negatives), a non-member probes
  // true with p ≈ (1 − e^(−kn/M))^k — SketchesSpec pins both.
  // ---------------------------------------------------------------------

  /** Filter size in bits (2^20) and the k=3 portable position functions
    * (multiplier < 2^31, classic LCG constants). Shared verbatim with the
    * DuckDB oracle texts via `bloomPosSql`.
    *
    * Positions take the product's MIDDLE bits: pos = ((h·C + D) DIV 2^11)
    * mod M. The shift is load-bearing — with a power-of-2 modulus and odd
    * C, the LOW bits of h·C are an invertible function of h's low bits,
    * so `(h·C + D) mod M` for the three (C, D) pairs would be mutually
    * determined (position 1 fixes positions 2 and 3): effective k = 1,
    * measured FPR ≈ n/M ≈ 0.3% instead of the designed (1−e^(−kn/M))^k ≈
    * 6e−7. SketchesSpec's FPR test is what caught it. */
  val BloomBits: Long = 1L << 20
  val PosShift: Int = 11
  val BloomHashes: Seq[(Long, Long)] =
    Seq((1664525L, 1013904223L), (22695477L, 1L), (1540483477L, 12345L))

  /** The k positions of key `h` as an array<long> column. */
  def bloomPositions(h: Column): Column =
    array(BloomHashes.map { case (c, d) =>
      shiftright(h * lit(c) + lit(d), PosShift) % lit(BloomBits)
    }: _*)

  /** The identical position list spelled for DuckDB (`unnest` operand). */
  def bloomPosSql(hExpr: String): String =
    BloomHashes.map { case (c, d) =>
      s"((($hExpr) * $c + $d) // ${1L << PosShift}) % $BloomBits"
    }.mkString("[", ", ", "]")

  /** Build the filter from `hashCol` (32-bit portable keys): one
    * aggregate exchange of (word, mask) int/long pairs — element payloads
    * never shuffle — into ≤ BloomBits/32 (word, bits) rows. */
  def bloomBuild(df: DataFrame, hashCol: String): DataFrame =
    df.select(explode(bloomPositions(col(hashCol))).as("__pos"))
      .select(expr("__pos DIV 32").as("word"),
        expr("shiftleft(1L, CAST(__pos % 32 AS INT))").as("__mask"))
      .groupBy("word").agg(bit_or(col("__mask")).as("bits"))

  /** Probe: for each (groupCols, hashCol) row of `probe`, true iff ALL k
    * positions are set in `filter`. The filter side is a fixed-size
    * broadcast; the probe's exchange carries (groupCols, long) rows plus
    * two small ints. (groupCols, hashCol) must be unique per row (feed a
    * distinct stream). */
  def bloomMaybeContains(probe: DataFrame, filter: DataFrame, hashCol: String,
                         groupCols: Seq[String]): DataFrame = {
    val k = BloomHashes.size
    val keys = groupCols.map(col) :+ col(hashCol)
    probe.select(keys :+ explode(bloomPositions(col(hashCol))).as("__pos"): _*)
      .select(keys ++ Seq(expr("__pos DIV 32").as("word"),
        expr("shiftleft(1L, CAST(__pos % 32 AS INT))").as("__mask")): _*)
      .join(broadcast(filter), Seq("word"), "left")
      .groupBy(keys: _*)
      .agg((sum(when((coalesce(col("bits"), lit(0L)).bitwiseAND(col("__mask"))) =!= 0L, 1L)
        .otherwise(0L)) === lit(k.toLong)).as("maybe_in"))
  }

  // ---------------------------------------------------------------------
  // Count-Min sketch (portable) — fixed-size FREQUENCY sketch: depth×width
  // counters replace a vocabulary-sized exact aggregate when the key
  // universe outgrows memory (heavy-hitter screening over token streams).
  // Estimates only ever OVERCOUNT (est ≥ true count; Cormode & Muthu-
  // krishnan, J. Algorithms 2005): each of the d rows sums every key
  // hashing into the same cell, and the min over rows is the estimate.
  // Same portability posture as the Bloom filter: 32-bit keys, shared
  // (h*C + D) % width positions, exact integer arithmetic in both engines.
  // ---------------------------------------------------------------------

  /** Default width: 1024 counters × 3 rows = 3072 cells (~24 KiB). */
  val CmsWidth: Long = 1024L

  /** Per-row position of key `h` for depth row `i` — same middle-bits
    * extraction as the Bloom positions (without the shift the depth rows
    * would collide IDENTICALLY, making min-over-rows worthless). */
  def cmsPosition(h: Column, i: Int): Column = {
    val (c, d) = BloomHashes(i)
    shiftright(h * lit(c) + lit(d), PosShift) % lit(CmsWidth)
  }

  /** The identical row-i position spelled for DuckDB. */
  def cmsPosSql(hExpr: String, i: Int): String = {
    val (c, d) = BloomHashes(i)
    s"((($hExpr) * $c + $d) // ${1L << PosShift}) % $CmsWidth"
  }

  /** Build the sketch from exact per-key partial counts `(hashCol,
    * countCol)` — the caller aggregates occurrences to (key, count) first
    * (map-side combine; key collisions at 32 bits merge upstream, which a
    * counter sketch does anyway and the DuckDB twin shares). Output:
    * (i, p, s) — depth row, position, summed count; ≤ depth·width rows. */
  def countMinBuild(df: DataFrame, hashCol: String, countCol: String): DataFrame = {
    val rows = BloomHashes.indices.map { i =>
      df.select(lit(i).as("i"), cmsPosition(col(hashCol), i).as("p"),
        col(countCol).as("__c"))
    }
    rows.reduce(_ unionAll _).groupBy("i", "p").agg(sum(col("__c")).as("s"))
  }

  /** Point-estimate every key of `df` against sketch `cms`: min over the
    * d rows of the counter each position lands in. The sketch is a
    * fixed-size broadcast; exchanges carry (long, long) rows. Output: df's
    * columns + est. */
  def countMinEstimate(df: DataFrame, cms: DataFrame, hashCol: String): DataFrame = {
    val keyCols = df.columns.map(col).toSeq
    val posed = BloomHashes.indices.map { i =>
      df.select(keyCols :+ lit(i).as("i") :+ cmsPosition(col(hashCol), i).as("p"): _*)
    }.reduce(_ unionAll _)
    posed.join(broadcast(cms), Seq("i", "p"))
      .groupBy(keyCols: _*)
      .agg(min(col("s")).as("est"))
  }

  /** Equi-join SIZE estimate from two Count-Min sketches of the join
    * keys' frequency vectors (Cormode & Muthukrishnan 2005 §4.2, the
    * AMS-style inner product): per depth row i, Σ_p a[i,p]·b[i,p]
    * upper-bounds Σ_v f_A(v)·f_B(v) = |A ⋈ B| (colliding keys only ADD
    * cross terms), and the min over rows is the estimate — one-sided,
    * est ≥ exact, like the point estimates. The planner-support use: a
    * skewed key that would explode a join shows up in two ~24 KiB
    * sketches built map-side, long before any shuffle runs. Input
    * frames are `countMinBuild` outputs of the same geometry; output is
    * one (est_join_size) row. */
  def countMinJoinSize(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("i"), col("p"), col("s").as("__sa"))
      .join(b.select(col("i"), col("p"), col("s").as("__sb")), Seq("i", "p"))
      .groupBy("i").agg(sum(col("__sa") * col("__sb")).as("__dot"))
      .agg(min(col("__dot")).as("est_join_size"))

  // ---------------------------------------------------------------------
  // HyperLogLog (portable) — fixed-size CARDINALITY sketch, completing
  // the family: KMV (pairwise overlap), Bloom (membership), Count-Min
  // (frequency), HLL (distinct count). m = 2^p registers (~1 KiB at
  // p = 10) REGARDLESS of how many elements fed them, and — unlike the
  // KMV build — the input needs NO distinct() first: registers are a MAX,
  // so duplicate elements are absorbed scan-locally by the partial
  // aggregate and the one exchange carries (group, bucket, rho) rows
  // bounded by |groups|·m, never by the element stream
  // (Flajolet/Fusy/Gandouet/Meunier, AofA 2007).
  //
  // Portability contract: elements are the repo's 32-bit portable keys
  // (nonnegative < 2^32). bucket = h mod m (low p bits); the remaining
  // w = h DIV m is a (32−p)-bit value whose leading-zero count both
  // engines derive STRING-wise — rho = (32−p) − length(bin(w)) + 1, with
  // bin() the minimal binary rendering in BOTH engines — so no float,
  // no log2, enters the register math. The scaled harmonic sum
  // Σ 2^(32−reg) is exact BIGINT (≤ m·2^32 = 2^42); the raw estimate is
  // one literal-over-BIGINT double division + FLOOR, bit-identical
  // cross-engine (the q85/q116 FLOOR-scaled-double rule). The
  // small-range (linear-counting) correction needs ln(), which is
  // libm-dependent — it lives ONLY in the Scala-side estimate column
  // (`est_corrected`) and stays OUT of hashed outputs; SketchesSpec
  // owns its accuracy.
  // ---------------------------------------------------------------------

  /** Register-count exponent: 2^10 = 1024 registers ⇒ standard error
    * ≈ 1.04/√m ≈ 3.3 %. */
  val HllP: Int = 10
  val HllM: Long = 1L << HllP
  /** Bits available for the rank after the bucket index is consumed. */
  val HllWBits: Int = 32 - HllP
  /** α_m·m²·2^32 for m = 1024 — the raw-estimate numerator, precomputed
    * so the hashed path is a single double division (one rounding step,
    * identical cross-engine). α_m = 0.7213/(1 + 1.079/m). */
  val HllNumerator: Double = 0.7213 / (1.0 + 1.079 / HllM.toDouble) *
    (HllM * HllM).toDouble * 4294967296.0

  /** (bucket, rho) of a 32-bit portable key — the register coordinates
    * shared by the batch build and the streaming register aggregate. */
  def hllBucket(h: Column): Column = h % lit(HllM)
  def hllRho(h: Column): Column = {
    val w = shiftright(h, HllP) // h ∈ [0, 2^32) ⇒ identical to h DIV 2^p
    when(w === 0L, lit(HllWBits + 1))
      .otherwise(lit(HllWBits + 1) - length(bin(w)))
  }

  /** Per-group HLL registers: (groupCols*, bucket, reg) with
    * reg = max rho over the group's elements landing in that bucket.
    * ≤ |groups|·m rows; absent buckets mean register 0 (handled by the
    * estimate's zero-bucket term, never materialized). */
  def hllBuild(df: DataFrame, groupCols: Seq[String], hashCol: String): DataFrame = {
    val gs = groupCols.map(col)
    df.select(gs ++ Seq(hllBucket(col(hashCol)).as("bucket"),
        hllRho(col(hashCol)).as("__rho")): _*)
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max(col("__rho")).cast("long").as("reg"))
  }

  /** Collapse per-group registers to one row per group:
    * (groupCols*, n_buckets, s_scaled, est_hll, est_corrected).
    * n_buckets/s_scaled/est_hll are exact-integer / FLOOR-double and
    * safe to hash; est_corrected applies the linear-counting small-range
    * rule (est ≤ 2.5m and zero registers exist ⇒ m·ln(m/V)) and is
    * Scala-side only (ln is not portable). */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = HllM
    val gs = groupCols.map(col)
    regs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("shiftleft(1L, CAST(32 - reg AS INT))")).as("__sp"))
      .withColumn("s_scaled",
        col("__sp") + (lit(m) - col("n_buckets")) * lit(4294967296L))
      .withColumn("est_hll",
        expr(s"CAST(FLOOR($HllNumerator / CAST(s_scaled AS DOUBLE)) AS BIGINT)"))
      .withColumn("est_corrected",
        when(col("est_hll") <= lit((2.5 * m).toLong) && col("n_buckets") < lit(m),
          expr(s"CAST(FLOOR($m * ln(CAST($m AS DOUBLE) / " +
            s"CAST($m - n_buckets AS DOUBLE))) AS BIGINT)"))
          .otherwise(col("est_hll")))
      .select(gs ++ Seq(col("n_buckets"), col("s_scaled"), col("est_hll"),
        col("est_corrected")): _*)
  }

  /** The identical per-group register CTE chain spelled for DuckDB
    * (group column `g`, key expression already aliased `h` in `src`). */
  def hllRegSql(src: String, g: String): String = {
    val m = HllM
    s"SELECT $g, h % $m AS bucket, " +
      s"MAX(CASE WHEN h // $m = 0 THEN ${HllWBits + 1} " +
      s"ELSE ${HllWBits + 1} - length(bin(h // $m)) END) AS reg " +
      s"FROM $src GROUP BY $g, h % $m"
  }

  // ---------------------------------------------------------------------
  // Hash-sample quantiles (portable) — fixed-size DISTRIBUTION sketch:
  // a deterministic uniform row sample (the k rows with the smallest
  // portable hash of a UNIQUE row id — hashing a unique key makes rank
  // order pseudorandom w.r.t. any value column) plus order statistics
  // over the sample. The scale path for distribution profiling beside
  // the exact forms: percentile_disc (q114) buffers whole groups
  // (holistic aggregate) and approx_percentile (q52) is engine-specific
  // — the hash sample is bounded (≤ k rows/group), MERGEABLE (k smallest
  // hashes of a union — the KMV identity), and bit-identical
  // cross-engine: selection and quantile extraction are row_number
  // windows and integer index arithmetic, no interpolation, no float.
  // Sample-quantile error: |F(v̂_q) − q| = O(1/√k) with high probability
  // (Dvoretzky–Kiefer–Wolfowitz over the uniform sample).
  // ---------------------------------------------------------------------

  /** Default sample size per group: 256 rows ⇒ quantile CDF error
    * ≈ 1/√256 ≈ 6 pp — the profiling regime. */
  val DefaultSampleK = 256

  /** Deterministic per-group uniform sample: the k rows with the
    * smallest (hashCol, idCol) — idCol breaks 32-bit hash ties so the
    * kept set is total-order-defined. One windowed top-k per group,
    * WindowGroupLimit-pruned; exchanges carry the projected columns
    * only (callers select id + the profiled values first). */
  def hashSample(df: DataFrame, groupCols: Seq[String], idCol: String,
                 hashCol: String, k: Int = DefaultSampleK): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(hashCol), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Order-statistic quantiles over a `hashSample` output: for each
    * requested q (basis points), the sample value at 1-indexed rank
    * ceil(q·n/10⁴) — pure integer index arithmetic, no interpolation.
    * The (group, q, rank) targets derive from the per-group SIZE
    * aggregate and explode — so the rank lookup is a plain broadcast
    * equi-join on (group, rank), never a nested-loop over computed
    * indices. Output: (groupCols*, q_bp, n_sample, v_at_q). */
  def sampleQuantiles(sampleIn: DataFrame, groupCols: Seq[String],
                      valueCol: String, idCol: String, hashCol: String,
                      qsBp: Seq[Int]): DataFrame = {
    val gs = groupCols.map(col)
    // both the rank window and the size aggregate read the sample — cut
    // its lineage once (≤ k·|groups| rows by construction; without the
    // cut each reference recomputes the whole upstream scan+top-k)
    val sample = Checkpoints.cut(sampleIn, eager = false)
    val ranked = sample.withColumn("__rn",
      row_number().over(Window.partitionBy(gs: _*)
        .orderBy(col(valueCol), col(hashCol), col(idCol))).cast("long"))
    val targets = sample.groupBy(gs: _*).agg(count(lit(1)).as("n_sample"))
      .select(gs ++ Seq(col("n_sample"), explode(typedLit(qsBp)).as("q_bp")): _*)
      .withColumn("__rn", greatest(lit(1L),
        expr("(q_bp * n_sample + 9999) DIV 10000")))
    ranked.join(broadcast(targets), groupCols :+ "__rn")
      .select(gs ++ Seq(col("q_bp"), col("n_sample"),
        col(valueCol).as("v_at_q")): _*)
  }

  /** Merge two per-group hash samples (k smallest of the union — the
    * KMV identity, so merge-then-sample ≡ sample of the concatenation). */
  def hashSampleMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                      idCol: String, hashCol: String,
                      k: Int = DefaultSampleK): DataFrame =
    hashSample(a.unionByName(b), groupCols, idCol, hashCol, k)

  // ---------------------------------------------------------------------
  // Sketch merges — the property that makes fixed-size sketches the
  // distributed-aggregation primitive: build one per shard/source/day,
  // merge at any level of the tree, never revisit raw data. Each merge
  // is EXACTLY the single-shot build over the concatenated inputs
  // (SketchesSpec pins all three identities): Bloom = bit_or by word,
  // CMS = cell-wise sum (linearity), KMV = k smallest of the union.
  // ---------------------------------------------------------------------

  /** Merge two Bloom filters of the same geometry. */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("word").agg(bit_or(col("bits")).as("bits"))

  /** Merge two Count-Min sketches of the same geometry. */
  def countMinMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("i", "p").agg(sum(col("s")).as("s"))

  /** Merge two per-group KMV sketch tables (k smallest of each union). */
  def kmvMerge(a: DataFrame, b: DataFrame, groupCol: String, k: Int): DataFrame =
    kmvSketch(
      a.unionByName(b).select(col(groupCol), explode(col("sketch")).as("h")),
      groupCol, "h", k)

  /** Merge two per-group HLL register tables (bucket-wise max). */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("reg")).as("reg"))
}
