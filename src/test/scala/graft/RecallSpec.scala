package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN recall regression guard (round-11 verdict #8): the q220/q53
  * operating points were confirmed MANUALLY against each regenerated
  * vector fixture (tools/Recall, commit 90e0f5a) — a regenerated
  * embeddings table whose distribution craters recall would previously
  * have shipped silently, since the oracle only checks determinism, not
  * quality. This spec pins minimum recall@k against brute force on the
  * CURRENT driver testdata. Thresholds sit well under the round-11
  * measured values (recorded inline) so regeneration noise passes and a
  * distribution collapse fails. */
class RecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Embeddings, the first `nQ` vectors as queries, and their exact
    * top-k from the SAME integer scorer the ANN paths rank with, so a
    * recall floor isolates candidate loss from quantization noise. */
  private def fixtures(k: Int, nQ: Int) = {
    val emb = Tables.table(spark, TestSpark.sf01, "embeddings")
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = pairs(Similarity.bruteForceTopKInt(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k))
    (emb, queries, truth)
  }

  /** The self-sized search point at the FIXTURE's corpus size — the same
    * rule the q45/q220/q222 entries interpolate (round 16, verdict #4). */
  private def searchPoint(emb: DataFrame): (Int, Int, Int) =
    Similarity.recommendedSearchPoint(emb.count())

  test("lshTopKInt (the q220 oracle twin) holds recall@10 vs the integer brute force") {
    // same SELF-SIZED operating point as the declared q220 (and q45)
    // entry (portable ±1 planes); round 13 measured 0.940 at the
    // then-declared 4×4+4 point, and recommendedSearchPoint holds that
    // point's collision probability by construction
    val (emb, queries, truth) = fixtures(k = 10, nQ = 50)
    val (t, b, p) = searchPoint(emb)
    val got = pairs(Similarity.lshTopKInt(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, numTables = t, bitsPerTable = b, probes = p))
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.70,
      f"lshTopKInt(${t}x$b+${p}probes) recall@10 = $recall%.3f < 0.70 — the portable-plane " +
        "self-sized point no longer suits the regenerated embeddings (re-tune via graft.tools.Recall)")
    // the probed point must not UNDERPERFORM the former home-only point:
    // probing trades table count for probe fan-out, never recall
    val home = pairs(Similarity.lshTopKInt(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, numTables = 16, bitsPerTable = 4, probes = 0))
    val homeRecall = home.intersect(truth).size.toDouble / truth.size
    assert(recall >= homeRecall - 0.10,
      f"probed recall $recall%.3f fell >0.10 under the 16x4 home-only point's $homeRecall%.3f")
  }

  test("recommendedSearchPoint: landmarks, base-point reproduction, collision invariant (round 16)") {
    // at n ≤ 8·2^4 the occupancy rule floors at 4 bits and the table rule
    // must reproduce the DECLARED r15 base point exactly — 4×4+4
    assert(Similarity.recommendedSearchPoint(100) == ((4, 4, 4)),
      "small corpus must reproduce the declared 4x4+4 base point")
    // the two gate SFs (DriftGuard pins the corpus sizes): these are the
    // values the q220/q222 oracle texts interpolate this round
    assert(Similarity.recommendedSearchPoint(500) == ((11, 6, 6)))
    assert(Similarity.recommendedSearchPoint(2000) == ((26, 8, 8)))
    // collision-probability invariant: every point the rule emits (until
    // the 128-table shard-first cap) holds the base point's PROBED
    // threshold collision probability
    val pBit = 1.0 - math.acos(0.25) / math.Pi
    def pT(b: Int) = math.pow(pBit, b) + b * math.pow(pBit, b - 1) * (1 - pBit)
    val base = 1.0 - math.pow(1.0 - pT(4), 4)
    Seq(1L, 500L, 2000L, 20000L, 200000L).foreach { n =>
      val (t, b, p) = Similarity.recommendedSearchPoint(n)
      assert(p == b, "probes must equal bits (full 1-flip neighborhood)")
      if (t < 128)
        assert(1.0 - math.pow(1.0 - pT(b), t) >= base - 1e-9,
          s"n=$n point ($t, $b): collision fell below the base point's")
    }
  }

  test("recommendedTables holds the threshold collision probability as bits widen (round 12)") {
    // The rule's whole point: 1−(1−pBit^bits)^L(bits) stays ≥ the base
    // operating point's value, so occupancy-driven widening can never
    // silently convert scale into recall loss again (the measured 0.298
    // → 0.043 failure this rule closed — BASELINE.md round 12). Pin the
    // landmark values, monotonicity, floor and cap.
    val pBit = 1.0 - math.acos(0.25) / math.Pi
    def collide(bits: Int, l: Int) = 1.0 - math.pow(1.0 - math.pow(pBit, bits), l)
    val base = collide(6, 8)
    assert(Similarity.recommendedTables(6) == 8, "base operating point must stay 8 tables")
    assert(Similarity.recommendedTables(4) == 8, "floor: never fewer than the base tables")
    assert(Similarity.recommendedTables(10) == 72, "the measured 10x operating point (recall 0.327)")
    assert(Similarity.recommendedTables(24) == 128, "cap: shard the corpus past 128 tables")
    (7 to 14).foreach { b =>
      val l = Similarity.recommendedTables(b)
      assert(l >= Similarity.recommendedTables(b - 1),
        s"tables must be non-decreasing in bits (bits=$b)")
      if (l < 128)
        assert(collide(b, l) >= base - 1e-9,
          f"bits=$b L=$l: threshold collision ${collide(b, l)}%.3f fell below base $base%.3f")
    }
  }

  test("recommendedTablesProbed holds the base collision probability with ~bits-fold fewer tables (round 13)") {
    // Multi-probe (Lv et al. 2007): per-table collision for a threshold
    // pair is P(hamming ≤ 1) = p^b + b·p^(b−1)(1−p); the rule picks the
    // minimal L whose 1−(1−pTable)^L still clears the base operating
    // point's collision probability — same guarantee as
    // recommendedTables, ~(1 + b(1−p)/p)× cheaper. Pin the landmarks
    // (incl. the 10× point: L=72 home-only → L=9 probed), the floor/cap
    // and the invariant.
    val pBit = 1.0 - math.acos(0.25) / math.Pi
    def pTable(bits: Int) = math.pow(pBit, bits) + bits * math.pow(pBit, bits - 1) * (1 - pBit)
    def collide(bits: Int, l: Int) = 1.0 - math.pow(1.0 - pTable(bits), l)
    val base = 1.0 - math.pow(1.0 - math.pow(pBit, 6), 8)
    assert(Similarity.recommendedTablesProbed(4) == 2, "floor: never a single table")
    assert(Similarity.recommendedTablesProbed(6) == 2, "base-width probed point")
    assert(Similarity.recommendedTablesProbed(10) == 9, "the 10x operating point: 72 -> 9 tables")
    assert(Similarity.recommendedTablesProbed(24) == 128, "cap: shard the corpus past 128 tables")
    (5 to 14).foreach { b =>
      val l = Similarity.recommendedTablesProbed(b)
      if (l < 128)
        assert(collide(b, l) >= base - 1e-9,
          f"bits=$b L=$l: probed threshold collision ${collide(b, l)}%.3f fell below base $base%.3f")
    }
  }

  test("multi-probe pair generation is a superset of home-only at the same (tables, bits)") {
    // probe set includes the home bucket and the cap semantics align on
    // ham-0 pairs (an over-cap home bucket yields nothing in either
    // mode), so probing can only ADD ham-1 pairs — the recall direction
    // is one-sided by construction; this pins it on the real fixture.
    val emb = Tables.table(spark, TestSpark.sf01, "embeddings")
    def pairSet(probes: Int) = Similarity.portableEmbedPairs(
        emb, "vec_id", "embedding", minScore = graft.SparkEntry.EmbedMinScore,
        tables = 4, bits = 6, probes = probes)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val homeOnly = pairSet(0)
    val probed = pairSet(6)
    assert(homeOnly.subsetOf(probed),
      s"home-only found ${(homeOnly -- probed).size} pairs the probed mode missed")
    assert(probed.size > homeOnly.size,
      "probing added no ham-1 pairs at bits=6 on the real fixture — probe keys are not reaching neighbor buckets")
  }

  test("broadcast-verify row bound derives from the vector dimension (round 14)") {
    // the former flat 100000L silently encoded dim = Similarity.EmbedDim
    // (53 MB of array<long> payload); the bound now scales as
    // budget/(dim*4) so a dim change moves the bound proportionally.
    // Round 15: the fused single-broadcast verify admits 2x the rows of
    // the r13 two-broadcast point at the SAME measured peak memory.
    // Round 17: the packed Array[Int] map representation
    // (IntDotLookup.pack, lossless at the ±10⁴ quantization scale)
    // halves per-row bytes again — 400k rows at EmbedDim inside the same
    // byte budget.
    assert(Similarity.broadcastVerifyMaxRows(Similarity.EmbedDim) == 400000L,
      "dim = Similarity.EmbedDim must reproduce the measured byte envelope at the packed-Int representation")
    assert(Similarity.broadcastVerifyMaxRows(8 * Similarity.EmbedDim) == 50000L,
      "8x the dimension must shrink the broadcastable row bound 8x")
    assertThrows[IllegalArgumentException](Similarity.broadcastVerifyMaxRows(0))
  }

  test("the monolithic runners throw one row past broadcastVerifyMaxRows(dim), naming the sharded runner") {
    import spark.implicits._
    // a wide dim shrinks the row bound to a few hundred; the 4-wide
    // vectors keep the frame tiny (they mismatch the planes, so every
    // vector keys bucket 0 — irrelevant: the bound fires while the
    // verify map is built, before any candidate work)
    val dim = 51200
    val bound = Similarity.broadcastVerifyMaxRows(dim)
    assert(bound == 500L)
    def vecs(from: Long, n: Long) =
      (from until from + n).map(i => (i, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("vec_id", "embedding")
    def sym(n: Long) = Similarity.portableEmbedPairs(vecs(0L, n), "vec_id", "embedding",
      minScore = 1L, tables = 1, bits = 1, dim = dim, probes = 1)
    sym(bound) // at the bound: builds
    val e = intercept[IllegalArgumentException](sym(bound + 1).count())
    assert(e.getMessage.contains("shardedEmbedPairs"), e.getMessage)
    // the cross bound counts BOTH sides: each alone is under it
    def cross(nOld: Long, nNew: Long) = Similarity.portableCrossEmbedPairs(
      vecs(0L, nOld), vecs(100000L, nNew), "vec_id", "embedding",
      minScore = 1L, tables = 1, bits = 1, dim = dim, probes = 1)
    cross(300L, bound - 300L)
    val c = intercept[IllegalArgumentException](cross(300L, bound - 299L).count())
    assert(c.getMessage.contains("shardedCrossEmbedPairs"), c.getMessage)
  }

  test("portableCrossEmbedPairs rejects an id present on both sides (one verify map holds both)") {
    import spark.implicits._
    def vecs(ids: Seq[Long], x: Float) = ids.map(i => (i, Seq.fill(64)(x))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.portableCrossEmbedPairs(
      vecs(Seq(1L, 2L), 0.1f), vecs(Seq(2L, 3L), -0.1f), "vec_id", "embedding", minScore = 1L))
    assert(e.getMessage.contains("id 2"), e.getMessage)
  }

  test("embed-LSH pair recall at the SHIPPED multi-probe point holds the floor (q84 family, round 13)") {
    // the round-12 verdict's recall receipt, re-taken at the round-13
    // multi-probe operating point (tables from recommendedTablesProbed,
    // probes = bits — exactly what q84/q97/q125 run). r13 measured
    // 0.298+ at sf0.01; floor 0.25 leaves regen noise room while
    // catching a probing/cap regression (the 10× receipt lives in
    // BASELINE.md via ScaleTenX).
    val (found, truth, recall) = graft.tools.DedupQuality.measureEmbedPairs(
      Tables.table(spark, TestSpark.sf01, "embeddings"))
    assert(truth > 0, "no exact near-dup vector pairs at the oracle SF — the embedding fixture degenerated")
    assert(recall >= 0.25,
      f"embed-LSH pair recall $found/$truth = $recall%.3f < 0.25 at the shipped multi-probe point — " +
        "re-measure via DedupQuality and re-derive (bits, tables, probes)")
  }

  test("minhash banding recall vs exact all-pairs Jaccard truth holds the floor (q82 family)") {
    // the text twin of the q84 pair-recall receipt (round 12): found ⊆
    // truth because verification is exact on the same shingle sets, so
    // the one statistic is banding RECALL — what the 16-hash/4-band
    // signature can lose on near-threshold pairs plus bucket-cap drops.
    // Theory at the 0.9-Jaccard verify threshold: 1−(1−0.9⁴)⁴ ≈ 0.986;
    // r12 measured on regenerated data: 24/25 = 0.960 at sf0.01,
    // 243/249 = 0.976 at sf0.1 (graft.tools.DedupQuality). Floor 0.80
    // leaves regen noise room while catching a banding/cap regression.
    val (found, truth, recall) = graft.tools.DedupQuality.measure(
      spark, Tables.table(spark, TestSpark.sf01, "documents"))
    assert(truth > 0, "no exact near-dup pairs at the oracle SF — the minhash fixture degenerated")
    assert(recall >= 0.80,
      f"minhash banding recall $found/$truth = $recall%.3f < 0.80 — bands/hashes or the " +
        "bucket cap no longer suit the regenerated corpus (re-measure via DedupQuality)")
  }

  test("edit-distance blocking recall holds on the near-identical band (q136 family)") {
    // r12 measured: the ≤EditMaxDist truth is BIMODAL — 25 pairs at
    // d ≤ 16 (planted near-dups, all prefix/suffix-reachable: found
    // 25/25 = 1.000) vs 436 at d 33–64 (word-shuffled semi-similars
    // sharing NEITHER affix — structurally invisible to blocking and
    // the minhash family's job; see BASELINE.md round 12). The pin is
    // on the band blocking is FOR: a regen where planted near-dups
    // start differing in both affixes would silently hollow q136.
    val (fn, tn, rn, _, _) = graft.tools.DedupQuality.measureEdit(
      spark, Tables.table(spark, TestSpark.sf01, "documents"))
    assert(tn > 0, "no near-identical pairs at the oracle SF — the edit fixture degenerated")
    assert(rn >= 0.90,
      f"edit blocking recall $fn/$tn = $rn%.3f < 0.90 on the d<=${graft.tools.DedupQuality.EditNearBand} band — " +
        "the planted near-dups no longer share a prefix/suffix (re-tune EditPrefixLen)")
  }

  test("ivfTopKInt at the declared q53 operating point (nlist=16, nprobe=4) holds recall@10") {
    val (emb, queries, truth) = fixtures(k = 10, nQ = 50)
    val got = pairs(Similarity.ivfTopKInt(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 10, nlist = 16, nprobe = 4))
    val recall = got.intersect(truth).size.toDouble / truth.size
    // r11 measured 0.630 on the regenerated sf0.01 fixture (nprobe/nlist
    // = 1/4 of the lists scanned bounds recall on near-uniform vectors)
    assert(recall >= 0.40,
      f"ivfTopKInt(16/4) recall@10 = $recall%.3f < 0.40 — regenerated embeddings distribution " +
        "no longer suits the declared q53 parameters (re-tune via graft.tools.Recall)")
  }
}
