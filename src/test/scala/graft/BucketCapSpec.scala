package graft

import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-boilerplate stress: a LEGITIMATE giant near-dup cluster (2,000
  * copies of one document — the viral-boilerplate / scraped-nav-bar shape a
  * 100 TB crawl contains) must NOT materialize m² pair rows inside one
  * collected bucket. Every in-bucket pair generator applies the
  * between(2, maxBucketSize) guard; this spec plants the cluster, asserts
  * each pipeline completes with ZERO pairs from the dropped bucket while
  * genuine small near-dup groups still pair, and that the oversize-bucket
  * audit reports what was dropped. */
class BucketCapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boilerplate =
    "subscribe to our newsletter terms of service privacy policy all rights " +
      "reserved copyright two thousand follow us on social media home about " +
      "contact careers press blog help center site map cookie settings"
  private val docA =
    "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the tall mountains casting long golden shadows across the valley"

  /** 2,000 boilerplate copies (ids 10001+) + one genuine exact near-dup
    * pair (ids 1, 2) + one unrelated doc (id 3). */
  private lazy val docs = {
    val planted = (1 to 2000).map(i => (10000L + i, boilerplate))
    val genuine = Seq((1L, docA), (2L, docA),
      (3L, "completely unrelated text about distributed query engines and columnar storage formats for analytical workloads at petabyte scale"))
    (genuine ++ planted).toDF("doc_id", "text")
  }

  test("portablePairStats drops the 2000-doc boilerplate bucket, keeps genuine pairs, audit reports it") {
    val pairs = TextDedup.portablePairStats(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // bounded: without the cap the planted cluster alone is ~2M pair rows
    assert(pairs.length < 100, s"expected bounded pair count, got ${pairs.length}")
    assert(!pairs.exists { case (a, b) => a > 10000L || b > 10000L },
      "no pair may come from the dropped boilerplate bucket")
    assert(pairs.contains((1L, 2L)), "the genuine near-dup pair must survive")
    // the audit names the dropped buckets: one per band (identical docs
    // share every band key), each of size 2000
    val dropped = TextDedup.portableOversizeBuckets(docs, "doc_id", "text")
      .select("band", "bucket_size").as[(Int, Long)].collect()
    assert(dropped.length == TextDedup.PortableBands)
    assert(dropped.forall(_._2 == 2000L), s"dropped=${dropped.toSeq}")
  }

  test("nearDupPairs (production path) drops the boilerplate bucket") {
    // threshold 0 keeps every candidate: the assertions see the capped
    // candidate set itself
    val pairs = TextDedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100)
    assert(!pairs.exists { case (a, b) => a > 10000L || b > 10000L })
    assert(pairs.contains((1L, 2L)))
  }

  test("portableSimhashPairs completes bounded under the planted cluster") {
    val pairs = TextDedup.portableSimhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100, s"got ${pairs.length}")
    assert(!pairs.exists { case (a, b) => a > 10000L && b > 10000L },
      "no boilerplate-boilerplate pair may survive the cap")
    assert(pairs.contains((1L, 2L)), "identical docs pair in any non-dropped chunk")
  }

  test("simhashPairs (production 64-bit) completes bounded under the planted cluster") {
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100, s"got ${pairs.length}")
    assert(!pairs.exists { case (a, b) => a > 10000L && b > 10000L })
    assert(pairs.contains((1L, 2L)))
  }

  test("portableCrossPairStats caps COMBINED existing+incoming occupancy (each side alone under the cap)") {
    // 600 boilerplate copies per side: either side alone is under the
    // 1000 cap — only the combined existing+incoming guard can drop the
    // bucket. The genuine pair straddles the split and must survive.
    val existing = ((1 to 600).map(i => (10000L + i, boilerplate)) :+ (1L -> docA)).toDF("doc_id", "text")
    val incoming = ((1 to 600).map(i => (20000L + i, boilerplate)) :+ (2L -> docA)).toDF("doc_id", "text")
    val pairs = TextDedup.portableCrossPairStats(existing, incoming, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100, s"expected bounded pair count, got ${pairs.length}")
    assert(!pairs.exists { case (a, b) => a > 10000L && b > 20000L },
      "no cross boilerplate pair may survive the combined cap")
    assert(pairs.contains((1L, 2L)), "the genuine cross-split pair must survive")
  }

  test("streaming dedupAgainstCorpus drops corpus-side oversize buckets") {
    // corpus-side bucket over the cap → its keys are ineligible; the
    // genuine doc still matches. (The streaming guard sees corpus-side
    // occupancy only — documented delta vs the batch combined cap.)
    val corpus = ((1 to 1100).map(i => (10000L + i, boilerplate)) :+ (1L -> docA)).toDF("doc_id", "text")
    val (base, banded) = TextDedup.portableIndexFrames(corpus, "doc_id", "text")
    val incoming = Seq((2L, docA), (20001L, boilerplate)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_streamcap").toString
    incoming.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val matches = graft.streaming.StreamOps.runAppend(spark,
        graft.streaming.StreamOps.dedupAgainstCorpus(stream, base, banded, "doc_id", "text"),
        "stream_cap_probe")
      .distinct()
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(matches.contains((1L, 2L)), s"genuine match must survive, got ${matches.take(5).toSeq}")
    assert(!matches.exists { case (a, b) => a > 10000L && b == 20001L },
      "the oversize corpus bucket must be ineligible for stream matches")
    // drop the memory-sink view: CatalogSpec asserts the exact table set
    spark.catalog.dropTempView("stream_cap_probe")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("editDistanceCrossPairs caps COMBINED existing+incoming block occupancy") {
    // 600 boilerplate copies per side share one 16-char prefix block:
    // either side alone is under the 1000 cap — only the combined guard
    // (= the symmetric operator's total block size) drops it. The
    // genuine small-edit pair straddles the split and must survive.
    val nearA = docA
    val nearB = docA.replace("lazy dog", "lazy cat") // same 16-char prefix, dist ≤ 64
    val existing = ((1 to 600).map(i => (10000L + i, boilerplate)) :+ (1L -> nearA)).toDF("doc_id", "text")
    val incoming = ((1 to 600).map(i => (20000L + i, boilerplate)) :+ (2L -> nearB)).toDF("doc_id", "text")
    val pairs = TextDedup.editDistanceCrossPairs(existing, incoming, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"only the genuine cross pair survives the combined cap, got ${pairs.length}")
  }

  test("streaming editDistanceCrossPairs drops corpus-side oversize blocks") {
    // corpus-side block over the cap → ineligible; the genuine fuzzy
    // match still surfaces (corpus-side-only cap — the documented
    // q126-class delta vs the batch combined cap).
    val nearB = docA.replace("lazy dog", "lazy cat")
    val corpus = ((1 to 1100).map(i => (10000L + i, boilerplate)) :+ (1L -> docA)).toDF("doc_id", "text")
    val incoming = Seq((2L, nearB), (20001L, boilerplate)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_editcap").toString
    incoming.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val matches = graft.streaming.StreamOps.runAppend(spark,
        TextDedup.editDistanceCrossPairs(corpus, stream, "doc_id", "text"),
        "edit_cap_probe")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(matches.contains((1L, 2L)), s"genuine match must survive, got ${matches.take(5).toSeq}")
    assert(!matches.exists { case (a, b) => a > 10000L && b == 20001L },
      "the oversize corpus block must be ineligible for stream matches")
    spark.catalog.dropTempView("edit_cap_probe")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streaming portableSimhashCrossPairs caps corpus-side occupancy only") {
    // A stream's own bucket occupancy is unknowable without state, so the
    // batch cross operator run on a stream caps corpus-side occupancy:
    // the 1,100-copy corpus bucket is ineligible, while a 999-copy corpus
    // bucket stays eligible even though the two streamed copies push its
    // combined occupancy past the cap (a batch incoming side would drop it).
    val other = "breaking news weather sports traffic update local events " +
      "community calendar classifieds obituaries letters to the editor opinion"
    val corpus = ((1 to 1100).map(i => (10000L + i, boilerplate)) ++
      (1 to 999).map(i => (30000L + i, other)) :+ (1L -> docA)).toDF("doc_id", "text")
    val incoming = Seq((2L, docA), (20001L, boilerplate), (40001L, other), (40002L, other))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_simhashcap").toString
    incoming.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val matches = graft.streaming.StreamOps.runAppend(spark,
        TextDedup.portableSimhashCrossPairs(corpus, stream, "doc_id", "text"),
        "simhash_cap_probe")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(matches.contains((1L, 2L)), s"genuine match must survive, got ${matches.take(5).toSeq}")
    assert(!matches.exists { case (a, b) => a > 10000L && a <= 11100L && b == 20001L },
      "the oversize corpus bucket must be ineligible for stream matches")
    assert(matches.count { case (a, b) => a > 30000L && b > 40000L } == 999 * 2,
      "stream-side copies must not count toward the cap")
    spark.catalog.dropTempView("simhash_cap_probe")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("portableCrossEmbedPairs caps COMBINED occupancy (each side alone under the cap)") {
    val w = Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat)
    val a = Array.tabulate(64)(i => (math.cos(2 * i + 1) / 8.0).toFloat)
    val existing = ((1 to 600).map(i => (10000L + i, w.toSeq)) :+ (1L -> a.toSeq)).toDF("vec_id", "embedding")
    val incoming = ((1 to 600).map(i => (20000L + i, w.toSeq)) :+ (2L -> a.toSeq)).toDF("vec_id", "embedding")
    val pairs = Similarity.portableCrossEmbedPairs(existing, incoming, "vec_id", "embedding", minScore = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100, s"got ${pairs.length}")
    assert(!pairs.exists { case (a0, b) => a0 > 10000L && b > 20000L },
      "no cross boilerplate-vector pair may survive the combined cap")
    assert(pairs.contains((1L, 2L)), "the genuine cross-split vector pair must survive")
  }

  /** 2,000 identical vectors (ids 10001+) + a genuine identical pair
    * (ids 1, 2) + one far vector (id 3). */
  private lazy val vecs = {
    val w = Array.tabulate(64)(i => (math.sin(i + 1) / 8.0).toFloat)
    val a = Array.tabulate(64)(i => (math.cos(2 * i + 1) / 8.0).toFloat)
    val far = Array.tabulate(64)(i => (math.sin(3 * i + 2) * (if (i % 2 == 0) -1 else 1) / 8.0).toFloat)
    val planted = (1 to 2000).map(i => (10000L + i, w.toSeq))
    (Seq((1L, a.toSeq), (2L, a.toSeq), (3L, far.toSeq)) ++ planted)
      .toDF("vec_id", "embedding")
  }

  test("portableEmbedPairs drops the 2000-vector bucket, keeps the genuine pair") {
    val pairs = Similarity.portableEmbedPairs(vecs, "vec_id", "embedding", minScore = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length < 100, s"got ${pairs.length}")
    assert(!pairs.exists { case (a, b) => a > 10000L && b > 10000L })
    assert(pairs.contains((1L, 2L)), "identical vector pair must survive")
  }

  test("portableEmbedPairs under MULTI-PROBE still drops the boilerplate cluster, keeps the genuine pair") {
    // identical vectors have identical signatures, so the whole 2000-row
    // cluster shares one over-cap HOME bucket per table — ineligible on
    // the home side of the probe join in every orientation, so no
    // boilerplate×boilerplate pair can surface. Probes from boilerplate
    // into small neighbor buckets stay linear (each bounded by the small
    // bucket's size) — the quadratic blowup is what the cap kills.
    val pairs = Similarity.portableEmbedPairs(vecs, "vec_id", "embedding",
        minScore = 1L, tables = 2, bits = 6, probes = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!pairs.exists { case (a, b) => a > 10000L && b > 10000L },
      "no boilerplate-boilerplate pair may survive the home-bucket cap under probing")
    assert(pairs.contains((1L, 2L)), "identical vector pair must survive")
    assert(pairs.length <= 3 * 2000 + 10,
      s"probe fan-out exceeded the linear bound: ${pairs.length}")
  }
}
