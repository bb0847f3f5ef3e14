package graft

import graft.functions.SimHash64
import graft.operators.{Multimodal, Similarity, TextAnalysis, TextDedup}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tier-E operators verified against scalar Scala reference
  * implementations (SURVEY.md §5: Q35-Q38 tier is unit/property-verified,
  * not oracle-hashed). */
class TierESpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The composed spelling of `portableShingleHashes` — the exact form
    * the DuckDB oracle texts replay; the bit-equality reference for the
    * fused expression. */
  private def portableShingleHashesComposed(text: Column, n: Int): Column =
    transform(TextDedup.shingles(TextDedup.tokens(text), n),
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))

  /** The composed HOF spelling of `portableSimhash32` — the exact form
    * the q83 DuckDB text replays; the bit-equality reference for the
    * fused expression. */
  private def portableSimhash32Composed(tokenHashes: Column): Column = {
    // ONE fold over the token hashes with a 32-wide array accumulator;
    // bit b's ±1 weight comes from h & 2^b, the sign vector collapses
    // against the same powers array
    val powers = array((0 until 32).map(b => lit(1L << b)): _*)
    val zeros = array((0 until 32).map(_ => lit(0L)): _*)
    val sums = aggregate(tokenHashes, zeros,
      (acc, h) => zip_with(acc, powers,
        (s, p) => s + when(h.bitwiseAND(p) === p, lit(1L)).otherwise(lit(-1L))))
    // explicit empty-set sentinel 0, matching the q83 DuckDB text (where
    // list_sum of an empty list is NULL → each bit's CASE falls to ELSE 0)
    when(size(tokenHashes) === 0, lit(0L)).otherwise(
      aggregate(zip_with(sums, powers,
        (s, p) => when(s >= 0, p).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x))
  }

  // ---------- dedup ----------

  test("exact dedup by hash keeps lowest id per duplicate text") {
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y"), (4L, "x y"), (5L, "unique doc")
    ).toDF("doc_id", "text")
    val kept = TextDedup.dedupExactByHash(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 5L))
    val groups = TextDedup.exactDupGroups(df, "text").collect()
    assert(groups.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a b c" -> 2L, "x y" -> 2L))
  }

  test("shingles produce word n-grams") {
    val got = spark.sql("SELECT 1")
      .select(TextDedup.shingles(typedLit(Seq("a", "b", "c", "d")), 2).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("a b", "b c", "c d"))
  }

  test("shingle_hash expression matches scalar reference, incl. short/empty inputs") {
    graft.functions.ShingleHash.register(spark)
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "one two"), (3L, "solo"), (4L, "")).toDF("id", "text")
    val got = df.select(col("id"), call_function("shingle_hash", split(col("text"), " "), lit(3)).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == graft.functions.ShingleHash.referenceOf(Seq("alpha", "beta", "gamma", "delta"), 3))
    assert(got(1L).length == 2)
    // shorter than n → one hash of everything (clamping parity with shingles())
    assert(got(2L) == graft.functions.ShingleHash.referenceOf(Seq("one", "two"), 3))
    assert(got(2L).length == 1 && got(3L).length == 1)
    // split("", " ") yields [""], so one hash of the empty token
    assert(got(4L).length == 1)
  }

  test("jaccard column matches scalar definition") {
    val got = spark.sql("SELECT 1").select(
      TextDedup.jaccard(typedLit(Seq("a", "b", "c")), typedLit(Seq("b", "c", "d"))).as("j"))
      .as[Double].head()
    assert(math.abs(got - 2.0 / 4.0) < 1e-12)
  }

  test("minhash near-dup finds the planted duplicate pair, not the distinct one") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = TextDedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5, shingleN = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    val deduped = TextDedup.dedupNear(df, "doc_id", "text", threshold = 0.5, shingleN = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(deduped.toSeq == Seq(1L, 3L))
  }

  test("editDistancePairs matches a scalar Levenshtein reference (q136 oracle path)") {
    // scalar reference: classic two-row DP
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cur = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = prev(j); prev(j) = cur
        }
      }
      prev(b.length)
    }
    val prefix = "shared sixteen!! " // ≥ EditPrefixLen chars, identical
    val docs = Seq(
      (1L, prefix + "the quick brown fox jumps over the lazy dog"),
      (2L, prefix + "the quick brown cat jumps over the lazy dog"), // small edit
      (3L, prefix + ("completely different tail " * 8)),            // > maxDist away
      (4L, "other prefix ---- never blocked with the rest"))
    val df = docs.toDF("doc_id", "text")
    val got = TextDedup.editDistancePairs(df, "doc_id", "text")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // only same-prefix pairs within maxDist survive, with the exact distance
    val byId = docs.toMap
    assert(got.keySet == Set((1L, 2L)), s"got ${got.keySet}")
    assert(got((1L, 2L)) == lev(byId(1L), byId(2L)))
    // doc 3 shares the block but is beyond the threshold; doc 4 never blocks
    assert(lev(byId(1L), byId(3L)) > TextDedup.EditMaxDist)
    // cap: a block larger than maxBucketSize is dropped whole
    val flood = (10L to 20L).map(i => (i, prefix + s"filler $i")) :+ (30L, "lone doc")
    val capped = TextDedup.editDistancePairs(flood.toDF("doc_id", "text"),
      "doc_id", "text", maxBucketSize = 5)
    assert(capped.count() == 0, "oversize block must be dropped, not paired")
  }

  test("suffix pass catches edits inside the prefix (r10 second blocking key)") {
    // docs 1/2 differ ONLY in their first word — prefix-16 keys differ, so
    // the pre-r10 single-pass operator could never block them together
    // (the recall hole PLANS.md documented); the suffix key pairs them.
    // Pair (5,6) shares BOTH keys — it must come through exactly once
    // (the prefix-differs rule keeps the two passes disjoint).
    val tail = " shared middle and ending text long enough to block on"
    val docs = Seq(
      (1L, "Alpha" + tail),
      (2L, "Omega" + tail),
      (3L, "completely unrelated text with its own distinct ending here"),
      (5L, "twin prefix here and a twin ending too yes"),
      (6L, "twin prefix here and a twin ending too yes")).toDF("doc_id", "text")
    val got = TextDedup.editDistancePairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got.sorted == Seq((1L, 2L), (5L, 6L)), s"got $got")
  }

  test("fused PortableShingleHash equals the composed md5 spelling bit-for-bit") {
    // real documents at sf0.001 (incl. zh/multibyte text) + edge shapes —
    // the fused digest-bytes expression must match the conv(substring(
    // md5(s),1,8),16,10) form the DuckDB oracles replay, value for value
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, "solo"), (90003L, "a b"),
        (90004L, "exactly three toks")).toDF("doc_id", "text"))
    val diff = docs.select(
      TextDedup.portableShingleHashes(col("text"), TextDedup.PortableShingleN).as("fused"),
      portableShingleHashesComposed(col("text"), TextDedup.PortableShingleN).as("composed"))
      .filter(not(col("fused") === col("composed")))
      .count()
    assert(diff == 0L, s"$diff documents diverged between fused and composed hashing")
  }

  test("fused PortableSimhash32 equals the composed HOF spelling bit-for-bit") {
    // real documents (incl. zh/multibyte) + the empty token set (the
    // explicit 0 sentinel both forms must share) — the fused sign-fold
    // must match the aggregate/zip_with chain the q83 DuckDB text replays
    val th = Tables.table(spark, TestSpark.sf0001, "documents")
      .select(array_distinct(TextDedup.portableShingleHashes(col("text"), 1)).as("__th"))
      .unionByName(spark.range(1)
        .select(expr("slice(array(1L), 1, 0)").as("__th"))) // empty, containsNull = false
    val diff = th.select(
      TextDedup.portableSimhash32(col("__th")).as("fused"),
      portableSimhash32Composed(col("__th")).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(diff == 0L, s"$diff rows diverged between fused and composed simhash")
  }

  test("fused hash matches composed on inputs split() cannot produce (r10 advice)") {
    // the registered SQL function admits any null-free array<string> —
    // empty arrays must agree with the composed form for every n
    // (n ≥ 2: one hash of ""; n == 1: zero hashes), and arrays WITH
    // nulls must be rejected at type check, not silently hashed
    graft.functions.PortableShingleHash.register(spark)
    for (n <- Seq(1, 2, 3)) {
      // slice(split(…), 1, 0): an EMPTY array that keeps split()'s
      // containsNull = false (array().cast(…) flips it to true and the
      // type check correctly rejects that)
      val diff = spark.range(1)
        .select(expr("slice(split('x', ','), 1, 0)").as("t"))
        .select(
          call_function("portable_shingle_hash", col("t"), lit(n)).as("fused"),
          transform(TextDedup.shingles(col("t"), n),
            s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("composed"))
        .filter(not(col("fused") === col("composed"))).count()
      assert(diff == 0L, s"empty-array divergence at n=$n")
    }
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT portable_shingle_hash(array('a', CAST(NULL AS STRING)), 2)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("without null"))
  }

  test("editDistanceCrossPairs equals the symmetric operator restricted to cross pairs") {
    // real data, both SF slices: the q141 oracle contract in miniature
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val sym = TextDedup.editDistancePairs(docs, "doc_id", "text")
      .filter(col("id_a") < split && col("id_b") >= split)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val cross = TextDedup.editDistanceCrossPairs(
        docs.filter(col("doc_id") < split), docs.filter(col("doc_id") >= split),
        "doc_id", "text")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(cross == sym, s"cross=${cross.size} sym=${sym.size}")
    assert(cross.nonEmpty, "fixture must contain cross-boundary fuzzy pairs")
  }

  test("portableSimhashCrossPairs equals the symmetric operator restricted to cross pairs (q215 identity)") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val sym = TextDedup.portableSimhashPairs(docs, "doc_id", "text")
      .filter(col("id_a") < split && col("id_b") >= split)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val cross = TextDedup.portableSimhashCrossPairs(
        docs.filter(col("doc_id") < split), docs.filter(col("doc_id") >= split),
        "doc_id", "text")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(cross == sym, s"cross=${cross.size} sym=${sym.size} " +
      s"onlyCross=${(cross -- sym).take(3)} onlySym=${(sym -- cross).take(3)}")
    assert(cross.nonEmpty, "fixture must contain cross-boundary simhash pairs")
  }

  test("phashCrossPairs equals the symmetric phashPairs restricted to cross pairs (q217 identity)") {
    import graft.operators.Multimodal
    val imgs = Multimodal.syntheticMedia(spark, TestSpark.sf0001)
      .filter(col("media_type") === "image")
    val variants = Multimodal.resizeMedia(imgs, 18, 16)
      .map(r => r.copy(media_id = r.media_id + 1000000L))(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val sym = Multimodal.phashPairs(Multimodal.phashFeatures(imgs.unionAll(variants)))
      .filter(col("id_a") < 1000000L && col("id_b") >= 1000000L)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val cross = Multimodal.phashCrossPairs(
        Multimodal.phashFeatures(imgs), Multimodal.phashFeatures(variants))
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(cross == sym, s"cross=${cross.size} sym=${sym.size}")
    assert(cross.nonEmpty, "fixture must contain cross original-variant pairs")
  }

  test("simhash expression matches scalar reference and codegen evaluates") {
    val texts = Seq("spark shuffles data across executors", "a b c", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    SimHash64.register(spark)
    val got = df.select(col("id"), call_function("simhash64", split(col("text"), " ")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == SimHash64.referenceOf(t.split(" ").toSeq), s"text $i")
    }
  }

  test("simhash near-dup: hamming of near-identical docs small, distinct docs large") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 3) "CHANGED" else s"w$i").mkString(" ")
    val far = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = TextDedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  // ---------- similarity search ----------

  test("integer-quantized top-k twins match an exact scalar reference (q44/q53 oracle path)") {
    val emb = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    // brute-force twin: top-5 by (score desc, id asc) per query
    val expectBf = (0L until 5L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (q, id, dot(vecs(q), v)) }
        .sortBy { case (_, id, s) => (-s, id) }.take(5)
        .zipWithIndex.map { case ((qq, id, s), i) => (qq, id, s, i + 1) }
    }.toSet
    val gotBf = Similarity.bruteForceTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(gotBf == expectBf)
    // IVF twin: centroids = 16 lowest ids; assignment/probe/rank all by
    // integer dot, ties to the lower centroid / vector id
    val cents = vecs.toSeq.sortBy(_._1).take(16)
    def bestList(v: Array[Long]): Long =
      cents.map { case (cid, cv) => (cid, dot(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.head._1
    val assigned = vecs.map { case (id, v) => id -> bestList(v) }
    val expectIvf = (0L until 5L).flatMap { q =>
      val probes = cents.map { case (cid, cv) => (cid, dot(vecs(q), cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(4).map(_._1).toSet
      vecs.toSeq.filter { case (id, _) => id != q && probes.contains(assigned(id)) }
        .map { case (id, v) => (q, id, dot(vecs(q), v)) }
        .sortBy { case (_, id, s) => (-s, id) }.take(5)
        .zipWithIndex.map { case ((qq, id, s), i) => (qq, id, s, i + 1) }
    }.toSet
    val gotIvf = Similarity.ivfTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", 5,
        nlist = 16, nprobe = 4)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(gotIvf == expectIvf)
    // IVF recall against the brute-force twin does not shrink as nprobe
    // grows, and probing all 16 lists is exhaustive search (recall 1)
    val bfPairs = gotBf.map { case (q, id, _, _) => (q, id) }
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", 5,
          nlist = 16, nprobe = nprobe)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      got.intersect(bfPairs).size.toDouble / bfPairs.size
    }
    val recalls = Seq(2, 4, 16).map(recallAt)
    assert(recalls == recalls.sorted, s"recall must not shrink with more probes: $recalls")
    assert(recalls.last == 1.0, s"full probe recall ${recalls.last}")
  }

  // ---------- text analysis ----------

  test("langId picks the language whose function words dominate") {
    val df = Seq(
      (1L, "the cat sat of the mat and it is that"),
      (2L, "der hund und die katze ist nicht das problem"),
      (3L, "xyzzy plugh")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("quality metrics integer math matches hand computation") {
    val df = Seq((1L, "a bb ccc a")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(df, "text").head()
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Int]("n_distinct") == 3)
    assert(r.getAs[Long]("diversity_pct") == 75L)  // 300/4
    assert(r.getAs[Long]("mean_token_len_tenths") == 17L)  // 7*10/4
  }

  test("fingerprint is stable and shared by identical docs only (on sample)") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents").limit(50)
    val fp1 = docs.select(col("doc_id"), TextAnalysis.fingerprint(docs, col("text")).as("fp")).collect()
    val fp2 = docs.select(col("doc_id"), TextAnalysis.fingerprint(docs, col("text")).as("fp")).collect()
    assert(fp1.map(_.toSeq).toSeq == fp2.map(_.toSeq).toSeq, "deterministic")
    val planted = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val fps = planted.select(TextAnalysis.fingerprint(planted, col("text"))).as[Long].collect()
    assert(fps(0) == fps(1))
  }

  test("portable fingerprint matches a scalar md5 min-k reference (q49 oracle path)") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents").limit(30)
    val got = docs.select(col("doc_id"),
        TextAnalysis.fingerprintPortable(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    texts.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val shingles =
        (0 to math.max(toks.length - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" "))
      val hs = shingles.map(s => java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16))
        .distinct.sorted
      val expect = hs.take(8).sum
      assert(got(id) == expect, s"doc $id")
    }
  }

  test("tfIdfTopTerms matches a scalar tf/df reference (q79 oracle path)") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val got = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._6) -> (r._2, r._3, r._4, r._5)).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    val tf = texts.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, ws) => (id, w, ws.length.toLong) }
    }
    val dfm = tf.groupBy(_._2).map { case (w, xs) => w -> xs.map(_._1).distinct.size.toLong }
    texts.foreach { case (id, _) =>
      val ranked = tf.filter(_._1 == id)
        .map { case (_, w, n) => (w, n, dfm(w), n * 1000 / dfm(w)) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(3)
      ranked.zipWithIndex.foreach { case ((w, n, d, s), i) =>
        assert(got((id, i + 1)) == ((w, n, d, s)), s"doc $id rank ${i + 1}")
      }
    }
  }

  test("repetitionStats matches a scalar bigram reference (q98 oracle path)") {
    val docs = Seq(
      (1L, "a b a b a b"),          // bigrams: "a b"×3, "b a"×2 → 5 total, max 3
      (2L, "x y z"),                // all distinct → 2 total, max 1
      (3L, "w")                     // single token → one 1-token shingle
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text", shingleN = 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((5L, 3L, 600L)))
    assert(got(2L) == ((2L, 1L, 500L)))
    assert(got(3L) == ((1L, 1L, 1000L)))
  }

  test("TableProfile counts nulls, cardinalities and ranges exactly") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (None, Some("a")), (Some(2L), Some("c"))
    ).toDF("k", "s")
    val prof = graft.operators.TableProfile.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(prof("k") == ((4L, 1L, 2L, "1", "2")))
    assert(prof("s") == ((4L, 1L, 2L, "a", "c")))
  }

  test("sketchProfile: exact nulls/rows, HLL estimate within bound (r10)") {
    import graft.operators.TableProfile
    // 20k distinct keys (raw-HLL regime) + a null-bearing string column
    val df = (1 to 20000).map(i => (i.toLong, if (i % 4 == 0) None else Some(s"v${i % 7}")))
      .toDF("k", "s")
    val prof = TableProfile.sketchProfile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = prof("k")
    assert(k.getAs[Long]("n_rows") == 20000L && k.getAs[Long]("n_null") == 0L)
    val est = k.getAs[Long]("est_distinct").toDouble
    val sigma = 1.04 / math.sqrt(graft.operators.Sketches.HllM.toDouble)
    assert(math.abs(est - 20000) / 20000 <= 4 * sigma, s"est $est vs 20000")
    // null sentinel: exact null count, registers untouched by null rows
    val s = prof("s")
    assert(s.getAs[Long]("n_rows") == 20000L && s.getAs[Long]("n_null") == 5000L)
    // 7 distinct non-null values ⇒ at most 7 occupied buckets
    assert(s.getAs[Long]("n_buckets") <= 7L)
  }

  test("portablePairStats finds planted near-dups via affine-minhash banding (q82 oracle path)") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val near = (1 to 80).map(i => if (i == 5) "CHANGED" else s"tok$i").mkString(" ")
    val far = (200 to 280).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val got = TextDedup.portablePairStats(df, "doc_id", "text")
      .filter(col("n_inter") * 10 >= col("n_union") * 9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
    // verification counts are exact distinct-shingle-set overlaps
    val stats = TextDedup.portablePairStats(df, "doc_id", "text")
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .select("n_inter", "n_union").as[(Long, Long)].head()
    // 80 tokens → 78 3-gram shingles; the changed token touches 3 of
    // them → intersection 75, union 78 + 3 = 81
    assert(stats._1 == 75L && stats._2 == 81L, s"stats $stats")
  }

  test("portableCrossPairStats equals the symmetric pipeline restricted to cross pairs (q124 oracle path)") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val sym = TextDedup.portablePairStats(docs, "doc_id", "text")
      .filter(col("id_a") < split && col("id_b") >= split)
      .select("id_a", "id_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    val cross = TextDedup.portableCrossPairStats(
        docs.filter(col("doc_id") < split), docs.filter(col("doc_id") >= split),
        "doc_id", "text")
      .select("id_a", "id_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(cross.nonEmpty, "the sf0.001 corpus must contain cross-split candidates")
    assert(cross == sym, s"asymmetric pair set diverged: only-cross=${cross -- sym}, only-sym=${sym -- cross}")
    // a planted incoming near-dup of an existing doc is found
    val existing = docs.filter(col("doc_id") < split)
    val planted = docs.filter(col("doc_id") === 0L)
      .select(lit(999999L).as("doc_id"), col("text"))
    val found = TextDedup.portableCrossPairStats(existing, planted, "doc_id", "text")
      .filter(col("n_inter") === col("n_union")) // identical text → J = 1
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 999999L)), s"planted dup not found: $found")
  }

  test("portableCrossEmbedPairs equals the symmetric pipeline restricted to cross pairs (q125 oracle path)") {
    val vecs = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val split = 400L
    val sym = graft.operators.Similarity.portableEmbedPairs(vecs, "vec_id", "embedding",
        minScore = 25000000L)
      .filter(col("id_a") < split && col("id_b") >= split)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)].collect().toSet
    val cross = graft.operators.Similarity.portableCrossEmbedPairs(
        vecs.filter(col("vec_id") < split), vecs.filter(col("vec_id") >= split),
        "vec_id", "embedding", minScore = 25000000L)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)].collect().toSet
    assert(cross.nonEmpty, "the sf0.001 embeddings must contain cross-split candidates")
    assert(cross == sym, s"asymmetric pair set diverged: only-cross=${(cross -- sym).take(5)}, only-sym=${(sym -- cross).take(5)}")
  }

  test("portableCrossEmbedPairs under MULTI-PROBE equals the probed symmetric pipeline restricted to cross pairs (q125 oracle path, round 13)") {
    // the shipped q125 config runs probed — the oracle identity must hold
    // there too: combined-occupancy cap on the home side of both
    // directional probe joins = the symmetric pipeline's home-bucket cap
    val vecs = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val split = 400L
    val sym = graft.operators.Similarity.portableEmbedPairs(vecs, "vec_id", "embedding",
        minScore = 25000000L, tables = 2, bits = 6, probes = 6)
      .filter(col("id_a") < split && col("id_b") >= split)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)].collect().toSet
    val cross = graft.operators.Similarity.portableCrossEmbedPairs(
        vecs.filter(col("vec_id") < split), vecs.filter(col("vec_id") >= split),
        "vec_id", "embedding", minScore = 25000000L, tables = 2, bits = 6, probes = 6)
      .select("id_a", "id_b", "score").as[(Long, Long, Long)].collect().toSet
    assert(cross.nonEmpty, "the probed sf0.001 embeddings must contain cross-split candidates")
    assert(cross == sym, s"probed asymmetric pair set diverged: only-cross=${(cross -- sym).take(5)}, only-sym=${(sym -- cross).take(5)}")
  }

  test("portableSimhashPairs: near-identical docs pair, disjoint docs don't (q83 oracle path)") {
    // an APPENDED token shifts each bit's sign-sum by ±1 (a swapped one
    // shifts ±2 and with these fixed hashes lands at hamming 4 — just
    // outside the twin's ≤3 pigeonhole bound; everything here is
    // deterministic: same fixed inputs → same result every run)
    val base = (1 to 400).map(i => s"w$i").mkString(" ")
    val near = base + " EXTRA"
    val far = (1200 to 1600).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = TextDedup.portableSimhashPairs(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // signature is a scalar integer reproducible by hand
    val th = df.filter(col("doc_id") === 1L).select(
      array_distinct(transform(split(col("text"), " "),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))).as("__th"))
    val sparkSig = th.select(TextDedup.portableSimhash32(col("__th"))).as[Long].head()
    val hashes = base.split(" ").distinct.map { t =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val expected = (0 until 32).map { b =>
      if (hashes.map(h => ((h >>> b) & 1L) * 2 - 1).sum >= 0) 1L << b else 0L
    }.sum
    assert(sparkSig == expected)
  }

  test("portableEmbedPairs: candidates bucket-join, scores exact integer dots (q84 oracle path)") {
    val emb = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val got = Similarity.portableEmbedPairs(emb, "vec_id", "embedding", minScore = 25000000L)
      .as[(Long, Long, Long)].collect()
    // every reported score must equal the scalar quantized dot product
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray)
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (a, b, s) =>
      val expect = vecs(a).indices.map(i => vecs(a)(i) * vecs(b)(i)).sum
      assert(s == expect && s >= 25000000L, s"pair ($a,$b)")
    }
    // a planted identical pair always collides in every table and scores
    // the full self-dot
    val dup = emb.limit(1).select(lit(99999L).as("vec_id"), col("embedding"))
    val withDup = emb.select(col("vec_id"), col("embedding")).unionByName(dup)
    val planted = Similarity.portableEmbedPairs(withDup, "vec_id", "embedding", minScore = 25000000L)
      .filter(col("id_b") === 99999L).as[(Long, Long, Long)].collect()
    val firstId = emb.select(min("vec_id")).head().getLong(0)
    assert(planted.exists(_._1 == firstId), "identical vector must pair with its source")
  }

  test("recommendedBits: occupancy-targeted LSH width grows with log2(n)") {
    // the pinned oracle defaults are the rule's output at the tested scale
    assert(Similarity.recommendedBits(2000, 32) == 6,
      "portableEmbedPairs' bits=6 default = rule at sf0.1's 2,000 vectors")
    assert(Similarity.recommendedBits(2000, 8) == 8,
      "rule at search occupancy 8 (recommendedSearchPoint's bits at sf0.1)")
    // 1000x the corpus needs ~log2(1000) = 10 more bits, same occupancy
    assert(Similarity.recommendedBits(2L * 1000 * 1000, 32) == 16)
    // clamped at both ends
    assert(Similarity.recommendedBits(1, 32) == 4)
    assert(Similarity.recommendedBits(2L * 1000 * 1000 * 1000, 32) == 24)
  }

  test("upsertLatest keeps the highest version per key and passes base rows through") {
    val base = Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c")).toDF("k", "v", "payload")
    val upd = Seq((2L, 2L, "b2"), (3L, 3L, "c3"), (4L, 1L, "d")).toDF("k", "v", "payload")
    val got = graft.operators.Scale.upsertLatest(base, upd, "k", "v")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, "a"), (2L, 2L, "b2"), (3L, 3L, "c3"), (4L, 1L, "d")))
  }

  test("subword count estimate: long words cost extra units") {
    val got = spark.sql("SELECT 1").select(
      TextAnalysis.subwordCountEstimate(lit("hi extraordinarily ok")).as("n"))
      .as[Int].head()
    // hi=1, extraordinarily(15 chars)=1+ceil(11/4)=4, ok=1 → 6
    assert(got == 6)
  }

  // ---------- multimodal ----------

  test("multimodal decode: real container dims, deterministic") {
    val media = Multimodal.syntheticMedia(spark, TestSpark.sf0001)
    val feats = Multimodal.decodeFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 500)
    // real containers since r10: image dims are the encoded BMP's (small),
    // audio width/height are (channels, bits) — all ≥ 1, frames ≥ 1
    assert(rows.forall(f => f.width >= 1 && f.height >= 1 && f.n_frames >= 1))
    // determinism across runs
    val again = Multimodal.decodeFeatures(media).collect()
    assert(rows.sortBy(_.media_id).toSeq == again.sortBy(_.media_id).toSeq)
  }

  test("RealCodec round-trips known fixtures byte-exactly (r10)") {
    import graft.operators.Multimodal.RealCodec
    // 3×2 BMP with known pixel values → exact dims + exact mean
    val pix = Array(Array(10, 20, 30), Array(40, 50, 60)) // [y][x]
    val bmp = RealCodec.encodeBmp(3, 2, (x, y) => pix(y)(x))
    val (bw, bh, bMean) = RealCodec.decodeBmp(bmp)
    assert((bw, bh) == (3, 2))
    assert(bMean == (10 + 20 + 30 + 40 + 50 + 60) / 6.0) // channels repeat the gray value
    // 2×2 P6 PPM
    val ppm = RealCodec.encodePpm(2, 2, (x, y) => 100 + x + 10 * y)
    val (pw, ph, pMean) = RealCodec.decodePpm(ppm)
    assert((pw, ph) == (2, 2))
    assert(pMean == (100 + 101 + 110 + 111) / 4.0)
    // 8-sample mono 8-bit WAV → 8 frames, exact mean
    val wav = RealCodec.encodeWav(8000, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7))
    val (ch, bits, frames, wMean) = RealCodec.decodeWav(wav)
    assert((ch, bits, frames) == (1, 8, 8))
    assert(wMean == (0 + 1 + 2 + 3 + 4 + 5 + 6 + 7) / 8.0)
    // a BMP decoded through the full pipeline row reports the real dims
    val feats = RealCodec.decode(graft.operators.Multimodal.MediaRow(1L, "image", bmp, "s"))
    assert((feats.width, feats.height, feats.n_frames) == (3, 2, 1))
  }

  test("RealCodec AVI: round-trip, frame count cross-check, RIFF dispatch (r10)") {
    import graft.operators.Multimodal.RealCodec
    // 3×2 × 4 frames; pixel value encodes (x, y, frame) uniquely
    val avi = RealCodec.encodeAvi(3, 2, 4, (x, y, f) => x + 10 * y + 50 * f)
    val (w, h, frames, mean) = RealCodec.decodeAvi(avi)
    assert((w, h, frames) == (3, 2, 4))
    // exact mean over the movi payload: 3 channel bytes per pixel plus
    // the 3 zero pad bytes per 9-byte row (rowSize 12) — pads add to the
    // denominator (frameSize = 12·2 = 24 bytes) but not the sum
    val exactSum = (for { f <- 0 until 4; y <- 0 until 2; x <- 0 until 3 }
      yield 3L * ((x + 10 * y + 50 * f) & 0xff)).sum
    assert(mean == exactSum.toDouble / (4L * 24))
    // RIFF dispatch: WAV and AVI both start "RIFF" — decode() must route
    // by the form type, not the outer magic
    val wav = RealCodec.encodeWav(8000, Array[Byte](1, 2, 3, 4))
    val vRow = RealCodec.decode(graft.operators.Multimodal.MediaRow(2L, "video", avi, "s"))
    assert((vRow.width, vRow.height, vRow.n_frames) == (3, 2, 4))
    val aRow = RealCodec.decode(graft.operators.Multimodal.MediaRow(3L, "audio", wav, "s"))
    assert((aRow.width, aRow.height, aRow.n_frames) == (1, 8, 4)) // ch, bits, frames
    // a frame-count mismatch between avih and movi must throw, not lie
    val lying = avi.clone()
    val bb = java.nio.ByteBuffer.wrap(lying).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12 + 12 + 8 + 16, 7) // dwTotalFrames := 7
    intercept[IllegalArgumentException](RealCodec.decodeAvi(lying))
  }

  test("RealCodec PNG: zlib round-trip through all five filters, CRC gate (r10)") {
    import graft.operators.Multimodal.RealCodec
    // height 7 ⇒ the encoder's row%5 filter cycle hits every filter type
    // (None/Sub/Up/Average/Paeth) at least once; pixel pattern has both
    // horizontal and vertical gradients so non-trivial filters actually
    // transform the bytes
    val png = RealCodec.encodePng(11, 7, (x, y) => (x * 23 + y * 57) & 0xff)
    val (w, h, mean) = RealCodec.decodePng(png)
    assert((w, h) == (11, 7))
    val exact = (for { y <- 0 until 7; x <- 0 until 11 }
      yield ((x * 23 + y * 57) & 0xff).toLong).sum
    assert(mean == exact.toDouble / (11 * 7)) // filters fully reversed
    // the compressed container is genuinely DEFLATEd, not stored raw
    assert(png.length < 8 + 25 + 12 + 7 * 12 + 12)
    // decode() dispatches PNG by magic
    val feats = RealCodec.decode(graft.operators.Multimodal.MediaRow(4L, "image", png, "s"))
    assert((feats.width, feats.height, feats.n_frames) == (11, 7, 1))
    // a flipped payload bit must fail the chunk CRC, not decode quietly
    val tampered = png.clone()
    tampered(8 + 25 + 8 + 3) = (tampered(8 + 25 + 8 + 3) ^ 0x40).toByte
    intercept[IllegalArgumentException](RealCodec.decodePng(tampered))
    // 8-bit truecolor decodes too (hand-built: filter-0 rows, 3 channels)
    val rgb = {
      import java.util.zip.{CRC32, Deflater}
      val (tw, th) = (2, 2)
      val raw = Array[Byte](0, 10, 20, 30, 40, 50, 60, 0, 70, 80, 90, 100, 110, 120)
      val d = new Deflater(); d.setInput(raw); d.finish()
      val zb = new Array[Byte](256); val zn = d.deflate(zb); d.end()
      val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + zn + 12)
      out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      def chunk(t: String, data: Array[Byte]): Unit = {
        out.putInt(data.length).put(t.getBytes("US-ASCII")).put(data)
        val c = new CRC32(); c.update(t.getBytes("US-ASCII")); c.update(data)
        out.putInt(c.getValue.toInt); ()
      }
      chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(tw).putInt(th)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array())
      chunk("IDAT", java.util.Arrays.copyOf(zb, zn))
      chunk("IEND", Array.emptyByteArray)
      out.array()
    }
    val (rw, rh, rMean) = RealCodec.decodePng(rgb)
    assert((rw, rh) == (2, 2))
    assert(rMean == (10 + 20 + 30 + 40 + 50 + 60 + 70 + 80 + 90 + 100 + 110 + 120) / 12.0)
  }

  test("approximate aggregates land within documented error of exact") {
    Tables.register(spark, TestSpark.sf0001)
    val rows = spark.sql(
      "SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS exact_n, " +
        "APPROX_COUNT_DISTINCT(o_orderkey, 0.01) AS approx_n FROM orders GROUP BY o_custkey")
      .collect()
    // rsd 0.01 keeps small cardinalities in the exact sparse regime
    // (default 0.05 measured off-by-2 on a cardinality of 8)
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact) <= exact * 0.05 + 1, s"cust ${r.get(0)}: $approx vs $exact")
    }
    val med = spark.sql(
      "SELECT APPROX_PERCENTILE(o_totalprice, 0.5) AS m FROM orders").head().getDouble(0)
    val exactMed = spark.sql(
      "SELECT PERCENTILE(o_totalprice, 0.5) AS m FROM orders").head().getDouble(0)
    assert(math.abs(med - exactMed) / exactMed < 0.05)
  }

  test("q36 survivors count equals distinct-text count") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val survivors = TextDedup.dedupExactByHash(docs, "doc_id", "text").count()
    val distinct = docs.select("text").distinct().count()
    assert(survivors == distinct)
  }

  test("normalize lowercases, strips punctuation, collapses whitespace") {
    val df = spark.range(1).select(
      TextAnalysis.normalize(lit("  Hello, WORLD!!  it's  42%  done ")).as("n"))
    assert(df.head().getString(0) == "hello world its 42 done")
  }

  test("redactPii masks emails and long digit runs, leaves short numbers") {
    val df = spark.range(1).select(
      TextAnalysis.redactPii(lit("mail a.b+c@x-y.org or call 55512345678 ext 42")).as("r"))
    assert(df.head().getString(0) == "mail <EMAIL> or call <NUM> ext 42")
  }

  test("contaminationScores finds the planted benchmark overlap") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"),
      (3L, "alpha beta unrelated words")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val scores = TextDedup.contaminationScores(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores == Map(1L -> 3L, 2L -> 0L, 3L -> 2L))
  }

  test("connectedComponents matches a scalar union-find on a planted graph") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 + bridge 12-13, pair 20-21;
    // vertex 30 has a self-contained pair with 31
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 13L), (20L, 21L), (31L, 30L)).toDF("src", "dst")
    // default params take the driver-local regime at this size; assert it
    // AND the forced-distributed loop both match the scalar reference
    val got = TextDedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotDist = TextDedup.connectedComponents(edges, localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == gotDist, "local and distributed CC regimes diverged")
    // scalar reference: union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (12L, 13L), (20L, 21L), (31L, 30L)).foreach { case (a, b) => parent(find(a)) = find(b) }
    val groups = parent.keys.groupBy(find).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m) }
    assert(got == groups)
    // min-id labeling: the chain 1-2-3-4 all label 1 even though 1 and 4
    // never share an edge — the transitivity dedupNear cannot see
    assert(got(4L) == 1L && got(13L) == 10L)
  }

  test("connectedComponents matches union-find on random graphs") {
    // shapes that exercise the loop hard: long chains (many rounds),
    // dense cliques, bridges, singleton pairs — randomized so no
    // planted shape hides a propagation bug (added round 15 while the
    // contraction experiment was live; kept as the stronger guard)
    import spark.implicits._
    val rng = new scala.util.Random(19L)
    for (trial <- 1 to 3) {
      val chain = (0 until 120).map(i => (trial * 10000L + i, trial * 10000L + i + 1))
      val cliques = (0 until 4).flatMap { c =>
        val base = trial * 10000L + 1000 + c * 100
        for (i <- 0 until 12; j <- i + 1 until 12 if rng.nextBoolean())
          yield (base + i, base + j)
      }
      val randEdges = (0 until 150).map { _ =>
        (trial * 10000L + rng.nextInt(2000), trial * 10000L + rng.nextInt(2000))
      }.filter { case (a, b) => a != b }
      val all = chain ++ cliques ++ randEdges
      // localMaxEdges = 0 forces the distributed loop — the regime this
      // test exists to exercise (the local regime is union-find itself,
      // pinned separately in CcContractionSpec)
      val got = TextDedup.connectedComponents(all.toDF("src", "dst"), localMaxEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      all.foreach { case (a, b) => parent(find(a)) = find(b) }
      val expect = parent.keys.groupBy(find).flatMap { case (_, vs) =>
        val m = vs.min; vs.map(_ -> m) }
      assert(got == expect, s"trial $trial: CC diverged from union-find")
    }
  }

  test("dedupNearTransitive keeps exactly one survivor per near-dup cluster") {
    import spark.implicits._
    // A≈B≈C chain (B bridges A and C), D distinct
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta theta eta"),
      (4L, "totally different words here nothing shared")).toDF("doc_id", "text")
    val kept = TextDedup.dedupNearTransitive(docs, "doc_id", "text",
      threshold = 0.3, shingleN = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), s"got $kept")
  }

  test("q157 bigram-LM score matches the hand-computed conditional probabilities") {
    import spark.implicits._
    // Fixture: docs 1-3 = "x y x y" (bigrams (x,y),(y,x),(x,y)); doc 4 =
    // "x z" — a low-probability continuation after the common prefix x.
    //   c2: (x,y)=6, (y,x)=3, (x,z)=1; c1 (prefix occurrences): x=7, y=3
    //   P(y|x) = 60000 DIV 7 = 8571; P(x|y) = 10000; P(z|x) = 1428
    //   docs 1-3: (8571 + 10000 + 8571) DIV 3 = 9047; doc 4: 1428
    val dir = java.nio.file.Files.createTempDirectory("graft_q157").toString
    Seq((1L, "x y x y", "en", "s1", 7L), (2L, "x y x y", "en", "s1", 7L),
      (3L, "x y x y", "en", "s1", 7L), (4L, "x z", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q157_bigram_lm")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (3L, 9047L) && got(2L) == (3L, 9047L) && got(3L) == (3L, 9047L))
    assert(got(4L) == (1L, 1428L))
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("q170 perplexity gate matches hand-computed integer surprisal (round 11)") {
    import spark.implicits._
    // Same fixture as the q157 test: c2 (x,y)=6, (y,x)=3, (x,z)=1; c1
    // x=7, y=3. Surprisal bits = length(bin(c1 DIV c2)):
    //   (x,y): 7 DIV 6 = 1  → 1 bit;  (y,x): 3 DIV 3 = 1 → 1 bit
    //   (x,z): 7 DIV 1 = 7  → bin "111" → 3 bits
    // docs 1-3: n=3, bits=3, ppl_bp = 10000; doc 4: n=1, bits=3,
    // ppl_bp = 30000 — all under the gate, doc 4 ranked first (desc).
    val dir = java.nio.file.Files.createTempDirectory("graft_q170").toString
    Seq((1L, "x y x y", "en", "s1", 7L), (2L, "x y x y", "en", "s1", 7L),
      (3L, "x y x y", "en", "s1", 7L), (4L, "x z", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q170_ppl_gate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.head == ((4L, 1L, 3L, 30000L)), s"got ${rows.head}")
    assert(rows.drop(1).toSet == Set((1L, 3L, 3L, 10000L), (2L, 3L, 3L, 10000L), (3L, 3L, 3L, 10000L)))
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  /** INDEPENDENT md5 split, JVM MessageDigest — shares no code with the
    * engine's conv(substr(md5)) column spelling (q178/q179 references). */
  private def md5Head(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  test("q178 split leakage matches the independent md5-split scalar reference (round 11)") {
    import spark.implicits._
    // 10 planted pairs of IDENTICAL adjacent docs (jaccard 1.0 — every
    // minhash band collides) with token sets disjoint across pairs, so
    // the candidate set is exactly the planted pairs. Expected leaks =
    // the pairs the independent splitter puts on opposite sides
    // (ids 8/9, 16/17, 18/19 — precomputed, asserted non-degenerate).
    def split(id: Long): String = if (md5Head(id) % 100 < 80) "train" else "test"
    val docs = (0 until 10).flatMap { i =>
      val text = (0 until 6).map(j => s"w${i}_$j").mkString(" ")
      Seq((2L * i, text), (2L * i + 1, text))
    }.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_q178").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q178_split_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 10).map(i => (2L * i, 2L * i + 1))
      .filter { case (a, b) => split(a) != split(b) }
      .map { case (a, b) => if (split(a) == "test") (a, b) else (b, a) }.toSet
    assert(want.nonEmpty, "fixture degenerate: no cross-split pair planted")
    assert(got == want, s"got $got want $want")
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("q183 streaming leakage equals the incremental q181 on closed input") {
    val dir = TestSpark.sf0001
    val want = SparkEntry.queries("q181_incremental_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = SparkEntry.queries("q183_stream_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"got $got want $want")
  }

  test("q181 incremental leakage equals the symmetric q178 restricted to cross-boundary pairs") {
    // the q175 discipline: the asymmetric batch-vs-corpus plan must find
    // exactly the symmetric pipeline's pairs straddling the id split
    val dir = TestSpark.sf0001
    val sym = SparkEntry.queries("q178_split_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sym.length < 100, "fixture outgrew the LIMIT — subset logic invalid")
    val want = sym.filter { case (t, tr, _, _) =>
      math.min(t, tr) < 400L && math.max(t, tr) >= 400L }.toSet
    val got = SparkEntry.queries("q181_incremental_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"got $got want $want")
  }

  test("q182 release gate matches the scalar composition on the planted fixture (round 11)") {
    import spark.implicits._
    // the q178 fixture again: identical-doc pairs at ids (2i, 2i+1).
    // Scalar composition: leaked train twins out, 30% token budget over
    // the decontaminated train split. Every doc has 6 tokens and
    // n_chars < 100, so weight = 1 and priority = md5Head(id).
    def split(id: Long): String = if (md5Head(id) % 100 < 80) "train" else "test"
    val ids = (0 until 10).flatMap(i => Seq(2L * i, 2L * i + 1))
    val docs = (0 until 10).flatMap { i =>
      val text = (0 until 6).map(j => s"w${i}_$j").mkString(" ")
      Seq((2L * i, text), (2L * i + 1, text))
    }.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_q182").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val leaked = (0 until 10).map(i => (2L * i, 2L * i + 1))
      .filter { case (a, b) => split(a) != split(b) }
      .map { case (a, b) => if (split(a) == "test") b else a }.toSet
    val train = ids.filter(id => split(id) == "train" && !leaked.contains(id))
    val tot = 6L * train.size
    val ordered = train.sortBy(id => (md5Head(id), id))
    val kept = ordered.zipWithIndex.takeWhile { case (_, i) => (i + 1) * 6L * 100 <= tot * 30 }
    val want = ("en", kept.size.toLong, kept.size * 6L, tot,
      kept.size * 6L * 10000 / tot, leaked.size.toLong)
    val got = SparkEntry.queries("q182_decon_release")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(want), s"got ${got.toSeq} want $want")
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("q179 budget mix matches a scalar reference over planted priorities (round 11)") {
    import spark.implicits._
    // two languages, controlled token counts; the scalar reference sorts
    // by the independently-computed (prio, doc_id), keeps the inclusive-
    // cumsum ≤ 30% prefix, and aggregates — no Spark machinery shared.
    case class D(id: Long, text: String, lang: String, nChars: Long) {
      def nToks: Long = text.split(" ").length.toLong
      def prio: Long = md5Head(id) / (nChars / 100 + 1)
    }
    val docs = (1L to 12L).map { id =>
      val toks = (0 until (3 + (id % 5)).toInt).map(j => s"t${id}_$j")
      D(id, toks.mkString(" "), if (id <= 6) "en" else "fr", id * 37 % 400 + 50)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_q179").toString
    docs.map(d => (d.id, d.text, d.lang, "s1", d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val want = docs.groupBy(_.lang).flatMap { case (lang, ds) =>
      val tot = ds.map(_.nToks).sum
      val ordered = ds.sortBy(d => (d.prio, d.id))
      val kept = ordered.zip(ordered.scanLeft(0L)(_ + _.nToks).tail)
        .filter { case (_, cum) => cum * 100 <= tot * 30 }.map(_._1)
      if (kept.isEmpty) None
      else Some(lang -> ((kept.size.toLong, kept.map(_.nToks).sum, tot,
        kept.map(_.nToks).sum * 10000 / tot)))
    }
    val got = SparkEntry.queries("q179_budget_mix")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, s"got $got want $want")
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("q180 dedup audit matches the hand-computed cluster histogram (round 11)") {
    import spark.implicits._
    // cluster {1,2,3} via the adjacent chain, {10,11}, singleton 20;
    // dup_chars = Σchars − max per cluster: (10+20+15)−20=25, (9+9)−9=9
    val a = "a b c d e f"; val p = "p q r s t u"
    val docs = Seq(
      (1L, a, "en", "s1", 10L), (2L, a, "en", "s1", 20L), (3L, a, "en", "s1", 15L),
      (10L, p, "en", "s1", 9L), (11L, p, "en", "s1", 9L),
      (20L, "x y z w v u2", "en", "s1", 7L))
    val dir = java.nio.file.Files.createTempDirectory("graft_q180").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q180_dedup_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 1L, 1L, 0L), (2L, 1L, 2L, 9L), (3L, 1L, 3L, 25L)), s"got $got")
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("q184 benchmark scrub removes every training occurrence of benchmark spans (round 11)") {
    import spark.implicits._
    // doc 0 is the benchmark (0 % 97 == 0): "a..h x y" (k=8 windows at
    // pos 0,1,2). doc 1 embeds the benchmark's first 8-gram at pos 1 →
    // coverage 1..8 removed (NO canonical exemption across the
    // boundary); doc 2 is disjoint; doc 3 is sub-k (exempt, reported).
    val docs = Seq(
      (0L, "a b c d e f g h x y"),
      (1L, "z a b c d e f g h w"),
      (2L, "p q r s t u v w2 x2 j"),
      (3L, "p q r")
    ).map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_q184").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q184_benchmark_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((10L, 8L, 2000L)),
      2L -> ((10L, 0L, 10000L)),
      3L -> ((3L, 0L, 10000L))), s"got $got")
    Tables.register(spark, TestSpark.sf0001) // rebind views for later specs
  }

  test("span dedup (q173/q174) matches hand-computed sharing and removal") {
    import spark.implicits._
    // doc 1: 10 tokens; doc 2 embeds doc 1's first 8-gram at pos 1;
    // doc 3 is identical to doc 1 (all three of its 8-windows shared).
    val docs = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "z a b c d e f g h w"),
      (3L, "a b c d e f g h x y"),
      (4L, "p q r")   // sub-k: excluded from spans, still reported by q174
    ).toDF("doc_id", "text")
    val spans = TextDedup.sharedSpanStats(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // (n_occ, n_docs, canon_doc, canon_pos): "a..h" ×3 docs; doc1/doc3's
    // windows at pos 1 and 2 shared pairwise
    assert(spans == Set((3L, 3L, 1L, 0L), (2L, 2L, 1L, 1L), (2L, 2L, 1L, 2L)))
    val rm = TextDedup.spanRemovalStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rm(1L) == ((10L, 0L, 10000L)))  // canonical everywhere
    assert(rm(2L) == ((10L, 8L, 2000L)))   // pos 1..8 covered
    assert(rm(3L) == ((10L, 10L, 0L)))     // 0..7 ∪ 1..8 ∪ 2..9 = all
    assert(rm(4L) == ((3L, 0L, 10000L)))   // sub-k: exempt, fully kept
  }

  test("incremental and streaming span removal equal the symmetric operator restricted to incoming (q175/q176)") {
    import spark.implicits._
    val d = Tables.table(spark, TestSpark.sf0001, "documents")
    val split = 400L
    val want = TextDedup.spanRemovalStats(d, "doc_id", "text")
      .filter(col("doc_id") >= split).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val cross = TextDedup.spanRemovalStatsCross(
        d.filter(col("doc_id") < split), d.filter(col("doc_id") >= split),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(want.nonEmpty && cross == want,
      "merged-index incremental removal must equal the symmetric operator on the batch split")
    val stream = SparkEntry.queries("q176_stream_spans")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stream == want.toSeq.sortBy(_._1).take(100).toMap,
      "streaming span scoring must equal the batch answer on the closed input")
  }

  test("q172 streaming ppl gate equals q171 incremental on the closed input") {
    // streaming = batch contract, pinned Spark-side (the oracle proves it
    // cross-engine): both score the incoming half against the full model.
    val inc = SparkEntry.queries("q171_ppl_incremental")(spark, TestSpark.sf0001)
      .collect().toSeq
    val str = SparkEntry.queries("q172_ppl_stream")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(inc.nonEmpty, "fixture produced an empty gate — threshold drifted")
    assert(inc == str)
  }

  test("BPE: hand-computed merges and fertility on a fixture; deterministic on real docs") {
    import spark.implicits._
    import graft.operators.Bpe
    val docs = Seq((1L, "aa aa ab"), (2L, "aa ab ab")).toDF("doc_id", "text")
    // histogram: aa:3, ab:3; symbols aa=[a,a,</w>], ab=[a,b,</w>]; all
    // four pairs count 3, so the deterministic tie-break drives every
    // pick: merge0 = (a, </w>) ("</w>" sorts before "a"/"b"), then
    // merge1 = (a, a</w>)
    val merges = Bpe.train(docs, "text", nMerges = 2)
    assert(merges == Seq(Bpe.Merge("a", "</w>", 0), Bpe.Merge("a", "a</w>", 1)))
    // "aa" → [a,a,</w>] → rank0 at i=1 → [a, a</w>] → rank1 → [aa</w>]
    // = 1 subword; "ab" → [a,b,</w>] has no learned pair → 3 subwords
    val stats = Bpe.segmentStats(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stats(1L) == (3L, 5L, 16666L)) // aa aa ab → 1+1+3
    assert(stats(2L) == (3L, 7L, 23333L)) // aa ab ab → 1+3+3
    // determinism on the real corpus: training twice is byte-identical,
    // segmentation twice row-identical
    val d = Tables.table(spark, TestSpark.sf0001, "documents")
    val m1 = Bpe.train(d, "text", nMerges = 20)
    val m2 = Bpe.train(d, "text", nMerges = 20)
    assert(m1 == m2 && m1.size == 20)
    val s1 = Bpe.segmentStats(d, "doc_id", "text", m1).orderBy("doc_id").collect().toSeq
    val s2 = Bpe.segmentStats(d, "doc_id", "text", m1).orderBy("doc_id").collect().toSeq
    assert(s1 == s2 && s1.nonEmpty)
    // fertility floor: at least one subword per token
    s1.foreach(r => assert(r.getLong(3) >= 10000L))
  }

  test("q164 flags exactly the planted spike hour (semantic pin, not just cross-engine)") {
    import spark.implicits._
    // 30 steady hours (10/12 events alternating) then one 100-event hour:
    // only that hour may flag; the first 12 hours lack history (cnt < 12)
    val base = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    val rows = (0 until 31).flatMap { h =>
      val n = if (h == 30) 100 else if (h % 2 == 0) 10 else 12
      (0 until n).map { i =>
        (h.toLong * 1000 + i, new java.sql.Timestamp(base.getTime + h * 3600000L + i * 1000L),
          1L, "click", 1.0, "{}")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_q164").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    Tables.register(spark, dir)
    val got = spark.sql(Corpus.byId("q164_rate_anomaly").sparkSql)
      .collect().map(r => r.getTimestamp(0) -> r.getInt(6)).toMap
    val spikes = got.filter(_._2 == 1).keys.toSeq
    assert(spikes == Seq(new java.sql.Timestamp(base.getTime + 30 * 3600000L)),
      s"spike hours: $spikes")
    Tables.register(spark, TestSpark.sf0001)
  }

  test("q169 quotas are proportional to isqrt(n) and selection honors them (semantic pin)") {
    import spark.implicits._
    // langs aa:100 docs, bb:400 docs → weights 10, 20 → quotas 33, 66
    val docs = ((0 until 100).map(i => (i.toLong, s"t $i", "aa", "s", 3L)) ++
      (100 until 500).map(i => (i.toLong, s"t $i", "bb", "s", 3L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_q169").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Tables.register(spark, dir)
    // the declared text LIMITs to 100; lift it for the full-selection pin
    val full = spark.sql(Corpus.byId("q169_temperature_mix").sparkSql
      .replace("LIMIT 100", "LIMIT 1000"))
      .collect().map(r => (r.getString(0), r.getLong(4)))
    val perLang = full.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang == Map("aa" -> 33, "bb" -> 66), s"got $perLang")
    assert(full.filter(_._1 == "aa").forall(_._2 == 33L))
    assert(full.filter(_._1 == "bb").forall(_._2 == 66L))
    Tables.register(spark, TestSpark.sf0001)
  }

  test("q161 merged-model scoring equals full-model scoring on the batch split") {
    // the incremental entry (corpus counts + batch counts merged key-wise)
    val got = SparkEntry.queries("q161_incremental_lm")(spark, TestSpark.sf0001)
      .collect().toSeq
    // independent reference: the FULL model over all documents in the
    // COMPOSED conv(substr(md5)) spelling (also re-pins the fused-hash
    // equivalence), restricted to batch ids before the top-100 cut
    Tables.register(spark, TestSpark.sf0001)
    val ref = spark.sql(
      "WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM documents " +
        "WHERE size(split(text, ' ')) >= 2), " +
        "st AS (SELECT doc_id, " +
        "CAST(conv(substring(md5(concat(element_at(t, i), ' ', element_at(t, i + 1))), 1, 8), 16, 10) AS BIGINT) AS k, " +
        "CAST(conv(substring(md5(element_at(t, i)), 1, 8), 16, 10) AS BIGINT) AS k1 " +
        "FROM toks LATERAL VIEW explode(sequence(1, size(t) - 1)) s AS i), " +
        "c2 AS (SELECT k, COUNT(*) AS c2 FROM st GROUP BY k), " +
        "c1 AS (SELECT k1, COUNT(*) AS c1 FROM st GROUP BY k1) " +
        "SELECT st.doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(SUM((c2.c2 * 10000) DIV c1.c1) DIV COUNT(*) AS BIGINT) AS lm_bp " +
        "FROM st JOIN c2 ON st.k = c2.k JOIN c1 ON st.k1 = c1.k1 " +
        "WHERE st.doc_id >= 400 " +
        "GROUP BY st.doc_id ORDER BY lm_bp DESC, doc_id LIMIT 100").collect().toSeq
    assert(got.nonEmpty && got == ref)
  }

  test("q160 weighted sampling: SQL-text key equals the fused width-1 hash; weight bias; determinism") {
    graft.functions.PortableShingleHash.register(spark)
    // the declared Spark text's conv(substring(md5)) key must equal the
    // fused PortableShingleHash width-1 value on the same strings — the
    // documented 32-bit equivalence the dual DuckDB text relies on
    val mism = spark.sql(
      "SELECT COUNT(*) AS n FROM (SELECT CAST(id AS STRING) AS s FROM range(200)) " +
        "WHERE CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) != " +
        "element_at(portable_shingle_hash(array(s), 1), 1)").head().getLong(0)
    assert(mism == 0L)
    // priority is monotone non-increasing in the weight (heavier docs
    // never sink later in the order) and the whole query is deterministic
    val bias = spark.sql(
      "SELECT COUNT(*) AS n FROM (SELECT CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10) AS BIGINT) AS h " +
        "FROM range(200)) WHERE h DIV 7 > h DIV 3").head().getLong(0)
    assert(bias == 0L)
    val q = Corpus.byId("q160_weighted_sample").sparkSql
    Tables.register(spark, TestSpark.sf0001)
    val a = spark.sql(q).collect().toSeq
    val b = spark.sql(q).collect().toSeq
    assert(a == b && a.nonEmpty)
    // per-lang cap respected
    assert(a.groupBy(_.getString(0)).values.forall(_.size <= 10))
  }
}
