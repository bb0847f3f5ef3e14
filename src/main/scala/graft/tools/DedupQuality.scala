package graft.tools

import graft.{Engine, Tables}
import graft.operators.TextDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Banding-recall receipt for the text minhash pipeline (dev tool
  * backing BASELINE.md, the q84 pair-recall receipt's text twin):
  * ground truth = EXACT all-pairs shingle Jaccard at the q82
  * verification threshold (n_inter·10 ≥ n_union·9), found = the
  * declared pipeline's banded-then-exact-verified pairs. Verification
  * is exact on the same shingle sets, so found ⊆ truth and the single
  * statistic is banding RECALL (precision is 1 by construction); what
  * banding can lose is (a) signature collisions never sampling a
  * band match for a near-threshold pair and (b) bucket-cap drops.
  *
  * Truth is computed driver-side over collected per-doc sorted hash
  * sets — O(n²) pairs with merge-intersections; a measurement tool's
  * budget (sf0.1: 12.5M pairs ≈ seconds), never a production path.
  *
  * Usage: runMain graft.tools.DedupQuality [dir...] (default sf0.01 +
  * SPARK_GRAFT_SF_DIR). */
object DedupQuality {
  /** |a ∩ b| for sorted long arrays. */
  private def interCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Exact all-pairs Jaccard-threshold truth over the collected shingle
    * sets — the one O(n²) driver-side pass, shared by `measure` and
    * `measureSimhashAgreement` so a two-statistic run pays it once
    * (round-13 advice: the duplicate loop doubled the quadratic cost
    * per dir). */
  def jaccardTruthPairs(docs: DataFrame): Set[(Long, Long)] = {
    val sets = docs
      .select(col("doc_id"),
        array_sort(array_distinct(
          TextDedup.portableShingleHashes(col("text"), TextDedup.PortableShingleN))).as("hs"))
      .filter(size(col("hs")) > 0)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val truth = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < sets.length) {
      var j = i + 1
      while (j < sets.length) {
        val inter = interCount(sets(i)._2, sets(j)._2).toLong
        val union = sets(i)._2.length + sets(j)._2.length - inter
        if (inter * 10 >= union * 9)
          truth += ((math.min(sets(i)._1, sets(j)._1), math.max(sets(i)._1, sets(j)._1)))
        j += 1
      }
      i += 1
    }
    truth.result()
  }

  def measure(spark: SparkSession, docs: DataFrame,
              truthPairs: Option[Set[(Long, Long)]] = None): (Long, Long, Double) = {
    val truth = truthPairs.getOrElse(jaccardTruthPairs(docs)).size.toLong
    val found = TextDedup.portablePairStats(docs, "doc_id", "text")
      .filter(col("n_inter") * 10 >= col("n_union") * 9).count()
    (found, truth, if (truth == 0) 1.0 else found.toDouble / truth)
  }

  /** Near-identical band boundary for the edit-recall receipt: the r12
    * probe measured the ≤EditMaxDist truth to be BIMODAL on this corpus
    * — 25 pairs at d ≤ 16 (the planted near-dups, ALL sharing a
    * prefix/suffix: blocking-reachable) vs 436 pairs at d 33–64
    * (word-shuffled docs from the tiny shared vocab, NONE sharing
    * either: structurally invisible to prefix/suffix blocking). The two
    * bands are different problems: ≤16 is what fuzzy dedup operates on;
    * the loose tail is q-gram/minhash territory (the q82 family). */
  val EditNearBand = 16

  /** Blocking recall of the edit-distance pipeline (q136 family):
    * truth = exact all-pairs banded levenshtein (an EXPLICIT cross
    * join — the measurement tool's O(n²) budget, 125k pairs at sf0.01;
    * never a production path), found = the declared two-pass
    * prefix/suffix-blocked pipeline. Reported PER BAND because what
    * blocking can lose by construction — pairs whose first AND last
    * EditPrefixLen chars both differ — is exactly the loose tail.
    * Returns (foundNear, truthNear, recallNear, foundAll, truthAll). */
  def measureEdit(spark: SparkSession, docs: DataFrame): (Long, Long, Double, Long, Long) = {
    val t = docs.select(col("doc_id"), col("text"))
    val d = t.as("a").crossJoin(t.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(levenshtein(col("a.text"), col("b.text"), TextDedup.EditMaxDist).as("d"))
      .filter(col("d") >= 0)
      .agg(count(lit(1)),
        sum(when(col("d") <= EditNearBand, 1L).otherwise(0L))).head()
    val (truthAll, truthNear) = (d.getLong(0), d.getLong(1))
    val found = TextDedup.editDistancePairs(docs, "doc_id", "text")
      .agg(count(lit(1)),
        sum(when(col("dist") <= EditNearBand, 1L).otherwise(0L))).head()
    val (foundAll, foundNear) = (found.getLong(0), found.getLong(1))
    (foundNear, truthNear,
      if (truthNear == 0) 1.0 else foundNear.toDouble / truthNear,
      foundAll, truthAll)
  }

  /** Pair recall of the SHIPPED q84 embedding-LSH operating point
    * (multi-probe tables rule, probes = bits — exactly what the declared
    * entries run) vs exact all-pairs quantized-dot truth. Found ⊆ truth
    * by exact verification, so the single statistic is banding recall —
    * the round-12 receipt, re-taken per config change (multi-probe,
    * round 13). */
  def measureEmbedPairs(emb: DataFrame): (Long, Long, Double) = {
    import graft.operators.Similarity
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val truth = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", graft.functions.IntDot.column(col("a.qv"), col("b.qv")))
      .filter(col("dot") >= graft.SparkEntry.EmbedMinScore).count()
    val n = emb.count()
    val bits = Similarity.recommendedBits(n, 32)
    val found = Similarity.portableEmbedPairs(emb, "vec_id", "embedding",
      minScore = graft.SparkEntry.EmbedMinScore,
      tables = Similarity.recommendedTablesProbed(bits), bits = bits,
      probes = bits).count()
    (found, truth, if (truth == 0) 1.0 else found.toDouble / truth)
  }

  /** Exact ≥-threshold near-dup pair truth over the quantized vectors —
    * shared by the cluster-visibility measurements below. */
  private def embedTruth(emb: DataFrame): DataFrame = {
    import graft.operators.Similarity
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    q.as("a").crossJoin(q.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", graft.functions.IntDot.column(col("a.qv"), col("b.qv")))
      .filter(col("dot") >= graft.SparkEntry.EmbedMinScore)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
  }

  /** Same-cluster fraction of the exact truth under an assignment frame
    * (vec_id, cid). */
  private def sameClusterFraction(truth: DataFrame, asg: DataFrame): (Long, Long, Double) = {
    val n = truth.count()
    val same = truth
      .join(asg.select(col("vec_id").as("ia"), col("cid").as("ca")), Seq("ia"))
      .join(asg.select(col("vec_id").as("ib"), col("cid").as("cb")), Seq("ib"))
      .filter(col("ca") === col("cb")).count()
    (same, n, if (n == 0) 1.0 else same.toDouble / n)
  }

  /** Cluster recall of the SemDeDup family (q186/q187): truth = exact
    * all-pairs quantized dots ≥ the q84 threshold; a true near-dup pair
    * is only VISIBLE to SemDeDup if both ends land in the same semantic
    * cluster (the published method's known blind spot — cross-cluster
    * near-dups; Abbas et al. 2023 accept it for the k ≪ n win). This
    * quantifies that blind spot on the actual corpus. */
  def measureSem(emb: DataFrame, nlist: Int): (Long, Long, Double) = {
    import graft.operators.Similarity
    sameClusterFraction(embedTruth(emb),
      Similarity.semAssign(emb, "vec_id", "embedding", nlist = nlist))
  }

  /** Round-17 verdict-#3 receipt: the STRUCTURAL seeding bound of
    * SemDeDup cluster visibility. Same-cluster fraction of the exact
    * ≥-threshold truth under (a) the declared lowest-id seeds, (b)
    * greedy farthest-point seeds (the `semCentroidsFarthest` policy,
    * replayed scalar-side), (c) the MAX over `trials` seeded random
    * seed draws, and (d) a truth-SUPERVISED greedy hill-climb over seed
    * swaps — an oracle no unsupervised seeder has, so its value bounds
    * what ANY seeding strategy at this k can reach. Driver-side exact
    * computation over a precomputed dot matrix (gate fixtures are ≤ 2k
    * vectors; n² longs ≈ 32 MB at sf0.1); assignment is the integer
    * argmax-dot with lowest-cid ties — the engine's scorer. Returns
    * (lowestId, farthestPoint, randomMax, hillClimb). */
  def measureSemSeedingBound(spark: SparkSession, emb: DataFrame, nlist: Int,
                             trials: Int = 1000, hillEvals: Int = 6000,
                             seed: Long = 7L): (Double, Double, Double, Double) = {
    import graft.operators.Similarity
    val rows = Similarity.semQuantized(emb, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val n = rows.length
    val q = rows.map(_.getSeq[Long](1).toArray)
    val dim = q(0).length
    // full integer dot matrix, flat n×n (truth + every assignment reads it)
    val d = new Array[Long](n * n)
    var i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        var t = 0L; var c = 0
        val qi = q(i); val qj = q(j)
        while (c < dim) { t += qi(c) * qj(c); c += 1 }
        d(i * n + j) = t; d(j * n + i) = t
        j += 1
      }
      i += 1
    }
    val thr = graft.SparkEntry.EmbedMinScore
    val truth = {
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      var a = 0
      while (a < n) {
        var o = a + 1
        while (o < n) { if (d(a * n + o) >= thr) { b += a; b += o }; o += 1 }
        a += 1
      }
      b.toArray
    }
    val nTruth = truth.length / 2
    def visibility(seedIdx: Array[Int]): Double = {
      // ids are sorted ascending, so index order = vec_id order and the
      // first max in index-sorted seed order IS the lowest-cid tie-break
      val sIdx = seedIdx.sorted
      val asg = new Array[Int](n)
      var v = 0
      while (v < n) {
        var best = 0; var bestS = Long.MinValue
        var c = 0
        while (c < sIdx.length) {
          val dd = d(v * n + sIdx(c))
          if (dd > bestS) { bestS = dd; best = c }
          c += 1
        }
        asg(v) = best
        v += 1
      }
      if (nTruth == 0) return 1.0
      var same = 0; var p = 0
      while (p < truth.length) {
        if (asg(truth(p)) == asg(truth(p + 1))) same += 1
        p += 2
      }
      same.toDouble / nTruth
    }
    val k = math.min(nlist, n)
    val lowest = visibility((0 until k).toArray)
    // greedy farthest-point from index 0 (= MIN vec_id), argmin of max
    // dot to chosen, lowest-id ties (first min in index order)
    val fp = scala.collection.mutable.ArrayBuffer(0)
    val maxDot = Array.fill(n)(Long.MinValue)
    while (fp.size < k) {
      val last = fp.last
      var v = 0
      while (v < n) {
        val dd = d(v * n + last)
        if (dd > maxDot(v)) maxDot(v) = dd
        v += 1
      }
      var best = -1; var bestMd = Long.MaxValue
      v = 0
      while (v < n) {
        if (!fp.contains(v) && maxDot(v) < bestMd) { bestMd = maxDot(v); best = v }
        v += 1
      }
      fp += best
    }
    val farthest = visibility(fp.toArray)
    val rng = new scala.util.Random(seed)
    def randomSeeds(): Array[Int] = {
      val s = scala.collection.mutable.LinkedHashSet[Int]()
      while (s.size < k) s += rng.nextInt(n)
      s.toArray
    }
    var randMax = 0.0
    (0 until trials).foreach { _ =>
      val v = visibility(randomSeeds())
      if (v > randMax) randMax = v
    }
    var cur = randomSeeds()
    var cv = visibility(cur)
    var improved = true
    var evals = 0
    while (improved && evals < hillEvals) {
      improved = false
      var pos = 0
      while (pos < k) {
        var ci = 0
        while (ci < 40) {
          val c = rng.nextInt(n)
          if (!cur.contains(c)) {
            val trial = cur.clone(); trial(pos) = c
            val tv = visibility(trial); evals += 1
            if (tv > cv) { cur = trial; cv = tv; improved = true }
          }
          ci += 1
        }
        pos += 1
      }
    }
    (lowest, farthest, randMax, cv)
  }

  /** Cross-method agreement: of the exact Jaccard-threshold truth pairs
    * (the minhash family's target), how many does the 32-bit SimHash
    * pipeline find? SimHash banding is pigeonhole-complete for hamming
    * ≤ 3 (up to cap drops), so what this measures is the SIGNATURE's
    * fidelity — whether near-identical token sets actually land within
    * 3 bits of each other in 32. */
  def measureSimhashAgreement(spark: SparkSession, docs: DataFrame,
                              truthPairs: Option[Set[(Long, Long)]] = None): (Long, Long, Double) = {
    val truth = truthPairs.getOrElse(jaccardTruthPairs(docs))
    val found = TextDedup.portableSimhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = truth.count(found.contains)
    (agree.toLong, truth.size.toLong,
      if (truth.isEmpty) 1.0 else agree.toDouble / truth.size)
  }

  /** Perceptual-hash recall vs exact PIXEL-distance truth (round 14 —
    * the verdict's planted-duplicate receipt): fixture = the synthetic
    * image corpus ∪ three planted variant classes per image (container
    * transcode BMP↔PNG, 2×-lattice resize, and ±`noiseAmp` pixel noise
    * on every pixel), truth = pairs whose mean |Δ| over the shared 9×8
    * dHash sample lattice ≤ `maxMeanDiff` (exact, brute force over the
    * collected 72-sample vectors — a measurement budget, cf.
    * jaccardTruthPairs), found = the banded `phashPairs` pipeline at
    * hamming ≤ 3. Recall < 1 measures the SIGNATURE's fidelity on
    * pixel-near pairs (a ±noise pixel pair can flip a low-gradient
    * bit); banding itself is pigeonhole-complete (PhashSpec). */
  def measurePhash(spark: SparkSession, docsDir: String,
                   noiseAmp: Int = 2, maxMeanDiff: Double = 2.0): (Long, Long, Double) = {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaRow, RealCodec}
    import spark.implicits._
    val imgs = Multimodal.syntheticMedia(spark, docsDir)
      .filter(col("media_type") === "image")
    val planted = imgs.mapPartitions(_.flatMap { r =>
      val (w, h, px) = RealCodec.decodePixels(r.content)
      def noisy(x: Int, y: Int): Int = {
        val v = px(y * w + x)
        val d = (((x * 31L + y * 7L + r.media_id) % (2 * noiseAmp + 1)) - noiseAmp).toInt
        math.max(0, math.min(255, v + d))
      }
      val other = if (r.content(0) == 'B') "png" else "bmp"
      Seq(r,
        Multimodal.transcode(r, other).copy(media_id = r.media_id + 10000000L),
        RealCodec.resizeImage(r.copy(media_id = r.media_id + 20000000L), 18, 16),
        r.copy(media_id = r.media_id + 30000000L,
          content = RealCodec.encodeBmp(w, h, noisy)))
    })
    // 72-sample lattice vectors for the exact pixel-distance truth
    val sampled = planted.mapPartitions(_.map { r =>
      val (w, h, px) = RealCodec.decodePixels(r.content)
      val s = for (gy <- 0 until 8; gx <- 0 until 9)
        yield px((gy * h / 8) * w + gx * w / 9)
      (r.media_id, s.toArray)
    }).collect()
    val truth = Set.newBuilder[(Long, Long)]
    for (i <- sampled.indices; j <- (i + 1) until sampled.length) {
      val (ia, va) = sampled(i); val (ib, vb) = sampled(j)
      var d = 0L
      var k = 0
      while (k < 72) { d += math.abs(va(k) - vb(k)); k += 1 }
      if (d <= maxMeanDiff * 72)
        truth += ((math.min(ia, ib), math.max(ia, ib)))
    }
    val t = truth.result()
    val found = Multimodal.phashPairs(Multimodal.phashFeatures(planted))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = t.count(found.contains).toLong
    (hit, t.size.toLong, if (t.isEmpty) 1.0 else hit.toDouble / t.size)
  }

  /** Recall of the audio/video perceptual families (q213/q214) vs exact
    * envelope/lattice truth — the measurePhash protocol on the other two
    * modalities. Planted variants per row: the aHash/vHash-invariant
    * re-encode (16-bit PCM transcode / per-frame 18×16 resize) and a
    * ±noiseAmp perturbation (per-sample / per-pixel). Truth = mean
    * absolute difference ≤ maxMeanDiff over the signature's own support
    * (the 65 window means / the 72 per-frame-mean lattice sums).
    * Returns ((audioFound, audioTruth, audioRecall), (video...)). */
  def measureAvHash(spark: SparkSession, docsDir: String,
                    noiseAmp: Int = 2, maxMeanDiff: Double = 2.0)
      : ((Long, Long, Double), (Long, Long, Double)) = {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaRow, RealCodec}
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, docsDir)
    def recallOf(planted: org.apache.spark.sql.Dataset[MediaRow],
                 envelope: MediaRow => Array[Double],
                 pairs: org.apache.spark.sql.Dataset[MediaRow] => org.apache.spark.sql.DataFrame)
        : (Long, Long, Double) = {
      val sampled = planted.mapPartitions(_.map(r => (r.media_id, envelope(r)))).collect()
      val truth = Set.newBuilder[(Long, Long)]
      for (i <- sampled.indices; j <- (i + 1) until sampled.length) {
        val (ia, va) = sampled(i); val (ib, vb) = sampled(j)
        var d = 0.0
        var k = 0
        while (k < va.length) { d += math.abs(va(k) - vb(k)); k += 1 }
        if (d <= maxMeanDiff * va.length)
          truth += ((math.min(ia, ib), math.max(ia, ib)))
      }
      val t = truth.result()
      val found = pairs(planted)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = t.count(found.contains).toLong
      (hit, t.size.toLong, if (t.isEmpty) 1.0 else hit.toDouble / t.size)
    }
    def noise(i: Long, k: Int): Int =
      (((k * 31L + i) % (2 * noiseAmp + 1)) - noiseAmp).toInt
    val auds = media.filter(r => Multimodal.isAudio(r.content) &&
      r.content.length >= 44 + 65)
    val plantedAud = auds.mapPartitions(_.flatMap { r =>
      val s = RealCodec.decodeWavSamples(r.content)
      val noisy = Array.tabulate(s.length)(k =>
        math.max(0, math.min(255, s(k) + noise(r.media_id, k))))
      Seq(r,
        r.copy(media_id = r.media_id + 10000000L,
          content = RealCodec.encodeWav16(8000, s)),
        r.copy(media_id = r.media_id + 20000000L,
          content = RealCodec.encodeWav(8000, noisy.map(_.toByte))))
    })
    def audEnvelope(r: MediaRow): Array[Double] = {
      val s = RealCodec.decodeWavSamples(r.content)
      val n = s.length
      Array.tabulate(65) { k =>
        val lo = k * n / 65; val hi = (k + 1) * n / 65
        var acc = 0L; var i = lo
        while (i < hi) { acc += s(i); i += 1 }
        acc.toDouble / math.max(1, hi - lo)
      }
    }
    val audio = recallOf(plantedAud, audEnvelope,
      ds => Multimodal.phashPairs(Multimodal.ahashFeatures(ds), hashCol = "ahash"))
    val vids = media.filter(r => Multimodal.isVideo(r.content))
    val plantedVid = vids.mapPartitions(_.flatMap { r =>
      val (w, h, nf, frames) = RealCodec.decodeAviFramePixels(r.content)
      def noisy(x: Int, y: Int, f: Int): Int =
        math.max(0, math.min(255,
          frames(f)(y * w + x) + noise(r.media_id, (f * h + y) * w + x)))
      Seq(r,
        r.copy(media_id = r.media_id + 10000000L,
          content = RealCodec.resizeAvi(r.content, 18, 16)),
        r.copy(media_id = r.media_id + 20000000L,
          content = RealCodec.encodeAvi(w, h, nf, noisy)))
    })
    def vidEnvelope(r: MediaRow): Array[Double] = {
      val (w, h, nf, frames) = RealCodec.decodeAviFramePixels(r.content)
      val out = new Array[Double](72)
      for (f <- 0 until nf; gy <- 0 until 8; gx <- 0 until 9)
        out(gy * 9 + gx) += frames(f)((gy * h / 8) * w + gx * w / 9).toDouble / nf
      out
    }
    val video = recallOf(plantedVid, vidEnvelope,
      ds => Multimodal.phashPairs(Multimodal.vhashFeatures(ds), hashCol = "vhash",
        maxHamming = Multimodal.VhashMaxHamming, intact = Multimodal.VhashIntact))
    (audio, video)
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/root/testdata/sf0.01",
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")).distinct
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      val jt = jaccardTruthPairs(docs) // the one O(n²) pass, shared below
      val (found, truth, recall) = measure(spark, docs, Some(jt))
      println(f"[dedupq] $d minhash banding recall: $found/$truth = $recall%.3f")
      val emb = Tables.table(spark, d, "embeddings")
      val (ef, et, er) = measureEmbedPairs(emb)
      println(f"[dedupq] $d embed-LSH pair recall (shipped multi-probe point): $ef/$et = $er%.3f")
      val k = math.max(16, math.min(4096, math.ceil(emb.count() / 125.0).toInt))
      val (sf, st, sr) = measureSem(emb, k)
      println(f"[dedupq] $d semdedup cluster recall (nlist=$k%d): $sf/$st = $sr%.3f")
      val (lo, fpv, rmx, hill) = measureSemSeedingBound(spark, emb, k)
      println(f"[dedupq] $d semdedup seeding bound (nlist=$k%d): lowest-id=$lo%.3f " +
        f"farthest-point=$fpv%.3f random-max(1000)=$rmx%.3f supervised-hill-climb=$hill%.3f")
      val (af, at, ar) = measureSimhashAgreement(spark, docs, Some(jt))
      println(f"[dedupq] $d simhash agreement on Jaccard-truth pairs: $af/$at = $ar%.3f")
      val (pf, pt, pr) = measurePhash(spark, d)
      println(f"[dedupq] $d phash recall vs exact pixel-lattice truth (planted variants): $pf/$pt = $pr%.3f")
      val ((ahf, aht, ahr), (vhf, vht, vhr)) = measureAvHash(spark, d)
      println(f"[dedupq] $d ahash recall vs exact envelope truth (planted variants): $ahf/$aht = $ahr%.3f")
      println(f"[dedupq] $d vhash recall vs exact lattice truth (planted variants): $vhf/$vht = $vhr%.3f")
    }
    // exact edit truth is O(n² · len · maxDist) — bounded to the small SF
    val (fn, tn, rn, fa, ta) = measureEdit(spark,
      Tables.table(spark, "/root/testdata/sf0.01", "documents"))
    println(f"[dedupq] /root/testdata/sf0.01 edit blocking recall: " +
      f"near-band d<=$EditNearBand%d $fn/$tn = $rn%.3f; full d<=${TextDedup.EditMaxDist}%d $fa/$ta")
    spark.stop()
  }
}
