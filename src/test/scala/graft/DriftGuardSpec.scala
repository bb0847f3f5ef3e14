package graft

import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Round-start fixture-drift guard (round-11 verdict item #2): the driver
  * REGENERATES /root/testdata between rounds, and every pinned oracle
  * constant (bucket caps, edit-distance block keys, the embed-LSH sizing
  * rule) was tuned against a particular data shape. A regenerated corpus
  * that is bigger or more clustered would otherwise fail SILENTLY — either
  * as a quadratic occupancy blowup inside capped buckets (the measured 13×
  * at 10× with pinned bits, BASELINE.md r10) or as capped buckets dropping
  * recall with no red signal. This spec turns that drift into a red test
  * at round start, against the ACTUAL driver testdata.
  *
  * Margins are ≥2× the values measured on round-11 data (recorded in each
  * assert message) so ordinary regeneration noise passes and structural
  * drift fails. Run order note: CLAUDE.md's round-start checklist runs the
  * full suite first — this spec is the part that validates the NEW data.
  */
class DriftGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    .filter(d => new java.io.File(d).isDirectory)
  private val Cap = TextDedup.DefaultMaxBucketSize

  test("driver testdata present (guard is meaningless without it)") {
    assert(dirs.nonEmpty, "no /root/testdata/sf* dirs — drift guard cannot run")
  }

  test("events.ts sniffs to TimestampType at every SF (physical layout drifts between rounds)") {
    dirs.foreach { d =>
      val dt = Tables.table(spark, d, "events").schema("ts").dataType
      assert(dt == TimestampType, s"$d/events.parquet ts read as $dt — Tables.register's footer sniff no longer normalizes this round's layout")
    }
  }

  test("documents.lang stays within the five-language contract (q101 quotas, FIXTURES.md)") {
    // SparkEntry.MixQuotasBp keys the weighted-mix quotas on exactly
    // {de, en, es, fr, zh} (FIXTURES.md); a regen introducing a new
    // language would silently fall outside the quota map (and several
    // per-lang fixtures' assumptions) — surface it at the source.
    dirs.foreach { d =>
      val langs = Tables.table(spark, d, "documents")
        .select("lang").distinct().collect().map(_.getString(0)).toSet
      assert(langs.subsetOf(Set("de", "en", "es", "fr", "zh")) && langs.size >= 2,
        s"$d: documents.lang drifted to $langs — re-derive MixQuotasBp and the per-lang fixtures")
    }
  }

  test("embeddings stay 64-dimensional (the quantized replay's range(1, 65) contract)") {
    // every quantized-embedding DuckDB text unrolls the dot product over
    // range(1, Similarity.EmbedDim + 1), and the Spark operators build
    // their planes at Similarity.EmbedDim — a regen that changes the
    // vector width would fail far from the cause (hash mismatches on
    // every embedding entry). Pin the dimension loudly instead.
    dirs.foreach { d =>
      val emb = Tables.table(spark, d, "embeddings")
      val dims = emb.select(size(col("embedding")).as("n")).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(dims == Set(Similarity.EmbedDim),
        s"$d: embedding dims drifted to $dims — Similarity.EmbedDim " +
          s"(${Similarity.EmbedDim}) must move with the data")
    }
  }

  test("embed-LSH occupancy at rule-derived bits stays far from the cap (q84/q97/q125)") {
    dirs.foreach { d =>
      val emb = Tables.table(spark, d, "embeddings")
      val n = emb.count()
      val bits = Similarity.recommendedBits(n, 32)
      val sizes = Similarity.portableEmbedBucketSizes(emb, "vec_id", "embedding",
        tables = Similarity.recommendedTablesProbed(bits), bits = bits)
        .agg(max("n").as("mx"), sum(col("n") * col("n")).as("sq"), sum("n").as("tot")).head()
      val (mx, sq, tot) = (sizes.getLong(0), sizes.getLong(1), sizes.getLong(2))
      // r11 measured (graft.tools.DriftProbe): sf0.01 (n=500, bits=4)
      // max 53, sf0.1 (n=2000, bits=6) max 67 — cap/2 = 500
      assert(mx <= Cap / 2,
        s"$d: max embed bucket $mx > cap/2=${Cap / 2} at derived bits=$bits — corpus clustering drifted; capped buckets would drop recall silently")
      // quadratic-work proxy: Σn² ≈ avg-occupancy × fan-out; the sizing
      // rule targets occupancy 32, so 256× corpus×tables is ~8× headroom
      assert(sq <= 256L * tot,
        s"$d: Σ(bucket²)=$sq > 256×Σn=${256L * tot} (Σn=$tot) at bits=$bits — in-bucket pair work drifted toward quadratic")
    }
  }

  test("ANN search-index posting lists under cap with margin at the rule point (q45/q220/q222)") {
    // round 16: lshAnnIndex caps corpus posting lists per (t, bkt) at
    // build time (the phashTopK discipline, mirrored in the q220/q222
    // texts). At the SELF-SIZED search point (occupancy target 8) the
    // cap must sit far away on real data — a regen that clusters the
    // vectors would silently shrink the reachable index.
    dirs.foreach { d =>
      val emb = Tables.table(spark, d, "embeddings")
      val (t, b, _) = Similarity.recommendedSearchPoint(emb.count())
      val planes = Similarity.portableHyperplanes(Similarity.EmbedDim, t, b, Similarity.PlaneSeed)
      val mx = Similarity.portableBucketKeys(
          Similarity.portableQuantized(emb, "vec_id", "embedding")
            .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.col("__qv")), "vec_id", planes)
        .groupBy("__t", "__bkt").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      assert(mx <= Cap / 2,
        s"$d: max search posting list $mx > cap/2=${Cap / 2} at rule point ($t, $b) — the capped index would drop reachable neighbors silently")
    }
  }

  test("minhash band occupancy under cap with margin (q82/q124/q126)") {
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      assert(TextDedup.portableOversizeBuckets(docs, "doc_id", "text").count() == 0,
        s"$d: minhash band buckets now EXCEED the cap — pair generators silently drop them; re-tune bands or cap")
      val (_, banded) = TextDedup.portableIndexFrames(docs, "doc_id", "text")
      val mx = banded.groupBy("__band", "__bkey").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      // r11 measured (DriftProbe): sf0.01 max 4, sf0.1 max 19
      assert(mx <= Cap / 2,
        s"$d: max minhash band bucket $mx > cap/2=${Cap / 2} — regenerated corpus is approaching the silent-drop regime")
    }
  }

  test("simhash combo-bucket cap drops stay a bounded corpus fraction (q83)") {
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      val agg = TextDedup.portableSimhashBucketSizes(docs, "doc_id", "text")
        .agg(sum(when(col("n") > Cap, col("n")).otherwise(lit(0L))).as("dropped"),
          sum("n").as("tot")).head()
      val (dropped, tot) = (agg.getLong(0), agg.getLong(1))
      // identical-signature boilerplate clusters legitimately exceed the
      // cap (the q83 cap fires at sf0.1, CLAUDE.md); the guard bounds the
      // occupancy WEIGHT living in capped buckets so a drifted generator
      // that makes most of the corpus one cluster goes red. r11 measured
      // (DriftProbe): sf0.01 0/28,000, sf0.1 1,365/280,000 (~0.5%).
      assert(dropped * 2 <= tot,
        s"$d: ${dropped}/${tot} of simhash combo-bucket weight is in over-cap buckets (>50%) — most of the corpus would pair inside dropped buckets")
    }
  }

  test("phash fixture survives regeneration: ASCII images, id headroom, combo occupancy (q209/q210)") {
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      // (a) the ascii(substr) pixel replay needs byte length = char
      // length on image-typed docs; r14 regen measured ALL docs ASCII at
      // every SF (167/167, 167/167, 1667/1667 image rows survive)
      val counts = docs.filter(col("doc_id") % 3 === 0)
        .agg(count(lit(1)).as("img"),
          sum(when(length(col("text")) === octet_length(col("text")), 1L).otherwise(0L)).as("ascii"))
        .head()
      assert(counts.getLong(1) > 0,
        s"$d: 0 of ${counts.getLong(0)} image-typed docs are ASCII — the q209/q210 oracle replay is empty on this regen")
      // (b) variant ids must not alias real rows (both engines add the
      // same offset; r14 measured max doc_id 4,999 ≪ 1,000,000)
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      assert(mx < SparkEntry.PhashVariantOffset,
        s"$d: max doc_id $mx >= PhashVariantOffset ${SparkEntry.PhashVariantOffset} — q210 variants would alias real media ids")
      // (c) combo-bucket weight in over-cap buckets stays bounded on the
      // q210 frame (originals ∪ variants — the variant doubling is the
      // worst case the entry actually runs; identical-hash clusters are
      // this family's boilerplate). r14 measured (DriftProbe): 0 dropped
      // at every SF.
      val imgs = graft.operators.Multimodal.syntheticMedia(spark, d)
        .filter(col("media_type") === "image")
      val feats = graft.operators.Multimodal.phashFeatures(imgs)
      val doubled = feats.unionAll(
        feats.select(col("media_id") + SparkEntry.PhashVariantOffset, col("phash")))
      val agg = graft.operators.Multimodal.phashBucketSizes(doubled)
        .agg(sum(when(col("n") > Cap, col("n")).otherwise(lit(0L))).as("dropped"),
          sum("n").as("tot")).head()
      assert(agg.getLong(0) * 2 <= agg.getLong(1),
        s"$d: ${agg.getLong(0)}/${agg.getLong(1)} of phash combo-bucket weight is over-cap — the image corpus collapsed to one perceptual cluster")
    }
    // degenerate-output guard at the oracle SF: the pair stream must be
    // non-empty (r14: 167 planted resize pairs + 1 natural at sf0.01)
    val dir = dirs.find(_.endsWith("sf0.01")).getOrElse(dirs.head)
    val pairs = SparkEntry.queries("q210_phash_pairs")(spark, dir).count()
    assert(pairs > 0, s"$dir: q210 emitted no pairs — the planted-resize identity or the fixture degenerated")
  }

  test("ahash/vhash fixtures survive regeneration: ASCII + length preconditions, combo occupancy (q211-q214)") {
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      // (a) audio replay preconditions: ASCII bytes AND >= 65 of them
      // (the aHash lattice — both mirrored in the aud CTE). r14 regen
      // measured ALL audio docs qualifying at every SF.
      val aud = docs.filter(col("doc_id") % 3 === 1)
        .agg(count(lit(1)).as("n"),
          sum(when(length(col("text")) === octet_length(col("text")) &&
            octet_length(col("text")) >= 65, 1L).otherwise(0L)).as("ok"))
        .head()
      assert(aud.getLong(1) > 0,
        s"$d: 0 of ${aud.getLong(0)} audio-typed docs are ASCII+>=65B — the q211/q213 oracle replay is empty on this regen")
      // (b) video replay precondition: ASCII, non-empty
      val vid = docs.filter(col("doc_id") % 3 === 2)
        .agg(count(lit(1)).as("n"),
          sum(when(length(col("text")) === octet_length(col("text")) &&
            octet_length(col("text")) >= 1, 1L).otherwise(0L)).as("ok"))
        .head()
      assert(vid.getLong(1) > 0,
        s"$d: 0 of ${vid.getLong(0)} video-typed docs are ASCII — the q212/q214 oracle replay is empty on this regen")
      // (c) combo-bucket weight in over-cap buckets bounded on the
      // doubled (originals ∪ variants) frames the pair entries run —
      // flat/monotone envelopes hashing alike are this family's
      // boilerplate. r14 measured 0 dropped at every SF for both.
      val media = graft.operators.Multimodal.syntheticMedia(spark, d)
      // each family audited at ITS shipped banding point (round 16:
      // vhash bands on 3-of-8 combos — 24-bit keys, coarser buckets)
      def overcap(feats: org.apache.spark.sql.DataFrame, hashCol: String,
                  intact: Int): (Long, Long) = {
        val doubled = feats.unionAll(feats.select(
          col("media_id") + SparkEntry.PhashVariantOffset, col(hashCol)))
        val agg = graft.operators.Multimodal.phashBucketSizes(doubled,
            hashCol = hashCol, intact = intact)
          .agg(sum(when(col("n") > Cap, col("n")).otherwise(lit(0L))).as("dropped"),
            sum("n").as("tot")).head()
        (agg.getLong(0), agg.getLong(1))
      }
      val (ad, at) = overcap(graft.operators.Multimodal.ahashFeatures(media), "ahash",
        graft.operators.TextDedup.SimhashIntact)
      assert(ad * 2 <= at,
        s"$d: $ad/$at of ahash combo-bucket weight is over-cap — the audio corpus collapsed to one perceptual cluster")
      val (vd, vt) = overcap(graft.operators.Multimodal.vhashFeatures(media), "vhash",
        graft.operators.Multimodal.VhashIntact)
      assert(vd * 2 <= vt,
        s"$d: $vd/$vt of vhash combo-bucket weight is over-cap — the video corpus collapsed to one perceptual cluster")
    }
    // degenerate-output guards at the oracle SF (r14: every planted
    // transcode/resize variant pairs with its original)
    val dir = dirs.find(_.endsWith("sf0.01")).getOrElse(dirs.head)
    assert(SparkEntry.queries("q213_ahash_pairs")(spark, dir).count() > 0,
      s"$dir: q213 emitted no pairs — the planted-transcode identity or the fixture degenerated")
    assert(SparkEntry.queries("q214_vhash_pairs")(spark, dir).count() > 0,
      s"$dir: q214 emitted no pairs — the planted-resize identity or the fixture degenerated")
  }

  test("round-11 gate thresholds still SPLIT the regenerated corpus (q170/q174/q177)") {
    // A threshold pinned to one round's distribution stays hash-green
    // after regeneration but can degenerate to keep-all / drop-all —
    // which hollow out the gate entries without any red signal. Assert
    // both gates keep SOME and drop SOME at the oracle SF.
    val dir = dirs.find(_.endsWith("sf0.01")).getOrElse(dirs.head)
    val scored = SparkEntry.pplScoresAll(spark, dir)
      .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
    val total = scored.count()
    val kept = scored.filter(col("ppl_bp") <= SparkEntry.PplGateBp).count()
    assert(kept > 0 && kept < total,
      s"$dir: ppl gate keeps $kept of $total — PplGateBp=${SparkEntry.PplGateBp} is outside the regenerated bits distribution; re-measure the median (pplOracle comment)")
    val span = TextDedup.spanRemovalStats(Tables.table(spark, dir, "documents"), "doc_id", "text")
    val total2 = span.count()
    val kept2 = span.filter(col("kept_bp") >= SparkEntry.SpanKeepBp).count()
    assert(kept2 > 0 && kept2 < total2,
      s"$dir: span retention gate keeps $kept2 of $total2 — SpanKeepBp=${SparkEntry.SpanKeepBp} no longer splits the regenerated duplication tail")
  }

  test("the leakage family still finds cross-split pairs at the oracle SF (q178/q181-q183)") {
    // the md5 split is a fixed pseudorandom 80/20 labeling, so ~32% of
    // verified near-dup pairs should cross it; a regenerated corpus with
    // ZERO cross pairs would leave the whole leakage family hash-green
    // but hollow (empty = empty). r11 second regen measured: 7 cross
    // pairs of 24 verified at sf0.01.
    val dir = dirs.find(_.endsWith("sf0.01")).getOrElse(dirs.head)
    val docs = Tables.table(spark, dir, "documents")
    val verified = TextDedup.portablePairStats(docs, "doc_id", "text")
      .filter(col("n_inter") * 10 >= col("n_union") * 9).count()
    assert(verified > 0, s"$dir: no verified near-dup pairs at all — the minhash fixture degenerated")
    val cross = SparkEntry.queries("q178_split_leakage")(spark, dir).count()
    assert(cross > 0,
      s"$dir: $verified verified pairs but 0 cross the md5 split — the leakage entries are hollow on this regen")
  }

  test("semantic-cluster occupancy under cap with margin; SemDeDup gates still split (q186/q187)") {
    dirs.foreach { d =>
      val emb = Tables.table(spark, d, "embeddings")
      val k = SparkEntry.semNlistFor(spark, d)
      val asg = Similarity.semAssign(emb, "vec_id", "embedding", nlist = k)
      val mx = asg.groupBy("cid").agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
      // r11 second-regen measured: sf0.01 (n=500, k=16) max 42,
      // sf0.1 (n=2000, k=16) max 148 — cap/2 = 500. The self-sizing
      // targets occupancy ~125, so a regen can only breach cap/2 through
      // CLUSTERING skew, exactly what this guard is for.
      assert(mx <= Cap / 2,
        s"$d: max semantic cluster $mx > cap/2=${Cap / 2} at k=$k — q186 would silently skip its biggest clusters")
    }
    // degenerate-output guard at the oracle SF: the dedup must find SOME
    // pairs yet not drop EVERYTHING, and the prototype prune must drop a
    // nonzero strict subset (r11 second regen: 518 pairs, 288/500
    // dropped; 93 prototype drops of 500).
    val dir = dirs.find(_.endsWith("sf0.01")).getOrElse(dirs.head)
    val st = SparkEntry.queries("q186_semdedup")(spark, dir)
      .agg(sum("n_members").as("m"), sum("n_pairs").as("p"), sum("n_dropped").as("dr")).head()
    assert(st.getLong(1) > 0 && st.getLong(2) < st.getLong(0),
      s"$dir: semdedup pairs=${st.getLong(1)} dropped=${st.getLong(2)} of ${st.getLong(0)} — the threshold no longer splits this regen's vector clustering")
    val protos = SparkEntry.queries("q187_prototypes")(spark, dir).count()
    assert(protos > 0, s"$dir: prototype prune dropped nothing — clusters shrank below the 20% quota floor")
    // q207/q208 centroid containment (round 13): their oracle reuses the
    // q186 FULL-corpus replay, which is only valid while the nlist
    // lowest vec_ids all precede the incremental split — i.e. the
    // existing-side centroid set equals the full-corpus one. A regen
    // that renumbers vec_ids or shrinks the existing side breaks the
    // identity silently; pin it, plus a non-empty cross-pair stream.
    dirs.foreach { d =>
      val emb = Tables.table(spark, d, "embeddings")
      val k = SparkEntry.semNlistFor(spark, d)
      val kth = emb.select(col("vec_id")).orderBy("vec_id").limit(k)
        .agg(max("vec_id")).head().getLong(0)
      assert(kth < SparkEntry.IncrementalSplitId,
        s"$d: nlist=$k-th lowest vec_id $kth >= split ${SparkEntry.IncrementalSplitId} — " +
          "the q207/q208 oracle's centroid-containment identity broke on this regen")
      // round-14 margin pin: the containment must also hold at the NEXT
      // likely nlist step — semNlistFor at a DOUBLED corpus (the regen
      // that moves k). r14 measured: sf0.01 n=500 k=16→k2=16 (clamp
      // floor), kth2 vec_id 15; sf0.1 n=2000 k=16→k2=32, kth2 vec_id 31
      // — both ≪ split 400, so a regen has ≥ 12× headroom before the
      // q186-replay identity needs a new oracle form.
      val n = emb.count()
      val k2 = math.max(16, math.min(4096, math.ceil(2 * n / 125.0).toInt))
      val kth2 = emb.select(col("vec_id")).orderBy("vec_id").limit(k2)
        .agg(max("vec_id")).head().getLong(0)
      assert(kth2 < SparkEntry.IncrementalSplitId,
        s"$d: at the next nlist step (2x corpus -> k=$k2) the $k2-th lowest vec_id $kth2 " +
          s">= split ${SparkEntry.IncrementalSplitId} — margin gone; re-derive the q207/q208 oracle " +
          "(DriftProbe prints the measured ids)")
    }
    val crossPairs = SparkEntry.queries("q207_incremental_semdedup")(spark, dir).count()
    assert(crossPairs > 0, s"$dir: no cross-split semantic pairs — the q207/q208 fixture degenerated")
  }

  test("edit-distance prefix/suffix block occupancy under cap with margin (q136/q141/q142)") {
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      Seq("prefix" -> TextDedup.prefixKey(col("text")),
          "suffix" -> TextDedup.suffixKey(col("text")))
        .foreach { case (label, key) =>
          val mx = docs.select(key.as("k")).groupBy("k").agg(count(lit(1)).as("n"))
            .agg(max("n")).head().getLong(0)
          // r11 measured (DriftProbe): sf0.01 prefix 3 / suffix 3,
          // sf0.1 prefix 10 / suffix 9
          assert(mx <= Cap / 2,
            s"$d: max $label block $mx > cap/2=${Cap / 2} — q136/q141/q142's blocking keys drifted toward the m² regime")
        }
    }
  }

  test("classifier/DSIR train fixtures survive regeneration (q188-q194)") {
    // q188-q191 pin the train split at doc_id < IncrementalSplitId and
    // q192-q194 pin the DSIR target domain at lang = DsirTargetLang
    // inside it; both are hash-green for ANY non-degenerate data, but a
    // regenerated corpus that dropped the target language (tgt total = 0
    // divides in the weight formula) or emptied a split side would break
    // or hollow the entries. Assert every side is non-empty and the
    // target is a strict subset at each SF.
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      val split = SparkEntry.IncrementalSplitId
      val train = docs.filter(col("doc_id") < split)
      val nTrain = train.count()
      val nBatch = docs.filter(col("doc_id") >= split).count()
      assert(nTrain > 0 && nBatch > 0,
        s"$d: train=$nTrain batch=$nBatch — the doc_id split boundary no longer divides the regenerated corpus")
      // the quantity that must be non-zero is the target FEATURE total
      // (Dsir.weights divides by it), not the doc count: a target doc
      // under 2 tokens contributes zero features
      val trainFeats = graft.operators.Dsir.featStream(train, "doc_id", "text",
        carry = Seq("lang"))
      val nTgtF = trainFeats.filter(col("lang") === SparkEntry.DsirTargetLang).count()
      val nRawF = trainFeats.count()
      assert(nTgtF > 0 && nTgtF < nRawF,
        s"$d: DSIR target '${SparkEntry.DsirTargetLang}' has $nTgtF of $nRawF train features — not a usable target domain")
      // the train split must keep ≥2 labels or the classifier degenerates
      val nLabels = train.select("lang").distinct().count()
      assert(nLabels >= 2,
        s"$d: $nLabels train labels — Naive Bayes needs a multi-class train split")
      // …and ≥2 of them must survive into the IN-VOCAB token stream
      // (r11 advice): a dominant-vocab regen could leave one label with
      // zero in-vocab tokens — it drops from labelStats, second_bits
      // goes NULL for every doc, and the q188/q190/q191 margin cells
      // hash-fail on the comparator's NULL-rendering asymmetry.
      // modelFromCounts now also fails fast; this guard fires at round
      // start, before the oracle gate. r12 measured: 5 of 5 labels
      // in-vocab at every SF.
      val tk = train.select(col("lang"),
        explode(TextDedup.tokens(col("text"))).as("tok"))
      val voc = tk.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(graft.operators.NaiveBayes.DefaultVocab).select("tok")
      val nInVocab = tk.join(voc, "tok").select("lang").distinct().count()
      assert(nInVocab >= 2,
        s"$d: only $nInVocab of $nLabels train labels carry in-vocab tokens — " +
          "NaiveBayes margins would be NULL (modelFromCounts now rejects this)")
    }
  }

  test("documents.text stays inside the Basic Multilingual Plane (q205 char-indexing equivalence)") {
    // q205's DuckDB replay splits words into characters via w[i:i]
    // (CODEPOINT indexing) while Bpe.segmentStats splits via
    // word.map(_.toString) (UTF-16 indexing) — equivalent iff no
    // character needs a surrogate pair, i.e. every codepoint < 0x10000.
    // A regen shipping an emoji/astral char would silently de-sync the
    // two segmentations. r12 measured: 0 astral chars (ASCII corpus) at
    // every SF.
    val astral = "[\\x{10000}-\\x{10FFFF}]"
    // guard self-check: the predicate must actually fire on a planted
    // astral char (ascii()/split() spellings silently miss surrogates)
    import spark.implicits._
    assert(Seq("a😀b").toDF("text").filter(col("text").rlike(astral)).count() == 1,
      "astral-detection predicate no longer fires on a planted emoji")
    dirs.foreach { d =>
      val bad = Tables.table(spark, d, "documents")
        .filter(col("text").rlike(astral)).count()
      assert(bad == 0,
        s"$d: $bad documents carry non-BMP characters — q205's w[i:i] replay no longer " +
          "matches UTF-16 segmentation (switch both sides to codepoint arrays first)")
    }
  }

  test("documents.text is never NULL/empty at any SF (kept_bp/lm_bp NULL propagation)") {
    // tokens(NULL) propagates NULL through kept_bp/lm_bp (r11 verdict
    // item 4): a regen shipping one NULL/empty text would put a NULL
    // into hashed cells, and NULL renders NaT-vs-None across the
    // comparator's pyarrow/pandas read paths. r12 measured: 0 bad rows
    // at every SF (500 / 500 / 5,000 docs).
    dirs.foreach { d =>
      val docs = Tables.table(spark, d, "documents")
      val bad = docs.filter(col("text").isNull || length(col("text")) === 0).count()
      assert(bad == 0,
        s"$d: $bad NULL/empty documents.text rows of ${docs.count()} — " +
          "NULL would reach hashed kept_bp/lm_bp cells (COALESCE at the entries or fix the regen)")
      // …and never whitespace-ONLY either (r12 review finding): such a
      // doc has zero words, so q205's DuckDB replay (inner join through
      // the word table) would drop it while Bpe.segmentStats keeps it
      // with n_subwords=0 — an n_docs hash mismatch the NULL/empty
      // check alone cannot catch. r12 measured: 0 at every SF.
      val ws = docs.filter(length(trim(col("text"))) === 0).count()
      assert(ws == 0,
        s"$d: $ws whitespace-only documents.text rows — q205's word-join replay would " +
          "drop them while the Spark side keeps n_subwords=0 docs (LEFT-JOIN both sides first)")
    }
  }
}
