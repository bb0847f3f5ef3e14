package graft

import graft.operators.TextDedup
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-diagnostic operators (q199 Zipf slope, q200 rare-span audit)
  * vs independent scalar references over the FULL sf0.001 corpus: plain
  * Scala counting, java MessageDigest for the span hash (not the
  * engine's expression), exact integer least squares. */
class CorpusDiagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val docs: Seq[(Long, String, String)] =
    Tables.table(spark, dir, "documents").select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong

  test("q199 slope equals the scalar integer least squares per language") {
    val expect = docs.groupBy(_._3).toSeq.map { case (lang, rows) =>
      val counts = rows.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .view.mapValues(_.size.toLong).toSeq
      val head = counts.sortBy { case (t, n) => (-n, t) }
        .take(SparkEntry.ZipfHead.toInt)
      val xy = head.zipWithIndex.map { case ((_, n), i) => (bits(i + 1L), bits(n)) }
      val k = xy.size.toLong
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val num = k * sxy - sx * sy
      val den = k * sxx - sx * sx
      val slope = if (den == 0) 0L
        else (if (num < 0) -1L else 1L) * (math.abs(num) * 10000L / den)
      (lang, k, slope)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q199_zipf_slope")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // the fit must read as a genuine decaying power law, not a constant
    got.foreach { case (lang, _, slope) =>
      assert(slope < 0, s"$lang: Zipf slope $slope is not negative") }
  }

  test("q201 ensemble histogram equals the composition of its three stage frames") {
    import org.apache.spark.sql.functions._
    // recompute the per-doc gate sum from the STAGE frames the entry
    // composes (each stage is independently oracle-checked; this pins
    // the left-join + coalesce composition and the band accounting)
    val d = Tables.table(spark, dir, "documents")
    val span = TextDedup.spanRemovalStats(d, "doc_id", "text")
      .select(col("doc_id"), (col("kept_bp") >= SparkEntry.SpanKeepBp).cast("long").as("g1"))
    val ppl = SparkEntry.pplScoresAll(spark, dir)
      .withColumn("bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .select(col("doc_id"), (col("bp") <= SparkEntry.PplGateBp).cast("long").as("g2"))
    val nb = SparkEntry.nbScoresAll(spark, dir)
      .select(col("doc_id"), (col("pred_label") === col("lang")).cast("long").as("g3"))
    val expect = d.select("doc_id", "lang")
      .join(span, Seq("doc_id"), "left").join(ppl, Seq("doc_id"), "left")
      .join(nb, Seq("doc_id"), "left").collect()
      .map { r =>
        val g = Seq(2, 3, 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
        (g, r.getString(1))
      }
      .groupBy(identity).map { case ((g, l), rows) => (g, l, rows.size.toLong) }
      .toSeq.sortBy { case (g, l, _) => (g, l) }
    val got = SparkEntry.queries("q201_gate_ensemble")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expect)
    assert(got.map(_._3).sum === d.count(), "histogram does not cover every document")
    assert(got.map(_._1).distinct.size >= 2,
      "every document landed in one band — the ensemble no longer discriminates")
  }

  test("q204 streamed gate decisions equal batch gateDecisions restricted to streamed ids") {
    // streaming ≡ batch on the closed input — the per-micro-batch
    // composed scoring against the static span index / LM marginals /
    // NB model must reproduce the batch decision frame exactly
    import org.apache.spark.sql.functions.col
    val expect = SparkEntry.gateDecisions(spark, dir)
      .filter(col("doc_id") >= SparkEntry.IncrementalSplitId)
      .orderBy("doc_id").limit(100).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val got = SparkEntry.queries("q204_stream_gate_ensemble")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "no streamed documents decided — the q204 fixture is hollow")
    assert(got === expect)
  }

  test("q206 streamed release manifest equals the batch ship band restricted to streamed ids") {
    // the release matrix identity: streaming shard write + reload must
    // produce exactly the manifest the batch decision frame implies for
    // streamed 3-gate docs — counts, token totals AND the XOR content
    // signature (so a reload corruption or a dropped/duplicated batch
    // shard cannot cancel out)
    import org.apache.spark.sql.functions.col
    val admitted = SparkEntry.gateDecisions(spark, dir)
      .filter(col("doc_id") >= SparkEntry.IncrementalSplitId && col("n_gates") === 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(admitted.nonEmpty, "no streamed 3-gate docs — the q206 fixture is hollow")
    val byDoc = docs.map { case (id, text, _) => id -> text }.toMap
    def sig(id: Long, text: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$text".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val expect = admitted.groupBy(_._2).map { case (lang, rows) =>
      val texts = rows.map { case (id, _) => id -> byDoc(id) }
      (lang, rows.size.toLong,
        // -1 keeps trailing empty tokens — the Spark/DuckDB split semantics
        texts.map(_._2.split(" ", -1).length.toLong).sum,
        texts.map { case (id, t) => sig(id, t) }.reduce(_ ^ _))
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q206_stream_release")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
  }

  test("q202 modality dots equal the scalar quantized dot over the raw parquet floats") {
    val vecs = Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(f =>
        math.floor(f.toDouble * 10000).toLong)).toMap
    val got = SparkEntry.queries("q202_modality_audit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty, "no verified text pairs with embeddings — audit fixture vacuous")
    got.foreach { case (a, b, dot, divergent) =>
      val ref = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
      assert(dot === ref, s"pair ($a,$b): dot drifted from the scalar quantized product")
      assert(divergent === (if (dot < SparkEntry.EmbedMinScore) 1L else 0L),
        s"pair ($a,$b): flag mismatch")
    }
  }

  private def spanHash(window: Seq[String]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(window.mkString(" ").getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("q200 rare-span shares equal the scalar audit over the full sf0.001 corpus") {
    val k = TextDedup.SpanK
    val perDoc = docs.flatMap { case (id, text, _) =>
      val t = text.split(" ", -1).toSeq
      if (t.size < k) None else Some(id -> t.sliding(k).map(spanHash).toSeq)
    }
    val freq = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val expect = perDoc.map { case (id, hs) =>
      val rare = hs.count(freq(_) == 1).toLong
      (id, hs.size.toLong, rare, rare * 10000L / hs.size)
    }.sortBy { case (id, _, _, bp) => (-bp, id) }.take(100)
    val got = SparkEntry.queries("q200_rare_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
    // non-degenerate fixture: the CORPUS has both unique and shared
    // spans (the top-100 is all-unique docs by construction of the
    // rare_bp DESC order — probe corpus-wide, not the reported head)
    assert(freq.values.exists(_ == 1), "no rare spans — audit fixture vacuous")
    assert(freq.values.exists(_ > 1), "every span unique — shared-span path untested")
  }
}
