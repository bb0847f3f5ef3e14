package graft.tools

import graft.{Engine, Tables}
import graft.operators.{Similarity, TextDedup}
import org.apache.spark.sql.functions._

/** Round-start dev tool: prints the occupancy numbers DriftGuardSpec
  * bounds (embed-LSH buckets at rule-derived bits, minhash bands, simhash
  * combo buckets, edit-distance blocks) on the CURRENT driver testdata —
  * run after the driver regenerates /root/testdata to refresh the
  * "measured" comments in the spec when margins need re-tuning. */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val cap = TextDedup.DefaultMaxBucketSize
    for (d <- Seq("/root/testdata/sf0.01","/root/testdata/sf0.1")) {
      val emb = Tables.table(spark, d, "embeddings"); val n = emb.count()
      val bits = Similarity.recommendedBits(n,32)
      // tables from the SAME recall-preserving rule DriftGuardSpec (and
      // the q84/q97/q125 entries) derive — probe and guard must measure
      // the identical banding or re-tuned margins pin wrong values
      // (round 13: the multi-probe rule, matching embedTablesFor)
      val tables = Similarity.recommendedTablesProbed(bits)
      val r = Similarity.portableEmbedBucketSizes(emb,"vec_id","embedding",tables=tables,bits=bits)
        .agg(max("n"),sum(col("n")*col("n")),sum("n")).head()
      println(s"$d embed n=$n bits=$bits tables=$tables max=${r.getLong(0)} sq=${r.getLong(1)} tot=${r.getLong(2)}")
      val docs = Tables.table(spark, d, "documents")
      val (_, banded) = TextDedup.portableIndexFrames(docs,"doc_id","text")
      val mb = banded.groupBy("__band","__bkey").agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
      println(s"$d minhash maxband=$mb")
      val ag = TextDedup.portableSimhashBucketSizes(docs,"doc_id","text")
        .agg(sum(when(col("n")>cap,col("n")).otherwise(lit(0L))),sum("n")).head()
      println(s"$d simhash dropped=${ag.getLong(0)} tot=${ag.getLong(1)}")
      // phash (q209/q210): ASCII-image survivorship, id headroom, and
      // combo occupancy on the doubled (originals ∪ variants) frame
      val pc = docs.filter(col("doc_id") % 3 === 0)
        .agg(count(lit(1)),
          sum(when(length(col("text")) === octet_length(col("text")), 1L).otherwise(0L)),
          max("doc_id")).head()
      val pf = graft.operators.Multimodal.phashFeatures(
        graft.operators.Multimodal.syntheticMedia(spark, d)
          .filter(col("media_type") === "image"))
      val pAg = graft.operators.Multimodal.phashBucketSizes(
          pf.unionAll(pf.select(col("media_id") + graft.SparkEntry.PhashVariantOffset, col("phash"))))
        .agg(sum(when(col("n") > cap, col("n")).otherwise(lit(0L))), sum("n"), max("n")).head()
      println(s"$d phash img=${pc.getLong(0)} ascii=${pc.getLong(1)} maxId=${pc.getLong(2)} " +
        s"dropped=${pAg.getLong(0)} tot=${pAg.getLong(1)} maxBucket=${pAg.getLong(2)}")
      // ahash/vhash (q211-q218): preconditions + doubled-frame occupancy
      // (the q209/q210 probe's audio/video analogue)
      val media = graft.operators.Multimodal.syntheticMedia(spark, d)
      for ((lbl, feats, hc) <- Seq(
        ("ahash", graft.operators.Multimodal.ahashFeatures(media), "ahash"),
        ("vhash", graft.operators.Multimodal.vhashFeatures(media), "vhash"))) {
        val ag2 = graft.operators.Multimodal.phashBucketSizes(
            feats.unionAll(feats.select(
              col("media_id") + graft.SparkEntry.PhashVariantOffset, col(hc))),
            hashCol = hc)
          .agg(sum(when(col("n") > cap, col("n")).otherwise(lit(0L))), sum("n"), max("n")).head()
        println(s"$d $lbl rows=${feats.count()} dropped=${ag2.getLong(0)} " +
          s"tot=${ag2.getLong(1)} maxBucket=${ag2.getLong(2)}")
      }
      for ((lbl,k) <- Seq("prefix"->TextDedup.prefixKey(col("text"),TextDedup.EditPrefixLen),
                          "suffix"->TextDedup.suffixKey(col("text"),TextDedup.EditPrefixLen))) {
        val mx = docs.select(k.as("k")).groupBy("k").agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
        println(s"$d edit $lbl max=$mx")
      }
      // gate-threshold distributions (round 11): what DriftGuardSpec's
      // still-splits assertion bounds — re-tune PplGateBp / SpanKeepBp
      // from these when a regeneration moves the distribution
      val ppl = graft.SparkEntry.pplScoresAll(spark, d)
        .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
        .agg(min("ppl_bp"), expr("percentile_approx(ppl_bp, 0.5)"), max("ppl_bp"),
          count(lit(1))).head()
      println(s"$d ppl_bp min=${ppl.getLong(0)} median~${ppl.getLong(1)} max=${ppl.getLong(2)} n=${ppl.getLong(3)}")
      val span = TextDedup.spanRemovalStats(docs, "doc_id", "text")
      val sk = span.agg(min("kept_bp"),
        sum(when(col("kept_bp") >= 5000L, 1L).otherwise(0L)), count(lit(1))).head()
      println(s"$d span kept_bp min=${sk.getLong(0)} kept@5000=${sk.getLong(1)}/${sk.getLong(2)}")
      // round-11 session-2 families: the fixture quantities their
      // DriftGuardSpec assertions bound
      val split = graft.SparkEntry.IncrementalSplitId
      val train = docs.filter(col("doc_id") < split)
      val tf = graft.operators.Dsir.featStream(train, "doc_id", "text", carry = Seq("lang"))
      val tgt = tf.filter(col("lang") === graft.SparkEntry.DsirTargetLang).count()
      val raw = tf.count()
      println(s"$d dsir targetFeats=$tgt rawFeats=$raw")
      val nbLabels = train.select("lang").distinct().count()
      val conf = graft.SparkEntry.nbScoresAll(spark, d)
        .agg(count(lit(1)),
          sum(when(col("pred_label") === col("lang"), 1L).otherwise(0L)),
          countDistinct("pred_label")).head()
      println(s"$d nb trainLabels=$nbLabels scored=${conf.getLong(0)} " +
        s"agree=${conf.getLong(1)} predClasses=${conf.getLong(2)}")
      val ens = graft.SparkEntry.queries("q201_gate_ensemble")(spark, d)
      println(s"$d ensemble bands=${ens.select("n_gates").distinct().count()}")
    }
    spark.stop()
  }
}
