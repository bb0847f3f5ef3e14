package graft.tools

import graft.{Engine, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN quality/speed tradeoff: recall@k of lshTopKInt and ivfTopKInt
  * against bruteForceTopKInt across LSH and IVF parameter settings (dev
  * tool backing BASELINE.md). */
object Recall {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.table(spark, dir, "embeddings")
    val nQ = 50
    val k = 10
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t0 = System.nanoTime()
    val bf = pairs(Similarity.bruteForceTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", k))
    val bfSec = (System.nanoTime() - t0) / 1e9
    println(f"[recall] corpus=${emb.count()} queries=$nQ k=$k bruteforce=$bfSec%.2f s")
    for ((tables, bits) <- Seq((4, 8), (8, 8), (8, 6), (16, 6), (16, 4))) {
      val t1 = System.nanoTime()
      val got = pairs(Similarity.lshTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", k,
        numTables = tables, bitsPerTable = bits, probes = 0))
      val sec = (System.nanoTime() - t1) / 1e9
      val recall = got.intersect(bf).size.toDouble / bf.size
      println(f"[recall] L=$tables%2d bits=$bits: recall@$k=${recall}%.3f time=$sec%.2f s")
    }
    // query-side multi-probe (round 13): fewer tables — the corpus-side
    // cost — at the same recall; probe fan-out rides the broadcast side.
    // round 16: the rule point (recommendedSearchPoint — what q45/q220
    // ship for THIS corpus) leads the sweep.
    val rulePoint = Similarity.recommendedSearchPoint(emb.count())
    for ((tables, bits, probes) <- Seq(rulePoint, (4, 4, 4), (8, 4, 4), (4, 6, 6), (8, 6, 6), (2, 4, 4))) {
      val t1 = System.nanoTime()
      val got = pairs(Similarity.lshTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", k,
        numTables = tables, bitsPerTable = bits, probes = probes))
      val sec = (System.nanoTime() - t1) / 1e9
      val recall = got.intersect(bf).size.toDouble / bf.size
      println(f"[recall] L=$tables%2d bits=$bits probes=$probes: recall@$k=${recall}%.3f time=$sec%.2f s")
    }
    // IVF: recall governed by nprobe/nlist (fraction of inverted lists
    // scanned); nprobe == nlist degenerates to exact brute force
    // 256/32 exercises the realistic-nlist regime: with the broadcast-join
    // quantizer the plan size is nlist-independent (round-4 fix)
    for ((nlist, nprobe) <- Seq((16, 2), (16, 4), (16, 8), (16, 16), (64, 8), (256, 32))) {
      val t1 = System.nanoTime()
      val got = pairs(Similarity.ivfTopKInt(emb, "vec_id", "embedding", queries, "qid", "qvec", k,
        nlist = nlist, nprobe = nprobe))
      val sec = (System.nanoTime() - t1) / 1e9
      val recall = got.intersect(bf).size.toDouble / bf.size
      println(f"[recall] ivf nlist=$nlist%2d nprobe=$nprobe%2d: recall@$k=${recall}%.3f time=$sec%.2f s")
    }
    spark.stop()
  }
}
