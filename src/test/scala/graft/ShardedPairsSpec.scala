package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 shard-first operator (verdict #3): the blocked decomposition
  * of the portable embedding near-dup into bounded broadcast-regime jobs
  * must reproduce the monolithic operator's pair set EXACTLY on a
  * fixture whose bucket occupancy sits under the cap (DriftGuard pins
  * the gate fixtures there — the cap is the one documented delta). */
class ShardedPairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def found(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Runs `body` with a fresh-work-directory factory and deletes every
    * directory it handed out afterwards. */
  private def withWorkDirs[T](prefix: String)(body: (() => String) => T): T = {
    val dirs = scala.collection.mutable.Buffer[java.io.File]()
    try body { () =>
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      dirs += d
      d.toString
    }
    finally dirs.foreach(SparkEntry.rmTree)
  }

  test("shardedEmbedPairsPersisted (table mode, round 17) equals the monolithic operator at forced S=3") {
    // signatures persisted once, jobs run sequentially with per-job map
    // build/destroy — the pair set must still be EXACTLY the monolithic
    // one, at both the multi-probe and the home-only candidate points,
    // at a forced S=3 and at the default bound (S=1, one within-shard job)
    val emb = Tables.table(spark, TestSpark.sf01, "embeddings")
    val rows = emb.count() / 3 + 1
    withWorkDirs("graft_sharded_tbl") { tmp =>
      val monoProbed = found(Similarity.portableEmbedPairs(emb, "vec_id", "embedding",
        minScore = SparkEntry.EmbedMinScore, tables = 2, bits = 6, probes = 6))
      val tblProbed = found(Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
        minScore = SparkEntry.EmbedMinScore, tables = 2, bits = 6, probes = 6,
        shardRows = rows, workDir = tmp()))
      assert(monoProbed.nonEmpty, "fixture degenerated: no pairs")
      assert(tblProbed == monoProbed,
        s"table-mode != monolithic: only-table=${(tblProbed -- monoProbed).take(3)}, " +
          s"only-mono=${(monoProbed -- tblProbed).take(3)}")
      val monoHome = found(Similarity.portableEmbedPairs(emb, "vec_id", "embedding",
        minScore = SparkEntry.EmbedMinScore, tables = 4, bits = 6))
      val tblHome = found(Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
        minScore = SparkEntry.EmbedMinScore, tables = 4, bits = 6,
        shardRows = rows, workDir = tmp()))
      assert(tblHome == monoHome,
        s"home-only table-mode != monolithic: only-table=${(tblHome -- monoHome).take(3)}")
      val oneHome = found(Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
        minScore = SparkEntry.EmbedMinScore, tables = 4, bits = 6, workDir = tmp()))
      assert(oneHome == monoHome,
        s"home-only S=1 != monolithic: only-S1=${(oneHome -- monoHome).take(3)}, " +
          s"only-mono=${(monoHome -- oneHome).take(3)}")
    }
  }

  test("shardedCrossEmbedPairsPersisted (round 17) equals the monolithic cross operator at forced Se=Si=2") {
    // the incremental twin (q224): every (shardE, shardI) job combination
    // must reproduce portableCrossEmbedPairs' directional pair set
    // exactly on the under-cap fixture, at both candidate points, at
    // Se=Si=2 and at the huge-corpus × small-batch shape Se=3 x Si=1
    val emb = Tables.table(spark, TestSpark.sf01, "embeddings")
    val split = SparkEntry.IncrementalSplitId
    val old = emb.filter(org.apache.spark.sql.functions.col("vec_id") < split)
    val inc = emb.filter(org.apache.spark.sql.functions.col("vec_id") >= split)
    val (nOld, nInc) = (old.count(), inc.count())
    withWorkDirs("graft_sharded_cross") { tmp =>
      val monoProbed = found(Similarity.portableCrossEmbedPairs(old, inc,
        "vec_id", "embedding", minScore = SparkEntry.EmbedMinScore,
        tables = 2, bits = 6, probes = 6))
      val tblProbed = found(Similarity.shardedCrossEmbedPairs(old, inc,
        "vec_id", "embedding", minScore = SparkEntry.EmbedMinScore,
        tables = 2, bits = 6, probes = 6,
        shardRowsExisting = nOld / 2 + 1, shardRowsIncoming = nInc / 2 + 1,
        workDir = tmp()))
      assert(monoProbed.nonEmpty, "cross fixture degenerated: no pairs")
      assert(tblProbed == monoProbed,
        s"cross table-mode != monolithic: only-table=${(tblProbed -- monoProbed).take(3)}, " +
          s"only-mono=${(monoProbed -- tblProbed).take(3)}")
      val asymProbed = found(Similarity.shardedCrossEmbedPairs(old, inc,
        "vec_id", "embedding", minScore = SparkEntry.EmbedMinScore,
        tables = 2, bits = 6, probes = 6,
        shardRowsExisting = nOld / 3 + 1, workDir = tmp()))
      assert(asymProbed == monoProbed,
        s"cross Se=3 x Si=1 != monolithic: only-table=${(asymProbed -- monoProbed).take(3)}, " +
          s"only-mono=${(monoProbed -- asymProbed).take(3)}")
      val monoHome = found(Similarity.portableCrossEmbedPairs(old, inc,
        "vec_id", "embedding", minScore = SparkEntry.EmbedMinScore,
        tables = 4, bits = 6))
      val tblHome = found(Similarity.shardedCrossEmbedPairs(old, inc,
        "vec_id", "embedding", minScore = SparkEntry.EmbedMinScore,
        tables = 4, bits = 6,
        shardRowsExisting = nOld / 2 + 1, shardRowsIncoming = nInc / 2 + 1,
        workDir = tmp()))
      assert(tblHome == monoHome,
        s"home-only cross table-mode != monolithic: only-table=${(tblHome -- monoHome).take(3)}")
    }
  }
}
