package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Receipts for the embedding-LSH pair runners at a replicated corpus
  * (factor 100 = 200k vectors, half of `broadcastVerifyMaxRows(64)`),
  * dev tool backing BASELINE.md:
  *
  *  - map: the DRIVER-HEAP cost of building and broadcasting the packed
  *    verify map alone (toLocalIterator → HashMap → broadcast).
  *  - broadcast: the whole monolithic q84 runner (`portableEmbedPairs`)
  *    under a BOUNDED -Xmx (set SPARK_DRIVER_MEM before launching),
  *    reporting the JVM heap-pool PEAKS across the run — the map build
  *    and broadcast transient included. Past the bound it throws.
  *  - persisted/cc/cross/ann: the sharded runners, connected components
  *    over their pairs, the incremental count identity and the ANN
  *    search point.
  *
  * Usage: runMain graft.tools.RegimeProbe [factor] [dir] [stages]
  *   stages ⊆ {build, map, broadcast, persisted, cc, cross, ann}
  *   (default {build, map, broadcast}; the persisted/cc/cross stages
  *   back the past-bound receipts and run only when named — they need a
  *   factor whose corpus crosses the bound to be meaningful).
  * Env: SPARK_GRAFT_SF_DIR (source, default sf0.1), SPARK_GRAFT_CPUS
  *      (default nproc), SPARK_DRIVER_MEM (the -Xmx bound under test,
  *      via build.sbt). */
object RegimeProbe {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 100
    val dir = if (args.length > 1) args(1) else s"/tmp/graft_scale${factor}x"
    val stages = if (args.length > 2) args(2).split(',').toSet
                 else Set("build", "map", "broadcast")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = graft.Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[regime] -Xmx=${Runtime.getRuntime.maxMemory() / (1 << 20)} MB " +
      s"cpus=$cpus factor=$factor dir=$dir")

    if (stages("build")) {
      // embeddings-only replication (the ScaleTenX rotation fixture —
      // one spelling, docs not needed for the q84 family)
      val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val dim = embs.select(max(size(col("embedding")))).head().getInt(0)
      (0 until factor).map { r =>
        val rot = r % dim
        if (rot == 0) embs.withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
        else embs
          .withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
          .withColumn("embedding",
            concat(slice(col("embedding"), rot + 1, dim - rot), slice(col("embedding"), 1, rot)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val bits = Similarity.recommendedBits(n, 32)
    val tables = Similarity.recommendedTablesProbed(bits)
    println(s"[regime] n=$n bits=$bits tables=$tables probes=$bits " +
      s"broadcastBound=${Similarity.broadcastVerifyMaxRows(64)}")

    def heapPools() = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asInstanceOf[java.util.List[java.lang.management.MemoryPoolMXBean]]
    def resetPeaks(): Unit = heapPools().forEach(p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) p.resetPeakUsage())
    def peakMb(): Long = {
      var t = 0L
      heapPools().forEach(p =>
        if (p.getType == java.lang.management.MemoryType.HEAP) t += p.getPeakUsage.getUsed)
      t / (1 << 20)
    }
    def heapUsedMb(): Long = {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed / (1 << 20)
    }
    def run(label: String): Unit = {
      System.gc()
      resetPeaks()
      val t0 = System.nanoTime()
      val found = Similarity.portableEmbedPairs(emb, "vec_id", "embedding",
        minScore = graft.SparkEntry.EmbedMinScore,
        tables = tables, bits = bits, probes = bits).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[regime] $label: $sec%.1f s, $found pairs, heap-pool peak ${peakMb()} MB")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      graft.operators.Broadcasts.destroyAll()
    }
    if (stages("map")) {
      // ISOLATED driver-side envelope of the broadcast verify-map
      // build (the round-15 advice's transient-double-copy question):
      // quantized frame → toLocalIterator → HashMap → broadcast, heap
      // deltas reported at each step. In local mode the full-entry run
      // below conflates executor task memory into the same heap; this
      // stage is the driver-only number a cluster driver would pay.
      System.gc(); resetPeaks()
      val before = heapUsedMb()
      val q = Similarity.portableQuantized(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("__qv"))
      val m = Similarity.packedVerifyMap(Seq(q))
      System.gc()
      val afterMap = heapUsedMb()
      val bc = spark.sparkContext.broadcast(m)
      bc.value // materialize the local block
      System.gc()
      val afterBc = heapUsedMb()
      println(s"[regime] map stage: rows=${m.size} heap before=$before MB " +
        s"after-map=$afterMap MB after-broadcast=$afterBc MB " +
        s"pool-peak=${peakMb()} MB (map ≈ ${afterMap - before} MB, " +
        s"broadcast block ≈ ${afterBc - afterMap} MB)")
      bc.destroy()
    }
    if (stages("broadcast")) run("monolithic runner (heap-metered)")
    // round-17 verdict #4 receipt: the persisted-signature-table runner
    // at S=8 — signatures computed once, jobs sequential, one map at a
    // time. Wall + heap-pool peak are THE published numbers.
    if (stages("persisted")) {
      System.gc(); resetPeaks()
      val work = s"$dir/persisted_s8"
      val t0 = System.nanoTime()
      val found = Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
        minScore = graft.SparkEntry.EmbedMinScore,
        tables = tables, bits = bits, probes = bits,
        shardRows = n / 8 + 1, workDir = work).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[regime] persisted (S=8, table mode): $sec%.1f s, $found pairs, " +
        s"heap-pool peak ${peakMb()} MB")
    }
    // round-17 verdict #2 receipt: connected components OVER the sharded
    // pair output — the past-bound pipeline closed end-to-end
    // (pairs → clusters). Reads the persisted S=4 pair table (written
    // fresh here), then runs the q74/q97 hash-min + pointer-jumping
    // operator on it; receipts wall, rounds-to-convergence, peak heap.
    if (stages("cc")) {
      val work = s"$dir/persisted_s4"
      val t0p = System.nanoTime()
      val pairs = Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
        minScore = graft.SparkEntry.EmbedMinScore,
        tables = tables, bits = bits, probes = bits,
        shardRows = n / 4 + 1, workDir = work)
      val nPairs = pairs.count()
      val pairSec = (System.nanoTime() - t0p) / 1e9
      // Deployment knobs for an iterative pass this size, both already
      // shipped: a RELIABLE checkpoint dir (the SPARK_GRAFT_CHECKPOINT_DIR
      // mode — per-round lineage cuts live as files, not block-manager
      // memory) and shuffle partitions at ~350k symmetric edges each
      // (floor the core count, cap 2048). The session defaults OOM at
      // this size (first attempt: the 1.23B-row sym distinct through 32
      // partitions = ~38M-row hash tables × 32 task threads in one 8 GB
      // heap).
      spark.sparkContext.setCheckpointDir(s"$dir/ckpt")
      val symParts = math.min(2048, math.max(cpus, math.ceil(2.0 * nPairs / 350000L).toInt))
      spark.conf.set("spark.sql.shuffle.partitions", symParts)
      println(s"[regime] cc sizing: symmetric-edge estimate ${2L * nPairs} -> $symParts partitions, reliable ckpt dir")
      System.gc(); resetPeaks()
      val t0 = System.nanoTime()
      val labels = graft.operators.TextDedup.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val stats = labels.agg(count(lit(1)), countDistinct(col("cluster"))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[regime] cc over sharded S=4 pairs: $nPairs pairs (built in $pairSec%.1f s), " +
        f"cc $sec%.1f s, rounds=${graft.operators.TextDedup.lastCcRounds}, " +
        s"vertices=${stats.getLong(0)} clusters=${stats.getLong(1)}, " +
        s"heap-pool peak ${peakMb()} MB")
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // round-17 q224 receipt: COUNT-IDENTITY cross-validation of the
    // incremental sharded runner at scale. Split the fixture by id
    // RANGE (the daily-crawl shape; an id-HASH split would collapse
    // onto the runners' own xxhash64 shard assignment — a parity split
    // leaves half the shards empty) and check the exact decomposition
    //   pairs(all) = within(old) + within(new) + cross(old, new)
    // with every term produced by a SHIPPED persisted runner — each
    // pair lands in exactly one term, so on the under-cap fixture the
    // sums must match bit-exactly. Receipts wall + count per term.
    if (stages("cross")) {
      val splitId = (factor / 2) * 10000000L
      val old = emb.filter(col("vec_id") < splitId)
      val inc = emb.filter(col("vec_id") >= splitId)
      val (nOld, nInc) = (old.count(), inc.count())
      println(s"[regime] cross split at $splitId: existing=$nOld incoming=$nInc")
      def timed(label: String)(f: => Long): Long = {
        System.gc(); resetPeaks()
        val t0 = System.nanoTime()
        val c = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[regime] $label: $sec%.1f s, $c pairs, heap-pool peak ${peakMb()} MB")
        c
      }
      val total = timed("cross stage: symmetric all (persisted S=4)") {
        Similarity.shardedEmbedPairs(emb, "vec_id", "embedding",
          minScore = graft.SparkEntry.EmbedMinScore,
          tables = tables, bits = bits, probes = bits,
          shardRows = n / 4 + 1, workDir = s"$dir/cross_all").count()
      }
      val wOld = timed("cross stage: within existing (persisted S=2)") {
        Similarity.shardedEmbedPairs(old, "vec_id", "embedding",
          minScore = graft.SparkEntry.EmbedMinScore,
          tables = tables, bits = bits, probes = bits,
          shardRows = nOld / 2 + 1, workDir = s"$dir/cross_old").count()
      }
      val wInc = timed("cross stage: within incoming (persisted S=2)") {
        Similarity.shardedEmbedPairs(inc, "vec_id", "embedding",
          minScore = graft.SparkEntry.EmbedMinScore,
          tables = tables, bits = bits, probes = bits,
          shardRows = nInc / 2 + 1, workDir = s"$dir/cross_inc").count()
      }
      val cross = timed("cross stage: cross (persisted Se=2 x Si=2)") {
        Similarity.shardedCrossEmbedPairs(old, inc,
          "vec_id", "embedding", minScore = graft.SparkEntry.EmbedMinScore,
          tables = tables, bits = bits, probes = bits,
          shardRowsExisting = nOld / 2 + 1, shardRowsIncoming = nInc / 2 + 1,
          workDir = s"$dir/cross_x").count()
      }
      val ok = wOld + wInc + cross == total
      println(s"[regime] cross identity: $wOld + $wInc + $cross = ${wOld + wInc + cross} " +
        s"vs symmetric $total -> ${if (ok) "EXACT" else "MISMATCH"}")
    }
    // round-17 ADVICE #4 probe: the ANN one-shot path derives its
    // bucket-key subtree twice (cap aggregate + join probe side) — time
    // the self-sized search at this fixture to decide whether a lineage
    // cut pays (min of 3 in-session reps; first rep includes codegen)
    if (stages("ann")) {
      val (t, b, p) = Similarity.recommendedSearchPoint(n)
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val walls = (1 to 3).map { r =>
        val t0 = System.nanoTime()
        val found = Similarity.lshTopKInt(emb, "vec_id", "embedding",
          qs, "qid", "qvec", k = 10, numTables = t, bitsPerTable = b, probes = p).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[regime] ann rep $r: $sec%.2f s, $found rows (point $t x $b + $p)")
        sec
      }
      println(f"[regime] ann min of 3: ${walls.min}%.2f s")
    }
    spark.stop()
  }
}
