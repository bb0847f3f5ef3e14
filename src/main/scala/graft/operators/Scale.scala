package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out utilities: the partitioning/skew toolkit the 100 TB posture
  * calls for (build brief: "broadcast small dims, repartition/bucketing for
  * co-located joins, salting for skew, AQE for runtime re-plan").
  *
  * AQE's skew-join splitting handles most skew at runtime; explicit
  * salting remains the tool when one key dominates so heavily that even a
  * split partition exceeds memory, or when the skewed side feeds an
  * aggregation (AQE does not salt aggregates).
  */
object Scale {

  /** Deterministic per-row salt in [0, buckets): hash of the whole row —
    * no rand(), so retries/speculative tasks agree. */
  def rowSalt(allCols: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(allCols: _*), lit(buckets.toLong)).cast("int")

  /** Skew-safe equi-join: the large (skewed) side gets a deterministic
    * row salt; every row of the smaller side is replicated to all salt
    * values. The join key becomes (key, salt), splitting each hot key's
    * rows across `saltBuckets` reducers. Use when AQE's skew splitting is
    * not enough (e.g. the hot key's single value exceeds executor memory).
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    val saltedBig = skewed.withColumn("__salt",
      rowSalt(skewed.columns.map(skewed(_)).toSeq, saltBuckets))
    val replicated = other.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    saltedBig.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Scale-safe NTILE: `NTILE(n) OVER (ORDER BY x)` forces every row into
    * ONE partition (Spark warns exactly this). For billions of rows the
    * distributed equivalent is: compute the n-1 quantile boundaries once
    * (approx_percentile — a tiny aggregate), broadcast them, and bucket
    * each row with a scan-local comparison. Bucket numbering matches
    * NTILE's ascending convention up to boundary ties/approximation —
    * exact NTILE also splits equal values across buckets by position,
    * which no value-based method can reproduce. */
  private val QuantileAccuracy = 10000

  def ntileByQuantiles(df: DataFrame, valueCol: String, n: Int,
                       outCol: String = "ntile"): DataFrame = {
    val probs = (1 until n).map(_.toDouble / n)
    val boundaries = df.select(
      percentile_approx(col(valueCol), typedLit(probs), lit(QuantileAccuracy)).as("b"))
      .head().getSeq[Any](0).map {
        // covers every numeric boundary type percentile_approx can return
        // (Double, BigDecimal, Long, Integer, Float, Short, Byte)
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"ntileByQuantiles: non-numeric quantile boundary of ${other.getClass.getName}" +
            s" — $valueCol must be a numeric column")
      }
    val bucket = boundaries.zipWithIndex.foldRight(lit(n): Column) {
      case ((b, i), acc) => when(col(valueCol).cast("double") <= b, lit(i + 1)).otherwise(acc)
    }
    df.withColumn(outCol, bucket)
  }

  /** Exact distributed NTILE over a TOTAL order (give `orderCols` a unique
    * tie-breaker — with ties the bucket split is positional, exactly as in
    * the window form). No single-partition window: range-repartition +
    * local sort lays the data out globally ordered; pass 1 collects ONE
    * row-count per partition (P longs of metadata, not data — the same
    * contract as zipWithIndex); pass 2 turns partition offset + local
    * position into the global index and computes the bucket arithmetically
    * (first N mod n buckets take one extra row, the window function's
    * convention). Two jobs, but the shuffle output of the first is reused
    * by the second (same RDD lineage), so the sort runs once. */
  def ntileExact(df: DataFrame, orderCols: Seq[Column], n: Int,
                 outCol: String = "ntile", partitions: Int = 0): DataFrame = {
    require(n >= 1, s"ntileExact: n must be >= 1, got $n")
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p, orderCols: _*).sortWithinPartitions(orderCols: _*)
    val rdd = sorted.rdd
    val counts = rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val q = total / n
    val r = total % n
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var idx = offsets(i)
      it.map { row =>
        // rows [0, r*(q+1)) fill the first r buckets of size q+1; the rest
        // fill buckets of size q (q == 0 ⇒ total < n ⇒ first branch only)
        val b = if (idx < r * (q + 1)) idx / (q + 1) + 1
                else r + (idx - r * (q + 1)) / q + 1
        idx += 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ b)
      }
    }
    spark.createDataFrame(out, sorted.schema.add(outCol,
      org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** Scale-safe grouped running total: `SUM(value) OVER (PARTITION BY
    * group ORDER BY orderCols ROWS UNBOUNDED PRECEDING)` without the
    * per-group single-reducer window. A window partitioned by a
    * LOW-cardinality group (language, source) serializes each group
    * through ONE task — the q18 failure shape, fatal when one group is
    * most of a 100 TB corpus. The distributed form mirrors `ntileExact`:
    * range-repartition on (group, orderCols) + local sort lays every
    * group out contiguously across partitions; pass 1 collects BOUNDARY
    * metadata only — each partition's first/last group and their local
    * sums (≤1 small tuple per partition, the zipWithIndex contract; never
    * per-group state, so group cardinality is irrelevant); the driver
    * threads a carry along the partition chain (a group spans a
    * contiguous partition run, so only the first group of each partition
    * can have an inbound offset); pass 2 emits the running sum
    * scan-locally. Two jobs over ONE shuffle (the sort's shuffle files
    * are reused). `orderCols` must be a total order within each group;
    * `valueCol` must be LongType. */
  def groupedPrefixSum(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                       valueCol: String, outCol: String = "cum",
                       partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val sortCols = col(groupCol) +: orderCols
    val sorted = df.repartitionByRange(p, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val gi = sorted.schema.fieldIndex(groupCol)
    val vi = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vi).dataType == org.apache.spark.sql.types.LongType,
      s"groupedPrefixSum: $valueCol must be LongType, got ${sorted.schema(vi).dataType}")
    val rdd = sorted.rdd
    // pass 1: (firstGroup, firstGroupSum, lastGroup, lastGroupSum) per
    // partition; None for empty partitions. Interior groups never cross a
    // partition edge (contiguous layout), so they need no metadata.
    val bounds = rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator((i, None: Option[(Any, Long, Any, Long)]))
      else {
        var first: Any = null; var firstSum = 0L
        var cur: Any = null; var curSum = 0L; var started = false
        it.foreach { r =>
          val g = r.get(gi); val v = r.getLong(vi)
          if (!started) { first = g; cur = g; curSum = v; started = true }
          else if (g == cur) curSum += v
          else { if (cur == first) firstSum = curSum; cur = g; curSum = v }
        }
        if (cur == first) firstSum = curSum
        Iterator((i, Option((first, firstSum, cur, curSum))))
      }
    }.collect().sortBy(_._1).map(_._2)
    // driver carry: offset(i) = the cumulative sum of partition i's FIRST
    // group accumulated in earlier partitions (0 when the group starts
    // here). The carry after i is that group's cumulative-so-far when the
    // partition holds a single group, else the last group's local sum.
    val offsets = new Array[Long](bounds.length)
    var carryGroup: Any = null; var carrySum = 0L; var seen = false
    bounds.zipWithIndex.foreach {
      case (None, i) => offsets(i) = 0L
      case (Some((fg, fs, lg, ls)), i) =>
        offsets(i) = if (seen && carryGroup == fg) carrySum else 0L
        carrySum = if (fg == lg) offsets(i) + fs else ls
        carryGroup = lg; seen = true
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val off = bOffsets.value(i)
      var cur: Any = null; var running = 0L; var started = false
      it.map { r =>
        val g = r.get(gi); val v = r.getLong(vi)
        if (!started) { cur = g; running = off + v; started = true }
        else if (g == cur) running += v
        else { cur = g; running = v }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ running)
      }
    }
    spark.createDataFrame(out, sorted.schema.add(outCol,
      org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** Deterministic train/test split by key hash: the same key lands in the
    * same split on every run, every machine, every scale factor — the only
    * split discipline that survives re-runs over a growing 100 TB corpus
    * (random sampling re-deals on each execution). pmod keeps negative
    * hashes in range.
    *
    * `method`: "xxhash64" (default — fastest, engine-specific values) or
    * "md5" (first 8 hex chars of the key's md5 as an unsigned 32-bit int —
    * slower but portable: any engine with md5 computes the identical
    * split, which is what puts q69 under the cross-engine oracle). The
    * label ("train"/"test") lands in column `split`. */
  def hashSplit(df: DataFrame, keyCol: String, trainPct: Int,
                method: String = "xxhash64"): DataFrame = {
    val h = method match {
      case "md5" => conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long")
      case _     => xxhash64(col(keyCol))
    }
    df.withColumn("split",
      when(pmod(h, lit(100)) < trainPct, lit("train")).otherwise(lit("test")))
  }

  /** CDC-style upsert compaction (the MERGE every incremental corpus
    * needs): union the base snapshot with an update batch and keep, per
    * key, the row with the HIGHEST `versionCol` — one shuffle on the key
    * via max_by over the packed row struct, no window, no sort. Ties are
    * the caller's contract (versions unique per key: sequence numbers,
    * ingest timestamps); at 100 TB this is the periodic compaction pass
    * over an append-only delta log, and the single hash-aggregate shape
    * (map-side partials collapse same-key duplicates before the
    * exchange) is exactly what you want there. Schemas must match. */
  def upsertLatest(base: DataFrame, updates: DataFrame, keyCol: String,
                   versionCol: String): DataFrame = {
    val all = base.unionByName(updates)
    val cols = all.columns
    all.groupBy(col(keyCol))
      .agg(max_by(struct(cols.map(col): _*), col(versionCol)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
  }

  /** Greedy sequence packing for training-batch construction: shard
    * documents deterministically (id mod nShards), order by id within a
    * shard, and fill packs first-fit-sequential up to `budgetTokens`
    * (an oversized document takes a pack of its own). Packing within a
    * shard is inherently sequential — each decision depends on the
    * running fill — so the parallelism unit is the shard: shards pack
    * independently in one mapPartitions pass over shard-partitioned,
    * shard-sorted rows; at 100 TB you pick nShards ≈ cores available and
    * every shard streams once. Output: (id, shard, pack), pack numbering
    * restarting per shard. Deterministic: same ids → same packs on every
    * run and engine (the q75 oracle replays the identical rule as a
    * recursive CTE). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budgetTokens: Long, nShards: Int): DataFrame = {
    require(nShards >= 1 && budgetTokens >= 1)
    val spark = df.sparkSession
    val prepared = df
      .select(col(idCol).cast("long").as("id"), col(tokensCol).cast("long").as("n"))
      .withColumn("__shard", pmod(col("id"), lit(nShards.toLong)))
      .repartition(math.min(nShards, spark.sessionState.conf.numShufflePartitions), col("__shard"))
      .sortWithinPartitions(col("__shard"), col("id"))
    val out = prepared.rdd.mapPartitions { it =>
      // a partition holds whole shards back to back; reset at shard change
      var shard = Long.MinValue; var acc = 0L; var pack = 0L
      it.map { r =>
        val id = r.getLong(0); val n = r.getLong(1); val s = r.getLong(2)
        if (s != shard) { shard = s; acc = n; pack = 0L }
        else if (acc + n > budgetTokens) { acc = n; pack += 1 }
        else acc += n
        org.apache.spark.sql.Row(id, s, pack)
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pack", org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Weighted corpus mixture for training-data composition: each source is
    * Bernoulli-sampled at its weight and unioned. Seeded → reproducible;
    * sampling happens at the scan (no shuffle); weights > 1.0 are not
    * supported (use explode-based duplication for upsampling). */
  def weightedMix(sources: Seq[(DataFrame, Double)], seed: Long): DataFrame = {
    require(sources.nonEmpty && sources.forall(_._2 <= 1.0))
    sources.map { case (df, w) => df.sample(withReplacement = false, w, seed) }
      .reduce(_ unionByName _)
  }

  /** Stratified sample with per-stratum fractions (e.g. per-language
    * quotas in a multilingual corpus). Seeded `sampleBy` — one scan. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Deterministic stratified corpus mix by KEY HASH — the promotable
    * form of `weightedMix`/`stratifiedSample` (whose seeded `rand`/
    * `sampleBy` draws are engine-specific, hence unit-only): a row
    * survives iff md5int(key || '#' || stratum) % 10000 < its stratum's
    * basis-point quota. The md5-derived integer is the q69 dual-spelling
    * trick, so any engine derives the IDENTICAL surviving key set — the
    * same discipline that makes train/test splits replayable — and the
    * same key keeps its fate across runs, machines and scale factors
    * (re-sampling a grown corpus only adds rows, never re-deals old
    * ones). The stratum is salted into the hash so one key's draws are
    * independent across strata. Scan-local filter: no shuffle, prunes to
    * (key, stratum) at the scan. Strata absent from `fractionsBp` are
    * dropped (quota 0). */
  def hashStratifiedMix(df: DataFrame, strataCol: String, keyCol: String,
                        fractionsBp: Map[String, Int]): DataFrame = {
    require(fractionsBp.values.forall(bp => bp >= 0 && bp <= 10000),
      "fractions are basis points in [0, 10000]")
    val quota = fractionsBp.toSeq.sortBy(_._1).foldRight(lit(0): Column) {
      case ((s, bp), acc) => when(col(strataCol) === s, lit(bp)).otherwise(acc)
    }
    val h = conv(substring(md5(concat(col(keyCol).cast("string"), lit("#"), col(strataCol))), 1, 8), 16, 10)
      .cast("long")
    df.filter(pmod(h, lit(10000L)) < quota)
  }
}
