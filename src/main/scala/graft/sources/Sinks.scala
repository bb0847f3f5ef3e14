package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Files-read accounting for the manifest-pruned read path. */
final case class SkipStats(filesTotal: Int, filesRead: Int)

/** Write-side counterpart to Sources: the reference's only sink is a
  * driver-side CSV of an already-capped result (graft.Results.writeCsv);
  * a training-data pipeline additionally needs distributed, partitioned,
  * re-readable output. */
object Sinks {

  /** Partitioned parquet: one directory per distinct partition-column
    * tuple. Partition columns should be low-cardinality (date, lang,
    * source) — this is what makes downstream partition PRUNING work: a
    * reader filtering on them never opens the other directories. */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    ()
  }

  /** Sharded JSONL export — the training-data interchange format (one
    * JSON object per line; what tokenizer/loader stacks consume).
    * `maxRecordsPerShard` bounds every file via Spark's per-task file
    * rolling (`maxRecordsPerFile`), so shard sizing needs no repartition
    * and no extra shuffle — each task just rolls files as it writes.
    * `compression` "gzip"/"zstd"/"none"; compressed shards stay
    * line-splittable for re-reading at the FILE level (one shard = one
    * read task), which is why bounding shard size matters more for JSONL
    * than for parquet. */
  def writeJsonlShards(df: DataFrame, path: String, maxRecordsPerShard: Long,
                       compression: String = "none"): Unit = {
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerShard)
      .option("compression", compression)
      .json(path)
    ()
  }

  /** ORC sink (columnar alternative with the same pushdown/statistics
    * contract as parquet — some warehouse stacks are ORC-native). */
  def writeOrc(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").orc(path)
    ()
  }

  /** Layout-sorted parquet for data skipping: range-partition then sort
    * within partitions on the filter columns, so each row group's min/max
    * statistics cover a narrow value range and a selective reader skips
    * most of the file without touching it. The standard layout move for
    * append-once/read-many 100 TB corpora; `repartitionByRange` keeps the
    * sort global across files (file N's range precedes file N+1's). */
  def writeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                         targetFiles: Int): Unit = {
    df.repartitionByRange(targetFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
    writeSkippingManifest(df.sparkSession, path, sortCols)
  }

  /** Bit-interleaved Z-value: each column is quantized to `bits` bits
    * against its fixed [min,max] domain, then the bit planes are
    * interleaved (column i contributes bit b to position b·ncols+i). Rows
    * close in z-value are close in EVERY indexed dimension, which is what
    * lets one linear sort give file-level skipping on all of them at once
    * — the multi-dimensional layout Iceberg/Delta call Z-ordering. Pure
    * codegen'd column math (cast/round/shift/and), no UDF. */
  def zValue(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
             bits: Int = 16): Column = {
    require(cols.size * bits <= 62, s"z-value needs ${cols.size * bits} bits; must fit a signed long")
    val maxQ = (1L << bits) - 1
    val qs = cols.zipWithIndex.map { case (c, i) =>
      val range = math.max(maxs(i) - mins(i), java.lang.Double.MIN_NORMAL)
      val scaled = (c.cast("double") - mins(i)) / range * maxQ
      least(greatest(round(scaled).cast("long"), lit(0L)), lit(maxQ))
    }
    val terms = for { b <- 0 until bits; i <- qs.indices }
      yield shiftleft(shiftrightunsigned(qs(i), b).bitwiseAND(lit(1L)), b * qs.size + i)
    terms.reduce(_ + _) // bit positions are disjoint, so + is the OR
  }

  /** Z-ordered parquet layout: range-partition + sort on the interleaved
    * z-value of `zCols`, so a selective filter on ANY indexed column
    * prunes files — the layout a single-column sort cannot give (its
    * secondary columns scatter across every file). Column domains come
    * from one metadata-only min/max aggregate over the input. The z column
    * itself is dropped before writing; the manifest records per-file
    * min/max of every indexed column. */
  def writeZOrderedParquet(df: DataFrame, path: String, zCols: Seq[String],
                           targetFiles: Int, bits: Int = 16): Unit = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    zCols.zipWithIndex.foreach { case (c, i) =>
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"writeZOrderedParquet: no min/max for z-column '$c' " +
          "(empty input or all-NULL column) — cannot derive a z-order domain")
    }
    val mins = zCols.indices.map(i => row.getDouble(2 * i))
    val maxs = zCols.indices.map(i => row.getDouble(2 * i + 1))
    df.withColumn("__z", zValue(zCols.map(col), mins, maxs, bits))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    writeSkippingManifest(df.sparkSession, path, zCols)
  }

  private val ManifestName = "_graft_manifest.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Per-file min/max manifest over `columns` — the file-level analogue of
    * parquet's row-group statistics, and the same planning discipline a
    * table format (Iceberg/Delta) applies: collect file stats ONCE at
    * write time so selective readers prune whole files from the listing
    * without opening them. One distributed pass groups by input file; the
    * collect is one row per FILE (metadata-sized, not data). The
    * underscore-prefixed name keeps Spark's parquet reader from treating
    * the manifest as data. */
  def writeSkippingManifest(spark: SparkSession, path: String, columns: Seq[String]): Unit = {
    val aggs = columns.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"__lo_$c"), max(col(c)).cast("string").as(s"__hi_$c")))
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val root = mapper.createObjectNode()
    val colsNode = root.putArray("columns")
    columns.foreach(colsNode.add)
    val files = root.putArray("files")
    perFile.foreach { r =>
      val f = files.addObject()
      f.put("file", r.getString(0))
      columns.zipWithIndex.foreach { case (c, i) =>
        f.put(s"min_$c", r.getString(1 + 2 * i))
        f.put(s"max_$c", r.getString(2 + 2 * i))
      }
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, ManifestName), true)
    try out.write(mapper.writeValueAsString(root).getBytes("UTF-8")) finally out.close()
  }

  /** Manifest-pruned range read over any manifest-indexed NUMERIC column:
    * files whose [min,max] cannot intersect [lo,hi] are dropped from the
    * listing before Spark ever opens them (driver-side, manifest only);
    * the exact predicate still applies to the survivors. Returns the frame
    * plus the files-read accounting — `filesRead < filesTotal` is the
    * measurable data-skipping claim (BASELINE.md). */
  def readRangeSkipping(spark: SparkSession, path: String, column: String,
                        lo: BigDecimal, hi: BigDecimal): (DataFrame, SkipStats) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, ManifestName))
    val manifest = try mapper.readTree(in) finally in.close()
    val covered = (0 until manifest.get("columns").size())
      .map(manifest.get("columns").get(_).asText())
    require(covered.contains(column),
      s"manifest covers ${covered.mkString("[", ", ", "]")}, not '$column'")
    val files = (0 until manifest.get("files").size()).map(manifest.get("files").get)
    val selected = files.filter { f =>
      BigDecimal(f.get(s"max_$column").asText()) >= lo &&
        BigDecimal(f.get(s"min_$column").asText()) <= hi
    }.map(_.get("file").asText())
    val stats = SkipStats(files.size, selected.size)
    val df =
      if (selected.isEmpty)
        spark.read.parquet(path).filter(lit(false))
      else
        spark.read.parquet(selected: _*)
          .filter(col(column) >= lit(lo.underlying()) && col(column) <= lit(hi.underlying()))
    (df, stats)
  }
}
