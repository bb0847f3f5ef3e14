package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Registers the driver testdata parquet files as temp views, mirroring the
  * reference's schema-introspection step (db_utils.py:116-156) collapsed to
  * local metadata reads (SURVEY.md §3.1).
  *
  * Registration reads one parquet footer per table on the driver and
  * starts no Spark job: each view is declared with that footer's schema,
  * so Spark's own schema inference (one job per table) never runs, and
  * the scan itself stays lazy. It is still memoized per session so the
  * bench loop doesn't redo catalog work per query.
  */
object Tables {

  /** All testdata tables, in the driver's canonical order (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // session → directory its views are CURRENTLY bound to. The memo key
  // must be the session alone, not (session, dir): temp views are one
  // per-session namespace, so registering dir B after dir A rebinds every
  // view, and a later register(A) memoized on (session, A) would no-op and
  // silently leave the views at B — callers mixing scale factors then read
  // the wrong data (bit the test suite: a batch-vs-stream equivalence
  // check read events from another SF's view). Tracking the bound dir
  // makes every dir switch re-register, and same-dir calls stay free.
  // DataFrames already handed out stay correct either way: spark.table
  // resolves the view at creation time.
  private val registered = scala.collection.concurrent.TrieMap.empty[Int, String]

  /** Register every table under `dir` as a temp view named after the file. */
  def register(spark: SparkSession, dir: String): Unit = {
    val key = System.identityHashCode(spark)
    if (!registered.get(key).contains(dir)) synchronized {
      if (!registered.get(key).contains(dir)) {
        // `events.ts` has shipped as INT64 TIMESTAMP(NANOS) (rounds ≤8:
        // Spark 4 refuses it outright, so read nanos as long under the
        // legacy conf and truncate to µs) AND as tz-naive TIMESTAMP(MICROS)
        // (round 9 regeneration: infers as TIMESTAMP_NTZ). Normalize both
        // to TimestampType — session tz is UTC everywhere, so the NTZ→LTZ
        // cast is value-identity, and every oracle text/plan rule was
        // written against TimestampType ts (FIXTURES.md).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // native scalar functions used by the query corpus (int_dot in
        // the quantized-embedding entries) — registering here makes every
        // gate/bench/judge path that reaches the data also able to
        // resolve them, whatever session it brings (operators also
        // self-register on their own frames)
        graft.functions.IntDot.register(spark)
        val hadoopConf = spark.sessionState.newHadoopConf()
        names.foreach { t =>
          val path = s"$dir/$t.parquet"
          if (new java.io.File(path).exists()) {
            val raw = spark.read.schema(footerSchema(spark, path, hadoopConf)).parquet(path)
            val df =
              if (t == "events" && raw.schema("ts").dataType == LongType)
                raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
              else if (t == "events" && raw.schema("ts").dataType != TimestampType)
                raw.withColumn("ts", col("ts").cast(TimestampType))
              else raw
            df.createOrReplaceTempView(t)
          }
        }
        registered.put(key, dir)
      }
    }
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from one footer instead of by Spark's inference job. For a directory
    * this is the footer inference reads with `mergeSchema` off:
    * `_common_metadata`, else `_metadata`, else the first data file in path
    * order, skipping the names Spark's file listing hides (`_SUCCESS`,
    * `.crc` files). The converter reads the session conf as the job does,
    * so `spark.sql.legacy.parquet.nanosAsLong` must be set before the call. */
  private[graft] def footerSchema(spark: SparkSession, path: String, conf: Configuration): StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(footerFile, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(footerFile.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    register(spark, dir)
    spark.table(name)
  }
}
