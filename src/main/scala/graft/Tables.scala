package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Registers the driver testdata parquet files as temp views, mirroring the
  * reference's schema-introspection step (db_utils.py:116-156) collapsed to
  * local metadata reads (SURVEY.md §3.1).
  *
  * Registration is idempotent and cheap (parquet footer read only — the
  * scan itself stays lazy), but we still memoize per (session, dir) so the
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
        names.foreach { t =>
          val path = s"$dir/$t.parquet"
          if (new java.io.File(path).exists()) {
            val raw = spark.read.parquet(path)
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

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    register(spark, dir)
    spark.table(name)
  }
}
