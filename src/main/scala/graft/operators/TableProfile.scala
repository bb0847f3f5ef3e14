package graft.operators

import graft.functions.PortableShingleHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass table profiling — the data-engineering "what is in this
  * table" pass that runs before any pipeline touches a new source
  * (nulls, cardinalities, value ranges per column). The reference stops
  * at SCHEMA introspection (db_utils.py:116-156: names/types only);
  * this is the data-level extension a 100 TB corpus needs because a bad
  * column (all-null, constant, exploding cardinality) must be caught
  * before a month-long training run reads it.
  *
  * Shape: a UNION of per-column aggregates. Each branch's parquet scan
  * is pruned to exactly ONE column and its aggregate carries a single
  * distinct — on a columnar store the union reads the same bytes as a
  * combined scan would, while the N-distinct-in-one-aggregate
  * formulation forces Spark's expand (rows × N+1 through the wide
  * aggregate: measured 2× slower on sf0.1 orders) and drags every
  * column through one scan. Branches run in parallel within one job;
  * output is metadata-sized. min/max are exposed as strings so
  * heterogeneous column types fit one result schema (the
  * comparator-safe choice: longs and dates render identically in any
  * engine; see CLAUDE.md on hashed outputs). */
object TableProfile {

  /** Profile `cols` of `df`. Each output row:
    * (col_name, n_rows, n_null, n_distinct, min_v, max_v).
    * Pass a date/timestamp column through `dateCols` to normalize its
    * range to DATE strings (yyyy-MM-dd — engine-neutral rendering).
    * Pass a money (double) column through `centsCols` to expose its
    * range as exact BIGINT cents — CAST(x AS DECIMAL(18,2)) * 100, the
    * corpus-standard trick that keeps floats out of hashed output; the
    * row is labeled `<col>_cents`. n_distinct stays on the raw value
    * (a pure count is engine-neutral; only RENDERED cells need the
    * integer spelling). */
  def profile(df: DataFrame, cols: Seq[String], dateCols: Set[String] = Set.empty,
              centsCols: Set[String] = Set.empty): DataFrame = {
    val parts = cols.map { c =>
      val ranged: Column =
        if (centsCols(c)) (col(c).cast("decimal(18,2)") * 100).cast("long")
        else if (dateCols(c)) col(c).cast("date")
        else col(c)
      val label = if (centsCols(c)) c + "_cents" else c
      df.select(col(c)).agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_null"),
          count_distinct(col(c)).as("n_distinct"),
          min(ranged).cast("string").as("min_v"),
          max(ranged).cast("string").as("max_v"))
        .select(lit(label).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }
    parts.reduce(_ unionByName _)
  }

  /** Bounded-memory profiling twin (round 10): `profile`'s one aggregate
    * whose state grows with the DATA — `count_distinct`, a per-column
    * hash set proportional to cardinality — replaced by HLL registers
    * (`Sketches.hllBucket`/`hllRho`), so every per-column branch is one
    * exchange of ≤ m+1 rows no matter the column's cardinality: nulls
    * route to a sentinel bucket −1 (exact null/row counts fall out of
    * the same aggregate — no second scan), non-null values hash through
    * the portable 32-bit key of their STRING rendering (the only
    * engine-neutral universal domain; integer/string/date columns render
    * identically cross-engine, so a DuckDB replay is bit-identical).
    * Output per column: (col_name, n_rows, n_null, n_buckets, s_scaled,
    * est_distinct) — est_distinct is the q148 FLOOR'd-double raw
    * estimate, hash-safe. */
  def sketchProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val m = Sketches.HllM
    val parts = cols.map { c =>
      val h = element_at(PortableShingleHash.column(
        array(coalesce(col(c).cast("string"), lit(""))), 1), 1)
      df.select(
          when(col(c).isNull, lit(-1L)).otherwise(Sketches.hllBucket(h)).as("bucket"),
          when(col(c).isNull, lit(0)).otherwise(Sketches.hllRho(h)).as("__rho"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("__n"), max(col("__rho")).cast("long").as("reg"))
        .agg(sum(col("__n")).as("n_rows"),
          sum(when(col("bucket") === -1L, col("__n")).otherwise(0L)).as("n_null"),
          count(when(col("bucket") >= 0L, lit(1))).as("n_buckets"),
          sum(when(col("bucket") >= 0L,
            expr("shiftleft(1L, CAST(32 - reg AS INT))")).otherwise(0L)).as("__sp"))
        .withColumn("s_scaled", // empty-input aggregates sum to NULL
          coalesce(col("__sp"), lit(0L)) +
            (lit(m) - col("n_buckets")) * lit(4294967296L))
        .select(lit(c).as("col_name"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_null"), lit(0L)).as("n_null"),
          col("n_buckets"), col("s_scaled"),
          expr(s"CAST(FLOOR(${Sketches.HllNumerator} / " +
            "CAST(s_scaled AS DOUBLE)) AS BIGINT)").as("est_distinct"))
    }
    parts.reduce(_ unionByName _)
  }

  /** Multi-table profile: one `profile` per table, column names qualified
    * `table.column` so the union stays unambiguous. Same scale shape —
    * every branch is a one-column pruned scan, output metadata-sized
    * (rows = total profiled columns, not data). */
  def profileTables(tables: Seq[(String, DataFrame, Seq[String])],
                    dateCols: Set[String] = Set.empty,
                    centsCols: Set[String] = Set.empty): DataFrame =
    tables.map { case (name, df, cols) =>
      profile(df, cols, dateCols, centsCols)
        .withColumn("col_name", concat(lit(name + "."), col("col_name")))
    }.reduce(_ unionByName _)
}
