package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-level execution error, surfaced as a value — the reference never
  * throws to its caller (db_utils.py:180-182: exception → error banner +
  * empty DataFrame). */
final case class EngineError(message: String, cause: Option[Throwable] = None)

/** SQL-in → result-out execution path (SURVEY.md §3.3), replacing the
  * reference's remote-RDBMS hand-off (db_utils.py:158-182) with Catalyst:
  *
  *   sanitize → read-only gate → spark.sql (parse/analyze/optimize/execute)
  *   → duplicate-output-column rename → Right(df) | Left(EngineError)
  */
object Runner {

  /** Post-execution duplicate-column rename (db_utils.py:168-177, P8):
    * every column whose name occurs more than once is suffixed `_1`, `_2`…
    * in occurrence order; unique names pass through untouched. */
  def dedupColumns(df: DataFrame): DataFrame = {
    val cols = df.columns
    val dupes = cols.groupBy(identity).collect { case (n, occ) if occ.length > 1 => n }.toSet
    if (dupes.isEmpty) df
    else {
      val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val renamed = cols.map { c =>
        if (dupes(c)) { seen(c) += 1; s"${c}_${seen(c)}" } else c
      }
      df.toDF(renamed.toIndexedSeq: _*)
    }
  }

  /** Two-stage read-only gate: the reference's textual SELECT/WITH check
    * (prefix, bug-compat reject message) AND a parse-based structural check —
    * `WITH … INSERT OVERWRITE DIRECTORY …` passes the prefix but is a write
    * (Spark grammar accepts CTEs before DML), so the statement must also
    * parse to a pure relation with no Insert/Command node anywhere in it. */
  private def readOnlyGate(spark: SparkSession, sql: String): Option[EngineError] =
    if (!Sanitizer.isReadOnly(sql))
      Some(EngineError(s"rejected non-SELECT statement: ${sql.take(80)}"))
    else
      Sanitizer.writeNode(spark, sql).map(node =>
        EngineError(s"rejected write/command statement ($node): ${sql.take(80)}"))

  /** Execute raw (possibly LLM-produced) text against the registered
    * views: the sanitizer, then the trusted-SQL path. */
  def run(spark: SparkSession, raw: String): Either[EngineError, DataFrame] =
    runSql(spark, Sanitizer.sanitize(raw))

  /** Trusted-SQL path: read-only gate + execution + dup-rename, WITHOUT
    * the LLM-output sanitizer. The sanitizer's leading-SELECT slice is
    * bug-compatible with the reference (app.py:261-263) and mangles CTEs
    * — `WITH x AS (SELECT …) SELECT …` slices to the inner SELECT — so
    * programmatic callers with well-formed SQL must use this entry point;
    * `run` is for raw LLM output only. */
  def runSql(spark: SparkSession, sql: String): Either[EngineError, DataFrame] =
    readOnlyGate(spark, sql) match {
      case Some(err) => Left(err)
      case None =>
        try Right(dedupColumns(spark.sql(sql)))
        catch { case e: Exception => Left(EngineError(e.getMessage, Some(e))) }
    }

  /** Error-as-value compatibility shim: failures become an empty DataFrame,
    * matching db_utils.py:182 exactly. The richer Either API above is the
    * primary surface. */
  def runOrEmpty(spark: SparkSession, raw: String): DataFrame =
    run(spark, raw).getOrElse(spark.emptyDataFrame)

  /** The reference's literal error-row query (app.py:244,268, P14). */
  def errorQuery(spark: SparkSession, message: String): DataFrame =
    spark.sql(s"SELECT '${message.replace("'", "''")}' AS error_message LIMIT 100")
}
