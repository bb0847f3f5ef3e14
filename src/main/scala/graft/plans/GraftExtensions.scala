package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension entry point: enables the engine's Catalyst
  * additions on any SparkSession via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * Injects:
  *   - [[RangeJoinRewrite]] — naive time-range joins become bucketized
  *     equi-joins instead of nested-loop joins.
  *
  * The native scalar functions (int_dot, …) are registered
  * per-session by their own `register` (e.g. `graft.functions.IntDot`)
  * — function registration is session-state, not an extension, so both
  * paths work.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
  }
}
