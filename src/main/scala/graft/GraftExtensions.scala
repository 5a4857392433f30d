package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension wiring: registers the native as-of join's planner
  * strategy ([[graft.plans.AsofJoinStrategy]]: logical `AsofJoinNode` →
  * `AsofJoinExec` merge pass), which
  * [[graft.operators.Relational.asofJoinNative]] needs. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (every `Harness` session
  * does), or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * graft's custom expressions are not SQL functions: library code builds
  * each one as a Column through `ColumnBridge.column` (e.g.
  * [[graft.functions.VectorFunctions.dot]]), so no session needs this
  * extension to run them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
}
