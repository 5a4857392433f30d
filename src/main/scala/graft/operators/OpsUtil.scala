package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Small shared idioms for the iterative / guarded operators. */
private[graft] object OpsUtil {

  /** The RDDs materialized by a `localCheckpoint()` in `df`'s lineage.
    * localCheckpoint blocks are invisible to `DataFrame.unpersist`; an
    * iterative operator frees each superseded round's blocks through
    * these handles so storage stays O(1) rounds instead of
    * O(iterations). Shared by [[TextDedup.dupClusters]],
    * [[Graph.pageRank]] and [[Merge.upsertPartitioned]]. */
  def ckptRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Row-level fail-fast guard: TRUE where `cond` holds, raises with the
    * concatenated `message` otherwise — `df.where(orRaise(cond, ...))`
    * makes a scale invariant (bounded interval span, bounded block size,
    * bounded cell size) abort loudly instead of silently dominating the
    * shuffle. Shared by [[Relational.intervalJoin]],
    * [[EntityResolution.link]] and [[Similarity.semanticDedup]]. */
  def orRaise(cond: Column, message: Column*): Column =
    when(cond, lit(true)).otherwise(raise_error(concat(message: _*)))

  /** Re-materialize a CONTRACTUALLY-BOUNDED frame as a local relation:
    * a counted collect (fail-fast past `maxRows`, naming `context`)
    * followed by `createDataFrame` on the same schema. The bounded-
    * metadata idiom (the d×d covariance / IPF-grid / BPE-election
    * precedent): a k-row frame that re-enters the plan as a broadcast
    * leg otherwise REPLAYS its whole upstream lineage once per leg —
    * broadcast exchanges cannot reuse shuffle exchanges — and drags
    * its expression trees into every downstream optimizer pass. After
    * localization the downstream plan sees a LocalRelation of plain
    * values: nothing to re-run, nothing to re-optimize. Only for
    * frames whose row count is bounded by CONSTRUCTION (cluster
    * count, quantile grid, calendar boundaries) — never for data.
    *
    * CALLER-VISIBLE SEMANTICS — eager execution: the collect runs
    * Spark jobs NOW, at DataFrame-construction time, not when the
    * returned frame is first consumed. An operator built on this
    * (quantileNormalize, standardize, looTargetEncode,
    * simplifiedSilhouette, centroidOutliers, temporalSplit, driftPsi)
    * therefore (a) raises its guards at CALL time, and (b) freezes the
    * collected totals/boundaries as literals — if the underlying
    * source mutates between the call and the returned frame's
    * execution, the frozen values reflect the call-time snapshot.
    * That snapshot semantics is the intended contract for fit-style
    * metadata (a fit is a point-in-time artifact); callers needing
    * deferred evaluation must defer the operator call itself. */
  def localized(df: DataFrame, maxRows: Int, context: String): DataFrame =
    localizedWithRows(df, maxRows, n =>
      s"$context: bounded frame exceeded maxRows=$maxRows — this " +
        "collect is for contract-bounded metadata frames only; " +
        "aggregate coarser or raise the bound")._2

  /** [[localized]] returning the collected rows alongside the local
    * relation, with a caller-owned overflow message (operators pin
    * their own fail-fast wording — maxClusters, maxCategories — in
    * specs). One implementation for every counted-collect site. */
  def localizedWithRows(df: DataFrame, maxRows: Int,
      overflowMsg: Long => String):
      (Array[org.apache.spark.sql.Row], DataFrame) = {
    require(maxRows >= 1, s"maxRows must be positive: $maxRows")
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows, overflowMsg(rows.length.toLong))
    (rows, df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)),
      df.schema))
  }
}
