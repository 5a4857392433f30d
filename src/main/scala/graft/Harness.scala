package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for the repo's mains (`Bench`, `Prof`,
  * `Verify`, `PlanAudit`, `pipeline.PipelineDemo`). Every session shares
  * [[base]] on `local[cpus]`; a caller passes only the confs where it
  * really differs. The confs are plain maps so tests can pin them without
  * starting a second session.
  */
object Harness {
  /** Worker threads: `SPARK_GRAFT_CPUS`, else this machine's cores — not
    * a fixed number, which once silently measured a whole bench on 4 of
    * 32 cores, or oversubscribed a 4-core host 8×. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  val base: Map[String, String] = Map(
    // timestamp queries hash-differ from the DuckDB oracle in any other zone
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // The 300 s default killed 11 refinement runs in one contended
    // session (cold pass 1030 s): a broadcast that takes >300 s wall
    // under load throws and looks like a query failure. The callers'
    // outer budgets already bound total time; don't let an inner timeout
    // fabricate failures.
    "spark.sql.broadcastTimeout" -> "3600")

  /** `Bench` and `Prof` (so A/Bs in Prof transfer to the bench). These are
    * BENCH-HARNESS constants, not production guidance: on a real cluster
    * you run AQE on with partitions sized to the data. */
  val benchConf: Map[String, String] = Map(
    // Round-11 constant attack (sf0.1, interleaved cells, min-of-3): the
    // suite is driver-latency-bound, not data-bound, at bench scale — 34
    // sampled queries ran 41.1 s under (AQE on, partitions=cpus) vs
    // 31.0 s at (AQE off, partitions=8): fewer reduce tasks per stage and
    // no per-stage AQE replan/job split. Scan parallelism is unaffected
    // (file splits), map-side combine is unaffected, and
    // singlePartitionFinals already bounds the finals.
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8",
    // Same constant-attack family (12-query interleaved A/B): constraint
    // propagation is an O(tree²) optimizer pass whose inferred IsNotNull
    // pushdowns matter on real scans, not on a warm 12k-row bench corpus
    // — off saved 6% total with zero per-query regressions (q04 −35%).
    // Correctness is unaffected by construction (it only ADDS derived
    // filters); Verify keeps Spark defaults.
    "spark.sql.constraintPropagation.enabled" -> "false",
    // Static conf, must precede session creation: the default generated-
    // class cache holds 100 entries; 45+ queries × several codegen stages
    // × repeated runs thrash it, so re-runs pay full Janino compilation
    // (measured ~3.5 s on the window queries) instead of a cache hit.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** `Verify`: Spark's AQE with one shuffle partition per worker thread. */
  def verifyConf(cpus: Int): Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> cpus.toString)

  /** `PlanAudit`: a real shuffle-partition width; each audit sets AQE per
    * run. */
  val auditConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "32")

  /** Starts (or returns) the session: `local[cpus]`, [[base]] overlaid by
    * `conf`, and `Tables.configure` applied. */
  def session(conf: Map[String, String],
      logLevel: String = "WARN"): SparkSession = {
    val spark = (base ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[${cpus()}]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.sources.Tables.configure(spark)
    spark
  }
}
