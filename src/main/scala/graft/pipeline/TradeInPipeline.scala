package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Timestamps
import graft.operators.{Dedup, Merge}
import graft.sources.ApiSource
import TradeInSchema._

/** The reference's actual product: the 6-stage daily ETL
  * (`run_etl`, rqtradein_etl.py:12-24) —
  *
  *   connect → DDL → fetch → load staging → merge → counts/retention
  *
  * — re-expressed Spark-first. "Connect" and "DDL" become catalog
  * operations ([[CatalogDdl]]); "fetch" is an [[graft.sources.ApiSource]];
  * the load/merge/retention stages are pure DataFrame transforms composed
  * here, with persistence as parquet snapshot swaps
  * ([[graft.operators.Merge.writeSnapshot]]).
  *
  * Every stage is also exposed as a standalone function on fixed inputs
  * (fixed `now`) so the whole pipeline is deterministic under test —
  * the driver's oracle checks run the stage functions; `run` wires them
  * to storage.
  *
  * Scale posture: the daily source batch is small relative to the target
  * (one day vs. all history). The partition-scoped merge broadcasts the
  * batch's keys into a scan of the partitions it touches; the snapshot
  * layout's full-outer join ([[mergeIntoTarget]]) cannot broadcast and
  * shuffles both sides on the key. The staging table never exceeds ~2
  * days of data by construction (retention). The target snapshot
  * rewrite is the one full-table cost; on a date-partitioned target,
  * writers should swap only partitions present in the source
  * (documented on [[graft.operators.Merge.writeSnapshot]]).
  */
object TradeInPipeline {

  /** Staging normal form for parsed timestamps: 6-digit-fraction local
    * string (staging columns are VARCHAR — rqtradein_etl.py:43-89). */
  private val StagingTsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Stage 4 (load staging): normalize one raw API batch into the 44-col
    * all-string staging shape (rqtradein_etl.py:229-336).
    *
    *  - `TradeInDate`/`PostTime`/`ResponseTime` are multi-format parsed
    *    (F2/F10); unparseable-but-present values fall back to `now` (F4,
    *    rqtradein_etl.py:319-322) and are re-rendered in staging normal
    *    form;
    *  - each derives an `…EST` sibling: the EST wall-clock at seconds
    *    precision, as a string (F3/F5, rqtradein_etl.py:324-335);
    *  - `ETLRowInsertedEST` audit stamp (staging DDL default GETDATE()).
    *
    * `now` is a parameter, not `current_timestamp()`, so runs are
    * replayable and testable. */
  def stage(raw: DataFrame, now: Column): DataFrame = {
    val withParsed = tsPairs.foldLeft(raw) { case (df, (src, est)) =>
      val parsed = Timestamps.parseWithNowFallback(col(src), now)
      df.withColumn(src, date_format(parsed, StagingTsFmt))
        .withColumn(est, Timestamps.toEstString(parsed))
    }
    withParsed.select(columns.map(col) :+ now.as(insertedCol): _*)
  }

  /** Stage-5 dedup: latest row per SaleInvoiceID by TradeInDate — the
    * reference's `ROW_NUMBER() OVER (PARTITION BY SaleInvoiceID ORDER BY
    * TradeInDate DESC)` CTE (rqtradein_etl.py:167-171). Like the
    * reference, it leaves ties to the engine. Staging normal form sorts
    * identically as string or timestamp. */
  def dedupSource(staging: DataFrame): DataFrame =
    // Window form, deliberately: a `max_by(struct(row), TradeInDate)`
    // aggregation measured 3× SLOWER here — at the daily batch's ~10%
    // duplicate rate almost every group is a singleton, so the aggregate
    // copies every 44-col row struct into its buffer for nothing, while
    // the window sorts each partition once. The aggregate wins only when
    // duplicates dominate.
    Dedup.latestPerKey(staging, Seq("SaleInvoiceID"), Seq(col("TradeInDate").desc))

  /** Stage 5 (merge): dedup staging, type it, MERGE into target on
    * SaleInvoiceID with audit stamps — matched rows take all source
    * values and `ETLRowUpdatedEST = now`; new rows stamp
    * `ETLRowInsertedEST = now` (rqtradein_etl.py:150-185). */
  def mergeIntoTarget(target: DataFrame, staging: DataFrame, now: Column,
      actionCol: Option[String] = None): DataFrame = {
    val source = toTyped(dedupSource(staging))
    Merge.upsert(target, source, "SaleInvoiceID", columns,
      audit = Some((insertedCol, updatedCol, now)), actionCol = actionCol)
  }

  /** Partition column of the partition-scoped target layout: the
    * trade-in business day. Stored as a directory key
    * (`TradeInDay=yyyy-MM-dd/`), re-derived on read, dropped from the
    * logical row by [[TradeInPipeline.readTarget]]. */
  val partitionDayCol = "TradeInDay"

  /** Stage 5, partition-scoped (SURVEY.md §4.3's prescribed default):
    * dedup + type the staging batch and MERGE it into the
    * `TradeInDay`-partitioned parquet target at `targetPath`, rewriting
    * ONLY the partitions the batch touches — the reference's daily batch
    * spans 1–2 business days, so the daily run rewrites 1–2 partitions
    * of years of history instead of snapshotting the world (the
    * [[mergeIntoTarget]] + writeSnapshot fallback). The other partitions
    * are read but never rewritten: the stamp lookup of
    * [[graft.operators.Merge.upsertPartitioned]] scans the key,
    * partition and `ETLRowInsertedEST` columns of the whole target, and
    * it is also what handles date corrections that move an invoice
    * across days. Returns the partition values rewritten.
    *
    * `partDay` is the partition expression over the typed source row —
    * `to_date(TradeInDate)` by default; coarser keys (month) suit
    * backfills whose batches span years. The partition value CAN be
    * null: a row whose `TradeInDate` is empty or missing (legal input,
    * FIXTURES §A.1) keeps a NULL `TradeInDate` through stage(), so its
    * `TradeInDay` is NULL and it lives in the
    * `TradeInDay=__HIVE_DEFAULT_PARTITION__` directory, which
    * [[graft.operators.Merge.upsertPartitioned]] merges like any other
    * partition. */
  def mergeIntoTargetPartitioned(
      spark: SparkSession, targetPath: String, staging: DataFrame,
      now: Column, partDay: Column = to_date(col("TradeInDate"))): Seq[String] = {
    val source = toTyped(dedupSource(staging))
      // The merge reads audit stamps from the target side; the source
      // only needs the columns PRESENT, since every target read takes
      // the source's schema.
      .withColumn(updatedCol, lit(null).cast("timestamp"))
      .withColumn(partitionDayCol, partDay)
    Merge.upsertPartitioned(spark, targetPath, source, "SaleInvoiceID",
      partitionDayCol, columns :+ partitionDayCol,
      audit = Some((insertedCol, updatedCol, now)))
  }

  /** Stage 6a (counts): rows inserted/updated "today" relative to `now`.
    * The reference compares a DATETIME to a date (`ETLRowInsertedEST =
    * CONVERT(date, GETDATE())`, rqtradein_etl.py:188-189) which only
    * matches midnight stamps — a latent bug; the evident intent,
    * date-equality, is implemented here. */
  def todayCounts(target: DataFrame, now: Column): (Long, Long) = {
    val agg = target.agg(
      count(when(col(insertedCol).cast("date") === now.cast("date"), 1)),
      count(when(col(updatedCol).cast("date") === now.cast("date"), 1))
    ).head()
    (agg.getLong(0), agg.getLong(1))
  }

  /** Stage 6b (retention): keep only staging rows whose TradeInDate falls
    * on `now`'s date — the relational dual of the reference's DELETE
    * (rqtradein_etl.py:192). On a date-partitioned staging layout this is
    * pure partition pruning. */
  def retainToday(staging: DataFrame, now: Column): DataFrame =
    staging.filter(
      Timestamps.parseTimestamp(col("TradeInDate")).cast("date") === now.cast("date"))

  /** ETL outcome (the reference returns {"inserted": …, "updated": …}).
    * `metrics` is the run's observability artifact — the App Insights
    * analogue (host.json:4-11): per-stage wall latencies (`*_ms`) plus
    * row counts collected by `Dataset.observe` DURING the runs' own
    * write passes (`staged_rows`, `retained_rows`) — zero extra scans
    * at any scale. Defaulted so stage-level callers are unaffected. */
  final case class EtlResult(inserted: Long, updated: Long,
      metrics: Map[String, Long] = Map.empty)

  /** Catalog names mirroring the reference's `api.*` tables, with the
    * legacy staging name handled by rename migration. */
  final case class Names(
      staging: String = "RQTradeinReportStaging",
      legacyStaging: String = "RQTradeinReport_staging",
      target: String = "RQTradeinReport")
}

/** Orchestrated pipeline over parquet snapshot paths — the `run_etl`
  * composition with storage wired in. `source` abstracts the REST fetch;
  * `now` is injectable for replayable runs. */
final class TradeInPipeline(
    source: ApiSource,
    stagingPath: String,
    targetPath: String,
    names: TradeInPipeline.Names = TradeInPipeline.Names(),
    registerCatalog: Boolean = true,
    now: () => Column = () => current_timestamp(),
    // Partition-scoped target by default (SURVEY §4.3): the daily merge
    // rewrites only the TradeInDay partitions present in the batch.
    // `false` falls back to the flat full-snapshot layout — only for
    // small targets where a whole-table rewrite is acceptable.
    partitionedTarget: Boolean = true,
    // Run-level deadline — the reference caps a whole run at 90 minutes
    // (host.json:3, functionTimeout 01:30:00). Checked at every stage
    // boundary (the driver-side analogue of the platform kill: a Spark
    // job already in flight finishes its stage; the run refuses to
    // START the next one past the deadline). The per-REQUEST 120 s
    // timeout lives in ApiSource; this is the envelope above it.
    runTimeoutMillis: Long = 90L * 60L * 1000L) {

  import TradeInPipeline._
  import TradeInSchema._

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A missing path reads as an empty local relation, which Catalyst
    * prunes: a union with it plans no scan and no `Union`. */
  private def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(spark, path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)

  /** Target rows in `targetSchema` shape regardless of layout: the
    * partitioned layout re-derives `TradeInDay` from directories, which
    * this drops (an explicit-schema read would reject the extra column). */
  private def readTarget(spark: SparkSession): DataFrame =
    if (partitionedTarget && exists(spark, targetPath))
      spark.read.parquet(targetPath)
        .select(targetSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    else readOrEmpty(spark, targetPath, targetSchema)

  /** One daily run: fetch → stage/append → merge → counts → retention.
    * Returns the reference's inserted/updated counts plus the run's
    * metrics map (per-stage latency, observed row counts — see
    * [[TradeInPipeline.EtlResult]]). Refuses to start a stage past the
    * `runTimeoutMillis` deadline. */
  def run(spark: SparkSession, params: Map[String, String]): EtlResult = {
    val nowCol = now()
    val runStart = System.nanoTime()
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[A](stageName: String)(body: => A): A = {
      val elapsedMs = (System.nanoTime() - runStart) / 1000000L
      if (elapsedMs > runTimeoutMillis)
        throw new java.util.concurrent.TimeoutException(
          s"TradeInPipeline.run exceeded runTimeoutMillis=$runTimeoutMillis " +
            s"(${elapsedMs} ms elapsed) before stage '$stageName'")
      val t0 = System.nanoTime()
      val out = body
      metrics(s"${stageName}_ms") = (System.nanoTime() - t0) / 1000000L
      out
    }

    // 1-2. connect + DDL (catalog lifecycle, incl. legacy-name migration).
    timed("ddl") {
      if (registerCatalog) {
        CatalogDdl.migrateRename(spark, names.legacyStaging, names.staging)
        CatalogDdl.ensureTable(spark, names.staging, stagingSchema, Some(stagingPath))
        CatalogDdl.ensureTable(spark, names.target, targetSchema, Some(targetPath))
      }
    }

    // 3. fetch (source impls own retry/backoff + per-request timeout).
    // Metric caveat: for LAZY DataFrame sources, fetch_ms measures only
    // driver-side plan construction — the actual read executes inside
    // the staging write, so its cost lands in load_staging_ms. Eager
    // sources (HttpJsonSource materializes on the driver) attribute
    // fully here. Interpret (fetch_ms + load_staging_ms) as the
    // end-to-end ingest cost regardless of source laziness.
    val raw = timed("fetch")(source.fetch(spark, params))

    // 4. load staging: append this batch to what retention left behind.
    // `staged_rows` rides the write via observe — no extra scan.
    timed("load_staging") {
      val staged = stage(raw, nowCol)
      val stagingAll =
        readOrEmpty(spark, stagingPath, stagingSchema).unionByName(staged)
      val obs = org.apache.spark.sql.Observation()
      Merge.writeSnapshot(
        stagingAll.observe(obs, count(lit(1)).as("staged_rows")), stagingPath)
      metrics("staged_rows") = obs.get("staged_rows").asInstanceOf[Long]
    }

    // 5. merge into target — partition-scoped by default: only the
    // TradeInDay partitions present in this batch (plus the partitions
    // moved keys leave) are rewritten. Every partition is read: the
    // merge's stamp lookup scans the whole target, and so does stage 6's
    // count of today's stamps.
    val staging = spark.read.schema(stagingSchema).parquet(stagingPath)
    timed("merge") {
      if (partitionedTarget)
        mergeIntoTargetPartitioned(spark, targetPath, staging, nowCol)
      else
        Merge.writeSnapshot(
          mergeIntoTarget(readOrEmpty(spark, targetPath, targetSchema), staging, nowCol),
          targetPath)
    }

    // 6. counts + staging retention (`retained_rows` observed in-pass).
    val (ins, upd) = timed("counts") {
      todayCounts(readTarget(spark), nowCol)
    }
    timed("retention") {
      val obs = org.apache.spark.sql.Observation()
      Merge.writeSnapshot(
        retainToday(staging, nowCol)
          .observe(obs, count(lit(1)).as("retained_rows")), stagingPath)
      metrics("retained_rows") = obs.get("retained_rows").asInstanceOf[Long]
    }
    metrics("run_ms") = (System.nanoTime() - runStart) / 1000000L
    EtlResult(ins, upd, metrics.toMap)
  }
}
