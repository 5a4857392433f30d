package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CatalogDdl, TradeInPipeline, TradeInSchema}
import graft.sources.FrameSource

/** End-to-end pipeline semantics (rqtradein_etl.py:12-24): two
  * overlapping daily runs with insert/update counts, staging retention,
  * and the catalog DDL lifecycle. */
class TradeInPipelineSpec extends AnyFunSuite {
  import TestSpark._

  /** Minimal raw batch: (SaleInvoiceID, TradeInDate, TradeInAmount). */
  private def rawBatch(rows: Seq[(String, String, String)]): DataFrame = {
    val full = rows.map { case (id, d, amt) =>
      Row.fromSeq(TradeInSchema.rawColumns.map {
        case "SaleInvoiceID" => id
        case "TradeInDate"   => d
        case "TradeInAmount" => amt
        case _               => null
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(full, 1),
      StructType(TradeInSchema.rawColumns.map(c => StructField(c, StringType))))
  }

  private def pipelineAt(work: String, day: String, batch: DataFrame,
      partitionedTarget: Boolean = true) =
    new TradeInPipeline(new FrameSource(batch),
      stagingPath = s"$work/staging", targetPath = s"$work/target",
      registerCatalog = false,
      now = () => lit(s"$day 06:00:00").cast("timestamp"),
      partitionedTarget = partitionedTarget)

  test("two overlapping runs: insert/update counts, retention, typed target") {
    val work = java.nio.file.Files.createTempDirectory("tip").toString
    val d1 = "2024-06-01"
    val d2 = "2024-06-02"
    val r1 = pipelineAt(work, d1, rawBatch(Seq(
      ("1", s"${d1}T01:00:00Z", "10.00"),
      ("2", s"${d1}T02:00:00Z", "20.00"),
      ("3", s"${d1}T03:00:00Z", "30.00")))).run(spark, Map())
    assert((r1.inserted, r1.updated) == ((3L, 0L)))

    // Day 2 re-delivers key 2 (new amount) and adds key 4; key 2 also has
    // an intra-batch duplicate resolved by the dedup window (later wins).
    val r2 = pipelineAt(work, d2, rawBatch(Seq(
      ("2", s"${d2}T01:00:00Z", "21.00"),
      ("2", s"${d2}T05:00:00Z", "22.00"),
      ("4", s"${d2}T02:00:00Z", "40.00")))).run(spark, Map())
    // Day-1 retention kept rows dated day 1, so keys 1 and 3 linger in
    // staging and re-merge on day 2 as updates alongside key 2 — faithful
    // to the reference's merge-then-retain ordering.
    assert((r2.inserted, r2.updated) == ((1L, 3L)))
    // Observability artifact: per-stage latencies plus row counts
    // observed during the run's own write passes (no extra scans).
    // staged_rows = 3 retained day-1 rows + 3 day-2 batch rows;
    // retained_rows = the 3 day-2-dated rows left after retention.
    for (k <- Seq("ddl_ms", "fetch_ms", "load_staging_ms", "merge_ms",
        "counts_ms", "retention_ms", "run_ms"))
      assert(r2.metrics.contains(k) && r2.metrics(k) >= 0L, s"missing $k")
    assert(r2.metrics("staged_rows") == 6L, r2.metrics.toString)
    assert(r2.metrics("retained_rows") == 3L, r2.metrics.toString)
    assert(r2.metrics("run_ms") >= r2.metrics("merge_ms"))

    val target = spark.read.parquet(s"$work/target")
    assert(target.count() == 4)
    val key2 = target.filter(col("SaleInvoiceID") === 2).head()
    assert(key2.getAs[java.math.BigDecimal]("TradeInAmount")
      .compareTo(new java.math.BigDecimal("22.00")) == 0)
    assert(key2.getAs[java.sql.Timestamp]("ETLRowUpdatedEST").toString
      .startsWith(d2))
    assert(key2.getAs[java.sql.Timestamp]("ETLRowInsertedEST").toString
      .startsWith(d1))

    // Retention: staging holds only day-2-dated rows (2 for key 2, 1 for 4).
    val staging = spark.read.parquet(s"$work/staging")
    assert(staging.count() == 3)
    assert(staging.select(min(col("TradeInDate"))).head().getString(0).startsWith(d2))
  }

  test("backfill: four day windows in one batch feed the pipeline e2e") {
    val work = java.nio.file.Files.createTempDirectory("tip").toString
    val days = (1 to 4).map(i => f"2024-06-0$i%1d")
    // 2 records per day window, 8 distinct keys across the 4 days.
    val batch = rawBatch(for (d <- days; i <- 1 to 2)
      yield (s"${d.takeRight(2)}0$i", s"${d}T0$i:00:00Z", s"$i.00"))
    val r = pipelineAt(work, "2024-06-04", batch).run(spark, Map())
    assert((r.inserted, r.updated) == ((8L, 0L)))
    val target = spark.read.parquet(s"$work/target")
    assert(target.count() == 8)
    // backfill retention: only rows dated the run's "today" survive staging
    val staging = spark.read.parquet(s"$work/staging")
    assert(staging.count() == 2)
    assert(staging.select(min(col("TradeInDate"))).head()
      .getString(0).startsWith("2024-06-04"))
  }

  test("first run: the staging write plans no empty-RDD scan and no union") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    val work = java.nio.file.Files.createTempDirectory("tipe").toString
    // a local batch, so an RDD scan can only come from the missing staging
    val day = "2024-06-01"
    val batch = spark.createDataFrame(java.util.List.of(
        Row.fromSeq(TradeInSchema.rawColumns.map {
          case "SaleInvoiceID" => "1"
          case "TradeInDate"   => s"${day}T01:00:00Z"
          case "TradeInAmount" => "10.00"
          case _               => null
        })),
      StructType(TradeInSchema.rawColumns.map(c => StructField(c, StringType))))
    val stagingWrites = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (nodes(qe.executedPlan).exists {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
            c.outputPath.toString.endsWith(s"$work/staging.__tmp__")
          case _ => false
        }) stagingWrites.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = pipelineAt(work, day, batch).run(spark, Map())
      assert((r.inserted, r.updated) == ((1L, 0L)))
      // load and retention both write staging; events may arrive late
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (stagingWrites.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(stagingWrites.size == 2, s"${stagingWrites.size} staging writes captured")
    stagingWrites.forEach { plan =>
      assert(!nodes(plan).exists(n =>
        n.isInstanceOf[RDDScanExec] || n.isInstanceOf[UnionExec]), plan)
    }
  }

  test("partitioned target: a daily run leaves untouched TradeInDay partitions byte-identical") {
    val work = java.nio.file.Files.createTempDirectory("tipp").toString
    val d0 = "2024-05-30"
    val d1 = "2024-06-01"
    val d2 = "2024-06-02"
    // Day 1 batch spans two business days (late-arriving d0 row).
    val r1 = pipelineAt(work, d1, rawBatch(Seq(
      ("1", s"${d1}T01:00:00Z", "10.00"),
      ("2", s"${d1}T02:00:00Z", "20.00"),
      ("5", s"${d0}T09:00:00Z", "50.00")))).run(spark, Map())
    assert((r1.inserted, r1.updated) == ((3L, 0L)))
    val d0dir = new java.io.File(s"$work/target/TradeInDay=$d0")
    assert(d0dir.exists(), "target must be laid out by TradeInDay")
    val before = d0dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap

    // Day 2 touches d1 (retained staging rows re-merge) and d2 — not d0.
    val r2 = pipelineAt(work, d2, rawBatch(Seq(
      ("4", s"${d2}T02:00:00Z", "40.00")))).run(spark, Map())
    assert((r2.inserted, r2.updated) == ((1L, 2L)))
    val after = d0dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "untouched day partition must not be rewritten")
    assert(spark.read.parquet(s"$work/target").count() == 4)
  }

  test("snapshot and partitioned targets agree on rows and counts per day") {
    // Day 2 updates key 2, moves key 1 to a later day and inserts key 4;
    // key 3 sits on an earlier day that day 2 never touches.
    val days = Seq(
      "2024-06-01" -> Seq(("1", "2024-06-01T01:00:00Z", "10.00"),
        ("2", "2024-06-01T02:00:00Z", "20.00"), ("3", "2024-05-30T03:00:00Z", "30.00")),
      "2024-06-02" -> Seq(("1", "2024-06-02T04:00:00Z", "11.00"),
        ("2", "2024-06-02T01:00:00Z", "21.00"), ("4", "2024-06-02T02:00:00Z", "40.00")))
    def runDays(partitionedTarget: Boolean) = {
      val work = java.nio.file.Files.createTempDirectory("tipl").toString
      val counts = days.map { case (day, rows) =>
        val r = pipelineAt(work, day, rawBatch(rows), partitionedTarget).run(spark, Map())
        (r.inserted, r.updated)
      }
      val rows = spark.read.parquet(s"$work/target")
        .select(TradeInSchema.targetSchema.fieldNames.map(col).toSeq: _*).collect().toSet
      (counts, rows)
    }
    val (snapCounts, snapRows) = runDays(partitionedTarget = false)
    val (partCounts, partRows) = runDays(partitionedTarget = true)
    assert(snapCounts == partCounts)
    assert(snapRows.size == 4 && snapRows == partRows)
  }

  test("garbage TradeInDate falls back to run time (F4) and survives merge") {
    val work = java.nio.file.Files.createTempDirectory("tip").toString
    val day = "2024-06-01"
    pipelineAt(work, day, rawBatch(Seq(("9", "garbage", "1.00")))).run(spark, Map())
    val t = spark.read.parquet(s"$work/target").head()
    assert(t.getAs[java.sql.Timestamp]("TradeInDate").toString == s"$day 06:00:00.0")
  }

  test("run-level deadline: a run past runTimeoutMillis refuses the next " +
    "stage (host.json:3 functionTimeout analogue)") {
    val work = java.nio.file.Files.createTempDirectory("tidl").toString
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(TradeInSchema.rawColumns.map(c => StructField(c, StringType))))
    // A source that burns past the (tiny) deadline during fetch: the
    // NEXT stage boundary must refuse to start, naming the budget.
    val slow = new graft.sources.ApiSource {
      override def fetch(s: org.apache.spark.sql.SparkSession,
          params: Map[String, String]): org.apache.spark.sql.DataFrame = {
        Thread.sleep(30); empty
      }
    }
    val p = new TradeInPipeline(slow,
      stagingPath = s"$work/staging", targetPath = s"$work/target",
      registerCatalog = false,
      now = () => lit("2024-06-01 06:00:00").cast("timestamp"),
      runTimeoutMillis = 10L)
    val ex = intercept[java.util.concurrent.TimeoutException] {
      p.run(spark, Map())
    }
    assert(ex.getMessage.contains("runTimeoutMillis=10"))
    // the default envelope (90 min) never trips a normal run
    val ok = new TradeInPipeline(new FrameSource(empty),
      stagingPath = s"$work/staging2", targetPath = s"$work/target2",
      registerCatalog = false,
      now = () => lit("2024-06-01 06:00:00").cast("timestamp"))
      .run(spark, Map())
    assert(ok.inserted == 0L && ok.metrics.contains("run_ms"))
  }

  test("CatalogDdl: ensureTable is idempotent; migrateRename is guarded") {
    val work = java.nio.file.Files.createTempDirectory("ddl").toString
    val schema = StructType(Seq(StructField("x", StringType)))
    CatalogDdl.ensureTable(spark, "t_old_name", schema, Some(s"$work/t"))
    CatalogDdl.ensureTable(spark, "t_old_name", schema, Some(s"$work/t")) // no-op
    assert(CatalogDdl.migrateRename(spark, "t_old_name", "t_new_name"))
    assert(spark.catalog.tableExists("t_new_name") && !spark.catalog.tableExists("t_old_name"))
    assert(!CatalogDdl.migrateRename(spark, "t_old_name", "t_new_name")) // no-op
    // Guarded: never clobbers an existing new-name table.
    CatalogDdl.ensureTable(spark, "t_old_name", schema, Some(s"$work/t2"))
    assert(!CatalogDdl.migrateRename(spark, "t_old_name", "t_new_name"))
  }
}
