package graft.pipeline

import org.apache.spark.sql.functions._

import graft.sources.{FrameSource, Tables}

/** Runnable end-to-end demonstration of [[TradeInPipeline.run]]: two
  * overlapping "daily" runs against scratch parquet paths, mirroring the
  * reference's timer-driven cadence (rq_tradein_report/__init__.py:6-21).
  * Day 1 inserts everything; day 2 re-delivers an overlapping window so
  * the merge splits into insert/update/keep, and staging retention drops
  * day-1 rows.
  *
  * Usage: `sbt "runMain graft.pipeline.PipelineDemo [sfDir] [workDir]"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("tradein").toString
    val spark = graft.Harness.session(Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))

    // Day-1 batch: orders before the cutover; day-2 re-delivers a window
    // that overlaps day 1. TradeInDate is stamped "today" per run so
    // retention keeps each run's own rows.
    def batch(dayFilter: org.apache.spark.sql.Column, day: String) =
      Tables.load(spark, sfDir, "orders").filter(dayFilter).select(
        col("o_orderkey").cast("string").as("SaleInvoiceID"),
        concat(lit(day), lit("T"),
          date_format(col("o_orderdate"), "HH:mm:ss")).as("TradeInDate"),
        col("o_totalprice").cast("string").as("TradeInAmount"),
        col("o_orderstatus").as("TradeInStatus"))

    def withAllRawCols(df: org.apache.spark.sql.DataFrame) =
      TradeInSchema.rawColumns.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
      }

    def runDay(day: String, filter: org.apache.spark.sql.Column): Unit = {
      val pipeline = new TradeInPipeline(
        new FrameSource(withAllRawCols(batch(filter, day))),
        stagingPath = s"$work/staging", targetPath = s"$work/target",
        now = () => lit(s"$day 06:00:00").cast("timestamp"))
      val r = pipeline.run(spark, Map("StartDate" -> day, "StopDate" -> day))
      val staging = spark.read.parquet(s"$work/staging").count()
      val target = spark.read.parquet(s"$work/target").count()
      println(s"[demo] $day inserted=${r.inserted} updated=${r.updated} " +
        s"staging_rows=$staging target_rows=$target")
    }

    runDay("2024-06-01", col("o_orderkey") % 3 =!= 0)
    runDay("2024-06-02", col("o_orderkey") % 2 === 0)
    println("[demo] catalog tables: " +
      spark.catalog.listTables().collect().map(_.name).sorted.mkString(", "))
    spark.stop()
  }
}
