package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Merge
import graft.pipeline.{TradeInPipeline, TradeInSchema}
import graft.sources.{ApiSource, JsonLinesSource}

/** The two ETL workloads: consecutive daily `TradeInPipeline.run` calls,
  * closed loop, one client. Each pass starts from a target that set-up
  * loaded through the program itself: the history staged with
  * `TradeInPipeline.stage` and merged into an empty target, as the daily
  * run's merge stage does. */
final class Etl(spark: SparkSession, gen: Gen, work: File, partitioned: Boolean,
    historyDays: Int) {

  private val rawSchema = StructType(TradeInSchema.rawColumns.map(StructField(_, StringType)))
  private val conf = spark.sparkContext.hadoopConfiguration

  /** Sums the bytes every task writes; always on, because
    * `write_bytes_per_input_byte` is an end-to-end figure. */
  private val written = new java.util.concurrent.atomic.LongAdder
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) written.add(e.taskMetrics.outputMetrics.bytesWritten)
  })

  /** `ApiSource.fetch` timed from outside: the `sources.fetch_s` layer,
    * and a `sources` span when traced. */
  private final class TimedSource(inner: ApiSource, tracer: Option[Tracer]) extends ApiSource {
    var seconds = 0.0
    def fetch(spark: SparkSession, params: Map[String, String]): DataFrame = {
      val t0 = System.nanoTime()
      try tracer.fold(inner.fetch(spark, params))(_.span("ApiSource.fetch", "sources")(inner.fetch(spark, params)))
      finally seconds += (System.nanoTime() - t0) / 1e9
    }
  }

  private def pipeline(state: File, source: ApiSource, now: String): TradeInPipeline = {
    val tag = state.getName.replaceAll("[^A-Za-z0-9]", "_")
    new TradeInPipeline(source,
      stagingPath = new File(state, "staging").getPath,
      targetPath = new File(state, "target").getPath,
      names = TradeInPipeline.Names(s"staging_$tag", s"legacy_staging_$tag", s"target_$tag"),
      now = () => lit(now).cast("timestamp"),
      partitionedTarget = partitioned)
  }

  /** One file per history day, as the daily batches arrive. */
  val historyDir = new File(work, "input/history")

  /** Loads the history into an empty target in `state`; returns seconds. */
  def setup(state: File): Double = {
    for (d <- -historyDays to -1) {
      val f = new File(historyDir, f"day${d}%04d.jsonl")
      if (!f.exists) gen.write(f, gen.history(d))
    }
    val t0 = System.nanoTime()
    val now = lit(gen.runAt(-1)).cast("timestamp")
    val staged = TradeInPipeline.stage(
      new JsonLinesSource(historyDir.getPath, rawSchema).fetch(spark, Map.empty), now)
    val target = new File(state, "target").getPath
    if (partitioned) TradeInPipeline.mergeIntoTargetPartitioned(spark, target, staged, now)
    else Merge.writeSnapshot(TradeInPipeline.mergeIntoTarget(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], TradeInSchema.targetSchema),
      staged, now), target)
    (System.nanoTime() - t0) / 1e9
  }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else {
      val it = java.nio.file.Files.walk(dir.toPath)
      try {
        val out = mutable.ArrayBuffer.empty[File]
        it.forEach(p => if (p.toString.endsWith(".parquet")) out += p.toFile)
        out.toSeq
      } finally it.close()
    }

  private def rows(f: File): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
    try r.getRecordCount finally r.close()
  }

  /** Runs days `0, 1, ...` against `state` until `seconds` of run time
    * have been spent or `maxDays` days are done. The batch of a day is
    * generated before its timer starts. */
  def pass(state: File, seconds: Double, maxDays: Int, tracer: Option[Tracer]): Seq[String] = {
    val days = mutable.ArrayBuffer.empty[String]
    var spent = 0.0
    var d = 0
    val targetDir = new File(state, "target")
    while (d < maxDays && (spent < seconds || d == 0)) {
      val file = new File(work, f"input/day-$d%03d.jsonl")
      val rawBytes = if (file.exists) file.length else gen.write(file, gen.batch(d).iterator)
      val rawRows = { val src = scala.io.Source.fromFile(file); try src.getLines().size finally src.close() }
      val before = parquetFiles(targetDir).map(_.getPath).toSet
      val source = new TimedSource(new JsonLinesSource(file.getPath, rawSchema), tracer)
      val p = pipeline(state, source, gen.runAt(d))
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      val written0 = written.sum()
      val params = Map("StartDate" -> gen.date(d).toString, "StopDate" -> gen.date(d + 1).toString)
      val t0 = System.nanoTime()
      val outcome =
        try Right(tracer.fold(p.run(spark, params))(t =>
          t.span(s"day ${gen.date(d)}", "workload.day") {
            t.span("TradeInPipeline.run", "pipeline")(p.run(spark, params))
          }))
        catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      spent += wall
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      val after = parquetFiles(targetDir)
      val fresh = after.filterNot(f => before(f.getPath))
      val fields = mutable.LinkedHashMap[String, String](
        "day" -> Json.str(gen.date(d).toString),
        "now" -> Json.str(gen.runAt(d)),
        "file" -> Json.str(file.getPath),
        "wall_s" -> Json.num(wall),
        "ok" -> outcome.isRight.toString,
        "raw_rows" -> rawRows.toString,
        "raw_bytes" -> rawBytes.toString,
        "fetch_s" -> Json.num(source.seconds),
        "write_bytes" -> (written.sum() - written0).toString,
        "target_files_written" -> fresh.size.toString,
        "target_rows_written" -> fresh.map(rows).sum.toString,
        "target_bytes" -> after.map(_.length).sum.toString,
        "target_rows" -> after.map(rows).sum.toString)
      outcome match {
        case Right(r) =>
          fields("inserted") = r.inserted.toString
          fields("updated") = r.updated.toString
          fields("metrics") = Json.obj(r.metrics.map { case (k, v) => k -> v.toString })
        case Left(e) =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          fields("error") = Json.str(sw.toString.linesIterator.take(16).mkString("\n"))
      }
      days += Json.obj(fields)
      d += 1
    }
    days.toSeq
  }
}
