package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingEtl

/** Structured-Streaming semantics (SURVEY.md §2.9): AvailableNow ingest
  * with exactly-once source tracking and partition-scoped merges, a
  * stream-static enrichment join, and the two bounded-state sketches
  * (`runningDistinct`, `runningSample`) against their batch duals. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("AvailableNow ingest: drains new files per activation, merges into target") {
    val work = java.nio.file.Files.createTempDirectory("se").toString
    val src = s"$work/in"; new java.io.File(src).mkdirs()
    def record(id: String, amt: String) =
      s"""{"SaleInvoiceID": "$id", "TradeInDate": "2024-06-01T01:00:00Z", "TradeInAmount": "$amt"}"""
    def writeBatch(name: String, lines: String*): Unit = {
      val f = new java.io.PrintWriter(s"$src/$name")
      lines.foreach(f.println); f.close()
    }
    def run() = StreamingEtl.ingestAvailableNow(spark, src,
      s"$work/target", s"$work/ckpt",
      now = () => lit("2024-06-01 06:00:00").cast("timestamp"))

    writeBatch("b1.json", record("1", "10.00"), record("2", "20.00"))
    run()
    assert(spark.read.parquet(s"$work/target").count() == 2)

    // Second activation: only the NEW file is processed (checkpointed
    // source offsets), and key 2's re-delivery updates in place.
    writeBatch("b2.json", record("2", "21.00"), record("3", "30.00"))
    run()
    val target = spark.read.parquet(s"$work/target")
    assert(target.count() == 3)
    val amt2 = target.filter(col("SaleInvoiceID") === 2)
      .select(col("TradeInAmount").cast("string")).head().getString(0)
    assert(amt2 == "21.00")
  }

  test("AvailableNow ingest (partitioned): untouched day-partitions are byte-identical across micro-batches") {
    val work = java.nio.file.Files.createTempDirectory("sep").toString
    val src = s"$work/in"; new java.io.File(src).mkdirs()
    def record(id: String, day: String, amt: String) =
      s"""{"SaleInvoiceID": "$id", "TradeInDate": "${day}T01:00:00Z", "TradeInAmount": "$amt"}"""
    def writeBatch(name: String, lines: String*): Unit = {
      val f = new java.io.PrintWriter(s"$src/$name")
      lines.foreach(f.println); f.close()
    }
    def run() = StreamingEtl.ingestAvailableNow(spark, src,
      s"$work/target", s"$work/ckpt",
      now = () => lit("2024-06-05 06:00:00").cast("timestamp"))
    def fileState(dir: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(dir)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }

    writeBatch("b1.json",
      record("1", "2024-06-01", "10.00"), record("2", "2024-06-02", "20.00"))
    run()
    val day1Dir = s"$work/target/TradeInDay=2024-06-01"
    assert(new java.io.File(day1Dir).exists(), "partitioned layout expected")
    val before = fileState(day1Dir)
    assert(before.nonEmpty)

    // second micro-batch touches only 2024-06-02; 06-01 must not be
    // rewritten — same files, same bytes, same mtimes
    writeBatch("b2.json",
      record("2", "2024-06-02", "21.00"), record("3", "2024-06-02", "30.00"))
    run()
    assert(fileState(day1Dir) == before,
      "untouched partition was rewritten by an unrelated micro-batch")
    val target = spark.read.parquet(s"$work/target")
    assert(target.count() == 3)
    assert(target.filter(col("SaleInvoiceID") === 2)
      .select(col("TradeInAmount").cast("string")).head().getString(0) == "21.00")
  }

  test("stream-static enrichment join broadcasts the dimension per micro-batch") {
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val enriched = in.toDS().toDF("user_id", "amount")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_t")
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, 5.0), (2L, 6.0), (9L, 7.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_t")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
    q.stop()
    assert(rows == Set((1L, Some("gold")), (2L, Some("silver")), (9L, None)))
  }

  test("runningDistinct: bounded sketch state across batches matches the batch sketch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamingEtl.runningDistinct(in.toDS(), k = 16)
    val q = out.writeStream.format("memory").queryName("state_d")
      .outputMode(OutputMode.Update()).start()
    // 60 values, 40 distinct, spread over two batches with replays
    val batch1 = (0 until 30).map(i => (1L, s"u${i % 25}"))
    val batch2 = (0 until 30).map(i => (1L, s"u${i % 25 + 15}")) // overlaps 15..24
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    val last = spark.table("state_d").as[StreamingEtl.KeyedDistinct].collect()
      .filter(_.key == 1L).maxBy(_.n)
    q.stop()
    assert(last.n == 60L)
    // same data through the batch KMV path must give the identical estimate
    import spark.implicits._
    val batchEst = graft.operators.Profiling.approxDistinct(
        (batch1 ++ batch2).toDF("k", "v"), Seq("k"), col("v"), k = 16)
      .collect().head.getDouble(3)
    assert(last.estDistinct == batchEst,
      s"stream ${last.estDistinct} != batch $batchEst")
  }

  test("runningSample: bounded deterministic sample equals batch bottom-k") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamingEtl.runningSample(in.toDS(), k = 8)
    val q = out.writeStream.format("memory").queryName("state_s")
      .outputMode(OutputMode.Update()).start()
    val batch1 = (0 until 30).map(i => (1L, s"v${i % 20}"))
    val batch2 = (0 until 30).map(i => (1L, s"v${i % 20 + 10}"))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    // late replay of batch1: a converged deterministic sample must
    // not move (the value SET is unchanged)
    in.addData(batch1: _*)
    q.processAllAvailable()
    import spark.implicits._
    val rows = spark.table("state_s").as[StreamingEtl.KeyedSample]
      .collect().filter(_.key == 1L)
    q.stop()
    val at60 = rows.find(_.n == 60L).get
    val last = rows.maxBy(_.n)
    assert(last.n == 90L && last.sample.size == 8)
    // the batch bottom-8-by-md5 over the distinct history is identical
    val expected = (batch1 ++ batch2).map(_._2).distinct
      .map(v => org.apache.commons.codec.digest.DigestUtils.md5Hex(v) -> v)
      .sortBy(_._1).take(8).map(_._2)
    assert(last.sample.toList == expected.toList)
    assert(at60.sample.toList == expected.toList)
  }
}
