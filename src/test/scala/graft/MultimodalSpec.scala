package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BinaryFunctions
import graft.operators.Multimodal

/** Binary-column primitives and the typed decode stage. */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def binDf(hexes: Seq[String]) =
    hexes.toDF("h").select(unhex(col("h")).as("bin"))

  test("sniffFormat recognizes magic prefixes, unknown otherwise") {
    val df = binDf(Seq(
      "FFD8FFE000104A46", // jpeg + JFIF bytes
      "89504E470D0A1A0A", // png
      "255044462D312E34", // %PDF-1.4
      "0011223344"))      // junk
    val got = df.select(BinaryFunctions.sniffFormat(col("bin"))).as[String].collect()
    assert(got.toSeq == Seq("jpeg", "png", "pdf", "unknown"))
  }

  test("chunk splits payloads with a ragged final chunk") {
    val df = Seq("0123456789").toDF("s").select(col("s").cast("binary").as("bin"))
    val chunks = df.select(BinaryFunctions.chunk(col("bin"), 4).as("c"))
      .select(transform(col("c"), b => b.cast("string")).as("c"))
      .as[Seq[String]].head()
    assert(chunks == Seq("0123", "4567", "89"))
    assert(df.select(BinaryFunctions.chunkCount(col("bin"), 4)).as[Int].head() == 3)
  }

  test("HeaderCodec reads embedded ascii dims; short payloads give 0x0") {
    val bytes = "XXXX08001234rest".getBytes("US-ASCII")
    assert(Multimodal.HeaderCodec.decode(bytes) == (800, 1234))
    assert(Multimodal.HeaderCodec.decode("XXXX0800".getBytes) == (800, 0))
    assert(Multimodal.HeaderCodec.decode(Array[Byte](1, 2)) == (0, 0))
  }

  test("decodeMeta: end-to-end typed decode over real bytes") {
    val df = Seq((7L, "89504E47")).toDF("doc_id", "magic")
      .select(col("doc_id"),
        concat(unhex(col("magic")), lit("01920080payload").cast("binary")).as("bin"))
    val got = Multimodal.decodeMeta(df, "doc_id", "bin").head()
    assert(got == Multimodal.MediaMeta(7L, "png", 19, 192, 80, 2.4))
  }

  test("frameSample takes every Nth fixed-size chunk, ragged tail included") {
    import spark.implicits._
    // 10 bytes, frames of 4: frames 0 ([0,4)), 1 ([4,8)), 2 ([8,10)); every 2nd -> 0, 2
    val df = Seq((1L, "0123456789")).toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("bin"))
    val frames = Multimodal.frameSample(df, "doc_id", "bin", 4, 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames(0).frame_hex == "30313233") // "0123"
    assert(frames(1).frame_hex == "3839")     // ragged "89"
  }

  test("featureExtract counts printable classes after the 12-byte header") {
    import spark.implicits._
    val payload = "MMMM" + "0100" + "0200" + "abC9 !"
    val df = Seq((7L, payload)).toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("bin"))
    val f = Multimodal.featureExtract(df, "doc_id", "bin").collect().head
    assert(f == Multimodal.MediaFeatures(7L, 6, 2, 1, 1, 2))
  }
}