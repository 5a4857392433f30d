package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.functions.BinaryFunctions

/** Decode-stage plumbing for multimodal columns (north-star scope): the
  * part of media processing Catalyst cannot express — running a codec
  * over raw bytes — as a typed `mapPartitions` stage (the documented
  * last-resort tier for genuine per-partition imperative logic).
  *
  * The codec is [[HeaderCodec]], a deterministic stub that parses the
  * dimensions the test fixture embeds in the payload header (the
  * synthetic corpus is not real media, and the oracle needs a kernel
  * DuckDB can recompute). A real image or video codec would replace its
  * one `decode` call; the Spark-side contract — schema, partition-local
  * batch loop, zero shuffle, typed output — does not depend on it.
  */
object Multimodal {

  /** Typed decode output: media metadata per document. */
  final case class MediaMeta(doc_id: Long, format: String, byte_size: Int,
      width: Int, height: Int, aspect: Double)

  /** STUB CODEC — stands in for an image library: reads the 4-ASCII-digit
    * width/height the fixture writes at payload bytes 4–11 (after the
    * 4-byte magic block). Deterministic, so the decode stage is fully
    * oracle-checkable end to end. */
  object HeaderCodec {
    def decode(bytes: Array[Byte]): (Int, Int) = {
      def ascii4(off: Int): Int =
        if (bytes.length < off + 4) 0
        else new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII).toInt
      (ascii4(4), ascii4(8))
    }
  }

  /** One sampled frame: every `everyN`-th fixed-size chunk of the
    * payload, hex-encoded. Chunk-level sampling stands in for video
    * frame extraction (a real deployment's codec yields frames; the
    * partition-local explode-one-row-per-frame shape is identical). */
  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame_hex: String)

  def frameSample(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyN: Int): Dataset[MediaFrame] = {
    require(frameBytes > 0 && everyN > 0, "frameBytes and everyN must be positive")
    val input = df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        val nFrames = (bytes.length + frameBytes - 1) / frameBytes
        Iterator.range(0, nFrames).filter(_ % everyN == 0).map { k =>
          val from = k * frameBytes
          val until = math.min(from + frameBytes, bytes.length)
          val hex = bytes.slice(from, until).map("%02X".format(_)).mkString
          MediaFrame(id, k, hex)
        }
      }
    }(Encoders.product[MediaFrame])
  }

  /** Stub feature vector per document: printable-class histogram of the
    * payload body (after the 12-byte header) — the plumbing shape of an
    * embedding/feature extractor (typed one-pass mapPartitions, small
    * fixed-width numeric output), with a kernel any SQL oracle can
    * recompute. */
  final case class MediaFeatures(doc_id: Long, body_len: Int,
      n_lower: Int, n_upper: Int, n_digit: Int, n_other: Int)

  def featureExtract(df: DataFrame, idCol: String, binCol: String,
      headerBytes: Int = 12): Dataset[MediaFeatures] = {
    val input = df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        var lo = 0; var up = 0; var dg = 0; var ot = 0
        var i = headerBytes
        while (i < bytes.length) {
          val b = bytes(i)
          if (b >= 'a' && b <= 'z') lo += 1
          else if (b >= 'A' && b <= 'Z') up += 1
          else if (b >= '0' && b <= '9') dg += 1
          else ot += 1
          i += 1
        }
        MediaFeatures(id, math.max(bytes.length - headerBytes, 0), lo, up, dg, ot)
      }
    }(Encoders.product[MediaFeatures])
  }

  /** The decode stage: one pass, partition-local, no shuffle. Format is
    * sniffed from magic bytes on the JVM side (same table as
    * [[graft.functions.BinaryFunctions.sniffFormat]]); dimensions come
    * from [[HeaderCodec]]. */
  def decodeMeta(df: DataFrame, idCol: String, binCol: String): Dataset[MediaMeta] = {
    val input = df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val hexHead = bytes.take(4).map("%02X".format(_)).mkString
        val format = BinaryFunctions.magicPrefixes
          .collectFirst { case (f, p) if hexHead.startsWith(p) => f }
          .getOrElse("unknown")
        val (w, h) = HeaderCodec.decode(bytes)
        // floor-at-6-decimals, not round: floor is exact in IEEE double,
        // so any SQL oracle reproduces it bit-for-bit.
        MediaMeta(id, format, bytes.length, w, h,
          if (h == 0) 0.0 else math.floor(w.toDouble * 1e6 / h) / 1e6)
      }
    }(Encoders.product[MediaMeta])
  }
}
