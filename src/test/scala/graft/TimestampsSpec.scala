package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Timestamps

/** Golden cases for the F1–F5 timestamp functions, lifted from the
  * reference's behavior (rqtradein_etl.py:249-311): fraction widths 1–9,
  * trailing Z, space-vs-T separators, garbage → null/now, DST boundary.
  */
class TimestampsSpec extends AnyFunSuite {
  import TestSpark._

  private def evalStr(c: org.apache.spark.sql.Column, input: String): String =
    strings("s", Seq(input)).select(c.cast("string")).head().getString(0)

  test("F2 parse: accepts all four reference formats, with and without Z") {
    val expect6 = "2024-01-02 03:04:05.123456"
    val expect0 = "2024-01-02 03:04:05.000000"
    val cases = Seq(
      "2024-01-02T03:04:05.123456Z" -> expect6,
      "2024-01-02T03:04:05.123456"  -> expect6,
      "2024-01-02T03:04:05Z"        -> expect0,
      "2024-01-02T03:04:05"         -> expect0,
      "2024-01-02 03:04:05.123456"  -> expect6,
      "2024-01-02 03:04:05"         -> expect0,
      "2024-01-02 03:04:05.5"       -> "2024-01-02 03:04:05.500000",
      "2024-01-02 03:04:05.1234567" -> expect6,   // 7+ digits truncate (F1)
      "2024-01-02"                  -> "2024-01-02 00:00:00.000000") // isoformat fallback
    for ((in, out) <- cases) {
      val got = evalStr(
        date_format(Timestamps.parseTimestamp(col("s")), "yyyy-MM-dd HH:mm:ss.SSSSSS"), in)
      assert(got == out, s"input $in")
    }
  }

  test("F2 parse: garbage, empty, and null yield null") {
    val df = strings("s", Seq("not-a-date", "", null, "2024-13-45 99:99:99"))
    val got = df.select(Timestamps.parseTimestamp(col("s"))).collect().map(_.isNullAt(0))
    assert(got.forall(identity))
  }

  test("F4 fallback: unparseable-but-present becomes now; null/empty stay null") {
    val now = lit("2024-06-01 10:00:00").cast("timestamp")
    val df = strings("s", Seq("garbage", "", null, "2024-01-02 03:04:05"))
    val got = df.select(
      date_format(Timestamps.parseWithNowFallback(col("s"), now),
        "yyyy-MM-dd HH:mm:ss").as("t")).collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq("2024-06-01 10:00:00", null, null, "2024-01-02 03:04:05"))
  }

  test("F3 EST string: winter is UTC-5, summer is UTC-4") {
    val df = strings("s", Seq("2024-01-15 12:00:00", "2024-07-15 12:00:00"))
    val got = df.select(Timestamps.toEstString(col("s").cast("timestamp")))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("2024-01-15 07:00:00", "2024-07-15 08:00:00"))
  }

  test("F3 EST string: spring-forward boundary skips 2am local") {
    // US DST 2024: 2024-03-10 02:00 EST -> 03:00 EDT (07:00 UTC).
    val df = strings("s", Seq("2024-03-10 06:59:59", "2024-03-10 07:00:00"))
    val got = df.select(Timestamps.toEstString(col("s").cast("timestamp")))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("2024-03-10 01:59:59", "2024-03-10 03:00:00"))
  }

  test("F5 EST timestamp: sub-seconds are dropped before conversion") {
    val df = strings("s", Seq("2024-01-15 12:00:00.987654"))
    val got = df.select(date_format(
      Timestamps.toEstTimestamp(col("s").cast("timestamp")),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    assert(got == "2024-01-15 07:00:00.000000")
  }
}
