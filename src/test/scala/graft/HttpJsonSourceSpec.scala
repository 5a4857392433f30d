package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpJsonSource

/** S1: the reference's daily fetch (rqtradein_etl.py:203-227) — one GET
  * per window returning a JSON array — against a loopback HTTP server. */
class HttpJsonSourceSpec extends AnyFunSuite {
  import TestSpark._

  test("substitutes the window into the URL, sends Authorization, retries a 503, " +
    "parses the array under the schema") {
    val body =
      """[{"SaleInvoiceID": "1", "TradeInAmount": "10.00", "Extra": "x"},
        | {"SaleInvoiceID": "2"}]""".stripMargin.getBytes(StandardCharsets.UTF_8)
    // (request URI, Authorization header) per request; the first request
    // gets a transient 503, every later one the array.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/report", ex => {
      seen.add((ex.getRequestURI.toString,
        ex.getRequestHeaders.getFirst("Authorization")))
      if (seen.size == 1) ex.sendResponseHeaders(503, -1)
      else {
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val schema = StructType(Seq("SaleInvoiceID", "TradeInAmount")
        .map(StructField(_, StringType)))
      val src = new HttpJsonSource(
        s"http://127.0.0.1:$port/report?start={StartDate}&end={StopDate}",
        schema, authHeader = Some("Bearer t0ken"))
      val df = src.fetch(spark,
        Map("StartDate" -> "2024-06-01", "StopDate" -> "2024-06-02"))
      assert(df.columns.toSeq == Seq("SaleInvoiceID", "TradeInAmount"))
      assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("1", "10.00"), ("2", null)))
      assert(seen.asScala.toSeq == Seq.fill(2)(
        ("/report?start=2024-06-01&end=2024-06-02", "Bearer t0ken")))
    } finally server.stop(0)
  }
}
