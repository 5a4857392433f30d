package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** S1/S2 (SURVEY.md §2.1): the reference's REST-API ingest
  * (rqtradein_etl.py:203-227) re-expressed as a source abstraction.
  *
  * The reference fetches one JSON array per daily window on the driver —
  * the payload is a bounded report (one day of trade-ins), so a
  * driver-side fetch followed by a distributed parse is the right shape
  * even at cluster scale; what must never happen on the driver is the
  * *transform*, which stays in DataFrame land.
  *
  * Configuration is env-var/parameter driven. The reference's hardcoded
  * credentials and cookie (rqtradein_etl.py:206-209) are deliberately NOT
  * reproduced — auth material must come from the environment.
  */
trait ApiSource {
  /** Fetch one batch as an untyped (all-string) DataFrame matching
    * `schema`. `params` carries the window bounds (StartDate/StopDate —
    * rq_tradein_report/__init__.py:12-19). */
  def fetch(spark: SparkSession, params: Map[String, String]): DataFrame
}

/** S2: bounded retry with linearly growing backoff — the reference's
  * `max_retries = 3; backoff = 5; sleep(backoff * attempt)` loop
  * (rqtradein_etl.py:211-227), generalized. Only non-fatal errors retry
  * (the reference retries only `RequestException`): an interrupt or a
  * VM error propagates at once, without a sleep. `sleep` is injectable
  * so tests run instantly. */
object Retry {
  def withBackoff[T](
      maxRetries: Int = 3,
      backoffMillis: Long = 5000L,
      sleep: Long => Unit = Thread.sleep,
      onFailure: (Int, Throwable) => Unit = (_, _) => ())(f: => T): T = {
    var attempt = 1
    while (true) {
      try return f
      catch {
        case NonFatal(e) =>
          onFailure(attempt, e)
          if (attempt >= maxRetries) throw e
          sleep(backoffMillis * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** File-backed JSON source: each line one record, parsed distributed with
  * an explicit all-string schema (no sampling-based inference — schema
  * drift surfaces as nulls, not as a changed plan). Stands in for the
  * HTTP fetch in tests and local runs. */
final class JsonLinesSource(path: String, schema: StructType) extends ApiSource {
  def fetch(spark: SparkSession, params: Map[String, String]): DataFrame =
    spark.read.schema(schema).json(path)
}

/** In-memory source for tests and for pre-built frames. */
final class FrameSource(df: DataFrame) extends ApiSource {
  def fetch(spark: SparkSession, params: Map[String, String]): DataFrame = df
}

/** S1: driver-side HTTP GET returning a JSON array of records, parsed
  * distributed. URL template and auth header come from the environment —
  * `urlTemplate` may reference `params` keys as `{StartDate}` etc.
  * (mirrors the reference's query-string construction at
  * rqtradein_etl.py:205 without its embedded secrets).
  *
  * A non-2xx status or an I/O error retries through [[Retry.withBackoff]]
  * with its default 3 attempts and 5 s linear backoff, as the reference
  * does.
  */
final class HttpJsonSource(
    urlTemplate: String,
    schema: StructType,
    authHeader: Option[String] = sys.env.get("GRAFT_API_AUTH"),
    timeoutMillis: Int = 120000) extends ApiSource {

  def fetch(spark: SparkSession, params: Map[String, String]): DataFrame = {
    val url = params.foldLeft(urlTemplate) { case (u, (k, v)) =>
      u.replace("{" + k + "}", v)
    }
    val body = Retry.withBackoff() {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(timeoutMillis)
      conn.setReadTimeout(timeoutMillis)
      authHeader.foreach(conn.setRequestProperty("Authorization", _))
      try {
        val code = conn.getResponseCode
        if (code < 200 || code >= 300)
          throw new java.io.IOException(s"HTTP $code from $url")
        new String(conn.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
      } finally conn.disconnect()
    }
    import spark.implicits._
    // A JSON array body parses as one multi-line record set.
    spark.read.schema(schema)
      .option("multiLine", "true")
      .json(spark.createDataset(Seq(body)))
  }
}
