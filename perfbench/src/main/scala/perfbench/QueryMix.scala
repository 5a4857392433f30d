package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{PerfbenchFamilies, SparkEntry}
import graft.sources.Tables

/** The `query_mix` workload: registry queries over the corpus, one client,
  * closed loop, each result to the `noop` sink.
  *
  * `costs` holds each query's seconds from one calibration pass (see
  * README.md). It only shapes the sample: queries above [[QueryMix.CostCap]]
  * are left out, because one of them fills a whole run, and each family's
  * first-round query is its median-cost one. A query missing from `costs`
  * counts as the median cost. */
final class QueryMix(spark: SparkSession, corpus: File, seed: Long, costs: Map[String, Double]) {
  private val tables = corpus.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Copies the corpus to `dir` and opens every table through
    * `Tables.load` (file listing, footers, one count); returns seconds. */
  def setup(dir: File): Double = {
    val t0 = System.nanoTime()
    dir.mkdirs()
    tables.foreach(f => java.nio.file.Files.copy(f.toPath, new File(dir, f.getName).toPath))
    tables.foreach(f => Tables.load(spark, dir.getPath, f.getName.stripSuffix(".parquet")).count())
    (System.nanoTime() - t0) / 1e9
  }

  private val medianCost = QueryMix.median(costs)
  private def cost(q: String) = costs.getOrElse(q, medianCost)

  /** The queries as rounds of (family, query), in run order: each round
    * holds one query of every family that has one left. Round 1 is each
    * family's median-cost query in registry order, the same in every run:
    * in a fresh JVM a query's time falls by up to 3x over the first
    * minute as the JIT warms, so a seed-drawn or seed-ordered first round
    * would make the median follow the seed. The seed picks and orders the
    * queries of every later round. */
  val rounds: Seq[Seq[(String, String)]] = {
    val r = new scala.util.Random(seed)
    val fams = PerfbenchFamilies.families
      .map { case (f, qs) => f -> qs.filter(cost(_) <= QueryMix.CostCap).sortBy(q => (cost(q), q)) }
      .filter(_._2.nonEmpty)
      .map { case (f, qs) => val m = qs(qs.size / 2); f -> (m +: r.shuffle(qs.filterNot(_ == m))) }
    (0 until fams.map(_._2.size).max).map { i =>
      val round = fams.collect { case (f, qs) if i < qs.size => f -> qs(i) }
      if (i == 0) round else r.shuffle(round)
    }
  }

  /** Runs whole [[rounds]] until `seconds` of query time have been spent
    * (or the first `count` rounds, when given); returns the rounds run and
    * one record per query.
    *
    * With `results`, each query first runs untimed and writes its result
    * as one parquet file under `results/<name>` for the correctness check;
    * that run also pays the JVM's first use of the query's code (class
    * loading, JIT), which a long-lived session pays once. The timed run
    * that follows builds the query again and executes it to `noop`. */
  def pass(dir: File, seconds: Double, count: Option[Int], tracer: Option[Tracer],
      results: Option[File]): (Int, Seq[String]) = {
    val ops = mutable.ArrayBuffer.empty[String]
    var spent = 0.0
    var done = 0
    def more = count.fold(spent < seconds || done == 0)(done < _)
    while (done < rounds.size && more) {
      rounds(done).foreach { case (family, name) =>
        val (record, wall) = one(dir, family, name, tracer, results)
        ops += record
        spent += wall
      }
      done += 1
    }
    results.foreach(out => java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath,
      Json.obj(rounds.take(done).flatten.map { case (_, n) => n -> Json.str(SparkEntry.oracleSql(n)) })))
    (done, ops.toSeq)
  }

  /** One query: the untimed run writing its result (when `results` is
    * given), then the timed build and `noop` execution. */
  private def one(dir: File, family: String, name: String, tracer: Option[Tracer],
      results: Option[File]): (String, Double) = {
    val fn = SparkEntry.queries(name)
    results.foreach { out =>
      try fn(spark, dir.getPath).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, name).getPath)
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e") }
      spark.catalog.clearCache()
    }
    var build, exec = 0.0
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def call[A](layer: String)(body: => A): A =
      tracer.fold(body)(t => t.span(s"$layer $name", layer)(body))
    def run(): Unit = {
      var df: org.apache.spark.sql.DataFrame = null
      build = timed { df = call("queries.build")(fn(spark, dir.getPath)) }
      exec = timed(call("queries.exec")(df.write.format("noop").mode("overwrite").save()))
    }
    val outcome =
      try { tracer.fold(run())(t => t.span(s"query $name", "workload.query")(run())); None }
      catch { case e: Throwable => Some(e) }
    spark.catalog.clearCache()
    (Json.obj(Seq("query" -> Json.str(name), "family" -> Json.str(family),
      "build_s" -> Json.num(build), "exec_s" -> Json.num(exec),
      "wall_s" -> Json.num(build + exec), "ok" -> outcome.isEmpty.toString) ++
      outcome.map(e => "error" -> Json.str(String.valueOf(e.getMessage).take(500)))),
      build + exec)
  }
}

object QueryMix {
  /** Calibrated seconds above which a query is left out of the mix. */
  val CostCap = 2.5

  def median(costs: Map[String, Double]): Double =
    costs.values.toSeq.sorted.lift(costs.size / 2).getOrElse(0.0)

  /** Reads `query<TAB>seconds` lines. */
  def costs(file: File): Map[String, Double] = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(q, s) => q -> s.toDouble }.toMap
    finally src.close()
  }
}
