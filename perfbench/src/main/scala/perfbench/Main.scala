package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --corpus DIR --costs FILE
  *
  * Set-up runs `SetupReps` times on fresh state; the timed pass runs on the
  * last copy. With `--trace 1` a traced pass and then a third, untraced
  * pass repeat the same operations (ETL: each on another set-up copy); the
  * tracing overhead compares those two, which run equally warm.
  * Everything the run measured goes to `DIR/result.json`, and spans to
  * `DIR/spans.jsonl`; `run.py` checks outputs and prints the metrics. */
object Main {
  val SetupReps = 3

  /** Per ETL workload: partition-scoped target, invoices per batch day,
    * history days and invoices per history day. `etl_daily`'s history is
    * over 30 times its batch; `etl_snapshot`'s target is young. */
  val EtlShape: Map[String, (Boolean, Int, Int, Int)] = Map(
    "etl_daily" -> (true, 1000, 8, 5000),
    "etl_snapshot" -> (false, 1000, 3, 1000))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    require(workload == "query_mix" || EtlShape.contains(workload), s"unknown workload $workload")

    val spark = session(work)
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tracer = if (trace) Some(new Tracer(spark, runId)) else None
    val fields = scala.collection.mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(workload), "seed" -> seed.toString, "run_id" -> Json.str(runId),
      "cpus" -> Runtime.getRuntime.availableProcessors.toString)
    def state(i: Int) = new File(work, s"state-$i")
    def pass(traced: Boolean, stateDir: File, ops: Seq[String]) = Json.obj(Seq(
      "traced" -> traced.toString, "state" -> Json.str(stateDir.getPath), "ops" -> Json.arr(ops)))
    def traced(body: => Seq[String]): Seq[String] = {
      val t = tracer.get
      t.start()
      try t.span(s"workload $workload", "workload")(body) finally t.stop()
    }

    val passes = if (EtlShape.contains(workload)) {
      val (partitioned, rows, historyDays, historyRows) = EtlShape(workload)
      val gen = new Gen(seed, rows, historyRows)
      val etl = new Etl(spark, gen, work, partitioned, historyDays)
      fields("setup_now") = Json.str(gen.runAt(-1))
      fields("setup_s") = Json.arr((1 to SetupReps).map(i => Json.num(etl.setup(state(i)))))
      val a = etl.pass(state(SetupReps), seconds, Int.MaxValue, None)
      // Traced, then untraced again, each on its own set-up copy: the
      // overhead is taken between the two later, equally warm passes.
      pass(false, state(SetupReps), a) +: tracer.toSeq.flatMap(_ => Seq(
        pass(true, state(2), traced(etl.pass(state(2), Double.MaxValue, a.size, tracer))),
        pass(false, state(1), etl.pass(state(1), Double.MaxValue, a.size, None))))
    } else {
      val mix = new QueryMix(spark, new File(opts("corpus")), seed,
        QueryMix.costs(new File(opts("costs"))))
      fields("setup_s") = Json.arr((1 to SetupReps).map(i => Json.num(mix.setup(state(i)))))
      val (n, a) = mix.pass(state(SetupReps), seconds, None, None, Some(new File(work, "results")))
      // The traced pass runs the same queries again; a third, untraced
      // pass is the equally warm baseline its overhead is taken against.
      pass(false, state(SetupReps), a) +: tracer.toSeq.flatMap(_ => Seq(
        pass(true, state(SetupReps), traced(mix.pass(state(SetupReps), 0, Some(n), tracer, None)._2)),
        pass(false, state(SetupReps), mix.pass(state(SetupReps), 0, Some(n), None, None)._2)))
    }
    fields("passes") = Json.arr(passes)
    tracer.foreach { t =>
      val spans = t.write(new File(work, "spans.jsonl"))
      fields("spans") = spans.toString
      fields("tracer_self_s") = Json.num(t.selfNanos.get / 1e9)
      fields("layers") = Json.obj((t.counters.toMap ++ t.jobMetrics()).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })
    }
    fields("peak_rss_mb") = Json.num(peakRssMb())
    java.nio.file.Files.writeString(new File(work, "result.json").toPath, Json.obj(fields))
    spark.stop()
  }

  /** What a user of the library gets: Spark defaults (AQE on) on all
    * local cores, the graft extensions, a UTC session and `Tables.configure`.
    * The UI is off and scratch space stays inside the work directory. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.configure(spark)
    spark
  }

  /** The JVM's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
