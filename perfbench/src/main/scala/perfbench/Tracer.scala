package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds, with sub-millisecond
  * digits on the benchmark's own spans. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Records spans and per-layer counters from outside the program: timing
  * around the public calls the benchmark makes, a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for planning phases.
  *
  * The span chain is workload, then day or query, then public call, then
  * Spark job, then stage. A job finds its parent through a local property
  * the benchmark sets on the driver thread before each public call; the
  * listener bus delivers events on its own thread, so that is the only
  * link that survives the hand-off. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long]()
  private val SpanProp = "perfbench.span"
  private val lock = new Object
  private val spanLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Nanoseconds spent inside the tracer's own callbacks and bookkeeping. */
  val selfNanos = new AtomicLong(0)
  private def self[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally selfNanos.addAndGet(System.nanoTime() - t0)
  }

  private def nowMs(): Double = {
    val n = System.nanoTime()
    Tracer.epochMs + (n - Tracer.nanoBase) / 1e6
  }

  /** Times `body` as a span of `layer` under the innermost open one. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val (id, parent, start) = self {
      val id = ids.incrementAndGet()
      spanLayer.put(id, layer)
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setLocalProperty(SpanProp, id.toString)
      (id, parent, nowMs())
    }
    try body
    finally self {
      spans.add(Span(id, parent, name, layer, start, nowMs()))
      stack.pop()
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  // ---- Spark listener state (listener-bus thread) ----
  private final class JobRec(val id: Int, val span: Long, val parent: Long,
      val layer: String, val start: Long, val stages: Seq[Int]) {
    var end = 0L
    var ok = false
  }
  private final class StageRec(val id: Int, val job: Int) {
    var tasks, emptyTasks, failedTasks = 0L
    var longestTask = 0L
    var start, end = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  /** Counters summed over every task, keyed by per-layer metric name. */
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  /** Layer of a job, from the file of its call site (the name of its
    * result stage, e.g. "parquet at Merge.scala:306"). Jobs started by the
    * benchmark's own code, or from a JDK thread (AQE's asynchronous
    * broadcasts), belong to the public call around them. */
  private def layerOf(callSite: String, enclosing: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "Merge.scala" => "operators.merge"
      case "TradeInPipeline.scala" => "pipeline"
      case "ApiSource.scala" | "Tables.scala" => "sources"
      case f if f.endsWith("Queries.scala") || f == "QuerySupport.scala" => "queries"
      case f if Tracer.benchFiles(f) || !f.endsWith(".scala") => enclosing
      case f => "operators." + f.stripSuffix(".scala").toLowerCase
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = self {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val enclosing = Option(spanLayer.get(parent)).getOrElse("perfbench")
      val rec = new JobRec(e.jobId, ids.incrementAndGet(), parent,
        layerOf(site, enclosing), e.time, e.stageIds)
      lock.synchronized {
        jobs(e.jobId) = rec
        e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageRec(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = self {
      lock.synchronized {
        jobs.get(e.jobId).foreach { j =>
          j.end = e.time
          j.ok = e.jobResult == JobSucceeded
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = self {
      val info = e.stageInfo
      lock.synchronized {
        stages.get(info.stageId).foreach { s =>
          s.start = info.submissionTime.getOrElse(0L)
          s.end = info.completionTime.getOrElse(0L)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self {
      val m = e.taskMetrics
      val info = e.taskInfo
      lock.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, -1))
        s.tasks += 1
        s.longestTask = math.max(s.longestTask, info.duration)
        if (e.reason != TaskSuccess) s.failedTasks += 1
        if (m != null) {
          val in = m.inputMetrics
          val sr = m.shuffleReadMetrics
          val sw = m.shuffleWriteMetrics
          val out = m.outputMetrics
          if (in.recordsRead + sr.recordsRead + out.recordsWritten + sw.recordsWritten == 0)
            s.emptyTasks += 1
          add("spark.task_busy_s", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.gc_s", m.jvmGCTime / 1e3)
          add("sources.read_bytes", in.bytesRead.toDouble)
          add("sources.read_rows", in.recordsRead.toDouble)
          add("spark.shuffle_read_bytes", (sr.remoteBytesRead + sr.localBytesRead).toDouble)
          add("spark.shuffle_fetch_wait_s", sr.fetchWaitTime / 1e3)
          add("spark.shuffle_write_bytes", sw.bytesWritten.toDouble)
          add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("spark.output_bytes", out.bytesWritten.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      self(phases(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      self(phases(qe))
    /** Adds each planning phase to its counter and as a `plans` span. The
      * listener gets no link to the call that planned the query, so these
      * spans are roots. */
    private def phases(qe: QueryExecution): Unit = lock.synchronized {
      val p = qe.tracker.phases
      for ((phase, metric) <- Seq("analysis" -> "plans.analysis_s",
          "optimization" -> "plans.optimization_s", "planning" -> "plans.planning_s"))
        p.get(phase).foreach { s =>
          add(metric, s.durationMs / 1e3)
          spans.add(Span(ids.incrementAndGet(), 0, phase, "plans",
            s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
    }
  }

  private val codegen0 = Tracer.codegen()

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detaches the listeners after every queued event has been handled. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val (n1, s1) = Tracer.codegen()
    counters("expressions.codegen_compiles") = (n1 - codegen0._1).toDouble
    counters("expressions.codegen_compile_s") = (s1 - codegen0._2) / 1e3
  }

  /** Per-layer job and stage metrics, from the recorded jobs. */
  def jobMetrics(): Map[String, Double] = lock.synchronized {
    val js = jobs.values.toSeq
    val st = stages.values.filter(_.tasks > 0).toSeq
    val longest = st.map(s => s.id -> s.longestTask).toMap
    val schedWait = js.filter(_.end > 0).map { j =>
      (j.end - j.start - j.stages.flatMap(longest.get).sum).max(0L) / 1e3
    }.sum
    val merge = js.filter(_.layer == "operators.merge")
    val tasks = st.map(_.tasks).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.empty_task_ratio" -> (if (tasks == 0) 0.0 else st.map(_.emptyTasks).sum.toDouble / tasks),
      "spark.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "spark.sched_wait_s" -> schedWait,
      "operators.merge.jobs" -> merge.size.toDouble,
      "operators.merge.busy_s" -> merge.filter(_.end > 0).map(j => (j.end - j.start) / 1e3).sum,
      "queries.eager_jobs" -> js.count(j => Option(spanLayer.get(j.parent)).contains("queries.build")).toDouble)
  }

  /** Writes every span, the benchmark's and the listener's, as JSON lines. */
  def write(file: java.io.File): Int = {
    val all = mutable.ArrayBuffer.empty[Span]
    all ++= spans.asScala
    lock.synchronized {
      jobs.values.foreach { j =>
        all += Span(j.span, j.parent, s"job ${j.id}", j.layer, j.start.toDouble,
          (if (j.end > 0) j.end else j.start).toDouble, Map("ok" -> (if (j.ok) 1.0 else 0.0)))
      }
      stages.values.filter(_.end > 0).foreach { s =>
        val parent = jobs.get(s.job).map(_.span).getOrElse(0L)
        all += Span(ids.incrementAndGet(), parent, s"stage ${s.id}", "spark",
          s.start.toDouble, s.end.toDouble,
          Map("tasks" -> s.tasks.toDouble, "longest_task_ms" -> s.longestTask.toDouble,
            "empty_tasks" -> s.emptyTasks.toDouble))
      }
    }
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      w.println(s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}$attrs}""")
    } finally w.close()
    all.size
  }
}

object Tracer {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private val benchFiles = Set("Main.scala", "Etl.scala", "QueryMix.scala", "Tracer.scala")

  /** (compiles, summed compile milliseconds) from Spark's `CodegenMetrics`.
    * The histogram keeps up to 1028 samples: up to that count the sum is
    * exact, beyond it the sampled mean stands in. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n)
  }
}
