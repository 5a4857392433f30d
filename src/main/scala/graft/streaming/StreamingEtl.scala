package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{TradeInPipeline, TradeInSchema}

/** Structured-Streaming re-expression of the reference's scheduling layer
  * (SURVEY.md §2.9): the timer-triggered daily batch
  * (`function.json:8` cron `0 0 6 * * *`) becomes a file-source stream
  * with `Trigger.AvailableNow` — each activation drains whatever landed
  * since the last checkpoint and stops, which is exactly a scheduled
  * batch with exactly-once source tracking for free (T1).
  *
  * The stage transform is the same pure-column code the batch pipeline
  * uses — streaming and batch share one logical plan; the MERGE runs in
  * `foreachBatch` (the canonical streaming-upsert pattern, since MERGE
  * needs a full view of the target).
  *
  * At scale: the file source lists incrementally from the checkpoint, the
  * stage projection is shuffle-free, and each micro-batch's merge
  * broadcasts the (small, daily) batch side against the target.
  */
object StreamingEtl {

  /** T1: drain `sourceDir` (JSON-lines batches in the raw 41-col API
    * shape), stage, and MERGE each micro-batch into the parquet table
    * at `targetPath`. Returns after the AvailableNow drain completes.
    *
    * Each micro-batch goes through the partition-scoped merge
    * ([[TradeInPipeline.mergeIntoTargetPartitioned]]): only the
    * day-partitions present in the batch (plus the partitions its
    * moved keys leave) are read and rewritten, so a steady
    * stream of daily windows never rewrites the accumulated history. */
  def ingestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      targetPath: String,
      checkpointDir: String,
      now: () => org.apache.spark.sql.Column = () => current_timestamp()): Unit = {

    val rawSchema = StructType(TradeInSchema.rawColumns.map(c =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
    val staged = TradeInPipeline.stage(
      spark.readStream.schema(rawSchema).json(sourceDir), now())

    val q = staged.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        TradeInPipeline.mergeIntoTargetPartitioned(
          batch.sparkSession, targetPath, batch.toDF(), now())
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Stream-STREAM interval join — the streaming form of
    * [[graft.operators.Relational.intervalJoin]]'s enrichment shape:
    * every left event joined to the same key's right events with
    * `rightTime ∈ [leftTime − lookbackSeconds, leftTime]`, both sides
    * unbounded streams. Both inputs carry the SAME watermark delay and
    * the join condition bounds both event times, which is exactly what
    * lets Spark age out buffered state on BOTH sides: a right row can
    * be dropped once the left watermark passes `rightTime +
    * lookback`, a left row once its own match window closes — state is
    * O(events per watermark+lookback horizon), not O(history).
    * `joinType` "inner" emits matches as they meet; "left_outer" also
    * emits the NULL-padded left row, but only after the watermark
    * proves no match can still arrive (append-mode final, no
    * retractions). Output: every left column plus the right side's
    * non-key columns. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, delay: String,
      lookbackSeconds: Long, joinType: String = "inner"): DataFrame = {
    require(lookbackSeconds >= 0, s"lookbackSeconds < 0: $lookbackSeconds")
    require(Seq("inner", "left_outer").contains(joinType),
      s"unsupported joinType for stream-stream interval join: $joinType")
    // Mirror asofJoin's collision discipline: the output keeps right
    // non-key columns by bare name, so a shared name (rightTime ==
    // leftTime is the common trap) would silently duplicate a column;
    // dotted names would also break the string-based l./r. references.
    val collisions = right.columns.filterNot(_ == key)
      .filter(left.columns.contains)
    require(collisions.isEmpty,
      s"intervalJoinStream: right columns collide with left: " +
        s"${collisions.mkString(", ")} — rename the right side first")
    require((left.columns ++ right.columns).forall(!_.contains(".")),
      "intervalJoinStream: dotted column names are not supported")
    val l = left.withWatermark(leftTime, delay).alias("l")
    val r = right.withWatermark(rightTime, delay).alias("r")
    val cond = col(s"l.$key") === col(s"r.$key") &&
      col(s"r.$rightTime") >=
        col(s"l.$leftTime") - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
      col(s"r.$rightTime") <= col(s"l.$leftTime")
    val out = left.columns.map(c => col(s"l.$c").as(c)) ++
      right.columns.filterNot(_ == key).map(c => col(s"r.$c").as(c))
    l.join(r, cond, joinType).select(out.toSeq: _*)
  }

  /** W1 streaming analogue: exactly-once-per-key dedup with bounded state
    * — the watermark ages out keys older than `delay`, so state is
    * O(keys per delay window), not O(all history). */
  def dedupStream(stream: DataFrame, eventTimeCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .dropDuplicates(keys :+ eventTimeCol)

  /** [[dedupStream]]'s within-watermark form — the at-least-once
    * ingest contract: `dropDuplicates(keys :+ eventTime)` treats a
    * RETRIED record that arrives with a fresh timestamp as a new row,
    * while this dedups on the business key alone within the watermark
    * horizon (`dropDuplicatesWithinWatermark`): the first arrival
    * wins, every redelivery inside `delay` is dropped regardless of
    * its timestamp, and state for a key is evicted once the watermark
    * passes its event time — so the SAME key seen again far later is
    * a new record (correct for "retries within minutes", not a
    * global-history guarantee, which is [[dedupIngest]]'s job). */
  def dedupStreamWithinWatermark(stream: DataFrame, eventTimeCol: String,
      delay: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** A1/T2 streaming analogue: event-time tumbling counts with a
    * watermark bounding late data (the batch q15/q38 plan under
    * readStream — same groupBy(window(...)) expression). */
  def windowedCounts(stream: DataFrame, eventTimeCol: String, delay: String,
      windowDur: String, keyCol: String): DataFrame =
    stream.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"))

  /** Streaming sessionization (the streaming form of
    * [[graft.operators.Sessionize]]): flatMapGroupsWithState with
    * event-time timeout. Open sessions absorb events within `gapMs` of
    * the session's end; a session closes — and is EMITTED exactly once —
    * when the watermark passes end + gap (the timeout fires), so state
    * per key is one small session record and output is append-mode
    * final (no retractions). This is the standard custom-state session
    * builder the aggregating `session_window` cannot express when the
    * session record must carry arbitrary accumulated fields. */
  final case class SessionIn(key: Long, eventTime: java.sql.Timestamp)
  final case class OpenSession(key: Long, nEvents: Long, startMs: Long, endMs: Long)
  final case class ClosedSession(key: Long, nEvents: Long, startMs: Long, endMs: Long)

  def sessionizeStream(events: Dataset[SessionIn], gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("eventTime", s"${gapMs / 1000} seconds")
      .groupByKey(_.key)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[SessionIn], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(s.key, s.nEvents, s.startMs, s.endMs))
          } else {
            val sorted = rows.map(_.eventTime.getTime).toSeq.sorted
            val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(s.copy(nEvents = s.nEvents + 1, endMs = math.max(s.endMs, t)))
                case Some(s) =>
                  closed += ClosedSession(s.key, s.nEvents, s.startMs, s.endMs)
                  cur = Some(OpenSession(key, 1L, t, t))
                case None =>
                  cur = Some(OpenSession(key, 1L, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming ingest dedup against a SELF-MAINTAINING band index — the
    * streaming face of [[graft.operators.TextDedup.incrementalCandidates]]
    * (q77's build/probe split as a continuously running pipeline): each
    * micro-batch is MinHash-signatured (cost ∝ the batch, never the
    * corpus), probed against the standing `(id, band)` index at
    * `indexPath`, and only documents colliding with no indexed band are
    * (a) handed to `onNovel` and (b) appended to the index — so a
    * near-dup arriving in ANY later micro-batch is dropped by state that
    * survives restarts (the index is a parquet table, not executor
    * memory; T4 cross-run state in its durable form).
    *
    * Batch-INTERNAL near-dups are deliberately out of scope (both
    * members are novel vs the corpus; compose
    * [[graft.operators.TextDedup.lshCandidatePairs]] +
    * [[graft.operators.TextDedup.dupClusters]] over the batch first if
    * ingest batches self-duplicate). At 100 TB the index is written
    * bucketed on `band` (see `buildBandIndex`'s scale contract) so the
    * per-batch probe join never shuffles the standing index.
    *
    * Failure semantics: index rows carry the foreachBatch epoch
    * (batchId), which Spark reuses when it replays a failed batch. The
    * probe ignores rows of the CURRENT epoch — precisely the rows a
    * failed prior attempt of this same batch appended. Without that, a
    * replayed batch containing near-dup SIBLINGS (distinct ids, e.g.
    * A and A′ both novel vs the corpus) would collide with each
    * other's leftover rows and silently drop both; same-ID
    * self-collisions were never possible (`incrementalCandidates`
    * filters same-id pairs). Scoping the exclusion to the epoch — not
    * to the batch's ids — keeps redelivered old ids deduping against
    * their OLDER epochs' rows, so an at-least-once source cannot sneak
    * a near-dup past the index by sharing a batch with its original.
    * A replayed batch's re-appended rows only waste index bytes —
    * compact offline with `distinct()` if replays are common. The
    * epoch is the checkpoint's batchId, so the index is tied to ONE
    * checkpoint lineage: restarting against the same index with a
    * FRESH checkpoint re-uses epoch numbers and blinds the probe to
    * those epochs' rows for one batch each — keep the checkpoint, or
    * re-stamp the index epochs to -1 when deliberately resetting. */
  def dedupIngest(stream: DataFrame, indexPath: String, textCol: String,
      idCol: String, numHashes: Int, shingleSize: Int, rowsPerBand: Int,
      checkpointDir: String)(
      onNovel: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sparkB = batch.sparkSession
        val b = batch.toDF().persist() // signatured twice (probe + index append)
        // replay safety: index rows are stamped with the epoch (the
        // foreachBatch batchId, which Spark REUSES on replay), and the
        // probe ignores rows of the CURRENT epoch — exactly the rows a
        // failed prior attempt of this same batch appended, and nothing
        // else, so redelivered ids still dedup against their older
        // epochs' rows — see scaladoc
        val idx = readIndexOrEmpty(sparkB, indexPath, b, idCol)
          .filter(col("epoch") =!= batchId)
          .drop("epoch")
        val dupIds = graft.operators.TextDedup.incrementalCandidates(
            b, idx, textCol, idCol, numHashes, shingleSize, rowsPerBand)
          .select(col(s"${idCol}_new").as(idCol)).distinct()
        val novel = b.join(dupIds, Seq(idCol), "left_anti").persist()
        graft.operators.TextDedup.buildBandIndex(
            novel, textCol, idCol, numHashes, shingleSize, rowsPerBand)
          .withColumn("epoch", lit(batchId))
          .write.mode("append").parquet(indexPath)
        onNovel(novel)
        b.unpersist(); novel.unpersist()
        ()
      }
      .start()

  /** Continuous ANN index ingest: each micro-batch of embedding rows is
    * assigned to the FROZEN broadcast centroids
    * ([[graft.operators.Similarity.assignToCells]] — the
    * `ivfAppend` unit) and lands as postings under the index root, so a
    * growing vector corpus is searchable without ever re-scanning
    * history (the batch-side argument at `Similarity.ivfAppend`, in
    * streaming form).
    *
    * Exactly-once without an epoch-probe dance: each batch writes its
    * postings to its OWN `epoch=<batchId>` subdirectory with
    * mode=overwrite. Spark reuses batchIds on replay, so a crashed
    * attempt's partial/complete output is simply overwritten by the
    * redelivered batch — append-only at the index level, idempotent at
    * the epoch level. Readers load the root (`spark.read.parquet(root)`
    * discovers the epoch partition column; drop it to get a plain
    * entries frame for [[graft.operators.Similarity.ivfSearch]]). */
  def annIngest(stream: DataFrame, indexPath: String, centroids: DataFrame,
      vecCol: String, idCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // pin the centroids ONCE: without this each micro-batch re-executes
    // the captured centroid plan (paying its build per batch), and a
    // live underlying source could silently change the centroids
    // mid-stream — breaking the frozen-centroid equivalence this
    // operator's correctness rests on
    val frozen = centroids.localCheckpoint()
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity
          .assignToCells(batch.toDF(), frozen, vecCol, idCol)
          .write.mode("overwrite").parquet(s"$indexPath/epoch=$batchId")
        ()
      }
      .start()
  }

  /** Streaming SemDeDup ingest — [[annIngest]]'s frozen-centroid cell
    * assignment fused with [[dedupIngest]]'s durable-index admission
    * gate, in embedding space: each micro-batch is assigned to the
    * frozen centroids (cost ∝ the batch), probed against the standing
    * cell-posting index at `indexPath`
    * ([[graft.operators.Similarity.semanticDedupIncremental]] — only
    * same-cell members are compared), and only vectors with NO index
    * cell-mate at cosine ≥ `threshold` are (a) handed to `onNovel` and
    * (b) appended to the index — so a semantic near-dup arriving in any
    * later micro-batch is dropped by state that survives restarts.
    *
    * Batch-internal near-dups are out of scope (both novel vs the
    * corpus), and the failure semantics are [[dedupIngest]]'s verbatim:
    * index rows carry the foreachBatch epoch, the probe ignores the
    * CURRENT epoch's rows (a replayed batch must not collide with its
    * own failed attempt's leftovers), redelivered old ids still dedup
    * against their older epochs' rows, and the index is tied to one
    * checkpoint lineage. Centroids are pinned once via localCheckpoint
    * ([[annIngest]]'s frozen-centroid equivalence). */
  def semanticDedupIngest(stream: DataFrame, indexPath: String,
      centroids: DataFrame, vecCol: String, idCol: String,
      threshold: Double, checkpointDir: String)(
      onNovel: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val frozen = centroids.localCheckpoint()
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sparkB = batch.sparkSession
        val b = batch.toDF().persist() // assigned twice (probe + append)
        val idx = readCellIndexOrEmpty(sparkB, indexPath, b, frozen,
            vecCol, idCol)
          .filter(col("epoch") =!= batchId)
          .drop("epoch")
        val verdicts = graft.operators.Similarity.semanticDedupIncremental(
          b, idx, frozen, vecCol, idCol, threshold)
        val novel = b.join(
            verdicts.filter(!col("is_dup")).select(col(idCol)),
            Seq(idCol), "left_semi")
          .persist()
        graft.operators.Similarity
          .assignToCells(novel, frozen, vecCol, idCol)
          .withColumn("epoch", lit(batchId))
          .write.mode("append").parquet(indexPath)
        onNovel(novel)
        b.unpersist(); novel.unpersist()
        ()
      }
      .start()
  }

  /** [[readIndexOrEmpty]] for the cell-posting index: the empty-index
    * fallback derives its schema from assigning zero batch rows to the
    * frozen centroids — exactly the frame a first batch will append. */
  private def readCellIndexOrEmpty(spark: SparkSession, path: String,
      like: DataFrame, centroids: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (hasData) spark.read.parquet(path)
    else graft.operators.Similarity
      .assignToCells(like.limit(0), centroids, vecCol, idCol)
      .withColumn("epoch", lit(-1L))
  }

  private def readIndexOrEmpty(spark: SparkSession, path: String,
      like: DataFrame, idCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only DATA files count: a killed write leaves _temporary/ (and a
    // degenerate first write may leave only _SUCCESS) — treating those
    // as a readable index would crash-loop every restart on
    // "unable to infer schema"
    val hasData = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (hasData) spark.read.parquet(path)
    else like.select(col(idCol), lit("").as("band"),
      lit(-1L).as("epoch")).limit(0)
  }

  /** Per-key running state (T4's cross-run state, streaming form):
    * arbitrary stateful aggregation via mapGroupsWithState — here a
    * running (count, sum) per key, the minimal shape of a custom state
    * machine (session builders, CDC reconcilers, …). */
  final case class KeyedTotals(key: Long, n: Long, total: Double)
  final case class EwmaState(key: Long, n: Long, mean: Double, variance: Double)
  final case class HhState(key: Long, n: Long,
      counters: Map[String, Long])
  final case class HhCandidates(key: Long, n: Long,
      candidates: Seq[String])
  final case class EwmaAlert(key: Long, n: Long, value: Double,
      mean: Double, variance: Double, anomaly: Boolean)
  /** Bounded per-key state: the k smallest distinct md5 hex digests. */
  final case class KeyedSketch(key: Long, n: Long, mins: Seq[String])
  final case class KeyedDistinct(key: Long, n: Long, estDistinct: Double)
  def runningTotals(events: Dataset[(Long, Double)]): Dataset[KeyedTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyedTotals, KeyedTotals](GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[KeyedTotals]) =>
          val prev = state.getOption.getOrElse(KeyedTotals(key, 0L, 0.0))
          val next = rows.foldLeft(prev) { case (acc, (_, v)) =>
            KeyedTotals(key, acc.n + 1, acc.total + v)
          }
          state.update(next)
          next
      }
  }

  /** Per-key running DISTINCT count over an unbounded stream with
    * BOUNDED state — the streaming twin of
    * [[graft.operators.IncrementalAgg.partialWithDistinct]]. Exact
    * streaming distinct needs state proportional to the true
    * cardinality (every seen value, forever — the classic unbounded-
    * state leak); a KMV sketch holds the k smallest md5 hex digests of
    * the values seen, so state is ≤ k×32 chars per key no matter how
    * many distinct values stream through, and the emitted estimate is
    * IDENTICAL to what the batch sketch over the whole history would
    * say (k-minima are order-insensitive, so replay/late arrivals
    * cannot change a converged sketch). Exact while a key has seen
    * fewer than k distinct values. */
  def runningDistinct(events: Dataset[(Long, String)],
      k: Int): Dataset[KeyedDistinct] = {
    require(k > 0, "k must be positive")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyedSketch, KeyedDistinct](GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, String)], state: GroupState[KeyedSketch]) =>
          val mins = scala.collection.mutable.TreeSet.empty[String]
          mins ++= state.getOption.map(_.mins).getOrElse(Seq.empty)
          var n = state.getOption.map(_.n).getOrElse(0L)
          rows.foreach { case (_, v) =>
            n += 1
            if (v != null) {
              val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(v)
              if (mins.size < k) mins += h
              else if (h < mins.last && !mins.contains(h)) {
                mins -= mins.last
                mins += h
              }
            }
          }
          state.update(KeyedSketch(key, n, mins.toSeq))
          val est =
            if (mins.size < k) mins.size.toDouble
            else {
              val frac = java.lang.Long.parseLong(mins.last.substring(0, 13), 16)
                .toDouble / graft.operators.Profiling.Denom52
              BigDecimal((k - 1).toDouble / frac)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
          KeyedDistinct(key, n, est)
      }
  }

  /** Per-key streaming EWMA control chart — the stateful anomaly
    * detector a rate/latency monitor runs on an unbounded stream with
    * O(1) state per key (two doubles), where the batch siblings
    * ([[graft.operators.TimeSeries.cusumShift]], `rateAnomaly`) need
    * the whole history. Each arriving value is FIRST tested against the
    * current envelope `mean ± threshold·√variance` (detection precedes
    * absorption — an outlier must not get to vote on the envelope that
    * judges it), then folded in:
    * `mean' = (1−α)·mean + α·v`,
    * `var'  = (1−α)·(var + α·(v − mean)²)` (West 1979). The first
    * `warmup` values per key are never flagged (the envelope isn't
    * meaningful until seeded). Emits one [[EwmaAlert]] per value — the
    * per-batch output is the LAST row per key in the batch fold; all
    * flagged values surface via the `anomaly` field on their own row.
    *
    * Scale posture: state per key is (n, mean, variance) — three
    * numbers regardless of stream length; keys distribute across the
    * state store like every mapGroupsWithState op here. Fold order
    * within a micro-batch is input order (deterministic under the
    * single-partition test harness; production cross-partition order is
    * the documented streaming caveat shared with [[runningTotals]]). */
  def ewmaAnomalies(events: Dataset[(Long, Double)], alpha: Double,
      threshold: Double, warmup: Int = 5): Dataset[EwmaAlert] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(threshold > 0 && warmup >= 1, "threshold > 0, warmup >= 1")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Double)],
            state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(key, 0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaAlert]
          rows.foreach { case (_, v) =>
            val flagged = st.n >= warmup && st.variance > 0 &&
              math.abs(v - st.mean) > threshold * math.sqrt(st.variance)
            val m = if (st.n == 0) v else (1 - alpha) * st.mean + alpha * v
            val d = v - st.mean
            val vr = if (st.n == 0) 0.0
              else (1 - alpha) * (st.variance + alpha * d * d)
            st = EwmaState(key, st.n + 1, m, vr)
            out += EwmaAlert(key, st.n, v, m, vr, flagged)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-key streaming heavy hitters — Misra–Gries summaries maintained
    * in mapGroupsWithState, the streaming twin of
    * [[graft.operators.Profiling.heavyHitters]]'s batch candidate pass:
    * at most `k` counters per key no matter how many distinct values
    * stream through, with the classic guarantee intact across
    * micro-batches (any value with frequency > n/(k+1) of the WHOLE
    * history is among the candidates — the decrement step transfers
    * unchanged to the incremental setting because the summary after
    * each batch equals running MG over the concatenated history in
    * arrival order). Emits the current candidate set (sorted for
    * determinism) per key per batch; exact counts for the survivors
    * are the batch side's verification join, same as the batch op.
    *
    * Scale posture: state is ≤ k (string, long) pairs per key. */
  def runningHeavyHitters(events: Dataset[(Long, String)],
      k: Int): Dataset[HhCandidates] = {
    require(k >= 1, "k must be >= 1")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[HhState, HhCandidates](
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, String)],
            state: GroupState[HhState]) =>
          val counters = scala.collection.mutable.Map.empty[String, Long]
          var n = 0L
          state.getOption.foreach { st =>
            counters ++= st.counters; n = st.n
          }
          rows.foreach { case (_, v) =>
            if (v != null) {
              n += 1
              if (counters.contains(v)) counters(v) += 1
              else if (counters.size < k) counters(v) = 1
              else {
                // decrement all; drop zeros (the MG step)
                val dead = scala.collection.mutable.ArrayBuffer.empty[String]
                counters.keysIterator.foreach { w =>
                  val c = counters(w) - 1
                  if (c == 0) dead += w else counters(w) = c
                }
                dead.foreach(counters.remove)
              }
            }
          }
          val st = HhState(key, n, counters.toMap)
          state.update(st)
          HhCandidates(key, n, counters.keys.toSeq.sorted)
      }
  }

  /** Per-key streaming uniform sample with BOUNDED state and NO
    * randomness: keep the k values whose md5 digests are smallest —
    * bottom-k-by-hash, the deterministic reservoir (the sample is a
    * pure function of the value SET, so replays, late arrivals, and
    * batch boundaries cannot change a converged sample, exactly the
    * [[runningDistinct]] KMV argument with payloads kept). A classic
    * Algorithm-R reservoir would be smaller per item but
    * nondeterministic under retry — the wrong trade for an
    * exactly-once-auditable pipeline. Duplicate values collapse (the
    * sample is over the distinct-value domain, matching the batch
    * hash-sample discipline of q49).
    *
    * Emits per key per batch: the current sample (hash-sorted), n
    * processed, and n distinct admitted-or-rejected is implicit in
    * the sketch. Scale posture: state ≤ k (32-char digest, value)
    * pairs per key. */
  final case class KeyedSampleState(key: Long, n: Long,
      mins: Map[String, String])
  final case class KeyedSample(key: Long, n: Long, sample: Seq[String])
  def runningSample(events: Dataset[(Long, String)],
      k: Int): Dataset[KeyedSample] = {
    require(k > 0, "k must be positive")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyedSampleState, KeyedSample](
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, String)],
            state: GroupState[KeyedSampleState]) =>
          val mins = scala.collection.mutable.TreeMap.empty[String, String]
          var n = 0L
          state.getOption.foreach { st => mins ++= st.mins; n = st.n }
          rows.foreach { case (_, v) =>
            n += 1
            if (v != null) {
              val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(v)
              if (!mins.contains(h)) {
                if (mins.size < k) mins += (h -> v)
                else if (h < mins.lastKey) { mins -= mins.lastKey
                  mins += (h -> v) }
              }
            }
          }
          state.update(KeyedSampleState(key, n, mins.toMap))
          KeyedSample(key, n, mins.values.toSeq)
      }
  }
}
