package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
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
  * Beside the ingest sit two bounded-state per-key sketches,
  * [[runningDistinct]] and [[runningSample]], whose streamed answers
  * equal their batch duals over the same history (`StreamBatchGateSpec`
  * checks both and writes the counts to `STREAMING_GATE_r19.json`).
  *
  * At scale: the file source lists incrementally from the checkpoint, the
  * stage projection is shuffle-free, and each micro-batch's merge
  * broadcasts the (small, daily) batch keys against the target.
  */
object StreamingEtl {

  /** T1: drain `sourceDir` (JSON-lines batches in the raw 41-col API
    * shape), stage, and MERGE each micro-batch into the parquet table
    * at `targetPath`. Returns after the AvailableNow drain completes.
    *
    * Each micro-batch goes through the partition-scoped merge
    * ([[TradeInPipeline.mergeIntoTargetPartitioned]]): only the
    * day-partitions present in the batch (plus the partitions its
    * moved keys leave) are rewritten, so a steady stream of daily
    * windows never rewrites the accumulated history. It is still read:
    * the merge's stamp lookup scans the key, partition and
    * `ETLRowInsertedEST` columns of every partition. */
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

  /** Bounded per-key state: the k smallest distinct md5 hex digests. */
  final case class KeyedSketch(key: Long, n: Long, mins: Seq[String])
  final case class KeyedDistinct(key: Long, n: Long, estDistinct: Double)

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
