package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators. At 100 TB the dominant operational costs
  * of a parquet lake are (a) small files — every scan pays per-file
  * open/footer overhead and the driver pays per-file listing — and (b)
  * scans that cannot skip — file min/max stats prune nothing unless the
  * layout clusters the filtered columns. Both fix at the storage layer,
  * not the query layer.
  */
object Maintenance {

  /** Compact an IVF entries frame (a [[Similarity.buildIvfIndex]] or
    * [[Similarity.ivfAppend]] result) into the CELL-PARTITIONED index
    * layout: `out/cell=<id>/part-*.parquet`, one write partition per cell
    * (`repartition(cell)` before `partitionBy` — the q129 lesson: without
    * it every task writes a file into every cell directory and the file
    * count explodes tasks×cells). This layout is what makes an IVF index
    * WORTH being on disk at 100 TB: a search that probes `nProbe` of
    * `nlist` cells reads only those cells' directories — partition
    * pruning does the inverted-file part of "inverted file index" at the
    * storage layer, instead of scanning all postings and filtering.
    * Readers: `spark.read.parquet(out)` rediscovers `cell` as a
    * partition column; hand the frame to
    * [[graft.operators.Similarity.ivfSearch]] as `IvfIndex.entries`. */
  def compactIvfIndex(entries: DataFrame, outPath: String): Unit =
    entries
      .repartition(col("cell"))
      .write.mode("overwrite")
      .partitionBy("cell").parquet(outPath)

  /** Z-order clustered rewrite — multi-dimensional data skipping. A
    * single-column sort makes parquet min/max stats selective for ONE
    * predicate column and useless for every other; interleaving the bits
    * of rank-binned dimension values (a Morton curve) makes every file a
    * small hyper-rectangle, so row-group pruning works for range
    * predicates on ANY clustered dimension. This is the OPTIMIZE
    * ZORDER maintenance pass of a parquet lake, as a snapshot-swap
    * rewrite ([[Merge.writeSnapshot]]).
    *
    * Binning is rank-based (per-dimension quantile boundaries from
    * `approxQuantile`, collected once at bounded driver cost and folded
    * into the expression as literals), NOT min/max-linear: linear bins
    * collapse under skew — one hot key would drag half the value range
    * into one bin and the curve degenerates to a single-dim sort.
    *
    * Scale shape: one sampled quantile pass, then one range shuffle on
    * the z-key with an in-partition sort — identical cost to the plain
    * global sort a naive "sort by the filter column" rewrite pays.
    * Returns the file count. */
  def zorderWrite(spark: SparkSession, df: DataFrame, dims: Seq[String],
      path: String, numFiles: Int, bitsPerDim: Int = 6): Int = {
    require(dims.size >= 2, s"zorder needs >= 2 dims (got $dims); use a plain sort for 1")
    require(bitsPerDim >= 1 && bitsPerDim * dims.size <= 62,
      s"bitsPerDim * dims must fit a long: $bitsPerDim * ${dims.size}")
    require(numFiles > 0, "numFiles must be positive")
    val nBins = 1 << bitsPerDim
    // interior quantile boundaries per dim — ONE sampled pass for all
    // dims (the multi-column approxQuantile overload), not one scan per
    // dimension; a value's bin is the count of boundaries <= it,
    // evaluated as a codegen-friendly sum over literals
    val qs = (1 until nBins).map(_.toDouble / nBins).toArray
    val allBounds = df.stat.approxQuantile(dims.toArray, qs, 0.001)
    val bounds: Map[String, Array[Double]] = dims.zip(allBounds).toMap
    bounds.foreach { case (d, b) =>
      require(b.nonEmpty,
        s"zorderWrite: dimension $d has no non-null values in this snapshot")
    }
    def bin(d: String): Column = {
      val c = col(d).cast("double")
      bounds(d).distinct.map(b => when(c >= b, 1L).otherwise(0L))
        .reduce(_ + _)
    }
    val zkey = dims.zipWithIndex.map { case (d, k) =>
      val b = bin(d)
      (0 until bitsPerDim).map { i =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * dims.size + k)
      }.reduce[Column](_.bitwiseOR(_))
    }.reduce[Column](_.bitwiseOR(_))
    val clustered = df.withColumn("__z", zkey)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    Merge.writeSnapshot(clustered, path)
    numFiles
  }

  /** Per-file min/max envelope of `cols` — the data-skipping audit: how
    * selective would a range predicate on each column be against this
    * layout? One scan, one small aggregation keyed by file name. */
  def skippingStats(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"${c}_min"),
      max(col(c)).cast("double").as(s"${c}_max")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Content-addressed corpus manifest: per shard, row/byte counts and a
    * digest over every document's (id, content) — the reproducibility
    * gate two corpus versions compare before a training run ("same
    * manifest" proves bit-identical shard content without shipping the
    * shards). Shard assignment is the same md5-of-id bucketing as
    * [[Relational.shardAudit]].
    *
    * The digest is ADDITIVE, not a hash chain: each document's md5 is
    * split into four 32-bit words, the per-shard digest is the four word
    * sums mod 2^32, and `manifest_hash` is the md5 of that 4-tuple.
    * Order-independence is the point at scale — a hash chain needs every
    * digest sorted in one place (unbounded aggregation state and a
    * per-shard global sort), while word sums are 4 longs of state,
    * map-side combinable, and INCREMENTAL: adding or retiring documents
    * updates the manifest by adding/subtracting their words, no full
    * rescan (the multiset-hashing construction of Bellare-Micciancio's
    * AdHash, CRYPTO '97). Word sums accumulate in DECIMAL(38,0): 10^12
    * docs x 2^32 overflows a LONG well before 100 TB.
    *
    * Scale shape: one projection (md5 + word slices per row), one
    * map-side-combined aggregation to |shards| rows. Nothing is sorted,
    * nothing collected. */
  def corpusManifest(docs: DataFrame, idCol: String, textCol: String,
      numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(numShards.toLong))
    val digest = md5(concat(col(idCol).cast("string"), lit(":"), col(textCol)))
    val words = (0 until 4).map(i =>
      conv(substring(digest, 1 + 8 * i, 8), 16, 10).cast("long")
        .as(s"__w$i"))
    val wordSums = (0 until 4).map(i =>
      (sum(col(s"__w$i").cast(dec38)) % lit(4294967296L)).cast("long")
        .as(s"__m$i"))
    docs
      .select(Seq(shard.as("shard"), length(col(textCol)).as("__nb")) ++
        words: _*)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (Seq(sum(col("__nb").cast(dec38)).cast("long").as("n_bytes")) ++
          wordSums): _*)
      .select(col("shard"), col("n_docs"), col("n_bytes"),
        md5(concat_ws("-", col("__m0"), col("__m1"), col("__m2"),
          col("__m3"))).as("manifest_hash"))
  }

  /** Diff of two [[corpusManifest]] outputs: per shard, `added` /
    * `removed` / `changed` / `unchanged` plus the doc and byte deltas —
    * the corpus-version comparison that tells a training run WHICH
    * shards to re-read without touching unchanged data (the additive
    * digest makes "unchanged" a constant-size check, not a rescan).
    *
    * Scale shape: a |shards|-row full-outer join — trivially bounded. */
  def manifestDiff(ref: DataFrame, cur: DataFrame): DataFrame = {
    val r = ref.select(col("shard"), col("n_docs").as("__dr"),
      col("n_bytes").as("__br"), col("manifest_hash").as("__hr"))
    val c = cur.select(col("shard"), col("n_docs").as("__dc"),
      col("n_bytes").as("__bc"), col("manifest_hash").as("__hc"))
    r.join(c, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("__hr").isNull, lit("added"))
          .when(col("__hc").isNull, lit("removed"))
          .when(col("__hr") === col("__hc"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("__dc"), lit(0L)) - coalesce(col("__dr"), lit(0L)))
          .as("doc_delta"),
        (coalesce(col("__bc"), lit(0L)) - coalesce(col("__br"), lit(0L)))
          .as("byte_delta"))
  }
}
