package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** M1 (SURVEY.md §2.6): MERGE-upsert emulation — the reference's core
  * "query" (rqtradein_etl.py:150-185): `MERGE target USING dedupedSource
  * ON key WHEN MATCHED THEN UPDATE all cols WHEN NOT MATCHED THEN INSERT`.
  *
  * Vanilla Spark has no mutable-table MERGE; the semantics are exactly a
  * full-outer equi-join partitioned into matched / source-only /
  * target-only branches:
  *   - matched      → source values win, stamp `updatedCol = now`
  *   - source-only  → insert, stamp `insertedCol = now`
  *   - target-only  → carry target row unchanged
  *
  * NULL-key rows on either side never match (plain `===` join, not `<=>`),
  * reproducing SQL MERGE's NULL-never-equals behavior (SURVEY.md §4.2).
  *
  * Scale posture (SURVEY.md §4.3): the join shuffles and sorts both sides
  * on the key, however small the source batch: Spark cannot broadcast
  * either side of a full-outer join, since both must be preserved
  * (`PLANS_prod.md` q33: 6 shuffles, 0 broadcasts with AQE on). For a
  * partitioned target, [[upsertPartitioned]] rewrites only the partitions
  * the batch touches, and broadcasts the batch instead of joining it.
  */
object Merge {

  /** Pure-column merge: returns the new target snapshot.
    *
    * @param dataCols  the full data-column contract (target column order)
    * @param audit     optional (insertedCol, updatedCol, now) audit spec;
    *                  reference semantics update the audit stamp on every
    *                  match even when values are unchanged (§2.10(g))
    */
  def upsert(
      target: DataFrame,
      source: DataFrame,
      key: String,
      dataCols: Seq[String],
      audit: Option[(String, String, Column)] = None,
      actionCol: Option[String] = None): DataFrame = {

    val s = source.withColumn("__s_present", lit(true)).alias("s")
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    // No join-strategy hint: the full-outer join plans as a sort-merge
    // join, measured strictly faster than pinning SHUFFLE_HASH, which
    // pays a wide-row hash build per partition.
    val joined = t.join(s, col(s"t.$key") === col(s"s.$key"), "full_outer")

    val sPresent = col("s.__s_present").isNotNull
    val tPresent = col("t.__t_present").isNotNull

    val data = dataCols.map { c =>
      when(sPresent, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
    }
    val auditCols = audit.toSeq.flatMap { case (ins, upd, now) =>
      Seq(
        when(sPresent && !tPresent, now)
          .otherwise(col(s"t.$ins")).as(ins),
        when(sPresent && tPresent, now)
          .otherwise(col(s"t.$upd")).as(upd))
    }
    val action = actionCol.toSeq.map { name =>
      when(sPresent && tPresent, lit("update"))
        .when(sPresent, lit("insert"))
        .otherwise(lit("keep")).as(name)
    }
    joined.select(data ++ auditCols ++ action: _*)
  }

  /** SCD Type-2 history from a change log: one validity interval per
    * change row — `effectiveFrom` = the row's change time, `effectiveTo` =
    * the next change's time for the same key (null while current),
    * `is_current` on the latest row. The standard warehouse shape for
    * "what did this dimension row look like on date X" (the reference's
    * audit-stamped MERGE keeps only the latest state; SCD2 is its
    * history-preserving dual).
    *
    * One hash shuffle on `key`, one sort, a single `lead` window — the
    * same cost as the dedup window (W1) at any scale. `tieBreak` orders
    * simultaneous changes (pass a change id; the later row in that order
    * supersedes). */
  def scd2History(changes: DataFrame, key: String, ts: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts) +: tieBreak: _*)
    changes
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** Partition-scoped MERGE into a `partitionCol=value`-layout parquet
    * table: only the partitions PRESENT IN THE SOURCE batch, plus those
    * its moved keys leave, are merged and rewritten — the other 99.9% of
    * a 100 TB target is never rewritten (the full-snapshot
    * [[writeSnapshot]] form rewrites everything, fine for small tables,
    * absurd for a daily batch into years of history). The other
    * partitions are still read: the stamp lookup below scans the key,
    * partition and `insertedCol` columns of the whole target. Returns the
    * partition values merged, as strings; a NULL partition value (the
    * `__HIVE_DEFAULT_PARTITION__` dir) is merged like any other and
    * returned as null, sorted first.
    *
    * Only the batch's own keys can match, so the batch's key column is
    * broadcast and the target is only scanned, never shuffled or sorted
    * by key. The one shuffle is the partition-aligned repartition of
    * the write. Same answer as [[upsert]] over the slice:
    *   - Stamp lookup: the target's (key, partition, `insertedCol`)
    *     columns semi-joined against the batch keys and collected. It
    *     holds only rows of batch keys. Its partitions outside the
    *     batch's are the moved-from ones: a matched key whose partition
    *     value CHANGED in this batch (the reference's business-date
    *     correction) has its live row in a partition the batch does not
    *     mention, and that partition joins the rewrite set.
    *   - Target-only rows: the slice anti-joined against the batch keys.
    *     Every copy of a batch key drops out, including one left in its
    *     moved-from partition by a crash between the write and the sweep.
    *   - Batch rows, each once: a matched key keeps its stamped
    *     `insertedCol` and gets `updatedCol = now`; an unmatched one gets
    *     `insertedCol = now` and a NULL `updatedCol`. A key stamped in
    *     two partitions (that crash again) takes the copy inside the
    *     batch's partitions, which the earlier run already merged.
    *   - NULL keys never match (`===`): a NULL-key batch row inserts, a
    *     NULL-key target row is kept.
    *   - A missing target (first load) runs the same plan against an
    *     empty local relation. Catalyst prunes the empty joins, leaving
    *     one projection of the batch: every row inserts.
    * Bound: the driver collects one lookup row per matched (key,
    * partition); the broadcasts carry one key per batch row and one
    * stamp per matched key, and every executor holds them whole. The
    * reference's ~1k-row daily batch is kilobytes; split a backfill of
    * tens of millions of keys into batches.
    *
    * The write is a dynamic partition overwrite, which replaces exactly
    * the partitions written. A moved-from partition left with no rows is
    * deleted explicitly afterwards, since dynamic overwrite never clears
    * a partition it writes no rows to.
    *
    * Every job is sized to the batch, not to the session's shuffle
    * width. The source is pinned with an eager `localCheckpoint()`, not
    * `persist()`: Spark keeps a cached plan's final shuffle at
    * `spark.sql.shuffle.partitions` (AQE may not change a cached plan's
    * output partitioning), so a persisted 1k-row batch came back as 200
    * mostly-empty partitions and every job reading it paid 200 tasks.
    * The checkpoint runs as an ordinary AQE query whose exchanges
    * coalesce to the batch's size. Trade-off: checkpoint blocks cannot
    * be recomputed, so a lost executor fails the call. That is safe to
    * retry: the write commits at job end and the emptied-partition sweep
    * is crash-healed (above), so re-running the same batch converges.
    *
    * Cross-batch stable-schema CONTRACT: every read of the target pins
    * the FULL source schema (`spark.read.schema(source.schema)`) — the
    * round-15 fix for partition-type inference silently corrupting the
    * merge (dir `part=01` inferred as int 1, so the merged "01" row
    * wrote to dir `part=1` and the real dir was never overwritten). With
    * the pin, partition values are the raw dir strings cast to the
    * source type, in the same domain as the batch's. The pin
    * deliberately covers data columns too, so a batch whose data-column
    * types drift from what earlier batches wrote (target parquet holds
    * long, new source declares int) fails FAST at the parquet read
    * instead of coercing at union time. Schema evolution is a migration
    * (rewrite or re-declare), not a per-batch coercion — at 100 TB a
    * silent widening hides exactly the class of bug the partition pin
    * closed. */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      source: DataFrame,
      key: String,
      partitionCol: String,
      dataCols: Seq[String],
      audit: Option[(String, String, Column)] = None): Seq[String] = {
    // Several jobs read `source` (partition discovery, the stamp lookup,
    // the merge write): pin it so it is computed once.
    val src = source.localCheckpoint()
    try upsertPartitionedPinned(spark, targetPath, src, key, partitionCol,
      dataCols, audit)
    finally OpsUtil.ckptRdds(src).foreach(_.unpersist(blocking = false))
  }

  /** `c IN parts` with NULL as an ordinary member, never NULL itself:
    * a NULL partition value lives in its own directory
    * (`__HIVE_DEFAULT_PARTITION__`) like any other value, so SQL's
    * NULL-never-matches `IN` would drop its rows from the slice. */
  private def isInParts(c: Column, parts: Seq[String]): Column = {
    val values = parts.filter(_ != null)
    when(c.isNull, lit(values.size < parts.size))
      .otherwise(if (values.isEmpty) lit(false) else c.isin(values: _*))
  }

  private def upsertPartitionedPinned(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      source: DataFrame,
      key: String,
      partitionCol: String,
      dataCols: Seq[String],
      audit: Option[(String, String, Column)]): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // The partition value as its directory records it: a string, with
    // an empty string stored as NULL (both land in the default dir).
    val partVal = nullif(col(partitionCol).cast("string"), lit(""))
    val parts0 = source.select(partVal).distinct().collect()
      .map(_.getString(0)).toSeq
    if (parts0.isEmpty) return Seq.empty
    val p = new org.apache.hadoop.fs.Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target =
      if (fs.exists(p)) spark.read.schema(source.schema).parquet(targetPath)
      else spark.createDataFrame(java.util.List.of[Row](), source.schema)
    val keys = broadcast(source.select(col(key).as("__k")))

    // Batch-sized, so collected: a broadcast passes through the driver
    // anyway, and a missing target then plans no lookup job at all.
    val lookup = target
      .select(Seq(col(key).as("__k"), partVal.as("__part")) ++
        audit.map(a => col(a._1).as("__ins")): _*)
      .join(keys, Seq("__k"), "left_semi")
    val found = lookup.collect().toSeq
    val movedParts = found.map(_.getString(1)).distinct.filterNot(parts0.contains)
    val parts = parts0 ++ movedParts
    val targetOnly = target.filter(isInParts(partVal, parts))
      .join(keys, col(key) === col("__k"), "left_anti")
      .select(dataCols.map(col) ++
        audit.toSeq.flatMap(a => Seq(col(a._1), col(a._2))): _*)
    val batchRows = audit match {
      case None => source.select(dataCols.map(col): _*)
      case Some((ins, upd, now)) =>
        // One stamp per key: the copy inside parts0 first, then the
        // highest partition value.
        val stamps = found.groupBy(_.get(0)).values
          .map(_.maxBy(r => (parts0.contains(r.getString(1)), Option(r.getString(1)))))
        val stamp = spark.createDataFrame(stamps.toSeq.asJava, lookup.schema)
        val matched = col("__k").isNotNull
        source.join(broadcast(stamp), col(key) === col("__k"), "left_outer")
          .select(dataCols.map(col) ++ Seq(
            when(matched, col("__ins")).otherwise(now).as(ins),
            when(matched, now).as(upd)): _*)
    }
    // Only a moved-from partition can end up with zero output rows (every
    // batch partition receives its own batch rows), so only moved-key
    // runs record the partitions written, observed during the write pass
    // itself (a struct, because collect_set skips NULLs).
    val written = Observation()
    val merged0 = targetOnly.union(batchRows)
    val merged =
      if (movedParts.isEmpty) merged0
      else merged0.observe(written, collect_set(struct(partVal)).as("parts"))
    // Partition-aligned write: without this every shuffle task holds rows
    // of every output partition, so a P-partition write emits up to
    // tasks×P files (measured 3200 for a 100-month target at 32 tasks —
    // the file-count explosion IS the slow path, locally and at scale).
    // Width = the number of rewritten partitions: each partition dir
    // still lands in exactly one task (one file per dir), and a 2-day
    // batch pays 2 write tasks, not the session's 200-way reduce width
    // (which left 195 of 200 write tasks empty on a daily batch). Dynamic
    // overwrite is a per-write option, so the caller's session conf is
    // never touched (concurrent streaming batches share that session).
    merged.repartition(parts.size, col(partitionCol))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(targetPath)
    if (movedParts.nonEmpty) {
      val writtenParts = written.get("parts")
        .asInstanceOf[scala.collection.Seq[Row]]
        .map(_.getString(0)).toSet
      for (part <- movedParts if !writtenParts.contains(part))
        fs.delete(new org.apache.hadoop.fs.Path(p,
          ExternalCatalogUtils.getPartitionPathString(partitionCol, part)), true)
    }
    parts.sortBy(Option(_))
  }

  /** Snapshot swap: write the new snapshot to a temp path, then promote
    * it. A path being read cannot be overwritten in place (SURVEY.md §2.6
    * M1). The live copy is never deleted before its replacement is in
    * place: dst is first renamed aside to a backup, the new snapshot is
    * renamed in, and only then is the backup removed — a crash at any
    * point leaves at least one complete copy recoverable on disk. */
  def writeSnapshot(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(hadoopConf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__tmp__")
    val bak = new org.apache.hadoop.fs.Path(path + ".__bak__")
    val dst = new org.apache.hadoop.fs.Path(path)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadBackup = fs.exists(dst) && fs.rename(dst, bak)
    if (!fs.rename(tmp, dst)) {
      if (hadBackup) fs.rename(bak, dst) // restore the prior snapshot
      throw new java.io.IOException(s"snapshot promote failed for $path")
    }
    if (hadBackup) fs.delete(bak, true)
  }

  /** Change-data feed between two snapshots of the same schema: one row
    * per key whose state changed, classified `insert` (key only in
    * `newDf`), `delete` (key only in `oldDf`), or `update` (present in
    * both with any non-key column differing under null-safe equality).
    * Unchanged keys are dropped — the feed is the MERGE a downstream
    * consumer would need to apply to catch up, which makes this the
    * inverse of [[upsert]]: `upsert(old, snapshotDiff-rows…)` rebuilds
    * `new` (deletes excepted). Emitted values are the new-side row
    * (old-side for deletes).
    *
    * Scale shape: ONE key-keyed full-outer join — shuffle on the key
    * like [[upsert]], never a broadcast; the non-key comparison
    * is a codegen'd per-row conjunction, no second pass. For
    * date-partitioned snapshots, pre-filter both sides to the changed
    * window and the join only shuffles that window (the
    * [[upsertPartitioned]] discipline). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(oldDf.columns.toSeq == newDf.columns.toSeq,
      s"schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val dataCols = oldDf.columns.filterNot(keys.contains).toSeq
    def tag(df: DataFrame, p: String): DataFrame =
      dataCols.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"__${p}_$c"))
        .withColumn(s"__${p}_present", lit(true))
    val joined = tag(oldDf, "o").join(tag(newDf, "n"), keys, "full_outer")
    val changed =
      if (dataCols.isEmpty) lit(false)
      else dataCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
        .reduce(_ || _)
    val ctype = when(col("__o_present").isNull, "insert")
      .when(col("__n_present").isNull, "delete")
      .when(changed, "update")
    joined
      .withColumn("change_type", ctype)
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++
        // presence-gated, not coalesce: an update whose NEW value is
        // genuinely NULL must emit that NULL, not the old value
        dataCols.map(c => when(col("__n_present").isNotNull, col(s"__n_$c"))
          .otherwise(col(s"__o_$c")).as(c)) :+
        col("change_type"): _*)
  }
}
