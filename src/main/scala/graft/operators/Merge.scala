package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * Scale posture (SURVEY.md §4.3): the join shuffles both sides on the key;
  * when the source batch is small (the reference's daily window) AQE turns
  * the *outer* side lookup into a broadcast where legal. For a partitioned
  * target, callers should pre-filter `target` to the partitions present in
  * `source` and rewrite only those (partition-scoped snapshot swap) so a
  * daily batch never rewrites the full 100 TB table.
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
    // No join-strategy hint: AQE broadcast-converts the (deduped, daily-
    // batch) source side when it is small — measured strictly faster than
    // pinning SHUFFLE_HASH, which disables that conversion and pays a
    // wide-row hash build per partition.
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
    * table: only the partitions PRESENT IN THE SOURCE batch are read,
    * merged, and rewritten — the other 99.9% of a 100 TB target is never
    * touched (the full-snapshot [[writeSnapshot]] form rewrites
    * everything, fine for small tables, absurd for a daily batch into
    * years of history).
    *
    * Mechanics: the source's distinct partition values are collected
    * (bounded by the batch's day count — driver-safe), the matching
    * target partitions are read via pushed-down partition pruning, the
    * standard [[upsert]] runs on that slice, and dynamic partition
    * overwrite replaces exactly the written partitions. Returns the
    * partition values merged, as strings; a NULL partition value (the
    * `__HIVE_DEFAULT_PARTITION__` dir) is merged like any other and
    * returned as null, sorted first.
    *
    * Every job is sized to the batch, not to the session's shuffle
    * width. The source is pinned with an eager `localCheckpoint()`, not
    * `persist()`: Spark keeps a cached plan's final shuffle at
    * `spark.sql.shuffle.partitions` (AQE may not change a cached plan's
    * output partitioning), so a persisted 1k-row batch came back as 200
    * mostly-empty partitions and partition discovery, the probe and the
    * merge join each paid 200 tasks. The checkpoint runs as an ordinary
    * AQE query whose exchanges coalesce to the batch's size. Trade-off:
    * checkpoint blocks cannot be recomputed, so a lost executor fails
    * the call. That is safe to retry: the dynamic-overwrite write
    * commits at job end and the emptied-partition sweep is crash-healed
    * (below), so re-running the same batch converges.
    *
    * Moved keys: a matched key whose `partitionCol` value CHANGED in
    * this batch (the reference's business-date correction) has its live
    * row in a partition the source does not mention; a slice-only merge
    * would insert a duplicate and strand the stale row. The probe finds
    * those rows without a full-table merge: batch keys unmatched in the
    * slice are semi-joined against a (`key`, `partitionCol`)-pruned scan
    * of the UNTOUCHED partitions — two thin columns with the partition
    * filter pushed down, a tiny fraction of target bytes at 100 TB — and
    * any hit partitions join the rewrite set. A partition emptied by its
    * only row moving away is deleted explicitly (dynamic overwrite
    * never clears a partition it writes no rows to). The probe always
    * runs; its job is skipped only when the target holds no partition
    * outside the batch's.
    *
    * Cross-batch stable-schema CONTRACT: every read of the target pins
    * the FULL source schema (`spark.read.schema(source.schema)`) — the
    * round-15 fix for partition-type inference silently corrupting the
    * merge (dir `part=01` inferred as int 1). The pin deliberately
    * covers data columns too, so a batch whose data-column types drift
    * from what earlier batches wrote (target parquet holds long, new
    * source declares int) fails FAST at the parquet read instead of
    * coercing at union time as the old inferred read did. Schema
    * evolution is a migration (rewrite or re-declare), not a per-batch
    * coercion — at 100 TB a silent widening hides exactly the class of
    * bug the partition pin closed. */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      source: DataFrame,
      key: String,
      partitionCol: String,
      dataCols: Seq[String],
      audit: Option[(String, String, Column)] = None): Seq[String] = {
    // Several jobs read `source` (partition discovery, the moved-key
    // probe, the merge write): pin it so it is computed once.
    val src = source.localCheckpoint()
    try upsertPartitionedPinned(spark, targetPath, src, key, partitionCol,
      dataCols, audit)
    finally OpsUtil.ckptRdds(src).foreach(_.unpersist(blocking = false))
  }

  /** `c IN parts` with NULL as an ordinary member, never NULL itself:
    * a NULL partition value lives in its own directory
    * (`__HIVE_DEFAULT_PARTITION__`) like any other value, so SQL's
    * NULL-never-matches `IN` would drop its rows from the slice and
    * empty a negated probe. */
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
    val exists = fs.exists(p)

    // Partitions holding a prior row of a key whose partition value moved.
    // A plain semi-join against the batch keys (round 9) — NOT an
    // anti-join against the parts0 slice: after a crash between the
    // dynamic-overwrite write and the emptied-partition sweep, the key
    // already sits in its new partition, so "source keys missing from
    // the parts0 slice" is empty and an anti-join-refined probe would
    // never find (or heal) the stale moved-from copy. Rows physically
    // outside parts0 whose key is in the batch are exactly the
    // stale-or-moving set, crashed or not.
    // Metadata fast path before the probe JOB: a moved key's stale row
    // can only live in a partition OUTSIDE the batch slice, so when the
    // driver-side directory listing (O(partitions) — the same listing
    // every read of the target performs anyway) shows NO partition
    // beyond parts0, the probe is provably empty and its join job is
    // skipped entirely. Steady state for a mature target: the daily
    // batch's days are a subset of history, untouched is large and the
    // probe runs; the fast path wins on young targets and backfills
    // whose batches span the whole table (measured 0.4 s/run at bench
    // scale). Dir names are UNESCAPED before the comparison: matching
    // raw escaped names against raw values is conservative in one
    // direction only — a batch carrying the literal value "x%3Ay"
    // would string-match the ESCAPED dir of value "x:y" and wrongly
    // prove the probe empty (round-14 review); unescaping makes both
    // sides the logical partition value, closing that collision.
    // Round-15 ADVICE hardening: every read of the target pins the
    // partition column to the SOURCE's type via an explicit schema —
    // partition TYPE INFERENCE would otherwise normalize dir names on
    // read-back (dir part=01 inferred as int 1 casts to "1"), which (a)
    // let a dir string-match a parts0 value while the probe's
    // cast-based filter placed its rows OUTSIDE parts0 (wrongly
    // skipping the probe), and (b) corrupted the merge itself: ANSI
    // CASE WHEN coercion of a string batch value against an
    // int-inferred target column routes through LONG, so the merged
    // "01" row wrote to dir part=1 and the real part=01 dir was never
    // overwritten (silent data loss — MergeSpec pins the scenario).
    // With the pinned schema, partition values are the raw dir strings
    // cast to the source type, so parts0 (source values cast to
    // string) and unescaped dir names live in the same domain and the
    // raw-string fast-path compare below is exact.
    def targetRead = spark.read.schema(source.schema).parquet(targetPath)
    val untouchedOnDisk: Seq[String] =
      if (!exists) Seq.empty
      else {
        val prefix = s"$partitionCol="
        val parts0Set = parts0.toSet
        fs.listStatus(p).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
          .map(_.getPath.getName.stripPrefix(prefix))
          .map(d => if (d == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else ExternalCatalogUtils.unescapePathName(d))
          .filterNot(parts0Set)
      }
    val movedParts: Seq[String] =
      if (untouchedOnDisk.isEmpty) Seq.empty
      else {
        targetRead
          .filter(!isInParts(partVal, parts0))
          .select(col(key), partVal.as("__part"))
          // NO forced broadcast: on an insert-heavy day the batch key
          // column is the whole batch; let AQE pick (it still
          // broadcasts when the batch is genuinely small — the
          // steady-state daily-window case)
          .join(source.select(col(key)).distinct(), Seq(key), "left_semi")
          .select(col("__part")).distinct()
          .collect().map(_.getString(0)).toSeq
      }
    val parts = (parts0 ++ movedParts).distinct

    val targetSlice0 =
      if (exists)
        targetRead
          .filter(isInParts(partVal, parts))
          .select(source.columns.map(col): _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], source.schema)
    // Crash-heal dedup, paid only on moved-key runs: a crash in the
    // write→sweep window leaves a key in BOTH its new partition and the
    // stale moved-from one; the full-outer merge would fan such a key
    // out to two identical output rows. Keep one target row per key,
    // preferring the copy inside parts0 (the already-merged one, which
    // carries the correct audit stamps), tie-broken deterministically.
    val targetSlice =
      if (movedParts.isEmpty) targetSlice0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(when(isInParts(partVal, parts0), 0).otherwise(1).asc,
            partVal.desc)
        targetSlice0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    // First load (no target on disk): the full-outer MERGE against an
    // empty slice degenerates to "every source row is an insert", so
    // skip the join — and the key exchange + sort of the whole batch it
    // plans — and stamp the audit columns directly. Column-for-column
    // identical to upsert(emptySlice, source, …): data values from the
    // source, insertedCol = now, updatedCol = NULL of the declared type
    // (the empty slice contributes nothing to either branch of upsert's
    // per-column WHENs). Measured (Prof q129_stages, round 19): the
    // first merge run is the bench's single largest component; at scale
    // this is every bootstrap/backfill-into-empty load skipping a full
    // shuffle of the batch.
    val merged0 =
      if (!exists) {
        val auditCols = audit.toSeq.flatMap { case (ins, upd, now) =>
          Seq(now.as(ins),
            lit(null).cast(source.schema(upd).dataType).as(upd))
        }
        source.select(dataCols.map(col) ++ auditCols: _*)
      } else upsert(targetSlice, source, key, dataCols, audit)
    // Only a moved-from partition can end up with zero output rows (every
    // source partition receives at least its own batch rows), so only
    // moved-key runs record the partitions written, observed during the
    // write pass itself (a struct, because collect_set skips NULLs).
    val written = org.apache.spark.sql.Observation()
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
        .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
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
    * like any MERGE, AQE broadcasts a small side; the non-key comparison
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
