package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance

class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("zorderWrite: every clustered dim gets a tight per-file envelope; plain sort does not") {
    import spark.implicits._
    // two independent uniform dims 0..99 — a single-dim sort leaves the
    // other dim's per-file span at ~the full range
    val df = (0 until 10000).map(i => (i.toLong, (i % 100).toLong,
      ((i * 37) % 100).toLong)).toDF("id", "a", "b")
    def avgSpan(path: String, c: String): Double = {
      val rows = Maintenance.skippingStats(spark, path, Seq("a", "b")).collect()
      rows.map(r => r.getAs[Double](s"${c}_max") - r.getAs[Double](s"${c}_min"))
        .sum / rows.length / 99.0
    }
    val zDir = java.nio.file.Files.createTempDirectory("zord").toString + "/t"
    Maintenance.zorderWrite(spark, df, Seq("a", "b"), zDir, numFiles = 16)
    val sDir = java.nio.file.Files.createTempDirectory("sort").toString + "/t"
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a").write.parquet(sDir)
    // z-order: BOTH dims tight (~sqrt(16)=4 cells/dim => ~25% span)
    assert(avgSpan(zDir, "a") < 0.45, s"zorder a span ${avgSpan(zDir, "a")}")
    assert(avgSpan(zDir, "b") < 0.45, s"zorder b span ${avgSpan(zDir, "b")}")
    // single-dim sort: a tight, b near-full span in every file
    assert(avgSpan(sDir, "a") < 0.2)
    assert(avgSpan(sDir, "b") > 0.8)
    // rewrite is lossless
    assert(spark.read.parquet(zDir).select("id").as[Long].collect().sorted.toSeq
      == (0L until 10000L))
  }

  test("compactIvfIndex: cell-partitioned layout, pruned cell reads, identical search answers") {
    import spark.implicits._
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/t"
    def vec(seed: Int): Seq[Double] =
      (0 until 6).map(j => math.sin(seed * 7 + j * 3 + 1) * (1 + j % 2))
    val corpus = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "emb")
    val queries = corpus.filter(col("id") < 3)
    val idx = Similarity.buildIvfIndex(corpus, "emb", "id", nlist = 4)
    Maintenance.compactIvfIndex(idx.entries, dir)
    // one directory per non-empty cell, exactly one data file per cell
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 4)
    cellDirs.foreach { cd =>
      assert(cd.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${cd.getName}: repartition(cell) must yield one file per cell")
    }
    val disk = spark.read.parquet(dir)
    // a cell-restricted read prunes at the PARTITION level (the scan's
    // file index filters directories, no data files of other cells open)
    val oneCell = disk.filter(col("cell") === cellDirs.head.getName.stripPrefix("cell=").toInt)
    val scanStr = oneCell.queryExecution.executedPlan.toString
    assert(scanStr.contains("PartitionFilters: [isnotnull(cell"),
      s"expected a partition filter on cell, got:\n$scanStr")
    // and the search answers are byte-identical to the in-memory index
    val mem = Similarity.ivfSearch(idx, queries, "emb", "id", k = 5, nProbe = 2)
      .collect().map(_.toString).sorted
    val viaDisk = Similarity.ivfSearch(Similarity.IvfIndex(idx.centroids, disk),
        queries, "emb", "id", k = 5, nProbe = 2)
      .collect().map(_.toString).sorted
    assert(mem.sameElements(viaDisk))
  }

  test("corpusManifest: order-independent, content-sensitive, counts exact") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"document body $i")).toDF("doc_id", "text")
    val base = Maintenance.corpusManifest(docs, "doc_id", "text", numShards = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(base.values.map(_._1).sum == 50)
    assert(base.values.map(_._2).sum ==
      (1L to 50L).map(i => s"document body $i".length.toLong).sum)
    // order-independence: reversed input produces the identical manifest
    val reversed = Maintenance.corpusManifest(
        (1L to 50L).reverse.map(i => (i, s"document body $i")).toDF("doc_id", "text"),
        "doc_id", "text", numShards = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(reversed == base)
    // content sensitivity: editing ONE doc flips exactly its shard's hash
    val edited = Maintenance.corpusManifest(
        (1L to 50L).map(i => (i, if (i == 17L) "EDITED" else s"document body $i"))
          .toDF("doc_id", "text"),
        "doc_id", "text", numShards = 4)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    val changed = base.keys.filter(s => edited(s) != base(s)._3)
    assert(changed.size == 1, s"expected exactly one shard to change: $changed")
  }

  test("manifestDiff: added/removed/changed/unchanged statuses and deltas") {
    import spark.implicits._
    // cur drops every doc of one shard (removed) and edits one doc of
    // another (changed); 'added' is exercised by the reverse diff.
    val ref = (1L to 40L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val refM = Maintenance.corpusManifest(ref, "doc_id", "text", numShards = 4)
    val shardOf = refM.select("shard").collect().map(_.getLong(0)).toSet
    assert(shardOf == Set(0L, 1L, 2L, 3L))
    // drop an entire shard's docs + edit one remaining doc
    val dropShard = 2L
    val shardExpr = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(col("doc_id").cast("string")),
          1, 4), 16, 10).cast("long"), lit(4L))
    // edit a doc that SURVIVES the drop, so exactly one shard reads
    // 'changed' independent of where doc ids happen to hash
    val byShard = ref.withColumn("__sh", shardExpr).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val editId = byShard.collectFirst {
      case (id, sh) if sh != dropShard => id }.get
    val cur = ref.withColumn("__sh", shardExpr)
      .filter(col("__sh") =!= dropShard).drop("__sh")
      .withColumn("text",
        when(col("doc_id") === editId, lit("EDITED")).otherwise(col("text")))
    val curM = Maintenance.corpusManifest(cur, "doc_id", "text", numShards = 4)
    val statuses = Maintenance.manifestDiff(refM, curM).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(statuses(dropShard)._1 == "removed")
    assert(statuses(dropShard)._2 < 0) // docs went away
    assert(statuses(byShard(editId))._1 == "changed")
    assert(statuses.values.count(_._1 == "unchanged") == 2)
    // reverse direction: the dropped shard reads as 'added'
    val rev = Maintenance.manifestDiff(curM, refM).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rev(dropShard) == "added")
  }
}
