package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge

/** MERGE-upsert semantics (SURVEY.md §2.6 M1, §4.2): insert/update/keep
  * split, NULL keys never match, idempotence under a fixed clock.
  */
class MergeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val cols = Seq("k", "v")

  test("insert/update/keep split") {
    val target = Seq((1, "t1"), (2, "t2")).toDF("k", "v")
    val source = Seq((2, "s2"), (3, "s3")).toDF("k", "v")
    val got = Merge.upsert(target, source, "k", cols, actionCol = Some("action"))
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "t1", "keep"), (2, "s2", "update"), (3, "s3", "insert")))
  }

  test("NULL keys never match (SQL MERGE null semantics)") {
    val target = Seq((Some(1), "t1"), (None, "tn")).toDF("k", "v")
    val source = Seq((Option.empty[Int], "sn")).toDF("k", "v")
    val got = Merge.upsert(target, source, "k", cols, actionCol = Some("action"))
      .as[(Option[Int], String, String)].collect().toSet
    // The null-key source row inserts; the null-key target row keeps.
    assert(got == Set((Some(1), "t1", "keep"), (None, "tn", "keep"), (None, "sn", "insert")))
  }

  test("audit stamps: insert stamps inserted, update stamps updated") {
    val now = lit("2024-06-02 00:00:00").cast("timestamp")
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    val target = Seq((1, "t1"), (2, "t2")).toDF("k", "v")
      .withColumn("ins", t0).withColumn("upd", lit(null).cast("timestamp"))
    val source = Seq((2, "s2"), (3, "s3")).toDF("k", "v")
    val got = Merge.upsert(target, source, "k", cols, audit = Some(("ins", "upd", now)))
      .select(col("k"), date_format(col("ins"), "dd").as("ins"),
        date_format(col("upd"), "dd").as("upd"))
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "01", null), (2, "01", "02"), (3, "02", null)))
  }

  test("re-merging the same source is idempotent on data; audit re-stamps") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 4) {
      def rows() = List.fill(rnd.nextInt(30))((rnd.nextInt(20), rnd.nextInt(99)))
      val now = lit("2024-06-01 00:00:00").cast("timestamp")
      // Unique keys per side (MERGE requires a deduped source).
      val target = rows().distinctBy(_._1).toDF("k", "v")
        .withColumn("i", lit("2024-05-01 00:00:00").cast("timestamp"))
        .withColumn("u", lit(null).cast("timestamp"))
      val source = rows().distinctBy(_._1).toDF("k", "v")
      val once = Merge.upsert(target, source, "k", cols, audit = Some(("i", "u", now)))
      val twice = Merge.upsert(once, source, "k", cols, audit = Some(("i", "u", now)))
      // Data columns are stable; the audit behavior is the reference's:
      // every re-match re-stamps updated (SURVEY.md §2.10(g)), so rows
      // inserted by the first pass gain u = now on the second.
      assert(once.select("k", "v").collect().toSet ==
        twice.select("k", "v").collect().toSet)
      val sourceKeys = source.select("k").as[Int].collect().toSet
      val reStamped = twice.filter(col("u").isNotNull).select("k").as[Int].collect().toSet
      assert(reStamped == sourceKeys)
    }
  }

  test("writeSnapshot: promote replaces content and leaves no temp/backup") {
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val path = s"$dir/t"
    Merge.writeSnapshot(Seq((1, "a")).toDF("k", "v"), path)
    Merge.writeSnapshot(Seq((2, "b"), (3, "c")).toDF("k", "v"), path)
    val got = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(got == Set((2, "b"), (3, "c")))
    assert(!new java.io.File(path + ".__tmp__").exists())
    assert(!new java.io.File(path + ".__bak__").exists())
  }

  test("upsertPartitioned rewrites only the partitions present in the source") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmerge").toString + "/t"
    Seq(
      ("2024-01-01", 1, "a0"), ("2024-01-01", 2, "b0"),
      ("2024-01-02", 3, "c0"),
      ("2024-01-03", 4, "d0"))
      .toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    val untouched = new java.io.File(s"$dir/day=2024-01-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    // batch touches day 1 (update k=2, insert k=9) and day 2 (insert k=5)
    val batch = Seq(
      ("2024-01-01", 2, "b1"), ("2024-01-01", 9, "i1"),
      ("2024-01-02", 5, "e1"))
      .toDF("day", "k", "v")
    val merged = graft.operators.Merge.upsertPartitioned(
      spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    assert(merged == Seq("2024-01-01", "2024-01-02"))

    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet
    assert(now == Set(
      ("2024-01-01", 1, "a0"), ("2024-01-01", 2, "b1"), ("2024-01-01", 9, "i1"),
      ("2024-01-02", 3, "c0"), ("2024-01-02", 5, "e1"),
      ("2024-01-03", 4, "d0")))
    // the untouched partition's files were not rewritten
    val after = new java.io.File(s"$dir/day=2024-01-03")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == untouched)
  }

  test("upsertPartitioned moved-key probe: changed partition value updates in place") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmove").toString + "/t"
    Seq(
      ("2024-01-01", 1, "a0"), ("2024-01-01", 2, "b0"),
      ("2024-01-02", 3, "c0"))
      .toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    // k=1 moved 01-01 → 01-03; the batch never mentions 01-01, so only
    // the probe can find (and retire) the stale row.
    val batch = Seq(("2024-01-03", 1, "a1")).toDF("day", "k", "v")
    val merged = Merge.upsertPartitioned(
      spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    assert(merged == Seq("2024-01-01", "2024-01-03"))
    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet
    assert(now == Set(
      ("2024-01-03", 1, "a1"), // exactly one row for k=1, in its new partition
      ("2024-01-01", 2, "b0"), // old partition keeps its other rows
      ("2024-01-02", 3, "c0")))
    // the partition the batch and probe never touched was not rewritten
    assert(new java.io.File(s"$dir/day=2024-01-02").exists())
  }

  test("upsertPartitioned moved-key probe: escaped partition dir names " +
    "cannot fool the listing fast path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pesc").toString + "/t"
    // partition value "x:y" is stored as the ESCAPED dir "part=x%3Ay";
    // the batch carries the LITERAL string value "x%3Ay" as its own
    // partition — a raw string compare of dir names vs batch values
    // would equate the two, prove the probe empty, and skip healing
    // the k=1 row moving out of "x:y" (round-14 review finding)
    Seq(("x:y", 1, "a0"), ("x:y", 2, "b0"))
      .toDF("part", "k", "v")
      .write.partitionBy("part").parquet(dir)
    val batch = Seq(("x%3Ay", 1, "a1")).toDF("part", "k", "v")
    Merge.upsertPartitioned(spark, dir, batch, "k", "part",
      Seq("part", "k", "v"))
    val now = spark.read.parquet(dir)
      .select(col("part").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet
    assert(now == Set(
      ("x%3Ay", 1, "a1"), // k=1 lives only in its new (literal) partition
      ("x:y", 2, "b0")))  // the stale "x:y" copy of k=1 was retired
  }

  test("upsertPartitioned: partition type inference cannot corrupt the " +
    "merge (day=01 target, string batch)") {
    // Without the pinned-schema target read, inference turns day=01
    // into int 1: the slice filter excludes the dir's rows from the
    // merge, ANSI CASE WHEN coercion routes the string batch value
    // through LONG so the merged "01" row writes to day=1, the real
    // day=01 dir is never overwritten (stale k=1 copy survives), and
    // the innocent k=9 row is dropped from the logical table. The
    // explicit source-typed schema keeps every partition value in the
    // raw-string domain end to end.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pinfer").toString + "/t"
    Seq(("01", 1, "a0"), ("01", 9, "z0")).toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    val batch = Seq(("01", 1, "a1")).toDF("day", "k", "v")
    Merge.upsertPartitioned(spark, dir, batch, "k", "day",
      Seq("day", "k", "v"))
    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet
    assert(now.exists(r => r._2 == 9 && r._3 == "z0"),
      s"innocent k=9 row lost through the skipped probe: $now")
    assert(now.count(_._2 == 1) == 1 &&
      now.exists(r => r._2 == 1 && r._3 == "a1"),
      s"k=1 not upserted exactly once: $now")
  }

  test("upsertPartitioned: a partition emptied by its only key moving is deleted") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmove2").toString + "/t"
    Seq(("2024-01-01", 1, "a0"), ("2024-01-02", 2, "b0"))
      .toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    val batch = Seq(("2024-01-05", 1, "a1")).toDF("day", "k", "v")
    Merge.upsertPartitioned(spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet
    assert(now == Set(("2024-01-05", 1, "a1"), ("2024-01-02", 2, "b0")))
    // dynamic overwrite writes no rows to 01-01; the sweep must delete it
    assert(!new java.io.File(s"$dir/day=2024-01-01").exists())
  }

  test("upsertPartitioned crash heal: stale moved-from copy is retired on re-run") {
    // The write→sweep window is two non-atomic steps; a crash between
    // them leaves key k=1 in BOTH its new partition (already merged,
    // correct values) and the stale moved-from one. A re-run of the same
    // batch must converge: one row per key, stale copy gone, no
    // duplicate fan-out through the full-outer merge.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pcrash").toString + "/t"
    Seq(("2024-01-01", 1, "a0"), ("2024-01-02", 2, "b0"))
      .toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    val batch = Seq(("2024-01-05", 1, "a1")).toDF("day", "k", "v")
    Merge.upsertPartitioned(spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    assert(!new java.io.File(s"$dir/day=2024-01-01").exists())
    // reconstruct the crashed layout: the dynamic overwrite completed
    // (k=1 lives in day=2024-01-05) but the sweep never ran — put the
    // stale pre-move row back into its old partition directory
    Seq((1, "a0")).toDF("k", "v")
      .write.parquet(s"$dir/day=2024-01-01")
    assert(spark.read.parquet(dir).filter(col("k") === 1).count() == 2)
    // re-run the same batch (the operational heal: retry the failed job)
    val merged = Merge.upsertPartitioned(
      spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    assert(merged.contains("2024-01-01"), s"probe missed the stale partition: $merged")
    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSeq.sorted
    assert(now == Seq(("2024-01-02", 2, "b0"), ("2024-01-05", 1, "a1")),
      s"target did not converge: $now")
    assert(!new java.io.File(s"$dir/day=2024-01-01").exists(),
      "stale moved-from partition not swept on the healing re-run")
  }

  test("upsertPartitioned crash heal: stale partition with other live keys is rewritten, not deleted") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pcrash2").toString + "/t"
    Seq(("2024-01-01", 1, "a0"), ("2024-01-01", 9, "z0"))
      .toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    val batch = Seq(("2024-01-05", 1, "a1")).toDF("day", "k", "v")
    Merge.upsertPartitioned(spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    // crashed layout: k=1 landed in 01-05, but 01-01 was never rewritten
    // (crash before the overwrite completed the old partition) — it
    // still holds the stale k=1 AND the innocent k=9
    Seq((1, "a0")).toDF("k", "v").write.mode("append")
      .parquet(s"$dir/day=2024-01-01")
    val merged = Merge.upsertPartitioned(
      spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    val now = spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSeq.sorted
    assert(now == Seq(("2024-01-01", 9, "z0"), ("2024-01-05", 1, "a1")),
      s"heal lost a live key or kept the stale copy: $now")
  }

  /** (day, k, v) rows of a partitioned target, NULL days included. */
  private def readDays(dir: String): Set[(String, Int, String)] =
    spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"))
      .as[(String, Int, String)].collect().toSet

  private def nullDays(rows: (Option[String], Int, String)*) =
    rows.toDF("day", "k", "v")

  private val nullDir = "day=__HIVE_DEFAULT_PARTITION__"

  test("upsertPartitioned: NULL-day target rows outside the batch survive") {
    val dir = java.nio.file.Files.createTempDirectory("pnull").toString + "/t"
    nullDays((None, 1, "n1"), (None, 2, "n2"), (Some("2024-01-01"), 3, "c0"))
      .write.partitionBy("day").parquet(dir)
    // the batch updates k=1 inside the NULL partition, inserts k=5 with
    // an empty day (stored in the same default dir) and inserts k=4;
    // k=2 shares the rewritten NULL partition but is not in the batch
    val batch = nullDays((None, 1, "n1b"), (Some(""), 5, "e1"),
      (Some("2024-01-02"), 4, "d1"))
    val merged = Merge.upsertPartitioned(spark, dir, batch, "k", "day",
      Seq("day", "k", "v"))
    assert(merged == Seq(null, "2024-01-02"))
    assert(readDays(dir) == Set((null, 1, "n1b"), (null, 2, "n2"),
      (null, 5, "e1"), ("2024-01-01", 3, "c0"), ("2024-01-02", 4, "d1")))
  }

  test("upsertPartitioned: a key moves from the NULL day to a day and back") {
    val dir = java.nio.file.Files.createTempDirectory("pnull2").toString + "/t"
    nullDays((None, 1, "a0"), (None, 2, "b0"), (Some("2024-01-01"), 3, "c0"))
      .write.partitionBy("day").parquet(dir)
    val there = Merge.upsertPartitioned(spark, dir,
      nullDays((Some("2024-01-05"), 1, "a1")), "k", "day", Seq("day", "k", "v"))
    assert(there == Seq(null, "2024-01-05"))
    assert(readDays(dir) == Set(("2024-01-05", 1, "a1"), (null, 2, "b0"),
      ("2024-01-01", 3, "c0")))
    val back = Merge.upsertPartitioned(spark, dir,
      nullDays((None, 1, "a2")), "k", "day", Seq("day", "k", "v"))
    assert(back == Seq(null, "2024-01-05"))
    assert(readDays(dir) == Set((null, 1, "a2"), (null, 2, "b0"),
      ("2024-01-01", 3, "c0")))
    assert(!new java.io.File(s"$dir/day=2024-01-05").exists(),
      "the day emptied by the move back was not swept")
  }

  test("upsertPartitioned: a NULL partition emptied by a move is swept") {
    val dir = java.nio.file.Files.createTempDirectory("pnull3").toString + "/t"
    nullDays((None, 1, "a0"), (Some("2024-01-02"), 2, "b0"))
      .write.partitionBy("day").parquet(dir)
    Merge.upsertPartitioned(spark, dir,
      nullDays((Some("2024-01-05"), 1, "a1")), "k", "day", Seq("day", "k", "v"))
    assert(readDays(dir) == Set(("2024-01-05", 1, "a1"), ("2024-01-02", 2, "b0")))
    assert(!new java.io.File(s"$dir/$nullDir").exists())
  }

  test("upsertPartitioned: the sweep finds an escaped partition dir") {
    val dir = java.nio.file.Files.createTempDirectory("pesc2").toString + "/t"
    // value "x:y" is stored as the escaped dir "part=x%3Ay"
    Seq(("x:y", 1, "a0"), ("b", 2, "b0")).toDF("part", "k", "v")
      .write.partitionBy("part").parquet(dir)
    Merge.upsertPartitioned(spark, dir, Seq(("c", 1, "a1")).toDF("part", "k", "v"),
      "k", "part", Seq("part", "k", "v"))
    val now = spark.read.parquet(dir).select("part", "k", "v")
      .as[(String, Int, String)].collect().toSet
    assert(now == Set(("c", 1, "a1"), ("b", 2, "b0")))
    assert(!new java.io.File(s"$dir/part=x%3Ay").exists())
  }

  /** Runs `body` with session confs set, restoring each afterwards. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("upsertPartitioned leaves the session's partitionOverwriteMode alone") {
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val dir = java.nio.file.Files.createTempDirectory("pconf").toString + "/t"
    Seq(("2024-01-01", 1, "a0"), ("2024-01-02", 2, "b0")).toDF("day", "k", "v")
      .write.partitionBy("day").parquet(dir)
    withConf(conf -> "STATIC") {
      Merge.upsertPartitioned(spark, dir,
        Seq(("2024-01-03", 1, "a1")).toDF("day", "k", "v"), "k", "day",
        Seq("day", "k", "v"))
      assert(spark.conf.get(conf) == "STATIC")
    }
    // dynamic overwrite still applied to the write itself: the partition
    // the batch never touched survived a STATIC session
    assert(readDays(dir) == Set(("2024-01-03", 1, "a1"), ("2024-01-02", 2, "b0")))
  }

  /** Tasks run by the jobs `body` starts, read from the status tracker.
    * The tracker is fed asynchronously, in event order: a marker job run
    * afterwards has ended there only once every earlier event has. */
  private def tasksRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    def inGroup(group: String)(f: => Unit): Seq[Int] = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      tracker.getJobIdsForGroup(group).toSeq
    }
    val id = java.util.UUID.randomUUID().toString
    inGroup(s"body-$id")(body)
    inGroup(s"marker-$id")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    def markerDone = tracker.getJobIdsForGroup(s"marker-$id").exists(j =>
      tracker.getJobInfo(j).exists(
        _.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(20)
    assert(markerDone, "status tracker never caught up")
    tracker.getJobIdsForGroup(s"body-$id").toSeq
      .flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
      .distinct.flatMap(tracker.getStageInfo(_)).map(_.numCompletedTasks).sum
  }

  test("upsertPartitioned sizes its jobs to the batch, not to the shuffle width") {
    // a moved-key run exercises every job: discovery, probe, merge, write
    def movedKeyRun(partitions: Int): Int = {
      val dir = java.nio.file.Files.createTempDirectory("pwidth").toString + "/t"
      Seq(("2024-01-01", 1, "a0"), ("2024-01-01", 2, "b0"), ("2024-01-02", 3, "c0"))
        .toDF("day", "k", "v").write.partitionBy("day").parquet(dir)
      // deduped like the pipeline's source, so its plan ends in a shuffle
      val batch = Seq(("2024-01-03", 1, "a1"), ("2024-01-02", 4, "d1"))
        .toDF("day", "k", "v").dropDuplicates("k")
      withConf("spark.sql.adaptive.enabled" -> "true",
          "spark.sql.shuffle.partitions" -> partitions.toString) {
        tasksRun(Merge.upsertPartitioned(spark, dir, batch, "k", "day",
          Seq("day", "k", "v")))
      }
    }
    val narrow = movedKeyRun(4)
    val wide = movedKeyRun(200)
    assert(narrow > 0)
    assert(wide <= narrow + 8, s"tasks: $wide at 200 partitions, $narrow at 4")
  }

  /** (day, k, v) rows with an `ins` stamp at 2024-06-01 10:00 and no `upd`. */
  private def stamped(rows: (Option[String], Option[Int], String)*) =
    rows.toDF("day", "k", "v")
      .withColumn("ins", lit("2024-06-01 10:00:00").cast("timestamp"))
      .withColumn("upd", lit(null).cast("timestamp"))

  private def stampedRun(dir: String, now: String,
      batch: (Option[String], Option[Int], String)*): Seq[String] =
    Merge.upsertPartitioned(spark, dir, stamped(batch: _*), "k", "day",
      Seq("day", "k", "v"),
      audit = Some(("ins", "upd", lit(now).cast("timestamp"))))

  /** (day, k, v, ins, upd) of a stamped target, stamps as "dd HH" text. */
  private def readStamped(dir: String): Seq[(String, Option[Int], String, String, String)] =
    spark.read.parquet(dir)
      .select(col("day").cast("string"), col("k"), col("v"),
        date_format(col("ins"), "dd HH"), date_format(col("upd"), "dd HH"))
      .as[(String, Option[Int], String, String, String)].collect().toSeq
      .sortBy(r => (Option(r._1), r._2, r._3))

  test("upsertPartitioned plans one shuffle, the write's, and never joins " +
    "or windows the target slice by key") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    val dir = java.nio.file.Files.createTempDirectory("pplan").toString + "/t"
    stamped((Some("2024-01-01"), Some(1), "a0"), (Some("2024-01-01"), Some(2), "b0"),
      (Some("2024-01-02"), Some(3), "c0"))
      .write.partitionBy("day").parquet(dir)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      // the merge's overwrite; the set-up write's event may arrive late
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (nodes(qe.executedPlan).exists {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
            c.mode == org.apache.spark.sql.SaveMode.Overwrite
          case _ => false
        }) writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // k=1 moves 01-01 → 01-03 (so the moved-from partition is rewritten
      // too), k=4 inserts into 01-02
      stampedRun(dir, "2024-06-02 10:00:00",
        (Some("2024-01-03"), Some(1), "a1"), (Some("2024-01-02"), Some(4), "d1"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"${writes.size} writes captured")
    val plan = nodes(writes.peek())
    assert(plan.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM),
      s"expected only the partition-aligned repartition:\n${writes.peek()}")
    assert(!plan.exists(_.isInstanceOf[SortMergeJoinExec]), writes.peek())
    val windowsOverScans = plan.collect { case w: WindowExec => w }
      .filter(w => nodes(w).exists(_.isInstanceOf[FileSourceScanExec]))
    assert(windowsOverScans.isEmpty, writes.peek())
    assert(readStamped(dir).map(r => (r._1, r._2.get, r._3)) == Seq(
      ("2024-01-01", 2, "b0"), ("2024-01-02", 3, "c0"), ("2024-01-02", 4, "d1"),
      ("2024-01-03", 1, "a1")))
  }

  test("upsertPartitioned: NULL keys never match (SQL MERGE null semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("pnullkey").toString + "/t"
    stamped((Some("2024-01-01"), None, "tn"), (Some("2024-01-01"), Some(1), "t1"),
      (Some("2024-01-02"), Some(2), "t2"))
      .write.partitionBy("day").parquet(dir)
    // the NULL-key batch row lands in the partition holding the NULL-key
    // target row, which is rewritten
    val merged = stampedRun(dir, "2024-06-02 10:00:00",
      (Some("2024-01-01"), None, "sn"), (Some("2024-01-01"), Some(1), "s1"))
    assert(merged == Seq("2024-01-01"))
    assert(readStamped(dir) == Seq(
      ("2024-01-01", None, "sn", "02 10", null),     // inserts
      ("2024-01-01", None, "tn", "01 10", null),     // kept, not updated
      ("2024-01-01", Some(1), "s1", "01 10", "02 10"),
      ("2024-01-02", Some(2), "t2", "01 10", null)))
  }

  test("upsertPartitioned crash heal keeps the merged copy's audit stamps") {
    val dir = java.nio.file.Files.createTempDirectory("pcrash3").toString + "/t"
    stamped((Some("2024-01-09"), Some(1), "a0"), (Some("2024-01-02"), Some(2), "b0"))
      .write.partitionBy("day").parquet(dir)
    val batch = Seq((Some("2024-01-05"), Some(1), "a1"))
    stampedRun(dir, "2024-06-02 10:00:00", batch: _*)
    // crashed layout: the stale pre-move copy of k=1 is back in 01-09.
    // It carries a different insert stamp, and its day sorts after the
    // new one, so only the preference for the copy inside the batch's
    // partitions keeps the right stamp.
    Seq((Some(1), "a0")).toDF("k", "v")
      .withColumn("ins", lit("2024-06-07 10:00:00").cast("timestamp"))
      .withColumn("upd", lit(null).cast("timestamp"))
      .write.parquet(s"$dir/day=2024-01-09")
    val merged = stampedRun(dir, "2024-06-03 10:00:00", batch: _*)
    assert(merged == Seq("2024-01-05", "2024-01-09"))
    assert(readStamped(dir) == Seq(
      ("2024-01-02", Some(2), "b0", "01 10", null),
      ("2024-01-05", Some(1), "a1", "01 10", "03 10")))
    assert(!new java.io.File(s"$dir/day=2024-01-09").exists())
  }

  test("snapshotDiff classifies insert/update/delete, emits new-side NULLs, drops unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    val oldDf = Seq(
      (1, Option("a")), (2, Option("b")), (3, Option("c")), (4, Option("d")))
      .toDF("k", "v")
    val newDf = Seq(
      (1, Option("a")),          // unchanged → dropped
      (2, Option("B")),          // update
      (3, None: Option[String]), // update to NULL: must emit NULL, not "c"
      (5, Option("e")))          // insert; 4 deleted
      .toDF("k", "v")
    val got = Merge.snapshotDiff(oldDf, newDf, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2))).toSeq
    assert(got == Seq(
      (2, Some("B"), "update"),
      (3, None, "update"),
      (4, Some("d"), "delete"),
      (5, Some("e"), "insert")))
    // schema mismatch rejected up front
    intercept[IllegalArgumentException] {
      Merge.snapshotDiff(oldDf, newDf.withColumnRenamed("v", "w"), Seq("k"))
    }
  }

  test("upsertPartitioned into a missing target creates it from the batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmerge2").toString + "/t"
    val batch = Seq(("2024-01-01", 1, "a")).toDF("day", "k", "v")
    val merged = graft.operators.Merge.upsertPartitioned(
      spark, dir, batch, "k", "day", Seq("day", "k", "v"))
    assert(merged == Seq("2024-01-01"))
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("first-load insert-only fast path stamps audit like the joined merge") {
    // Round 19: a missing target takes the no-join insert path; its
    // output contract must stay column-identical to upsert(empty, src):
    // inserted = now, updated = NULL timestamp, data from the source —
    // and a SECOND merge over the created target must still see those
    // stamps (update re-stamps updated, keeps inserted).
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmerge3").toString + "/t"
    val now1 = lit("2024-06-01 10:00:00").cast("timestamp")
    val batch1 = Seq(("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"))
      .toDF("day", "k", "v")
      .withColumn("ins", lit(null).cast("timestamp"))
      .withColumn("upd", lit(null).cast("timestamp"))
    graft.operators.Merge.upsertPartitioned(
      spark, dir, batch1, "k", "day", Seq("day", "k", "v"),
      audit = Some(("ins", "upd", now1)))
    val first = spark.read.schema(batch1.schema).parquet(dir)
      .orderBy("k").collect()
    assert(first.map(_.getAs[java.sql.Timestamp]("ins")).forall(
      _ == java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
    assert(first.map(_.getAs[java.sql.Timestamp]("upd")).forall(_ == null))
    // second merge: update k=1, insert k=3
    val now2 = lit("2024-06-02 10:00:00").cast("timestamp")
    val batch2 = Seq(("2024-01-01", 1, "a2"), ("2024-01-03", 3, "c"))
      .toDF("day", "k", "v")
      .withColumn("ins", lit(null).cast("timestamp"))
      .withColumn("upd", lit(null).cast("timestamp"))
    graft.operators.Merge.upsertPartitioned(
      spark, dir, batch2, "k", "day", Seq("day", "k", "v"),
      audit = Some(("ins", "upd", now2)))
    val rows = spark.read.schema(batch1.schema).parquet(dir)
      .orderBy("k").collect()
    assert(rows.length == 3)
    val k1 = rows(0)
    assert(k1.getAs[String]("v") == "a2")
    assert(k1.getAs[java.sql.Timestamp]("ins") ==
      java.sql.Timestamp.valueOf("2024-06-01 10:00:00"), "insert stamp kept")
    assert(k1.getAs[java.sql.Timestamp]("upd") ==
      java.sql.Timestamp.valueOf("2024-06-02 10:00:00"), "update re-stamped")
  }
}