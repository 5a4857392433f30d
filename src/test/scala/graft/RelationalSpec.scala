package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Relational operator semantics: as-of and interval joins match their
  * naive forms; grouped row numbers, weighted samples and the skew and
  * shard audits are exact. */
class RelationalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("asofJoin: <= semantics, no-match nulls, deterministic tie-break") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, t("2024-01-01 10:00:00"), "e1"),  // after both quotes
      (1L, t("2024-01-01 09:00:00"), "e2"),  // same instant as quote b
      (1L, t("2024-01-01 07:00:00"), "e4"),  // before every quote of key 1
      (2L, t("2024-01-01 10:00:00"), "e3"))  // key with no quotes
      .toDF("k", "ts", "ev")
    val right = Seq(
      (1L, t("2024-01-01 08:00:00"), "qa"),
      (1L, t("2024-01-01 09:00:00"), "qb"),
      (1L, t("2024-01-01 09:00:00"), "qc"))  // tie with qb
      .toDF("k", "qts", "q")
    val got = Relational.asofJoin(left, right, "k", "ts", "qts", Seq("q"),
        tieBreak = Seq(col("q").asc))
      .select("ev", "q").as[(String, String)].collect().toMap
    // Tie at 09:00 resolved to the LAST by ascending q => "qc"; the
    // same-instant event sees it (<=); an event before every quote of
    // its key and key 2 carry null.
    assert(got == Map("e1" -> "qc", "e2" -> "qc", "e4" -> null, "e3" -> null))
  }

  test("intervalJoin matches the naive BETWEEN theta-join") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val left = Seq((1, ts(0), 100L), (1, ts(15), 101L), (1, ts(61), 102L),
        (2, ts(5), 103L), (3, ts(5), 104L))
      .toDF("k", "t", "event")
    // overlapping intervals for key 1; none for key 3
    val right = Seq((1, ts(0), ts(20), "a"), (1, ts(10), ts(70), "b"),
        (2, ts(0), ts(9), "c"))
      .toDF("k", "lo", "hi", "tag")
    val naive = left.alias("l").join(right.alias("r"),
        col("l.k") === col("r.k") && col("l.t") >= col("r.lo") && col("l.t") <= col("r.hi"))
      .select(col("event"), col("tag")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bucketed = Relational.intervalJoin(left, right, "k", "t", "lo", "hi",
        bucketSeconds = 600)
      .select(col("event"), col("tag")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bucketed == naive)
    assert(bucketed == Set((100L, "a"), (101L, "a"), (101L, "b"), (102L, "b"), (103L, "c")))
  }

  test("intervalJoin emits each matching pair exactly once across buckets") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // interval spanning many buckets with the row mid-way
    val left = Seq((7, ts(500), 1L)).toDF("k", "t", "event")
    val right = Seq((7, ts(0), ts(1000), "wide")).toDF("k", "lo", "hi", "tag")
    val out = Relational.intervalJoin(left, right, "k", "t", "lo", "hi", 60)
    assert(out.count() == 1)
  }

  test("intervalJoin rejects an interval spanning more buckets than the cap") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val left = Seq((1, ts(10), 1L)).toDF("k", "t", "event")
    // a year-long interval at 60 s buckets = ~525k bucket rows — the
    // silent replication blow-up the guard exists to stop
    val right = Seq((1, ts(0), ts(60 * 24 * 365), "yr")).toDF("k", "lo", "hi", "tag")
    val guarded = Relational.intervalJoin(left, right, "k", "t", "lo", "hi",
      bucketSeconds = 60)
    val e = intercept[Exception](guarded.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("intervalJoin: interval spans more than")))
    // an explicit cap large enough for the span admits it (1 match)
    val ok = Relational.intervalJoin(left, right, "k", "t", "lo", "hi",
      bucketSeconds = 60, maxBucketsPerInterval = 600000L)
    assert(ok.count() == 1)
  }

  test("groupedRowNumber matches the window row_number, groups spanning partitions") {
    import org.apache.spark.sql.expressions.Window
    // 3 groups × ~1700 rows each over a 4-thread session: every group
    // spans several range partitions, so the offset bookkeeping (not
    // just the local counter) is what's under test.
    val df = (1 to 5000).map(i => (i % 3, (i * 7919) % 1000, i))
      .toDF("g", "v", "id")
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val expected = df.withColumn("rn", row_number().over(w).cast("long"))
    val got = Relational.groupedRowNumber(df, Seq("g"),
      Seq(col("v"), col("id")), "rn")
    assert(got.count() == 5000)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // descending sort direction flows through the range partitioner too
    val wd = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val expectedD = df.withColumn("rn", row_number().over(wd).cast("long"))
    val gotD = Relational.groupedRowNumber(df, Seq("g"),
      Seq(col("v").desc, col("id")), "rn")
    assert(gotD.except(expectedD).isEmpty && expectedD.except(gotD).isEmpty)
    // the low-cardinality contract is enforced: a high-cardinality group
    // key fail-fasts in the counting pass instead of collecting
    // O(partitions x groups) to the driver
    val ex = intercept[Exception] {
      Relational.groupedRowNumber(df, Seq("id"), Seq(col("v")), "rn",
        maxGroups = 100).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("maxGroups")))
    // the guard also covers the FINAL group run flushed after the
    // loop: with 2 groups and maxGroups=1, the boundary partition
    // holding g1's tail and g2's head emits its 2nd run post-loop —
    // that append must raise too (it was unchecked before round 13).
    // g2 is the last 10 rows, so the last range partition always holds
    // both groups; with two equal halves the sampled range bound (seeded
    // by the RDD id, i.e. by what ran earlier in the JVM) sometimes
    // landed exactly on the group boundary and nothing straddled it.
    val two = (1 to 5000).map(i => (if (i > 4990) 1 else 0, i)).toDF("g", "id")
    val exTail = intercept[Exception] {
      Relational.groupedRowNumber(two, Seq("g"), Seq(col("id")), "rn",
        maxGroups = 1).count()
    }
    assert(msgs(exTail).exists(_.contains("maxGroups")))
  }

  test("weightedSample keeps per-group fractions deterministically") {
    val df = (1L to 4000L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val sampled = Relational.weightedSample(df, "grp", col("id"),
      Map("g0" -> 1.0, "g1" -> 0.5, "g2" -> 0.0), defaultFraction = 0.25)
    val counts = sampled.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("g0") == 1000L)          // keep-all
    assert(!counts.contains("g2"))         // keep-none
    assert(math.abs(counts("g1") - 500L) < 100)  // ~half
    assert(math.abs(counts("g3") - 250L) < 80)   // default ~quarter
    // determinism: same membership on re-evaluation
    val again = Relational.weightedSample(df, "grp", col("id"),
      Map("g0" -> 1.0, "g1" -> 0.5, "g2" -> 0.0), defaultFraction = 0.25)
    assert(sampled.except(again).isEmpty && again.except(sampled).isEmpty)
  }

  test("groupedRowNumber rejects floating-point and binary group keys") {
    // Boxed JVM equality treats -0.0 != 0.0 and NaN != NaN, while window
    // partitioning normalizes both — the forms would silently diverge.
    val fdf = Seq((0.0, 1), (-0.0, 2)).toDF("g", "id")
    val e = intercept[IllegalArgumentException] {
      Relational.groupedRowNumber(fdf, Seq("g"), Seq(col("id")), "rn")
    }
    assert(e.getMessage.contains("non-value-equal"))
    val bdf = Seq((Array[Byte](1), 1)).toDF("g", "id")
    intercept[IllegalArgumentException] {
      Relational.groupedRowNumber(bdf, Seq("g"), Seq(col("id")), "rn")
    }
  }

  test("skewAudit ranks heavy keys with exact shares and salt factors") {
    // key 1: 6 rows, keys 2..4: 1 row each -> total 9, 4 distinct keys,
    // mean load 2.25. Key 1: share 6/9, ratio 6*4/9, salt ceil(24/9)=3.
    val df = (Seq.fill(6)(1) ++ Seq(2, 3, 4)).toDF("k")
    val out = Relational.skewAudit(df, col("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(out.toList == List(
      ("1", 6L, 0.666667, 2.666667, 3L),
      ("2", 1L, 0.111111, 0.444444, 1L)))
  }

  test("shardAudit partitions all rows, sums weights exactly, mean ratio 1") {
    val df = (0L until 64L).map(i => (i, 10L)).toDF("id", "w")
    val out = Relational.shardAudit(df, col("id"), col("w"), numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.map(_._2).sum == 64L)       // every row lands in some shard
    assert(out.map(_._3).sum == 640L)      // weights conserved
    assert(out.forall(s => s._1 >= 0 && s._1 < 4))
    // equal per-row weights: skew ratio == n_rows * shards / total rows
    out.foreach { case (_, n, _, ratio) =>
      assert(math.abs(ratio - n * 4.0 / 64.0) < 1e-6)
    }
  }

  test("shardAudit is deterministic and weight-driven") {
    val df = Seq((1L, 5L), (2L, 7L)).toDF("id", "w")
    val a = Relational.shardAudit(df, col("id"), col("w"), 1).collect()
    assert(a.length == 1 && a.head.getLong(1) == 2L &&
      a.head.getLong(2) == 12L && a.head.getDouble(3) == 1.0)
  }

  test("giniConcentration: 0 on equal counts, exact value on a skewed fixture") {
    // group g: per-user counts [1, 1, 2] → ranks 1,2,3, Σi·x = 9,
    // G = (2·9 − 4·4) / (3·4) = 2/12 = 0.166667
    // group h: counts [2, 2] → perfectly equal, G = 0
    val rows =
      Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 3L), ("h", 7L), ("h", 7L),
        ("h", 8L), ("h", 8L)).toDF("grp", "user")
    val out = Relational.giniConcentration(rows, "grp", "user")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toList == List(("g", 3L, 4L, 0.166667), ("h", 2L, 4L, 0.0)))
  }

  test("asofJoin NULL contract: null keys and timestamps") {
    import java.sql.Timestamp
    def ts(x: String): Timestamp = Timestamp.valueOf(x)
    def tsOpt(x: String): Option[Timestamp] = Some(Timestamp.valueOf(x))
    // left: a normal row, a NULL-time row, a NULL-key row
    val left = Seq(
      (Option(1L), tsOpt("2024-01-01 10:00:00"), "ok"),
      (Option(1L), Option.empty[Timestamp], "null_lt"),
      (Option.empty[Long], tsOpt("2024-01-01 10:00:00"), "null_lk"))
      .toDF("k", "lt", "tag")
    // right: a NULL-time row HEADS key 1's sort group (NULLS FIRST) —
    // the regression shape: pre-fix the composed form carried its
    // PAYLOAD (99.0) forward. Plus a NULL-key right row that must never
    // match anything.
    val right = Seq(
      (Option(1L), Option.empty[Timestamp], 99.0),
      (Option(1L), tsOpt("2024-01-01 09:00:00"), 10.0),
      (Option.empty[Long], tsOpt("2024-01-01 09:00:00"), 50.0))
      .toDF("k", "rt", "price")
    val expect = Map("ok" -> 10.0, "null_lt" -> -1.0, "null_lk" -> -1.0)
    val got = Relational.asofJoin(left, right, "k", "lt", "rt", Seq("price"))
      .select("tag", "price").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    assert(got == expect)
  }
}
