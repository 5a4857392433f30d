package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Scale-utility semantics: salted joins match plain joins; bucketed
  * pairs join without an exchange. */
class RelationalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("saltedJoin equals the plain inner join, including skewed keys") {
    // 1000 rows of one hot key + a tail — the salted shuffle must not
    // change the result set.
    val left = (Seq.fill(1000)((1, "hot")) ++ (2 to 50).map(k => (k, s"v$k")))
      .toDF("k", "lv")
    val right = (1 to 50).map(k => (k, k * 10)).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .collect().toSeq.map(_.toSeq).sortBy(_.toString)
    val salted = Relational.saltedJoin(left, right, Seq("k"), salt = 8)
      .select("k", "lv", "rv").collect().toSeq.map(_.toSeq).sortBy(_.toString)
    assert(salted == plain)
    assert(salted.count(_.head == 1) == 1000)
  }

  test("saltedJoin spreads a hot key over multiple salt buckets") {
    val left = Seq.fill(100)((1, "hot")).toDF("k", "lv")
    val salts = left.withColumn("__salt", pmod(hash(left.columns.map(col): _*), lit(8)))
      .select(countDistinct(col("__salt"))).head().getLong(0)
    // Identical rows hash identically — the salt spreads distinct rows;
    // with one fully identical row repeated the salt is 1 bucket, which
    // documents that row-hash salting needs a distinguishing column.
    assert(salts == 1L)
    val leftDistinct = (1 to 100).map(i => (1, s"row$i")).toDF("k", "lv")
    val salts2 = leftDistinct
      .withColumn("__salt", pmod(hash(leftDistinct.columns.map(col): _*), lit(8)))
      .select(countDistinct(col("__salt"))).head().getLong(0)
    assert(salts2 > 4L)
  }

  test("asofJoin: <= semantics, no-match nulls, deterministic tie-break") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, t("2024-01-01 10:00:00"), "e1"),  // after both quotes
      (1L, t("2024-01-01 09:00:00"), "e2"),  // same instant as quote b
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
    // same-instant event sees it (<=); key 2 carries null.
    assert(got == Map("e1" -> "qc", "e2" -> "qc", "e3" -> null))
  }

  test("bucketed pair joins without a shuffle exchange") {
    val a = (1 to 1000).map(k => (k.toLong, s"a$k")).toDF("k", "av")
    val b = (1 to 1000).map(k => (k.toLong, s"b$k")).toDF("k", "bv")
    Relational.writeBucketed(a, "bkt_a", "k", 4)
    Relational.writeBucketed(b, "bkt_b", "k", 4)
    // Force the sort-merge path (tiny test tables would broadcast, which
    // disables bucketing) to show the bucketed layout joins with zero
    // shuffle exchanges.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing not used:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
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

  test("asofJoinNative equals the composed asofJoin and plans AsofJoinExec") {
    import java.sql.Timestamp
    def ts(x: String) = Timestamp.valueOf(x)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 11:00:00"), "l2"),
      (2L, ts("2024-01-01 09:00:00"), "l3"), // before any right row
      (3L, ts("2024-01-01 12:00:00"), "l4")  // key with no right rows
    ).toDF("k", "lt", "payload")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 10:30:00"), 20.0),
      (1L, ts("2024-01-01 11:00:00"), 30.0), // exact tie: matches l2
      (2L, ts("2024-01-01 09:30:00"), 40.0)
    ).toDF("k", "rt", "price")
    val native = Relational.asofJoinNative(left, right, "k", "lt", "rt",
      Seq("price"))
    val got = native.orderBy("k", "lt").collect()
      .map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
    assert(got.toSeq == Seq((1L, "l1", 10.0), (1L, "l2", 30.0),
      (2L, "l3", -1.0), (3L, "l4", -1.0)))
    // the custom physical operator actually planned
    assert(native.queryExecution.executedPlan.toString
      .contains("AsofJoin"))
    // equivalence with the composed union+window form
    val composed = Relational.asofJoin(left, right, "k", "lt", "rt",
      Seq("price"))
    val a = native.select("k", "lt", "payload", "price").collect()
      .map(_.toString).sorted
    val b = composed.select("k", "lt", "payload", "price").collect()
      .map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
    // self-join shape: both sides derived from one frame (fresh ids)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (1L, ts("2024-01-01 09:00:00"), "buy", 9.0))
      .toDF("k", "t", "typ", "v")
    val selfj = Relational.asofJoinNative(
      ev.filter(col("typ") === "click").select("k", "t"),
      ev.filter(col("typ") === "buy")
        .select(col("k"), col("t").as("rt"), col("v").as("buy_v")),
      "k", "t", "rt", Seq("buy_v"))
    assert(selfj.collect().head.getDouble(2) == 9.0)
    // NULL left key emits the padded row, never a match
    val lNull = Seq((Option.empty[java.lang.Long],
      ts("2024-01-01 10:00:00"))).toDF("k", "lt")
    val nn = Relational.asofJoinNative(
      lNull.select(col("k").cast("long").as("k"), col("lt")),
      right, "k", "lt", "rt", Seq("price")).collect()
    assert(nn.length == 1 && nn.head.isNullAt(2))
  }

  test("asofJoin NULL contract: native and composed agree on null " +
    "keys and timestamps") {
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
    // the regression shape: pre-fix the native merge stalled on it and
    // NULL-padded every valid match behind it; pre-fix the composed
    // form carried its PAYLOAD (99.0) forward instead. Plus a NULL-key
    // right row that must never match anything.
    val right = Seq(
      (Option(1L), Option.empty[Timestamp], 99.0),
      (Option(1L), tsOpt("2024-01-01 09:00:00"), 10.0),
      (Option.empty[Long], tsOpt("2024-01-01 09:00:00"), 50.0))
      .toDF("k", "rt", "price")
    val expect = Map("ok" -> 10.0, "null_lt" -> -1.0, "null_lk" -> -1.0)
    for ((name, df) <- Seq(
      "native" -> Relational.asofJoinNative(left, right, "k", "lt", "rt",
        Seq("price")),
      "composed" -> Relational.asofJoin(left, right, "k", "lt", "rt",
        Seq("price")))) {
      val got = df.select("tag", "price").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
      assert(got == expect, s"$name diverges from the shared NULL contract")
    }
  }

  test("asofJoinNative rejects mismatched key/time types at construction") {
    import java.sql.Timestamp
    val left = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "lt")
    val rightIntKey = Seq((1, Timestamp.valueOf("2024-01-01 09:00:00"), 1.0))
      .toDF("k", "rt", "price")
    val e1 = intercept[IllegalArgumentException] {
      Relational.asofJoinNative(left, rightIntKey, "k", "lt", "rt",
        Seq("price"))
    }
    assert(e1.getMessage.contains("key type mismatch"))
    val rightDateTime = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0))
      .toDF("k", "rt", "price")
    val e2 = intercept[IllegalArgumentException] {
      Relational.asofJoinNative(left, rightDateTime, "k", "lt", "rt",
        Seq("price"))
    }
    assert(e2.getMessage.contains("time type mismatch"))
  }
}
