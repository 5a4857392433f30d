package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** The one-call curation chain: exact dups collapse, LSH near-dups
  * collapse to the min id, boilerplate fails the quality panel. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("curate chains exact dedup, near-dup removal, and quality filtering") {
    import spark.implicits._
    val proseA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val proseB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, proseA),                                  // keeper (rep of {1,2})
      (2L, proseA),                                  // exact dup → dropped
      (3L, proseB + " tailone"),                     // near-dup keeper of {3,4}
      (4L, proseB + " tailtwo"),                     // near-dup → dropped
      (5L, Seq.fill(15)("buy now").mkString(" ")))   // boilerplate → quality-dropped
      .toDF("doc_id", "text")
    // Relaxed thresholds except repetition: this corpus is synthetic, so
    // only the top-bigram fraction is meant to fire (doc 5's "buy now"
    // bigram is >50% of its bigrams).
    val out = Curation.curate(docs, "text", "doc_id",
        thresholds = Curation.QualityThresholds(
          minTokens = 5, minTtr = 0.2, minStopwordRatio = 0.0,
          maxTopBigramFrac = 0.5, maxRareFrac = 1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("curate with an inert filter keeps every distinct document") {
    import spark.implicits._
    val docs = Seq(
      (10L, "one two three four five six"),
      (11L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val out = Curation.curate(docs, "text", "doc_id",
        thresholds = Curation.QualityThresholds(
          minTokens = 0, minTtr = 0.0, minStopwordRatio = 0.0,
          maxTopBigramFrac = 2.0, maxRareFrac = 1.0))
      .count()
    assert(out == 2L)
  }

  test("splitAssign: deterministic multiplicative-hash buckets, exhaustive partition") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val got = Curation.splitAssign(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 1000)
    // engine-independent closed form: the operator's whole contract
    def expected(id: Long): String = {
      val b = id * 2654435761L % 4294967296L % 100L
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    assert((0L until 1000L).forall(id => got(id) == expected(id)))
    // the multiplier sprays sequential ids: all three splits are hit, and
    // the train share lands near its 90% design point
    val byCount = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byCount.keySet == Set("train", "val", "test"))
    assert(byCount("train") > 850 && byCount("train") < 950)
    // re-running assigns identically (no RNG, no order dependence)
    val again = Curation.splitAssign(docs.orderBy($"doc_id".desc), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == got)
  }

  test("weightedSample: priorities match the A-ES formula; re-runs identical") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, ("t " * i.toInt).trim))
      .toDF("doc_id", "text")
    val got = Curation.weightedSample(docs, col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")), n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // replicate the arithmetic exactly: u from the Knuth hash, pri =
    // round(u^(1/w), 6), top-10 by (pri desc, id asc)
    val want = (1L to 40L).map { i =>
      val u = ((i * 2654435761L) % 4294967296L + 0.5) / 4294967296.0
      (i, i, math.round(math.pow(u, 1.0 / i) * 1e6) / 1e6)
    }.sortBy { case (id, _, p) => (-p, id) }.take(10)
    assert(got.toList == want.toList)
    // weights, not ids, drive selection: the sample is not just top ids
    assert(got.map(_._1).toSet != (31L to 40L).toSet)
    val again = Curation.weightedSample(docs, col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")), n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toList == got.toList)
  }

  test("splitAssign rejects percentages that leave no test slice") {
    import spark.implicits._
    val docs = Seq((1L, "t")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.splitAssign(docs, "doc_id", trainPct = 95, valPct = 5)
    }
  }

  test("negativeSample: in-domain, never a positive, deterministic, <= k per user") {
    import spark.implicits._
    val items = (0L until 20L).toDF("item")
    val pos = Seq((1L, 3L), (1L, 7L), (2L, 0L), (3L, 11L))
      .toDF("user_id", "item")
    val run1 = Curation.negativeSample(pos, "user_id", "item", items, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val run2 = Curation.negativeSample(pos, "user_id", "item", items, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(run1.sameElements(run2)) // hash-derived, no RNG
    val posSet = Set((1L, 3L), (1L, 7L), (2L, 0L), (3L, 11L))
    run1.foreach { case (u, i, j) =>
      assert(i >= 0 && i < 20, s"out of domain: $i")
      assert(!posSet((u, i)), s"sampled a positive: ($u, $i)")
      assert(j >= 0 && j < 8)
    }
    run1.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.length <= 8, s"user $u got ${rows.length} > k")
      // duplicate draws collapsed: each (user, item) appears once
      assert(rows.map(_._2).distinct.length == rows.length)
    }
  }

  test("groupQuota: cap enforced per group, priority then id order") {
    import spark.implicits._
    val df = Seq(
      ("A", 1L, 10), ("A", 2L, 30), ("A", 3L, 20), ("A", 4L, 30),
      ("B", 5L, 1)
    ).toDF("src", "id", "w")
    val got = Curation.groupQuota(df, col("id"), col("src"), col("w"), cap = 2)
      .orderBy("group", "rank").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    // A keeps w=30 twice (id 2 before id 4 — tie broken by id); B keeps its one row
    assert(got.toSeq == Seq(("A", 2L, 1), ("A", 4L, 2), ("B", 5L, 1)))
  }

  test("quantileNormalize: groups map onto the same pooled values") {
    import spark.implicits._
    val df = Seq(
      ("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("B", 4L, 10.0), ("B", 5L, 20.0), ("B", 6L, 30.0)
    ).toDF("src", "id", "v")
    val got = Curation.quantileNormalize(df, "id", "src", "v")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(3)))
    // pooled sorted: 1,2,3,10,20,30 (N=6); within-group midpoint ranks
    // (1/6, 3/6, 5/6) → pooled ranks ceil(1,3,5) → values 1, 3, 20 —
    // IDENTICAL for both groups despite disjoint raw scales
    assert(got.toSeq == Seq(
      (1L, 1.0), (2L, 3.0), (3L, 20.0),
      (4L, 1.0), (5L, 3.0), (6L, 20.0)))
    // the many-groups assumption is enforced: one group bigger than
    // maxGroupRows fails fast instead of serializing into one window task
    val ex = intercept[Exception] {
      Curation.quantileNormalize(df, "id", "src", "v",
        maxGroupRows = 2L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("maxGroupRows")))
  }

  test("dsirResample matches an independent driver-side replay of the " +
    "hashed-bigram importance model and Gumbel top-k") {
    import spark.implicits._
    val pool = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "stock market prices rose sharply today"),
      (3L, "the dog sat on the rug"),
      (4L, "quarterly earnings beat market expectations"),
      (5L, "x"), // 1-token doc: short-doc convention (token in both families)
      (6L, "cats and dogs sat together on mats")
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "the cat sat on a mat"),
      (101L, "a dog sat near the mat")
    ).toDF("doc_id", "text")
    val B = 16
    val got = Curation.dsirResample(pool, target, "text", "doc_id",
        k = 6, numBuckets = B)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    // ---- independent replay (MessageDigest, plain Scala collections)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def gramsOf(text: String): Seq[String] = {
      val t = text.split(" ", -1).toSeq
      val bi = (1 to math.max(t.size - 1, 1)).map(i =>
        t.slice(i - 1, i + 1).mkString(" "))
      t ++ bi
    }
    def bucket(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).take(8), 16) % B
    val poolDocs = Map(1L -> "the cat sat on the mat",
      2L -> "stock market prices rose sharply today",
      3L -> "the dog sat on the rug",
      4L -> "quarterly earnings beat market expectations",
      5L -> "x", 6L -> "cats and dogs sat together on mats")
    val tgtGrams = Seq("the cat sat on a mat", "a dog sat near the mat")
      .flatMap(gramsOf).map(bucket)
    val poolGrams = poolDocs.toSeq.flatMap { case (id, tx) =>
      gramsOf(tx).map(g => (id, bucket(g))) }
    val cs = poolGrams.groupBy(_._2).map { case (b, g) => b -> g.size.toLong }
    val ct = tgtGrams.groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val (ns, nt) = (poolGrams.size.toDouble, tgtGrams.size.toDouble)
    def lr(b: Long): Double =
      math.log((ct.getOrElse(b, 0L) + 1.0) / (nt + B)) -
        math.log((cs.getOrElse(b, 0L) + 1.0) / (ns + B))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = poolDocs.keys.toSeq.map { id =>
      val bs = poolGrams.filter(_._1 == id).map(_._2)
      val lw = bs.map(lr).sum
      val h13 = java.lang.Long.parseLong(md5hex(id.toString).take(13), 16)
      val u = (h13 + 0.5) / 4503599627370496.0
      val key = lw - math.log(-math.log(u))
      (id, bs.size.toLong, r6(lw), r6(key))
    }.sortBy(e => (-e._4, e._1))
    assert(got.toSeq == expected,
      s"got ${got.toSeq}\nexpected $expected")
    // target-like pool docs must outrank the off-distribution ones on
    // raw weight (sanity on the model, not just the arithmetic)
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(2L) && byId(3L) > byId(4L))
  }

  test("temporalSplit: exact-rank cutoff, ties land in train, cold entities counted") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // 10 events; trainFrac 0.7 → cutoff = ts at rank 7 (= day 7). Event 8
    // TIES the cutoff timestamp so <= must pull it into train. User "c"
    // appears only after the cutoff → the cold-start entity.
    val events = Seq(
      ("a", ts(1)), ("a", ts(2)), ("a", ts(3)), ("a", ts(4)), ("a", ts(5)),
      ("b", ts(6)), ("b", ts(7)), ("b", ts(7)), // tie at cutoff
      ("c", ts(9)), ("c", ts(10))
    ).toDF("user_id", "ts")
    val out = Curation.temporalSplit(events, "user_id", "ts", trainFrac = 0.7)
      .orderBy("split").collect()
    val test = out(0); val train = out(1)
    assert(train.getString(0) == "train" && test.getString(0) == "test")
    assert(train.getLong(1) == 8 && test.getLong(1) == 2) // tie → train
    assert(train.getLong(2) == 2 && test.getLong(2) == 1) // entities a,b | c
    assert(train.getLong(5) == 0 && test.getLong(5) == 1) // c is cold
    assert(test.getTimestamp(3) == ts(9) && test.getTimestamp(4) == ts(10))
  }

  test("negativeSample: user whose positives cover the domain yields nothing") {
    import spark.implicits._
    val items = (0L until 4L).toDF("item")
    val pos = (0L until 4L).map(i => (9L, i)).toDF("user_id", "item")
    val out = Curation.negativeSample(pos, "user_id", "item", items, k = 6)
    assert(out.count() == 0)
  }

  test("rakeWeights: margins converge toward targets; balanced grid is 1") {
    import spark.implicits._
    // already-balanced grid with matching targets -> every weight 1
    val cells = Seq(("a", 0L, 10L), ("a", 1L, 10L), ("b", 0L, 10L),
      ("b", 1L, 10L)).toDF("row_key", "col_key", "n")
    val rt = Seq(("a", 20.0), ("b", 20.0)).toDF("row_key", "target")
    val ct = Seq((0L, 20.0), (1L, 20.0)).toDF("col_key", "target")
    val bal = Curation.rakeWeights(cells, rt, ct).collect()
    assert(bal.forall(r => r.getDouble(3) == 1.0))
    // the driver-local IPF is gated: a grid over maxCells fails fast
    val exCells = intercept[IllegalArgumentException] {
      Curation.rakeWeights(cells, rt, ct, maxCells = 3)
    }
    assert(exCells.getMessage.contains("maxCells"))
    // skewed targets: raked row masses hit the row targets after the
    // final row scaling is followed by one col scaling -> close, and
    // total mass equals the shared total
    val rt2 = Seq(("a", 30.0), ("b", 10.0)).toDF("row_key", "target")
    val out = Curation.rakeWeights(cells, rt2, ct, iterations = 4)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        r.getDouble(4))).toMap
    val rowA = out(("a", 0L)) + out(("a", 1L))
    val rowB = out(("b", 0L)) + out(("b", 1L))
    assert(math.abs(rowA - 30.0) < 0.01 && math.abs(rowB - 10.0) < 0.01)
    val colSum0 = out(("a", 0L)) + out(("b", 0L))
    assert(math.abs(colSum0 - 20.0) < 1e-6) // col scaling ran last
    // a cell whose margin lacks a target drops
    val missing = Curation.rakeWeights(
      cells.union(Seq(("c", 0L, 5L)).toDF("row_key", "col_key", "n")),
      rt, ct)
    assert(missing.filter(col("row_key") === "c").count() == 0)
  }

  test("rakeWeights: NULL target propagates NULL mass/weight, no NPE") {
    import spark.implicits._
    val cells = Seq(("a", 0L, 10L), ("a", 1L, 10L), ("b", 0L, 10L),
      ("b", 1L, 10L)).toDF("row_key", "col_key", "n")
    // row b's target is NULL: joins (NULL is a value here, not a key),
    // and the distributed form computed m * (NULL / s) = NULL — the
    // driver-local IPF must do the same instead of NPE-ing on getDouble
    val rt = Seq(("a", Some(20.0)), ("b", None))
      .toDF("row_key", "target")
    val ct = Seq((0L, 20.0), (1L, 20.0)).toDF("col_key", "target")
    val out = Curation.rakeWeights(cells, rt, ct).collect()
      .map(r => (r.getString(0), (r.isNullAt(3), r.isNullAt(4)))).toMap
    assert(out("b") == ((true, true)), "NULL-target row -> NULL mass")
    assert(out("a") == ((false, false)), "targeted row still raked")
  }
}
