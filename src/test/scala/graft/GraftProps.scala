package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.operators.{Dedup, Merge, Relational, TextDedup}

/** ScalaCheck laws for the mutation/dedup operators (SURVEY.md §5.2).
  * Inputs are tiny generated tables with deliberately colliding keys and
  * timestamps so the interesting branches (matched rows, ties, empty
  * sides) are hit constantly. 10 cases per law — each case runs real
  * Spark jobs. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  private val genRow: Gen[(Int, Int, Int)] = for {
    k <- Gen.choose(0, 8)       // few keys → many collisions
    v <- Gen.choose(0, 100)
    t <- Gen.choose(0, 3)       // few timestamps → ties
  } yield (k, v, t)

  private val genRows: Gen[List[(Int, Int, Int)]] = Gen.listOfN(12, genRow)

  private def df(rows: List[(Int, Int, Int)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "t")
  }

  private def canon(d: org.apache.spark.sql.DataFrame): Set[String] =
    d.collect().map(_.toString).toSet

  property("merge upsert is idempotent: re-applying the same source is a no-op") =
    forAll(genRows, genRows) { (t0, s0) =>
      // MERGE requires a unique key on both sides (the reference dedups
      // its source first) — mirror that contract.
      val tgt = Dedup.latestPerKey(df(t0), Seq("k"), Seq(col("t").desc, col("v").desc))
      val src = Dedup.latestPerKey(df(s0), Seq("k"), Seq(col("t").desc, col("v").desc))
      val once = Merge.upsert(tgt, src, "k", Seq("k", "v", "t"))
      val twice = Merge.upsert(once, src, "k", Seq("k", "v", "t"))
      canon(once) == canon(twice)
    }

  property("merge result keys = union of side keys; source wins on overlap") =
    forAll(genRows, genRows) { (t0, s0) =>
      val tgt = Dedup.latestPerKey(df(t0), Seq("k"), Seq(col("t").desc, col("v").desc))
      val src = Dedup.latestPerKey(df(s0), Seq("k"), Seq(col("t").desc, col("v").desc))
      val out = Merge.upsert(tgt, src, "k", Seq("k", "v", "t")).collect()
        .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
      val tm = tgt.collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
      val sm = src.collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
      out.keySet == (tm.keySet ++ sm.keySet) &&
        out.forall { case (k, v) => v == sm.getOrElse(k, tm(k)) }
    }

  property("latestPerKey keeps exactly one row per key, and it is the max") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        val out = Dedup.latestPerKey(df(rows), Seq("k"),
            Seq(col("t").desc, col("v").desc)).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        val expect = rows.groupBy(_._1).map { case (_, g) =>
          g.maxBy(r => (r._3, r._2))
        }.toSet
        out.length == out.map(_._1).distinct.length && out.toSet == expect
      }
    }

  property("groupedRowNumber equals the window row_number on random tables") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        // unique tie-break (v, then original index) so both forms have a
        // total order — the operator's documented precondition
        val indexed = rows.zipWithIndex.map { case ((k, v, t), i) => (k, v, t, i) }
        import spark.implicits._
        val d = indexed.toDF("k", "v", "t", "i")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("t"), col("v"), col("i"))
        val win = d.withColumn("rn", row_number().over(w).cast("long"))
          .collect().map(r => (r.getInt(0), r.getInt(3), r.getLong(4))).toSet
        val got = Relational.groupedRowNumber(d, Seq("k"),
            Seq(col("t"), col("v"), col("i")), "rn")
          .collect().map(r => (r.getInt(0), r.getInt(3), r.getLong(4))).toSet
        got == win
      }
    }

  property("deterministicSample and its complement partition the table") =
    forAll(genRows) { rows =>
      val d = df(rows)
      val in = Relational.deterministicSample(d, col("k"), "80")
      val outRows = d.exceptAll(in)
      val rejoined = in.unionAll(outRows)
      canon(rejoined) == canon(d) &&
        // membership is a pure function of the key
        in.select("k").distinct().collect().map(_.getInt(0)).toSet
          .intersect(outRows.select("k").distinct().collect().map(_.getInt(0)).toSet)
          .isEmpty
    }

  property("intervalJoin equals the naive BETWEEN theta-join") = {
    val genIv = for {
      k <- Gen.choose(0, 3)
      lo <- Gen.choose(0, 90)
      len <- Gen.choose(0, 40) // includes zero-length intervals
      tag <- Gen.choose(0, 99)
    } yield (k, lo, lo + len, tag)
    val genPt = for {
      k <- Gen.choose(0, 3)
      t <- Gen.choose(0, 130)
      id <- Gen.choose(0, 999)
    } yield (k, t, id)
    forAll(Gen.listOfN(8, genPt), Gen.listOfN(6, genIv)) { (pts, ivs) =>
      import spark.implicits._
      def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
      val left = pts.map { case (k, t, id) => (k, ts(t), id) }.toDF("k", "t", "id")
      val right = ivs.map { case (k, lo, hi, tag) => (k, ts(lo), ts(hi), tag) }
        .toDF("k", "lo", "hi", "tag")
      val naive = left.alias("l").join(right.alias("r"),
          col("l.k") === col("r.k") &&
            col("l.t") >= col("r.lo") && col("l.t") <= col("r.hi"))
        .select(col("id"), col("tag")).collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      val bucketed = Relational.intervalJoin(left, right, "k", "t", "lo", "hi",
          bucketSeconds = 600) // 10-min buckets vs 1-min grid: multi-bucket spans
        .select(col("id"), col("tag")).collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      bucketed == naive
    }
  }

  property("sessionize: consecutive events within gap share a session, across gap split") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 50), Gen.choose(0, 999)))) { evs =>
      evs.isEmpty || {
        import spark.implicits._
        def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
        val df = evs.map { case (k, t, id) => (k, ts(t), id) }.toDF("k", "t", "id")
        val gapSec = 600L // 10 minutes on a minute grid
        val out = graft.operators.Sessionize
          .sessionize(df, "k", "t", gapSec, tieBreak = Seq(col("id")))
          .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime, r.getLong(3)))
        out.groupBy(_._1).forall { case (_, g) =>
          val sorted = g.sortBy(_._2)
          sorted.zip(sorted.tail).forall { case ((_, t1, s1), (_, t2, s2)) =>
            if (t2 - t1 > gapSec * 1000) s2 == s1 + 1 else s2 == s1
          } && sorted.headOption.forall(_._3 == 1L)
        }
      }
    }

  property("scd2 intervals tile each key's timeline with one current row") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val changes = rows.zipWithIndex
          .map { case ((k, v, t), i) => (k, new Timestamp(t * 1000L), i.toLong) }
          .toDF("k", "ts", "id")
        val hist = Merge.scd2History(changes, "k", "ts", tieBreak = Seq(col("id")))
          .collect()
          .map(r => (r.getInt(0), r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
        hist.groupBy(_._1).forall { case (_, g) =>
          val sorted = g.sortBy(x => (x._2.getTime, x._3.map(_.getTime).getOrElse(Long.MaxValue)))
          val oneCurrent = g.count(_._4) == 1
          val currentIsOpen = g.filter(_._4).forall(_._3.isEmpty)
          // every non-final interval closes at a later-or-equal change time
          val chained = sorted.zip(sorted.tail).forall { case (a, b) =>
            a._3.contains(b._2)
          }
          oneCurrent && currentIsOpen && chained
        }
      }
    }

  property("interpolate grid is contiguous per key; observed rows pass through; gaps stay in the neighbor envelope") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val events = rows
          .map { case (k, v, t) => (k, new Timestamp(t * 3600L * 1000L), v.toDouble) }
          .toDF("k", "ts", "v")
        val out = graft.operators.TimeSeries
          .interpolate(events, "k", "ts", "v", bucketSeconds = 3600L)
          .collect()
          .map(r => (r.getInt(0), r.getTimestamp(1).getTime, r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
        out.groupBy(_._1).forall { case (_, g) =>
          val s = g.sortBy(_._2)
          val contiguous = s.zip(s.tail).forall { case (a, b) => b._2 - a._2 == 3600000L }
          val passThrough = s.filter(_._3 > 0).forall(r => r._4.contains(r._5))
          // each gap row sits within [min, max] of its two observed neighbors
          val observedIdx = s.zipWithIndex.filter(_._1._3 > 0).map(_._2)
          val envelopes = observedIdx.zip(observedIdx.tail).forall { case (i, j) =>
            val (lo, hi) = (math.min(s(i)._5, s(j)._5), math.max(s(i)._5, s(j)._5))
            (i + 1 until j).forall(m => s(m)._5 >= lo - 1e-6 && s(m)._5 <= hi + 1e-6)
          }
          contiguous && passThrough && envelopes
        }
      }
    }

  property("lineDedup with a high threshold keeps every document intact") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val docs = rows.zipWithIndex
          .map { case ((k, v, t), i) => (i.toLong, s"k$k v$v\nt$t line\ntail $i") }
          .toDF("doc_id", "text")
        // every line is carried by at most |docs| documents, so a
        // threshold of |docs| drops nothing and reassembly must be exact
        val out = graft.operators.TextDedup
          .lineDedup(docs, "text", "doc_id", "\n", maxDocs = rows.size.toLong)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
        val in = docs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
        out.forall { case (id, nLines, nKept, clean) =>
          nLines == nKept && clean == in(id)
        }
      }
    }

  property("spanDedup keeps each distinct span exactly once, on its minimum (id, span) slot") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        // two tokens per span, so each pair (k, v) is one span; collisions
        // across docs exercise the election
        val docs = rows.zipWithIndex
          .map { case ((k, v, t), i) => (i.toLong, s"k$k v$v t$t x$t") }
          .toDF("doc_id", "text")
        val out = graft.operators.TextDedup
          .spanDedup(docs, "text", "doc_id", spanTokens = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        val distinctSpans = rows.zipWithIndex
          .flatMap { case ((k, v, t), _) => Seq(s"k$k v$v", s"t$t x$t") }.toSet
        out.map(_._3).sum == distinctSpans.size &&
          out.forall { case (_, nSpans, nKept) => nKept <= nSpans && nSpans == 2 }
      }
    }

  property("guarded LSH pairs: subset of unguarded, same components, inert under a wide cap") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        // few distinct texts over many docs → heavy bucket collisions, so
        // the star branch fires constantly at cap=2
        val docs = rows.zipWithIndex.map { case ((k, v, t), i) =>
          (i.toLong, s"w${k % 3} x${v % 2} y$t common tail words")
        }.toDF("doc_id", "text")
        val ids = rows.indices.map(_.toLong)
        val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 2)
        def pairsWith(cap: Int): Set[(Long, Long)] =
          TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2, maxBucket = cap)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val unguarded = pairsWith(0)
        val guarded = pairsWith(2)
        // driver-side union-find: the star thins pair coverage but must
        // never split or merge a component
        def comps(pairs: Set[(Long, Long)]): Set[Set[Long]] = {
          val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
          def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
          pairs.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          ids.groupBy(find).values.map(_.toSet).toSet
        }
        guarded.subsetOf(unguarded) &&
          comps(guarded) == comps(unguarded) &&
          pairsWith(rows.size + 1) == unguarded // cap above every bucket width: inert
      }
    }

  property("cohort retention is 1.0 at offset 0 and n_active never exceeds the cohort size") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val events = rows
          .map { case (k, v, t) => (k, new Timestamp((t.toLong * 7 + v) * 86400L * 1000L)) }
          .toDF("k", "ts")
        val out = graft.operators.Sessionize.cohortRetention(events, "k", "ts")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        val size = out.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
        out.filter(_._2 == 0L).forall(_._4 == 1.0) &&
          out.forall(r => r._3 <= size(r._1))
      }
    }

  property("oovRate: counts bounded by totals, rates in [0,1], minCount=1 is all-in-vocab") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val docs = rows.map { case (k, v, t) =>
          (s"s${k % 3}", s"w$k w${v % 5} z$t")
        }.toDF("source", "text")
        val out = graft.operators.CorpusStats.oovRate(docs, "text", "source", 2L)
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        // a token with corpus count >= 1 always exists, so minCount=1 → zero OOV
        val allIn = graft.operators.CorpusStats.oovRate(docs, "text", "source", 1L)
          .collect().forall(r => r.getLong(2) == 0L && r.getDouble(4) == 0.0)
        allIn && out.forall { case (nt, oovT, oovTy, rate) =>
          // each OOV type occurs at least once in its source
          oovT <= nt && oovTy <= oovT && rate >= 0.0 && rate <= 1.0
        }
      }
    }

  property("zipfCoverage: n_types nondecreasing in threshold, bounded by total_types") =
    forAll(genRows) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val docs = rows.map { case (k, v, t) => s"w$k w${v % 4} y$t" }.toDF("text")
        val out = graft.operators.CorpusStats.zipfCoverage(docs, "text",
            Seq(250000L, 500000L, 750000L, 1000000L))
          .orderBy("threshold_ppm").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        val ns = out.map(_._3)
        ns.zip(ns.tail).forall { case (a, b) => a <= b } &&    // monotone
          out.forall(r => r._3 >= 1 && r._3 <= r._4) &&        // within vocab
          out.forall(r => r._2 <= r._5) &&                     // target ≤ total
          out.last._3 == out.last._4                           // 100% needs all types
      }
    }

  property("containment dominates Jaccard and is 1.0 on at least one side of equal sets") =
    forAll(genRows) { rows =>
      rows.size < 2 || {
        import spark.implicits._
        val docs = rows.zipWithIndex.map { case ((k, v, t), i) =>
          (i.toLong, s"w${k % 3} x${v % 2} y${t % 2} tail tokens here")
        }.toDF("doc_id", "text")
        val ids = rows.indices.map(_.toLong)
        val pairs = ids.combinations(2).map(p => (p(0), p(1))).toList
          .toDF("doc_id_a", "doc_id_b")
        val n = 2
        val cont = TextDedup.containmentOnPairs(pairs, docs, "text", "doc_id", n)
          .collect().map(r => ((r.getLong(0), r.getLong(1)),
            (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
        // token-shingle jaccard on the same pairs, driver-computed
        val grams = docs.select(col("doc_id"),
            array_distinct(graft.functions.TextFunctions.tokenShingles(col("text"), n)).as("g"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
        cont.forall { case ((a, b), (ca, cb, cm)) =>
          val (ga, gb) = (grams(a), grams(b))
          val j = (ga & gb).size.toDouble / (ga | gb).size.toDouble
          val eps = 1e-9
          cm + eps >= ca && cm + eps >= cb &&       // max is the max
            ca + eps >= j && cb + eps >= j &&       // containment ≥ jaccard
            (ga != gb || (ca > 1 - eps && cb > 1 - eps)) // equal sets ⇒ both 1
        }
      }
    }

  property("cusum closed form equals the textbook recursion on random series") =
    forAll(Gen.listOfN(10, Gen.choose(0, 6)), Gen.choose(0L, 4L)) { (counts, k) =>
      import spark.implicits._
      // one event row per count unit, minute-bucketed
      val events = counts.zipWithIndex.flatMap { case (n, m) =>
        Seq.fill(n)(("u", Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")))
      }
      events.isEmpty || {
        val out = graft.operators.TimeSeries.cusumChangePoints(
            events.toDF("key", "ts"), "key", "ts",
            bucketSeconds = 60L, driftK = k, threshold = Long.MinValue)
          .orderBy("bucket_epoch").collect()
          .map(r => r.getLong(1) -> r.getLong(3)).toMap
        // driver-side recursion over the DENSE minute range the operator
        // grids (first..last observed bucket)
        val present = counts.zipWithIndex.filter(_._1 > 0).map(_._2)
        val (lo, hi) = (present.min, present.max)
        val expect = (lo to hi).scanLeft(0L) { (s, m) =>
          math.max(0L, s + counts(m) - k)
        }.drop(1)
        val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
        (lo to hi).zip(expect).forall { case (m, s) =>
          out(base + m * 60L) == s
        }
      }
    }

  property("decayedSum with zero elapsed half-lives equals the plain dsum") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(0, 3), Gen.choose(0.0, 50.0)))) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        // all events inside the first half-life -> exponent 0 everywhere
        val df = rows.zipWithIndex.map { case ((u, v), i) =>
          (u.toLong, Timestamp.valueOf(f"2024-01-31 12:00:${i % 60}%02d"), v)
        }.toDF("user_id", "ts", "value")
        val got = graft.operators.TimeSeries.decayedSum(df, "user_id", "ts",
            "value", anchor = "2024-02-01 00:00:00", halfLifeSeconds = 604800L)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        val expect = rows.groupBy(_._1).map { case (u, vs) =>
          u.toLong -> vs.map { case (_, v) =>
            BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }.sum.toDouble
        }
        got == expect
      }
    }

  property("rollingSum over a window covering everything equals the group total") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(0, 2), Gen.choose(0.0, 20.0)))) { rows =>
      rows.isEmpty || {
        import spark.implicits._
        val df = rows.zipWithIndex.map { case ((u, v), i) =>
          (u.toLong, Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d"), v)
        }.toDF("user_id", "ts", "value")
        val out = graft.operators.TimeSeries.rollingSum(df, "user_id", "ts",
            "value", windowSeconds = 86400L)
          .collect().map(r => (r.getLong(0), r.getTimestamp(1),
            r.getLong(3), r.getDouble(4)))
        val totals = rows.groupBy(_._1).map { case (u, vs) =>
          u.toLong -> (vs.size.toLong, vs.map { case (_, v) =>
            BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          }.sum.toDouble)
        }
        // every row whose ts is the group MAX sees the whole group
        val lastPerKey = out.groupBy(_._1).map { case (u, rs) =>
          u -> rs.maxBy(_._2.getTime)
        }
        lastPerKey.forall { case (u, (_, _, n, s)) => (n, s) == totals(u) }
      }
    }

  private val genScores: Gen[List[(Double, Int)]] =
    Gen.listOfN(14, for {
      sc <- Gen.choose(0, 20).map(_ / 10.0) // coarse grid -> constant ties
      y <- Gen.choose(0, 1)
    } yield (sc, y))

  property("kendallTau: |tau_b| <= 1 and sign flips under y negation") =
    forAll(genScores) { rows =>
      import spark.implicits._
      val d = rows.toDF("x", "y")
      val r = graft.operators.Evaluation.kendallTau(d, col("x"), col("y"))
        .collect().head
      val tauOk = r.isNullAt(4) || math.abs(r.getDouble(4)) <= 1.0 + 1e-9
      val neg = graft.operators.Evaluation.kendallTau(
        d.withColumn("y", -col("y")), col("x"), col("y")).collect().head
      val signOk = (r.isNullAt(4) && neg.isNullAt(4)) ||
        (!r.isNullAt(4) && !neg.isNullAt(4) &&
          math.abs(r.getDouble(4) + neg.getDouble(4)) < 1e-9)
      tauOk && signOk
    }

  property("jsDivergence: symmetric, zero on self, bounded by ln 2") =
    forAll(genScores, genScores) { (a0, b0) =>
      import spark.implicits._
      val a = a0.toDF("b", "y").select(col("b"))
      val b = b0.toDF("b", "y").select(col("b"))
      val ab = graft.operators.Evaluation.jsDivergence(a, b, col("b"))
        .collect().head
      val ba = graft.operators.Evaluation.jsDivergence(b, a, col("b"))
        .collect().head
      val self = graft.operators.Evaluation.jsDivergence(a, a, col("b"))
        .collect().head
      val v = if (ab.isNullAt(3)) Double.NaN else ab.getDouble(3)
      val sym = (ab.isNullAt(3) && ba.isNullAt(3)) ||
        math.abs(v - ba.getDouble(3)) < 1e-9
      val bounded = ab.isNullAt(3) || (v >= -1e-9 && v <= math.log(2.0) + 1e-9)
      val zero = self.isNullAt(3) || self.getDouble(3) == 0.0
      sym && bounded && zero
    }

  property("winsorizedStats: means inside [fence_low, fence_high] fences") =
    forAll(Gen.listOfN(12, Gen.choose(-50, 50))) { vs0 =>
      vs0.nonEmpty ==> {
        import spark.implicits._
        val d = vs0.map(v => ("g", v.toDouble)).toDF("g", "v")
        val r = graft.operators.Profiling
          .winsorizedStats(d, "g", col("v"), alpha = 0.2).collect().head
        val lo = r.getDouble(3); val hi = r.getDouble(4)
        val tm = r.getDouble(5); val wm = r.getDouble(6)
        lo <= hi && tm >= lo - 1e-6 && tm <= hi + 1e-6 &&
          wm >= lo - 1e-6 && wm <= hi + 1e-6
      }
    }

  property("rankBiasedOverlap in [0, 1]; 1 iff compared with itself at full depth") =
    forAll(Gen.listOfN(8, Gen.choose(0, 100))) { ids0 =>
      val ids = ids0.distinct
      (ids.size >= 2) ==> {
        import spark.implicits._
        val a = ids.zipWithIndex.map { case (id, i) =>
          (id.toLong, (100 - i).toDouble) }.toDF("id", "s")
        val b = ids.reverse.zipWithIndex.map { case (id, i) =>
          (id.toLong, (100 - i).toDouble) }.toDF("id", "s")
        val r = graft.operators.Evaluation.rankBiasedOverlap(
          a, b, col("id"), col("s"), k = ids.size, p = 0.5)
          .collect().head.getDouble(3)
        val self = graft.operators.Evaluation.rankBiasedOverlap(
          a, a, col("id"), col("s"), k = ids.size, p = 0.5)
          .collect().head.getDouble(3)
        r >= 0.0 && r <= 1.0 &&
          self == BigDecimal(1.0 - math.pow(0.5, ids.size))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }

  property("fleissKappa: unanimous panels score 1 when both categories occur") =
    forAll(Gen.listOfN(8, Gen.choose(0, 1))) { bits =>
      (bits.distinct.size == 2) ==> {
        import spark.implicits._
        val d = bits.map(b => (b, b, b)).toDF("r1", "r2", "r3")
        graft.operators.Evaluation.fleissKappa(d,
          Seq(col("r1"), col("r2"), col("r3")))
          .collect().head.getDouble(4) == 1.0
      }
    }

  property("sharedSpanOnPairs: longest run equals a driver-side LCS-at-k replay") =
    forAll(Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc")),
      Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc"))) { (t1, t2) =>
      import spark.implicits._
      val k = 2
      val docs = Seq((1L, t1.mkString(" ")), (2L, t2.mkString(" ")))
        .toDF("doc_id", "text")
      val pairs = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
      val row = TextDedup.sharedSpanOnPairs(pairs, docs, "text", "doc_id",
        k = k).collect().head
      val (nShared, longest) = (row.getLong(2), row.getLong(3))
      def grams(ts: List[String]) =
        (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" "))
      val (g1, g2) = (grams(t1), grams(t2))
      // driver replay: matching position pairs, runs along diagonals
      val matches = for {
        (ga, pa) <- g1.zipWithIndex; (gb, pb) <- g2.zipWithIndex
        if ga == gb } yield (pa, pb)
      val expectShared = matches.size.toLong
      val byDiag = matches.groupBy { case (pa, pb) => pa - pb }
      val expectLongest =
        if (matches.isEmpty) 0L
        else byDiag.values.map { ps =>
          val sorted = ps.map(_._1).sorted
          sorted.foldLeft((0, 0, -99)) { case ((best, cur, prev), p) =>
            val c = if (p == prev + 1) cur + 1 else 1
            (math.max(best, c), c, p)
          }._1
        }.max.toLong + (k - 1)
      nShared == expectShared && longest == expectLongest
    }

  property("minhashCalibration: estimate quantized to k-ths, 1.0 on clones") =
    forAll(Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd"))) { ts =>
      import spark.implicits._
      val text = ts.mkString(" ")
      val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 2)
      val pairs = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
      val r = TextDedup.minhashCalibration(pairs, sigs, docs, "text",
        "doc_id").collect().head
      // identical docs: every signature component agrees, exact j = 1
      r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0
    }

  property("contaminatedSpans equals an independent driver-side replay") =
    forAll(Gen.listOfN(4, Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc"))),
      Gen.listOfN(2, Gen.listOfN(4, Gen.oneOf("aa", "bb", "dd")))) {
      (train0, eval0) =>
        import spark.implicits._
        val k = 2
        val train = train0.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        val evalDocs = eval0.zipWithIndex
          .map { case (ts, i) => (100L + i, ts.mkString(" ")) }
        val got = TextDedup.contaminatedSpans(
            train.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"),
            "text", "doc_id", k = k)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        def grams(text: String): List[(Int, String)] = {
          val t = text.split(" ", -1)
          (1 to math.max(t.length - k + 1, 1))
            .map(p => p -> t.slice(p - 1, p - 1 + k).mkString(" ")).toList
        }
        val evalSet = evalDocs.flatMap(d => grams(d._2).map(_._2)).toSet
        val expect = train.flatMap { case (id, text) =>
          val hitPos = grams(text).collect {
            case (p, g) if evalSet(g) => p }
          hitPos.foldLeft(List.empty[List[Int]]) {
            case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
              (p :: acc.head) :: acc.tail
            case (acc, p) => List(p) :: acc
          }.map(run => (id, run.min.toLong, (run.max + k - 1).toLong,
            run.size.toLong))
        }.toSet
        got == expect
    }

  property("winnowPairs detects every planted shared run of >= w+k-1 tokens") =
    forAll(Gen.listOfN(4, Gen.oneOf("p", "q", "r", "s")),
      Gen.listOfN(6, Gen.oneOf("t", "u", "v", "w"))) { (shared0, noise) =>
      import spark.implicits._
      val (k, w) = (2, 3)
      // a shared run of exactly w + k - 1 = 4 distinct-ish tokens,
      // embedded at different offsets in two docs of otherwise
      // disjoint vocabulary — the MOSS guarantee says the pair MUST
      // surface with >= 1 shared fingerprint
      val shared = shared0.zipWithIndex.map { case (t, i) => s"$t$i" }
      val d1 = (noise.take(3).map(_ + "1") ++ shared).mkString(" ")
      val d2 = (shared ++ noise.drop(3).map(_ + "2")).mkString(" ")
      val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      val out = TextDedup.winnowPairs(docs, "text", "doc_id",
        k = k, w = w, minShared = 1).collect()
      out.length == 1 && out.head.getLong(0) == 1L &&
        out.head.getLong(1) == 2L
    }

  property("valueAtRankOf equals the driver-sorted order statistic and " +
    "reports the exact total") =
    forAll(Gen.listOf(Gen.choose(0, 50)), Gen.choose(1, 60)) { (xs, r) =>
      import spark.implicits._
      val df = xs.toDF("v")
      val got = Relational.valueAtRankOf(df, Seq(col("v").asc))(_ => r.toLong)
      val expect = xs.sorted.drop(r - 1).headOption
      got.map(_._1.getInt(0)) == expect &&
        got.forall(_._2 == xs.length.toLong)
    }

  property("winnowContainment: planted shared run of >= w+k-1 tokens " +
    "always hits; disjoint vocab never does") =
    forAll(Gen.listOfN(4, Gen.oneOf("p", "q", "r", "s")),
      Gen.listOfN(9, Gen.oneOf("t", "u", "v", "w")),
      Gen.choose(0, 3)) { (shared0, noise, off) =>
      import spark.implicits._
      val (k, w) = (2, 3)
      // the winnowing guarantee: a shared run of w + k - 1 = 4 tokens
      // MUST share at least one fingerprint, wherever it sits in the
      // train doc — so hit_share > 0 for the contaminated doc. The
      // clean doc's vocabulary is disjoint from eval ("<tok>c" suffix)
      // so its hit_share must be exactly 0.
      val shared = shared0.zipWithIndex.map { case (t, i) => s"$t$i" }
      val train1 = (noise.take(off).map(_ + "1") ++ shared ++
        noise.slice(off, 6).map(_ + "1")).mkString(" ")
      val clean = noise.map(_ + "c").mkString(" ")
      val evalDoc = (noise.drop(6).map(_ + "e") ++ shared).mkString(" ")
      val train = Seq((1L, train1), (2L, clean)).toDF("doc_id", "text")
      val ev = Seq((100L, evalDoc)).toDF("doc_id", "text")
      val got = TextDedup.winnowContainment(train, ev, "text", "doc_id",
          k = k, w = w)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      got(1L) > 0.0 && got(2L) == 0.0
    }

  property("coOccurrenceEdges maxBasket boundary: exactly-at-cap passes " +
    "(multiplicity collapsed first), cap+1 raises naming the operator") =
    forAll(Gen.choose(2, 5), Gen.choose(1, 3)) { (cap, dup) =>
      import spark.implicits._
      // one group holding exactly `cap` DISTINCT items, each row
      // repeated `dup` times: collect_set dedups in the buffer, so the
      // guard must see `cap`, not cap*dup — at-cap passes with the full
      // C(cap,2) pair set
      val atCap = (0 until cap).flatMap(i =>
        Seq.fill(dup)((1L, s"i$i"))).toDF("g", "i")
      val edges = graft.operators.Itemsets
        .coOccurrenceEdges(atCap, "g", "i", maxBasket = cap).collect()
      val okAt = edges.length == cap * (cap - 1) / 2 &&
        edges.forall(_.getLong(2) == 1L)
      // one more distinct item tips the same group over the cap
      val over = atCap.union(Seq((1L, s"i$cap")).toDF("g", "i"))
      val ex = scala.util.Try(graft.operators.Itemsets
        .coOccurrenceEdges(over, "g", "i", maxBasket = cap).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val okOver = ex.isFailure &&
        msgs(ex.failed.get).exists(_.contains("coOccurrenceEdges"))
      okAt && okOver
    }

  property("duplicatedSpans equals an independent driver-side replay") =
    forAll(Gen.listOfN(5, Gen.listOfN(7, Gen.oneOf("aa", "bb", "cc", "dd")))) {
      docs0 =>
        import spark.implicits._
        val k = 2
        val docs = docs0.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        val got = TextDedup.duplicatedSpans(
            docs.toDF("doc_id", "text"), "text", "doc_id", k = k)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        // independent replay: grams -> distinct-carrier counts ->
        // duplicated positions -> maximal islands
        val grams = docs.map { case (id, text) =>
          val t = text.split(" ", -1)
          id -> (1 to math.max(t.length - k + 1, 1))
            .map(p => p -> t.slice(p - 1, p - 1 + k).mkString(" ")).toList
        }
        val carriers = grams.flatMap { case (id, gs) =>
          gs.map(g => g._2 -> id) }.groupBy(_._1)
          .view.mapValues(_.map(_._2).distinct.size).toMap
        val expect = grams.flatMap { case (id, gs) =>
          val dupPos = gs.collect {
            case (p, g) if carriers(g) >= 2 => p }
          // island split on non-consecutive positions
          dupPos.foldLeft(List.empty[List[Int]]) {
            case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
              (p :: acc.head) :: acc.tail
            case (acc, p) => List(p) :: acc
          }.map(run => (id, run.min.toLong, (run.max + k - 1).toLong,
            run.size.toLong))
        }.toSet
        got == expect
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  property("duplicatedTokenImpact equals an independent interval-merge replay") =
    forAll(Gen.listOfN(5, Gen.zip(Gen.oneOf("s1", "s2"),
      Gen.listOfN(7, Gen.oneOf("aa", "bb", "cc"))))) { docs0 =>
      import spark.implicits._
      val k = 2
      val docs = docs0.zipWithIndex
        .map { case ((src, ts), i) => (i.toLong, src, ts.mkString(" ")) }
      val got = graft.operators.TextDedup.duplicatedTokenImpact(
          docs.toDF("doc_id", "source", "text"), "text", "doc_id",
          "source", k = k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .toSet
      // replay: duplicated positions -> maximal gram islands -> token
      // intervals [min, max+k-1] -> overlap-merge sweep -> per-source
      def gramsOf(text: String): List[(Int, String)] = {
        val t = text.split(" ", -1)
        (1 to math.max(t.length - k + 1, 1))
          .map(p => p -> t.slice(p - 1, p - 1 + k).mkString(" ")).toList
      }
      val carriers = docs.flatMap { case (id, _, tx) =>
        gramsOf(tx).map(g => g._2 -> id) }.groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct.size).toMap
      def dupTokens(text: String): Long = {
        val dupPos = gramsOf(text).collect {
          case (p, g) if carriers(g) >= 2 => p }
        val islands = dupPos.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }.map(run => (run.min.toLong, (run.max + k - 1).toLong)).reverse
        // overlap/touch merge (island i+1 can start inside interval i)
        val merged = islands.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
          case (acc, iv) => iv :: acc
        }
        merged.map { case (s, e) => e - s + 1L }.sum
      }
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = docs.groupBy(_._2).map { case (src, ds) =>
        val tot = ds.map(_._3.split(" ", -1).length.toLong).sum
        val dup = ds.map(d => dupTokens(d._3)).sum
        (src, ds.size.toLong, tot, dup, r6(dup.toDouble / tot.toDouble))
      }.toSet
      got == expect
    }

  property("coOccurrenceEdges(minGroups=1) equals coOccurrencePairs sans cut") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(1L, 4L),
      Gen.oneOf("a", "b", "c", "d")))) { rows0 =>
      import spark.implicits._
      val df = rows0.toDF("g", "i")
      val edges = graft.operators.Itemsets.coOccurrenceEdges(df, "g", "i")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val pairs = graft.operators.Itemsets.coOccurrencePairs(df, "g", "i",
          topK = 1000)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      edges == pairs
    }

  property("weightedContamination equals an integer-exact driver replay") =
    forAll(Gen.listOfN(4, Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc"))),
      Gen.listOfN(2, Gen.listOfN(4, Gen.oneOf("aa", "bb", "dd")))) {
      (train0, eval0) =>
        import spark.implicits._
        val k = 2
        val train = train0.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        val evalDocs = eval0.zipWithIndex
          .map { case (ts, i) => (100L + i, ts.mkString(" ")) }
        val got = graft.operators.TextDedup.weightedContamination(
            train.toDF("doc_id", "text"), evalDocs.toDF("doc_id", "text"),
            "text", "doc_id", k = k)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
          .toSet
        // replay: DISTINCT grams per doc; df = distinct train carriers;
        // weight = floor(1e6 / df); share = overlap weight / total weight
        def gramsOf(text: String): Set[String] = {
          val t = text.split(" ", -1)
          (1 to math.max(t.length - k + 1, 1))
            .map(p => t.slice(p - 1, p - 1 + k).mkString(" ")).toSet
        }
        val tg = train.map { case (id, tx) => id -> gramsOf(tx) }
        val dfc = tg.flatMap { case (id, gs) => gs.map(_ -> id) }
          .groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val evalSet = evalDocs.flatMap(d => gramsOf(d._2)).toSet
        def r6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val expect = tg.flatMap { case (id, gs) =>
          val w = gs.toSeq.map(g => g -> (1000000L / dfc(g)))
          val ow = w.collect { case (g, x) if evalSet(g) => x }.sum
          val nOv = gs.count(evalSet)
          if (nOv >= 1)
            Some((id, gs.size.toLong, nOv.toLong,
              r6(ow.toDouble / w.map(_._2).sum.toDouble)))
          else None
        }.toSet
        got == expect
    }

  property("dsirResample equals the driver replay on random corpora") =
    forAll(Gen.listOfN(5, Gen.listOfN(5, Gen.oneOf("aa", "bb", "cc"))),
      Gen.listOfN(2, Gen.listOfN(4, Gen.oneOf("aa", "bb", "dd")))) {
      (pool0, tgt0) =>
        import spark.implicits._
        val B = 8
        val pool = pool0.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        val target = tgt0.zipWithIndex
          .map { case (ts, i) => (100L + i, ts.mkString(" ")) }
        val got = graft.operators.Curation.dsirResample(
            pool.toDF("doc_id", "text"), target.toDF("doc_id", "text"),
            "text", "doc_id", k = pool.size, numBuckets = B)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3)))
        def gramsOf(text: String): Seq[Long] = {
          val t = text.split(" ", -1).toSeq
          val bi = (1 to math.max(t.size - 1, 1)).map(i =>
            t.slice(i - 1, i + 1).mkString(" "))
          (t ++ bi).map(g =>
            java.lang.Long.parseLong(md5hex(g).take(8), 16) % B)
        }
        val pg = pool.map { case (id, tx) => id -> gramsOf(tx) }
        val tg = target.flatMap(d => gramsOf(d._2))
        val cs = pg.flatMap(_._2).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val ct = tg.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val (ns, nt) = (pg.map(_._2.size).sum.toDouble, tg.size.toDouble)
        def lr(b: Long) =
          math.log((ct.getOrElse(b, 0L) + 1.0) / (nt + B)) -
            math.log((cs.getOrElse(b, 0L) + 1.0) / (ns + B))
        def r6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val expect = pg.map { case (id, bs) =>
          val lw = bs.map(lr).sum
          val h13 = java.lang.Long.parseLong(md5hex(id.toString).take(13), 16)
          val u = (h13 + 0.5) / 4503599627370496.0
          (id, bs.size.toLong, r6(lw), r6(lw - math.log(-math.log(u))))
        }.sortBy(e => (-e._4, e._1))
        got.toSeq == expect
    }

  property("winnowPairs equals a full driver-side winnowing + Jaccard replay") =
    forAll(Gen.listOfN(4, Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc")))) {
      docs0 =>
        import spark.implicits._
        val (k, w) = (2, 2)
        val docs = docs0.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        val got = graft.operators.TextDedup.winnowPairs(
            docs.toDF("doc_id", "text"), "text", "doc_id",
            k = k, w = w, minShared = 1)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
          .toSet
        def fingerprints(text: String): Set[String] = {
          val t = text.split(" ", -1)
          val gh = (1 to math.max(t.length - k + 1, 1))
            .map(p => md5hex(t.slice(p - 1, p - 1 + k).mkString(" ")))
          (1 to math.max(gh.length - w + 1, 1))
            .map(i => gh.slice(i - 1, i - 1 + w).min).toSet
        }
        def r6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val fps = docs.map { case (id, tx) => id -> fingerprints(tx) }.toMap
        val toks = docs.map { case (id, tx) =>
          id -> tx.split(" ", -1).toSet }.toMap
        val expect = (for {
          (a, _) <- docs; (b, _) <- docs if a < b
          shared = (fps(a) intersect fps(b)).size if shared >= 1
        } yield (a, b, shared.toLong,
          r6((toks(a) intersect toks(b)).size.toDouble /
            (toks(a) union toks(b)).size.toDouble))).toSet
        got == expect
    }

  // NULL-bearing as-of join vs a driver replay of its contract: the
  // latest right row with rt <= lt among the left row's key, where NULL
  // keys never match, NULL right times never match, and NULL left times
  // give the NULL-padded row. Random tables with ~25% NULLs in every
  // role keep all three branches hot — a NULL-time right row heading
  // its key group is exactly a case a fixed fixture once missed.
  private val genAsofRow: Gen[(Option[Int], Option[Int], Int)] = for {
    k <- Gen.option(Gen.choose(0, 3))
    t <- Gen.option(Gen.choose(0, 5))
    v <- Gen.choose(0, 100)
  } yield (k, t, v)

  property("asofJoin equals a driver replay under random NULLs") =
    forAll(Gen.listOfN(10, genAsofRow), Gen.listOfN(10, genAsofRow)) {
      (l0, r0) =>
        import spark.implicits._
        def ts(o: Option[Int]) =
          o.map(t => Timestamp.valueOf(f"2024-01-01 0$t%d:00:00")).orNull
        val left = l0.zipWithIndex.map { case ((k, t, v), i) =>
          (k.map(_.toLong), ts(t), i.toLong) }
          .toDF("k", "lt", "lid")
          .select(col("k").cast("long").as("k"), col("lt"), col("lid"))
        // one right row per (k, rt) so exact-tie winners are
        // deterministic (the q222 fixture discipline)
        val right = r0.map { case (k, t, v) =>
          (k.map(_.toLong), ts(t), v.toDouble) }
          .toDF("k", "rt", "price")
          .select(col("k").cast("long").as("k"), col("rt"), col("price"))
          .groupBy("k", "rt").agg(max(col("price")).as("price"))
        val got = Relational.asofJoin(
            left, right, "k", "lt", "rt", Seq("price"))
          .select("lid", "price").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
        val rightRows = r0.collect { case (Some(k), Some(t), v) => (k, t, v) }
          .groupBy { case (k, t, _) => (k, t) }.values.map(_.maxBy(_._3))
        val expect = l0.zipWithIndex.map { case ((lk, lt, _), i) =>
          val hits = for (k <- lk.toSeq; t <- lt.toSeq;
              (rk, rt, v) <- rightRows if rk == k && rt <= t) yield (rt, v)
          i.toLong -> (if (hits.isEmpty) Double.NaN
            else hits.maxBy(_._1)._2.toDouble)
        }.toMap
        (got.keySet == expect.keySet) && got.keySet.forall { id =>
          val (a, b) = (got(id), expect(id))
          (a.isNaN && b.isNaN) || a == b
        }
    }

  // vocabFertility vs a driver replay of the whole contract: top-V
  // election order (count desc, token asc), OOV = rank absent or > V,
  // units = count in-vocab / count·max(len,1) shattered, HALF_UP at 6.
  private val genWord: Gen[String] =
    Gen.oneOf("aa", "b", "ccc", "dd", "e", "ffff")
  private val genDoc: Gen[(Int, String)] = for {
    g <- Gen.choose(0, 1)
    ws <- Gen.listOfN(4, genWord)
  } yield (g, ws.mkString(" "))

  property("vocabFertility equals a driver replay of election + arithmetic") =
    forAll(Gen.listOfN(6, genDoc), Gen.choose(1, 4)) { (docs0, v1) =>
      import spark.implicits._
      val sizes = Seq(v1, v1 + 2)
      val docs = docs0.map { case (g, t) => (s"g$g", t) }
        .toDF("source", "text")
      val got = graft.operators.CorpusStats
        .vocabFertility(docs, "text", "source", sizes)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getDouble(6), r.getDouble(7), r.getDouble(8))).toMap
      spark.catalog.clearCache() // operator contract: persisted type table
      // driver replay
      val toks = docs0.flatMap { case (g, t) =>
        t.split(" ", -1).map(w => (s"g$g", w)) }
      val perGW = toks.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      val global = toks.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
      val ranked = global.toSeq.sortBy { case (w, c) => (-c, w) }
        .zipWithIndex.map { case ((w, _), i) => w -> (i + 1) }.toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val groups = docs0.map(d => s"g${d._1}").distinct
      val expect = (for { g <- groups; v <- sizes } yield {
        val gw = perGW.collect { case ((gg, w), c) if gg == g => (w, c) }.toSeq
        val nw = gw.map(_._2).sum
        val nc = gw.map { case (w, c) => w.length.toLong * c }.sum
        val oov = gw.collect { case (w, c)
          if !ranked.get(w).exists(_ <= v) => c }.sum
        val units = gw.map { case (w, c) =>
          if (ranked.get(w).exists(_ <= v)) c
          else math.max(w.length, 1).toLong * c }.sum
        (v.toLong, g) -> (nw, oov, units, nc,
          r6(units.toDouble / nw), r6(oov.toDouble / nw),
          r6(nc.toDouble / units))
      }).toMap
      got == expect
    }
}
