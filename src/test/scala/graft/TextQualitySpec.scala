package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.CorpusStats

class TextQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("repetition signals separate boilerplate from prose") {
    val df = TestSpark.strings("t", Seq(
      "buy now buy now buy now buy now",  // dominated by one bigram
      "the quick brown fox jumps over dogs"))
      .select(
        TextFunctions.topBigramFraction(col("t")).as("f"),
        TextFunctions.distinctBigramRatio(col("t")).as("r"))
      .collect()
    assert(df(0).getDouble(0) > 0.5)      // "now buy"/"buy now" dominate
    assert(df(1).getDouble(0) < 0.3)
    assert(df(0).getDouble(1) < df(1).getDouble(1))
    assert(df(1).getDouble(1) == 1.0)     // all bigrams distinct
  }

  test("tokenTf matches explode+groupBy on edge cases: empties, spaces, unicode, nulls") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("t", StringType, nullable = true)))
    val rows = Seq(
      Row(0, "a b a c a b"),
      Row(1, ""),                    // single empty token
      Row(2, "  "),                  // three empty tokens
      Row(3, " lead and  trail "),   // leading/double/trailing spaces
      Row(4, "héllo wörld héllo 日本語"), // multi-byte UTF-8
      Row(5, null))
    // RDD-backed so the codegen path actually runs (not a LocalRelation).
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val got = df.select(col("id"), explode(TextFunctions.tokenTf(col("t"))))
      .select(col("id"), col("key"), col("value")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val want = df.select(col("id"),
        explode(TextFunctions.tokens(col("t"))).as("key"))
      .groupBy("id", "key").agg(count(lit(1)).as("value")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.contains((0, "a", 3L)) && got.contains((2, "", 3L)))
    // null text → null map → explode drops the row, same as split(null)
    assert(!got.exists(_._1 == 5))
  }

  test("countInSet counts duplicate hits, skips nulls and misses, matches HOF form") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("a", ArrayType(StringType, containsNull = true))))
    val rows = Seq(
      Row(Seq("the", "the", "cat", null, "and")),
      Row(Seq.empty[String]),
      Row(null))
    // RDD-backed (not a LocalRelation) so the codegen path actually runs.
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val markers = Seq("the", "and", "of")
    val got = df.select(TextFunctions.countInSet(col("a"), markers).as("n")).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(got == Seq(3L, 0L, -1L))
    // parity with the interpreted HOF spelling on the same rows
    val m = array(markers.map(lit): _*)
    val hof = df.select(size(filter(col("a"), x => array_contains(m, x))).cast("long").as("n"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(hof == got)
  }

  test("countInSet rejects a non-string array at analysis") {
    // Without the type gate an array<int> reached execution, where
    // UnsafeArrayData.getUTF8String reinterpreted int slots as garbage.
    val ints = spark.range(1).select(array(lit(1), lit(2), lit(3)).as("a"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(TextFunctions.countInSet(col("a"), Seq("the", "and"))).collect()
    }
    assert(e.getMessage.contains("requires array<string> input"), e.getMessage)
  }

  test("winnowFingerprint is md5 of the minimum gram; a shorter text hashes whole") {
    // 'abcd', gram 3 -> grams {abc, bcd}; gram 16 -> one truncated gram
    val r = TestSpark.strings("t", Seq("abcd"))
      .select(TextFunctions.winnowFingerprint(col("t"), 3),
        least(md5(lit("abc")), md5(lit("bcd"))),
        TextFunctions.winnowFingerprint(col("t"), 16), md5(col("t")))
      .collect().head
    assert(r.getString(0) == r.getString(1))
    assert(r.getString(2) == r.getString(3))
  }

  test("rareTokenStats: rarity is corpus-relative (c·V < T), exact on integers") {
    import spark.implicits._
    // Corpus: "the" appears 6×, "cat"/"dog" 1× each → T=8, V=3, mean 8/3.
    // Rare ⇔ c·3 < 8 ⇔ c ≤ 2: cat and dog are rare, the is not.
    val docs = Seq(
      (1L, "the the the cat"),
      (2L, "the the the dog")).toDF("doc_id", "text")
    val out = CorpusStats.rareTokenStats(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getLong(1) == 4L)           // n_tokens
      assert(r.getLong(2) == 1L)           // n_rare (cat / dog)
      assert(r.getDouble(3) == 0.25)       // rare_frac
      assert(r.getLong(4) == 1L)           // min_cf
      assert(r.getLong(5) == 6L)           // max_cf
    }
  }

  test("scrubPii replaces all emails and phones, leaves prose alone") {
    val out = TestSpark.strings("t", Seq(
      "mail a.b_c%x+1@sub.example.co and x@y.io or call 555-123-4567 then 123-456-7890",
      "no pii here 12-34"))
      .select(TextFunctions.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail <EMAIL> and <EMAIL> or call <PHONE> then <PHONE>")
    assert(out(1) == "no pii here 12-34")
  }

  test("corpus-scale repetitionSignals equals the per-row expressions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),
      (2L, "the quick brown fox jumps over dogs"),
      (3L, "one")).toDF("doc_id", "text") // single token → one truncated bigram
    val viaOp = CorpusStats.repetitionSignals(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val viaExpr = docs.select(col("doc_id"),
        TextFunctions.topBigramFraction(col("text")),
        TextFunctions.distinctBigramRatio(col("text")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(viaOp.toList == viaExpr.toList)
  }

  test("corpusReport rolls up volumes, mean quality, and dup fraction per cell") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat", "web", "en"),
      (2L, "the cat sat", "web", "en"), // exact dup of 1
      (3L, "dog runs far and fast", "web", "en"),
      (4L, "uno dos tres", "web", "es")
    ).toDF("doc_id", "text", "source", "lang")
    val r = CorpusStats.corpusReport(docs, "text", "source", "lang")
      .orderBy("source", "lang").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(6)))
    assert(r.toList == List(
      ("web", "en", 3L, 11L, 0.666667),  // 2 of 3 en docs are dup copies
      ("web", "es", 1L, 3L, 0.0)))
  }

  test("charEntropy: 0 for constant text, 1 bit for a balanced two-char alphabet") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "abab"), (3L, "ab")).toDF("doc_id", "text")
    val e = CorpusStats.charEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(e.toList == List((1L, 4L, 0.0), (2L, 4L, 1.0), (3L, 2L, 1.0)))
  }

  test("normalizeText folds case, punctuation, and whitespace runs") {
    import org.apache.spark.sql.functions.col
    val out = TestSpark.strings("t", Seq(
      "Hello,  World!", "hello world", "  a--b  ", null))
      .select(graft.functions.TextFunctions.normalizeText(col("t")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out(0).get == "hello world")
    assert(out(1).get == "hello world")
    assert(out(2).get == "a b")
    assert(out(3).isEmpty)
  }

  test("tfIdfTopTerms ranks by tf·ln(N/df) with token tiebreak, keeps k") {
    import spark.implicits._
    // N=3. tf: d1 a=2,b=1; d2 b=1,c=1; d3 c=3.
    // df: a=1, b=2, c=2. idf: ln3=1.098612, ln1.5=0.405465.
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c")).toDF("doc_id", "text")
    val out = CorpusStats.tfIdfTopTerms(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    assert(out.toList == List(
      (1L, 1, "a", 2L, 2.197225), (1L, 2, "b", 1L, 0.405465),
      (2L, 1, "b", 1L, 0.405465), (2L, 2, "c", 1L, 0.405465),
      (3L, 1, "c", 3L, 1.216395)))
  }

  test("vocabulary counts, prunes by minCount, orders by frequency then token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b z")).toDF("doc_id", "text")
    val v = CorpusStats.vocabulary(docs, "text", "doc_id", minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(v.toList == List(("a", 4L, 2L), ("b", 3L, 2L)))
    // topK truncation
    val v1 = CorpusStats.vocabulary(docs, "text", "doc_id", 1, 2)
      .collect().map(_.getString(0))
    assert(v1.toList == List("a", "b"))
  }

  test("mixturePlan allocates proportional shares, clamped by size and cap") {
    import spark.implicits._
    // tokens: big=60, mid=30, tiny=10 -> total 100; budget 50% = 50;
    // cap 20% of budget = 10. Shares: big 30->cap 10, mid 15->cap 10,
    // tiny 5 (proportional, under both its size and the cap).
    val docs = Seq(
      ("big", ("t " * 60).trim), ("mid", ("t " * 30).trim),
      ("tiny", ("t " * 10).trim)).toDF("source", "text")
    val out = CorpusStats.mixturePlan(docs, "text", "source",
        budgetPpm = 500000L, maxSourcePpm = 200000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toList == List(
      ("big", 60L, 10L, 0.166667),
      ("mid", 30L, 10L, 0.333333),
      ("tiny", 10L, 5L, 0.5)))
  }

  test("mixturePlan never allocates more than a source holds") {
    import spark.implicits._
    // one dominant source: its proportional share exceeds the other's
    // whole size; the small source must be clamped to its own tokens
    val docs = Seq(
      ("a", ("t " * 99).trim), ("b", "t")).toDF("source", "text")
    val out = CorpusStats.mixturePlan(docs, "text", "source",
        budgetPpm = 1000000L, maxSourcePpm = 1000000L)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(out.toList == List(("a", 99L), ("b", 1L)))
  }

  test("collocations: counts exact, PMI separates phrases from chance pairs") {
    import spark.implicits._
    // "x y" always adjacent (strong collocation); "a b" co-occur by
    // volume (weak). 3 docs of "x y", 1 doc of "a b a b a b".
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"),
      (4L, "a b a b a b")).toDF("doc_id", "text")
    val out = CorpusStats.collocations(docs, "text", "doc_id", topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // top-2 by count: "a b" x3 (within doc 4) ties "x y" x3; order w1 asc
    assert(out.toList == List(("a", "b", 3L), ("x", "y", 3L)))
    val pmi = CorpusStats.collocations(docs, "text", "doc_id", topK = 2)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    // "x y": p(xy)=3/8 bigrams, p(x)=p(y)=3/12 unigrams -> ln(6) > 0
    assert(pmi.find(_._1 == "x").get._2 == math.round(
      math.log((3.0 / 8) / ((3.0 / 12) * (3.0 / 12))) * 1e6) / 1e6)
  }

  test("cooccurrencePmi: windowed unordered pairs, exact counts, ppmi floor") {
    import spark.implicits._
    // window=2 over "x y z": j=1 gives {x,y},{y,z}; j=2 gives {x,z}.
    // Each unigram count 1, T_u = 3, T_p = 3:
    // ppmi({x,y}) = max(0, ln((1/3)/((1/3)*(1/3)))) = ln 3.
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val out = CorpusStats.cooccurrencePmi(docs, "text", window = 2, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val ln3 = math.round(math.log(3.0) * 1e6) / 1e6
    assert(out == Map(("x", "y") -> ((1L, ln3)), ("x", "z") -> ((1L, ln3)),
      ("y", "z") -> ((1L, ln3))))
    // repeated token: "a a a" pairs to {a,a} three times (2 at j=1, 1 at
    // j=2) and the over-represented pair floors at ppmi >= 0
    val rep = CorpusStats.cooccurrencePmi(
        Seq((1L, "a a a")).toDF("doc_id", "text"), "text", 2, 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rep.toList == List(("a", "a", 3L)))
  }

  test("normalizationAudit: decomposed rows counted, composed rows clean") {
    import spark.implicits._
    val docs = Seq(
      ("s", "plain ascii"),
      ("s", "cafe\u0301"),   // e + combining acute: NFC composes, 1 shorter
      ("s", "caf\u00e9"))    // already composed
      .toDF("source", "text")
    val r = CorpusStats.normalizationAudit(docs, "text", "source")
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ("s", 3L, 1L, 1L, 0.333333))
  }

  test("lengthDeciles selects exact order statistics per source") {
    import spark.implicits._
    // 10 docs of lengths 1..10 -> p10=1, p50=5, p90=9 (rank ceil(10k/10))
    val docs = (1 to 10).map(i => ("s", i.toLong, ("t " * i).trim))
      .toDF("source", "doc_id", "text")
    val r = CorpusStats.lengthDeciles(docs, "text", "doc_id", "source")
      .collect().head
    assert(r.getLong(1) == 10L) // n_docs
    assert((2 to 10).map(r.getLong).toList ==
      List(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("ngramNovelty: first carrier owns the gram, late copies score zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // grams {abc, bcd} — all novel
      (2L, "a b c d"),   // exact copy — nothing novel
      (3L, "a b c x y z") // {abc, bcx, cxy, xyz}: 3 of 4 novel
    ).toDF("doc_id", "text")
    val out = CorpusStats.ngramNovelty(docs, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toList == List(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 0L, 0.0),
      (3L, 4L, 3L, 0.75)))
  }

  test("lengthOutliers: exact median/MAD fences per source") {
    import spark.implicits._
    // lengths 1,2,3,4,100: median 3 (rank ceil(5/2)=3), deviations
    // 2,1,0,1,97 -> sorted 0,1,1,2,97, MAD 1 (rank 3); |100-3| > 3*1
    // and |1-3| <= 3 -> exactly one outlier
    val docs = Seq(1, 2, 3, 4, 100).zipWithIndex.map { case (len, i) =>
      ("s", i.toLong, ("t " * len).trim)
    }.toDF("source", "doc_id", "text")
    val r = CorpusStats.lengthOutliers(docs, "text", "doc_id", "source",
      cutoff = 3.0).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((5L, 3L, 1L, 1L)))
  }

  test("sourceDivergence: hand-computed KL, zero for a lone source, always >= 0") {
    import spark.implicits._
    // A = {a:2, b:1}, B = {a:1, b:2}; corpus = {a:3, b:3}, N = 6, so
    // p_c(a) = p_c(b) = 1/2 and by symmetry both sources share
    // KL = (2/3)ln(4/3) + (1/3)ln(2/3) = 0.056633 at 6 decimals.
    val docs = Seq(("A", "a a b"), ("B", "a b b")).toDF("source", "text")
    val out = CorpusStats.sourceDivergence(docs, "text", "source")
      .orderBy("source").collect()
    val expected = math.rint(
      (2.0 / 3 * math.log(4.0 / 3) + 1.0 / 3 * math.log(2.0 / 3)) * 1e6) / 1e6
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toList ==
      List(("A", 3L, 2L, expected), ("B", 3L, 2L, expected)))
    assert(out.forall(_.getDouble(3) >= 0.0)) // Gibbs' inequality
    // one source IS the corpus: divergence exactly 0
    val lone = CorpusStats.sourceDivergence(
      Seq(("only", "x y z x")).toDF("source", "text"), "text", "source")
      .collect().head
    assert(lone.getDouble(3) == 0.0)
  }

  test("oovRate: membership is a corpus-count threshold, rates per source") {
    import spark.implicits._
    // Corpus counts: x=4 (in-vocab at minCount=3), y=1, z=1 (both OOV).
    val docs = Seq(("a", "x x x y"), ("b", "x z")).toDF("source", "text")
    val out = CorpusStats.oovRate(docs, "text", "source", minCount = 3L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toList
    assert(out == List(("a", 4L, 1L, 1L, 0.25), ("b", 2L, 1L, 1L, 0.5)))
    // vocabulary membership is CORPUS-wide: x stays in-vocab for source b
    // even though b alone has only one x (count 1 < 3).
  }

  test("zipfCoverage: integer-exact threshold cut, including partial count classes") {
    import spark.implicits._
    // counts a=4, b=2, c=1 → histogram {4→1, 2→1, 1→1}, 7 tokens 3 types
    val docs = Seq("a a a a b b c").toDF("text")
    val out = CorpusStats.zipfCoverage(docs, "text",
        Seq(500000L, 900000L, 1000000L))
      .orderBy("threshold_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    // 50%: target ceil(3.5)=4 → the single a-class (c=4) suffices: 1 type.
    // 90%: target ceil(6.3)=7 → a(4)+b(2)=6 < 7, needs c too: 3 types.
    // 100%: target 7 → all 3 types.
    assert(out == List((500000L, 4L, 1L, 3L, 7L),
      (900000L, 7L, 3L, 3L, 7L), (1000000L, 7L, 3L, 3L, 7L)))
    // partial take INSIDE a class: a=2,b=2,c=2,d=1 → hist {2→3, 1→1};
    // 50% target 4 lands mid-class: ceil(4/2) = 2 of the 3 c=2 types.
    val part = CorpusStats.zipfCoverage(
        Seq("a a b b c c d").toDF("text"), "text", Seq(500000L))
      .collect().head
    assert((part.getLong(1), part.getLong(2)) == (4L, 2L))
  }

  test("qualityRules: each rule gates independently; pass_all is the conjunction") {
    import spark.implicits._
    val docs = Seq(
      ("s", "the cat sat"),           // 3 words, meanLen 3.0, stop {the}: all pass
      ("s", "a b"),                   // 2 words fail, meanLen 1.0 fail, stop {a} pass
      ("s", "aaaaa bbbbb ccccc dd"))  // 4 words pass, meanLen 4.25 fail, no stopword
      .toDF("source", "text")
    val r = CorpusStats.qualityRules(docs, "text", "source",
        minWords = 3L, maxWords = 5L, minMeanLen = 2.0, maxMeanLen = 4.0,
        minStopTypes = 1).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getDouble(6)) ==
      ("s", 3L, 2L, 1L, 2L, 1L, 0.333333))
  }

  test("bigramNll: hand-computed add-1 model, OOV context backoff") {
    import spark.implicits._
    // train (odd ids): "a b a" -> (a,b)(b,a); "a b" -> (a,b)
    // held (even ids): "a b c" -> (a,b): -ln(3/4); (b,c): -ln(1/3)
    // V = |{a,b}| = 2; single-token held doc contributes nothing
    val docs = Seq(
      (1L, "g", "a b a"), (3L, "g", "a b"),
      (2L, "g", "a b c"), (4L, "g", "x")
    ).toDF("doc_id", "source", "text")
    val r = CorpusStats.bigramNll(docs, "text", "doc_id", "source",
      holdoutMod = 2).collect().head
    assert(r.getString(0) == "g" && r.getLong(1) == 1 && r.getLong(2) == 2)
    val expected = (-math.log(3.0 / 4.0) + math.log(3.0)) / 2.0
    assert(math.abs(r.getDouble(3) - expected) < 2e-6)
    // unseen CONTEXT (not just unseen bigram) backs off to k/(kV):
    // held "z z" -> -ln(1/(0+2)) = ln 2
    val oov = Seq((1L, "g", "a b"), (2L, "g", "z z"))
      .toDF("doc_id", "source", "text")
    val r2 = CorpusStats.bigramNll(oov, "text", "doc_id", "source",
      holdoutMod = 2).collect().head
    assert(math.abs(r2.getDouble(3) - math.log(2.0)) < 2e-6)
    intercept[IllegalArgumentException] {
      CorpusStats.bigramNll(docs, "text", "doc_id", "source", holdoutMod = 1)
    }
  }

  test("docNll: per-held-doc scores match the hand-computed add-1 model; " +
    "the LM never sees the doc it scores") {
    import spark.implicits._
    // train (odd ids): "a b a" -> (a,b)(b,a); "a b" -> (a,b); V={a,b}
    // held doc 2 "a b c": (a,b) -ln((2+1)/(2+2)); (b,c) -ln((0+1)/(1+2))
    // held doc 4 "b a":   (b,a) -ln((1+1)/(1+2))
    // held doc 6 "x": single token, no bigram -> absent from output
    val docs = Seq(
      (1L, "a b a"), (3L, "a b"),
      (2L, "a b c"), (4L, "b a"), (6L, "x")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNll(docs, "text", "doc_id", holdoutMod = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(2L, 4L))
    val d2 = (-math.log(3.0 / 4.0) + math.log(3.0)) / 2.0
    val d4 = -math.log(2.0 / 3.0)
    assert(out(2L)._1 == 2 && math.abs(out(2L)._2 - d2) < 2e-6)
    assert(out(4L)._1 == 1 && math.abs(out(4L)._2 - d4) < 2e-6)
    // the doc's own bigrams never train the model: doc 2's (b,c) is
    // priced as unseen even though doc 2 itself carries it
    intercept[IllegalArgumentException] {
      CorpusStats.docNll(docs, "text", "doc_id", holdoutMod = 1)
    }
  }

  test("docNllKneserNey: discounted/continuation terms hand-computed; " +
    "unseen history falls to the smoothed continuation alone") {
    import spark.implicits._
    // train (odd ids): "a b a" -> (a,b)(b,a); "a b" -> (a,b)
    // cb: (a,b)=2 (b,a)=1; cu a=2 b=1; n1l a=1 b=1; n1r a=1 b=1;
    // T=2 types; V={a,b}=2; D=0.75
    val docs = Seq(
      (1L, "a b a"), (3L, "a b"),
      (2L, "a b c"), (4L, "b a"), (8L, "c a")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNllKneserNey(docs, "text", "doc_id",
        holdoutMod = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(2L, 4L, 8L))
    val pcB = (1.0 + 1.0) / (2.0 + 2.0) // seen continuation
    val pcC = (0.0 + 1.0) / (2.0 + 2.0) // unseen continuation
    val pcA = (1.0 + 1.0) / (2.0 + 2.0)
    // doc 2 "a b c": (a,b) discounted hit; (b,c) discount floor + cont
    val d2 = (-math.log((math.max(2.0 - 0.75, 0) + 0.75 * 1 * pcB) / 2.0)
      - math.log((math.max(0.0 - 0.75, 0) + 0.75 * 1 * pcC) / 1.0)) / 2.0
    // doc 4 "b a": seen bigram under history b
    val d4 = -math.log((math.max(1.0 - 0.75, 0) + 0.75 * 1 * pcA) / 1.0)
    // doc 8 "c a": history c unseen -> continuation alone
    val d8 = -math.log(pcA)
    assert(out(2L)._1 == 2 && math.abs(out(2L)._2 - d2) < 2e-6)
    assert(out(4L)._1 == 1 && math.abs(out(4L)._2 - d4) < 2e-6)
    assert(out(8L)._1 == 1 && math.abs(out(8L)._2 - d8) < 2e-6)
    intercept[IllegalArgumentException] {
      CorpusStats.docNllKneserNey(docs, "text", "doc_id", holdoutMod = 2,
        discount = 1.5)
    }
  }

  test("docNllKneserNey3: trigram KN hand-computed — discounted top " +
    "level, continuation-count middle, smoothed unigram floor") {
    import spark.implicits._
    // train (odd ids): "a b c a b c" -> c3 (a,b,c)=2 (b,c,a)=1 (c,a,b)=1;
    //                  "a b d"       -> c3 (a,b,d)=1
    // c2h: (a,b) c2p=3 n1h=2; (b,c) 1/1; (c,a) 1/1
    // cc:  (b,c)=1 (c,a)=1 (a,b)=1 (b,d)=1
    // ccu: b=2(n1m 2) c=1(1) a=1(1);  n1r: a=b=c=d=1;  T=4 V=4
    // Pc(seen)=2/8, Pc(unseen)=1/8, D=0.75
    val docs = Seq(
      (1L, "a b c a b c"), (3L, "a b d"),
      (2L, "a b c d"), (4L, "x a b"), (6L, "z z q"), (8L, "a b")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNllKneserNey3(docs, "text", "doc_id",
        holdoutMod = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(2L, 4L, 6L)) // doc 8 has no trigram
    val pc = 2.0 / 8.0
    val pcUnseen = 1.0 / 8.0
    // doc 2 "a b c d": (a,b,c) full hit; (b,c,d) unseen trigram, seen
    // history -> discount floor + back-off into the continuation level
    val p2c = (math.max(1 - 0.75, 0) + 0.75 * 2 * pc) / 2.0
    val p3abc = (math.max(2 - 0.75, 0) + 0.75 * 2 * p2c) / 3.0
    val p2d = (math.max(0 - 0.75, 0) + 0.75 * 1 * pc) / 1.0
    val p3bcd = (math.max(0 - 0.75, 0) + 0.75 * 1 * p2d) / 1.0
    val d2 = (-math.log(p3abc) - math.log(p3bcd)) / 2.0
    // doc 4 "x a b": history (x,a) unseen -> P2(b|a) alone
    val d4 = -math.log((math.max(1 - 0.75, 0) + 0.75 * 1 * pc) / 1.0)
    // doc 6 "z z q": both histories unseen -> smoothed unigram floor
    val d6 = -math.log(pcUnseen)
    assert(out(2L)._1 == 2 && out(2L)._2 == 2 &&
      math.abs(out(2L)._3 - d2) < 2e-6)
    assert(out(4L)._1 == 1 && out(4L)._2 == 0 &&
      math.abs(out(4L)._3 - d4) < 2e-6)
    assert(out(6L)._1 == 1 && out(6L)._2 == 0 &&
      math.abs(out(6L)._3 - d6) < 2e-6)
    intercept[IllegalArgumentException] {
      CorpusStats.docNllKneserNey3(docs, "text", "doc_id", holdoutMod = 2,
        discount = 0.0)
    }
  }

  test("docNllDrift: unchanged held docs drift 0; the v2 score prices " +
    "v2 bigrams under the v1-trained model") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "a b a"), (3L, "a b"),
      (2L, "a b c"), (4L, "b a")
    ).toDF("doc_id", "text")
    // v2: doc 2 rewritten to "a a"; doc 4 unchanged
    val v2 = Seq(
      (1L, "a b a"), (3L, "a b"),
      (2L, "a a"), (4L, "b a")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNllDrift(v1, v2, "text", "doc_id",
        holdoutMod = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))
      .toMap
    assert(out.keySet == Set(2L, 4L))
    // v1 doc 2 (docNll hand model): (a,b) 3/4, (b,c) 1/3
    val nll1 = (-math.log(3.0 / 4.0) + math.log(3.0)) / 2.0
    // v2 doc 2 "a a": (a,a) unseen under cu(a)=2 -> (0+1)/(2+2)
    val nll2 = -math.log(1.0 / 4.0)
    val r2 = out(2L)
    assert(r2._1 == 2 && r2._2 == 1 &&
      math.abs(r2._3 - nll1) < 2e-6 && math.abs(r2._4 - nll2) < 2e-6 &&
      math.abs(r2._5 - (r2._4 - r2._3)) < 2e-6)
    val r4 = out(4L)
    assert(r4._3 == r4._4 && r4._5 == 0.0)
  }

  test("docNllBackoff: each backoff level hand-computed; holdout " +
    "discipline enforced") {
    import spark.implicits._
    // train (ids 1,3): "a b c a b c" -> trigrams (a,b,c)x2 (b,c,a)
    //   (c,a,b); bigrams (a,b)x2 (b,c)x2 (c,a); unigrams a:2 b:2 c:2
    //   (doc 3 "z" adds unigram z -> N=7, V=4, bigrams/trigrams none)
    // held 10 "a b c": trigram hit        -> -ln(2/2) = 0
    // held 20 "c c a": trigram miss, bigram (c,a) hit -> -ln(.4*1/1)
    // held 30 "a b x": both miss, x unseen -> -ln(.16*(0+1)/(7+4))
    val docs = Seq(
      (1L, "a b c a b c"), (3L, "z"),
      (10L, "a b c"), (20L, "c c a"), (30L, "a b x")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNllBackoff(docs, "text", "doc_id",
        holdoutMod = 10)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set(10L, 20L, 30L))
    assert(out(10L) == ((1L, 0L, 0.0, 0.0)))
    val l2 = -math.log(0.4 * 1.0 / 1.0)
    assert(out(20L)._1 == 1 && out(20L)._2 == 1 &&
      math.abs(out(20L)._3 - l2) < 2e-6 && out(20L)._4 == 1.0)
    val l3 = -math.log(0.16 * (0.0 + 1.0) / (7.0 + 4.0))
    assert(out(30L)._1 == 1 && out(30L)._2 == 1 &&
      math.abs(out(30L)._3 - l3) < 2e-6 && out(30L)._4 == 1.0)
  }

  test("docNllInterpolated: mixture hand-computed per coverage level; " +
    "hit3 counts trigram coverage") {
    import spark.implicits._
    // same fixture as docNllBackoff: train trigram (a,b,c):2 with
    // c2p(a,b)=2; bigrams (a,b):2 (b,c):2 (c,a):1, cu a:2 b:2 c:1;
    // unigrams N=7, V=4. lambda = (0.7, 0.2, 0.1), k = 1.
    val docs = Seq(
      (1L, "a b c a b c"), (3L, "z"),
      (10L, "a b c"), (20L, "c c a"), (30L, "a b x")
    ).toDF("doc_id", "text")
    val out = CorpusStats.docNllInterpolated(docs, "text", "doc_id",
        holdoutMod = 10)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set(10L, 20L, 30L))
    // 10 "a b c": all three levels live — p3=2/2, p2=cb(b,c)/cu(b)=1,
    // p1=(2+1)/11
    val m10 = -math.log(0.7 * 1.0 + 0.2 * 1.0 + 0.1 * (3.0 / 11.0))
    assert(out(10L)._1 == 1 && out(10L)._2 == 1 &&
      math.abs(out(10L)._3 - m10) < 2e-6 && out(10L)._4 == 1.0)
    // 20 "c c a": trigram miss, bigram (c,a)/cu(c)=1, p1=(2+1)/11
    val m20 = -math.log(0.7 * 0.0 + 0.2 * 1.0 + 0.1 * (3.0 / 11.0))
    assert(out(20L)._1 == 1 && out(20L)._2 == 0 &&
      math.abs(out(20L)._3 - m20) < 2e-6 && out(20L)._4 == 0.0)
    // 30 "a b x": only the smoothed unigram floor (x unseen)
    val m30 = -math.log(0.1 * ((0.0 + 1.0) / 11.0))
    assert(out(30L)._1 == 1 && out(30L)._2 == 0 &&
      math.abs(out(30L)._3 - m30) < 2e-6 && out(30L)._4 == 0.0)
    // lambda1 = 0 would admit -ln(0): rejected up front
    intercept[IllegalArgumentException] {
      CorpusStats.docNllInterpolated(docs, "text", "doc_id",
        holdoutMod = 10, lambda3 = 0.8, lambda2 = 0.2, lambda1 = 0.0)
    }
  }

  test("vocabFertility: hand-computed fertility/OOV/compression per " +
    "vocab size; OOV shatters to characters") {
    import spark.implicits._
    // counts: aa:2 bb:1 cc:1 -> ranks aa=1, bb=2, cc=3 (count desc,
    // token asc). V=1: g1 "aa bb aa" -> units 1+2+1=4 (bb shatters to
    // len 2), oov 1; g2 "cc" -> units 2, oov 1. V=3: everything in.
    val docs = Seq((1L, "g1", "aa bb aa"), (2L, "g2", "cc"))
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.vocabFertility(docs, "text", "source",
        vocabSizes = Seq(1, 3))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, "g1")) ==
      ((3L, 1L, 4L, 6L, r6(4.0 / 3.0), r6(1.0 / 3.0), r6(6.0 / 4.0))))
    assert(out((1L, "g2"))._2 == 1L && out((1L, "g2"))._3 == 2L)
    assert(out((3L, "g1")) == ((3L, 0L, 3L, 6L, 1.0, 0.0, 2.0)))
    assert(out((3L, "g2")) == ((1L, 0L, 1L, 2L, 1.0, 0.0, 2.0)))
  }

  test("readability: exact totals, floor-1 sentences and syllables") {
    import spark.implicits._
    // "Hello world. Bye." : words 3, sentence runs 2, vowel runs 4
    // "no punct here"     : words 3, sentences floor to 1, vowel runs 4
    val docs = Seq((1L, "s", "Hello world. Bye."), (2L, "s", "no punct here"))
      .toDF("doc_id", "source", "text")
    val r = CorpusStats.readability(docs, "text", "source").collect().head
    assert(r.getLong(1) == 2 && r.getLong(2) == 6 && r.getLong(3) == 3 &&
      r.getLong(4) == 8)
    assert(r.getDouble(5) == 2.0) // 6 words / 3 sentences
    val yw = 8.0 / 6.0
    assert(r.getDouble(6) ==
      BigDecimal(yw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val flesch = 206.835 - 1.015 * 2.0 - 84.6 * yw
    assert(math.abs(r.getDouble(7) - flesch) < 2e-6)
  }

  test("tailIndex: hand-computed Hill estimate, degenerate uniform NULL") {
    import spark.implicits._
    // counts a:4 b:2 c:1; top-2 = {a:4, b:2}: alpha = 2 / ln(4/2)
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val r = CorpusStats.tailIndex(docs, "text", k = 2).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // uniform top-k (all counts equal) -> log-sum 0 -> NULL estimator
    val flat = Seq((1L, "x y z")).toDF("doc_id", "text")
    assert(CorpusStats.tailIndex(flat, "text", k = 3)
      .collect().head.isNullAt(2))
    // vocab smaller than k: reported k is the actual count taken
    assert(CorpusStats.tailIndex(flat, "text", k = 100)
      .collect().head.getLong(0) == 3)
    intercept[IllegalArgumentException] {
      CorpusStats.tailIndex(docs, "text", k = 1)
    }
  }

  test("burrowsDelta: hand z-profiles, identical sources at 0, symmetry") {
    import spark.implicits._
    // counts: s1 a2 b1, s2 a1 b2, s3 a1 b1 → z(a) = ±√54/6, 0
    val docs = Seq((1L, "s1", "a a b"), (2L, "s2", "a b b"),
      (3L, "s3", "a b")).toDF("doc_id", "source", "text")
    val rows = CorpusStats.burrowsDelta(docs, "text", "source", topK = 2)
      .orderBy("source_a", "source_b").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq ==
      Seq(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    assert(rows.forall(_._2 == 2))
    val unit = math.sqrt(54.0) / 6.0
    assert(math.abs(rows(0)._3 - 2 * unit) < 1e-5) // opposite profiles
    assert(math.abs(rows(1)._3 - unit) < 1e-5)
    assert(math.abs(rows(2)._3 - unit) < 1e-5)     // symmetric to s1-s3
    // a cloned source is at EXACT delta 0 from its twin
    val cloned = Seq((1L, "x", "p q p"), (2L, "y", "p q p"),
      (3L, "z", "q q q")).toDF("doc_id", "source", "text")
    val d0 = CorpusStats.burrowsDelta(cloned, "text", "source", topK = 2)
      .filter(col("source_a") === "x" && col("source_b") === "y")
      .collect().head.getDouble(3)
    assert(d0 == 0.0)
  }

  test("simpsonDiversity: hand counts") {
    import spark.implicits._
    val docs = Seq(("g1", "a a b"), ("g2", "x y z")).toDF("src", "text")
    val rows = graft.operators.CorpusStats.simpsonDiversity(docs,
        col("src"), col("text"))
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows(0) == (("g1", 3L, 2L, 0.555556, 1.8, 0.666667)))
    assert(rows(1) == (("g2", 3L, 3L, 0.333333, 3.0, 0.333333)))
  }

  test("jaroWinkler: textbook cases, boost gate, empties") {
    import spark.implicits._
    val pairs = Seq(
      ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("CRATE", "TRACE"),
      ("JELLYFISH", "SMELLYFISH"), ("abc", "abc"), ("", "abc"), ("", ""),
      ("a", "b"), ("prefixaaaa", "prefizzzzzzzzzz")
    ).toDF("a", "b")
    val out = pairs.select(
        graft.functions.TextFunctions.jaroWinkler(col("a"), col("b"))
          .as("jw"),
        graft.functions.TextFunctions.jaro(col("a"), col("b")).as("j"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r6(out(0)._1) == 0.961111 && r6(out(0)._2) == 0.944444)
    assert(r6(out(1)._1) == 0.813333 && r6(out(1)._2) == 0.766667)
    assert(out(2)._1 == out(2)._2)                 // prefix 0 -> no boost
    assert(out(3)._1 == out(3)._2)                 // same
    assert(out(4)._1 == 1.0)
    assert(out(5)._1 == 0.0 && out(6)._1 == 0.0)   // DuckDB empty rule
    assert(out(7)._1 == 0.0)
    assert(out(8)._1 == out(8)._2)                 // jaro <= 0.7: no boost
  }

  test("damerauLevenshtein: unrestricted variant, swaps, degenerate") {
    import spark.implicits._
    val pairs = Seq(
      ("CA", "ABC"),            // the OSA discriminator: true DL = 2
      ("ab", "ba"),             // adjacent swap = 1 edit
      ("MARTHA", "MARHTA"),     // one transposition
      ("kitten", "sitting"),    // pure Levenshtein fallback = 3
      ("abc", "abc"), ("", "abc"), ("abc", ""), ("", ""),
      ("a cat", "an abct")      // true DL = 3 (matches DuckDB, probed)
    ).toDF("a", "b")
    val out = pairs.select(graft.functions.TextFunctions
        .damerauLevenshtein(col("a"), col("b")).as("d"))
      .collect().map(_.getInt(0))
    assert(out.toList == List(2, 1, 1, 3, 0, 3, 3, 0, 3))
  }
}
