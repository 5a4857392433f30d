package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.TextDedup

class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cdcChunks: lossless cover, content-anchored boundaries survive a prefix edit") {
    // seeded-random text: chunks are all distinct, so set intersection
    // measures positional survival (periodic text would collapse the set)
    val rnd = new scala.util.Random(42)
    val base = (1 to 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val edited = "X" + base // one char inserted at the front
    val out = TestSpark.strings("t", Seq(base, edited, "", null, "short"))
      .select(TextFunctions.cdcChunks(col("t"), 8, 1).as("c"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList))
    val (cBase, cEdit) = (out(0).get, out(1).get)
    // chunks losslessly cover the text, none empty
    assert(cBase.mkString == base && cBase.forall(_.nonEmpty))
    assert(cEdit.mkString == edited)
    // ~2000 chars at 1/16 boundary rate → many chunks
    assert(cBase.size > 20)
    // THE CDC property: the edit perturbs only the first chunk(s); the
    // chunk multiset downstream of the first boundary is unchanged
    // (fixed-size windows would shift every chunk)
    val shared = cBase.toSet.intersect(cEdit.toSet)
    assert(shared.size >= cBase.size - 4,
      s"only ${shared.size} of ${cBase.size} chunks survived the edit")
    // degenerate inputs
    assert(out(2).get == Nil)       // empty text → no chunks
    assert(out(3).isEmpty)          // null in → null out
    assert(out(4).get == List("short")) // shorter than window → one chunk
  }

  test("charShingles slides one char at a time and truncates short texts") {
    val out = TestSpark.strings("t", Seq("abcd", "ab", null))
      .select(TextFunctions.charShingles(col("t"), 3).as("g"))
      .collect().map(r => Option(r.getSeq[String](0)).map(_.toList))
    assert(out(0).get == List("abc", "bcd"))
    assert(out(1).get == List("ab")) // shorter than gram → single remainder
    assert(out(2).isEmpty)
  }

  test("lshPlan: S-curve sane — r*b fixed, probabilities monotone in s, threshold ordered") {
    val rows = graft.operators.TextDedup.lshPlan(spark, numHashes = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.forall { case (r, b, _, _, _) => r * b == 64 })
    assert(rows.forall { case (_, _, _, _, p) => p >= 0.0 && p <= 1.0 })
    // per config, collision probability is non-decreasing in s
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, g) =>
      val ps = g.sortBy(_._4).map(_._5)
      assert(ps.zip(ps.tail).forall { case (a, c) => a <= c })
    }
    // more rows per band → higher threshold (steeper, right-shifted curve)
    val th = rows.groupBy(_._1).map { case (r, g) => (r, g.head._3) }
      .toSeq.sortBy(_._1).map(_._2)
    assert(th.zip(th.tail).forall { case (a, c) => a < c })
    // r=1, b=64: any single matching hash collides — near 1 even at s=0.3
    val loose = rows.find(t => t._1 == 1 && math.abs(t._4 - 0.3) < 1e-9).get
    assert(loose._5 > 0.99)
  }

  test("similarityJoin: matches exhaustive Jaccard, boundary inclusive, no false negatives") {
    import spark.implicits._
    // 1-gram shingles so expected Jaccards are hand-computable token-set
    // Jaccards. Docs engineered to cover: an exact dup (j=1), a boundary
    // pair at exactly tau, a pair sharing only RARE tokens (the prefix
    // filter's hard case), and sub-threshold noise docs that share a
    // very common token with everyone (tests that prefix ordering pushes
    // the common token out of prefixes without dropping true pairs).
    val docs = Seq(
      (1L, "common alpha beta gamma"),
      (2L, "common alpha beta gamma"),           // j(1,2)=1.0
      (3L, "common alpha beta delta"),           // j(1,3)=3/5=0.6
      (4L, "common rare1 rare2 rare3"),
      (5L, "common rare1 rare2 zz"),             // j(4,5)=3/5=0.6
      (6L, "common other1 other2 other3 other4"),// below tau vs all
      (7L, "alpha beta gamma common")            // same SET as 1 → j=1.0
    ).toDF("doc_id", "text")
    val got = TextDedup.similarityJoin(docs, "text", "doc_id",
        tau = 0.6, shingleSize = 1)
      .orderBy("doc_id_a", "doc_id_b")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // exhaustive ground truth over token sets
    val sets = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if j >= 0.6
    } yield (a, b) -> j).toMap
    assert(got.keySet == expect.keySet,
      s"pair set mismatch: got ${got.keySet}, expected ${expect.keySet}")
    expect.foreach { case (k, j) =>
      assert(math.abs(got(k) - j) < 1e-6, s"$k: got ${got(k)}, expected $j") }
    // boundary pairs at exactly tau=0.6 ARE present (inclusive threshold)
    assert(got.contains((1L, 3L)) && got.contains((4L, 5L)))
    // the numPartitions knob (round 11: widens the CPU-bound pre-persist
    // exchanges) is a pure plan-shape choice — values identical
    val widened = TextDedup.similarityJoin(docs, "text", "doc_id",
        tau = 0.6, shingleSize = 1, numPartitions = Some(5))
      .orderBy("doc_id_a", "doc_id_b")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(widened == got, "numPartitions changed similarityJoin values")
  }

  test("similarityJoin: shingle mode finds planted near-dup, not unrelated docs") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w${i % 13}").mkString(" ")
    val nearDup = base.replace("w5", "w99") // small edit
    val other = (1 to 40).map(i => s"v${i % 11}").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val got = TextDedup.similarityJoin(docs, "text", "doc_id",
        tau = 0.3, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("ngramJaccardOnPairs: identical docs 1.0, disjoint docs 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, "zzz yyy xxx")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.ngramJaccardOnPairs(pairs, docs, "text", "doc_id", 3)
      .orderBy("doc_id_b").collect()
    assert(out(0).getDouble(2) == 1.0)
    assert(out(1).getDouble(2) == 0.0)
  }

  test("contaminatedIdsBloom reproduces the exact decontamination answer") {
    import spark.implicits._
    // 40 train docs; 4 eval docs; train docs divisible by 4 embed an
    // eval 3-gram ("alpha beta gamma") — exactly those must flag, with
    // the same overlap counts as the exact operator.
    val train = (1L to 40L).map { i =>
      val tail = if (i % 4 == 0) " alpha beta gamma shared" else " unique tail"
      (i, s"doc $i body text$tail word$i")
    }.toDF("doc_id", "text")
    val evalSet = Seq(
      (101L, "alpha beta gamma delta"),
      (102L, "epsilon zeta eta theta"),
      (103L, "iota kappa lambda mu"),
      (104L, "nu xi omicron pi")).toDF("doc_id", "text")
    val exact = TextDedup.contaminatedIds(train, evalSet, "text", "doc_id", 3)
    val bloom = TextDedup.contaminatedIdsBloom(train, evalSet, "text", "doc_id", 3,
      expectedEvalShingles = 1000L)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    assert(bloom.count() == 10L) // the i % 4 == 0 docs
    // sketch and probe are Columns: the answer needs no SQL function
    assert(!spark.catalog.functionExists("graft_bloom_agg"))
    assert(!spark.catalog.functionExists("graft_might_contain"))
  }

  test("editDistanceOnPairs: identity pair 0/1.0, known single-edit pair, prefix cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "kitten sat on the mat"),
      (2L, "kitten sat on the mat"),
      (3L, "sitten sat on the mat"),         // 1 substitution vs doc 1
      (4L, "kitten sat on the mat IGNORED TAIL DIFFERENCE")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.editDistanceOnPairs(pairs, docs, "text", "doc_id", 21)
      .orderBy("doc_id_b").collect()
    assert(out(0).getInt(2) == 0 && out(0).getDouble(3) == 1.0)
    assert(out(1).getInt(2) == 1)
    assert(out(1).getDouble(3) == math.rint((1.0 - 1.0 / 21.0) * 1e6) / 1e6)
    // doc 4 differs only past the 21-char prefix cap → distance 0
    assert(out(2).getInt(2) == 0)
  }

  test("dupClusters: transitive chains collapse to one component, min id wins") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 iteration), pair (10,11), isolated pair (7,8)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 8L))
      .toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.dupClusters(pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L, 8L -> 7L))
  }

  test("dupClusters: a 200-hop chain converges within default iterations (pointer jump)") {
    import spark.implicits._
    // Plain min-label propagation moves labels one hop per round and
    // would need 200 rounds here, blowing past maxIter=20 and silently
    // under-merging; the pointer jump makes depth halve each round
    // (~log2(200) ≈ 8 rounds), so the default budget must suffice.
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.dupClusters(pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 201)
    assert(out.values.forall(_ == 0L), "every chain node must carry the min id 0")
  }

  test("lsh mega-bucket guard bounds identical-doc pairs linearly, keeps connectivity") {
    import spark.implicits._
    // 1000 byte-identical docs: every band hashes them into ONE bucket,
    // so unguarded LSH emits 1000*999/2 = 499500 pairs. With the guard
    // the oversized bucket degrades to the min-anchored star: 999
    // distinct pairs (identical across bands), still one connected
    // component of diameter 2.
    val docs = (1L to 1000L).map(i => (i, "the same boilerplate page text"))
      .toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id",
      numHashes = 4, shingleSize = 2)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id",
      numHashes = 4, rowsPerBand = 2, maxBucket = 100).persist()
    assert(pairs.count() == 999L)
    val clusters = TextDedup.dupClusters(pairs, "doc_id")
    assert(clusters.select(countDistinct(col("cluster"))).collect().head.getLong(0) == 1L)
    assert(clusters.count() == 1000L)
    pairs.unpersist()
    // Below the cap the guard is inert: exact all-pairs output.
    val small = (1L to 5L).map(i => (i, "another duplicated page"))
      .toDF("doc_id", "text")
    val smallSigs = TextDedup.minhashSignatures(small, "text", "doc_id", 4, 2)
    assert(TextDedup.lshCandidatePairs(smallSigs, "doc_id", 4, 2,
      maxBucket = 100).count() == 10L)
  }

  test("incrementalCandidates probes a prebuilt band index without corpus self-pairs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // corpus-internal dup of 1
      (3L, "completely different text content here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // dup of corpus 1 and 2
      (11L, "novel fresh unseen brand new")    // novel
    ).toDF("doc_id", "text")
    val index = TextDedup.buildBandIndex(corpus, "text", "doc_id", 4, 3, 2)
    val hits = TextDedup.incrementalCandidates(batch, index, "text", "doc_id", 4, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch doc 10 collides with corpus 1 and 2; the corpus-internal
    // (1,2) pair is NOT this operator's job; 11 is admitted silently.
    assert(hits == Set((10L, 1L), (10L, 2L)))
    // the index round-trips through storage like the ANN indexes
    val dir = java.nio.file.Files.createTempDirectory("graft-band").toString
    index.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val hits2 = TextDedup.incrementalCandidates(batch, reloaded, "text", "doc_id", 4, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == hits)
  }

  test("contaminatedIds flags shingle overlap with the eval set, honors minOverlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps high"), // shares 2 shingles with eval
      (2L, "totally unrelated words here now"),
      (3L, "quick brown fox runs away fast")  // shares 1 shingle with eval
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "the quick brown fox sleeps")).toDF("doc_id", "text")
    val hits = TextDedup.contaminatedIds(train, evalSet, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: "the quick brown" + "quick brown fox"; doc 3: "quick brown fox"
    assert(hits == Map(1L -> 2L, 3L -> 1L))
    val strict = TextDedup.contaminatedIds(train, evalSet, "text", "doc_id", 3,
      minOverlap = 2L).collect().map(_.getLong(0))
    assert(strict.toList == List(1L))
  }

  test("decontamination broadcast regime is ENFORCED: an eval set over " +
    "maxEvalGrams fails fast with the Bloom pointer instead of OOMing") {
    import spark.implicits._
    val train = Seq((1L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    // 4 tokens -> 2 distinct 3-shingles / 3 distinct 2-grams: over a
    // maxEvalGrams=1 cap, under the default
    val evalSet = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    for ((name, thunk) <- Seq[(String, () => Array[_])](
        ("contaminatedIds", () => TextDedup.contaminatedIds(
          train, evalSet, "text", "doc_id", 3, maxEvalGrams = 1L).collect()),
        ("contaminatedSpans", () => TextDedup.contaminatedSpans(
          train, evalSet, "text", "doc_id", 3, maxEvalGrams = 1L).collect()),
        ("weightedContamination", () => TextDedup.weightedContamination(
          train, evalSet, "text", "doc_id", 2, maxEvalGrams = 2L).collect()))) {
      val ex = intercept[Exception] { thunk() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(m => m.contains(name) && m.contains("Bloom")),
        s"$name guard message missing: ${msgs(ex)}")
    }
    // and the guarded operators still compute the same answer under the cap
    val hits = TextDedup.contaminatedIds(train, evalSet, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L))
  }

  test("decontamination byte cap is a PARAMETER (round-18 ADVICE): a tiny " +
    "maxEvalBytes trips the guard naming the knob; raising it lifts the cap") {
    import spark.implicits._
    val train = Seq((1L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val ex = intercept[Exception] { TextDedup.contaminatedIds(
      train, evalSet, "text", "doc_id", 3, maxEvalBytes = 1L).collect() }
    assert(msgs(ex).exists(m => m.contains("maxEvalBytes")),
      s"byte-cap message missing the knob name: ${msgs(ex)}")
    // an explicit raise admits the same workload the tiny cap rejected
    val hits = TextDedup.contaminatedIds(train, evalSet, "text", "doc_id", 3,
        maxEvalBytes = 1L << 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L))
  }

  test("ngram jaccard is tokenization-robust where token jaccard is not") {
    import spark.implicits._
    // Same characters, words glued differently: token sets are disjoint,
    // char-3-gram sets overlap heavily.
    val docs = Seq(
      (1L, "ratehike looms"),
      (2L, "rate hikelooms")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val ngram = TextDedup.ngramJaccardOnPairs(pairs, docs, "text", "doc_id", 3)
      .collect().head.getDouble(2)
    val token = TextDedup.jaccardOnPairs(pairs, docs, "text", "doc_id")
      .collect().head.getDouble(2)
    assert(token == 0.0)
    assert(ngram > 0.3)
  }

  test("simhashCandidatePairs: identical docs pair at hamming 0, bound respected, a<b") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // identical to 1
      (7L, "alpha beta gamma delta epsilon"), // identical to 1
      (3L, "zq xw vr ts un pm ok")).toDF("doc_id", "text")
    val fp = TextDedup.simhash(docs, "text", "doc_id", 32)
    val pairs = TextDedup.simhashCandidatePairs(fp, "doc_id",
        bits = 32, chunks = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical fingerprints agree on every slice: all three pairs, hamming 0
    val zero = pairs.filter(_._3 == 0L).map(p => (p._1, p._2)).toSet
    assert(Set((1L, 2L), (1L, 7L), (2L, 7L)).subsetOf(zero))
    assert(pairs.forall(p => p._1 < p._2 && p._3 <= 3L))
  }

  test("simhashCandidatePairs rejects chunk counts that do not divide bits") {
    import spark.implicits._
    val fp = Seq((1L, 5L)).toDF("doc_id", "simhash")
    intercept[IllegalArgumentException] {
      TextDedup.simhashCandidatePairs(fp, "doc_id", bits = 32, chunks = 5, maxHamming = 1)
    }
  }

  test("bucketed band index reload: incremental join leaves index side shuffle-free") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // Per-doc-unique tokens: the only band collisions are identical texts.
    val docs = (1L to 200L).map(i => (i, s"w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")
    val index = TextDedup.buildBandIndex(docs, "text", "doc_id", 4, 2, 2)
    spark.sql("DROP TABLE IF EXISTS band_idx")
    index.write.bucketBy(8, "band").sortBy("band").saveAsTable("band_idx")
    val reloaded = spark.table("band_idx")
    val batch = Seq((9001L, "w7a w7b w7c w7d")).toDF("doc_id", "text")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Force the shuffled-join regime the bucketing exists for: no AQE
    // replan, no broadcast of the small test batch.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cands = TextDedup.incrementalCandidates(batch, reloaded,
        "text", "doc_id", 4, 2, 2, broadcastBatch = false)
      def bucketedScans(p: SparkPlan) =
        p.collect { case f: FileSourceScanExec if f.bucketedScan => f }
      val joins = cands.queryExecution.executedPlan
        .collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, "expected the band equi-join as a sort-merge join")
      val indexSide = joins.map(j => Seq(j.left, j.right))
        .flatten.filter(bucketedScans(_).nonEmpty)
      assert(indexSide.nonEmpty, "index side should read as a bucketed scan")
      assert(indexSide.forall(
        _.collect { case s: ShuffleExchangeExec => s }.isEmpty),
        "bucketed index side must not re-shuffle on reload")
      assert(cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((9001L, 7L)))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS band_idx")
    }
  }

  test("spanDedup strips corpus-wide repeated spans, keeps the first carrier") {
    import spark.implicits._
    // span size 2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [x y]
    // keepers: (1,0) a b, (1,1) c d, (2,1) x y -> doc 2 loses its first
    // span to doc 1, doc 3 loses everything to doc 2.
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "x y")
    ).toDF("doc_id", "text")
    val out = TextDedup.spanDedup(docs, "text", "doc_id", spanTokens = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toList == List(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, "")))
  }

  test("duplicatedSpans: maximal islands, distinct-carrier threshold, " +
    "short docs") {
    import spark.implicits._
    // k=2 grams. Docs 1 and 2 share the run "a b c" (positions 1-2 of
    // each: grams [a b][b c]) — consecutive duplicated positions must
    // merge into ONE maximal span, not two. Doc 1 repeats "x y" inside
    // ITSELF only (positions 5 and 7) — a within-doc repeat is ONE
    // carrier, below minDocs=2, so it must NOT count. Doc 3 is shorter
    // than k and shares nothing.
    val docs = Seq(
      (1L, "a b c q x y q x y"),
      (2L, "z a b c z"),
      (3L, "w")
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicatedSpans(docs, "text", "doc_id",
        k = 2, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: grams at p=1 [a b], p=2 [b c] duplicated (also in doc 2 at
    // p=2,3) -> one island p=1..2, span_end = 2+1 = 3.
    // doc 2: island p=2..3, span_end 4. No other rows.
    assert(out.toList == List((1L, 1L, 3L, 2L), (2L, 2L, 4L, 2L)))
    // within-doc repeats only: nothing crosses the distinct-doc bar
    val solo = Seq((1L, "u v u v")).toDF("doc_id", "text")
    assert(TextDedup.duplicatedSpans(solo, "text", "doc_id", 2).count() == 0)
    // contract guards
    intercept[IllegalArgumentException] {
      TextDedup.duplicatedSpans(docs, "text", "doc_id", k = 0)
    }
    intercept[IllegalArgumentException] {
      TextDedup.duplicatedSpans(docs, "text", "doc_id", k = 2, minDocs = 1)
    }
  }

  test("weightedContamination: rare overlap outweighs boilerplate overlap") {
    import spark.implicits._
    // k=2. "the boiler plate" grams appear in BOTH train docs (df=2,
    // weight 500000); the eval phrase "rare eval gram" appears only in
    // doc 1 (df=1, weight 1000000). Doc 1 shares the RARE grams with
    // eval; doc 2 shares only the boilerplate (also present in eval).
    val train = Seq(
      (1L, "the boiler plate rare eval gram"),
      (2L, "the boiler plate own words here")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "rare eval gram xx the boiler plate"))
      .toDF("doc_id", "text")
    val out = TextDedup.weightedContamination(train, eval_, "text",
        "doc_id", k = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.length == 2)
    val (d1, d2) = (out(0), out(1))
    // both docs overlap the eval set, but doc 1's weighted share must
    // exceed doc 2's: its overlap carries the df=1 grams
    assert(d1._2 >= d2._2 && d1._3 > d2._3,
      s"rarity weighting inverted: $d1 vs $d2")
    // exactness of the integer weights: doc 2's overlap = the two df=2
    // boilerplate grams (2x500000) over its 5 grams
    // (2x500000 + 3x1000000)
    assert(d2._3 == BigDecimal(1000000.0 / 4000000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("contaminatedSpans: eval-overlapping positions island-merge; " +
    "clean docs emit nothing") {
    import spark.implicits._
    // k=2. Train doc 1 embeds the eval phrase "secret eval answer"
    // (grams [secret eval][eval answer] at p=3,4 -> one span [3,5]);
    // train doc 2 is clean.
    val train = Seq(
      (1L, "intro text secret eval answer outro"),
      (2L, "totally unrelated content here")
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "secret eval answer")).toDF("doc_id", "text")
    val out = TextDedup.contaminatedSpans(train, eval_, "text", "doc_id",
        k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toList == List((1L, 3L, 5L, 2L)))
  }

  test("sharedSpanOnPairs: diagonal runs find the longest shared token " +
    "run; pairs without evidence keep a 0/0 row") {
    import spark.implicits._
    // k=2. Docs 1/2 share the run "a b c d" (3 consecutive 2-grams on
    // one diagonal -> longest = 3 + 1 = 4 tokens) AND the separate
    // 2-gram "x y" on a DIFFERENT diagonal (run 1 -> 3 tokens... no:
    // 1 + 1 = 2 tokens). Doc 3 shares nothing with doc 1.
    val docs = Seq(
      (1L, "a b c d q x y"), (2L, "z a b c d z z x y"), (3L, "m n o p")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.sharedSpanOnPairs(pairs, docs, "text", "doc_id",
        k = 2).orderBy("doc_id_a", "doc_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (1,2): grams [a b][b c][c d] match on diag -1 (run 3) and [x y]
    // on diag -2 (run 1) -> 4 shared gram occurrences, longest 4 tokens.
    // (1,3): no shared grams -> explicit 0/0 evidence row.
    assert(out.toList == List((1L, 2L, 4L, 4L), (1L, 3L, 0L, 0L)))
  }

  test("winnowPairs: shared-fingerprint pairs with verify, mega-carrier " +
    "fail-fast") {
    import spark.implicits._
    // k=2, w=2, minShared=2: docs 1 and 2 share the long run
    // "a b c d e" (>= w+k-1 = 3 tokens, so winnowing GUARANTEES shared
    // fingerprints); doc 3 is unrelated.
    val docs = Seq(
      (1L, "a b c d e zz"), (2L, "a b c d e yy"), (3L, "m n o p q r")
    ).toDF("doc_id", "text")
    val out = TextDedup.winnowPairs(docs, "text", "doc_id",
        k = 2, w = 2, minShared = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toList == List((1L, 2L)))
    // a fingerprint carried by more docs than maxCarriers must raise
    val boiler = (1L to 5L).map(i => (i, "same same same same"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextDedup.winnowPairs(boiler, "text", "doc_id",
        k = 2, w = 2, maxCarriers = 3L).collect()
    }
    assert(ex.getMessage.contains("winnowPairs") ||
      Option(ex.getCause).exists(_.getMessage.contains("winnowPairs")))
  }

  test("winnowRisk: shared fingerprints counted per doc, no pairs formed") {
    import spark.implicits._
    // docs 1-3 are clones (every fingerprint carried by 3), doc 4 is
    // disjoint vocabulary (all fingerprints unique to it)
    val clone = "a1 b2 c3 d4 e5 f6"
    val docs = Seq((1L, clone), (2L, clone), (3L, clone),
      (4L, "z1 y2 x3 w4 v5 u6")).toDF("doc_id", "text")
    val out = TextDedup.winnowRisk(docs, "text", "doc_id", k = 2, w = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    for (id <- 1L to 3L) {
      val (n, shared, mx, share) = out(id)
      assert(n >= 1 && shared == n && mx == 3L && share == 1.0,
        s"clone doc $id: ${out(id)}")
    }
    val (n4, s4, m4, sh4) = out(4L)
    assert(n4 >= 1 && s4 == 0L && m4 == 1L && sh4 == 0.0)
  }

  test("chunkProvenance: cloned docs' chunks are fully foreign, unique " +
    "doc's chunks are clean; chunk grid matches chunkDocuments") {
    import spark.implicits._
    // docs 1 and 2 are clones -> every fingerprint of every chunk is
    // carried by both docs (max_docs 2, foreign_share 1); doc 3 is
    // disjoint vocabulary -> all clean
    val clone = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, clone), (2L, clone),
      (3L, (1 to 10).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextDedup.chunkProvenance(docs, "text", "doc_id",
        window = 4, stride = 3, k = 2, w = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // 10 tokens, window 4, stride 3 -> chunk ids 0..2 per doc
    assert(out.keySet == (for (d <- 1L to 3L; c <- 0L to 2L) yield (d, c)).toSet)
    for (d <- 1L to 2L; c <- 0L to 2L) {
      val (n, f, mx, share) = out((d, c))
      assert(n >= 1 && f == n && mx == 2L && share == 1.0,
        s"clone chunk ($d,$c): ${out((d, c))}")
    }
    for (c <- 0L to 2L) {
      val (n, f, mx, share) = out((3L, c))
      assert(n >= 1 && f == 0L && mx == 1L && share == 0.0)
    }
    spark.catalog.clearCache()
  }

  test("winnowStability: identical corpora survive at 1.0; a rewritten " +
    "doc drags its source below 1; untouched source stays exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "sa", (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, "sa", (1 to 12).map(i => s"b$i").mkString(" ")),
      (3L, "sb", (1 to 12).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val same = TextDedup.winnowStability(docs, docs, "text", "doc_id",
        "source", k = 2, w = 3)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    assert(same("sa") == ((1.0, 1.0)) && same("sb") == ((1.0, 1.0)))
    // rewrite doc 1 entirely: source sa loses doc 1's fingerprints,
    // doc 2 keeps its own -> 0 < retained(sa) < 1; sb untouched
    val edited = docs.withColumn("text",
      when(col("doc_id") === 1L,
        lit((1 to 12).map(i => s"x$i").mkString(" ")))
        .otherwise(col("text")))
    val out = TextDedup.winnowStability(docs, edited, "text", "doc_id",
        "source", k = 2, w = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(5), r.getDouble(6))).toMap
    assert(out("sa")._1 == 2L)
    assert(out("sa")._2 > 0.0 && out("sa")._2 < 1.0)
    assert(out("sb") == ((1L, 1.0, 1.0)))
  }

  test("winnowContainment: the winnow guarantee certifies hits and " +
    "clears disjoint docs; the eval broadcast guard fires") {
    import spark.implicits._
    val (k, w) = (2, 3)
    // shared run of w + k - 1 = 4 tokens -> doc 1 MUST hit; doc 2 is
    // disjoint vocabulary -> 0 hits, hit_share 0
    val shared = "s1 s2 s3 s4"
    val train = Seq(
      (1L, s"n1 n2 $shared n3"),
      (2L, "z1 z2 z3 z4 z5 z6 z7")).toDF("doc_id", "text")
    val evalSet = Seq((100L, s"e1 $shared e2")).toDF("doc_id", "text")
    val out = TextDedup.winnowContainment(train, evalSet, "text",
        "doc_id", k = k, w = w)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._2 >= 1L, s"guaranteed hit missing: ${out(1L)}")
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0)
    val ex = intercept[Exception] {
      TextDedup.winnowContainment(train, evalSet, "text", "doc_id",
        k = k, w = w, maxEvalGrams = 1L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("winnowContainment")))
  }

  test("duplicatedTokenImpact merges overlapping islands before counting") {
    import spark.implicits._
    // k=2. Docs 1 and 2 share "a b" and "c d" but NOT the bridge "b q"
    // / "q c": doc 1's grams at p=1 [a b] and p=4 [c d] are duplicated,
    // p=2 [b q], p=3 [q c] are not -> two islands p=1 and p=4, token
    // intervals [1,2] and [4,5] — disjoint here, 4 dup tokens. Doc 3
    // shares a 3-token run "x y z" with doc 4: islands p=1..2 -> ONE
    // interval [1,3] = 3 tokens, where raw span-length summing of the
    // two overlapping 2-gram spans [1,2],[2,3] would count 4.
    val docs = Seq(
      (1L, "a b q c d", "s1"), (2L, "a b w c d", "s1"),
      (3L, "x y z", "s2"), (4L, "x y z", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextDedup.duplicatedTokenImpact(docs, "text", "doc_id",
        "source", k = 2).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toList == List(
      ("s1", 2L, 10L, 8L, 0.8),
      ("s2", 2L, 6L, 6L, 1.0)))
  }

  test("spanDedup keeps surviving spans in document order") {
    import spark.implicits._
    // doc 2's middle span is the duplicate; its flanks must rejoin in order
    val docs = Seq(
      (1L, "dup dup"), (2L, "p q dup dup r s")
    ).toDF("doc_id", "text")
    val out = TextDedup.spanDedup(docs, "text", "doc_id", spanTokens = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toList == List((1L, 1L, "dup dup"), (2L, 2L, "p q r s")))
  }

  test("lineDedup strips corpus-frequent lines, keeps order, counts lines") {
    import spark.implicits._
    // "boiler" rides in 3 of 4 docs (> maxDocs 2) -> stripped everywhere;
    // body lines are unique -> kept in original order
    val docs = Seq(
      (1L, "alpha one\nboiler\nbeta one"),
      (2L, "boiler\ngamma two"),
      (3L, "delta three\nboiler"),
      (4L, "epsilon four")
    ).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(docs, "text", "doc_id", "\n", maxDocs = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toList == List(
      (1L, 3L, 2L, "alpha one\nbeta one"),
      (2L, 2L, 1L, "gamma two"),
      (3L, 2L, 1L, "delta three"),
      (4L, 1L, 1L, "epsilon four")))
  }

  test("lineDedup: doc made entirely of boilerplate empties to ''") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b1\nb2"), (2L, "b1\nb2"), (3L, "b1\nb2")
    ).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(docs, "text", "doc_id", "\n", maxDocs = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(2), r.getString(3)))
    assert(out.toList == List((0L, ""), (0L, ""), (0L, "")))
  }

  test("winnow equals the brute-force window-minimum fingerprint set") {
    import spark.implicits._
    val text = "a b c d e f g"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = TextDedup.winnow(docs, "text", "doc_id", k = 2, w = 3)
      .orderBy("fingerprint").collect().map(_.getString(1)).toList
    // reference computation with java's own md5
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = text.split(" ")
    val grams = toks.sliding(2).map(_.mkString(" ")).map(md5hex).toVector
    val expected = grams.sliding(3).map(_.min).toVector.distinct.sorted.toList
    assert(out == expected)
    // winnowing density: distinct minima over windows is well under all grams
    assert(out.size <= grams.size)
  }

  test("winnow: identical docs share identical fingerprint sets") {
    import spark.implicits._
    val docs = Seq((1L, "x y z w v u t s"), (2L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    val out = TextDedup.winnow(docs, "text", "doc_id", k = 3, w = 4)
    val sets = out.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(sets(1L) == sets(2L))
  }

  test("sourceOverlap counts shared distinct shingles with Jaccard") {
    import spark.implicits._
    // source A docs cover shingles {a b c, b c d}; source B covers
    // {b c d, d e f}; intersection 1, union 3 -> jaccard 1/3
    val docs = Seq(
      ("A", "a b c d"), // shingles: "a b c", "b c d"
      ("B", "b c d"), // shingle: "b c d"
      ("B", "d e f") // shingle: "d e f"
    ).toDF("source", "text")
    val out = TextDedup.sourceOverlap(docs, "text", "source", shingleSize = 3)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toList == List(("A", "B", 1L, 0.333333)))
  }

  test("winnowSourceOverlap matches the winnow+manual-aggregation reference") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "a b c d e f g h"),
      (2L, "A", "z y x w v u t s"),
      (3L, "B", "a b c d e f g h"), // clone of doc 1 across sources
      (4L, "B", "p q r s t u v w"),
      (5L, "C", "m n o p q r s t")
    ).toDF("doc_id", "source", "text")
    val out = TextDedup.winnowSourceOverlap(docs, "text", "source",
        k = 3, w = 4)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // reference: per-source distinct winnow fingerprints via the public
    // winnow(), aggregated by hand
    val fps = TextDedup.winnow(docs, "text", "doc_id", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val srcOf = Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B", 5L -> "C")
    val bySrc = fps.map { case (id, f) => (srcOf(id), f) }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      shared = (bySrc(a) & bySrc(b)).size if shared > 0
    } yield (a, b, shared.toLong,
      BigDecimal(shared.toDouble /
        (bySrc(a).size + bySrc(b).size - shared))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(out == expect && out.nonEmpty)
    // the cross-source clone must surface as A-B overlap
    assert(out.exists(r => r._1 == "A" && r._2 == "B" && r._3 > 0))
  }

  test("containmentOnPairs: subset duplicate scores 1.0 on the short side") {
    import spark.implicits._
    // doc 1's trigram set {a b c, b c d, c d e} is wholly inside doc 2's
    // {a b c, b c d, c d e, d e f, e f g}: containment_a = 3/3 = 1,
    // containment_b = 3/5 = 0.6 — while Jaccard would be only 3/5.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f g")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val out = TextDedup.containmentOnPairs(pairs, docs, "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toList == List((1L, 2L, 1.0, 0.6, 1.0)))
  }

  test("winnowDeltaIndex: unchanged docs emit nothing; deleted retires " +
    "all, added inserts all, an edit keeps most fingerprints") {
    import spark.implicits._
    // doc 2 long enough that a token-5 edit cannot perturb the windows
    // over tokens 10..40 (winnowing's edit locality needs distance)
    val before = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 12).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    // doc 1 unchanged, doc 2 token-5 edit, doc 3 deleted, doc 4 added
    val after = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => if (i == 5) "EDIT" else s"b$i").mkString(" ")),
      (4L, (1 to 12).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextDedup.winnowDeltaIndex(before, after, "text", "doc_id",
        k = 2, w = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    spark.catalog.clearCache()
    assert(out.keySet == Set(2L, 3L, 4L))
    val fps2 = TextDedup.winnow(before.filter(col("doc_id") === 2L),
      "text", "doc_id", 2, 3).count()
    val fps2After = TextDedup.winnow(after.filter(col("doc_id") === 2L),
      "text", "doc_id", 2, 3).count()
    val fps3 = TextDedup.winnow(before.filter(col("doc_id") === 3L),
      "text", "doc_id", 2, 3).count()
    val fps4 = TextDedup.winnow(after.filter(col("doc_id") === 4L),
      "text", "doc_id", 2, 3).count()
    val (st2, del2, add2, keep2) = out(2L)
    // the two set identities always hold; edit LOCALITY means most
    // fingerprints survive (an edit can even add none, when its new
    // gram hashes never win a window minimum)
    assert(st2 == "edited" && del2 + keep2 == fps2 &&
      add2 + keep2 == fps2After && keep2 > 0)
    assert(out(3L) == (("deleted", fps3, 0L, 0L)))
    assert(out(4L) == (("added", 0L, fps4, 0L)))
  }

  test("winnowDeltaIndex: a duplicated id in the changed set fails fast " +
    "instead of silently inflating the delta") {
    import spark.implicits._
    val before = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" "))).toDF("doc_id", "text")
    // id 1 appears TWICE in after, both edited — a contract violation
    // that fans out both id joins and lands twice in the changed set
    val after = Seq(
      (1L, (1 to 12).map(i => s"y$i").mkString(" ")),
      (1L, (1 to 12).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextDedup.winnowDeltaIndex(before, after, "text", "doc_id",
        k = 2, w = 3).collect()
    }
    spark.catalog.clearCache()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate doc_id")),
      s"guard message missing: ${msgs(e)}")
  }

  test("pruneDuplicatedSpans: shared run's tokens removed, unique doc " +
    "passes through whole") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u1 u2 d1 d2 d3 d4 u3"),
      (2L, "v1 d1 d2 d3 d4 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7")).toDF("doc_id", "text")
    val out = TextDedup.pruneDuplicatedSpans(docs, "text", "doc_id",
        k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // shared 3-grams "d1 d2 d3"/"d2 d3 d4" cover d1..d4 in both docs
    assert(out(1L) == ((7L, 4L, "u1 u2 u3")))
    assert(out(2L) == ((7L, 4L, "v1 v2 v3")))
    assert(out(3L) == ((7L, 0L, "w1 w2 w3 w4 w5 w6 w7")))
  }

  test("pruneDuplicatedSpans: many disjoint spans walk linearly — " +
    "alternating islands, span at position 1, span at the end") {
    import spark.implicits._
    // docs 1 and 2 share m-many separated 2-gram runs, so each doc
    // carries MANY disjoint spans (the interval-walk shape the linear
    // rewrite exists for); unique uX/vX tokens separate the islands.
    // Doc 1 also starts with a shared run (cursor stays at 1 through a
    // zero-length leading gap) and doc 2 ends with one (the final tail
    // slice is empty).
    val m = 30
    val d1 = (0 until m).map(j => s"s${j}a s${j}b u$j").mkString(" ")
    val d2 = "x1 x2 x3 " +
      (0 until m).map(j => s"s${j}a s${j}b v$j").mkString(" ") +
      " s0a s0b"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = TextDedup.pruneDuplicatedSpans(docs, "text", "doc_id",
        k = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) ==
      ((3L * m, 2L * m, (0 until m).map(j => s"u$j").mkString(" "))))
    assert(out(2L) ==
      ((3L * m + 5, 2L * m + 2, "x1 x2 x3 " +
        (0 until m).map(j => s"v$j").mkString(" "))))
  }

  test("repeatedSpanRank: exact span texts ranked by reach with " +
    "alphabetical tie-break; topK honored") {
    import spark.implicits._
    // "d1 d2 d3 d4" repeats in all three docs (rank 1); "e1 e2 e3" and
    // "f1 f2 f3" each repeat in docs 1-2 only — equal counts, broken
    // alphabetically (ranks 2, 3)
    val docs = Seq(
      (1L, "u1 u2 d1 d2 d3 d4 u3 e1 e2 e3 u4 f1 f2 f3"),
      (2L, "v1 d1 d2 d3 d4 v2 e1 e2 e3 v3 f1 f2 f3"),
      (3L, "w1 d1 d2 d3 d4 w2")).toDF("doc_id", "text")
    val out = TextDedup.repeatedSpanRank(docs, "text", "doc_id",
        k = 3, minDocs = 2, topK = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toList == List(
      (1L, "d1 d2 d3 d4", 4L, 3L, 3L),
      (2L, "e1 e2 e3", 3L, 2L, 2L),
      (3L, "f1 f2 f3", 3L, 2L, 2L)))
    val top2 = TextDedup.repeatedSpanRank(docs, "text", "doc_id",
        k = 3, minDocs = 2, topK = 2)
      .collect().map(_.getString(1))
    assert(top2.toList == List("d1 d2 d3 d4", "e1 e2 e3"))
  }

  test("winnowDeltaApply: patched index row-identical to a full " +
    "re-index of v2; duplicate changed id fails fast") {
    import spark.implicits._
    val before = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 12).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    // doc 1 unchanged, doc 2 edited, doc 3 deleted, doc 4 added
    val after = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => if (i == 5) "EDIT" else s"b$i").mkString(" ")),
      (4L, (1 to 12).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val patched = TextDedup.winnowDeltaApply(before, after,
        "text", "doc_id", k = 2, w = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    spark.catalog.clearCache()
    val full = TextDedup.winnow(after, "text", "doc_id", k = 2, w = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(patched == full)
    assert(!patched.exists(_._1 == 3L)) // deleted doc fully retired
    val dupAfter = after.unionByName(
      Seq((2L, "totally different")).toDF("doc_id", "text"))
    val e = intercept[Exception] {
      TextDedup.winnowDeltaApply(before, dupAfter, "text", "doc_id",
        k = 2, w = 3).collect()
    }
    spark.catalog.clearCache()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate doc_id")),
      s"guard message missing: ${msgs(e)}")
  }

  test("pruneDuplicatedSpans: OVERLAPPING spans (island gap < k) prune " +
    "exactly the union of covered positions") {
    import spark.implicits._
    // shared grams "a b c" and "c d e" sit at positions 1 and 3 in doc
    // 1 (gap 2 < k=3): islands {1} and {3} yield spans [1,3] and [3,5]
    // overlapping at 3. Doc 2 carries them at 1 and 5 (disjoint spans
    // [1,3], [5,7]) with an uncovered "x" between.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x c d e")).toDF("doc_id", "text")
    val out = TextDedup.pruneDuplicatedSpans(docs, "text", "doc_id",
        k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((5L, 5L, "")))
    assert(out(2L) == ((7L, 6L, "x")))
  }

  test("chunkClusters: clone docs' chunks cluster pairwise with the min " +
    "(doc, chunk) keeper; unpaired chunks are absent; carrier guard fires") {
    import spark.implicits._
    val clone = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, clone), (2L, clone),
      (3L, (1 to 10).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextDedup.chunkClusters(docs, "text", "doc_id",
        window = 4, stride = 3, k = 2, w = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    spark.catalog.clearCache()
    // chunks overlap by one token only (no shared 2-grams within a doc),
    // so clusters are exactly {(1,c),(2,c)} per chunk id; doc 3 unpaired
    assert(out.keySet ==
      (for (d <- 1L to 2L; c <- 0L to 2L) yield (d, c)).toSet)
    for (c <- 0L to 2L) {
      assert(out((1L, c)) == ((1L, c, true)), s"keeper chunk (1,$c)")
      assert(out((2L, c)) == ((1L, c, false)), s"member chunk (2,$c)")
    }
    // three clones -> a fingerprint carried by 3 chunks > maxCarriers=2
    val three = Seq((1L, clone), (2L, clone), (3L, clone))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextDedup.chunkClusters(three, "text", "doc_id",
        window = 4, stride = 3, k = 2, w = 2, minJaccard = 0.5,
        maxCarriers = 2L).collect()
    }
    spark.catalog.clearCache()
    assert(ex.getMessage.contains("chunkClusters") ||
      Option(ex.getCause).exists(_.getMessage.contains("chunkClusters")))
    // a doc_id past the packed-key bound raises the guard instead of
    // silently wrapping the Long key into another chunk's slot
    val big = Seq((Long.MaxValue / 100000L + 1L, clone), (2L, clone))
      .toDF("doc_id", "text")
    val ex2 = intercept[Exception] {
      TextDedup.chunkClusters(big, "text", "doc_id",
        window = 4, stride = 3, k = 2, w = 2, minJaccard = 0.5).collect()
    }
    spark.catalog.clearCache()
    assert(ex2.getMessage.contains("packed key") ||
      Option(ex2.getCause).exists(_.getMessage.contains("packed key")))
  }
}
