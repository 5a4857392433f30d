package graft

import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusStats, Sessionize, TextDedup, TimeSeries}

/** Plan-SHAPE contracts for the operators whose round-5 rewrites
  * removed redundant tokenize/explode passes. Counting `Generate` nodes
  * in the optimized logical plan pins the structure: a regression that
  * reintroduces a per-branch re-explode (the silent 2-3× scan cost this
  * family kept paying) shows up as an extra Generate before any bench
  * run notices. Logical-plan counts are stable — no AQE, no exchange
  * placement, no codegen boundaries involved. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def generates(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size

  private def docs = Seq(
    (1L, "a b c d", "s1"), (2L, "b c d e", "s1"), (3L, "a b c d", "s2")
  ).toDF("doc_id", "text", "source")

  test("tfIdfTopTerms: both tokenize branches share ONE scan-side exchange") {
    // Round-7 shape: the tf and df branches each hold a Generate, but
    // both sit ABOVE the single repartition(doc_id) exchange — at runtime
    // the df branch re-reads that exchange's shuffle files (ReusedExchange)
    // instead of re-scanning parquet. The structural pin is therefore on
    // the leaf count of the canonicalized branches, not the Generate
    // count: a regression that re-plans the scan under a branch shows up
    // as a second distinct leaf relation. Execute, then assert the
    // adaptive physical plan reused an exchange.
    val plan = CorpusStats.tfIdfTopTerms(docs, "text", "doc_id", 3)
    assert(generates(plan) == 2)
    plan.collect() // materialize so AQE finalizes exchange reuse
    assert(plan.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "expected the df branch to reuse the tf branch's doc_id exchange")
  }

  test("spanDedup explodes the span grid exactly once") {
    // the keeper election is a min-over-window on the span hash and the
    // per-doc span totals come from the closed form over the narrow docs
    // frame — a second Generate means some branch re-explodes the corpus
    assert(generates(TextDedup.spanDedup(docs, "text", "doc_id", 2)) == 1)
  }

  test("lineDedup explodes lines exactly once") {
    // doc frequency rides the dense_rank/max window pair on the line
    // hash; a second Generate means the frequency or count branch
    // re-runs the split/explode scan
    val lined = docs.withColumn("text",
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.col("text"), " ", "\n"))
    assert(generates(TextDedup.lineDedup(lined, "text", "doc_id", "\n", 5L)) == 1)
  }

  test("cohortRetention reads the events once: one Generate, one scan") {
    val events = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val plan = Sessionize.cohortRetention(events, "user_id", "ts")
    // the single explode of the per-key week set
    assert(generates(plan) == 1)
  }

  private def leaves(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().size

  test("ngramNovelty explodes the shingles once (window first-carrier, no rejoin)") {
    assert(generates(CorpusStats.ngramNovelty(docs, "text", "doc_id", 2)) == 1)
  }

  test("collocations explodes the padded token pairs once, inside the cached count table") {
    // unigram counts, bigram counts, totals, and the top-k all read the
    // persisted (w1, w2) count table: the optimized plan shows ONLY
    // InMemoryRelation consumers (zero Generates outside the cache), and
    // the one distinct cached plan holds the single explode
    val df = CorpusStats.collocations(docs, "text", "doc_id", 5)
    try {
      assert(generates(df) == 0)
      val cached = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cachedPlan
      }.distinct
      assert(cached.size == 1)
      // the cached plan wraps in AdaptiveSparkPlanExec, whose inner plan
      // is not a collect-visible child — unwrap before counting
      val inner = cached.head match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      assert(inner.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.size == 1)
    } finally spark.catalog.clearCache()
  }

  test("docNllDrift: one v2 explode outside the cache, one v1 explode " +
    "inside it; the fused scorer adds no extra corpus pass") {
    // v1's padded-zip explode lives in the persisted type table; v2
    // contributes exactly ONE further Generate (its held slice). A
    // second outside-the-cache Generate means a version's scoring
    // branch re-exploded the corpus (the two-chain shape this round's
    // fusion removed); a second cached plan means the type table split.
    val v2 = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(" tail")))
    val df = CorpusStats.docNllDrift(docs, v2, "text", "doc_id",
      holdoutMod = 2)
    try {
      assert(generates(df) == 1)
      val cached = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cachedPlan
      }.distinct
      assert(cached.size == 1)
      val inner = cached.head match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      assert(inner.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.size == 1)
    } finally spark.catalog.clearCache()
  }

  test("cooccurrencePmi explodes one combined unigram+pair array") {
    // the sentinel design carries unigram entries inside the SAME
    // exploded array as the windowed pairs, persisted collapsed exactly
    // like collocations: zero Generates outside the cache, one distinct
    // cached plan holding the single explode. A second Generate anywhere
    // means a separate unigram tokenize scan (the q110 trap) came back.
    val df = CorpusStats.cooccurrencePmi(docs, "text", window = 3, topK = 5)
    try {
      assert(generates(df) == 0)
      val cached = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cachedPlan
      }.distinct
      assert(cached.size == 1)
      val inner = cached.head match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      assert(inner.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.size == 1)
    } finally spark.catalog.clearCache()
  }

  test("corpusReport scans the documents once (window dup totals, no rejoin)") {
    // every per-text signal is computed in one projection over a single
    // scan; a second leaf means the dup-count branch re-reads the docs
    assert(leaves(CorpusStats.corpusReport(docs, "text", "source", "source")) == 1)
  }

  private def joins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def windows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.size

  private def events = Seq(
    (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.5),
    (1L, java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 2.5)
  ).toDF("user_id", "ts", "value")

  test("gapFill is the run construction: one explode, one window, no grid join") {
    // the pre-r5 shape joined a dense per-key grid back to the events (a
    // Join + 3 shuffles) and ran a full-grid LOCF window AFTER the
    // explode; the run form attaches lead() BEFORE the explode, so any
    // Join or a second Window in the plan is the regression reappearing
    val plan = TimeSeries.gapFill(events, "user_id", "ts", "value", 3600L)
    assert(joins(plan) == 0)
    assert(generates(plan) == 1)
    assert(windows(plan) == 1)
    assert(leaves(plan) == 1)
  }

  test("interpolate keeps the run construction: no grid join, no post-explode window") {
    // both neighbors (__next/__nexts) ride the run rows, so interpolation
    // is pure per-row arithmetic after the single explode — a reverse
    // (unbounded-following) window here was the measured O(rows²) form
    val plan = TimeSeries.interpolate(events, "user_id", "ts", "value", 3600L)
    assert(joins(plan) == 0)
    assert(generates(plan) == 1)
    assert(windows(plan) == 1)
    assert(leaves(plan) == 1)
  }

  test("sourceDivergence tokenizes once; marginals ride windows on the collapsed counts") {
    // both KL marginals must come from windows over the (source, token)
    // count table — a rejoin re-runs the tokenize/explode scan (q81/q68
    // lesson) and shows up as a second Generate; the only join is the
    // 1-row broadcast total
    val plan = CorpusStats.sourceDivergence(docs, "text", "source")
    assert(generates(plan) == 1)
    assert(windows(plan) == 2)
    assert(joins(plan) == 1) // the broadcast corpus-total cross join
  }

  test("guarded lshCandidatePairs is join-free: pairs and star from one bucket aggregation") {
    // the r5 guard persisted the banded frame and scanned it three times
    // (sizing agg + broadcast star join + broadcast-anti self-join); the
    // r6 shape aggregates each band's sorted membership once and emits
    // both outputs with array expressions — a Join reappearing means the
    // multi-scan guard is back, a third Generate means a re-explode
    val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 2)
    val plan = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2, maxBucket = 2)
    assert(joins(plan) == 0)
    assert(generates(plan) == 2) // band explode + pair explode
    assert(leaves(plan) == 1)
  }

  test("oovRate tokenizes once; vocab membership is a window, not a join") {
    // the threshold-vocabulary contract keeps membership on the token
    // marginal window over the collapsed counts — a Join (or second
    // Generate) means a vocab table rejoin re-running the tokenize scan
    val plan = CorpusStats.oovRate(docs, "text", "source", minCount = 2L)
    assert(generates(plan) == 1)
    assert(windows(plan) == 1)
    assert(joins(plan) == 0)
    assert(leaves(plan) == 1)
  }

  test("zipfCoverage: one corpus-order explode; totals ride the histogram window") {
    // Generate #1 is the token explode (corpus-order); #2 explodes the
    // literal thresholds array. A third Generate means a totals branch
    // re-runs the tokenize scan (the subtree-duplication defect this
    // test caught on first writing: hist.agg(...) as a separate branch
    // re-planned the whole explode+aggregate chain); the single join is
    // the broadcast thresholds cross join against the cumulative frame
    val plan = CorpusStats.zipfCoverage(docs, "text", Seq(500000L, 900000L))
    assert(generates(plan) == 2)
    assert(joins(plan) == 1)
  }

  test("ordered1 finals are single-partition; q161 range-sorts its persisted child") {
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(d).isDirectory)
    graft.sources.Tables.configure(spark)
    def singleReps(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
          if r.numPartitions == 1 => r
      }.size
    def globalSorts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }
    for (n <- Seq("q02_dedup_latest", "q14_window_frames", "q19_merge_upsert")) {
      val plan = SparkEntry.queries(n)(spark, d)
      assert(singleReps(plan) == 1, s"$n: ordered1 must plan one single-partition Repartition")
      assert(globalSorts(plan).isEmpty, s"$n: ordered1 must not plan a global Sort")
    }
    try {
      val sorts = globalSorts(SparkEntry.queries("q161_feature_scale")(spark, d))
      assert(sorts.size == 1, "q161 must range-sort its wide final")
      assert(sorts.head.child.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation],
        "q161 must sort its persisted child, not re-run the projection")
    } finally spark.catalog.clearCache()
  }

  test("profile: ONE aggregation pass, no Expand, one scan — the claim vs count(distinct)") {
    // multiple exact count(distinct) columns force Catalyst's Expand
    // (input replicated once per distinct aggregate before the
    // exchange); the KMV-sketch profile must never plan one
    val df = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "s", "x")
    val plan = graft.operators.Profiling.profile(df, Seq("k", "s", "x"), k = 8)
    val expands = plan.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }.size
    assert(expands == 0, "profile must not plan an Expand")
    assert(leaves(plan) == 1)
    val aggs = plan.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(aggs == 1, s"profile must be ONE aggregation, got $aggs")
    // the exact-distinct control DOES plan an Expand — proving the
    // comparison is real, not vacuous
    val exact = df.agg(
      org.apache.spark.sql.functions.countDistinct(org.apache.spark.sql.functions.col("k")),
      org.apache.spark.sql.functions.countDistinct(org.apache.spark.sql.functions.col("s")))
    val controlExpands = exact.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }.size
    assert(controlExpands == 1)
  }

  test("semanticDedup: the pair stage joins only within cells (no cartesian)") {
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val plan = graft.operators.Similarity.semanticDedup(
      emb, "embedding", "vec_id", nlist = 2, threshold = 0.5)
    // condition-free joins in this plan are ONLY the broadcast
    // centroid-assignment cross joins — bounded at nlist rows by
    // construction — appearing once per consuming branch. The
    // scale-critical claim is that every join over VECTOR-sized frames
    // (the pair stage, the dup_of attach) carries an equi-condition:
    // a condition-free join between two corpus-sized sides would be
    // the all-pairs O(n²) SemDeDup exists to avoid.
    val equiJoins = plan.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.nonEmpty => j
    }
    assert(equiJoins.size >= 2,
      s"expected cell-keyed pair + dup_of joins, got ${equiJoins.size}")
    // the pair stage must be keyed on the cell assignment — an id-only
    // (or missing) condition there is the all-pairs O(n²) regression
    assert(equiJoins.exists(_.condition.get.toString.contains("cell")),
      "no join carries the cell equi-condition")
  }

  test("splitLeakage labels pair endpoints in place: no join beyond the LSH self-join") {
    // the split is id arithmetic (Curation.splitFor), so the only Join
    // in the plan is the band self-join producing candidate pairs — an
    // assignment-table join reappearing means the locality contract broke
    val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 2)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
    val plan = pairs
      .groupBy(
        org.apache.spark.sql.functions.least(
          graft.operators.Curation.splitFor(pairs("doc_id_a")),
          graft.operators.Curation.splitFor(pairs("doc_id_b"))).as("split_lo"))
      .count()
    assert(joins(plan) == 1)
  }

  private def vecs = (0 until 16).map(i =>
    (i.toLong, (0 until 8).map(j => math.sin(i * 7 + j) * 2), i % 2))
    .toDF("id", "emb", "label")

  test("int8Audit is a single-scan single-aggregation: no join, no explode") {
    val plan = graft.operators.Quantization.int8Audit(vecs, "emb", "id", "label")
    assert(joins(plan) == 0, "reconstruction audit must not rejoin the corpus")
    assert(generates(plan) == 0, "per-row dot-product folds, no explode")
  }

  test("pqAssign broadcasts the codebook and partial-aggregates the argmin before the exchange") {
    val cb = graft.operators.Quantization.pqCodebook(vecs, "emb", "id", m = 4, ksub = 4)
    val plan = graft.operators.Quantization.pqAssign(vecs, "emb", "id", cb, m = 4)
    plan.collect()
    val phys = plan.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastNestedLoopJoin"),
      "codebook must broadcast, never shuffle the corpus for scoring")
    assert(!phys.contains("SortMergeJoin"))
    // min(struct) argmin = hash aggregate with a map-side partial: the
    // xksub scored fan-out must collapse BEFORE the exchange (a window
    // rank-1 would sort-shuffle every scored row instead)
    assert(phys.contains("partial_min"),
      "argmin must be a partial-aggregating hash agg, not a window")
    assert(plan.queryExecution.optimizedPlan.collect {
      case w: LWindow => w }.isEmpty)
  }

  test("pqSearchAdc prunes the vectors: only (id, subspace, code) reach the distance-table join") {
    val cb = graft.operators.Quantization.pqCodebook(vecs, "emb", "id", m = 4, ksub = 4)
    val codes = graft.operators.Quantization.pqAssign(vecs, "emb", "id", cb, m = 4)
      .select("id", "subspace", "code")
    val plan = graft.operators.Quantization.pqSearchAdc(
      codes, cb, vecs.filter(org.apache.spark.sql.functions.col("id") < 2),
      "emb", "id", m = 4, k = 3)
    // the ADC sum is decimal-quantized per component: a raw double SUM
    // over the per-subspace components would be partition-order-dependent
    val agg = plan.queryExecution.optimizedPlan.toString
    assert(agg.contains("sum"), "ADC total must aggregate components")
    assert(joins(plan) <= 3, s"ADC search grew unexpected joins:\n$agg")
  }

  test("bigramNll: the corpus explodes ONCE, inside the persisted stage") {
    // consumers push different isnotnull filters below the type
    // collapse, so without the persist the references each re-explode
    // the corpus (ReuseExchange cannot fire on the differently-
    // canonicalized subtrees — verified on the executed plan). The
    // round-15 padded zip moved the vocabulary count into the SAME
    // type table (the (w_n, null) tail rows), so the consumer plan now
    // holds ZERO Generates — the one bigram Generate sits inside the
    // cached stage. A Generate here means the vocab (or any other)
    // branch re-explodes the corpus.
    val plan = CorpusStats.bigramNll(docs, "text", "doc_id", "source",
      holdoutMod = 2)
    assert(generates(plan) == 0)
  }

  test("docNll: zero Generates outside the persisted type table") {
    val plan = CorpusStats.docNll(docs, "text", "doc_id", holdoutMod = 2)
    assert(generates(plan) == 0)
  }

  test("seasonalAnomalies: no window, no join — one agg + broadcast total") {
    val ev = Seq((java.sql.Timestamp.valueOf("2024-01-07 05:00:00"), 1.0))
      .toDF("ts", "value")
    val plan = TimeSeries.seasonalAnomalies(ev,
      org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("value"), k = 5)
    assert(windows(plan) == 0 && generates(plan) == 0)
  }

  test("winsorizedStats: the rank walk is ONE window over the histogram") {
    val d = Seq(("g", 1.0), ("g", 2.0)).toDF("g", "v")
    val plan = graft.operators.Profiling.winsorizedStats(d, "g",
      org.apache.spark.sql.functions.col("v"), alpha = 0.1)
    // cum walk + group total share one partitionBy(g) — two logical
    // Window nodes would mean a second sort/exchange of the histogram
    assert(windows(plan) <= 2 && generates(plan) == 0 && joins(plan) == 0)
  }

  test("subsampleCI: membership never explodes — zero Generate, zero join") {
    val d = Seq((1L, 1.0)).toDF("id", "v")
    val plan = graft.operators.Profiling.subsampleCI(d,
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("v"), nResamples = 8)
    assert(generates(plan) == 0 && joins(plan) == 0 && windows(plan) == 0)
  }
}
