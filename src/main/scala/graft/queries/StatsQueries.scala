package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Statistical tests and causal panels: rank tests, distribution
  * comparisons, robust summaries, shrinkage, A/B machinery,
  * DiD/CUPED/conformal.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object StatsQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Chi-square independence audit: lang x source contingency with the
    // full zero-filled spine, expected counts, per-cell terms.
    "q178_chi2_bias" -> ((s, d) => {
      Profiling.contingencyChi2(load(s, d, "documents"), "lang", "source")
        .transform(ordered1(_, col("lang"), col("source")))
    }),


    // Exact two-sample KS: the largest ECDF gap between English and
    // non-English length distributions — unbinned drift gate (PSI's
    // complement). Two bounded distinct-value aggs, one window over the
    // merged frame, integer argmax.
    "q183_ks_test" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      graft.operators.Evaluation.ksTwoSample(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"),
        col("n_chars"))
    }),


    // Kendall's tau-b between coarse length and token-count buckets:
    // ordering-only association from the joint cell grid (O(cells²)
    // broadcast pair walk, row count never quadratic).
    "q184_kendall_tau" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      graft.operators.Evaluation.kendallTau(docs,
        floor(col("n_chars") / lit(100)),
        floor(TextFunctions.tokenCount(col("text")) / lit(20)))
    }),


    // Theil-Sen robust activity trend per user: median pairwise slope
    // over per-day event counts (pair walk bounded by the day grid,
    // never the event count).
    "q188_theil_sen" -> ((s, d) => {
      val e = load(s, d, "events")
      val daily = e.groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
            .as("day"))
        .agg(count(lit(1)).as("cnt"))
      TimeSeries.theilSen(daily, "user_id", col("day"), col("cnt"))
        .transform(ordered1(_, col("user_id")))
    }),


    // Winsorized/trimmed order-value means per priority: exact
    // order-statistic fences from one cumulative walk over the
    // (group, cents) histogram.
    "q201_winsorized" -> ((s, d) => {
      Profiling.winsorizedStats(load(s, d, "orders"), "o_orderpriority",
          col("o_totalprice"), alpha = 0.05, scale = 2)
        .transform(ordered1(_, col("o_orderpriority")))
    }),


    // Hill tail index of the token frequency distribution over the
    // top-100 types — one Zipf-collapsed aggregation + TakeOrdered.
    "q202_tail_index" -> ((s, d) => {
      CorpusStats.tailIndex(parallel(load(s, d, "documents")), "text",
        k = 100)
    }),


    // Benford first-digit audit of order totals: exact unscaled-integer
    // digit extraction (never log10), zero-filled 1-9 spine.
    "q203_benford" -> ((s, d) => {
      Profiling.benfordAudit(load(s, d, "orders"), col("o_totalprice"),
          scale = 2)
        .transform(ordered1(_, col("digit")))
    }),


    // Two-proportion z-test with entity-level collapse (each user
    // converts once, not once per event) between the user_id-parity
    // variants.
    "q204_ab_test" -> ((s, d) => {
      graft.operators.Evaluation.abTest(load(s, d, "events"),
        when(pmod(col("user_id"), lit(2L)) === 0, lit("a"))
          .otherwise(lit("b")),
        col("user_id"),
        (col("event_type") === "purchase").cast("int"))
    }),


    // Mann–Whitney U location-shift gate between click and view value
    // distributions (floor-quantized to a bounded domain): rank-based
    // complement of q183's KS — same bounded-histogram merge shape.
    "q223_mann_whitney" -> ((s, d) => {
      val e = parallel(load(s, d, "events"))
      val v = floor(col("value") * 10)
      graft.operators.Evaluation.mannWhitney(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "view"), v)
        .transform(ordered1(_, col("n_a")))
    }),


    // One-way ANOVA F across sources on document length: exact
    // decimal moment sums per source, one group agg + one fold.
    "q224_anova" -> ((s, d) => {
      val docs = load(s, d, "documents")
      graft.operators.Evaluation.anovaF(docs, col("source"),
          col("n_chars").cast("double"), scale = 0)
        .transform(ordered1(_, col("n")))
    }),


    // HHI + CR4 customer-spend concentration per market segment —
    // exact cent sums, one window on the entity dimension.
    "q229_concentration" -> ((s, d) => {
      val o = load(s, d, "orders")
      val c = load(s, d, "customer")
      Profiling.concentration(
          o.join(c, col("o_custkey") === col("c_custkey")),
          col("c_mktsegment"), col("o_custkey"), col("o_totalprice"))
        .transform(ordered1(_, col("group")))
    }),


    // CUPED variance-reduced A/B readout: units = users, arms by
    // user-id parity, pre/post split at mid-month — one unit hash agg,
    // one 9-moment fold, exact decimal moments.
    "q236_cuped" -> ((s, d) => {
      val e = load(s, d, "events")
      graft.operators.Evaluation.cuped(
          e.filter(col("ts").isNotNull),
          col("user_id"), pmod(col("user_id"), lit(2L)) === 0L,
          col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"),
          col("value"), scale = 2)
        .transform(ordered1(_, col("n_units")))
    }),


    // Per-type OLS daily trend + Durbin-Watson residual audit: exact
    // decimal moments per group, one lag window over the bounded
    // daily frame only.
    "q237_ols_trend" -> ((s, d) => {
      val e = load(s, d, "events")
      val daily = e
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type").as("g"),
          datediff(to_date(col("ts")),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.olsTrend(daily, "g", "day", "n_events")
        .transform(ordered1(_, col("group")))
    }),


    // Empirical-Bayes shrinkage of per-brand mean retail price toward
    // the grand mean — one group agg, one 1-row broadcast panel.
    "q238_eb_shrinkage" -> ((s, d) => {
      graft.operators.Profiling.ebShrinkMeans(load(s, d, "part"),
          col("p_brand"), col("p_retailprice"), scale = 2)
        .transform(ordered1(_, col("group")))
    }),


    // Kruskal-Wallis H across languages on doc length — the k-group
    // rank test; exact doubled rank sums on the value histogram.
    "q239_kruskal_wallis" -> ((s, d) => {
      val docs = load(s, d, "documents")
      graft.operators.Evaluation.kruskalWallis(docs, col("lang"),
          col("n_chars"))
        .transform(ordered1(_, col("n")))
    }),


    // Wald-Wolfowitz runs test on the daily event-count series:
    // above/below-median sign sequence, exact run counts.
    "q240_runs_test" -> ((s, d) => {
      val e = load(s, d, "events")
      val daily = e.filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.runsTest(daily, "day", "n")
        .transform(ordered1(_, col("runs")))
    }),


    // Bland-Altman agreement between the recorded n_chars and a
    // recomputed length(text) — bias, 1.96-SD limits, outside share,
    // all over the bounded diff histogram.
    "q243_bland_altman" -> ((s, d) => {
      val docs = load(s, d, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
      graft.operators.Evaluation.blandAltman(docs, col("n_chars"),
          length(col("text")), scale = 0)
        .transform(ordered1(_, col("n")))
    }),


    // Mann-Kendall monotonic-trend test on daily purchase counts —
    // the quadratic step runs on the bounded daily frame only.
    "q245_mann_kendall" -> ((s, d) => {
      val e = load(s, d, "events")
      val daily = e
        .filter(col("ts").isNotNull && col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.mannKendall(daily, "day", "n")
        .transform(ordered1(_, col("n")))
    }),


    // Cochran's Q across three embedding-dim sign "raters" — one
    // aggregation pass, exact integer totals.
    "q246_cochran_q" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
        .filter(col("embedding").isNotNull)
      val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
      graft.operators.Evaluation.cochranQ(emb,
          (1 to 3).map(j => (element_at(v, j) > 0).cast("int")))
        .transform(ordered1(_, col("n_items")))
    }),


    // Brown-Forsythe variance-homogeneity test of doc length across
    // sources: exact scale-1 moments on |x - group median|.
    "q249_brown_forsythe" -> ((s, d) => {
      val docs = load(s, d, "documents")
        .filter(col("source").isNotNull)
      graft.operators.Evaluation.brownForsythe(docs, col("source"),
          col("n_chars"))
        .transform(ordered1(_, col("n")))
    }),


    // Cramér's V association screen across categorical pairs (the
    // zero-spine mass folded as n - Σ_obs e, no spine join).
    "q217_cramers_v" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val lenBucket = least(floor(col("n_chars") / lit(200.0)), lit(4L))
      Profiling.cramersV(docs, Seq(
          ("lang_source", col("lang"), col("source")),
          ("lang_length", col("lang"), lenBucket),
          ("source_length", col("source"), lenBucket)))
        .transform(ordered1(_, col("pair")))
    }),


    // Covariate balance of the vec_id-parity split: per-covariate
    // standardized mean difference from exact integer sums.
    "q212_covariate_balance" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      def dim(i: Int) = element_at(graft.functions.VectorFunctions
        .asDouble(col("embedding")), i)
      graft.operators.Evaluation.covariateBalance(emb,
          pmod(col("vec_id"), lit(2L)).cast("int"),
          Seq("dim1" -> dim(1), "dim2" -> dim(2),
            "label" -> col("label").cast("double")))
        .transform(ordered1(_, col("covariate")))
    }),


    // Q-Q drift table: decile cuts of pre- vs post-1997 order values
    // ($10-quantized histogram), exact ceil(n*k/10) rank picks.
    "q213_qq_table" -> ((s, d) => {
      val o = load(s, d, "orders")
      val v = round(col("o_totalprice"), -1)
      Profiling.qqTable(
          o.filter(col("o_orderdate") <
            lit(java.sql.Date.valueOf("1997-01-01"))).select(v.as("v")),
          o.filter(col("o_orderdate") >=
            lit(java.sql.Date.valueOf("1997-01-01"))).select(v.as("v")),
          col("v"), quantiles = 10)
        .transform(ordered1(_, col("quantile")))
    }),


    // Deterministic half-subsample envelope for the mean order value:
    // one 34-buffer aggregation pass, membership = md5 hex-digit
    // parity, never materialized.
    "q210_subsample_ci" -> ((s, d) => {
      // parallel(): the 1-row aggregation's partial pass is md5+16-conv
      // CPU per row, and the parquet scan yields too few partitions to
      // spread it (round-12 A/B at sf0.1: see BASELINE.md)
      Profiling.subsampleCI(parallel(load(s, d, "orders")),
        col("o_orderkey"), col("o_totalprice"), nResamples = 16, scale = 2)
    }),


    // BBSE label-shift correction: confusion on the vec_id%7 holdout,
    // predicted marginal on the rest, closed-form 2x2 solve.
    "q211_label_shift" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val pred = (element_at(graft.functions.VectorFunctions
        .asDouble(col("embedding")), 1) >= 0).cast("int")
      val lab = (col("label") >= 5).cast("int")
      graft.operators.Evaluation.labelShiftBinary(
        emb.filter(pmod(col("vec_id"), lit(7L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(7L)) =!= 0),
        pred, lab)
    }),


    // Difference-in-differences: user-parity treatment x mid-January
    // period split over event values — one 8-sum aggregation pass.
    "q208_did" -> ((s, d) => {
      val e = load(s, d, "events")
      graft.operators.Evaluation.diffInDiff(e,
        pmod(col("user_id"), lit(2L)).cast("int"),
        (col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
          .cast("int"),
        col("value"))
    }),


    // Jensen-Shannon divergence between pre-/post-1997 order-value
    // histograms — the symmetric bounded drift number.
    "q206_js_divergence" -> ((s, d) => {
      val o = load(s, d, "orders")
      val bin = floor(col("o_totalprice") / lit(10000.0)).cast("long")
      graft.operators.Evaluation.jsDivergence(
        o.filter(col("o_orderdate") <
          lit(java.sql.Date.valueOf("1997-01-01"))).select(bin.as("bin")),
        o.filter(col("o_orderdate") >=
          lit(java.sql.Date.valueOf("1997-01-01"))).select(bin.as("bin")),
        col("bin"))
    }),


    // Split-conformal threshold at alpha=0.1 over the quantized
    // first-dim nonconformity score.
    "q207_conformal" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.conformalThreshold(emb,
        round(abs(element_at(graft.functions.VectorFunctions
          .asDouble(col("embedding")), 1)), 2),
        alpha = 0.1)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // Expected counts and chi2 terms reproduce Profiling.contingencyChi2's
    // single IEEE sequence: e = rt*ct/n, term = (o-e)*(o-e)/e.
    "q178_chi2_bias" ->
      """WITH o AS (SELECT lang, source, count(*) AS n_obs
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
        |ct AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM documents)
        |SELECT rt.lang, ct.source, COALESCE(o.n_obs, 0) AS n_obs,
        |  round(CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |    / CAST(t.n AS DOUBLE), 6) AS expected,
        |  round((CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
        |      - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
        |      - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(t.n AS DOUBLE)),
        |    6) AS chi2_term
        |FROM rt CROSS JOIN ct
        |LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source
        |CROSS JOIN t
        |ORDER BY 1, 2""".stripMargin,


    // Integer ECDF-gap argmax mirrors Evaluation.ksTwoSample: HUGEINT
    // cross-multiplied cumulative counts, ties to the smallest value.
    "q183_ks_test" ->
      """WITH av AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE lang = 'en' AND n_chars IS NOT NULL),
        |bv AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE lang <> 'en' AND n_chars IS NOT NULL),
        |ga AS (SELECT v, count(*) AS ca FROM av GROUP BY v),
        |gb AS (SELECT v, count(*) AS cb FROM bv GROUP BY v),
        |m AS (SELECT COALESCE(ga.v, gb.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM ga FULL OUTER JOIN gb ON ga.v = gb.v),
        |c AS (SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
        |  FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb, count(*) AS nv FROM m),
        |g AS (SELECT v, na, nb, nv,
        |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)
        |      AS gap
        |  FROM c CROSS JOIN t),
        |mx AS (SELECT max(gap) AS gmax FROM g)
        |SELECT na AS n_a, nb AS n_b, nv AS n_values,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(CAST(gmax AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) END AS d_stat,
        |  min(v) AS at_value
        |FROM g CROSS JOIN mx WHERE gap = gmax
        |GROUP BY na, nb, nv, gmax""".stripMargin,


    // Concordant/discordant HUGEINT pair sums over the joint cell grid,
    // tie terms doubled — Evaluation.kendallTau's DECIMAL(38,0) walk.
    "q184_kendall_tau" ->
      """WITH v AS (SELECT CAST(floor(n_chars / 100) AS DOUBLE) AS x,
        |    CAST(floor(len(string_split(text, ' ')) / 20) AS DOUBLE) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cells AS (SELECT x, y, CAST(count(*) AS HUGEINT) AS c
        |  FROM v GROUP BY x, y),
        |pairs AS (SELECT
        |    COALESCE(sum(CASE WHEN a.y < b.y THEN a.c * b.c END),
        |      CAST(0 AS HUGEINT)) AS concordant,
        |    COALESCE(sum(CASE WHEN a.y > b.y THEN a.c * b.c END),
        |      CAST(0 AS HUGEINT)) AS discordant
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |t AS (SELECT CAST(sum(c) AS HUGEINT) AS n, count(*) AS n_cells
        |  FROM cells),
        |tx AS (SELECT COALESCE(sum(cx * (cx - 1)), CAST(0 AS HUGEINT))
        |    AS tx2 FROM (SELECT sum(c) AS cx FROM cells GROUP BY x)),
        |ty AS (SELECT COALESCE(sum(cy * (cy - 1)), CAST(0 AS HUGEINT))
        |    AS ty2 FROM (SELECT sum(c) AS cy FROM cells GROUP BY y))
        |SELECT CAST(t.n AS BIGINT) AS n, t.n_cells,
        |  CAST(concordant AS BIGINT) AS concordant,
        |  CAST(discordant AS BIGINT) AS discordant,
        |  CASE WHEN (CAST(t.n * (t.n - 1) AS DOUBLE)
        |        - CAST(tx2 AS DOUBLE)) / 2.0 > 0
        |      AND (CAST(t.n * (t.n - 1) AS DOUBLE)
        |        - CAST(ty2 AS DOUBLE)) / 2.0 > 0 THEN
        |    round(CAST(concordant - discordant AS DOUBLE)
        |      / sqrt(((CAST(t.n * (t.n - 1) AS DOUBLE)
        |          - CAST(tx2 AS DOUBLE)) / 2.0)
        |        * ((CAST(t.n * (t.n - 1) AS DOUBLE)
        |          - CAST(ty2 AS DOUBLE)) / 2.0)), 6)
        |  END AS tau_b
        |FROM t CROSS JOIN pairs CROSS JOIN tx CROSS JOIN ty
        |ORDER BY 1""".stripMargin,


    // Per-user pairwise-slope median with the explicit floor-midrank
    // picks — TimeSeries.theilSen's sum/count convention.
    "q188_theil_sen" ->
      """WITH p AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS DOUBLE) AS x,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events WHERE ts IS NOT NULL GROUP BY user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))),
        |np AS (SELECT user_id, count(*) AS n_points FROM p GROUP BY user_id),
        |s AS (SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS sl
        |  FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x),
        |r AS (SELECT user_id, sl,
        |    row_number() OVER (PARTITION BY user_id ORDER BY sl) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS npair FROM s),
        |m AS (SELECT user_id, npair AS n_pairs,
        |    round(sum(sl) / count(*), 6) AS slope
        |  FROM r
        |  WHERE rn = CAST(floor((npair + 1) / 2.0) AS BIGINT)
        |     OR rn = CAST(floor((npair + 2) / 2.0) AS BIGINT)
        |  GROUP BY user_id, npair)
        |SELECT m.user_id, np.n_points, m.n_pairs, m.slope
        |FROM m JOIN np USING (user_id) ORDER BY m.user_id""".stripMargin,


    // The identical rank walk: hist → cumulative window → fences at
    // ranks k+1 and n-k, HUGEINT sums, one final IEEE division chain.
    "q201_winsorized" ->
      """WITH h AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
        |    count(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY g, q),
        |r AS (SELECT g, q, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY q
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi,
        |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM h),
        |r2 AS (SELECT g, q, c, hi, n, hi - c + 1 AS lo,
        |    CAST(floor(CAST(n AS DOUBLE) * 0.05) AS BIGINT) AS k
        |  FROM r),
        |a AS (SELECT g, max(n) AS n, max(k) AS k,
        |    sum(CAST(q AS HUGEINT) * CAST(greatest(0,
        |      least(hi, n - k) - greatest(lo, k + 1) + 1) AS HUGEINT))
        |      AS smid,
        |    min(CASE WHEN hi >= k + 1 THEN q END) AS vlo,
        |    min(CASE WHEN hi >= n - k THEN q END) AS vhi
        |  FROM r2 GROUP BY g)
        |SELECT g AS o_orderpriority, n, k,
        |  round(CAST(vlo AS DOUBLE) / 100.0, 6) AS fence_low,
        |  round(CAST(vhi AS DOUBLE) / 100.0, 6) AS fence_high,
        |  CASE WHEN n - 2 * k > 0 THEN
        |    round((CAST(smid AS DOUBLE) / 100.0) /
        |      CAST(n - 2 * k AS DOUBLE), 6) END AS trimmed_mean,
        |  round((CAST(smid + CAST(k AS HUGEINT) * vlo +
        |      CAST(k AS HUGEINT) * vhi AS DOUBLE) / 100.0) /
        |    CAST(n AS DOUBLE), 6) AS winsor_mean
        |FROM a ORDER BY o_orderpriority""".stripMargin,


    "q202_tail_index" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |cnt AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
        |top AS (SELECT w, f FROM cnt ORDER BY f DESC, w ASC LIMIT 100),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(min(f) AS BIGINT) AS fk FROM top),
        |s AS (SELECT max(kk.m) AS m, max(kk.fk) AS fk,
        |    sum(ln(CAST(top.f AS DOUBLE) / CAST(kk.fk AS DOUBLE))) AS lsum
        |  FROM top, kk)
        |SELECT m AS k, fk AS f_kth,
        |  CASE WHEN lsum > 0 THEN
        |    round(CAST(m AS DOUBLE) / lsum, 6) END AS alpha
        |FROM s""".stripMargin,


    // Leading digit from the exact unscaled-cents integer string; the
    // Benford expectation spelled ln(1+1/d)/ln(10) on both engines.
    "q203_benford" ->
      """WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |    AS digit
        |  FROM v WHERE cents > 0),
        |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
        |t AS (SELECT count(*) AS n FROM d),
        |sp AS (SELECT CAST(u.dd AS INT) AS digit
        |  FROM unnest(range(1, 10)) AS u(dd))
        |SELECT sp.digit, coalesce(c.n_obs, 0) AS n_obs,
        |  round(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE),
        |    6) AS share,
        |  round(ln(1.0 + 1.0 / CAST(sp.digit AS DOUBLE)) / ln(10.0), 6)
        |    AS benford,
        |  round(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE) -
        |    ln(1.0 + 1.0 / CAST(sp.digit AS DOUBLE)) / ln(10.0), 6) AS gap,
        |  round(CAST(n AS DOUBLE) *
        |    (CAST(coalesce(c.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE) -
        |      ln(1.0 + 1.0 / CAST(sp.digit AS DOUBLE)) / ln(10.0)) *
        |    (CAST(coalesce(c.n_obs, 0) AS DOUBLE) / CAST(n AS DOUBLE) -
        |      ln(1.0 + 1.0 / CAST(sp.digit AS DOUBLE)) / ln(10.0)) /
        |    (ln(1.0 + 1.0 / CAST(sp.digit AS DOUBLE)) / ln(10.0)), 6)
        |    AS chi2_term
        |FROM sp LEFT JOIN c ON c.digit = sp.digit, t
        |ORDER BY sp.digit""".stripMargin,


    "q204_ab_test" ->
      """WITH ent AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS v,
        |    user_id AS e,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY v, e),
        |arms AS (SELECT
        |    CAST(sum(CASE WHEN v = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN v = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN v = 'a' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN v = 'b' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM ent)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |    AS rate_a,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |    AS rate_b,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS lift,
        |  round((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |    sqrt((CAST(conv_a + conv_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |      (1.0 - CAST(conv_a + conv_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |      (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |    AS z
        |FROM arms
        |ORDER BY 1""".stripMargin,


    // Doubled-midrank integer walk mirrors Evaluation.mannWhitney:
    // 2·R_a and the tie term stay HUGEINT; only z/cles divide in IEEE.
    "q223_mann_whitney" ->
      """WITH av AS (SELECT floor(value * 10) AS v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL),
        |bv AS (SELECT floor(value * 10) AS v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |ga AS (SELECT v, count(*) AS ca FROM av GROUP BY v),
        |gb AS (SELECT v, count(*) AS cb FROM bv GROUP BY v),
        |m AS (SELECT COALESCE(ga.v, gb.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb FROM ga FULL OUTER JOIN gb ON ga.v = gb.v),
        |c AS (SELECT v, ca, cb, ca + cb AS t,
        |    COALESCE(sum(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM m),
        |s AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
        |    CAST(sum(cb) AS HUGEINT) AS nb, count(*) AS nv,
        |    CAST(sum(CAST(ca AS HUGEINT) *
        |      (2 * CAST(bef AS HUGEINT) + CAST(t AS HUGEINT) + 1))
        |      AS HUGEINT) AS r2a,
        |    CAST(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) *
        |      CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS HUGEINT) AS ties
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  nv AS n_values,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 END AS u_a,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round((CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0) /
        |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) END AS cles,
        |  CASE WHEN na > 0 AND nb > 0 AND
        |      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |        ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) -
        |          CAST(ties AS DOUBLE) /
        |          ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) *
        |            (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))) > 0
        |    THEN round((CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 -
        |      CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) /
        |      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |        ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) -
        |          CAST(ties AS DOUBLE) /
        |          ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) *
        |            (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 6)
        |    END AS z
        |FROM s ORDER BY 1""".stripMargin,


    // Exact HUGEINT moment sums per source; dimensionless η²/F outputs
    // mirror Evaluation.anovaF (raw SS magnitudes would expose fold
    // noise past round(,6)).
    "q224_anova" ->
      """WITH g AS (SELECT source AS grp,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
        |      AS HUGEINT) AS q
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY source),
        |f AS (SELECT CAST(sum(n) AS HUGEINT) AS nt, count(*) AS k,
        |    CAST(sum(s) AS HUGEINT) AS st,
        |    sum(CAST(n * q - s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1.0)) AS ssw,
        |    sum(CAST(s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 1.0)) AS sgn
        |  FROM g)
        |SELECT CAST(nt AS BIGINT) AS n, k,
        |  round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS grand_mean,
        |  CASE WHEN (sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 1.0)) + ssw > 0 THEN
        |    round((sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 1.0)) /
        |      ((sgn - CAST(st * st AS DOUBLE) /
        |        (CAST(nt AS DOUBLE) * 1.0)) + ssw), 6) END AS eta_sq,
        |  CASE WHEN k >= 2 AND CAST(nt AS BIGINT) > k AND ssw > 0 THEN
        |    round(((sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 1.0)) / (CAST(k AS DOUBLE) - 1.0)) /
        |      (ssw / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |    END AS f_stat
        |FROM f ORDER BY 1""".stripMargin,


    // Exact cent sums per (segment, customer); HUGEINT Σs²/top-4 folds
    // mirror Profiling.concentration; two IEEE ratios.
    "q229_concentration" ->
      """WITH per AS (SELECT c_mktsegment AS grp, o_custkey AS e,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS HUGEINT) AS s
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IS NOT NULL AND o_custkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT grp, s, row_number() OVER (PARTITION BY grp
        |    ORDER BY s DESC, e ASC) AS rn FROM per),
        |g AS (SELECT grp, count(*) AS n_entities,
        |    CAST(sum(s) AS HUGEINT) AS t,
        |    CAST(sum(s * s) AS HUGEINT) AS c2,
        |    CAST(sum(CASE WHEN rn <= 4 THEN s ELSE 0 END) AS HUGEINT)
        |      AS tp
        |  FROM r GROUP BY grp)
        |SELECT grp AS "group", n_entities,
        |  round(CAST(c2 AS DOUBLE) /
        |    (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) * 10000.0, 6) AS hhi,
        |  round(CAST(tp AS DOUBLE) / CAST(t AS DOUBLE), 6) AS cr4
        |FROM g ORDER BY "group"""".stripMargin,


    // Mirrors Evaluation.cuped: DECIMAL(18,2)*100 HUGEINT per-unit
    // sums ≡ unscaledLong(scale=2); θ, ρ², and the arm means all read
    // off the same nine exact moments; only the final ratios are IEEE.
    "q236_cuped" ->
      """WITH u AS (SELECT user_id AS u,
        |    CAST(user_id % 2 = 0 AS INT) AS t,
        |    CAST(COALESCE(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) END),
        |      0) AS HUGEINT) AS x,
        |    CAST(COALESCE(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) END),
        |      0) AS HUGEINT) AS y
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(t) AS HUGEINT) AS nt,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(y * y) AS HUGEINT) AS syy,
        |    CAST(sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS HUGEINT) AS sxt,
        |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS HUGEINT) AS syt
        |  FROM u),
        |d AS (SELECT n, nt, sx, sy, sxt, syt,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varxn,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS varyn,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
        |    CAST(nt AS DOUBLE) AS ntd, CAST(n - nt AS DOUBLE) AS ncd
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_units, CAST(nt AS BIGINT) AS n_t,
        |  CAST(n - nt AS BIGINT) AS n_c,
        |  CASE WHEN varxn > 0 THEN round(covn / varxn, 6) END AS theta,
        |  CASE WHEN n > 0 THEN round(CAST(sx AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * 100.0), 6) END AS mean_pre,
        |  CASE WHEN nt > 0 AND n > nt THEN
        |    round((CAST(syt AS DOUBLE) / ntd -
        |      CAST(sy - syt AS DOUBLE) / ncd) / 100.0, 6) END AS diff_raw,
        |  CASE WHEN nt > 0 AND n > nt AND varxn > 0 THEN
        |    round((CAST(syt AS DOUBLE) / ntd -
        |        CAST(sy - syt AS DOUBLE) / ncd) / 100.0 -
        |      (covn / varxn) *
        |        ((CAST(sxt AS DOUBLE) / ntd -
        |          CAST(sx - sxt AS DOUBLE) / ncd) / 100.0), 6)
        |    END AS diff_cuped,
        |  CASE WHEN varxn > 0 AND varyn > 0 THEN
        |    round(covn * covn / (varxn * varyn), 6) END AS var_reduction
        |FROM d ORDER BY 1""".stripMargin,


    // Mirrors TimeSeries.olsTrend: HUGEINT moments, slope/intercept as
    // the identical fixed IEEE op sequence, residual lag window over
    // the bounded daily frame.
    "q237_ols_trend" ->
      """WITH dly AS (SELECT event_type AS g,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
        |      AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
        |      AS sxy,
        |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
        |      AS syy
        |  FROM dly GROUP BY g),
        |s AS (SELECT g, n,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE) END AS b,
        |    (CAST(sy AS DOUBLE) -
        |      (CASE WHEN n * sxx - sx * sx > 0 THEN
        |        CAST(n * sxy - sx * sy AS DOUBLE) /
        |          CAST(n * sxx - sx * sx AS DOUBLE) END) *
        |      CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
        |    CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE) *
        |        CAST(n * sxy - sx * sy AS DOUBLE) /
        |        (CAST(n * sxx - sx * sx AS DOUBLE) *
        |          CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
        |  FROM m),
        |r AS (SELECT dly.g, dly.x,
        |    CAST(dly.y AS DOUBLE) - (s.a + s.b * CAST(dly.x AS DOUBLE)) AS e
        |  FROM dly JOIN s ON dly.g = s.g),
        |rl AS (SELECT g, e,
        |    lag(e) OVER (PARTITION BY g ORDER BY x) AS ep FROM r),
        |d AS (SELECT g, sum(e * e) AS den,
        |    sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep) END)
        |      AS num
        |  FROM rl GROUP BY g)
        |SELECT s.g AS "group", CAST(s.n AS BIGINT) AS n,
        |  round(s.b, 6) AS slope, round(s.a, 6) AS intercept,
        |  round(s.r2, 6) AS r2,
        |  CASE WHEN s.n >= 2 AND d.den > 0 THEN round(d.num / d.den, 6)
        |    END AS dw
        |FROM s JOIN d ON s.g = d.g ORDER BY 1""".stripMargin,


    // Mirrors Profiling.ebShrinkMeans: DECIMAL(18,2)*100 quantization,
    // HUGEINT group moments, identical IEEE sequence for sigma2/tau2/B.
    "q238_eb_shrinkage" ->
      """WITH g AS (SELECT p_brand AS grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |      AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |        AS HUGEINT) *
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |        AS HUGEINT)) AS HUGEINT) AS q
        |  FROM part WHERE p_brand IS NOT NULL AND p_retailprice IS NOT NULL
        |  GROUP BY p_brand),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS nd,
        |    CAST(count(*) AS DOUBLE) AS kd,
        |    CAST(sum(s) AS DOUBLE) AS sd,
        |    sum(CAST(q AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS ssw,
        |    sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS ssb2,
        |    sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS n2,
        |    CAST(sum(n) AS BIGINT) AS nn, count(*) AS kk FROM g),
        |p AS (SELECT CASE WHEN kk >= 2 AND nn > kk THEN sd / nd END
        |      AS grand,
        |    CASE WHEN kk >= 2 AND nn > kk THEN ssw / (nd - kd) END AS s2w,
        |    CASE WHEN kk >= 2 AND nn > kk THEN
        |      greatest(0.0, ((ssb2 - sd * sd / nd) / (kd - 1.0) -
        |        ssw / (nd - kd)) / ((nd - n2 / nd) / (kd - 1.0)))
        |      END AS tau2
        |  FROM t),
        |o AS (SELECT g.grp, g.n,
        |    CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) AS meanu,
        |    p.grand, p.s2w, p.tau2,
        |    CASE WHEN p.tau2 + p.s2w / CAST(g.n AS DOUBLE) > 0 THEN
        |        p.tau2 / (p.tau2 + p.s2w / CAST(g.n AS DOUBLE))
        |      WHEN p.tau2 IS NOT NULL THEN 0.0 END AS b
        |  FROM g CROSS JOIN p)
        |SELECT grp AS "group", n, round(meanu / 100.0, 6) AS mean,
        |  round((grand + b * (meanu - grand)) / 100.0, 6) AS shrunk,
        |  round(b, 6) AS shrink_b
        |FROM o ORDER BY 1""".stripMargin,


    // Mirrors Evaluation.kruskalWallis: exact HUGEINT doubled rank
    // sums on the merged value histogram, IEEE only in H and the tie
    // correction.
    "q239_kruskal_wallis" ->
      """WITH gv AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v,
        |    count(*) AS c
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |vt AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM gv GROUP BY v),
        |vr AS (SELECT v, t, COALESCE(sum(t) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM vt),
        |g AS (SELECT gv.g, CAST(sum(gv.c) AS HUGEINT) AS n,
        |    CAST(sum(CAST(gv.c AS HUGEINT) *
        |      (2 * CAST(vr.bef AS HUGEINT) + CAST(vr.t AS HUGEINT) + 1))
        |      AS HUGEINT) AS r2
        |  FROM gv JOIN vr ON gv.v = vr.v GROUP BY gv.g),
        |ti AS (SELECT CAST(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) *
        |      CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS HUGEINT) AS ties,
        |    count(*) AS nv FROM vr),
        |tt AS (SELECT CAST(sum(n) AS HUGEINT) AS nn, count(*) AS k,
        |    sum(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) /
        |      (4.0 * CAST(n AS DOUBLE))) AS sr
        |  FROM g)
        |SELECT CAST(nn AS BIGINT) AS n, k AS n_groups, ti.nv AS n_values,
        |  CASE WHEN k >= 2 AND nn >= 2 THEN
        |    round(12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) *
        |      sr - 3.0 * (CAST(nn AS DOUBLE) + 1.0), 6) END AS h,
        |  CASE WHEN k >= 2 AND nn >= 2 AND
        |      1.0 - CAST(ti.ties AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) *
        |          CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)) > 0 THEN
        |    round((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) *
        |        sr - 3.0 * (CAST(nn AS DOUBLE) + 1.0)) /
        |      (1.0 - CAST(ti.ties AS DOUBLE) /
        |        (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) *
        |          CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))), 6)
        |    END AS h_corrected
        |FROM tt CROSS JOIN ti ORDER BY 1""".stripMargin,


    // Mirrors TimeSeries.runsTest: quantile_cont median (same (n-1)p
    // convention as Spark's percentile), exact sign/run counts.
    "q240_runs_test" ->
      """WITH dly AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |md AS (SELECT quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
        |  FROM dly),
        |sg AS (SELECT day, CAST(CAST(n AS DOUBLE) > med AS INT) AS s
        |  FROM dly, md WHERE CAST(n AS DOUBLE) <> med),
        |rl AS (SELECT s, lag(s) OVER (ORDER BY day) AS p FROM sg),
        |ag AS (SELECT CAST(sum(s) AS BIGINT) AS n_above,
        |    CAST(sum(1 - s) AS BIGINT) AS n_below,
        |    CAST(sum(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs
        |  FROM rl),
        |d AS (SELECT n_above, n_below, runs,
        |    CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n0
        |  FROM ag)
        |SELECT n_above, n_below, runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 THEN
        |    round(2.0 * n1 * n0 / (n1 + n0) + 1.0, 6) END AS mu_runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND
        |      (2.0 * n1 * n0 / (n1 + n0) + 1.0 - 1.0) *
        |      (2.0 * n1 * n0 / (n1 + n0) + 1.0 - 2.0) / (n1 + n0 - 1.0) > 0
        |    THEN round((CAST(runs AS DOUBLE) -
        |        (2.0 * n1 * n0 / (n1 + n0) + 1.0)) /
        |      sqrt((2.0 * n1 * n0 / (n1 + n0) + 1.0 - 1.0) *
        |        (2.0 * n1 * n0 / (n1 + n0) + 1.0 - 2.0) /
        |        (n1 + n0 - 1.0)), 6) END AS z
        |FROM d ORDER BY 1""".stripMargin,


    // Mirrors Evaluation.blandAltman: exact HUGEINT diff moments over
    // the diff histogram, IEEE bias/SD/limits, integer outside count.
    "q243_bland_altman" ->
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) -
        |      CAST(length(text) AS BIGINT) AS d, count(*) AS c
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(CAST(d AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT)
        |      AS s,
        |    CAST(sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT) *
        |      CAST(c AS HUGEINT)) AS HUGEINT) AS q
        |  FROM h),
        |l AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS bias,
        |    CASE WHEN n >= 2 THEN
        |      sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE) -
        |        CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sd
        |  FROM m),
        |l2 AS (SELECT n, bias, sd, bias - 1.96 * sd AS lo,
        |    bias + 1.96 * sd AS hi FROM l),
        |o AS (SELECT sum(CASE WHEN CAST(h.d AS DOUBLE) < l2.lo OR
        |      CAST(h.d AS DOUBLE) > l2.hi THEN h.c ELSE 0 END) AS outn
        |  FROM h CROSS JOIN l2)
        |SELECT n, round(bias, 6) AS bias, round(sd, 6) AS sd_diff,
        |  round(lo, 6) AS lo_limit, round(hi, 6) AS hi_limit,
        |  CASE WHEN sd IS NOT NULL THEN CAST(outn AS BIGINT) END
        |    AS n_outside,
        |  CASE WHEN sd IS NOT NULL THEN
        |    round(CAST(outn AS DOUBLE) / CAST(n AS DOUBLE), 6) END
        |    AS pct_outside
        |FROM l2 CROSS JOIN o ORDER BY 1""".stripMargin,


    // Mirrors TimeSeries.mannKendall: integer S from the bounded
    // self-join, tie-corrected variance, continuity-corrected z.
    "q245_mann_kendall" ->
      """WITH dly AS (SELECT CAST(ts AS DATE) AS o,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(COALESCE(sum(CAST(sign(CAST(b.v - a.v AS DOUBLE))
        |      AS BIGINT)), 0) AS BIGINT) AS s
        |  FROM dly a JOIN dly b ON a.o < b.o),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dly),
        |t AS (SELECT COALESCE(sum(CAST(cnt AS DOUBLE) *
        |      (CAST(cnt AS DOUBLE) - 1.0) *
        |      (2.0 * CAST(cnt AS DOUBLE) + 5.0)), 0.0) AS tsum
        |  FROM (SELECT v, count(*) AS cnt FROM dly GROUP BY v)),
        |f AS (SELECT n, n_pairs, s,
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) *
        |      (2.0 * CAST(n AS DOUBLE) + 5.0) - tsum) / 18.0 AS vars
        |  FROM c CROSS JOIN p CROSS JOIN t)
        |SELECT n, n_pairs, s,
        |  CASE WHEN n >= 2 AND vars > 0 THEN
        |    round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) /
        |        sqrt(vars)
        |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(vars)
        |      ELSE 0.0 END, 6) END AS z
        |FROM f ORDER BY 1""".stripMargin,


    // Mirrors Evaluation.cochranQ: exact HUGEINT column/row totals,
    // one IEEE ratio.
    "q246_cochran_q" ->
      """WITH r AS (SELECT
        |    CAST(CAST(embedding AS DOUBLE[])[1] > 0 AS INT) AS r1,
        |    CAST(CAST(embedding AS DOUBLE[])[2] > 0 AS INT) AS r2,
        |    CAST(CAST(embedding AS DOUBLE[])[3] > 0 AS INT) AS r3
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(r1) AS HUGEINT) AS t1,
        |    CAST(sum(r2) AS HUGEINT) AS t2,
        |    CAST(sum(r3) AS HUGEINT) AS t3,
        |    CAST(sum(r1 + r2 + r3) AS HUGEINT) AS sr,
        |    CAST(sum(CAST(r1 + r2 + r3 AS HUGEINT) *
        |      CAST(r1 + r2 + r3 AS HUGEINT)) AS HUGEINT) AS sr2
        |  FROM r WHERE r1 IS NOT NULL AND r2 IS NOT NULL
        |    AND r3 IS NOT NULL)
        |SELECT n_items, 3 AS n_raters,
        |  CASE WHEN CAST(3 * sr - sr2 AS DOUBLE) > 0 THEN
        |    round(2.0 * CAST(3 * (t1 * t1 + t2 * t2 + t3 * t3) -
        |        (t1 + t2 + t3) * (t1 + t2 + t3) AS DOUBLE) /
        |      CAST(3 * sr - sr2 AS DOUBLE), 6) END AS q_stat
        |FROM a ORDER BY 1""".stripMargin,


    // Mirrors Evaluation.brownForsythe: quantile_cont group medians,
    // exact scale-1 HUGEINT moments on |x - med| (halves at scale 1),
    // anovaF's formula shape with the 10^2-scale descale factor.
    "q249_brown_forsythe" ->
      """WITH md AS (SELECT source AS grp,
        |    quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |z AS (SELECT d.source AS grp,
        |    CAST(CAST(abs(CAST(d.n_chars AS DOUBLE) - md.med)
        |      AS DECIMAL(18,1)) * 10 AS HUGEINT) AS v
        |  FROM documents d JOIN md ON d.source = md.grp
        |  WHERE d.n_chars IS NOT NULL),
        |g AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(v) AS HUGEINT) AS s,
        |    CAST(sum(v * v) AS HUGEINT) AS q
        |  FROM z GROUP BY grp),
        |f AS (SELECT CAST(sum(n) AS HUGEINT) AS nt, count(*) AS k,
        |    CAST(sum(s) AS HUGEINT) AS st,
        |    sum(CAST(n * q - s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 100.0)) AS ssw,
        |    sum(CAST(s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * 100.0)) AS sgn
        |  FROM g)
        |SELECT CAST(nt AS BIGINT) AS n, k,
        |  round(CAST(st AS DOUBLE) / 10.0 / CAST(nt AS DOUBLE), 6)
        |    AS mean_absdev,
        |  CASE WHEN (sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 100.0)) + ssw > 0 THEN
        |    round((sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 100.0)) /
        |      ((sgn - CAST(st * st AS DOUBLE) /
        |        (CAST(nt AS DOUBLE) * 100.0)) + ssw), 6) END AS eta_sq,
        |  CASE WHEN k >= 2 AND CAST(nt AS BIGINT) > k AND ssw > 0 THEN
        |    round(((sgn - CAST(st * st AS DOUBLE) /
        |      (CAST(nt AS DOUBLE) * 100.0)) / (CAST(k AS DOUBLE) - 1.0)) /
        |      (ssw / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |    END AS f_stat
        |FROM f ORDER BY 1""".stripMargin,


    // Per pair: observed-cell chi2 terms + (n - sum_e) absent mass;
    // V = sqrt(chi2 / (n * (min(r,c) - 1))).
    "q217_cramers_v" -> {
      def pairSql(name: String, ea: String, eb: String) =
        s"""SELECT '$name' AS pair, n, n_a, n_b,
           |  round(chi2, 6) AS chi2,
           |  CASE WHEN least(n_a, n_b) > 1 AND n > 0 THEN
           |    round(sqrt(chi2 / (CAST(n AS DOUBLE) *
           |      CAST(least(n_a, n_b) - 1 AS DOUBLE))), 6) END AS v
           |FROM (
           |  WITH cells AS (SELECT CAST($ea AS VARCHAR) AS a,
           |      CAST($eb AS VARCHAR) AS b, count(*) AS c
           |    FROM documents
           |    WHERE $ea IS NOT NULL AND $eb IS NOT NULL GROUP BY 1, 2),
           |  ra AS (SELECT a, sum(c) AS ra FROM cells GROUP BY a),
           |  rb AS (SELECT b, sum(c) AS rb FROM cells GROUP BY b),
           |  tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
           |  na AS (SELECT count(*) AS n_a FROM ra),
           |  nb AS (SELECT count(*) AS n_b FROM rb)
           |  SELECT tot.n, na.n_a, nb.n_b,
           |    sum((CAST(c AS DOUBLE) -
           |        CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE) /
           |          CAST(tot.n AS DOUBLE)) *
           |      (CAST(c AS DOUBLE) -
           |        CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE) /
           |          CAST(tot.n AS DOUBLE)) /
           |      (CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE) /
           |        CAST(tot.n AS DOUBLE))) +
           |    (CAST(tot.n AS DOUBLE) -
           |      sum(CAST(ra.ra AS DOUBLE) * CAST(rb.rb AS DOUBLE) /
           |        CAST(tot.n AS DOUBLE))) AS chi2
           |  FROM cells JOIN ra ON ra.a = cells.a
           |  JOIN rb ON rb.b = cells.b, tot, na, nb
           |  GROUP BY tot.n, na.n_a, nb.n_b)""".stripMargin
      val lb = "least(CAST(floor(n_chars / 200.0) AS BIGINT), 4)"
      s"""${pairSql("lang_source", "lang", "source")}
         |UNION ALL
         |${pairSql("lang_length", "lang", lb)}
         |UNION ALL
         |${pairSql("source_length", "source", lb)}
         |ORDER BY pair""".stripMargin
    },


    // Unpivot -> (covariate, group) exact sums; SMD one IEEE chain
    // (population variances, pooled by simple average).
    "q212_covariate_balance" ->
      """WITH s AS (
        |  SELECT vec_id % 2 AS t, 'dim1' AS c,
        |    CAST(CAST(CAST(embedding AS DOUBLE[])[1] AS DECIMAL(18,6))
        |      * 1000000 AS HUGEINT) AS q FROM embeddings
        |  UNION ALL
        |  SELECT vec_id % 2, 'dim2',
        |    CAST(CAST(CAST(embedding AS DOUBLE[])[2] AS DECIMAL(18,6))
        |      * 1000000 AS HUGEINT) FROM embeddings
        |  UNION ALL
        |  SELECT vec_id % 2, 'label',
        |    CAST(CAST(CAST(label AS DOUBLE) AS DECIMAL(18,6))
        |      * 1000000 AS HUGEINT) FROM embeddings),
        |cells AS (SELECT c, t, count(*) AS n, sum(q) AS sq,
        |    sum(q * q) AS sqq
        |  FROM s GROUP BY c, t),
        |j AS (SELECT tr.c AS covariate,
        |    CAST(tr.n AS BIGINT) AS n_treat, CAST(ct.n AS BIGINT) AS n_ctrl,
        |    (CAST(tr.sq AS DOUBLE) / 1000000.0) / CAST(tr.n AS DOUBLE)
        |      AS mt,
        |    (CAST(ct.sq AS DOUBLE) / 1000000.0) / CAST(ct.n AS DOUBLE)
        |      AS mc,
        |    CAST(CAST(tr.n AS HUGEINT) * tr.sqq - tr.sq * tr.sq AS DOUBLE)
        |      / (CAST(tr.n AS DOUBLE) * CAST(tr.n AS DOUBLE)
        |        * 1000000.0 * 1000000.0) AS vt,
        |    CAST(CAST(ct.n AS HUGEINT) * ct.sqq - ct.sq * ct.sq AS DOUBLE)
        |      / (CAST(ct.n AS DOUBLE) * CAST(ct.n AS DOUBLE)
        |        * 1000000.0 * 1000000.0) AS vc
        |  FROM (SELECT * FROM cells WHERE t = 1) tr
        |  JOIN (SELECT * FROM cells WHERE t = 0) ct ON ct.c = tr.c)
        |SELECT covariate, n_treat, n_ctrl,
        |  round(mt, 6) AS mean_treat, round(mc, 6) AS mean_ctrl,
        |  CASE WHEN vt + vc > 0 THEN
        |    round((mt - mc) / sqrt((vt + vc) / 2.0), 6) END AS smd
        |FROM j ORDER BY covariate""".stripMargin,


    // Exact decile rank picks ceil(n*k/10) on both sides' histograms.
    "q213_qq_table" ->
      """WITH av AS (SELECT round(o_totalprice, -1) AS v FROM orders
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |    AND o_totalprice IS NOT NULL),
        |bv AS (SELECT round(o_totalprice, -1) AS v FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |    AND o_totalprice IS NOT NULL),
        |ah AS (SELECT v, count(*) AS c FROM av GROUP BY v),
        |ar AS (SELECT v,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum FROM ah),
        |an AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ah),
        |bh AS (SELECT v, count(*) AS c FROM bv GROUP BY v),
        |br AS (SELECT v,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum FROM bh),
        |bn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bh),
        |sp AS (SELECT CAST(u.k AS INT) AS quantile
        |  FROM unnest(range(1, 10)) AS u(k)),
        |ark AS (SELECT sp.quantile,
        |    CAST(ceil(CAST(an.n AS DOUBLE) *
        |      CAST(sp.quantile AS DOUBLE) / 10.0) AS BIGINT) AS rk
        |  FROM sp, an),
        |brk AS (SELECT sp.quantile,
        |    CAST(ceil(CAST(bn.n AS DOUBLE) *
        |      CAST(sp.quantile AS DOUBLE) / 10.0) AS BIGINT) AS rk
        |  FROM sp, bn),
        |ac AS (SELECT ark.quantile, min(ar.v) AS value_a
        |  FROM ark LEFT JOIN ar ON ar.cum >= ark.rk
        |  GROUP BY ark.quantile),
        |bc AS (SELECT brk.quantile, min(br.v) AS value_b
        |  FROM brk LEFT JOIN br ON br.cum >= brk.rk
        |  GROUP BY brk.quantile)
        |SELECT ac.quantile, value_a, value_b,
        |  round(value_b - value_a, 6) AS gap
        |FROM ac JOIN bc ON bc.quantile = ac.quantile
        |ORDER BY ac.quantile""".stripMargin,


    // Membership = hex digit of md5(key) is even, spelled as an IN
    // list; 16 conditional HUGEINT sums in one pass, least/greatest
    // over the 16 means.
    "q210_subsample_ci" -> {
      val b = 16
      def mem(i: Int) =
        s"substr(md5(CAST(o_orderkey AS VARCHAR)), ${i + 1}, 1) IN " +
          "('0','2','4','6','8','a','c','e')"
      val sums = (0 until b).flatMap(i => Seq(
        s"CAST(sum(CASE WHEN ${mem(i)} THEN 1 ELSE 0 END) AS BIGINT) AS c$i",
        s"CAST(CAST(sum(CASE WHEN ${mem(i)} THEN q ELSE 0 END) * 100 " +
          s"AS HUGEINT) AS DOUBLE) AS s$i"))
      val means = (0 until b).map(i =>
        s"(s$i / 100.0) / CAST(c$i AS DOUBLE)")
      s"""WITH base AS (SELECT o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS q
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |a AS (SELECT count(*) AS n,
         |    CAST(CAST(sum(q) * 100 AS HUGEINT) AS DOUBLE) AS s,
         |    ${sums.mkString(", ")}
         |  FROM base)
         |SELECT CAST($b AS INT) AS n_resamples, n,
         |  round((s / 100.0) / CAST(n AS DOUBLE), 6) AS mean_full,
         |  round(least(${means.mkString(", ")}), 6) AS ci_low,
         |  round(greatest(${means.mkString(", ")}), 6) AS ci_high
         |FROM a ORDER BY 1""".stripMargin
    },


    // C from the holdout, mu from the target, pi = C^-1 mu in the
    // identical closed-form IEEE order (c11 = 1 - c01, mu1 = 1 - mu0).
    "q211_label_shift" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(CAST(embedding AS DOUBLE[])[1] >= 0 AS BIGINT) AS f,
        |    CAST(label >= 5 AS BIGINT) AS y
        |  FROM embeddings),
        |h AS (SELECT count(*) AS n_holdout,
        |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ny0,
        |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ny1,
        |    CAST(sum(CASE WHEN f = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h00,
        |    CAST(sum(CASE WHEN f = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h01,
        |    CAST(sum(CASE WHEN f = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h10
        |  FROM e WHERE vec_id % 7 = 0),
        |t AS (SELECT count(*) AS n_target,
        |    CAST(sum(CASE WHEN f = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0
        |  FROM e WHERE vec_id % 7 <> 0),
        |m AS (SELECT n_holdout, n_target,
        |    CAST(h00 AS DOUBLE) / CAST(ny0 AS DOUBLE) AS c00,
        |    CAST(h01 AS DOUBLE) / CAST(ny1 AS DOUBLE) AS c01,
        |    CAST(h10 AS DOUBLE) / CAST(ny0 AS DOUBLE) AS c10,
        |    CAST(t0 AS DOUBLE) / CAST(n_target AS DOUBLE) AS mu0
        |  FROM h, t)
        |SELECT n_holdout, n_target,
        |  round(c00 * (1.0 - c01) - c01 * c10, 6) AS det,
        |  round(mu0, 6) AS naive_0,
        |  round(1.0 - mu0, 6) AS naive_1,
        |  round(((1.0 - c01) * mu0 - c01 * (1.0 - mu0)) /
        |    (c00 * (1.0 - c01) - c01 * c10), 6) AS pi_0,
        |  round((c00 * (1.0 - mu0) - c10 * mu0) /
        |    (c00 * (1.0 - c01) - c01 * c10), 6) AS pi_1
        |FROM m ORDER BY 1""".stripMargin,


    // Exact DECIMAL(18,6) cell sums; DiD one IEEE chain from integer
    // sums, first index = treated, second = post.
    "q208_did" ->
      """WITH b AS (SELECT CAST(user_id % 2 AS BIGINT) AS t,
        |    CAST(ts >= TIMESTAMP '2024-01-16 00:00:00' AS BIGINT) AS p,
        |    CAST(value AS DECIMAL(18,6)) AS q
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_00,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_01,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_10,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_11,
        |    CAST(CAST(sum(CASE WHEN t = 0 AND p = 0 THEN q ELSE 0 END)
        |      * 1000000 AS HUGEINT) AS DOUBLE) AS s00,
        |    CAST(CAST(sum(CASE WHEN t = 0 AND p = 1 THEN q ELSE 0 END)
        |      * 1000000 AS HUGEINT) AS DOUBLE) AS s01,
        |    CAST(CAST(sum(CASE WHEN t = 1 AND p = 0 THEN q ELSE 0 END)
        |      * 1000000 AS HUGEINT) AS DOUBLE) AS s10,
        |    CAST(CAST(sum(CASE WHEN t = 1 AND p = 1 THEN q ELSE 0 END)
        |      * 1000000 AS HUGEINT) AS DOUBLE) AS s11
        |  FROM b)
        |SELECT n_00, n_01, n_10, n_11,
        |  round(s00 / 1000000.0 / n_00, 6) AS mean_00,
        |  round(s01 / 1000000.0 / n_01, 6) AS mean_01,
        |  round(s10 / 1000000.0 / n_10, 6) AS mean_10,
        |  round(s11 / 1000000.0 / n_11, 6) AS mean_11,
        |  round((s11 / 1000000.0 / n_11 - s10 / 1000000.0 / n_10) -
        |    (s01 / 1000000.0 / n_01 - s00 / 1000000.0 / n_00), 6) AS did
        |FROM a ORDER BY 1""".stripMargin,


    // 0·ln0 = 0 on each side's own KL; the mixture is always positive
    // on observed bins — no epsilon.
    "q206_js_divergence" ->
      """WITH a AS (SELECT CAST(CAST(floor(o_totalprice / 10000.0)
        |      AS BIGINT) AS VARCHAR) AS b, count(*) AS ca
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |bb AS (SELECT CAST(CAST(floor(o_totalprice / 10000.0)
        |      AS BIGINT) AS VARCHAR) AS b, count(*) AS cb
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT coalesce(a.b, bb.b) AS b,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN bb ON a.b = bb.b),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b, count(*) AS n_bins FROM m)
        |SELECT n_a, n_b, n_bins,
        |  round(sum(
        |    CASE WHEN ca > 0 THEN
        |      (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)) *
        |      ln((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |        ((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) / 2.0)) / 2.0
        |      ELSE 0.0 END +
        |    CASE WHEN cb > 0 THEN
        |      (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) *
        |      ln((CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |        ((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE) +
        |          CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) / 2.0)) / 2.0
        |      ELSE 0.0 END), 6) AS js
        |FROM m, t GROUP BY n_a, n_b, n_bins
        |ORDER BY 1""".stripMargin,


    // Exact ceil((n+1)(1-alpha)) order statistic; (1.0 - 0.1) spelled
    // as the subtraction for the identical IEEE value on both engines.
    "q207_conformal" ->
      """WITH h AS (SELECT round(abs(CAST(embedding AS DOUBLE[])[1]), 2)
        |    AS s, count(*) AS c
        |  FROM embeddings GROUP BY 1),
        |r AS (SELECT s, c,
        |    CAST(sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM h),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
        |k AS (SELECT n,
        |    CAST(ceil((CAST(n AS DOUBLE) + 1.0) * (1.0 - 0.1)) AS BIGINT)
        |      AS rank FROM t)
        |SELECT k.n, k.rank,
        |  min(CASE WHEN r.cum >= k.rank THEN r.s END) AS threshold
        |FROM r, k GROUP BY k.n, k.rank""".stripMargin,
  )
}
