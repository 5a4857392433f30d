package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Evaluation metrics and agreement: AUC/PR/ROC, calibration,
  * retrieval metrics, rater agreement, clustering scores,
  * confusion panels, fairness.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object EvalQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Leave-one-out kNN label-agreement audit over the first 50 vectors:
    // the label-noise panel (per-label neighbor-majority agreement).
    "q104_label_agreement" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      Similarity.knnLabelAgreement(emb, emb.filter(col("vec_id") < 50),
          "embedding", "vec_id", "label", k = 5)
        .transform(ordered1(_, col("label")))
    }),


    // Per-label centroid cohesion + nearest-other-centroid separation —
    // the class-taxonomy audit (which labels to merge, which to split).
    "q113_label_separation" -> ((s, d) => {
      Similarity.labelSeparation(load(s, d, "embeddings"),
          "embedding", "vec_id", "label")
        .transform(ordered1(_, col("label")))
    }),


    // Exact binary AUC (Mann-Whitney midranks, integer-exact to the last
    // division): score = first embedding component rounded to 2dp (real
    // tie groups exercise the midrank path), label = class >= 5. Rows
    // collapse to the bounded distinct-score domain before any window.
    "q169_auc_eval" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.aucBinary(emb,
        round(element_at(graft.functions.VectorFunctions
          .asDouble(col("embedding")), 1), 2),
        (col("label") >= 5).cast("int"))
    }),


    // Precision/recall at every distinct score threshold — the operating-
    // point table for calibrating a quality filter. Same bounded-domain
    // reduction as q169.
    "q170_pr_curve" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.prCurve(emb,
          round(element_at(graft.functions.VectorFunctions
            .asDouble(col("embedding")), 1), 2),
          (col("label") >= 5).cast("int"))
        .transform(ordered1(_, col("threshold")))
    }),


    // Calibration reliability table: 10 equal-width probability bins with
    // exact confidence sums (decimal-quantized), observed positive rate,
    // |acc-conf| gap, and per-bin ECE contributions.
    "q171_calibration" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val prob = round((element_at(graft.functions.VectorFunctions
        .asDouble(col("embedding")), 1) + lit(1.0)) / lit(2.0), 2)
      graft.operators.Evaluation.calibration(emb, prob,
          (col("label") >= 5).cast("int"), bins = 10, scale = 2)
        .transform(ordered1(_, col("bin")))
    }),


    // Retrieval eval over the exact top-10: hits@10, NDCG@10, MRR with
    // "same label" relevance. DCG uses shared literal micro-long rank
    // discounts (dcgWeightsMicro) — integer sums, no cross-engine log().
    "q172_retrieval_ndcg" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val lab = emb.select(col("vec_id"), col("label"))
      val ranked = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 30), "embedding", "vec_id", k = 10)
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), "query_id")
        .join(lab.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl")), "neighbor_id")
        .withColumn("rel", (col("__ql") === col("__nl")).cast("int"))
      val nrel = emb.groupBy(col("label").as("__ql2"))
        .agg((count(lit(1)) - 1).as("n_rel"))
      graft.operators.Evaluation.retrievalMetrics(
          ranked.join(broadcast(nrel), col("__ql") === col("__ql2")),
          "query_id", "rank", "rel", "n_rel", k = 10)
        .transform(ordered1(_, col("query_id")))
    }),



    // Spearman rank correlation between token count and char count —
    // "do two quality signals agree on ordering?" Exact midranks over
    // bounded value domains, doubled-rank integer moments.
    "q177_spearman" -> ((s, d) => {
      graft.operators.Evaluation.spearman(load(s, d, "documents"),
        TextFunctions.tokenCount(col("text")), col("n_chars"))
    }),


    // ROC curve points (TPR/FPR per distinct threshold) — the plottable
    // complement of q169's exact midrank AUC, same bounded-domain shape
    // as q170.
    "q179_roc_curve" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.rocCurve(emb,
          round(element_at(graft.functions.VectorFunctions
            .asDouble(col("embedding")), 1), 2),
          (col("label") >= 5).cast("int"))
        .transform(ordered1(_, col("threshold")))
    }),


    // Cohen's kappa between two heuristic raters (token-count vs
    // char-count thresholds): chance-corrected agreement from exact
    // marginal counts.
    "q180_rater_kappa" -> ((s, d) => {
      val docs = load(s, d, "documents")
      graft.operators.Evaluation.cohenKappa(docs,
        (TextFunctions.tokenCount(col("text")) >= 60).cast("int"),
        (col("n_chars") >= 300).cast("int"))
    }),


    // Per-cell cluster-vs-label purity panel over the q41/q100
    // first-10-centroid assignment.
    "q181_cluster_purity" -> ((s, d) => {
      Similarity.clusterLabelAgreement(parallel(load(s, d, "embeddings")),
          "embedding", "vec_id", "label", nlist = 10)
        .transform(ordered1(_, col("cell")))
    }),


    // One-row clustering summary: overall purity + NMI (nats) between
    // the cell assignment and the label column.
    "q182_cluster_nmi" -> ((s, d) => {
      Similarity.clusterAgreementSummary(parallel(load(s, d, "embeddings")),
        "embedding", "vec_id", "label", nlist = 10)
    }),


    // Per-source AUC fairness panel: does the (toy) length-based quality
    // score rank English docs equally well in every source? Same exact
    // midrank arithmetic as q169, windows partitioned by group.
    "q175_group_auc" -> ((s, d) => {
      graft.operators.Evaluation.aucBinaryBy(load(s, d, "documents"),
          "source",
          round(TextFunctions.tokenCount(col("text")).cast("double") /
            lit(100.0), 2),
          (col("lang") === "en").cast("int"))
        .transform(ordered1(_, col("source")))
    }),


    // Fleiss' kappa across a 3-heuristic labeling panel (token-count,
    // char-count, stopword-presence raters): one hash aggregation, no
    // join, no window.
    "q186_fleiss_kappa" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      graft.operators.Evaluation.fleissKappa(docs, Seq(
        (TextFunctions.tokenCount(col("text")) >= 60).cast("int"),
        (col("n_chars") >= 300).cast("int"),
        col("text").contains(" the ").cast("int")))
    }),


    // Declarative data-quality gate over the orders ingest: all
    // row-level checks fuse into ONE aggregation pass; uniqueness and
    // the functional dependency each pay exactly their own keyed hash
    // agg; referential is a broadcast anti-join count. One report row
    // per check.
    "q190_data_checks" -> ((s, d) => {
      import DataQuality._
      DataQuality.validate(load(s, d, "orders"), Seq(
        Completeness("c1_custkey_complete", col("o_custkey"), 1.0),
        Uniqueness("c2_orderkey_unique", Seq("o_orderkey")),
        ValueRange("c3_price_range", col("o_totalprice"), 0.0, 1000000.0),
        InSet("c4_status_domain", col("o_orderstatus"), Seq("O", "F", "P")),
        RowCountBetween("c5_rowcount", 1L, 100000000L),
        Referential("c6_custkey_ref", col("o_custkey"),
          load(s, d, "customer"), col("c_custkey")),
        FunctionalDep("c7_key_determines_date", Seq("o_orderkey"),
          col("o_orderdate"))))
    }),


    // Multi-class confusion matrix (zero-filled spine) for a
    // deterministic first-dim-quantile pseudo-classifier vs the true
    // label — the per-class error-geometry read.
    "q191_confusion" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.confusionMatrix(emb, col("label"),
          pmod(floor(element_at(graft.functions.VectorFunctions
            .asDouble(col("embedding")), 1) * 10).cast("long"), lit(10L)))
        .transform(ordered1(_, col("actual"), col("predicted")))
    }),


    // Per-class precision/recall/F1 over the same pseudo-classifier.
    "q192_class_report" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.classificationReport(emb, col("label"),
          pmod(floor(element_at(graft.functions.VectorFunctions
            .asDouble(col("embedding")), 1) * 10).cast("long"), lit(10L)))
        .transform(ordered1(_, col("label")))
    }),


    // Brier score + clamped log-loss in one aggregation pass over a
    // [0,1]-squashed first-dim probability.
    "q193_prob_scores" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val p = greatest(lit(0.0), least(lit(1.0),
        round(lit(0.5) + element_at(graft.functions.VectorFunctions
          .asDouble(col("embedding")), 1) / lit(4.0), 3)))
      graft.operators.Evaluation.probScores(emb, p,
        (col("label") >= 5).cast("int"))
    }),


    // Mutual-information feature ranking: which quantized document
    // signal carries the most language-label information? Bounded
    // unpivot → one contingency aggregation per feature.
    "q195_mi_ranking" -> ((s, d) => {
      val docs = load(s, d, "documents")
      graft.operators.Features.miRanking(docs, Seq(
          "len_decile" -> least(floor(col("n_chars") / lit(100.0)), lit(9L))
            .cast("long"),
          "token_bucket" -> least(floor(TextFunctions.tokenCount(col("text"))
            / lit(20.0)), lit(9L)).cast("long"),
          "source" -> col("source")),
          col("lang"))
        .transform(ordered1(_, col("feature")))
    }),


    // Fairness audit of the q191 pseudo-classifier binarized at
    // label>=5: per-source positive rate / TPR / FPR with gaps to the
    // global rates.
    "q197_fairness_panel" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val dim1 = element_at(graft.functions.VectorFunctions
        .asDouble(col("embedding")), 1)
      graft.operators.Evaluation.fairnessPanel(
          emb.withColumn("grp", pmod(col("vec_id"), lit(4L))),
          col("grp"),
          (dim1 >= 0).cast("int"),
          (col("label") >= 5).cast("int"))
        .transform(ordered1(_, col("group")))
    }),


    // Rank-biased overlap (p=0.9, k=20) between dim-1 and dim-2
    // rankings of the embedding corpus — everything after the two
    // TakeOrdered top-k selections runs on <= 2k rows.
    "q200_rbo" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      def dim(i: Int) = element_at(graft.functions.VectorFunctions
        .asDouble(col("embedding")), i)
      graft.operators.Evaluation.rankBiasedOverlap(
        emb.select(col("vec_id"), dim(1).as("s")),
        emb.select(col("vec_id"), dim(2).as("s")),
        col("vec_id"), col("s"), k = 20, p = 0.9)
    }),


    // Wilson 95% lower-bound ranking of per-event-type "high value"
    // rates — small-sample-safe rate ordering, closed-form per group.
    "q225_wilson_ranking" -> ((s, d) => {
      val e = load(s, d, "events")
      graft.operators.Evaluation.wilsonRanking(e, col("event_type"),
          (col("value") >= 100.0).cast("int"))
        .transform(ordered1(_, col("wilson_low").desc, col("group")))
    }),


    // RFM customer-value grid: facts collapse to the customer dim
    // first, three deterministic NTILE axes, ≤125-cell output with
    // exact decimal revenue.
    "q226_rfm_segments" -> ((s, d) => {
      val o = load(s, d, "orders")
      Sessionize.rfmSegments(o, col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
        .transform(ordered1(_, col("r_score"), col("f_score"),
          col("m_score")))
    }),


    // Propensity-score nearest-neighbor matching within a 0.02 caliper
    // (with replacement): bucketed candidate generation, never
    // treated × control; deterministic (|gap|, id) winner.
    "q231_psm_match" -> ((s, d) => {
      val emb = parallel(load(s, d, "embeddings"))
      val p = greatest(lit(0.0), least(lit(1.0),
        round(lit(0.5) + element_at(graft.functions.VectorFunctions
          .asDouble(col("embedding")), 1) / lit(4.0), 3)))
      val scored = emb.select(col("vec_id"), p.as("p"),
        (col("label") >= 5).as("__t"))
      EntityResolution.nearestScoreMatch(
          scored.filter(col("__t")), scored.filter(!col("__t")),
          "vec_id", col("p"), caliper = 0.02)
        .transform(ordered1(_, col("treated_id")))
    }),


    // Gains/lift decile table for the first-dim score vs label>=5 —
    // bounded histogram walk, whole score runs per bucket.
    "q219_gains_table" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      graft.operators.Evaluation.gainsTable(emb,
          round(element_at(graft.functions.VectorFunctions
            .asDouble(col("embedding")), 1), 2),
          (col("label") >= 5).cast("int"), buckets = 10)
        .transform(ordered1(_, col("bucket")))
    }),


    // McNemar disagreement-cell test between two single-dim
    // pseudo-classifiers scored on the same rows.
    "q194_mcnemar" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      def pred(dim: Int) = pmod(floor(element_at(graft.functions
        .VectorFunctions.asDouble(col("embedding")), dim) * 10)
        .cast("long"), lit(10L))
      graft.operators.Evaluation.mcnemar(emb,
        (pred(1) === col("label").cast("long")).cast("int"),
        (pred(2) === col("label").cast("long")).cast("int"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q104_label_agreement" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
        |           FROM embeddings),
        |p AS (SELECT * FROM v WHERE vec_id < 50),
        |scored AS (
        |  SELECT p.vec_id AS qid, p.label AS own, v.label AS nl,
        |    ROUND(list_dot_product(p.vec, v.vec)
        |      / (sqrt(list_dot_product(p.vec, p.vec))
        |         * sqrt(list_dot_product(v.vec, v.vec))), 6) AS cosine,
        |    v.vec_id AS nid
        |  FROM p JOIN v ON v.vec_id <> p.vec_id),
        |topk AS (SELECT * FROM (
        |  SELECT qid, own, nl,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
        |  FROM scored) WHERE rn <= 5),
        |votes AS (SELECT qid, own, nl, count(*) AS nv, min(rn) AS best
        |  FROM topk GROUP BY 1, 2, 3),
        |win AS (SELECT qid, own, nl FROM (
        |  SELECT qid, own, nl,
        |    row_number() OVER (PARTITION BY qid ORDER BY nv DESC, best ASC, nl ASC) AS vr
        |  FROM votes) WHERE vr = 1)
        |SELECT own AS label, count(*) AS n_probes,
        |  CAST(sum(CASE WHEN nl = own THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  round(CAST(sum(CASE WHEN nl = own THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS agreement
        |FROM win GROUP BY own ORDER BY own""".stripMargin,


    "q113_label_separation" ->
      """WITH v AS (SELECT vec_id, label,
        |    unnest(range(1, len(embedding) + 1)) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |cs AS (SELECT label, i, sum(x) AS s FROM v GROUP BY label, i),
        |cn AS (SELECT label, sum(s * s) AS n2 FROM cs GROUP BY label),
        |dots AS (SELECT a.label AS la, b.label AS lb, sum(a.s * b.s) AS dot
        |  FROM cs a JOIN cs b ON a.i = b.i AND a.label <> b.label
        |  GROUP BY 1, 2),
        |near AS (SELECT la, lb, c FROM (
        |  SELECT la, lb, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS c,
        |    row_number() OVER (PARTITION BY la
        |      ORDER BY dot / (sqrt(na.n2) * sqrt(nb.n2)) DESC, lb) AS rn
        |  FROM dots JOIN cn na ON na.label = dots.la
        |            JOIN cn nb ON nb.label = dots.lb) WHERE rn = 1),
        |dv AS (SELECT v.label, v.vec_id,
        |    sum(v.x * cs.s) AS dot, sum(v.x * v.x) AS vn2
        |  FROM v JOIN cs ON cs.label = v.label AND cs.i = v.i
        |  GROUP BY 1, 2 HAVING sum(v.x * v.x) > 0),
        |coh AS (SELECT dv.label, count(*) AS n_vecs,
        |    avg(dot / (sqrt(vn2) * sqrt(cn.n2))) AS m
        |  FROM dv JOIN cn ON cn.label = dv.label GROUP BY dv.label)
        |SELECT coh.label, n_vecs, round(m, 6) AS cohesion,
        |  near.lb AS nearest_label, round(near.c, 6) AS nearest_cos
        |FROM coh JOIN near ON near.la = coh.label
        |ORDER BY label""".stripMargin,


    "q169_auc_eval" ->
      """WITH s AS (SELECT round(CAST(embedding AS DOUBLE[])[1], 2) + 0 AS sc,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |g AS (SELECT sc, count(*) AS c, CAST(sum(y) AS BIGINT) AS cp
        |  FROM s GROUP BY sc),
        |o AS (SELECT cp, c,
        |    sum(c) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - c + 1 AS mn,
        |    sum(c) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) AS mx
        |  FROM g),
        |t AS (SELECT CAST(sum(cp * (mn + mx)) AS BIGINT) AS sp,
        |    CAST(sum(cp) AS BIGINT) AS np,
        |    CAST(sum(c - cp) AS BIGINT) AS nn,
        |    count(*) AS n_thresholds FROM o)
        |SELECT np + nn AS n, np AS n_pos, nn AS n_neg, n_thresholds,
        |  CASE WHEN np > 0 AND nn > 0 THEN
        |    round(CAST(sp - np * (np + 1) AS DOUBLE)
        |      / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
        |  END AS auc
        |FROM t""".stripMargin,


    "q170_pr_curve" ->
      """WITH s AS (SELECT round(CAST(embedding AS DOUBLE[])[1], 2) + 0
        |      AS threshold,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |g AS (SELECT threshold, count(*) AS c, CAST(sum(y) AS BIGINT) AS cp
        |  FROM s GROUP BY threshold),
        |o AS (SELECT threshold,
        |    CAST(sum(cp) OVER w AS BIGINT) AS tp,
        |    CAST(sum(c - cp) OVER w AS BIGINT) AS fp
        |  FROM g WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT CAST(sum(cp) AS BIGINT) AS tp_all FROM g)
        |SELECT threshold, tp, fp, t.tp_all - tp AS fn,
        |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
        |  CASE WHEN t.tp_all > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(t.tp_all AS DOUBLE), 6)
        |  END AS recall
        |FROM o CROSS JOIN t ORDER BY threshold""".stripMargin,


    "q171_calibration" ->
      """WITH s AS (SELECT
        |    round((CAST(embedding AS DOUBLE[])[1] + 1.0) / 2.0, 2) + 0 AS p,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |g AS (SELECT LEAST(GREATEST(CAST(floor(p * 10) AS INT), 0), 9)
        |      AS bin,
        |    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |    SUM(CAST(p AS DECIMAL(18,2))) AS sp FROM s GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
        |SELECT bin, n, n_pos,
        |  round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_conf,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos,
        |  round(abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS abs_gap,
        |  round(abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
        |    * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS ece_term
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin,


    // Generated: the DCG discount / ideal-DCG tables are the SAME
    // micro-long literals Evaluation.dcgWeightsMicro feeds the Spark
    // side — no cross-engine log() runs anywhere.
    "q172_retrieval_ndcg" -> {
      val w = graft.operators.Evaluation.dcgWeightsMicro(10)
      val idcg = w.scanLeft(0L)(_ + _).tail
      val wVals = w.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
      val iVals = idcg.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 30),
         |c AS (SELECT vec_id AS neighbor_id,
         |    CAST(embedding AS DOUBLE[]) AS cv, label AS nl FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ql, nl,
         |    ROUND(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv))
         |      * sqrt(list_dot_product(cv, cv))), 6) AS cosine
         |  FROM c, q WHERE query_id <> neighbor_id),
         |ranked AS (SELECT query_id, ql, nl, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored),
         |top AS (SELECT query_id, ql,
         |    CASE WHEN ql = nl THEN 1 ELSE 0 END AS rel, rnk
         |  FROM ranked WHERE rnk <= 10),
         |lc AS (SELECT label, count(*) - 1 AS n_rel FROM embeddings
         |  GROUP BY label),
         |wt AS (SELECT * FROM (VALUES $wVals) AS t(rnk, wm)),
         |agg AS (SELECT t.query_id, lc.n_rel,
         |    CAST(sum(t.rel) AS BIGINT) AS hits,
         |    CAST(sum(CASE WHEN t.rel = 1 THEN wt.wm ELSE 0 END) AS BIGINT)
         |      AS dcg,
         |    min(CASE WHEN t.rel = 1 THEN t.rnk END) AS fr
         |  FROM top t JOIN lc ON t.ql = lc.label JOIN wt ON wt.rnk = t.rnk
         |  GROUP BY 1, 2),
         |id AS (SELECT * FROM (VALUES $iVals) AS t(m, im))
         |SELECT a.query_id, a.n_rel, a.hits,
         |  CASE WHEN LEAST(a.n_rel, 10) > 0
         |    THEN round(CAST(a.dcg AS DOUBLE) / CAST(id.im AS DOUBLE), 6)
         |    ELSE 0.0 END AS ndcg,
         |  CASE WHEN a.fr IS NOT NULL
         |    THEN round(1.0 / CAST(a.fr AS DOUBLE), 6) ELSE 0.0 END AS mrr
         |FROM agg a JOIN id ON id.m = LEAST(a.n_rel, 10)
         |ORDER BY query_id""".stripMargin
    },


    "q175_group_auc" ->
      """WITH s AS (SELECT source,
        |    round(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 2)
        |      AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |g AS (SELECT source, sc, count(*) AS c,
        |    CAST(sum(y) AS BIGINT) AS cp FROM s GROUP BY 1, 2),
        |o AS (SELECT source, cp, c,
        |    sum(c) OVER w - c + 1 AS mn, sum(c) OVER w AS mx
        |  FROM g WINDOW w AS (PARTITION BY source ORDER BY sc
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT source, CAST(sum(cp * (mn + mx)) AS BIGINT) AS sp,
        |    CAST(sum(cp) AS BIGINT) AS np, CAST(sum(c - cp) AS BIGINT) AS nn,
        |    count(*) AS n_thresholds FROM o GROUP BY source)
        |SELECT source, np + nn AS n, np AS n_pos, nn AS n_neg, n_thresholds,
        |  CASE WHEN np > 0 AND nn > 0 THEN
        |    round(CAST(sp - np * (np + 1) AS DOUBLE)
        |      / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
        |  END AS auc
        |FROM t ORDER BY source""".stripMargin,


    // Doubled midranks (2*cum - c + 1, integers) mirror
    // Evaluation.spearman's exact DECIMAL(38,0) moment fold; HUGEINT is
    // DuckDB's 128-bit equivalent.
    "q177_spearman" ->
      """WITH v AS (SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
        |    CAST(n_chars AS DOUBLE) AS y
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |gx AS (SELECT x, count(*) AS c FROM v GROUP BY x),
        |rx AS (SELECT x,
        |    2 * sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c + 1 AS a
        |  FROM gx),
        |gy AS (SELECT y, count(*) AS c FROM v GROUP BY y),
        |ry AS (SELECT y,
        |    2 * sum(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c + 1 AS b
        |  FROM gy),
        |r AS (SELECT CAST(a AS HUGEINT) AS a, CAST(b AS HUGEINT) AS b
        |  FROM v JOIN rx USING (x) JOIN ry USING (y)),
        |t AS (SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb,
        |    sum(a*a) AS saa, sum(b*b) AS sbb, sum(a*b) AS sab FROM r)
        |SELECT n,
        |  CASE WHEN CAST(n AS HUGEINT)*saa - sa*sa > 0
        |        AND CAST(n AS HUGEINT)*sbb - sb*sb > 0 THEN
        |    round(CAST(CAST(n AS HUGEINT)*sab - sa*sb AS DOUBLE)
        |      / sqrt(CAST(CAST(n AS HUGEINT)*saa - sa*sa AS DOUBLE)
        |           * CAST(CAST(n AS HUGEINT)*sbb - sb*sb AS DOUBLE)), 6)
        |  END AS rho
        |FROM t""".stripMargin,


    "q179_roc_curve" ->
      """WITH s AS (SELECT round(CAST(embedding AS DOUBLE[])[1], 2) + 0
        |      AS threshold,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |g AS (SELECT threshold, count(*) AS c, CAST(sum(y) AS BIGINT) AS cp
        |  FROM s GROUP BY threshold),
        |o AS (SELECT threshold,
        |    CAST(sum(cp) OVER w AS BIGINT) AS tp,
        |    CAST(sum(c - cp) OVER w AS BIGINT) AS fp
        |  FROM g WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT CAST(sum(cp) AS BIGINT) AS p,
        |    CAST(sum(c - cp) AS BIGINT) AS nn FROM g)
        |SELECT threshold, tp, fp,
        |  CASE WHEN t.p > 0 THEN
        |    round(CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE), 6) END AS tpr,
        |  CASE WHEN t.nn > 0 THEN
        |    round(CAST(fp AS DOUBLE) / CAST(t.nn AS DOUBLE), 6) END AS fpr
        |FROM o CROSS JOIN t ORDER BY threshold""".stripMargin,


    // po/pe/kappa reproduce Evaluation.cohenKappa's IEEE sequence; the
    // expected-agreement products widen to HUGEINT like the Spark side's
    // DECIMAL(38,0).
    "q180_rater_kappa" ->
      """WITH v AS (SELECT
        |    CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS b FROM documents),
        |ag AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM v),
        |ma AS (SELECT a AS k, count(*) AS ca FROM v GROUP BY a),
        |mb AS (SELECT b AS k, count(*) AS cb FROM v GROUP BY b),
        |pe AS (SELECT COALESCE(sum(CAST(ca AS HUGEINT) * CAST(cb AS HUGEINT)),
        |    0) AS pe_num FROM ma JOIN mb USING (k))
        |SELECT n,
        |  round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(CAST(pe_num AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  CASE WHEN CAST(pe_num AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0 THEN
        |    round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (1.0 - CAST(pe_num AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
        |  END AS kappa
        |FROM ag CROSS JOIN pe ORDER BY n""".stripMargin,


    // Assignment CTE is the q100 convention (first-10 centroids, argmax
    // cosine, ties to the smallest cell).
    "q181_cluster_purity" ->
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 10),
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |scored AS (SELECT vec_id, label, cell,
        |  round(list_dot_product(vv, cv)
        |    / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6)
        |    AS cos
        |  FROM v CROSS JOIN c),
        |assigned AS (SELECT cell, label FROM (
        |  SELECT vec_id, label, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
        |  FROM scored) WHERE rn = 1),
        |cl AS (SELECT cell, label, count(*) AS nck FROM assigned GROUP BY 1, 2),
        |pc AS (SELECT cell, CAST(sum(nck) AS BIGINT) AS n_vecs
        |  FROM cl GROUP BY cell),
        |top AS (SELECT cell, label AS top_label, nck AS n_top FROM (
        |  SELECT cell, label, nck,
        |    row_number() OVER (PARTITION BY cell ORDER BY nck DESC, label) AS r
        |  FROM cl) WHERE r = 1)
        |SELECT pc.cell, pc.n_vecs, top.top_label, top.n_top,
        |  round(CAST(top.n_top AS DOUBLE) / CAST(pc.n_vecs AS DOUBLE), 6)
        |    AS purity
        |FROM pc JOIN top ON pc.cell = top.cell ORDER BY pc.cell""".stripMargin,


    // Entropy/MI terms are the same fixed IEEE sequences as
    // Similarity.clusterAgreementSummary (natural log over exact counts).
    "q182_cluster_nmi" ->
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 10),
        |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |scored AS (SELECT vec_id, label, cell,
        |  round(list_dot_product(vv, cv)
        |    / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6)
        |    AS cos
        |  FROM v CROSS JOIN c),
        |assigned AS (SELECT cell, label FROM (
        |  SELECT vec_id, label, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
        |  FROM scored) WHERE rn = 1),
        |cl AS (SELECT cell, label, count(*) AS nck FROM assigned GROUP BY 1, 2),
        |nc AS (SELECT cell, CAST(sum(nck) AS BIGINT) AS ncnt, max(nck) AS mx
        |  FROM cl GROUP BY cell),
        |nl AS (SELECT label, CAST(sum(nck) AS BIGINT) AS nlc
        |  FROM cl GROUP BY label),
        |t AS (SELECT CAST(sum(nck) AS BIGINT) AS n FROM cl),
        |hc AS (SELECT count(*) AS n_cells,
        |    sum(-(CAST(ncnt AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ln(CAST(ncnt AS DOUBLE) / CAST(t.n AS DOUBLE))) AS hcv
        |  FROM nc CROSS JOIN t),
        |hl AS (SELECT count(*) AS n_labels,
        |    sum(-(CAST(nlc AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ln(CAST(nlc AS DOUBLE) / CAST(t.n AS DOUBLE))) AS hlv
        |  FROM nl CROSS JOIN t),
        |pur AS (SELECT CAST(sum(mx) AS BIGINT) AS mxsum FROM nc),
        |mi AS (SELECT sum((CAST(nck AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * ln(CAST(nck AS DOUBLE) * CAST(t.n AS DOUBLE)
        |      / (CAST(ncnt AS DOUBLE) * CAST(nlc AS DOUBLE)))) AS miv
        |  FROM cl JOIN nc USING (cell) JOIN nl USING (label) CROSS JOIN t)
        |SELECT t.n AS n, hc.n_cells, hl.n_labels,
        |  round(CAST(pur.mxsum AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS purity,
        |  CASE WHEN hc.hcv > 0 AND hl.hlv > 0 THEN
        |    round(mi.miv / sqrt(hc.hcv * hl.hlv), 6) END AS nmi
        |FROM t CROSS JOIN hc CROSS JOIN hl CROSS JOIN pur CROSS JOIN mi"""
        .stripMargin,


    // P-bar/P-e from exact integer agreement weights r(r-1)+(k-r)(k-r-1)
    // — Evaluation.fleissKappa's one-fold arithmetic, k = 3 raters.
    "q186_fleiss_kappa" ->
      """WITH v AS (SELECT
        |    (CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
        |     + CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END) AS r
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |a AS (SELECT count(*) AS n, CAST(sum(r) AS HUGEINT) AS sr,
        |    CAST(sum(r * (r - 1) + (3 - r) * (3 - r - 1)) AS HUGEINT)
        |      AS sagree
        |  FROM v),
        |k AS (SELECT n, sr, sagree,
        |    CAST(sagree AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0 * 2.0)
        |      AS pbar,
        |    (CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0))
        |      * (CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0))
        |    + (1.0 - CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0))
        |      * (1.0 - CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0))
        |      AS pe
        |  FROM a)
        |SELECT n, 3 AS n_raters, round(pbar, 6) AS p_bar,
        |  round(pe, 6) AS p_e,
        |  CASE WHEN pe < 1.0 THEN round((pbar - pe) / (1.0 - pe), 6)
        |  END AS kappa
        |FROM k
        |ORDER BY 1""".stripMargin,


    // Each check reproduced as plain SQL aggregation; "check" quoted
    // (reserved word). passed compares UNROUNDED values, observed
    // rounds for display — the operator's gate-vs-display contract.
    "q190_data_checks" ->
      """WITH rw AS (SELECT count(*) AS n, count(o_custkey) AS nn,
        |    coalesce(sum(CASE WHEN o_totalprice IS NOT NULL AND
        |      (CAST(o_totalprice AS DOUBLE) < 0.0 OR
        |       CAST(o_totalprice AS DOUBLE) > 1000000.0)
        |      THEN 1 ELSE 0 END), 0) AS viol_range,
        |    coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL AND
        |      o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END), 0) AS viol_set
        |  FROM orders),
        |uq AS (SELECT coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0)
        |    AS viol
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
        |rf AS (SELECT count(*) AS viol FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |fd AS (SELECT coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0)
        |    AS viol
        |  FROM (SELECT count(DISTINCT o_orderdate) AS d FROM orders
        |    GROUP BY o_orderkey))
        |SELECT * FROM (
        |SELECT 'c1_custkey_complete' AS "check", 'completeness' AS kind,
        |  CASE WHEN n > 0
        |    THEN round(CAST(nn AS DOUBLE) / CAST(n AS DOUBLE), 6) END
        |    AS observed,
        |  1.0 AS threshold,
        |  (n = 0 OR CAST(nn AS DOUBLE) / CAST(n AS DOUBLE) >= 1.0) AS passed
        |FROM rw
        |UNION ALL
        |SELECT 'c2_orderkey_unique', 'uniqueness', CAST(viol AS DOUBLE),
        |  0.0, viol = 0 FROM uq
        |UNION ALL
        |SELECT 'c3_price_range', 'value_range', CAST(viol_range AS DOUBLE),
        |  0.0, viol_range = 0 FROM rw
        |UNION ALL
        |SELECT 'c4_status_domain', 'in_set', CAST(viol_set AS DOUBLE),
        |  0.0, viol_set = 0 FROM rw
        |UNION ALL
        |SELECT 'c5_rowcount', 'row_count', CAST(n AS DOUBLE),
        |  CAST(NULL AS DOUBLE), n >= 1 AND n <= 100000000 FROM rw
        |UNION ALL
        |SELECT 'c6_custkey_ref', 'referential', CAST(viol AS DOUBLE),
        |  0.0, viol = 0 FROM rf
        |UNION ALL
        |SELECT 'c7_key_determines_date', 'functional_dep',
        |  CAST(viol AS DOUBLE), 0.0, viol = 0 FROM fd
        |) ORDER BY "check"""".stripMargin,


    // Positive modulo spelled ((x % 10) + 10) % 10 to mirror Spark's
    // pmod; labels stringified like the operator.
    "q191_confusion" ->
      """WITH pr AS (SELECT CAST(label AS VARCHAR) AS actual,
        |    CAST(((CAST(floor(CAST(embedding AS DOUBLE[])[1] * 10)
        |      AS BIGINT) % 10) + 10) % 10 AS VARCHAR) AS predicted
        |  FROM embeddings),
        |pairs AS (SELECT actual, predicted, count(*) AS c FROM pr
        |  GROUP BY actual, predicted),
        |labels AS (SELECT DISTINCT actual AS l FROM pairs
        |  UNION SELECT DISTINCT predicted FROM pairs),
        |rt AS (SELECT actual, sum(c) AS rtot FROM pairs GROUP BY actual)
        |SELECT a.l AS actual, p.l AS predicted,
        |  coalesce(pairs.c, 0) AS n_obs,
        |  CASE WHEN rt.rtot > 0 THEN
        |    round(CAST(coalesce(pairs.c, 0) AS DOUBLE) /
        |      CAST(rt.rtot AS DOUBLE), 6) END AS row_rate
        |FROM labels a CROSS JOIN labels p
        |LEFT JOIN pairs ON pairs.actual = a.l AND pairs.predicted = p.l
        |LEFT JOIN rt ON rt.actual = a.l
        |ORDER BY actual, predicted""".stripMargin,


    "q192_class_report" ->
      """WITH pr AS (SELECT CAST(label AS VARCHAR) AS a,
        |    CAST(((CAST(floor(CAST(embedding AS DOUBLE[])[1] * 10)
        |      AS BIGINT) % 10) + 10) % 10 AS VARCHAR) AS p
        |  FROM embeddings),
        |act AS (SELECT a AS label, count(*) AS n_actual FROM pr GROUP BY a),
        |pre AS (SELECT p AS label, count(*) AS n_predicted FROM pr
        |  GROUP BY p),
        |diag AS (SELECT a AS label, count(*) AS tp FROM pr WHERE a = p
        |  GROUP BY a),
        |m AS (SELECT coalesce(act.label, pre.label) AS label,
        |    coalesce(n_actual, 0) AS n_actual,
        |    coalesce(n_predicted, 0) AS n_predicted
        |  FROM act FULL OUTER JOIN pre ON act.label = pre.label)
        |SELECT m.label, m.n_actual, m.n_predicted,
        |  coalesce(diag.tp, 0) AS tp,
        |  CASE WHEN m.n_predicted > 0 THEN
        |    round(CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_predicted, 6)
        |    END AS precision,
        |  CASE WHEN m.n_actual > 0 THEN
        |    round(CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_actual, 6)
        |    END AS recall,
        |  CASE WHEN m.n_predicted > 0 AND m.n_actual > 0 AND
        |      (CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_predicted +
        |       CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_actual) > 0 THEN
        |    round(2.0 * (CAST(coalesce(diag.tp, 0) AS DOUBLE) /
        |        m.n_predicted) *
        |      (CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_actual) /
        |      (CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_predicted +
        |       CAST(coalesce(diag.tp, 0) AS DOUBLE) / m.n_actual), 6)
        |    END AS f1
        |FROM m LEFT JOIN diag ON diag.label = m.label
        |ORDER BY m.label""".stripMargin,


    // Same clamp constant (1e-15) as the operator default.
    "q193_prob_scores" ->
      """WITH s AS (SELECT
        |    greatest(0.0, least(1.0,
        |      round(0.5 + CAST(embedding AS DOUBLE[])[1] / 4.0, 3))) AS p,
        |    CAST(label >= 5 AS DOUBLE) AS y
        |  FROM embeddings),
        |c AS (SELECT p, y,
        |    least(greatest(p, 1e-15), 1.0 - 1e-15) AS pc FROM s)
        |SELECT count(*) AS n,
        |  round(avg((p - y) * (p - y)), 6) AS brier,
        |  round(avg(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))), 6)
        |    AS log_loss
        |FROM c
        |ORDER BY 1""".stripMargin,


    // Feature/value/label contingency per feature; probabilities are
    // exact count ratios, each MI term one IEEE sequence (q182's NMI
    // convention), rank by mi desc with name tiebreak.
    "q195_mi_ranking" ->
      """WITH s AS (
        |  SELECT 'len_decile' AS f,
        |    CAST(least(CAST(floor(n_chars / 100.0) AS BIGINT), 9)
        |      AS VARCHAR) AS v, lang AS y FROM documents
        |  UNION ALL
        |  SELECT 'token_bucket',
        |    CAST(least(CAST(floor(len(string_split(text, ' ')) / 20.0)
        |      AS BIGINT), 9) AS VARCHAR), lang FROM documents
        |  UNION ALL
        |  SELECT 'source', source, lang FROM documents),
        |st AS (SELECT f, v, y FROM s
        |  WHERE y IS NOT NULL AND v IS NOT NULL),
        |cells AS (SELECT f, v, y, count(*) AS c FROM st GROUP BY f, v, y),
        |vm AS (SELECT f, v, sum(c) AS cv FROM cells GROUP BY f, v),
        |ym AS (SELECT f, y, sum(c) AS cy FROM cells GROUP BY f, y),
        |tt AS (SELECT f, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY f),
        |mi AS (SELECT cells.f,
        |    sum((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE) /
        |        (CAST(cv AS DOUBLE) * CAST(cy AS DOUBLE)))) AS mi
        |  FROM cells
        |  JOIN vm ON vm.f = cells.f AND vm.v = cells.v
        |  JOIN ym ON ym.f = cells.f AND ym.y = cells.y
        |  JOIN tt ON tt.f = cells.f
        |  GROUP BY cells.f),
        |nv AS (SELECT f, count(*) AS n_values FROM vm GROUP BY f),
        |nl AS (SELECT f, count(*) AS n_labels FROM ym GROUP BY f)
        |SELECT tt.f AS feature, tt.n, nv.n_values, nl.n_labels,
        |  round(mi.mi, 6) AS mi,
        |  CAST(row_number() OVER (ORDER BY mi.mi DESC, tt.f) AS INT)
        |    AS rank
        |FROM tt JOIN mi ON mi.f = tt.f JOIN nv ON nv.f = tt.f
        |JOIN nl ON nl.f = tt.f
        |ORDER BY feature""".stripMargin,


    // Group x prediction x label cells → rates and gaps; group is
    // vec_id mod 4, prediction = first-dim sign, label binarized at 5.
    "q197_fairness_panel" ->
      """WITH s AS (SELECT CAST(vec_id % 4 AS VARCHAR) AS grp,
        |    CAST(CAST(embedding AS DOUBLE[])[1] >= 0 AS BIGINT) AS p,
        |    CAST(label >= 5 AS BIGINT) AS y
        |  FROM embeddings),
        |g AS (SELECT grp, count(*) AS n,
        |    CAST(sum(p) AS BIGINT) AS np, CAST(sum(y) AS BIGINT) AS ny,
        |    CAST(sum(p * y) AS BIGINT) AS tp,
        |    CAST(sum(p * (1 - y)) AS BIGINT) AS fp
        |  FROM s GROUP BY grp),
        |a AS (SELECT
        |    CAST(sum(p) AS DOUBLE) / count(*) AS gpos,
        |    CAST(sum(p * y) AS DOUBLE) / CAST(sum(y) AS DOUBLE) AS gtpr,
        |    CAST(sum(p * (1 - y)) AS DOUBLE) /
        |      CAST(count(*) - sum(y) AS DOUBLE) AS gfpr
        |  FROM s)
        |SELECT grp AS "group", n,
        |  round(CAST(np AS DOUBLE) / n, 6) AS pos_rate,
        |  CASE WHEN ny > 0 THEN
        |    round(CAST(tp AS DOUBLE) / ny, 6) END AS tpr,
        |  CASE WHEN n - ny > 0 THEN
        |    round(CAST(fp AS DOUBLE) / (n - ny), 6) END AS fpr,
        |  round(CAST(np AS DOUBLE) / n - gpos, 6) AS pos_rate_gap,
        |  CASE WHEN ny > 0 THEN
        |    round(CAST(tp AS DOUBLE) / ny - gtpr, 6) END AS tpr_gap,
        |  CASE WHEN n - ny > 0 THEN
        |    round(CAST(fp AS DOUBLE) / (n - ny) - gfpr, 6) END AS fpr_gap
        |FROM g, a ORDER BY "group"""".stripMargin,


    // (1.0 - 0.9) spelled as the subtraction so both engines carry the
    // identical IEEE value, not a 0.1 literal.
    "q200_rbo" ->
      """WITH s AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[])[1] AS s1,
        |    CAST(embedding AS DOUBLE[])[2] AS s2
        |  FROM embeddings),
        |ra AS (SELECT vec_id,
        |    row_number() OVER (ORDER BY s1 DESC, vec_id) AS r
        |  FROM s ORDER BY s1 DESC, vec_id LIMIT 20),
        |rb AS (SELECT vec_id,
        |    row_number() OVER (ORDER BY s2 DESC, vec_id) AS r
        |  FROM s ORDER BY s2 DESC, vec_id LIMIT 20),
        |j AS (SELECT ra.vec_id, ra.r AS r1, rb.r AS r2
        |  FROM ra JOIN rb USING (vec_id)),
        |t AS (SELECT d,
        |    pow(0.9, CAST(d AS DOUBLE) - 1.0) * CAST(ov AS DOUBLE) /
        |      CAST(d AS DOUBLE) AS term
        |  FROM (SELECT u.d,
        |      (SELECT count(*) FROM j WHERE r1 <= u.d AND r2 <= u.d) AS ov
        |    FROM unnest(range(1, 21)) AS u(d)))
        |SELECT CAST(20 AS INT) AS k, 0.9 AS p,
        |  (SELECT count(*) FROM j) AS n_common,
        |  round((1.0 - 0.9) * sum(term), 6) AS rbo
        |FROM t""".stripMargin,


    // Closed-form Wilson 95% lower bound per group; constants enter as
    // CAST(1.96 AS DOUBLE) products so both engines square in IEEE.
    "q225_wilson_ranking" ->
      """WITH g AS (SELECT event_type AS "group",
        |    count(*) AS trials,
        |    CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |w AS (SELECT "group", trials, successes,
        |    CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS p,
        |    CAST(trials AS DOUBLE) AS n,
        |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
        |  FROM g)
        |SELECT "group", trials, successes, round(p, 6) AS rate,
        |  round(greatest((p + z2 / (2.0 * n) -
        |    CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / n +
        |      z2 / (4.0 * n * n))) / (1.0 + z2 / n), 0.0), 6) AS wilson_low
        |FROM w ORDER BY wilson_low DESC, "group"""".stripMargin,


    // NTILE axes mirror Sessionize.rfmSegments (1 = best, custkey
    // tie-break); revenue is the exact DECIMAL(18,2) sum cast once.
    "q226_rfm_segments" ->
      """WITH per AS (SELECT o_custkey AS c,
        |    max(CAST(o_orderdate AS DATE)) AS lastd, count(*) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT max(lastd) AS anchor FROM per),
        |t AS (SELECT c, mon,
        |    CAST(ntile(5) OVER (ORDER BY date_diff('day', lastd, anchor)
        |      ASC, c ASC) AS INT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY f DESC, c ASC) AS INT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY mon DESC, c ASC) AS INT)
        |      AS m_score
        |  FROM per CROSS JOIN a)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  CAST(sum(mon) AS DOUBLE) AS revenue
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin,


    // q218's squash; bucketed candidates (b±1 covers the closed
    // caliper interval), (|gap|, control_id) winner per treated.
    "q231_psm_match" ->
      """WITH s AS (SELECT vec_id, label,
        |    greatest(0.0, least(1.0,
        |      round(0.5 + CAST(embedding AS DOUBLE[])[1] / 4.0, 3))) AS p
        |  FROM embeddings),
        |tr AS (SELECT vec_id AS treated_id, p AS t_score,
        |    CAST(floor(p / 0.02) AS BIGINT) AS b FROM s WHERE label >= 5),
        |ct AS (SELECT vec_id AS control_id, p AS c_score,
        |    CAST(floor(p / 0.02) AS BIGINT) AS b
        |  FROM s WHERE NOT label >= 5),
        |cand AS (SELECT treated_id, control_id, t_score, c_score,
        |    abs(t_score - c_score) AS ad
        |  FROM tr JOIN ct ON ct.b BETWEEN tr.b - 1 AND tr.b + 1
        |  WHERE abs(t_score - c_score) <= 0.02),
        |r AS (SELECT treated_id, control_id, t_score, c_score, ad,
        |    row_number() OVER (PARTITION BY treated_id
        |      ORDER BY ad, control_id) AS rn
        |  FROM cand)
        |SELECT treated_id, control_id, t_score, c_score,
        |  round(ad, 6) AS abs_diff
        |FROM r WHERE rn = 1 ORDER BY treated_id""".stripMargin,


    // Histogram walk in score-desc order; bucket = ceil(cum*10/n) so a
    // score run lands whole in its last rank's bucket.
    "q219_gains_table" ->
      """WITH h AS (SELECT round(CAST(embedding AS DOUBLE[])[1], 2) AS s,
        |    count(*) AS c,
        |    CAST(sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS p
        |  FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS np FROM h),
        |wk AS (SELECT s, c, p,
        |    CAST(sum(c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum FROM h),
        |b AS (SELECT CAST(ceil(CAST(cum AS DOUBLE) * 10.0 /
        |      CAST(t.n AS DOUBLE)) AS INT) AS bucket,
        |    CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
        |    max(t.n) AS tn, max(t.np) AS tnp
        |  FROM wk, t GROUP BY 1),
        |cb AS (SELECT bucket, n, n_pos, tn, tnp,
        |    CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_n,
        |    CAST(sum(n_pos) OVER (ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |  FROM b)
        |SELECT bucket, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  cum_n, cum_pos,
        |  CASE WHEN tnp > 0 THEN
        |    round(CAST(cum_pos AS DOUBLE) / CAST(tnp AS DOUBLE), 6)
        |    END AS capture,
        |  CASE WHEN tnp > 0 THEN
        |    round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
        |      (CAST(tnp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
        |    END AS cum_lift
        |FROM cb ORDER BY bucket""".stripMargin,


    "q194_mcnemar" ->
      """WITH s AS (SELECT
        |    CAST(((CAST(floor(CAST(embedding AS DOUBLE[])[1] * 10)
        |      AS BIGINT) % 10) + 10) % 10 = label AS BIGINT) AS a,
        |    CAST(((CAST(floor(CAST(embedding AS DOUBLE[])[2] * 10)
        |      AS BIGINT) % 10) + 10) % 10 = label AS BIGINT) AS b
        |  FROM embeddings),
        |cells AS (SELECT count(*) AS n,
        |    CAST(coalesce(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS both_right,
        |    CAST(coalesce(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS both_wrong,
        |    CAST(coalesce(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS a_only,
        |    CAST(coalesce(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END),
        |      0) AS BIGINT) AS b_only
        |  FROM s)
        |SELECT n, both_right, both_wrong, a_only, b_only,
        |  CASE WHEN a_only + b_only > 0 THEN
        |    round((abs(CAST(a_only AS DOUBLE) - CAST(b_only AS DOUBLE))
        |        - 1.0) *
        |      (abs(CAST(a_only AS DOUBLE) - CAST(b_only AS DOUBLE)) - 1.0)
        |      / (CAST(a_only AS DOUBLE) + CAST(b_only AS DOUBLE)), 6)
        |    END AS statistic
        |FROM cells
        |ORDER BY 1""".stripMargin,
  )
}
