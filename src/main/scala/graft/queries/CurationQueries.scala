package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Training-data curation and packing: sampling, mixtures, quotas,
  * splits, sequence packing, masks, preference pairs, manifests,
  * encodings.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object CurationQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Stratified deterministic sample: exactly `k` rows per class in
    // md5-of-key order — the per-class train/eval split (q49's hash
    // sample keeps a deterministic FRACTION; this keeps a deterministic
    // COUNT per stratum). Window-group-limit pushes rn<=k into the sort;
    // for low-cardinality strata at 100 TB swap the window for
    // Relational.groupedRowNumber (same rank semantics, unbounded
    // parallelism).
    "q71_stratified_sample" -> ((s, d) => {
      Relational.topKPerGroup(
          load(s, d, "orders").select("o_orderstatus", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderstatus")),
          Seq(md5(col("o_orderkey").cast("string")), col("o_orderkey")), k = 50)
        .select(col("o_orderstatus"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .transform(ordered1(_, col("o_orderstatus"), col("o_orderkey")))
    }),


    // One-call curation chain ([[graft.operators.Curation.curate]]):
    // exact dedup → near-dup removal → composite quality filter, gated
    // end-to-end with default thresholds. The stages are individually
    // gated as q24/q69/q70; this catches wiring drift between them (the
    // quality panel here is corpus-relative over the NEAR-DEDUPED set,
    // not the raw corpus — exactly the composition q70 alone can't see).
    "q72_curation_chain" -> ((s, d) => {
      Curation.curate(parallel(load(s, d, "documents")), "text", "doc_id")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // Domain-mixture weighted sampling: deterministic per-source keep
    // fractions (src0 all, src1 half, src2 quarter, rest 10%) — the
    // corpus-mixing step that hits a target domain distribution.
    "q76_domain_mixture" -> ((s, d) => {
      Relational.weightedSample(load(s, d, "documents"),
          "source", col("doc_id"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
          defaultFraction = 0.1)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }),


    // DoReMi-lite difficulty-weighted mixture resample (Xie et al.
    // 2023's shape, one static round, no proxy retraining): the q270
    // held-out bigram LM is the PROXY MODEL — each source's
    // token-weighted mean held-doc NLL is its difficulty, domain
    // weights are the temperature-smoothed difficulties
    // (w_d ∝ nll_d^0.5), a 50%-of-corpus token budget allocates per
    // source, and the original docs resample through the q76
    // md5-cutoff (deterministic on both engines). Composes the LM
    // scorer with the mixture planner: the LM work is REQUIRED to
    // compute the weights, so the oracle's substance is structural,
    // not replication-managed. Round-17 addition (oracle pre-timed
    // before building).
    "q277_doremi_resample" -> ((s, d) => {
      val docs0 = load(s, d, "documents").filter(col("text").isNotNull)
      val reps = (0 to 9).map { r =>
        if (r == 0) docs0.select(col("doc_id"), col("text"))
        else docs0.select(
          (col("doc_id") + r * 1000000L).as("doc_id"),
          array_join(transform(
            TextFunctions.tokens(col("text")),
            x => concat(x, lit(s"_$r"))), " ").as("text"))
      }
      // holdoutMod = 7, NOT 10: the test corpus keys source to
      // doc_id % 20, so a mod-10 holdout would only ever score two
      // domains (the held set and the source partition must be
      // decorrelated for per-domain difficulty to exist); 7 is coprime
      // with 20, and 10^6 ≡ 1 (mod 7) walks every original through the
      // held split across replicas.
      val scored = CorpusStats.docNll(
        parallel(reps.reduce(_ unionByName _)), "text", "doc_id",
        holdoutMod = 7, k = 1.0)
      // replicas inherit the original doc's source (id % 1M maps back)
      val srcOf = docs0.select(col("doc_id").as("__od"), col("source"))
      val perSrc = scored
        .join(srcOf, pmod(col("doc_id"), lit(1000000L)) === col("__od"))
        .groupBy(col("source"))
        .agg((sum(col("avg_nll") * col("n_bigrams").cast("double")) /
          sum(col("n_bigrams")).cast("double")).as("__nll"))
      val toksPer = docs0.groupBy(col("source"))
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("__nt"))
      val joined = perSrc.join(toksPer, "source")
      val consts = joined.agg(sum(col("__nt")).as("__tot"),
        sum(pow(col("__nll"), lit(0.5))).as("__wsum"))
      // localized, not broadcast(plan0): the plan frame is bounded by
      // the source cardinality (20) but its LINEAGE is the whole docNll
      // chain — a broadcast leg would replay it (the
      // OpsUtil.localized precedent); as a LocalRelation the resample
      // join sees 20 plain rows
      val plan0 = graft.operators.OpsUtil.localized(
        joined.crossJoin(broadcast(consts))
          .select(col("source"),
            round(least(lit(1.0),
              col("__tot").cast("double") * lit(0.5) *
                (pow(col("__nll"), lit(0.5)) / col("__wsum")) /
                col("__nt").cast("double")), 6).as("keep_ratio")),
        maxRows = 10000, context = "q277 per-source mixture plan")
      docs0.select(col("doc_id"), col("source"))
        .join(broadcast(plan0), "source")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 4) <
          when(col("keep_ratio") >= 1.0, lit("g"))
            .otherwise(lpad(lower(hex(
              floor(col("keep_ratio") * lit(65536.0)).cast("int"))),
              4, "0")))
        .select(col("doc_id"), col("source"), col("keep_ratio"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // Sequence packing: concat-then-chunk pack assignment per 8-way
    // shard with a 256-token context budget — the pretraining batch
    // construction step, as loader metadata (pack id + start offset).
    "q75_sequence_packing" -> ((s, d) => {
      val docs = load(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing
        .packSequences(docs, "doc_id", "n_tokens", "shard", budget = 256L)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start_offset"), col("pack_id"))
        .orderBy("doc_id")
    }),


    // Fixed-context chunking: 64-token windows advancing by 48 (16-token
    // overlap) — the long-document splitting step of pretraining/RAG
    // prep; every token covered, final chunk may run short.
    "q82_doc_chunks" -> ((s, d) => {
      graft.operators.Packing.chunkDocuments(parallel(load(s, d, "documents")),
          "text", "doc_id", window = 64, stride = 48)
        .transform(ordered1(_, col("doc_id"), col("chunk_id")))
    }),


    // Domain-mixture budget plan: 50% token budget, no source above 4% of
    // it — the per-source allocation and keep-ratio spec that
    // q76_domain_mixture's weighted sampler would then materialize.
    "q86_token_budget" -> ((s, d) => {
      CorpusStats.mixturePlan(parallel(load(s, d, "documents")),
          "text", "source", budgetPpm = 500000L, maxSourcePpm = 40000L)
        .transform(ordered1(_, col("source")))
    }),


    // IVF cell-balance audit: population share + mean centroid cosine
    // per coarse cell (first-10-vectors centroids, the q41 convention).
    "q100_cell_balance" -> ((s, d) => {
      Similarity.cellBalance(parallel(load(s, d, "embeddings")),
          "embedding", "vec_id", nlist = 10)
        .transform(ordered1(_, col("cell")))
    }),


    // Deterministic token-weighted sample (Efraimidis–Spirakis A-ES over
    // hash-derived uniforms): the reproducible first step of token-
    // budgeted corpus assembly — re-runs and the oracle pick the same docs.
    "q119_weighted_sample" -> ((s, d) => {
      val docs = load(s, d, "documents")
      Curation.weightedSample(docs, col("doc_id"),
          TextFunctions.tokenCount(col("text")), n = 100)
    }),


    // Deterministic 90/5/5 train/val/test split by multiplicative id
    // hash, audited per (source, split): doc counts, token budget, and
    // each split's share of its source.
    "q107_stratified_split" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
      Curation.splitAssign(parallel(load(s, d, "documents")), "doc_id")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens"))
        .withColumn("doc_share", round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double"), 6))
        .transform(ordered1(_, col("source"), col("split")))
    }),


    // T5-style span corruption: deterministic hash-chosen spans masked
    // with <extra_id_k> sentinels, (input, target) denoising pairs
    // regenerable from the recipe on any engine.
    "q152_span_corruption" -> ((s, d) => {
      graft.operators.Packing.spanCorruption(parallel(load(s, d, "documents")),
          "text", "doc_id", spanLen = 3, corruptEvery = 5)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Inverse-cloze retrieval pairs: first-half anchor / second-half
    // positive, in-batch negative = next-by-md5 within the doc's hash
    // bucket (64-way parallel windows, no global sort).
    "q157_ict_pairs" -> ((s, d) => {
      graft.operators.Packing.ictPairs(parallel(load(s, d, "documents")),
          "text", "doc_id", numBuckets = 64)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Skip-gram (center, context, offset) pair counts over per-user
    // event sequences — word2vec/item2vec training-pair generation.
    "q158_skipgram" -> ((s, d) => {
      Sessionize.skipgramPairs(load(s, d, "events"),
          "user_id", "ts", "event_type", tiebreakCol = "event_id", window = 2)
        .transform(ordered1(_, col("center"), col("context"), col("rel_pos")))
    }),



    // Leave-one-out target encoding with additive smoothing: each order's
    // priority encoded as the mean total price of all OTHER orders in
    // that priority, shrunk toward the global mean — the leakage-safe
    // categorical feature. Fit = |categories|-row + 1-row broadcast aggs;
    // the per-row pass never shuffles.
    "q160_target_encode" -> ((s, d) => {
      graft.operators.Features.looTargetEncode(parallel(load(s, d, "orders")),
          "o_orderkey", "o_orderpriority", "o_totalprice",
          scale = 2, smoothing = 10.0)
        .transform(ordered1(_, col("o_orderkey")))
    }),


    // Fit/transform feature scaling: z-score + min-max per numeric
    // column from ONE 1-row exact-moment aggregation broadcast back over
    // the table — the standard two-pass scaler at corpus scale.
    "q161_feature_scale" -> ((s, d) => {
      graft.operators.Features.standardize(parallel(load(s, d, "lineitem")),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount"), scale = 2)
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
        // the sort must be total over the emitted columns or ties land in
        // engine-dependent order. The only registry final too wide for
        // ordered1: one task serializing sf0.1's 600k rows loses to the
        // parallel range sort despite its extra sampling job (round
        // 11, 8 shuffle partitions: 1.86 s single task vs 1.36 s
        // range-sorted). The persist stops that sampling job from running
        // the standardize projection a second time (round 19, warm
        // min-of-3: 2.35 -> 2.07 s); every registry runner clears the
        // cache after each query.
        .transform(df => df.persist().orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice_z"), col("l_quantity_z"), col("l_discount_z"),
          col("l_extendedprice_mm"), col("l_quantity_mm"), col("l_discount_mm")))
    }),


    // Content-addressed corpus manifest: per-shard doc/byte counts and an
    // order-independent additive digest over every (id, content) md5 —
    // the reproducibility gate between corpus versions. Bounded state
    // (4 word sums/shard), incremental by construction.
    "q162_corpus_manifest" -> ((s, d) => {
      Maintenance.corpusManifest(parallel(load(s, d, "documents")),
          "doc_id", "text", numShards = 8)
        .transform(ordered1(_, col("shard")))
    }),


    // Deterministic negative sampling: k hash-drawn item candidates per
    // user minus the user's observed positives — contrastive-training
    // negatives reproducible across runs (md5 of (user, draw), no RNG).
    "q163_negative_sampling" -> ((s, d) => {
      val pos = load(s, d, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderkey"))
        .join(load(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey").as("item")), "o_orderkey")
        .select(col("user_id"), col("item")).distinct()
      Curation.negativeSample(pos, "user_id", "item",
          load(s, d, "part").select(col("p_partkey").as("item")), k = 8)
        .transform(ordered1(_, col("user_id"), col("neg_item")))
    }),


    // Temporal train/holdout split at the exact-rank 75% time cutoff +
    // audit (counts, entity coverage, cold-start population) — the
    // leakage-safe split for time-ordered data; rank via range-
    // partitioned order statistics, never a single-task global window.
    "q164_time_split" -> ((s, d) => {
      Curation.temporalSplit(load(s, d, "events"), "user_id", "ts",
          trainFrac = 0.75)
        .transform(ordered1(_, col("split")))
    }),


    // Per-source quota capping: at most 15 docs per source by token-count
    // priority — the "no more than N of X" corpus-assembly primitive a
    // fraction-based mixture can't express. rank<=cap compiles to
    // WindowGroupLimit (per-task cap-sized heaps).
    "q166_source_quota" -> ((s, d) => {
      Curation.groupQuota(parallel(load(s, d, "documents")),
          col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")), cap = 15)
        .transform(ordered1(_, col("group"), col("rank")))
    }),


    // Cross-source quantile normalization: each doc's token count mapped
    // to the POOLED distribution's value at the doc's within-source
    // relative rank — batch-effect correction before one global
    // threshold. Both rank passes are range-partitioned order statistics.
    "q167_quantile_norm" -> ((s, d) => {
      Curation.quantileNormalize(
          parallel(load(s, d, "documents"))
            .withColumn("tokens",
              TextFunctions.tokenCount(col("text")).cast("double")),
          "doc_id", "source", "tokens")
        .transform(ordered1(_, col("doc_id")))
    }),


    // Preference-pair construction (DPO/RLHF reward-data shape): per
    // source, highest-scored doc = chosen, lowest = rejected, with the
    // margin. ONE struct-ordered min/max aggregation — no per-group sort.
    "q173_preference_pairs" -> ((s, d) => {
      graft.operators.Packing.preferencePairs(
          parallel(load(s, d, "documents")), "source", "doc_id",
          TextFunctions.tokenCount(col("text")))
        .transform(ordered1(_, col("source")))
    }),


    // Corpus-version diff from two additive manifests: per shard
    // added/removed/changed/unchanged + doc/byte deltas — which shards a
    // training run must re-read. Fixture: ~1% of docs retired, every
    // 50th edited.
    "q174_manifest_diff" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val cur = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Maintenance.manifestDiff(
          Maintenance.corpusManifest(docs, "doc_id", "text", numShards = 8),
          Maintenance.corpusManifest(cur, "doc_id", "text", numShards = 8))
        .transform(ordered1(_, col("shard")))
    }),


    // IPF raking of the post-period (event_type x user-parity) grid
    // to pre-period margins — two fixed iterations of bounded-frame
    // scalings; the post-stratification reweighting read.
    "q247_rake_weights" -> ((s, d) => {
      val e = load(s, d, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val post = e.filter(col("ts") >= cut)
      val pre = e.filter(col("ts") < cut)
      val cells = post
        .groupBy(col("event_type").as("row_key"),
          pmod(col("user_id"), lit(2L)).as("col_key"))
        .agg(count(lit(1)).as("n"))
      val totals = broadcast(pre.agg(count(lit(1)).as("__pre"))
        .crossJoin(post.agg(count(lit(1)).as("__post"))))
      def scaled(margins: DataFrame, key: String) = margins
        .crossJoin(totals)
        .select(col(key),
          (col("__c").cast("double") * col("__post").cast("double") /
            col("__pre").cast("double")).as("target"))
      val rowT = scaled(pre.groupBy(col("event_type").as("row_key"))
        .agg(count(lit(1)).as("__c")), "row_key")
      val colT = scaled(pre.groupBy(pmod(col("user_id"), lit(2L))
        .as("col_key")).agg(count(lit(1)).as("__c")), "col_key")
      Curation.rakeWeights(cells, rowT, colT, iterations = 2)
        .transform(ordered1(_, col("row_key"), col("col_key")))
    }),


    // Uncertainty sampling for active labeling: the 3 least-confident
    // docs per label bucket under the q193 probability squash —
    // window-group-limit shape, margin ascending.
    "q218_uncertainty_sample" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val p = greatest(lit(0.0), least(lit(1.0),
        round(lit(0.5) + element_at(graft.functions.VectorFunctions
          .asDouble(col("embedding")), 1) / lit(4.0), 3)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label"))
        .orderBy(col("margin").asc, col("vec_id").asc)
      emb.select(col("label"), col("vec_id"), p.as("p"),
          // p carries 3 decimals, so the margin is already exact —
          // round(.,6) is the identity, kept for the output convention
          round(abs(p - lit(0.5)), 6).as("margin"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3)
        .drop("__rn")
        .transform(ordered1(_, col("label"), col("margin"),
          col("vec_id")))
    }),


    // BERT-style MLM masking: ~15% of positions selected by hash, 80/10/10
    // [MASK]/doc-local-replacement/keep, labels = pos:original targets.
    // Pure projection — no explode, no window, no join.
    "q153_mlm_mask" -> ((s, d) => {
      graft.operators.Packing.mlmMask(parallel(load(s, d, "documents")),
          "text", "doc_id")
        .transform(ordered1(_, col("doc_id")))
    }),

    // DSIR importance resampling (Xie et al. 2023): the eval-like split
    // (doc_id % 20 = 3) is the TARGET distribution; the rest of the
    // corpus is the pool; Gumbel top-200 on hashed-bigram importance
    // weights. Round-12 registry policy: substantive oracle (two full
    // gram explodes + per-doc re-aggregation in DuckDB).
    "q257_dsir_resample" -> ((s, d) => {
      val docs = load(s, d, "documents")
      Curation.dsirResample(
        parallel(docs.filter(pmod(col("doc_id"), lit(20L)) =!= 3L)),
        parallel(docs.filter(pmod(col("doc_id"), lit(20L)) === 3L)),
        "text", "doc_id", k = 200, numBuckets = 512)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q71_stratified_sample" ->
      """SELECT o_orderstatus, o_orderkey,
        | CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 50
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,


    // Full curation chain: stage CTEs mirror q24 (exact dedup), q69
    // (near-dup removal) and q70 (quality panel), except every
    // corpus-relative statistic is computed over the surviving set of its
    // stage, as Curation.curate does.
    "q72_curation_chain" ->
      """WITH RECURSIVE
        |keepx AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |docs AS (SELECT d.doc_id, d.text FROM documents d JOIN keepx USING (doc_id)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
        |hs AS (SELECT doc_id,
        |  [md5(array_to_string(t[i:i+2], ' ')) FOR i IN generate_series(1, greatest(len(t)-2, 1))] AS h
        |  FROM toks),
        |sig AS (SELECT doc_id,
        |  list_min([substring(x, 1, 8) FOR x IN h]) AS sig_0,
        |  list_min([substring(x, 9, 8) FOR x IN h]) AS sig_1,
        |  list_min([substring(x, 17, 8) FOR x IN h]) AS sig_2,
        |  list_min([substring(x, 25, 8) FOR x IN h]) AS sig_3
        |  FROM hs),
        |banded AS (
        |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
        |  UNION ALL
        |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
        |e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
        |losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) < id),
        |nd AS (SELECT * FROM docs WHERE doc_id NOT IN (SELECT id FROM losers)),
        |ndtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM nd),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS ttr,
        |  CAST(len(list_filter(t, x -> x IN ('the','a','an','of','and','or','to','in','is','on'))) AS DOUBLE)
        |    / CAST(len(t) AS DOUBLE) AS stopword_ratio
        |  FROM ndtoks),
        |sh AS (SELECT doc_id, [array_to_string(t[i:i+1], ' ')
        |  FOR i IN generate_series(1, greatest(len(t) - 1, 1))] AS s FROM ndtoks),
        |rep AS (SELECT doc_id,
        |  CAST(greatest(list_max([len(list_filter(s, y -> y = x)) FOR x IN list_distinct(s)]), 1) AS DOUBLE)
        |    / CAST(len(s) AS DOUBLE) AS top_bigram_frac FROM sh),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM nd),
        |freq AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM freq),
        |rare AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN CAST(c AS HUGEINT) * v < tt THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_frac
        |  FROM tk JOIN freq USING (token) CROSS JOIN tot GROUP BY doc_id),
        |keepq AS (SELECT doc_id
        |  FROM base JOIN rep USING (doc_id) JOIN rare USING (doc_id)
        |  WHERE n_tokens >= 30 AND ttr >= 0.35 AND stopword_ratio >= 0.03
        |    AND top_bigram_frac < 0.08 AND rare_frac <= 0.5)
        |SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM nd WHERE doc_id IN (SELECT doc_id FROM keepq)
        |ORDER BY doc_id""".stripMargin,


    // Cutoffs are floor(fraction * 65536) in 4-hex-char lowercase, as
    // Relational.weightedSample computes at plan time; 'g' > every hex
    // digit = keep-all.
    "q76_domain_mixture" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |    WHEN 'src2' THEN '4000' ELSE '1999' END
        |ORDER BY doc_id""".stripMargin,


    // Mirrors the q277 chain: q270's per-held-doc add-1 bigram NLL
    // (replicas included — the proxy scores ALL held docs, replica ids
    // mapping back to their original's source via id % 1000000),
    // token-weighted per-source difficulty, w_d ∝ pow(nll, 0.5),
    // 50%-budget allocation in the operator's exact literal order,
    // round-6 keep ratios, then the q76 md5-prefix cutoff
    // (floor(keep*65536) in 4-hex lowercase; 'g' = keep-all).
    "q277_doremi_resample" ->
      """WITH corpus AS (
        |  SELECT doc_id + r * 1000000 AS doc_id,
        |    CASE WHEN r = 0 THEN text
        |      ELSE array_to_string([x || '_' || r
        |        FOR x IN string_split(text, ' ')], ' ') END AS text
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS r)
        |  WHERE text IS NOT NULL),
        |d AS (SELECT doc_id, doc_id % 7 = 0 AS held, string_split(text, ' ') AS t
        |  FROM corpus),
        |bg AS (SELECT doc_id, held, t[i] AS w1, t[i + 1] AS w2
        |  FROM d, unnest(range(1, len(t))) AS u(i)),
        |bt AS (SELECT held, CASE WHEN held THEN doc_id END AS id, w1, w2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM bg GROUP BY ALL),
        |cb AS (SELECT w1, w2, sum(n) AS cb FROM bt WHERE NOT held
        |  GROUP BY w1, w2),
        |cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |  (SELECT unnest(t) AS w FROM d WHERE NOT held)),
        |sc AS (SELECT bt.id, bt.n,
        |    -ln((CAST(coalesce(cb.cb, 0) AS DOUBLE) + 1.0) /
        |      (CAST(coalesce(cu.cu, 0) AS DOUBLE) +
        |        1.0 * CAST(v.v AS DOUBLE))) AS nll
        |  FROM bt LEFT JOIN cb ON cb.w1 = bt.w1 AND cb.w2 = bt.w2
        |  LEFT JOIN cu ON cu.w1 = bt.w1
        |  CROSS JOIN v
        |  WHERE bt.held),
        |doc AS (SELECT id, CAST(sum(n) AS BIGINT) AS nb,
        |    round(sum(nll * CAST(n AS DOUBLE)) / CAST(sum(n) AS DOUBLE), 6)
        |      AS anll
        |  FROM sc GROUP BY id),
        |orig AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents WHERE text IS NOT NULL),
        |per AS (SELECT o.source,
        |    sum(doc.anll * CAST(doc.nb AS DOUBLE)) / CAST(sum(doc.nb) AS DOUBLE)
        |      AS nll
        |  FROM doc JOIN orig o ON doc.id % 1000000 = o.doc_id
        |  GROUP BY o.source),
        |tp AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS nt
        |  FROM orig GROUP BY source),
        |j AS (SELECT per.source AS source, nll, nt
        |  FROM per JOIN tp ON per.source = tp.source),
        |c AS (SELECT CAST(sum(nt) AS BIGINT) AS tot, sum(pow(nll, 0.5)) AS wsum
        |  FROM j),
        |pl AS (SELECT source,
        |    round(least(1.0, CAST(c.tot AS DOUBLE) * 0.5 *
        |      (pow(nll, 0.5) / c.wsum) / CAST(nt AS DOUBLE)), 6) AS keep_ratio
        |  FROM j CROSS JOIN c)
        |SELECT o.doc_id, o.source, pl.keep_ratio
        |FROM orig o JOIN pl ON o.source = pl.source
        |WHERE substring(md5(CAST(o.doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN pl.keep_ratio >= 1.0 THEN 'g'
        |    ELSE printf('%04x', CAST(floor(pl.keep_ratio * 65536.0) AS INT)) END
        |ORDER BY doc_id""".stripMargin,


    "q75_sequence_packing" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |p AS (SELECT doc_id, shard, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM d)
        |SELECT doc_id, shard, n_tokens, start_offset,
        | CAST(floor(CAST(start_offset AS DOUBLE) / 256.0) AS BIGINT) AS pack_id
        |FROM p ORDER BY doc_id""".stripMargin,


    "q82_doc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, t, n, unnest(generate_series(0,
        |    CAST(floor((greatest(n - 64, 0) + 47) / 48.0) AS BIGINT))) AS chunk_id
        |  FROM d)
        |SELECT doc_id, chunk_id, CAST(chunk_id * 48 + 1 AS BIGINT) AS start_token,
        | CAST(least(n - (chunk_id * 48 + 1) + 1, 64) AS BIGINT) AS n_chunk_tokens,
        | array_to_string(t[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,


    "q86_token_budget" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS total FROM per),
        |b AS (SELECT total, total * 500000 // 1000000 AS budget FROM t),
        |a AS (SELECT source, n_docs, n_tokens,
        |    least(CAST(n_tokens AS HUGEINT), b.budget * n_tokens // b.total,
        |          b.budget * 40000 // 1000000) AS alloc
        |  FROM per CROSS JOIN b)
        |SELECT source, n_docs, n_tokens, CAST(alloc AS BIGINT) AS alloc_tokens,
        |  round(CAST(alloc AS DOUBLE) / n_tokens, 6) AS keep_ratio
        |FROM a ORDER BY source""".stripMargin,


    "q100_cell_balance" ->
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 10),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
        |scored AS (SELECT vec_id, cell,
        |  round(list_dot_product(vv, cv)
        |    / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 6)
        |    AS cos
        |  FROM v CROSS JOIN c),
        |assigned AS (SELECT cell, CAST(cos AS DECIMAL(18,9)) AS cosd FROM (
        |  SELECT vec_id, cell, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
        |  FROM scored) WHERE rn = 1),
        |t AS (SELECT count(*) AS total FROM embeddings)
        |SELECT cell, count(*) AS n_vecs,
        |  round(CAST(count(*) AS DOUBLE) / max(t.total), 6) AS share,
        |  round(CAST(sum(cosd) AS DOUBLE) / count(*), 6) AS mean_cos
        |FROM assigned CROSS JOIN t GROUP BY cell ORDER BY cell""".stripMargin,


    "q107_stratified_split" ->
      """WITH a AS (SELECT source,
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  len(string_split(text, ' ')) AS nt
        |  FROM documents)
        |SELECT source, split, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  round(CAST(count(*) AS DOUBLE)
        |    / sum(count(*)) OVER (PARTITION BY source), 6) AS doc_share
        |FROM a GROUP BY source, split ORDER BY source, split""".stripMargin,


    "q119_weighted_sample" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
        |  round(pow(((doc_id * 2654435761) % 4294967296 + 0.5) / 4294967296.0,
        |    1.0 / len(string_split(text, ' '))), 6) AS priority
        |FROM documents ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,


    "q152_span_corruption" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp0 AS (SELECT doc_id, t,
        |    CAST(unnest(range(CAST(ceil(len(t) / 3.0) AS BIGINT))) AS INT) AS si
        |  FROM d),
        |sp AS (SELECT doc_id, si,
        |    t[(si * 3 + 1):(si * 3 + 3)] AS span,
        |    ((doc_id * 2654435761 + si) % 5) = 0 AS masked
        |  FROM sp0),
        |mk AS (SELECT doc_id, si, span, masked,
        |    SUM(CASE WHEN masked THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
        |      ORDER BY si ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS k
        |  FROM sp),
        |pc AS (SELECT doc_id, si, masked,
        |    CASE WHEN masked THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |         ELSE array_to_string(span, ' ') END AS piece,
        |    CASE WHEN masked
        |         THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || array_to_string(span, ' ')
        |    END AS tgt
        |  FROM mk)
        |SELECT doc_id,
        |  string_agg(piece, ' ' ORDER BY si) AS input_text,
        |  COALESCE(string_agg(tgt, ' ' ORDER BY si), '') AS target_text,
        |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "q157_ict_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id,
        |    array_to_string(t[1:CAST(ceil(len(t) / 2.0) AS INT)], ' ') AS anchor,
        |    array_to_string(t[CAST(ceil(len(t) / 2.0) AS INT) + 1:len(t)], ' ') AS positive,
        |    (doc_id * 2654435761) % 64 AS bucket,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM d)
        |SELECT doc_id, anchor, positive,
        |  COALESCE(lead(doc_id) OVER (PARTITION BY bucket ORDER BY ord, doc_id),
        |    first_value(doc_id) OVER (PARTITION BY bucket ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS neg_doc_id
        |FROM s ORDER BY doc_id""".stripMargin,


    "q158_skipgram" ->
      """WITH b AS (SELECT event_type,
        |    lag(event_type, 2) OVER w AS m2, lag(event_type, 1) OVER w AS m1,
        |    lead(event_type, 1) OVER w AS p1, lead(event_type, 2) OVER w AS p2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |u AS (
        |  SELECT event_type AS center, -2 AS rp, m2 AS context FROM b
        |  UNION ALL SELECT event_type, -1, m1 FROM b
        |  UNION ALL SELECT event_type, 1, p1 FROM b
        |  UNION ALL SELECT event_type, 2, p2 FROM b)
        |SELECT center, context, CAST(rp AS INT) AS rel_pos, count(*) AS n
        |FROM u WHERE context IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY center, context, rel_pos""".stripMargin,


    "q160_target_encode" ->
      """WITH g AS (SELECT o_orderpriority AS cat,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        |    COUNT(o_totalprice) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ts,
        |    COUNT(o_totalprice) AS tn FROM orders)
        |SELECT o.o_orderkey, o.o_orderpriority, g.n AS n_cat,
        |  round((CAST(g.s - CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |      + 10.0 * (CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE)))
        |    / (CAST(g.n AS DOUBLE) - 1.0 + 10.0), 6) AS loo_enc
        |FROM orders o LEFT JOIN g ON o.o_orderpriority = g.cat CROSS JOIN t
        |ORDER BY o_orderkey""".stripMargin,


    "q161_feature_scale" ->
      """WITH q AS (SELECT l_orderkey, l_linenumber,
        |    l_quantity, l_extendedprice, l_discount,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT) AS q1,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS q2,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT) AS q3
        |  FROM lineitem),
        |st AS (SELECT
        |    SUM(q1) AS s1, SUM(q1*q1) AS ss1, COUNT(l_quantity) AS n1,
        |    MIN(l_quantity) AS mn1, MAX(l_quantity) AS mx1,
        |    SUM(q2) AS s2, SUM(q2*q2) AS ss2, COUNT(l_extendedprice) AS n2,
        |    MIN(l_extendedprice) AS mn2, MAX(l_extendedprice) AS mx2,
        |    SUM(q3) AS s3, SUM(q3*q3) AS ss3, COUNT(l_discount) AS n3,
        |    MIN(l_discount) AS mn3, MAX(l_discount) AS mx3
        |  FROM q),
        |st2 AS (SELECT *,
        |    CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)/100.0 AS mean1,
        |    sqrt(CAST(n1*ss1 - s1*s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
        |      /CAST(n1 AS DOUBLE))/100.0 AS std1,
        |    CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE)/100.0 AS mean2,
        |    sqrt(CAST(n2*ss2 - s2*s2 AS DOUBLE)/CAST(n2 AS DOUBLE)
        |      /CAST(n2 AS DOUBLE))/100.0 AS std2,
        |    CAST(s3 AS DOUBLE)/CAST(n3 AS DOUBLE)/100.0 AS mean3,
        |    sqrt(CAST(n3*ss3 - s3*s3 AS DOUBLE)/CAST(n3 AS DOUBLE)
        |      /CAST(n3 AS DOUBLE))/100.0 AS std3
        |  FROM st)
        |SELECT q.l_orderkey, q.l_linenumber,
        |  CASE WHEN std1 > 0 THEN round((q.l_quantity - mean1)/std1, 6) + 0 END
        |    AS l_quantity_z,
        |  CASE WHEN mx1 - mn1 > 0
        |    THEN round((q.l_quantity - mn1)/(mx1 - mn1), 6) + 0 END
        |    AS l_quantity_mm,
        |  CASE WHEN std2 > 0
        |    THEN round((q.l_extendedprice - mean2)/std2, 6) + 0 END
        |    AS l_extendedprice_z,
        |  CASE WHEN mx2 - mn2 > 0
        |    THEN round((q.l_extendedprice - mn2)/(mx2 - mn2), 6) + 0 END
        |    AS l_extendedprice_mm,
        |  CASE WHEN std3 > 0 THEN round((q.l_discount - mean3)/std3, 6) + 0 END
        |    AS l_discount_z,
        |  CASE WHEN mx3 - mn3 > 0
        |    THEN round((q.l_discount - mn3)/(mx3 - mn3), 6) + 0 END
        |    AS l_discount_mm
        |FROM q CROSS JOIN st2 ORDER BY l_orderkey, l_linenumber,
        |  l_extendedprice_z, l_quantity_z, l_discount_z,
        |  l_extendedprice_mm, l_quantity_mm, l_discount_mm""".stripMargin,


    "q162_corpus_manifest" ->
      """WITH d AS (SELECT doc_id, text,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS h FROM documents),
        |w AS (SELECT
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      % 8 AS shard,
        |    length(text) AS nb,
        |    CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS w0,
        |    CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS w1,
        |    CAST(('0x' || substr(h, 17, 8)) AS BIGINT) AS w2,
        |    CAST(('0x' || substr(h, 25, 8)) AS BIGINT) AS w3
        |  FROM d),
        |g AS (SELECT shard, count(*) AS n_docs,
        |    CAST(sum(nb) AS BIGINT) AS n_bytes,
        |    CAST(sum(w0) % 4294967296 AS BIGINT) AS m0,
        |    CAST(sum(w1) % 4294967296 AS BIGINT) AS m1,
        |    CAST(sum(w2) % 4294967296 AS BIGINT) AS m2,
        |    CAST(sum(w3) % 4294967296 AS BIGINT) AS m3
        |  FROM w GROUP BY shard)
        |SELECT shard, n_docs, n_bytes,
        |  md5(CAST(m0 AS VARCHAR) || '-' || CAST(m1 AS VARCHAR) || '-' ||
        |      CAST(m2 AS VARCHAR) || '-' || CAST(m3 AS VARCHAR))
        |    AS manifest_hash
        |FROM g ORDER BY shard""".stripMargin,


    "q163_negative_sampling" ->
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id,
        |    l.l_partkey AS item
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |u AS (SELECT DISTINCT user_id FROM pos),
        |n AS (SELECT count(*) AS ni FROM part),
        |c AS (SELECT user_id, j,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '-' ||
        |      CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % ni AS item
        |  FROM u CROSS JOIN n CROSS JOIN generate_series(0, 7) AS t(j)),
        |cj AS (SELECT c.user_id, c.item, c.j FROM c
        |  JOIN part p ON c.item = p.p_partkey),
        |flt AS (SELECT cj.user_id, cj.item, cj.j FROM cj
        |  WHERE NOT EXISTS (SELECT 1 FROM pos
        |    WHERE pos.user_id = cj.user_id AND pos.item = cj.item))
        |SELECT user_id, item AS neg_item, CAST(min(j) AS INT) AS sample_idx
        |FROM flt GROUP BY user_id, item
        |ORDER BY user_id, neg_item""".stripMargin,


    "q164_time_split" ->
      """WITH e AS (SELECT user_id AS u, ts FROM events WHERE ts IS NOT NULL),
        |o AS (SELECT u, ts, row_number() OVER (ORDER BY ts) AS rn,
        |    count(*) OVER () AS n FROM e),
        |c AS (SELECT max(ts) AS cut FROM o WHERE rn = ceil(n * 0.75)),
        |a AS (SELECT u, ts,
        |    CASE WHEN ts <= c.cut THEN 'train' ELSE 'test' END AS split
        |  FROM e CROSS JOIN c),
        |p AS (SELECT split, count(*) AS n_events,
        |    count(DISTINCT u) AS n_entities,
        |    min(ts) AS first_ts, max(ts) AS last_ts FROM a GROUP BY split),
        |tr AS (SELECT DISTINCT u FROM a WHERE split = 'train'),
        |cold AS (SELECT count(*) AS nc
        |  FROM (SELECT DISTINCT u FROM a WHERE split = 'test') t
        |  WHERE NOT EXISTS (SELECT 1 FROM tr WHERE tr.u = t.u))
        |SELECT split, n_events, n_entities, first_ts, last_ts,
        |  CASE WHEN split = 'test' THEN (SELECT nc FROM cold)
        |       ELSE 0 END AS n_cold_entities
        |FROM p ORDER BY split""".stripMargin,


    "q166_source_quota" ->
      """SELECT doc_id AS id, source AS "group", CAST(rn AS INT) AS rank
        |FROM (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 15 ORDER BY "group", rank""".stripMargin,


    "q167_quantile_norm" ->
      """WITH v AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS tokens
        |  FROM documents),
        |g AS (SELECT doc_id, source, tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY tokens, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS ng FROM v),
        |o AS (SELECT tokens AS norm_val,
        |    row_number() OVER (ORDER BY tokens, doc_id) AS grn FROM v),
        |t AS (SELECT count(*) AS n FROM v)
        |SELECT g.doc_id, g.source, g.tokens, o.norm_val
        |FROM g CROSS JOIN t
        |JOIN o ON o.grn =
        |  CAST(ceil(((2 * g.rn - 1) / (2.0 * g.ng)) * t.n) AS BIGINT)
        |ORDER BY g.doc_id""".stripMargin,


    "q173_preference_pairs" ->
      """WITH v AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS sc
        |  FROM documents),
        |ch AS (SELECT source, doc_id AS chosen_id, sc AS chosen_score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY sc DESC, doc_id ASC) AS rn FROM v),
        |rj AS (SELECT source, doc_id AS rejected_id, sc AS rejected_score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY sc ASC, doc_id ASC) AS rn FROM v),
        |n AS (SELECT source, count(*) AS n FROM v GROUP BY source)
        |SELECT ch.source, chosen_id, chosen_score, rejected_id,
        |  rejected_score,
        |  round(chosen_score - rejected_score, 6) AS margin
        |FROM ch JOIN rj ON ch.source = rj.source AND ch.rn = 1 AND rj.rn = 1
        |JOIN n ON n.source = ch.source
        |WHERE n.n >= 2 AND chosen_id <> rejected_id
        |ORDER BY ch.source""".stripMargin,


    // Generated: the manifest CTE chain is built once by a local helper
    // and instantiated for both corpus versions.
    "q174_manifest_diff" -> {
      def manifestSql(src: String, tag: String) =
        s"""w$tag AS (SELECT
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
           |      AS BIGINT) % 8 AS shard,
           |    length(text) AS nb,
           |    CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS w0,
           |    CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS w1,
           |    CAST(('0x' || substr(h, 17, 8)) AS BIGINT) AS w2,
           |    CAST(('0x' || substr(h, 25, 8)) AS BIGINT) AS w3
           |  FROM (SELECT doc_id, text,
           |      md5(CAST(doc_id AS VARCHAR) || ':' || text) AS h
           |    FROM $src)),
           |g$tag AS (SELECT shard, count(*) AS n_docs,
           |    CAST(sum(nb) AS BIGINT) AS n_bytes,
           |    md5(CAST(CAST(sum(w0) % 4294967296 AS BIGINT) AS VARCHAR) ||
           |      '-' || CAST(CAST(sum(w1) % 4294967296 AS BIGINT) AS VARCHAR) ||
           |      '-' || CAST(CAST(sum(w2) % 4294967296 AS BIGINT) AS VARCHAR) ||
           |      '-' || CAST(CAST(sum(w3) % 4294967296 AS BIGINT) AS VARCHAR))
           |      AS mh
           |  FROM w$tag GROUP BY shard)""".stripMargin
      s"""WITH dref AS (SELECT doc_id, text FROM documents),
         |dcur AS (SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 97 <> 0),
         |${manifestSql("dref", "r")},
         |${manifestSql("dcur", "c")}
         |SELECT COALESCE(gr.shard, gc.shard) AS shard,
         |  CASE WHEN gr.shard IS NULL THEN 'added'
         |       WHEN gc.shard IS NULL THEN 'removed'
         |       WHEN gr.mh = gc.mh THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  COALESCE(gc.n_docs, 0) - COALESCE(gr.n_docs, 0) AS doc_delta,
         |  COALESCE(gc.n_bytes, 0) - COALESCE(gr.n_bytes, 0) AS byte_delta
         |FROM gr FULL OUTER JOIN gc ON gr.shard = gc.shard
         |ORDER BY shard""".stripMargin
    },


    // Mirrors Curation.rakeWeights: 2 IPF iterations = 4 margin
    // scalings; margin sums are 2-5 doubles so only sub-round(,6)
    // fold noise exists.
    "q247_rake_weights" ->
      """WITH e AS (SELECT event_type, user_id % 2 AS par, ts FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |post AS (SELECT * FROM e
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |pre AS (SELECT * FROM e
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pre) AS pr,
        |    (SELECT CAST(count(*) AS BIGINT) FROM post) AS po),
        |cells AS (SELECT event_type AS row_key, par AS col_key,
        |    CAST(count(*) AS BIGINT) AS n FROM post GROUP BY 1, 2),
        |rt AS (SELECT row_key, CAST(c AS DOUBLE) * CAST(po AS DOUBLE) /
        |      CAST(pr AS DOUBLE) AS tr
        |  FROM (SELECT event_type AS row_key, CAST(count(*) AS BIGINT) AS c
        |    FROM pre GROUP BY 1) CROSS JOIN tot),
        |ct AS (SELECT col_key, CAST(c AS DOUBLE) * CAST(po AS DOUBLE) /
        |      CAST(pr AS DOUBLE) AS tc
        |  FROM (SELECT par AS col_key, CAST(count(*) AS BIGINT) AS c
        |    FROM pre GROUP BY 1) CROSS JOIN tot),
        |m0 AS (SELECT c.row_key, c.col_key, c.n, CAST(c.n AS DOUBLE) AS m,
        |    rt.tr, ct.tc
        |  FROM cells c JOIN rt USING (row_key) JOIN ct USING (col_key)),
        |r1 AS (SELECT row_key, col_key, n, tr, tc,
        |    CASE WHEN sum(m) OVER (PARTITION BY row_key) > 0 THEN
        |      m * (tr / sum(m) OVER (PARTITION BY row_key)) END AS m
        |  FROM m0),
        |c1 AS (SELECT row_key, col_key, n, tr, tc,
        |    CASE WHEN sum(m) OVER (PARTITION BY col_key) > 0 THEN
        |      m * (tc / sum(m) OVER (PARTITION BY col_key)) END AS m
        |  FROM r1),
        |r2 AS (SELECT row_key, col_key, n, tr, tc,
        |    CASE WHEN sum(m) OVER (PARTITION BY row_key) > 0 THEN
        |      m * (tr / sum(m) OVER (PARTITION BY row_key)) END AS m
        |  FROM c1),
        |c2 AS (SELECT row_key, col_key, n, tr, tc,
        |    CASE WHEN sum(m) OVER (PARTITION BY col_key) > 0 THEN
        |      m * (tc / sum(m) OVER (PARTITION BY col_key)) END AS m
        |  FROM r2)
        |SELECT row_key, col_key, n,
        |  round(CASE WHEN n > 0 THEN m / CAST(n AS DOUBLE) END, 6)
        |    AS weight,
        |  round(m, 6) AS mass
        |FROM c2 ORDER BY row_key, col_key""".stripMargin,


    // Window-group-limit: 3 smallest margins per label, (margin, id)
    // tiebreak.
    "q218_uncertainty_sample" ->
      """WITH s AS (SELECT label, vec_id,
        |    greatest(0.0, least(1.0,
        |      round(0.5 + CAST(embedding AS DOUBLE[])[1] / 4.0, 3))) AS p
        |  FROM embeddings),
        |r AS (SELECT label, vec_id, p, abs(p - 0.5) AS m,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY abs(p - 0.5), vec_id) AS rn
        |  FROM s)
        |SELECT label, vec_id, p, round(m, 6) AS margin FROM r
        |WHERE rn <= 3 ORDER BY label, margin, vec_id""".stripMargin,


    "q153_mlm_mask" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT doc_id, t, len(t) AS n, range(len(t)) AS idx FROM d)
        |SELECT doc_id,
        |  array_to_string(list_transform(idx, i -> CASE
        |    WHEN ((doc_id * 2654435761 + i) % 20) >= 3 THEN t[CAST(i AS INT) + 1]
        |    WHEN ((doc_id * 40503 + i) % 10) < 8 THEN '[MASK]'
        |    WHEN ((doc_id * 40503 + i) % 10) = 8
        |      THEN t[CAST((doc_id * 97 + i * 31) % n AS INT) + 1]
        |    ELSE t[CAST(i AS INT) + 1] END), ' ') AS input_text,
        |  COALESCE(array_to_string(list_filter(list_transform(idx, i -> CASE
        |    WHEN ((doc_id * 2654435761 + i) % 20) < 3
        |      THEN CAST(i AS VARCHAR) || ':' || t[CAST(i AS INT) + 1]
        |    END), p -> p IS NOT NULL), ' '), '') AS labels,
        |  CAST(len(list_filter(idx, i -> ((doc_id * 2654435761 + i) % 20) < 3
        |    AND ((doc_id * 40503 + i) % 10) < 8)) AS BIGINT) AS n_masked,
        |  CAST(len(list_filter(idx, i -> ((doc_id * 2654435761 + i) % 20) < 3
        |    AND ((doc_id * 40503 + i) % 10) = 8)) AS BIGINT) AS n_random,
        |  CAST(len(list_filter(idx, i -> ((doc_id * 2654435761 + i) % 20) < 3
        |    AND ((doc_id * 40503 + i) % 10) = 9)) AS BIGINT) AS n_kept
        |FROM m ORDER BY doc_id""".stripMargin,

    "q257_dsir_resample" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_concat(t,
         |    [array_to_string(t[i:i+1], ' ')
         |     FOR i IN generate_series(1, greatest(len(t) - 1, 1))])) AS gr
         |  FROM toks),
         |bk AS (SELECT doc_id,
         |    CAST(${hexValSql("md5(gr)", 8)} AS BIGINT) % 512 AS b FROM g),
         |csrc AS (SELECT b, CAST(count(*) AS BIGINT) AS nsb FROM bk
         |  WHERE doc_id % 20 <> 3 GROUP BY b),
         |ctgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ntb FROM bk
         |  WHERE doc_id % 20 = 3 GROUP BY b),
         |st AS (SELECT COALESCE(csrc.b, ctgt.b) AS b,
         |    COALESCE(nsb, 0) AS nsb, COALESCE(ntb, 0) AS ntb
         |  FROM csrc FULL OUTER JOIN ctgt ON csrc.b = ctgt.b),
         |tot AS (SELECT CAST(SUM(nsb) AS DOUBLE) AS ns,
         |    CAST(SUM(ntb) AS DOUBLE) AS nt FROM st),
         |lr AS (SELECT b,
         |    ln((CAST(ntb AS DOUBLE) + 1.0) / (nt + 512.0))
         |      - ln((CAST(nsb AS DOUBLE) + 1.0) / (ns + 512.0)) AS lrv
         |  FROM st, tot),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    SUM(lrv) AS lw
         |  FROM bk JOIN lr USING (b) WHERE doc_id % 20 <> 3
         |  GROUP BY doc_id)
         |SELECT doc_id, n_grams, round(lw, 6) AS log_weight,
         |  round(lw - ln(-ln(
         |    (${hexValSql("md5(CAST(doc_id AS VARCHAR))", 13)} + 0.5)
         |      / 4503599627370496.0)), 6) AS select_key
         |FROM pd ORDER BY select_key DESC, doc_id LIMIT 200""".stripMargin,
  )
}
