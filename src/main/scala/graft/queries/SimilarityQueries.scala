package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Similarity search and embeddings: kNN, LSH, IVF, quantization,
  * recall gates, embedding audits, projections, clustering quality.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object SimilarityQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- north-star: similarity search ----------------------------------
    "q29_knn_cosine" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 3)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // LSH-bucketed ANN; oracle embeds the deterministic planes as literals.
    "q30_knn_lsh" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 3,
          planes = Similarity.deterministicPlanes(4, 64))
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // Embedding-table health panel: per-label counts, dim spread, zero
    // vectors, exact-decimal mean L2 norm.
    "q92_embedding_audit" -> ((s, d) => {
      Similarity.embeddingAudit(parallel(load(s, d, "embeddings")),
          "embedding", "vec_id", "label")
        .transform(ordered1(_, col("label")))
    }),


    // Embedding-cosine near-dup pairs: LSH-bucketed candidates + threshold.
    "q40_embedding_neardup" -> ((s, d) => {
      Similarity.neardupPairs(load(s, d, "embeddings"), "embedding", "vec_id",
          planes = Similarity.deterministicPlanes(4, 64), threshold = 0.3)
        .transform(ordered1(_, col("vec_id_a"), col("vec_id_b")))
    }),


    // IVF-style ANN: coarse-quantized cells, nProbe-cell exact search.
    "q41_knn_ivf" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 3, nlist = 8, nProbe = 2)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // Hard-negative mining: per query the top-k highest-cosine
    // neighbors INSIDE the confusable band [0.0, 0.9) — the band filter
    // runs before the ranking so near-duplicates can't crowd out the
    // negatives a contrastive loss actually needs. Same IVF probe shape
    // as q41.
    "q145_hard_negatives" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      Similarity.hardNegatives(
          Similarity.buildIvfIndex(emb, "embedding", "vec_id", nlist = 8),
          emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 3, nProbe = 2, negHi = 0.9, negLo = 0.0)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // Int8 scalar quantization quality gate: per-label reconstruction
    // audit (range / MSE / cosine-to-reconstruction) for the 4× embedding
    // storage cut. One scan, one hash agg, exact decimal means.
    "q146_int8_quantize" -> ((s, d) => {
      Quantization.int8Audit(load(s, d, "embeddings"),
          "embedding", "vec_id", "label")
        .transform(ordered1(_, col("label")))
    }),


    // Product-quantization encode + distortion audit: 4 subspaces × 8
    // first-N centroids (the q41 convention), corpus assigned map-side
    // against the broadcast codebook, per-cell population and mean
    // squared distortion.
    "q147_pq_codes" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cb = Quantization.pqCodebook(emb, "embedding", "vec_id",
        m = 4, ksub = 8)
      Quantization.pqDistortion(
          Quantization.pqAssign(emb, "embedding", "vec_id", cb, m = 4))
        .transform(ordered1(_, col("subspace"), col("code")))
    }),


    // Incremental IVF maintenance: build on the 4/5 base slice (its
    // first-8 vectors as frozen centroids), append the held-out 1/5
    // without re-assigning the base, audit per-cell base/appended
    // populations. Equals a fresh full build by construction (per-row
    // assignment against identical centroids).
    "q148_ivf_append" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val idx = Similarity.buildIvfIndex(base, "embedding", "vec_id",
        nlist = 10)
      val appended = Similarity.ivfAppend(idx,
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), "embedding", "vec_id")
      appended.entries
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(pmod(col("id"), lit(5)) === 0, 1L).otherwise(0L))
            .as("n_appended"))
        .transform(ordered1(_, col("cell")))
    }),


    // Asymmetric-distance (ADC) top-k over the PQ codes: queries stay
    // full-precision, corpus is never decompressed — each code row costs
    // a broadcast-table lookup, per-subspace components decimal-summed.
    "q149_pq_adc" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cb = Quantization.pqCodebook(emb, "embedding", "vec_id",
        m = 4, ksub = 8)
      val codes = Quantization.pqAssign(emb, "embedding", "vec_id", cb, m = 4)
        .select(col("id"), col("subspace"), col("code"))
      Quantization.pqSearchAdc(codes, cb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", m = 4, k = 3)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // Lloyd-refined PQ codebook (1 iteration): all 4 subspaces train in
    // the same two jobs — deterministic rounded-argmin assignment +
    // exact-decimal per-position means — then the refined codebook's
    // distortion audit. The oracle replays the full refinement.
    "q150_pq_refined" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cb = Quantization.pqCodebookRefined(emb, "embedding", "vec_id",
        m = 4, ksub = 8, iterations = 1)
      Quantization.pqDistortion(
          Quantization.pqAssign(emb, "embedding", "vec_id", cb, m = 4))
        .transform(ordered1(_, col("subspace"), col("code")))
    }),


    // Compression-loss recall gate: ADC-over-PQ-codes top-10 vs the
    // exact squared-L2 baseline (like-for-like metric) — the number that
    // decides whether 4-byte codes may replace 256-byte vectors.
    "q151_pq_recall" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val cb = Quantization.pqCodebook(emb, "embedding", "vec_id",
        m = 4, ksub = 8)
      val codes = Quantization.pqAssign(emb, "embedding", "vec_id", cb, m = 4)
        .select(col("id"), col("subspace"), col("code"))
      Similarity.recallAtK(
          Similarity.bruteForceL2TopK(emb, queries, "embedding", "vec_id",
            k = 10),
          Quantization.pqSearchAdc(codes, cb, queries, "embedding", "vec_id",
            m = 4, k = 10),
          "query_id", "neighbor_id")
        .transform(ordered1(_, col("query_id")))
    }),


    // Exact set-similarity self-join (AllPairs/PPJoin prefix filter):
    // every doc pair with 3-gram-shingle Jaccard >= 0.5, no false
    // negatives — the exact counterpart to the MinHash/LSH pipeline.
    // Candidates come only from rare-first prefix shingles + the length
    // filter; verification touches candidate pairs alone.
    "q159_similarity_join" -> ((s, d) => {
      TextDedup.similarityJoin(parallel(load(s, d, "documents")),
          "text", "doc_id", tau = 0.5, shingleSize = 3,
          numPartitions = Some(s.sparkContext.defaultParallelism))
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Johnson-Lindenstrauss random projection (64 → 16 dims, Rademacher
    // signs) + pairwise cosine-distortion audit — the training-free
    // embedding-compression lever; projection is dOut codegen'd dot
    // folds against literal sign arrays, shuffle-free.
    "q165_jl_projection" -> ((s, d) => {
      import graft.functions.VectorFunctions.{asDouble, dot, norm}
      val signs = Quantization.projectionSigns(64, 16)
      val base = load(s, d, "embeddings").filter(col("vec_id") < 40)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val proj = Quantization.randomProject(base, "v", signs, "p")
        .withColumn("nv", norm(col("v")))
        .withColumn("np", norm(col("p")))
      val a = proj.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("p").as("pa"), col("nv").as("nva"), col("np").as("npa"))
      val b = proj.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("p").as("pb"), col("nv").as("nvb"), col("np").as("npb"))
      val cosO = dot(col("va"), col("vb")) / (col("nva") * col("nvb"))
      val cosP = dot(col("pa"), col("pb")) / (col("npa") * col("npb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosO, 6).as("cos_orig"), round(cosP, 6).as("cos_proj"),
          round(abs(cosO - cosP), 6).as("abs_err"))
        .transform(ordered1(_, col("id_a"), col("id_b")))
    }),


    // LSH banding S-curve planner for 128 hashes: collision probability
    // per (rows, bands, similarity) plus each config's inflection
    // threshold — how the MinHash stack's parameters get chosen.
    "q168_lsh_planner" -> ((s, d) => {
      TextDedup.lshPlan(s, numHashes = 128)
        .transform(ordered1(_, col("r"), col("s")))
    }),


    // Embedding-space outliers: top-20 by Euclidean distance to the
    // exact per-dimension centroid — the cheap mis-embedding screen.
    // One 1-row aggregation + broadcast + TakeOrderedAndProject.
    "q176_embedding_outliers" -> ((s, d) => {
      Similarity.centroidOutliers(load(s, d, "embeddings"),
          "embedding", "vec_id", dim = 64, k = 20)
        .transform(ordered1(_, col("dist").desc, col("vec_id")))
    }),


    // Exact covariance matrix of the leading 8 embedding dimensions:
    // one 1-row aggregation with decimal-quantized cross-product sums
    // (44 buffers), no explode — the geometry-drift monitor and the
    // PCA front end.
    "q187_embedding_cov" -> ((s, d) => {
      Similarity.embeddingCovariance(load(s, d, "embeddings"),
          "embedding", dims = 8)
        .transform(ordered1(_, col("i"), col("j")))
    }),


    // Top principal component of the embedding cloud projected back onto
    // every vector: power iteration on the bounded 4x4 covariance runs
    // driver-side (the documented bounded-metadata idiom — the matrix IS
    // metadata), so the distributed work is ONE 1-row covariance
    // aggregation plus a per-row broadcast-literal dot. 30 iterations,
    // exact fixed-point early exit (provably oracle-safe: a fixed point
    // makes every further iteration a no-op).
    "q189_pca_project" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val cov = Similarity.embeddingCovariance(emb, "embedding", dims = 4)
      val comp = Similarity.topPrincipalComponent(cov, dims = 4,
        iterations = 30)
      Similarity.pcProject(emb, "embedding", "vec_id", comp)
        .transform(ordered1(_, col("vec_id")))
    }),


    // Simplified silhouette per label cluster: centroid-based a/b —
    // the scale-shippable O(n·k) variant, exact-decimal centroids.
    "q232_silhouette" -> ((s, d) => {
      Similarity.simplifiedSilhouette(parallel(load(s, d, "embeddings")),
          "embedding", "vec_id", "label", dim = 64)
        .transform(ordered1(_, col("cluster")))
    }),


    // ANN quality gate: recall@3 of the LSH index against the exact
    // brute-force neighbors — the eval an ANN path must pass before the
    // exact path is retired.
    "q134_ann_recall" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 3),
          Similarity.lshTopK(emb, queries, "embedding", "vec_id", k = 3,
            planes = Similarity.deterministicPlanes(4, 64)),
          "query_id", "neighbor_id")
        .transform(ordered1(_, col("query_id")))
    }),


    // SemDeDup: embedding-space dedup with the pairwise cosine bounded
    // to IVF cells (all-pairs is O(n²); clusters make it tractable) —
    // min-id keeper election per ε-ball.
    "q136_semantic_dedup" -> ((s, d) => {
      Similarity.semanticDedup(load(s, d, "embeddings"), "embedding",
          "vec_id", nlist = 8, threshold = 0.3)
        .transform(ordered1(_, col("vec_id")))
    }),


    // IVF index on DISK in the cell-partitioned layout: build, compact
    // to cell=<id> directories, read back, search — answers must equal
    // the in-memory q41 exactly (same oracle), while the storage layout
    // lets a probe-bounded search read only its cells' directories.
    // Fixed work dir for the same reason as q142.
    "q154_ivf_partitioned" -> ((s, d) => {
      val dir = "/tmp/graft_q154_ivfidx/t"
      val emb = load(s, d, "embeddings")
      val idx = Similarity.buildIvfIndex(emb, "embedding", "vec_id", nlist = 8)
      Maintenance.compactIvfIndex(idx.entries, dir)
      Similarity.ivfSearch(
          Similarity.IvfIndex(idx.centroids, s.read.parquet(dir)),
          emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 3, nProbe = 2)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),


    // Multi-probe LSH ANN: each query also probes the Hamming-1 buckets
    // (one hyperplane flipped) — recall toward exact without growing the
    // one-row-per-vector index; only the broadcast query side fans out.
    "q138_knn_multiprobe" -> ((s, d) => {
      val emb = load(s, d, "embeddings")
      val planes = Similarity.deterministicPlanes(4, 64)
      Similarity.lshSearchMultiProbe(
          Similarity.buildLshIndex(emb, "embedding", "vec_id", planes),
          emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3, planes)
        .transform(ordered1(_, col("query_id"), col("rank")))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q29_knn_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ROUND(list_dot_product(qv, cv)
        |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
        |  FROM c, q WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    // The LSH planes are embedded as double literals (computed once on
    // the JVM): re-deriving them via sin() in SQL could flip a sign bit
    // on another libm and change a bucket.
    "q30_knn_lsh" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |qb AS (SELECT query_id, qv, ${bucketSql("qv")} AS bucket FROM q),
         |cb AS (SELECT neighbor_id, cv, ${bucketSql("cv")} AS bucket FROM c),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    ROUND(list_dot_product(qv, cv)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
         |  FROM cb JOIN qb USING (bucket) WHERE query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    "q92_embedding_audit" ->
      """WITH v AS (SELECT label,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x))) AS DECIMAL(18,9)) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  min(dim) AS dim_min, max(dim) AS dim_max,
        |  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  round(CAST(sum(nrm) AS DOUBLE) / count(*), 6) AS avg_norm
        |FROM v GROUP BY label ORDER BY label""".stripMargin,


    "q40_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n,
         |  ${bucketSql("v")} AS bucket FROM e)
         |SELECT a.vec_id AS vec_id_a, bb.vec_id AS vec_id_b,
         |  ROUND(list_dot_product(a.v, bb.v) / (a.n * bb.n), 6) AS cosine
         |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |WHERE ROUND(list_dot_product(a.v, bb.v) / (a.n * bb.n), 6) >= 0.3
         |ORDER BY vec_id_a, vec_id_b""".stripMargin,


    "q41_knn_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent, v AS cv, n AS cn FROM e WHERE vec_id < 8),
        |assign AS (SELECT vec_id, v, n, cent,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(list_dot_product(v, cv) / (n * cn), 6) DESC, cent) AS rn
        |  FROM e CROSS JOIN c),
        |cells AS (SELECT vec_id AS neighbor_id, v AS nv, n AS nn, cent
        |  FROM assign WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, v AS qv, n AS qn, cent
        |  FROM assign WHERE vec_id < 5 AND rn <= 2),
        |scored AS (SELECT DISTINCT query_id, neighbor_id,
        |    ROUND(list_dot_product(qv, nv) / (qn * nn), 6) AS cosine
        |  FROM cells JOIN probes USING (cent) WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    // identical program to q41 — the Spark side answers from the DISK
    // cell-partitioned index, which must change nothing about the answer
    "q154_ivf_partitioned" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent, v AS cv, n AS cn FROM e WHERE vec_id < 8),
        |assign AS (SELECT vec_id, v, n, cent,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(list_dot_product(v, cv) / (n * cn), 6) DESC, cent) AS rn
        |  FROM e CROSS JOIN c),
        |cells AS (SELECT vec_id AS neighbor_id, v AS nv, n AS nn, cent
        |  FROM assign WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, v AS qv, n AS qn, cent
        |  FROM assign WHERE vec_id < 5 AND rn <= 2),
        |scored AS (SELECT DISTINCT query_id, neighbor_id,
        |    ROUND(list_dot_product(qv, nv) / (qn * nn), 6) AS cosine
        |  FROM cells JOIN probes USING (cent) WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    "q145_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent, v AS cv, n AS cn FROM e WHERE vec_id < 8),
        |assign AS (SELECT vec_id, v, n, cent,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(list_dot_product(v, cv) / (n * cn), 6) DESC, cent) AS rn
        |  FROM e CROSS JOIN c),
        |cells AS (SELECT vec_id AS neighbor_id, v AS nv, n AS nn, cent
        |  FROM assign WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, v AS qv, n AS qn, cent
        |  FROM assign WHERE vec_id < 5 AND rn <= 2),
        |banded AS (SELECT DISTINCT query_id, neighbor_id,
        |    ROUND(list_dot_product(qv, nv) / (qn * nn), 6) AS cosine
        |  FROM cells JOIN probes USING (cent) WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM banded WHERE cosine >= 0.0 AND cosine < 0.9)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    "q146_int8_quantize" ->
      s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT label, v, list_min(v) AS vmin,
         |  (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
         |r AS (SELECT label, scale, v,
         |    list_transform(v, x -> CASE WHEN scale = 0 THEN vmin
         |      ELSE vmin + LEAST(GREATEST(floor((x - vmin) / scale + 0.5), 0), 255) * scale END) AS vq
         |  FROM p),
         |s AS (SELECT label, scale * 255.0 AS rng, list_dot_product(v, v) AS dxx,
         |    list_dot_product(v, vq) AS dxy, list_dot_product(vq, vq) AS dyy,
         |    len(v) AS dim FROM r),
         |mrow AS (SELECT label, rng, (dxx - 2 * dxy + dyy) / dim AS mse,
         |    CASE WHEN dxx > 0 AND dyy > 0 THEN dxy / sqrt(dxx * dyy) END AS cos FROM s)
         |SELECT label, COUNT(*) AS n_vecs,
         |  ${dmeanSql("rng", 6)} AS avg_range,
         |  ${dmeanSql("mse", 12)} AS avg_mse,
         |  ${dmeanSql("cos", 9)} AS avg_cosine
         |FROM mrow GROUP BY label ORDER BY label""".stripMargin,


    "q147_pq_codes" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (SELECT vec_id, CAST(t.ss AS INT) AS subspace,
         |    v[(CAST(t.ss AS INT) * (len(v) // 4) + 1):(CAST(t.ss AS INT) * (len(v) // 4) + (len(v) // 4))] AS sv
         |  FROM e, range(0, 4) t(ss)),
         |cb AS (SELECT subspace, vec_id AS cent, sv AS cv,
         |    list_dot_product(sv, sv) AS dcc FROM sub WHERE vec_id < 8),
         |scored AS (SELECT s.vec_id, s.subspace, cb.cent,
         |    ROUND(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv) + cb.dcc, 6) AS dist2
         |  FROM sub s JOIN cb USING (subspace)),
         |a AS (SELECT vec_id, subspace, cent, dist2,
         |    row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist2, cent) AS rn
         |  FROM scored)
         |SELECT subspace, cent AS code, COUNT(*) AS n_vecs,
         |  ${dmeanSql("dist2", 6)} AS avg_dist2
         |FROM a WHERE rn = 1 GROUP BY subspace, cent ORDER BY subspace, code""".stripMargin,


    "q148_ivf_append" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cent, v AS cv, n AS cn FROM e
        |  WHERE vec_id < 10 AND vec_id % 5 <> 0),
        |assign AS (SELECT vec_id, cent,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ROUND(list_dot_product(v, cv) / (n * cn), 6) DESC, cent) AS rn
        |  FROM e CROSS JOIN c)
        |SELECT cent AS cell, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_appended
        |FROM assign WHERE rn = 1 GROUP BY cent ORDER BY cell""".stripMargin,


    "q149_pq_adc" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (SELECT vec_id, CAST(t.ss AS INT) AS subspace,
        |    v[(CAST(t.ss AS INT) * (len(v) // 4) + 1):(CAST(t.ss AS INT) * (len(v) // 4) + (len(v) // 4))] AS sv
        |  FROM e, range(0, 4) t(ss)),
        |cb AS (SELECT subspace, vec_id AS cent, sv AS cv,
        |    list_dot_product(sv, sv) AS dcc FROM sub WHERE vec_id < 8),
        |scored AS (SELECT s.vec_id, s.subspace, cb.cent,
        |    ROUND(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv) + cb.dcc, 6) AS dist2
        |  FROM sub s JOIN cb USING (subspace)),
        |a AS (SELECT vec_id, subspace, cent, dist2,
        |    row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist2, cent) AS rn
        |  FROM scored),
        |codes AS (SELECT vec_id AS id, subspace, cent AS code FROM a WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, subspace, sv AS qs,
        |    list_dot_product(sv, sv) AS dqq FROM sub WHERE vec_id < 5),
        |tbl AS (SELECT q.query_id, cb.subspace, cb.cent,
        |    ROUND(q.dqq - 2 * list_dot_product(q.qs, cb.cv) + cb.dcc, 6) AS comp
        |  FROM q JOIN cb ON q.subspace = cb.subspace),
        |sc AS (SELECT tbl.query_id, codes.id AS neighbor_id,
        |    CAST(SUM(CAST(comp AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        |  FROM codes JOIN tbl ON codes.subspace = tbl.subspace AND codes.code = tbl.cent
        |  WHERE codes.id <> tbl.query_id
        |  GROUP BY tbl.query_id, codes.id),
        |rk AS (SELECT query_id, neighbor_id, adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rnk
        |  FROM sc)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS rank
        |FROM rk WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,


    "q150_pq_refined" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (SELECT vec_id, CAST(t.ss AS INT) AS subspace,
         |    v[(CAST(t.ss AS INT) * (len(v) // 4) + 1):(CAST(t.ss AS INT) * (len(v) // 4) + (len(v) // 4))] AS sv
         |  FROM e, range(0, 4) t(ss)),
         |cb AS (SELECT subspace, vec_id AS cent, sv AS cv,
         |    list_dot_product(sv, sv) AS dcc FROM sub WHERE vec_id < 8),
         |s1 AS (SELECT s.vec_id, s.subspace, s.sv, cb.cent,
         |    ROUND(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv) + cb.dcc, 6) AS dist2
         |  FROM sub s JOIN cb USING (subspace)),
         |a1 AS (SELECT vec_id, subspace, sv, cent FROM (
         |    SELECT vec_id, subspace, sv, cent,
         |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist2, cent) AS rn
         |    FROM s1) WHERE rn = 1),
         |pos0 AS (SELECT subspace, cent, sv,
         |    CAST(unnest(range(len(sv))) AS INT) AS p FROM a1),
         |pos AS (SELECT subspace, cent, p, sv[p + 1] AS x FROM pos0),
         |pm AS (SELECT subspace, cent, p, ${dmeanSql("x", 9)} AS mx
         |  FROM pos GROUP BY subspace, cent, p),
         |mv AS (SELECT subspace, cent, list(mx ORDER BY p) AS cv2
         |  FROM pm GROUP BY subspace, cent),
         |cb2 AS (SELECT cb.subspace, cb.cent, COALESCE(mv.cv2, cb.cv) AS cv,
         |    list_dot_product(COALESCE(mv.cv2, cb.cv), COALESCE(mv.cv2, cb.cv)) AS dcc
         |  FROM cb LEFT JOIN mv ON cb.subspace = mv.subspace AND cb.cent = mv.cent),
         |s2 AS (SELECT s.vec_id, s.subspace, cb2.cent,
         |    ROUND(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb2.cv) + cb2.dcc, 6) AS dist2
         |  FROM sub s JOIN cb2 ON s.subspace = cb2.subspace),
         |a2 AS (SELECT vec_id, subspace, cent, dist2,
         |    row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist2, cent) AS rn
         |  FROM s2)
         |SELECT subspace, cent AS code, COUNT(*) AS n_vecs,
         |  ${dmeanSql("dist2", 6)} AS avg_dist2
         |FROM a2 WHERE rn = 1 GROUP BY subspace, cent ORDER BY subspace, code""".stripMargin,


    "q151_pq_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ql AS (SELECT vec_id AS query_id, v AS qv, list_dot_product(v, v) AS dqq
        |  FROM e WHERE vec_id < 5),
        |x AS (SELECT query_id, e.vec_id AS neighbor_id,
        |    ROUND(dqq - 2 * list_dot_product(qv, e.v) + list_dot_product(e.v, e.v), 6) AS dist2
        |  FROM e, ql WHERE query_id <> e.vec_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rnk
        |    FROM x) WHERE rnk <= 10),
        |sub AS (SELECT vec_id, CAST(t.ss AS INT) AS subspace,
        |    v[(CAST(t.ss AS INT) * (len(v) // 4) + 1):(CAST(t.ss AS INT) * (len(v) // 4) + (len(v) // 4))] AS sv
        |  FROM e, range(0, 4) t(ss)),
        |cb AS (SELECT subspace, vec_id AS cent, sv AS cv,
        |    list_dot_product(sv, sv) AS dcc FROM sub WHERE vec_id < 8),
        |scored AS (SELECT s.vec_id, s.subspace, cb.cent,
        |    ROUND(list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv) + cb.dcc, 6) AS dist2
        |  FROM sub s JOIN cb USING (subspace)),
        |a AS (SELECT vec_id, subspace, cent, dist2,
        |    row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dist2, cent) AS rn
        |  FROM scored),
        |codes AS (SELECT vec_id AS id, subspace, cent AS code FROM a WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, subspace, sv AS qsv,
        |    list_dot_product(sv, sv) AS dqq2 FROM sub WHERE vec_id < 5),
        |tbl AS (SELECT qs.query_id, cb.subspace, cb.cent,
        |    ROUND(qs.dqq2 - 2 * list_dot_product(qs.qsv, cb.cv) + cb.dcc, 6) AS comp
        |  FROM qs JOIN cb ON qs.subspace = cb.subspace),
        |sc AS (SELECT tbl.query_id, codes.id AS neighbor_id,
        |    CAST(SUM(CAST(comp AS DECIMAL(18,6))) AS DOUBLE) AS adc
        |  FROM codes JOIN tbl ON codes.subspace = tbl.subspace AND codes.code = tbl.cent
        |  WHERE codes.id <> tbl.query_id GROUP BY tbl.query_id, codes.id),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk
        |    FROM sc) WHERE rnk <= 10)
        |SELECT e2.query_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN a2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS recall
        |FROM exact e2 LEFT JOIN approx a2
        |  ON e2.query_id = a2.query_id AND e2.neighbor_id = a2.neighbor_id
        |GROUP BY e2.query_id ORDER BY e2.query_id""".stripMargin,


    "q159_similarity_join" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id,
        |  unnest([array_to_string(t[i:i+2], ' ')
        |    FOR i IN generate_series(1, greatest(len(t) - 2, 1))]) AS g FROM d)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS doc_id_a, ib AS doc_id_b,
        |  CAST(inter AS BIGINT) AS n_shared,
        |  round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
        |FROM ov JOIN sz za ON ia = za.doc_id JOIN sz zb ON ib = zb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    // Generated, not hand-written: the Rademacher sign lists come from
    // the same deterministic projectionSigns the Spark side uses, so the
    // two engines run the identical literal matrix.
    "q165_jl_projection" -> {
      val signs = graft.operators.Quantization.projectionSigns(64, 16)
      val projExprs = signs.map(s =>
        s"list_dot_product(cv, [${s.mkString(", ")}]) / 4.0")
        .mkString(",\n      ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id < 40),
         |p AS (SELECT vec_id, cv, [$projExprs] AS pv FROM c),
         |n AS (SELECT vec_id, cv, pv,
         |    sqrt(list_dot_product(cv, cv)) AS nv,
         |    sqrt(list_dot_product(pv, pv)) AS np FROM p)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.cv, b.cv) / (a.nv * b.nv), 6) AS cos_orig,
         |  round(list_dot_product(a.pv, b.pv) / (a.np * b.np), 6) AS cos_proj,
         |  round(abs(list_dot_product(a.cv, b.cv) / (a.nv * b.nv)
         |          - list_dot_product(a.pv, b.pv) / (a.np * b.np)), 6)
         |    AS abs_err
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },


    "q168_lsh_planner" ->
      """WITH cfg AS (SELECT CAST(i AS INT) AS r, CAST(128 // i AS INT) AS b
        |  FROM generate_series(1, 128) t(i) WHERE 128 % i = 0),
        |grid AS (SELECT k * 0.05 AS s FROM generate_series(1, 19) g(k))
        |SELECT r, b, round(power(1.0/b, 1.0/r), 6) AS threshold,
        |  round(s, 2) AS s,
        |  round(1 - power(1 - power(s, r), b), 6) AS p_collide
        |FROM cfg CROSS JOIN grid ORDER BY r, s""".stripMargin,


    // Generated: 64 per-dimension exact sums, mirroring
    // Similarity.centroidOutliers' decimal quantization.
    "q176_embedding_outliers" -> {
      val sums = (0 until 64).map(i =>
        s"SUM(CAST(CAST(cv[${i + 1}] AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS s$i")
        .mkString(", ")
      val means = (0 until 64).map(i =>
        s"CAST(s$i AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)").mkString(", ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings),
         |st AS (SELECT count(*) AS n, $sums FROM c),
         |m AS (SELECT n, [$means] AS mv FROM st),
         |d AS (SELECT vec_id,
         |    [cv[i] - mv[i] FOR i IN generate_series(1, 64)] AS dv
         |  FROM c CROSS JOIN m)
         |SELECT vec_id, round(sqrt(list_dot_product(dv, dv)), 6) AS dist
         |FROM d ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin
    },


    // Generated: 8 quantized dim sums + 36 HUGEINT cross-product sums,
    // numerator n*Sij - Si*Sj exact — Similarity.embeddingCovariance.
    "q187_embedding_cov" -> {
      val dims = 8
      val q = (1 to dims).map(i =>
        s"CAST(CAST(cv[$i] AS DECIMAL(18,6)) * 1000000 AS HUGEINT)")
      val pairIdx = for { i <- 0 until dims; j <- i until dims } yield (i, j)
      val sums = (0 until dims).map(i => s"SUM(${q(i)}) AS s$i") ++
        pairIdx.map { case (i, j) =>
          s"SUM(${q(i)} * ${q(j)}) AS p${i}_$j" }
      val branches = pairIdx.map { case (i, j) =>
        s"""SELECT $i AS i, $j AS j, n,
           |  round(CAST(CAST(n AS HUGEINT) * p${i}_$j - s$i * s$j AS DOUBLE)
           |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 9) AS cov
           |FROM st""".stripMargin
      }
      s"""WITH c AS (SELECT CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |st AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM c)
         |${branches.mkString("\nUNION ALL\n")}
         |ORDER BY i, j""".stripMargin
    },


    // Full power iteration reproduced in SQL: the 4x4 covariance (q187's
    // exact HUGEINT arithmetic at dims=4) feeds a 30-step recursive CTE
    // whose per-step arithmetic is the IDENTICAL left-associative IEEE
    // sequence the driver-side loop runs (fold from 0.5 start, sqrt
    // norm, first-max sign convention), then the same strict-index-order
    // dot per row.
    "q189_pca_project" -> {
      val dims = 4
      val q = (1 to dims).map(i =>
        s"CAST(CAST(cv[$i] AS DECIMAL(18,6)) * 1000000 AS HUGEINT)")
      val pairIdx = for { i <- 0 until dims; j <- i until dims } yield (i, j)
      val sums = (0 until dims).map(i => s"SUM(${q(i)}) AS s$i") ++
        pairIdx.map { case (i, j) => s"SUM(${q(i)} * ${q(j)}) AS p${i}_$j" }
      def covExpr(i: Int, j: Int): String = {
        val (a, b) = if (i <= j) (i, j) else (j, i)
        s"round(CAST(CAST(n AS HUGEINT) * p${a}_$b - s$a * s$b AS DOUBLE)" +
          s" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 9)"
      }
      val mCols = (for { i <- 0 until dims; j <- 0 until dims }
        yield s"${covExpr(i, j)} AS m${i}_$j").mkString(", ")
      val mv = (0 until dims).map(i =>
        (0 until dims).map(j => s"m${i}_$j * v$j").mkString(" + "))
      val nrmSq = (0 until dims).map(i => s"n$i * n$i").mkString(" + ")
      val absGe = (0 until dims).map { i =>
        val later = (i + 1 until dims).map(j => s"abs(v$i) >= abs(v$j)")
        if (later.isEmpty) s"ELSE v$i END"
        else s"WHEN ${later.mkString(" AND ")} THEN v$i"
      }
      val dotExpr = (0 until dims).map(i => s"cv[${i + 1}] * c$i")
        .mkString(" + ")
      s"""WITH RECURSIVE
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings),
         |st AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM c),
         |m AS (SELECT $mCols FROM st),
         |it AS (
         |  SELECT 0 AS k, ${(0 until dims)
              .map(i => s"CAST(0.5 AS DOUBLE) AS v$i").mkString(", ")}
         |  UNION ALL
         |  SELECT k + 1, ${(0 until dims)
              .map(i => s"n$i / nrm AS v$i").mkString(", ")}
         |  FROM (SELECT k, ${(0 until dims)
              .map(i => s"n$i").mkString(", ")}, sqrt($nrmSq) AS nrm
         |    FROM (SELECT k, ${mv.zipWithIndex
              .map { case (e, i) => s"$e AS n$i" }.mkString(", ")}
         |      FROM it, m))
         |  WHERE k < 30),
         |fin AS (SELECT ${(0 until dims).map(i => s"v$i").mkString(", ")},
         |  CASE ${absGe.mkString(" ")} AS pick
         |  FROM it WHERE k = 30),
         |comp AS (SELECT ${(0 until dims)
              .map(i => s"CASE WHEN pick < 0 THEN -v$i ELSE v$i END AS c$i")
              .mkString(", ")}
         |  FROM fin)
         |SELECT vec_id, round($dotExpr, 6) AS score
         |FROM c, comp ORDER BY vec_id""".stripMargin
    },


    // Per-label scale-6 centroid sums (q176's convention, GROUP BY
    // label); a = own-centroid distance, b = min other; one LEFT JOIN.
    "q232_silhouette" -> {
      val sums = (0 until 64).map(i =>
        s"SUM(CAST(CAST(cv[${i + 1}] AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS s$i")
        .mkString(", ")
      val means = (0 until 64).map(i =>
        s"CAST(s$i AS DOUBLE)/1000000.0/CAST(n AS DOUBLE)").mkString(", ")
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE label IS NOT NULL),
         |st AS (SELECT label AS cl, count(*) AS n, $sums
         |  FROM c GROUP BY label),
         |m AS (SELECT cl, [$means] AS mv FROM st),
         |own AS (SELECT vec_id, label,
         |    sqrt(list_dot_product(dv, dv)) AS a FROM (
         |  SELECT vec_id, label,
         |      [cv[i] - mv[i] FOR i IN generate_series(1, 64)] AS dv
         |    FROM c JOIN m ON label = cl)),
         |oth AS (SELECT vec_id, min(sqrt(list_dot_product(dv, dv))) AS b
         |  FROM (
         |  SELECT c.vec_id,
         |      [cv[i] - mv[i] FOR i IN generate_series(1, 64)] AS dv
         |    FROM c JOIN m ON label <> cl) GROUP BY vec_id)
         |SELECT label AS cluster, count(*) AS n,
         |  round(avg(CASE WHEN b IS NULL THEN NULL
         |    WHEN greatest(a, b) = 0 THEN 0.0
         |    ELSE (b - a) / greatest(a, b) END), 6) AS mean_silhouette,
         |  round(avg(a), 6) AS mean_dist_own,
         |  round(avg(b), 6) AS mean_dist_other
         |FROM own LEFT JOIN oth USING (vec_id)
         |GROUP BY label ORDER BY cluster""".stripMargin
    },


    "q134_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |xs AS (
         |  SELECT query_id, neighbor_id,
         |    ROUND(list_dot_product(qv, cv)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
         |  FROM c, q WHERE query_id <> neighbor_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM xs) WHERE rnk <= 3),
         |qb AS (SELECT query_id, qv, ${bucketSql("qv")} AS bucket FROM q),
         |cb AS (SELECT neighbor_id, cv, ${bucketSql("cv")} AS bucket FROM c),
         |as_ AS (
         |  SELECT query_id, neighbor_id,
         |    ROUND(list_dot_product(qv, cv)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
         |  FROM cb JOIN qb USING (bucket) WHERE query_id <> neighbor_id),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM as_) WHERE rnk <= 3)
         |SELECT e.query_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,


    "q136_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS cv, n AS cn FROM e WHERE vec_id < 8),
        |assign AS (SELECT vec_id, v, n, cell,
        |  row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(list_dot_product(v, cv) / (n * cn), 6) DESC, cell) AS rn
        |  FROM e CROSS JOIN c),
        |m AS (SELECT vec_id, v, n, cell FROM assign WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, min(b.vec_id) AS dup_of
        |  FROM m a JOIN m b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= 0.3
        |  GROUP BY a.vec_id)
        |SELECT m.vec_id, m.cell, p.id_a IS NOT NULL AS is_dup, p.dup_of
        |FROM m LEFT JOIN p ON m.vec_id = p.id_a
        |ORDER BY m.vec_id""".stripMargin,


    "q138_knn_multiprobe" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         |qb0 AS (SELECT query_id, qv, ${bucketSql("qv")} AS b0 FROM q),
         |qb AS (SELECT query_id, qv,
         |  unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket
         |  FROM qb0),
         |cb AS (SELECT neighbor_id, cv, ${bucketSql("cv")} AS bucket FROM c),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    ROUND(list_dot_product(qv, cv)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
         |  FROM cb JOIN qb USING (bucket) WHERE query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rank""".stripMargin,
  )
}
