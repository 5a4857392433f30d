package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Decimals
import graft.functions.VectorFunctions._

/** Embedding compression for the 100 TB similarity stack: int8 scalar
  * quantization (4× storage cut, the standard first lever before any
  * index) and product quantization (Jégou/Douze/Schmid, PAMI 2011 — the
  * "PQ" of IVF-PQ: m subspace codebooks turn a d-float vector into m
  * single-byte codes, ~d·4/m× compression, searched without ever
  * decompressing the corpus via asymmetric distance computation).
  *
  * Everything here is per-row projection + broadcast-join + one
  * aggregation — no operator shuffles the corpus more than once, and the
  * codebooks/distance tables that fan out are bounded by m·ksub rows
  * (bytes, broadcast everywhere). Determinism conventions match the rest
  * of the repo: all per-row float math is IEEE double in strict index
  * order (the codegen'd [[graft.expressions.DotProduct]] fold — the same
  * fold DuckDB's `list_dot_product` runs, which is what lets a SQL oracle
  * reproduce these results bit-for-bit); every cross-row reduction is
  * decimal-quantized ([[Decimals]]) so partition order cannot leak in;
  * ranked outputs round their sort key and tie-break on id.
  */
object Quantization {

  /** Int8 code array for one vector: per-vector min/max affine scaling
    * (`x → round((x - vmin)/scale)` clamped to [0,255], scale =
    * range/255). A constant vector (range 0) encodes as all-zero codes
    * and dequantizes exactly to `vmin`. floor(x+0.5) rather than a
    * round() builtin: identical IEEE semantics in every engine. */
  private def codesFor(v: Column, vmin: Column, scale: Column): Column =
    transform(v, x =>
      when(scale === 0, lit(0))
        .otherwise(least(greatest(
          floor((x - vmin) / scale + lit(0.5)), lit(0.0)), lit(255.0)))
        .cast("int"))

  /** Reconstruction of [[codesFor]]: `vmin + code·scale`. */
  def dequantInt8(codes: Column, vmin: Column, scale: Column): Column =
    transform(codes, c => vmin + c.cast("double") * scale)

  /** Per-vector int8 quantization frame `(id, vmin, scale, codes)` —
    * 1 byte/dimension plus two doubles of per-vector header vs 4
    * bytes/dimension float32. Pure projection: no shuffle, stays in
    * whole-stage codegen, writes columnar-friendly fixed-width output. */
  def quantizeInt8(embeds: DataFrame, vecCol: String, idCol: String): DataFrame =
    embeds
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("vmin", array_min(col("__v")))
      .withColumn("scale", (array_max(col("__v")) - col("vmin")) / lit(255.0))
      .select(col("id"), col("vmin"), col("scale"),
        codesFor(col("__v"), col("vmin"), col("scale")).as("codes"))

  /** Quantization-quality audit, grouped: would int8 compression hurt
    * this corpus? Per group: vector count, mean per-vector value range,
    * mean squared reconstruction error, and mean cosine between each
    * vector and its reconstruction (the metric retrieval actually feels
    * — cosine ≥ 0.999 means ranking is essentially untouched).
    *
    * One corpus scan: quantize, reconstruct, and score per row (the
    * squared error comes from the three dot products ‖x‖² − 2⟨x,x̂⟩ +
    * ‖x̂‖² — same index-order folds an oracle can replay, no
    * intermediate error array), then a single hash aggregation with
    * exact decimal means. */
  def int8Audit(embeds: DataFrame, vecCol: String, idCol: String,
      groupCol: String): DataFrame = {
    val rows = embeds
      .select(col(groupCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("vmin", array_min(col("__v")))
      .withColumn("scale", (array_max(col("__v")) - col("vmin")) / lit(255.0))
      .withColumn("__vq", dequantInt8(
        codesFor(col("__v"), col("vmin"), col("scale")),
        col("vmin"), col("scale")))
      .withColumn("__dxx", dot(col("__v"), col("__v")))
      .withColumn("__dxy", dot(col("__v"), col("__vq")))
      .withColumn("__dyy", dot(col("__vq"), col("__vq")))
      .select(col(groupCol),
        (col("scale") * lit(255.0)).as("__rng"),
        ((col("__dxx") - col("__dxy") * 2 + col("__dyy")) /
          size(col("__v")).cast("double")).as("__mse"),
        when(col("__dxx") > 0 && col("__dyy") > 0,
          col("__dxy") / sqrt(col("__dxx") * col("__dyy"))).as("__cos"))
    rows.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_vecs"),
      Decimals.dmean(col("__rng"), 6).as("avg_range"),
      Decimals.dmean(col("__mse"), 12).as("avg_mse"),
      Decimals.dmean(col("__cos"), 9).as("avg_cosine"))
  }

  /** Subspace width with a fail-fast divisibility guard (the
    * intervalJoin idiom): a dim not divisible by `m` would silently
    * misalign every slice, so it fails the job with the offending dim
    * instead. */
  private def subDim(v: Column, m: Int): Column =
    when(pmod(size(v), lit(m)) === 0, (size(v) / m).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"pq: vector dim not divisible by m=$m (dim="),
        size(v).cast("string"), lit(")"))).cast("int"))

  /** Explode a vector frame into its `m` subvectors:
    * `(idAlias, subspace, svAlias)`. The ×m fan-out is of NARROW rows
    * (each carries d/m doubles — total bytes unchanged) and feeds
    * map-side work only. */
  private def subspaces(df: DataFrame, vecCol: String, idCol: String,
      m: Int, idAlias: String, svAlias: String): DataFrame =
    df.select(col(idCol).as(idAlias), asDouble(col(vecCol)).as("__v"))
      .withColumn("subspace", explode(array((0 until m).map(lit): _*)))
      .withColumn("__sd", subDim(col("__v"), m))
      .select(col(idAlias), col("subspace"),
        slice(col("__v"), col("subspace") * col("__sd") + 1, col("__sd"))
          .as(svAlias))

  /** Deterministic PQ codebook: the first `ksub` corpus vectors by id
    * (the q41 first-N convention — oracle-reproducible; swap in
    * k-means-refined subvector centroids the same way
    * [[Similarity.buildIvfIndex]] accepts them when recall matters more
    * than replayability) sliced into `m` subspaces. Output
    * `(subspace, cent, cv, dcc)`, m·ksub tiny rows with each centroid's
    * self-dot precomputed once.
    *
    * EAGER (the [[OpsUtil.localized]] convention): the corpus scan,
    * divisibility guard, and row-count contract all run at CALL time,
    * and the returned frame is a LocalRelation snapshot — a source
    * mutated between build and use is NOT reflected. Same caller
    * contract as the other localized()-based operators listed in
    * OpsUtil.scala. */
  def pqCodebook(embeds: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int): DataFrame = {
    require(m >= 1, s"subspace count must be positive: $m")
    require(ksub >= 1, s"codebook size must be positive: $ksub")
    // localized (the [[OpsUtil.localized]] bounded-metadata idiom,
    // eager snapshot semantics per OpsUtil.scala): the codebook is
    // m*ksub rows BY CONSTRUCTION and re-enters downstream plans as a
    // broadcast leg once per consumer (assign, ADC distance table,
    // refinement seed) — each such leg would otherwise re-run the
    // corpus scan; as a LocalRelation there is nothing to re-run.
    OpsUtil.localized(
      subspaces(embeds.filter(col(idCol) < ksub), vecCol, idCol, m,
          "cent", "cv")
        .withColumn("dcc", dot(col("cv"), col("cv"))),
      m * ksub, "pqCodebook")
  }

  /** Lloyd-refined PQ codebook: seed with [[pqCodebook]]'s first-N
    * convention, then per iteration (a) assign every (vector, subspace)
    * to its nearest centroid — the [[pqAssign]] shape, with the member
    * subvector riding the argmin struct so no re-join is needed — and
    * (b) recompute each (subspace, code) centroid as the per-position
    * exact-decimal mean of its members. ALL m subspaces train in the
    * SAME two jobs per iteration (explode → assign → posexplode → mean),
    * not m sequential trainings — the Spark-first shape for codebook
    * learning, and the difference between 2 and 2m scheduler rounds.
    * Cells that capture no members keep their previous center; each
    * iteration's codebook re-materializes as a bounded LocalRelation
    * ([[OpsUtil.localized]], round 15 — previously a localCheckpoint),
    * keeping the per-iteration plan O(1) deep with no checkpoint job.
    *
    * Deterministic end to end (rounded-distance argmin with id ties,
    * half-up decimal means) — a SQL oracle can replay the refinement,
    * unlike classic RNG k-means.
    *
    * EAGER like [[pqCodebook]]: every iteration (and so the full
    * training scan sequence) runs at CALL time; the returned codebook
    * is a LocalRelation snapshot of the source as of the call. */
  def pqCodebookRefined(embeds: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iterations: Int = 1, roundTo: Int = 6): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val sub = subspaces(embeds, vecCol, idCol, m, "id", "__sv")
      .withColumn("__dss", dot(col("__sv"), col("__sv")))
    val subIn = if (iterations > 1) sub.persist() else sub
    var cb = pqCodebook(embeds, vecCol, idCol, m, ksub)
    for (_ <- 1 to iterations) {
      val scored = subIn.join(broadcast(cb), Seq("subspace"))
        .withColumn("dist2", round(
          col("__dss") - dot(col("__sv"), col("cv")) * 2 + col("dcc"), roundTo))
      val assigned = scored.groupBy(col("id"), col("subspace"))
        .agg(min(struct(col("dist2"), col("cent"), col("__sv"))).as("__best"))
        .select(col("subspace"), col("__best.cent").as("cent"),
          col("__best.__sv").as("__msv"))
      val means = assigned
        .select(col("subspace"), col("cent"),
          posexplode(col("__msv")).as(Seq("__pos", "__x")))
        .groupBy(col("subspace"), col("cent"), col("__pos"))
        .agg(Decimals.dmean(col("__x"), 9).as("__m"))
        .groupBy(col("subspace"), col("cent"))
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
          e => e("__m")).as("__mv"))
      // localized, not localCheckpoint (round-15): the refined
      // codebook is the same m*ksub bounded-metadata frame as the
      // seed — a LocalRelation keeps the per-iteration plan O(1) deep
      // exactly like the checkpoint did, without the checkpoint
      // write job or the superseded-RDD bookkeeping
      cb = OpsUtil.localized(
        cb.join(means, Seq("subspace", "cent"), "left")
          .select(col("subspace"), col("cent"),
            coalesce(col("__mv"), col("cv")).as("cv"))
          .withColumn("dcc", dot(col("cv"), col("cv"))),
        m * ksub, "pqCodebookRefined")
    }
    if (iterations > 1) subIn.unpersist(blocking = false)
    cb
  }

  /** Encode the corpus: per (vector, subspace), the nearest codebook
    * centroid by squared L2 (‖s‖² − 2⟨s,c⟩ + ‖c‖², per-side self-dots
    * computed once below the join), rounded for rank stability, ties to
    * the lowest centroid id. Output `(id, subspace, code, dist2)` — the
    * PQ code table, m small ints per vector.
    *
    * Scale shape: codebook broadcast, corpus never shuffled for
    * scoring; the argmin is `min(struct(dist2, cent))` — lexicographic
    * struct-min ≡ lowest distance with ties to the lowest centroid id —
    * as a HASH aggregation, so the map-side partial collapses the ×ksub
    * scoring fan-out to one row per (vector, subspace) BEFORE the
    * exchange (a rank-1 window would sort-shuffle all n·m·ksub scored
    * rows instead). */
  def pqAssign(embeds: DataFrame, vecCol: String, idCol: String,
      codebook: DataFrame, m: Int, roundTo: Int = 6): DataFrame = {
    val sub = subspaces(embeds, vecCol, idCol, m, "id", "__sv")
      .withColumn("__dss", dot(col("__sv"), col("__sv")))
    val scored = sub.join(broadcast(codebook), Seq("subspace"))
      .withColumn("dist2", round(
        col("__dss") - dot(col("__sv"), col("cv")) * 2 + col("dcc"), roundTo))
    scored.groupBy(col("id"), col("subspace"))
      .agg(min(struct(col("dist2"), col("cent"))).as("__best"))
      .select(col("id"), col("subspace"),
        col("__best.cent").as("code"), col("__best.dist2").as("dist2"))
  }

  /** Codebook-quality audit over a [[pqAssign]] output: per (subspace,
    * code) the population and mean quantization distortion — the
    * training-loop signal for codebook refresh (a cell with huge
    * distortion or the lion's share of the corpus means the codebook no
    * longer fits the data). One hash aggregation. */
  def pqDistortion(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("subspace"), col("code")).agg(
      count(lit(1)).as("n_vecs"),
      Decimals.dmean(col("dist2"), 6).as("avg_dist2"))

  /** Asymmetric-distance (ADC) search over PQ codes: the query stays
    * full-precision; per (query, subspace) a ksub-entry distance table
    * to every centroid is computed ONCE, and each corpus vector is then
    * scored by m table lookups summed — the corpus itself is never
    * decompressed, which is the entire point of PQ at 100 TB (the scan
    * reads m bytes + joins a broadcast table instead of d floats + a
    * dot product per row). Approximation: distance to the
    * reconstruction, not the original — recall is the codebook's
    * problem ([[pqDistortion]]), the search is exact over the codes.
    *
    * Per-subspace components are rounded then decimal-summed (exact,
    * order-independent); ranking rounds and tie-breaks on neighbor id
    * like every ranked output here. `codes` is a [[pqAssign]] frame (or
    * its `(id, subspace, code)` projection re-read from parquet). */
  def pqSearchAdc(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, m: Int, k: Int,
      roundTo: Int = 6): DataFrame = {
    val qsub = subspaces(queries, vecCol, idCol, m, "query_id", "__qs")
      .withColumn("__dqq", dot(col("__qs"), col("__qs")))
    val table = qsub.join(codebook, Seq("subspace"))
      .select(col("query_id"), col("subspace").as("__ss"),
        col("cent").as("__ct"),
        round(col("__dqq") - dot(col("__qs"), col("cv")) * 2 + col("dcc"),
          roundTo).as("__comp"))
    val scored = codes
      .join(broadcast(table),
        col("subspace") === col("__ss") && col("code") === col("__ct"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id"))
      .agg(Decimals.dsum(col("__comp"), roundTo).as("adc_dist"),
        count(lit(1)).as("__nc"))
      // a neighbor missing (or duplicating) subspace components would
      // silently rank with a truncated distance — fail loudly instead
      // (codes frame and m out of sync, or a corrupted codes re-read)
      .where(OpsUtil.orRaise(col("__nc") === m,
        lit("pqSearchAdc: neighbor aggregated "), col("__nc").cast("string"),
        lit(s" of $m subspace components — codes frame and m disagree")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("adc_dist"), col("__rn").as("rank"))
  }

  /** Deterministic Rademacher sign matrix for [[randomProject]]:
    * `signs(j)(i) = ±1` by the first md5 nibble of "i-j" — the
    * Achlioptas '01 database-friendly Johnson-Lindenstrauss projection
    * (±1 entries preserve pairwise geometry like Gaussian entries do,
    * with no float matrix to ship: any engine regenerates the matrix
    * from the formula). */
  def projectionSigns(dIn: Int, dOut: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dOut).map(j => (0 until dIn).map { i =>
      val h = md.digest(s"$i-$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    })
  }

  /** Johnson-Lindenstrauss random projection: compress each vector to
    * `signs.length` dimensions via `proj_j = dot(v, signs_j)/sqrt(dOut)`
    * — the cheapest embedding-compression lever (no training, unlike
    * [[pqCodebook]]) and the standard pre-filter in front of exact
    * rescoring when even int8 vectors are too wide to shuffle.
    *
    * Scale shape: pure per-row projection — `dOut` codegen'd
    * [[graft.functions.VectorFunctions.dot]] folds against literal sign
    * arrays, no shuffle, no state. Appends `projCol` (array<double>). */
  def randomProject(embeds: DataFrame, vecCol: String,
      signs: Seq[Seq[Double]], projCol: String = "proj"): DataFrame = {
    require(signs.nonEmpty, "signs must be non-empty")
    val scale = math.sqrt(signs.length.toDouble)
    val comps = signs.map { s =>
      dot(col(vecCol), array(s.map(lit): _*)) / lit(scale)
    }
    embeds.withColumn(projCol, array(comps: _*))
  }
}
