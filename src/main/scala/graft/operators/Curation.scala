package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions

/** One-call corpus curation — the composed pass a training-data pipeline
  * runs end to end (each stage is individually oracle-gated as
  * q24/q69/q70; this is the library surface that chains them):
  *
  *   1. exact dedup: one representative (min id) per distinct text;
  *   2. near-dup removal: MinHash signatures → LSH candidate pairs
  *      (optionally mega-bucket-guarded) → connected components → keep
  *      each component's min id;
  *   3. composite quality filter: token count, type-token ratio,
  *      stopword ratio, top-bigram repetition, corpus-relative rare
  *      fraction, thresholded into one keep/drop verdict.
  *
  * Shuffle budget: stage 1 is one hash aggregation; stage 2 is the LSH
  * band equi-join plus the component loop's bounded iterations; stage 3
  * is two doc-id-clustered aggregations and a join. Nothing here
  * collects rows to the driver; every stage's scale posture is
  * documented on the operator it delegates to.
  */
object Curation {

  /** Quality thresholds for [[curate]]'s stage 3 (defaults match q70's
    * oracle-verified panel). */
  final case class QualityThresholds(
      minTokens: Long = 30,
      minTtr: Double = 0.35,
      minStopwordRatio: Double = 0.03,
      maxTopBigramFrac: Double = 0.08,
      maxRareFrac: Double = 0.5)

  /** @param stageStorage storage level for the two intermediate stages.
    *   `exactDeduped` feeds the MinHash chain AND the near-dup anti-join;
    *   `nearDeduped` has four downstream consumers (per-row stats,
    *   repetition signals, rare-token stats, the final semi-join). Left
    *   unpersisted, each consumer would re-execute the whole upstream
    *   dedup — the same re-execution trap q33 measured. The cached blocks
    *   stay live after curate returns (the result is lazy, so they cannot
    *   be unpersisted here); callers running many curations should call
    *   `spark.catalog.clearCache()` between calls, or pass
    *   `StorageLevel.NONE` to opt out. */
  def curate(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 4, shingleSize: Int = 3, rowsPerBand: Int = 2,
      maxBucket: Int = 0,
      thresholds: QualityThresholds = QualityThresholds(),
      stageStorage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    def cached(df: DataFrame): DataFrame =
      if (stageStorage == StorageLevel.NONE) df else df.persist(stageStorage)

    // 1. exact dedup — keep only each distinct text's min-id representative
    val reps = TextDedup.exact(docs, textCol, idCol).select(idCol)
    val exactDeduped = cached(docs.join(reps, Seq(idCol), "left_semi"))

    // 2. near-dup removal over the exact-deduped survivors (running LSH
    // after exact dedup is also what keeps identical-doc mega-buckets
    // from forming in the first place; maxBucket is the belt-and-braces
    // guard for near-identical ones)
    val sigs = TextDedup.minhashSignatures(
      exactDeduped, textCol, idCol, numHashes, shingleSize)
    val pairs = TextDedup.lshCandidatePairs(
      sigs, idCol, numHashes, rowsPerBand, maxBucket)
    val losers = TextDedup.dupClusters(pairs, idCol)
      .filter(col(idCol) =!= col("cluster"))
      .select(idCol)
    val nearDeduped = cached(exactDeduped.join(losers, Seq(idCol), "left_anti"))

    // 3. composite quality filter (the q70 panel)
    val t = thresholds
    val perRow = nearDeduped.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"),
      TextFunctions.typeTokenRatio(col(textCol)).as("__ttr"),
      TextFunctions.stopwordRatio(col(textCol)).as("__sw"))
    val rep = CorpusStats.repetitionSignals(nearDeduped, textCol, idCol)
      .select(col(idCol), col("top_bigram_frac").as("__tbf"))
    val rare = CorpusStats.rareTokenStats(nearDeduped, textCol, idCol)
      .select(col(idCol), col("rare_frac").as("__rf"))
    val keepIds = perRow.join(rep, idCol).join(rare, idCol)
      .filter(col("__nt") >= t.minTokens && col("__ttr") >= t.minTtr &&
        col("__sw") >= t.minStopwordRatio && col("__tbf") < t.maxTopBigramFrac &&
        col("__rf") <= t.maxRareFrac)
      .select(idCol)
    nearDeduped.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Deterministic train/val/test assignment by a salt-free multiplicative
    * hash of the document id: bucket = (id · 2654435761) mod 2³² mod 100
    * (Knuth's 2³²/φ multiplier), split by `trainPct`/`valPct` cut points.
    * Hash-based (not random) assignment is the reproducibility contract a
    * training pipeline needs — the same document lands in the same split
    * on every run, on any engine, with no persisted split table and no
    * RNG-order dependence, and re-ingesting the corpus cannot leak val
    * docs into train. The multiplier decorrelates the bucket from id
    * locality (sequential ids spray across buckets), which plain
    * `id mod 100` would not — crawl ids arrive clustered by source.
    *
    * Envelope: `idCol` must be a non-negative integer < 2³¹ so the
    * product stays inside a signed 64-bit long (documents ingest ids
    * are row numbers in practice; wider ids should pre-hash to 32
    * bits). The envelope is data-dependent so it cannot be a
    * constructor `require`; under this repo's ANSI mode an
    * out-of-envelope id makes the multiply RAISE loudly rather than
    * wrap to a sign-skewed bucket — run with ANSI on (Spark 4 default)
    * or pre-hash. Pure per-row arithmetic — any engine reproduces the
    * assignment exactly, which is what makes the split auditable by an
    * external oracle. */
  def splitAssign(docs: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame =
    docs.withColumn("split", splitFor(col(idCol), trainPct, valPct))

  /** [[splitAssign]]'s column form — the split of a single id expression.
    * Because membership is pure id arithmetic, any operator can compute
    * it in place (e.g. labeling both endpoints of a candidate pair)
    * with no join against an assignment table — that locality is the
    * point of hash-based splits. */
  def splitFor(id: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      s"train+val must leave room for test: $trainPct+$valPct")
    val bucket = (id.cast("long") * lit(2654435761L)) %
      lit(4294967296L) % lit(100L)
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Deterministic weighted sample without replacement
    * (Efraimidis–Spirakis A-ES, Inf. Proc. Lett. 97(5)): each row draws
    * priority u^(1/w) from a uniform u and its weight w, and the top-n
    * priorities ARE a weighted sample without replacement. The uniform
    * comes from the same Knuth multiplicative hash as [[splitFor]], so
    * the "random" draw is pure id arithmetic: re-runs, retries, and the
    * DuckDB oracle all select the identical sample — the property that
    * makes a sampled corpus reproducible from its recipe.
    *
    * Token-budget selection is the canonical use: w = token count
    * samples documents proportional to their token mass, the standard
    * first step of budgeted corpus assembly.
    *
    * Scale shape: priority is a per-row projection (no shuffle), and
    * top-n is `TakeOrderedAndProject` — per-partition heaps of n rows,
    * one n-row merge on the driver side of the final stage; nothing
    * global is sorted. Output order is (rounded priority desc, id asc):
    * rounding to 6 dp absorbs cross-engine pow() ulp drift and the id
    * breaks the rounded ties deterministically. */
  def weightedSample(df: DataFrame, idCol: Column, weight: Column,
      n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive: $n")
    val u = ((idCol.cast("long") * lit(2654435761L)) % lit(4294967296L) +
      lit(0.5)) / lit(4294967296.0)
    val pri = round(pow(u, lit(1.0) / weight.cast("double")), 6)
    df.select(idCol.as("doc_id"), weight.cast("long").as("weight"),
        pri.as("priority"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(n)
  }

  /** Deterministic negative sampling for pairwise training (word2vec /
    * two-tower recommender contrastive negatives): for every user in
    * `positives`, draw `k` pseudo-random item candidates from the item
    * domain by hashing (user, draw-index), then anti-join the user's
    * positives away — the standard "sampled uniform negatives minus
    * observed positives" construction, reproducible across runs and
    * engines because the randomness is md5 of the pair, not an RNG.
    *
    * `items` must carry dense `0..n-1` keys in `itemCol` (the hash maps
    * onto `[0, n)`); the inner join back to `items` drops any candidate
    * outside the real domain rather than fabricating an item. A
    * candidate that collides with a positive is dropped, not redrawn, so
    * users with many positives yield slightly fewer than `k` negatives —
    * the documented tradeoff that keeps the op one pass (a redraw loop
    * is iterative by construction). Duplicate draws of the same item
    * keep the smallest draw index.
    *
    * Output: `(userCol, neg_<itemCol>, sample_idx)`.
    *
    * Scale shape: candidates are |users|·k rows built by a shuffle-free
    * explode; the item-domain join broadcasts (item dims are small), the
    * 1-row domain count is a broadcast cross-join, and the positives
    * anti-join is one hash shuffle on (user, item) — never wider than
    * the candidate set. Nothing is quadratic in users x items. */
  def negativeSample(positives: DataFrame, userCol: String, itemCol: String,
      items: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val negCol = s"neg_$itemCol"
    // positives feeds BOTH the user universe and the anti-join — but do
    // NOT persist it: both consumers sit above the same distinct
    // exchange, which ReuseExchange already dedupes, and a persist here
    // measured consistently SLOWER in both orderings of a same-JVM A/B
    // at sf0.1 (2.0 s vs 1.0-1.4 s min) — materialization cost with no
    // recompute saved.
    val pos = positives.select(col(userCol), col(itemCol))
    val nItems = items.agg(count(lit(1)).as("__ni"))
    val cands = pos.select(col(userCol)).distinct()
      .crossJoin(broadcast(nItems))
      .select(col(userCol), explode(sequence(lit(0), lit(k - 1))).as("__j"),
        col("__ni"))
      .withColumn(negCol, pmod(
        conv(substring(md5(concat(col(userCol).cast("string"), lit("-"),
          col("__j").cast("string"))), 1, 8), 16, 10).cast("long"),
        col("__ni")))
    cands
      .join(broadcast(items.select(col(itemCol).as(negCol))), negCol)
      .join(pos.select(col(userCol), col(itemCol).as(negCol)).distinct(),
        Seq(userCol, negCol), "left_anti")
      .groupBy(col(userCol), col(negCol))
      .agg(min(col("__j")).cast("int").as("sample_idx"))
  }

  /** Per-source quota capping: keep at most `cap` rows per group, chosen
    * by priority — the corpus-assembly primitive that stops one crawl
    * from drowning the mixture (a FRACTION-based mix like
    * [[domainMixture]] cannot express "no more than N docs of X").
    * Returns `(idCol, groupCol, rank)` for kept rows; rank is the
    * 1-based position within the group under (priority DESC, id ASC).
    *
    * Scale shape: one hash shuffle on the group key; the rank<=cap
    * filter compiles to WindowGroupLimit, so each task keeps a cap-sized
    * heap per group instead of materializing full group sorts. */
  def groupQuota(df: DataFrame, idCol: Column, groupCol: Column,
      priority: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import org.apache.spark.sql.expressions.Window
    df.select(idCol.as("id"), groupCol.as("group"), priority.as("__p"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("group"))
          .orderBy(col("__p").desc, col("id").asc)))
      .filter(col("rank") <= cap)
      .select(col("id"), col("group"), col("rank"))
  }

  /** Cross-group quantile normalization: replace each row's value with
    * the POOLED distribution's value at the row's within-group relative
    * rank — the batch-effect correction that makes per-source quality
    * scores comparable before one global threshold (a score of "0.8"
    * from a lenient scorer and a strict scorer land at the same
    * percentile-matched value). Midpoint ranks `(2r-1)/(2n)` keep the
    * mapping inside the observed pooled range.
    *
    * Output: `(idCol, groupCol, valueCol, norm_val)`.
    *
    * Scale shape: the WITHIN-group rank is an ordinary window — its
    * parallelism floor is |groups|, and quantile normalization's
    * groups are the normalization strata (sources / domains /
    * scorers: thousands at corpus scale, never 3), so the window
    * parallelizes naturally AND computes the group size in the same
    * pass (round-11 A/B vs the range-partitioned machinery: 0.75 s vs
    * 1.2 s at sf0.1 — the machinery's extra range-sample + count-
    * collect rounds buy nothing when |groups| ≥ cores). The POOLED
    * rank is one group by construction, exactly the case that needs
    * [[Relational.groupedRowNumber]]'s range-partitioned order
    * statistics (a single-partition window would serialize the
    * corpus). The percentile lookup is an equi-join on the computed
    * pooled rank — one hash shuffle against the N-row sorted-value
    * frame, never a range join. The many-groups assumption is
    * ENFORCED, not assumed: `maxGroupRows` fail-fasts (via a cheap
    * hash-agg pre-count) when any single group exceeds it, because one
    * oversized group serializes its whole row set into a single window
    * task — the caller should pre-bucket or raise the cap knowingly.
    * (Behavior note: the guard was added in round 12; callers with a
    * legitimately huge group must now pass `maxGroupRows` explicitly.
    * Round 13: the pre-count became a 2-value driver read — max group
    * size for the guard, total N for the midpoint-rank scale — so the
    * previous TWO crossJoin(broadcast(...)) legs, each replaying the
    * full value computation, are gone from the plan.) */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, maxGroupRows: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxGroupRows > 0, "maxGroupRows must be positive")
    val v = df.select(col(idCol), col(groupCol),
        col(valueCol).cast("double").as(valueCol))
      .filter(col(valueCol).isNotNull)
    // the guard stays a TRUE pre-check (it must fire before the window
    // job buffers a mega-group into one task), but as a 1-row driver
    // value instead of the previous crossJoin(broadcast(max)) leg —
    // that leg replayed the whole value computation (e.g. tokenCount
    // over every doc) a second time inside the plan; the pre-count job
    // runs the same cheap hash agg once and collects bounded metadata
    val pre = v.groupBy(col(groupCol)).agg(count(lit(1)).as("__gn"))
      .agg(coalesce(max(col("__gn")), lit(0L)).as("__mx"),
        coalesce(sum(col("__gn")), lit(0L)).as("__n"))
      .collect()(0)
    val mx = pre.getLong(0)
    val nTotal = pre.getLong(1)
    require(mx <= maxGroupRows,
      s"quantileNormalize: largest group has $mx rows (> maxGroupRows=" +
        s"$maxGroupRows); one group would serialize into a single " +
        "window task — pre-bucket the group or raise maxGroupRows")
    val wg = Window.partitionBy(col(groupCol))
    val ranked = v
      .withColumn("__rn", row_number().over(
        wg.orderBy(col(valueCol).asc, col(idCol).asc)))
      .withColumn("__ng", count(lit(1)).over(wg))
    val pooled = Relational.groupedRowNumber(
        v.withColumn("__g", lit(0)), Seq("__g"),
        Seq(col(valueCol).asc, col(idCol).asc), "__grn")
      .select(col("__grn"), col(valueCol).as("norm_val"))
    ranked
      .withColumn("__tr", ceil(
        (lit(2) * col("__rn") - lit(1)).cast("double") /
          (lit(2.0) * col("__ng")) * lit(nTotal)).cast("long"))
      .join(pooled, col("__tr") === col("__grn"))
      .select(col(idCol), col(groupCol), col(valueCol), col("norm_val"))
  }

  /** Temporal train/holdout split at an exact-rank global time cutoff,
    * with the audit a forecasting/recsys pipeline checks before training:
    * the first `trainFrac` of events BY TIME become train, the rest test
    * (a hash split like [[splitAssign]] leaks the future into training —
    * time-ordered data must split on the clock). The cutoff is the
    * timestamp at rank `ceil(trainFrac·n)`, so the boundary is a real
    * observed instant and re-runs reproduce it exactly; ties at the
    * cutoff value all land in train (`<=`).
    *
    * Output (one row per split): `split, n_events, n_entities, first_ts,
    * last_ts, n_cold_entities` — cold = entities that appear ONLY in
    * test, the cold-start population whose metrics a temporal evaluation
    * must report separately.
    *
    * Scale shape (round-13 rework): the cutoff is
    * [[Relational.valueAtRankOf]]'s two-job exact order statistic — the
    * previous shape materialized a rank COLUMN over every row
    * ([[Relational.groupedRowNumber]]) and then re-played the whole
    * range shuffle once more inside the cutoff aggregation's broadcast
    * leg; extracting the one row the cutoff needs deletes both. The
    * cutoff then enters the per-row pass as a LITERAL (driver value, 1
    * row — bounded metadata), and the audit is ONE entity-keyed
    * aggregation carrying train/test presence flags (per-split entity
    * counts and the cold-start count fall out of the same pass) plus
    * one split-keyed event aggregation — replacing two distincts and an
    * anti-join with a single shuffle on the entity key. */
  def temporalSplit(events: DataFrame, entityCol: String, tsCol: String,
      trainFrac: Double): DataFrame = {
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"need 0 < trainFrac < 1: $trainFrac")
    val e = events.select(col(entityCol).as("__u"), col(tsCol).as("__ts"))
      .filter(col("__ts").isNotNull)
    // rank-k timestamp at k = ceil(trainFrac·n), with n taken FROM the
    // order statistic's own counting pass (valueAtRankOf — no dedicated
    // count scan of the input); ties at the cutoff VALUE all land in
    // train via `<=` (the tie order inside equal timestamps cannot
    // change the value at sorted position k)
    val cut: Column =
      Relational.valueAtRankOf(e.select(col("__ts")),
          Seq(col("__ts").asc))(n => math.ceil(n * trainFrac).toLong) match {
        case Some((row, _)) => lit(row.get(0))
        case None => lit(null).cast(e.schema("__ts").dataType)
      }
    val assigned = e.withColumn("split",
      when(col("__ts") <= cut, lit("train")).otherwise(lit("test")))
    val perSplit = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__ts")).as("first_ts"), max(col("__ts")).as("last_ts"))
    // one pass over entities: presence flags give per-split entity
    // counts AND the cold-start population (test-only entities)
    val entFlags = assigned.groupBy(col("__u"))
      .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("__ht"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("__hs"))
    // NULL-entity parity with the previous distinct/anti-join shape:
    // countDistinct skipped NULL entities (so they count toward NO
    // split's n_entities), while the anti-join never matched a NULL
    // key (so a NULL entity seen in test was ALWAYS cold, train
    // presence or not)
    val inCount = (flag: Column) =>
      when(col("__u").isNotNull, flag).otherwise(lit(0L))
    val entStats = entFlags.select(
      explode(array(
        struct(lit("train").as("split"), inCount(col("__ht")).as("__in"),
          lit(0L).as("__cold")),
        struct(lit("test").as("split"), inCount(col("__hs")).as("__in"),
          when(col("__hs") === 1L &&
              (col("__ht") === 0L || col("__u").isNull), 1L)
            .otherwise(0L).as("__cold")))).as("__x"))
      .groupBy(col("__x.split").as("split"))
      .agg(sum(col("__x.__in")).as("n_entities"),
        sum(col("__x.__cold")).as("__nc"))
      .withColumn("n_cold_entities",
        when(col("split") === "test", col("__nc")).otherwise(lit(0L)))
    perSplit.join(broadcast(entStats), Seq("split"), "left")
      .na.fill(0L, Seq("n_cold_entities"))
      .select(col("split"), col("n_events"), col("n_entities"),
        col("first_ts"), col("last_ts"), col("n_cold_entities"))
  }

  /** DSIR — Data Selection with Importance Resampling (Xie et al.,
    * NeurIPS 2023): pick the `k` pool documents whose hashed-n-gram
    * distribution looks most like a small TARGET corpus, via importance
    * weights on a bucketed bag-of-n-grams model plus Gumbel top-k
    * sampling (the paper's resampling step — Gumbel noise on the log
    * weights draws WITHOUT replacement proportionally to the weights,
    * instead of greedily taking the top weights, which would collapse
    * onto near-duplicates of the target).
    *
    * Model: features are unigrams + bigrams hashed into `numBuckets`
    * buckets (md5's first 8 hex digits mod B — engine-portable, unlike
    * murmur3). Both distributions get add-`smoothing` Laplace mass, so
    * buckets unseen in the target don't −∞ the weight:
    * `lr(b) = ln((ct(b)+a)/(Nt+aB)) − ln((cs(b)+a)/(Ns+aB))`, and a
    * document's log weight is the sum of `lr` over its gram
    * OCCURRENCES (the paper's unigram-model likelihood ratio). The
    * Gumbel key derives from md5(id) — `u = (h13 + 0.5)/2^52` over the
    * first 13 hex digits (exact in double, the KMV convention), key =
    * `logw + (−ln(−ln(u)))`, rounded to 6 dp with the id breaking
    * rounded ties (the [[weightedSample]] determinism discipline;
    * per-gram ln sums carry IEEE fold noise well below 1e-6).
    *
    * Short-document convention mirrors `tokenShingled`: the bigram
    * index grid is `1..max(len−1, 1)`, so a 1-token document
    * contributes its token once to each feature family (slices clamp
    * in both engines).
    *
    * Output: top-`k` rows `(idCol, n_grams, log_weight, select_key)`
    * ordered by (select_key desc, id).
    *
    * Scale shape: one explode per side (unigrams and bigrams leave as
    * ONE concatenated array), bucket aggregations are bounded by
    * `numBuckets` rows, the bucket-stats table re-enters as a
    * BROADCAST (≤ numBuckets rows by construction — never a shuffle
    * join against the corpus grams), the per-doc aggregation is one
    * hash shuffle on the id, and the final cut is
    * TakeOrderedAndProject. Nothing driver-side, nothing quadratic;
    * the target side is small by the method's premise but nothing
    * breaks if it isn't (its aggregate is still ≤ numBuckets rows). */
  def dsirResample(pool: DataFrame, target: DataFrame, textCol: String,
      idCol: String, k: Int, numBuckets: Int = 1024,
      smoothing: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(numBuckets >= 2, s"numBuckets must be >= 2: $numBuckets")
    require(smoothing > 0, s"smoothing must be > 0: $smoothing")
    def grams(df: DataFrame): DataFrame = {
      val t = TextFunctions.tokens(col(textCol))
      val bi = transform(sequence(lit(1), greatest(size(t) - 1, lit(1))),
        i => concat_ws(" ", slice(t, i, lit(2))))
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("__id"), explode(concat(t, bi)).as("__g"))
        .select(col("__id"), pmod(
          conv(substring(md5(col("__g")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong)).as("__b"))
    }
    // PERSISTED, not merely shared (the bigramNll discipline): the pool
    // gram frame feeds two aggregations with different shuffle keys
    // (bucket counts and the per-doc weight sum), so no exchange is
    // reusable between them — without the cache the md5-heavy explode
    // runs twice over the whole pool (A/B at sf0.1: 4.4 s → 2.6 s).
    // The cached frame is two longs per gram occurrence. Caller
    // contract as [[curate]]: clearCache between unrelated runs.
    val poolG = grams(pool).persist()
    val cs = poolG.groupBy(col("__b")).agg(count(lit(1)).as("__cs"))
    val ct = grams(target).groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val stats = cs.join(ct, Seq("__b"), "full_outer")
      .select(col("__b"), coalesce(col("__cs"), lit(0L)).as("__cs"),
        coalesce(col("__ct"), lit(0L)).as("__ct"))
    val totals = stats.agg(sum(col("__cs")).as("__ns"),
      sum(col("__ct")).as("__nt"))
    val aB = smoothing * numBuckets
    val lr = stats.crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((col("__ct").cast("double") + lit(smoothing)) /
            (col("__nt").cast("double") + lit(aB))) -
          log((col("__cs").cast("double") + lit(smoothing)) /
            (col("__ns").cast("double") + lit(aB)))).as("__lr"))
    val perDoc = poolG.join(broadcast(lr), Seq("__b"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__lr")).as("__lw"))
    val h13 = conv(substring(md5(col("__id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (h13.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    perDoc
      .select(col("__id").as(idCol), col("n_grams"),
        round(col("__lw"), 6).as("log_weight"),
        round(col("__lw") - log(-log(u)), 6).as("select_key"))
      .orderBy(col("select_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Iterative-proportional-fitting (raking) weights over a two-way
    * contingency grid (Deming & Stephan 1940): rescale the cell
    * masses so BOTH margins match their targets, alternating row- and
    * column-normalization for `iterations` rounds. The
    * post-stratification correction a pipeline applies when the
    * sampled composition drifted from a reference composition —
    * reweight, don't resample.
    *
    * Input: `cells` is an already-AGGREGATED (rowKey, colKey, n)
    * frame; `rowTargets`/`colTargets` carry one `target` per margin
    * key (same mass scale as Σn — callers scale a reference period's
    * margins to the observed total). Cells whose margin lacks a
    * target row are dropped (an unmatchable stratum is a data bug to
    * surface upstream, not a weight of 1).
    *
    * Determinism: masses start at the exact integer counts; each
    * scaling multiplies by `target/marginSum` — a fixed IEEE op
    * sequence; margin-sum fold order only perturbs ulps, which the
    * round(,6) output absorbs (the shared convention). A zero margin
    * sum nulls that margin's cells (no mass to move), and a NULL mass
    * stays NULL through later rounds.
    *
    * Returns per cell `(row_key, col_key, n, weight, mass)` with
    * `mass` = the raked cell mass and `weight` = mass/n.
    *
    * Scale shape: the grid is |rows|×|cols| by CONSTRUCTION (raking
    * runs over marginal strata — event types, sources, demographic
    * bins), so the IPF fixpoint itself runs on the DRIVER over the
    * collected grid, gated by `maxCells` (the d×d-covariance
    * precedent: a bounded, counted collect is the right shape for an
    * inherently-global fixpoint on a tiny frame). The round-11
    * distributed form unrolled 2 joins + 2 aggs per iteration into
    * one lineage — ~1.1 s of pure plan-compile mass on a 10-cell grid
    * (the round-11 verdict's cheapest remaining constant); the margin
    * aggregations feeding `cells`/targets stay distributed in the
    * caller, so raw rows never reach the driver. */
  def rakeWeights(cells: DataFrame, rowTargets: DataFrame,
      colTargets: DataFrame, iterations: Int = 2,
      maxCells: Int = 100000): DataFrame = {
    require(iterations >= 1 && iterations <= 8,
      s"iterations must be in [1, 8]: $iterations")
    require(maxCells >= 1, s"maxCells must be positive: $maxCells")
    val base = cells
      .select(col("row_key"), col("col_key"),
        col("n").cast("long").as("n"))
      .filter(col("row_key").isNotNull && col("col_key").isNotNull &&
        col("n").isNotNull)
      .join(rowTargets.select(col("row_key"),
        col("target").cast("double").as("__tr")), Seq("row_key"))
      .join(colTargets.select(col("col_key"),
        col("target").cast("double").as("__tc")), Seq("col_key"))
      .select(col("row_key"), col("col_key"), col("n"),
        col("__tr"), col("__tc"))
    val grid = base.limit(maxCells + 1).collect()
    require(grid.length <= maxCells,
      s"rakeWeights: cell grid exceeds maxCells=$maxCells — raking is " +
        "defined over bounded marginal strata; aggregate the grid " +
        "coarser or raise maxCells")
    // driver-local IPF, replicating the distributed form's semantics:
    // sum skips NULLs; when(sum > 0, m * (t / sum)) else NULL. A NULL
    // target (possible — targets are only cast, not null-filtered)
    // propagates NULL into the cell mass, exactly as the distributed
    // form's `m * (NULL / s)` did, instead of NPE-ing on getDouble.
    final case class C(rk: Any, ck: Any, n: Long, tr: Option[Double],
      tc: Option[Double], m: Option[Double])
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    var cs = grid.toSeq.map(r =>
      C(r.get(0), r.get(1), r.getLong(2), optD(r, 3), optD(r, 4),
        Some(r.getLong(2).toDouble)))
    def pass(key: C => Any, t: C => Option[Double]): Unit = {
      val sums = cs.groupBy(key).map { case (g, xs) =>
        g -> xs.flatMap(_.m).foldLeft(0.0)(_ + _) }
      cs = cs.map { c =>
        val s = sums(key(c))
        c.copy(m =
          if (s > 0.0) for (mv <- c.m; tv <- t(c)) yield mv * (tv / s)
          else None)
      }
    }
    (1 to iterations).foreach { _ => pass(_.rk, _.tr); pass(_.ck, _.tc) }
    def r6(x: Double): java.lang.Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = cs.map { c =>
      org.apache.spark.sql.Row(c.rk, c.ck, c.n,
        c.m.filter(_ => c.n > 0).map(m => r6(m / c.n.toDouble)).orNull,
        c.m.map(r6).orNull)
    }
    val s = cells.sparkSession
    val bs = base.schema
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        bs("row_key"), bs("col_key"),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("mass",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }
}
