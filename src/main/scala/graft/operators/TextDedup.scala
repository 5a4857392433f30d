package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document-deduplication operators (north-star scope): exact,
  * MinHash+LSH near-dup, and n-gram Jaccard verification — the standard
  * web-scale training-data dedup stack (cf. the MinHash/LSH construction
  * in Broder '97 and its use in large LM corpus curation).
  *
  * Scale shape: signatures are one narrow shuffle-free projection per
  * document; candidate generation is an equi-join on band keys (hash
  * shuffle on a short string key, heavily reducible by AQE); only
  * candidate *pairs* — a vanishing fraction of n² — pay the Jaccard
  * verification cost.
  */
object TextDedup {

  /** Exact dedup: one representative (min id) per distinct text. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature: `numHashes` independent min-hashes
    * over token `shingleSize`-gram shingles. Output columns: idCol,
    * sig_0..sig_{k-1}.
    *
    * Cost shape (this is the hot loop of corpus dedup): the token array
    * and the per-shingle md5 array are materialized ONCE per row as real
    * columns — putting `split`/`slice` inside a higher-order-function
    * lambda re-evaluates them per element (O(tokens²) characters per
    * document), and hashing per (seed × shingle) pays `numHashes` md5s
    * where one suffices. Instead each shingle is md5'd once and the k
    * components take disjoint `32/k`-hex-char slices of that digest —
    * independent uniform hashes, still reproducible in any SQL oracle
    * (`substring(md5(x), 1+8k, 8)`). */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    require(numHashes > 0 && 32 % numHashes == 0 && numHashes <= 8,
      s"numHashes must divide 32 hex chars: $numHashes")
    val width = 32 / numHashes
    val toks = tokens(col(textCol))
    docs
      .withColumn("__toks", toks)
      .withColumn("__sh_md5", transform(
        sequence(lit(1), greatest(size(col("__toks")) - (shingleSize - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(shingleSize))))))
      .select(col(idCol) +: (0 until numHashes).map { k =>
        array_min(transform(col("__sh_md5"),
          h => substring(h, 1 + k * width, width))).as(s"sig_$k")
      }: _*)
  }

  /** The LSH band keys of a signature frame: band `b` hashes its
    * `rowsPerBand` signature components with a band-index prefix, so two
    * documents collide iff they agree on a full band. */
  private def bandKeyExprs(numHashes: Int, rowsPerBand: Int) =
    (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"sig_$i"))
      md5(concat_ws("|", lit(b.toString) +: cols: _*))
    }

  /** Banded LSH index over a corpus: the narrow `(idCol, band)` frame.
    * Build once over the standing corpus, persist (or write as a bucketed
    * table on `band`), and dedup every future ingest batch against it
    * with [[incrementalCandidates]] — the batch never re-signatures the
    * corpus. Same build/search split philosophy as
    * [[Similarity.buildIvfIndex]]. */
  def buildBandIndex(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleSize: Int, rowsPerBand: Int): DataFrame =
    minhashSignatures(docs, textCol, idCol, numHashes, shingleSize)
      .select(col(idCol),
        explode(array(bandKeyExprs(numHashes, rowsPerBand): _*)).as("band"))

  /** Incremental ingest dedup: near-dup candidates between a NEW batch
    * and a prebuilt [[buildBandIndex]] corpus index. Only the batch is
    * signatured (the daily cost is proportional to the day's data, not
    * the corpus); the join is a band equi-join — batch-side bands are
    * tiny and broadcast, so the standing index never shuffles. Returns
    * distinct `(idCol_new, idCol_corpus)`; anti-join the batch on
    * `idCol_new` to admit only novel documents.
    *
    * When a backfill batch outgrows broadcast range, pass
    * `broadcastBatch = false` AND store the index as a table bucketed on
    * `band` (`index.write.bucketBy(n, "band").sortBy("band")
    * .saveAsTable(...)`): the shuffled equi-join then exchanges ONLY the
    * batch side — the bucketed index scan already satisfies the join's
    * required distribution, so the corpus side stays shuffle-free on
    * every reload (TextDedupSpec asserts no Exchange above the bucketed
    * scan). That is the 100 TB deployment shape: the index is written
    * once, bucket-aligned, and every future ingest joins against it at
    * batch-sized cost. */
  def incrementalCandidates(newDocs: DataFrame, index: DataFrame,
      textCol: String, idCol: String, numHashes: Int, shingleSize: Int,
      rowsPerBand: Int, broadcastBatch: Boolean = true): DataFrame = {
    val newBanded = minhashSignatures(newDocs, textCol, idCol, numHashes, shingleSize)
      .select(col(idCol).as("__new_id"),
        explode(array(bandKeyExprs(numHashes, rowsPerBand): _*)).as("band"))
    index.join(if (broadcastBatch) broadcast(newBanded) else newBanded, "band")
      .filter(col("__new_id") =!= col(idCol))
      .select(col("__new_id").as(s"${idCol}_new"), col(idCol).as(s"${idCol}_corpus"))
      .distinct()
  }

  /** LSH banding over a signature frame: each band of `rowsPerBand`
    * signature components hashes to a bucket key; documents sharing any
    * band bucket become a candidate pair. Returns distinct (idCol_a,
    * idCol_b) with a < b.
    *
    * `maxBucket` (0 = off) guards the mega-bucket blow-up: a bucket of k
    * documents yields k(k-1)/2 pairs, and a corpus with thousands of
    * byte-identical boilerplate pages (the common case at 100 TB — run
    * exact dedup first, but belt and braces) turns one bucket into a
    * quadratic join output. Buckets wider than `maxBucket` degrade to
    * the STAR (min-id anchor, id_j) — O(k) pairs, diameter 2, so the
    * downstream [[dupClusters]] connected-components step still merges
    * the whole bucket into one cluster in one propagation round; only
    * the direct pair list (and hence per-pair Jaccard verification
    * coverage) is thinned, which is the right trade in a bucket that
    * wide: its members are near-certainly mutual duplicates. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int, maxBucket: Int = 0): DataFrame = {
    val bandKeys = bandKeyExprs(numHashes, rowsPerBand)
    // ONE pass over the corpus: all band keys are computed in a single
    // projection and exploded — not one union branch (= one full
    // signature recomputation) per band.
    val banded = sigs
      .select(col(idCol), explode(array(bandKeys: _*)).as("band"))
    val pairs =
      if (maxBucket <= 0) {
        // Unguarded all-pairs: a streaming self-join on the band key.
        // The (id, band) frame is 2 narrow columns; persisting it means
        // the self-join's two aliases read the materialized rows instead
        // of re-deriving the signature DAG (md5 over every shingle ×
        // numHashes seeds) once per alias. At 100 TB the equivalent is a
        // temp-table write; in-memory persist of the narrow frame is the
        // single-job form of the same plan. The join streams: a wide
        // bucket's w² pairs are produced row-at-a-time, never held.
        val b = banded.persist()
        val a = b.alias("a")
        val bb = b.alias("b")
        a.join(bb, col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
      } else {
        // Guarded path: ONE aggregation over the banded frame collects
        // each bucket's sorted membership, and BOTH outputs — all i<j
        // combination pairs for buckets at/under the cap, the min-anchored
        // star for oversized buckets — are generated from that single
        // |buckets|-row frame with array expressions. The round-5 shape
        // persisted `banded` and scanned it three times (a sizing
        // aggregation, a broadcast star join, a broadcast-anti self-join)
        // plus a union; measured at sf0.1 the extra stages dominated
        // (0.94 s vs 0.34 s oracle). This shape is one shuffle (the
        // groupBy), one Generate, one distinct — no persist, no
        // broadcasts, no self-join.
        //
        // Memory envelope: the collected array is O(bucket width) per
        // group — the same order as the star rows the guard emits, and
        // linear where the blow-up the guard prevents is quadratic. A
        // bucket too wide for one task's memory (hundreds of millions of
        // members) needs the banded-index path ([[incrementalCandidates]])
        // instead; below that, ObjectHashAggregate falls back to
        // sort-based aggregation and spills between groups.
        //
        // sort_array gives ascending ids, so combinations (i<j) and the
        // anchor star (ids[0] < every other member) both preserve the
        // a < b pair convention without a post-filter.
        val ids = col("__ids")
        val combos = flatten(transform(ids, (x, i) =>
          transform(slice(ids, i + lit(2), size(ids)),
            y => struct(x.as("a"), y.as("b")))))
        val star = transform(slice(ids, lit(2), size(ids) - 1),
          y => struct(element_at(ids, 1).as("a"), y.as("b")))
        banded.groupBy(col("band"))
          .agg(sort_array(collect_list(col(idCol))).as("__ids"))
          .select(explode(when(size(ids) <= maxBucket, combos).otherwise(star)).as("__p"))
          .select(col("__p.a").as(s"${idCol}_a"), col("__p.b").as(s"${idCol}_b"))
      }
    pairs.distinct()
  }

  /** One row per (kept columns..., distinct token shingle) — the shared
    * explode of [[contaminatedIds]] / [[contaminatedIdsBloom]]. */
  private def tokenShingled(df: DataFrame, textCol: String,
      keep: Seq[org.apache.spark.sql.Column], shingleSize: Int): DataFrame = df
    .withColumn("__toks", tokens(col(textCol)))
    .select(keep :+ explode(array_distinct(transform(
      sequence(lit(1), greatest(size(col("__toks")) - (shingleSize - 1), lit(1))),
      i => concat_ws(" ", slice(col("__toks"), i, lit(shingleSize)))))).as("__g"): _*)

  /** Default byte cap for [[guardEvalBroadcast]] — overridable per call
    * (round-18 ADVICE: the hard-coded private val had no parameter, so a
    * large-raw-gram workload hit a cap the failure message could not
    * lift). */
  private val defaultMaxEvalBytes: Long = 512L * 1024 * 1024

  /** Counted fail-fast on an eval-side distinct gram set BEFORE it
    * enters a `broadcast()`: the decontamination family's premise is
    * "benchmarks are MBs while corpora are TBs", but nothing used to
    * enforce it — an oversized eval set OOMed the driver mid-broadcast
    * instead of failing fast. The guard is the repo's orRaise
    * discipline: a cheap count aggregate of the gram frame (no
    * broadcast, executes before any row of the big collect
    * materializes) gates the first evaluated row, so the job dies with
    * a named limit + the Bloom-path pointer rather than a driver OOM.
    * Cost when the guard passes: one extra aggregate over the
    * MBs-sized eval grams — noise.
    *
    * The cap is SIZE-aware, not just count-aware: gram payloads range
    * from fixed 32-char md5 digests to raw k-token strings of
    * unbounded width (the round-16 contaminatedSpans shave swapped
    * md5 → raw), so a set inside the count cap can still be several
    * times the bytes the count was sized for. The same aggregate also
    * sums `octet_length` and gates on `maxEvalBytes` (default 512 MiB
    * ≈ the headroom 10M 32-char digests plus overhead were budgeted
    * at), so the raw-key path keeps the driver-OOM headroom the guard
    * exists to provide. */
  private def guardEvalBroadcast(evalGrams0: DataFrame, gramCol: String,
      maxEvalGrams: Long, op: String,
      maxEvalBytes: Long = defaultMaxEvalBytes): DataFrame = {
    require(maxEvalGrams > 0, "maxEvalGrams must be positive")
    require(maxEvalBytes > 0, "maxEvalBytes must be positive")
    // persist: the gram frame feeds both the count and the broadcast
    // build — without the cache the guard re-tokenizes the eval corpus
    // (small by contract, but the extra explode showed up as ~0.15 s on
    // q256). Caller contract as [[contaminatedIdsBloom]]: clearCache
    // between unrelated runs.
    val evalGrams = evalGrams0.persist()
    evalGrams
      .crossJoin(broadcast(evalGrams
        .agg(count(lit(1)).as("__ne"),
          coalesce(sum(octet_length(col(gramCol))), lit(0L)).as("__nb"))))
      .where(OpsUtil.orRaise(
        col("__ne") <= maxEvalGrams && col("__nb") <= maxEvalBytes,
        lit(s"$op: eval set has "), col("__ne"),
        lit(" distinct grams / "), col("__nb"),
        lit(s" bytes (caps: maxEvalGrams=$maxEvalGrams, " +
          s"maxEvalBytes=$maxEvalBytes); broadcasting it would " +
          "overwhelm the driver — use the Bloom pre-filter regime " +
          "(contaminatedIdsBloom), or raise whichever cap tripped " +
          "(maxEvalGrams for the count, maxEvalBytes for the payload)")))
      .select(col(gramCol))
  }

  /** Eval-set decontamination — the benchmark-overlap gate a training
    * corpus runs before release (cf. the n-gram-overlap decontamination
    * appendices of the GPT-3 and Pile papers): a train document is
    * contaminated when at least `minOverlap` of its DISTINCT token
    * `shingleSize`-gram shingles also occur anywhere in the eval corpus.
    * Returns `(idCol, n_overlap)` for contaminated documents only;
    * anti-join the result against the corpus to scrub.
    *
    * Scale shape: benchmarks are MBs while corpora are TBs, so the eval
    * side collapses to a DISTINCT shingle set and broadcasts — the train
    * side's exploded (id, shingle) frame never shuffles; the only
    * exchange is the per-document count aggregation, and map-side
    * partial counts collapse it to |contaminated docs| rows. If the eval
    * set ever outgrows broadcast range, the same plan degrades to a
    * shuffled equi-join on the shingle string — still never quadratic. */
  def contaminatedIds(train: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, shingleSize: Int,
      minOverlap: Long = 1L, maxEvalGrams: Long = 10000000L,
      maxEvalBytes: Long = defaultMaxEvalBytes): DataFrame = {
    val evalShingles = guardEvalBroadcast(
      tokenShingled(evalSet, textCol, Seq.empty, shingleSize).distinct(),
      "__g", maxEvalGrams, "contaminatedIds", maxEvalBytes)
    tokenShingled(train, textCol, Seq(col(idCol)), shingleSize)
      .join(broadcast(evalShingles), "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** [[contaminatedIds]]'s Bloom-prefiltered form — the SAME answer (the
    * sketch is a pre-filter, not an approximation: every survivor is
    * exact-verified by the equi-join), built for the regime where the
    * eval shingle set outgrows comfortable broadcast range. A Bloom
    * filter at ~10 bits/element (<1 % false positives) is 25-50× smaller
    * than the broadcast hash relation of the distinct shingle strings,
    * so the map-side probe drops ~all clean train shingles before the
    * shuffled exact join — which then exchanges only (contaminated ∪
    * false-positive) rows instead of every train shingle.
    *
    * Build and probe use Spark's OWN runtime-filter expressions
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, built as
    * Columns through `ColumnBridge`, so they need no session extension):
    * the probe is codegen'd and the sketch layout is the engine's. Like
    * the engine's runtime filter — whose injected scalar subquery
    * materializes at the driver before broadcast — the one-row sketch
    * (numBits/8 bytes, bounded by the `maxNumBits` conf) is collected
    * eagerly and re-enters the plan as a foldable literal
    * (`BloomFilterMightContain` requires a constant or scalar-subquery
    * filter operand). The exact-verify join
    * deliberately does NOT broadcast: at eval sizes where this operator
    * is the right choice the exact set is too big for that; AQE still
    * broadcasts it at small scale. */
  def contaminatedIdsBloom(train: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, shingleSize: Int,
      minOverlap: Long = 1L, expectedEvalShingles: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    require(expectedEvalShingles > 0, "expectedEvalShingles must be positive")
    val numBits = math.max(64L, expectedEvalShingles * 10L)
    // The eval shingle set has two consumers (sketch build, exact-verify
    // join) and the sketch build runs eagerly, so persist — eval sets are
    // MBs by the operator's premise, and without this the second consumer
    // re-tokenizes the eval corpus. Same caller contract as
    // [[Curation.curate]]: clearCache between unrelated runs.
    val evalShingles = tokenShingled(evalSet, textCol, Seq.empty, shingleSize)
      .distinct().persist()
    val hashed = ColumnBridge.expression(xxhash64(col("__g")))
    val sketch = evalShingles
      .agg(ColumnBridge.column(new BloomFilterAggregate(hashed,
          Literal(expectedEvalShingles), Literal(numBits)).toAggregateExpression())
        .as("__bloom"))
      .head().getAs[Array[Byte]](0)
    tokenShingled(train, textCol, Seq(col(idCol)), shingleSize)
      .where(ColumnBridge.column(
        BloomFilterMightContain(Literal(sketch), hashed)))
      .join(evalShingles, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Edit-distance verification for candidate pairs — the
    * tokenization-free check behind "same page, minor edits" near-dup
    * confirmation: Levenshtein distance and the normalized similarity
    * `1 − d / max(|a|, |b|)` over each document's first `prefixChars`
    * characters. Truncation is the scale contract: Levenshtein is
    * O(|a|·|b|) PER PAIR, so unbounded inputs would make one long pair
    * dominate a task; a fixed prefix caps every pair at O(prefixChars²)
    * and near-dup prefixes are representative of near-dup documents.
    * Same join shape as [[jaccardOnPairs]]: the truncated text is
    * projected once per document before the pair join. */
  def editDistanceOnPairs(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, prefixChars: Int): DataFrame = {
    require(prefixChars >= 1, s"prefixChars must be >= 1: $prefixChars")
    val trunc = docs.select(col(idCol),
      substring(col(textCol), 1, prefixChars).as("__t"))
    val da = trunc.select(col(idCol).as(s"${idCol}_a"), col("__t").as("__ta"))
    val db = trunc.select(col(idCol).as(s"${idCol}_b"), col("__t").as("__tb"))
    pairs.join(da, s"${idCol}_a").join(db, s"${idCol}_b")
      .withColumn("edit_distance", levenshtein(col("__ta"), col("__tb")))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("edit_distance"),
        round(lit(1.0) - col("edit_distance").cast("double") /
          greatest(length(col("__ta")), length(col("__tb")), lit(1)).cast("double"),
          6).as("edit_sim"))
  }

  /** Token-set Jaccard similarity for candidate pairs: joins texts back in
    * and computes |A∩B| / |A∪B| over distinct token sets. */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val da = docs.select(col(idCol).as(s"${idCol}_a"),
      array_distinct(tokens(col(textCol))).as("toks_a"))
    val db = docs.select(col(idCol).as(s"${idCol}_b"),
      array_distinct(tokens(col(textCol))).as("toks_b"))
    pairs.join(da, s"${idCol}_a").join(db, s"${idCol}_b")
      .withColumn("jaccard",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
  }

  /** Rarity-weighted contamination score — [[contaminatedIds]] counts
    * overlapping grams, but a doc sharing 40 boilerplate grams
    * ("click here to subscribe…") is cleaner than one sharing 3 grams
    * unique to an eval answer: weight each gram by its corpus rarity
    * and score a doc by the WEIGHTED share of its gram mass that
    * overlaps the eval set. The weight is the integer
    * `floor(10^6 / df)` (df = distinct train docs carrying the gram) —
    * deliberately a RATIONAL rarity surrogate rather than `ln(N/df)`:
    * monotone in rarity like idf, but integer-exact, so per-doc weight
    * sums are order-independent and bit-identical in any engine (a
    * float `ln` sum would drift across engines and summation orders;
    * only the final share runs IEEE and rounds at 6).
    *
    * Returns docs with ≥1 overlapping gram: `(idCol, n_grams,
    * n_overlap, weighted_share)` — `weighted_share` near 1 means the
    * doc's RARE mass is eval material even if the raw overlap count
    * is small.
    *
    * Scale shape: distinct (doc, gram) frame → one gram-keyed df
    * aggregation (fixed-width md5 key) → broadcast eval gram set flag
    * → one per-doc aggregation. No pairs, nothing quadratic. The
    * (doc, gram) frame is distinct BY CONSTRUCTION — `array_distinct`
    * dedups within each document before the explode and `idCol` is
    * unique per train row (every caller's contract in this repo) — so
    * no global distinct shuffles the corpus's widest frame (round 17:
    * a redundant `.distinct()` here was one full-width exchange of the
    * biggest frame in the plan; a caller with DUPLICATE ids must
    * pre-dedup, as [[contaminatedIds]] also assumes). */
  def weightedContamination(train: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, k: Int,
      maxEvalGrams: Long = 10000000L,
      maxEvalBytes: Long = defaultMaxEvalBytes): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def gramSet(df: DataFrame, cols: Seq[Column]): DataFrame = {
      val toks = tokens(col(textCol))
      val grams = explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("__toks")) - (k - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(k))))))).as("__h")
      df.withColumn("__toks", toks).select(cols :+ grams: _*)
    }
    val tg = gramSet(train, Seq(col(idCol)))
    val dfCounts = tg.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val evalGrams = guardEvalBroadcast(
        gramSet(evalSet, Seq.empty).select(col("__h")).distinct(),
        "__h", maxEvalGrams, "weightedContamination", maxEvalBytes)
      .withColumn("__in_eval", lit(1L))
    tg.join(dfCounts, "__h")
      .withColumn("__w", floor(lit(1000000L) / col("__df")).cast("long"))
      .join(broadcast(evalGrams), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__in_eval")), lit(0L)).as("n_overlap"),
        sum(col("__w")).as("__tw"),
        coalesce(sum(when(col("__in_eval") === 1L, col("__w"))), lit(0L))
          .as("__ow"))
      .filter(col("n_overlap") >= 1L)
      .select(col(idCol), col("n_grams"), col("n_overlap"),
        round(col("__ow").cast("double") / col("__tw").cast("double"), 6)
          .as("weighted_share"))
  }

  /** Surgical span-level decontamination — WHERE a training document is
    * contaminated, not just whether ([[contaminatedIds]]'s answer):
    * every training-doc position whose `k`-token gram appears anywhere
    * in the eval set is contaminated, and consecutive contaminated
    * positions merge into the maximal spans a pipeline cuts (dropping
    * the whole document — the id-level answer — throws away the clean
    * majority of a mostly-clean document). The span form of the Lee
    * et al. decontamination pass.
    *
    * Returns `(idCol, span_start, span_end, n_grams)` — the same span
    * contract as [[duplicatedSpans]], against an eval corpus instead
    * of the training corpus itself.
    *
    * Scale shape: the eval side collapses to its DISTINCT gram set and
    * the training grams probe it via a broadcast hash join —
    * `maxEvalGrams` ENFORCES the fit (fail-fast, not driver OOM); at
    * eval-set scales beyond broadcast, swap in the Bloom pre-filter
    * exactly as [[contaminatedIdsBloom]] does. The join key is the RAW
    * k-token gram, not its md5 (round 16, the [[sourceOverlap]]
    * round-14 lesson: the hash here is ONLY an equality key — never
    * output, never a shuffle key since the join is broadcast — and
    * hashing every training gram costs one md5 per position;
    * interleaved warm A/B at sf0.1: 0.68–1.07 s hashed vs 0.44–0.56 s
    * raw. [[duplicatedSpans]] KEEPS md5 because its gram key IS a
    * shuffle key, where fixed-width wins. A corpus with pathological
    * multi-KB tokens needs a length cap upstream, as sourceOverlap
    * documents.) Island merging is the [[duplicatedSpans]]
    * per-document window. */
  def contaminatedSpans(train: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, k: Int,
      maxEvalGrams: Long = 10000000L,
      maxEvalBytes: Long = defaultMaxEvalBytes): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame = {
      val toks = tokens(col(textCol))
      df.withColumn("__toks", toks)
        .select(cols :+ posexplode(transform(
          sequence(lit(1), greatest(size(col("__toks")) - (k - 1), lit(1))),
          i => concat_ws(" ", slice(col("__toks"), i, lit(k))))): _*)
    }
    val evalGrams = guardEvalBroadcast(
      grams(evalSet, Seq.empty).select(col("col").as("__h")).distinct(),
      "__h", maxEvalGrams, "contaminatedSpans", maxEvalBytes)
    val hits = grams(train, Seq(col(idCol)))
      .select(col(idCol), (col("pos") + 1).as("__p"), col("col").as("__h"))
      .join(broadcast(evalGrams), "__h")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    hits
      .withColumn("__island", col("__p") - row_number().over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__p")).cast("long").as("span_start"),
        (max(col("__p")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** Shared-span explanation for candidate pairs — the EVIDENCE a
    * curation reviewer wants next to a near-dup verdict: for each
    * (a, b) pair, the longest contiguous token run the two documents
    * share, plus the count of shared k-gram occurrences. The classic
    * diagonal-run construction: matching gram positions (pa, pb) with
    * equal hash lie on diagonal `pa − pb`, consecutive positions along
    * one diagonal form a run, and the longest shared substring (at
    * token-k granularity) is the longest such run + k − 1 tokens.
    *
    * Returns `(idCol_a, idCol_b, n_shared_grams, longest_run_tokens)`;
    * pairs with no shared gram keep a 0/0 row (the verdict "candidates
    * but no k-gram evidence" is itself informative).
    *
    * Scale shape: per-pair gram joins run ONLY on the supplied
    * candidate pairs (the LSH/banding output — never all-pairs); each
    * side's gram list materializes once per document before the pair
    * join, the (pair, diag) islands are per-pair windows bounded by
    * document length. */
  def sharedSpanOnPairs(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val toks = tokens(col(textCol))
    val grams = docs
      .withColumn("__toks", toks)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), greatest(size(col("__toks")) - (k - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(k)))))))
      .select(col(idCol), (col("pos") + 1).as("__p"), col("col").as("__h"))
    val ga = grams.select(col(idCol).as(s"${idCol}_a"),
      col("__p").as("__pa"), col("__h"))
    val gb = grams.select(col(idCol).as(s"${idCol}_b"),
      col("__p").as("__pb"), col("__h"))
    val m = pairs.select(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .join(ga, s"${idCol}_a")
      .join(gb, Seq(s"${idCol}_b", "__h"))
      .withColumn("__diag", col("__pa") - col("__pb"))
    val wDiag = Window
      .partitionBy(col(s"${idCol}_a"), col(s"${idCol}_b"), col("__diag"))
      .orderBy(col("__pa"))
    val runs = m
      .withColumn("__isl", col("__pa") - row_number().over(wDiag))
      .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"), col("__diag"),
        col("__isl"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .agg(sum(col("__run")).as("n_shared_grams"),
        (max(col("__run")) + (k - 1)).cast("long")
          .as("longest_run_tokens"))
    pairs.select(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .join(runs, Seq(s"${idCol}_a", s"${idCol}_b"), "left")
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("longest_run_tokens"), lit(0L))
          .as("longest_run_tokens"))
  }

  /** Winnowing pair detection — the second half of MOSS (Schleimer et
    * al., SIGMOD '03): document pairs sharing at least `minShared`
    * [[winnow]] fingerprints, with the share count and the exact
    * token-set Jaccard attached. Fingerprint co-occurrence is the
    * position-robust candidate signal (any shared run of ≥ w+k−1
    * tokens guarantees a shared fingerprint); the Jaccard column is
    * the verify every candidate detector pairs with its signal.
    *
    * Scale shape: the pair join is an equi-join on the fingerprint
    * hash — never all-pairs — and `maxCarriers` fail-fasts the
    * boilerplate blow-up (one fingerprint carried by c documents fans
    * to c²/2 join rows; a corpus with a shared footer would otherwise
    * quietly go quadratic — the [[lshCandidatePairs]] mega-bucket
    * lesson, enforced here with the orRaise discipline because pair
    * COUNTS are the output and a star degrade would change them).
    * Returns `(idCol_a, idCol_b, n_shared, jaccard)`. */
  def winnowPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, minShared: Int = 2,
      maxCarriers: Long = 1024L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxCarriers >= 2, s"maxCarriers must be >= 2: $maxCarriers")
    val fps = winnow(docs, textCol, idCol, k, w)
    val counts = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("__c"))
    val guarded = fps.join(
      counts.where(OpsUtil.orRaise(col("__c") <= maxCarriers,
        lit("winnowPairs: a fingerprint is carried by "), col("__c"),
        lit(s" documents (> maxCarriers=$maxCarriers); run exact dedup " +
          "first or raise the cap"))), "fingerprint")
    val a = guarded.select(col("fingerprint"), col(idCol).as(s"${idCol}_a"))
    val b = guarded.select(col("fingerprint"), col(idCol).as(s"${idCol}_b"))
    val pairs = a.join(b, Seq("fingerprint"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    jaccardOnPairs(pairs, docs, textCol, idCol)
      .join(pairs, Seq(s"${idCol}_a", s"${idCol}_b"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("n_shared"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Per-document duplication-risk triage from winnowing fingerprint
    * carrier counts — the audit a pipeline runs BEFORE any pair join:
    * a document whose [[winnow]] fingerprints are mostly carried by
    * other documents is near-dup/boilerplate material (and tells you
    * how big [[winnowPairs]]' join would get), while the triage itself
    * never forms a pair. Returns per doc `(idCol, n_fps, n_shared_fps,
    * max_carriers, risk_share)` — `max_carriers` is the doc's worst
    * boilerplate fingerprint (the [[winnowPairs]] maxCarriers knob is
    * set from exactly this distribution).
    *
    * Scale shape: [[winnow]]'s per-document work + one DISTINCT, then
    * a fingerprint-keyed carrier aggregation and a fingerprint-keyed
    * join of two frames sharing the same child subtree (one exchange,
    * reused), and a per-doc aggregation. NO pair generation anywhere —
    * this is the linear-cost question, the quadratic one is
    * winnowPairs'. */
  def winnowRisk(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame = {
    val fps = winnow(docs, textCol, idCol, k, w)
    val carriers = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("__c"))
    fps.join(carriers, "fingerprint")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("n_shared_fps"),
        max(col("__c")).as("max_carriers"))
      .withColumn("risk_share",
        round(col("n_shared_fps").cast("double") /
          col("n_fps").cast("double"), 6))
  }

  /** Fingerprint-level decontamination triage — [[contaminatedIds]]'
    * question asked of the [[winnow]] sketch instead of every gram:
    * per train document, the share of its winnowing fingerprints that
    * appear anywhere in the eval corpus. The winnowing guarantee makes
    * this the cheap FIRST pass of a decontamination pipeline: any
    * shared run of ≥ w+k−1 tokens is certain to share a fingerprint,
    * so hit_share = 0 clears a document with ~2/(w+1) of the gram-level
    * work, and only the hits proceed to [[contaminatedSpans]]' exact
    * surgery. Returns `(idCol, n_fps, n_hit, hit_share)` per train doc.
    *
    * Scale shape: per-document winnow work on both sides; the eval
    * fingerprint set collapses to a DISTINCT fixed-width-hash frame and
    * broadcasts behind the same counted `maxEvalGrams` fail-fast as the
    * gram-level family (fingerprints are a strict subset of grams, so
    * the broadcast premise is weaker than [[contaminatedIds]]'); one
    * per-doc aggregation. Never a pair join. */
  def winnowContainment(train: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, k: Int, w: Int,
      maxEvalGrams: Long = 10000000L,
      maxEvalBytes: Long = defaultMaxEvalBytes): DataFrame = {
    val evalFps = guardEvalBroadcast(
        winnow(evalSet, textCol, idCol, k, w)
          .select(col("fingerprint")).distinct(),
        "fingerprint", maxEvalGrams, "winnowContainment", maxEvalBytes)
      .withColumn("__hit", lit(1L))
    winnow(train, textCol, idCol, k, w)
      .join(broadcast(evalFps), Seq("fingerprint"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("hit_share",
        round(col("n_hit").cast("double") / col("n_fps").cast("double"), 6))
  }

  /** Per-source token accounting for exact-substring dedup — what a
    * dataset card reports after the [[duplicatedSpans]] pass: how many
    * TOKENS of each source sit inside corpus-duplicated spans, and the
    * share that span-cutting would remove. Doc-level scorecards
    * (q112's dedup impact) hide partial duplication; this is the
    * token-level truth.
    *
    * Adjacent maximal gram islands closer than `k` positions OVERLAP
    * as token intervals (island i ends at `p_max + k − 1`, island i+1
    * can start at `p_max + 2`), so summing raw span lengths
    * double-counts: the spans are first merged into disjoint token
    * intervals with the running-max sweep (`span_start >
    * max(prev span_end)` opens a new interval) before length summing.
    *
    * Returns per source `(source, n_docs, total_tokens, dup_tokens,
    * dup_token_share)` rounded at 6.
    *
    * Scale shape: [[duplicatedSpans]]'s cost plus one per-document
    * window over that doc's own spans (bounded) and a per-source hash
    * aggregation. */
  def duplicatedTokenImpact(docs: DataFrame, textCol: String,
      idCol: String, sourceCol: String, k: Int,
      minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(docs, textCol, idCol, k, minDocs)
    val w = Window.partitionBy(col(idCol)).orderBy(col("span_start"))
    val prevMax = max(col("span_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans
      .withColumn("__new", when(prevMax.isNull ||
        col("span_start") > prevMax, 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("span_start")).as("__s"), max(col("span_end")).as("__e"))
      .groupBy(col(idCol))
      .agg(sum(col("__e") - col("__s") + 1L).as("__dup_toks"))
    docs
      .select(col(idCol), col(sourceCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("__n_toks"))
      .join(merged, Seq(idCol), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n_toks")).as("total_tokens"),
        coalesce(sum(col("__dup_toks")), lit(0L)).as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("dup_tokens"),
        round(col("dup_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("dup_token_share"))
  }

  /** MinHash estimator calibration on candidate pairs — the sketch
    * AUDIT every production dedup pipeline should run before trusting
    * its thresholds: for each LSH candidate pair, the SKETCH's Jaccard
    * estimate (the fraction of agreeing signature components — an
    * unbiased estimator with sd √(J(1−J)/k), so k=4 is deliberately
    * coarse and visibly noisy) next to the EXACT token-set Jaccard,
    * with the absolute estimation error. Systematic error here means
    * the banding threshold is lying about what survives dedup.
    *
    * `sigs` is a [[minhashSignatures]] frame; its sig_* column count
    * sets k. Returns `(idCol_a, idCol_b, est_jaccard, jaccard,
    * abs_err)`, rounded at 6.
    *
    * Scale shape: two broadcast-or-hash joins of the narrow signature
    * frame onto the pair list (fixed-width sig columns), plus
    * [[jaccardOnPairs]]'s set verify — the same join discipline as the
    * candidate machinery itself; nothing rescans the corpus per pair. */
  def minhashCalibration(pairs: DataFrame, sigs: DataFrame,
      docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sigCols = sigs.columns.filter(_.startsWith("sig_")).toSeq
    require(sigCols.nonEmpty, "sigs must carry sig_* columns")
    val sa = sigs.select(col(idCol).as(s"${idCol}_a") +:
      sigCols.map(c => col(c).as(s"${c}_a")): _*)
    val sb = sigs.select(col(idCol).as(s"${idCol}_b") +:
      sigCols.map(c => col(c).as(s"${c}_b")): _*)
    val est = sigCols.map(c =>
        when(col(s"${c}_a") === col(s"${c}_b"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / sigCols.length
    jaccardOnPairs(pairs, docs, textCol, idCol)
      .join(sa, s"${idCol}_a").join(sb, s"${idCol}_b")
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"),
        round(est, 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"),
        round(abs(est - col("jaccard")), 6).as("abs_err"))
  }

  /** Character n-gram Jaccard for candidate pairs: joins each side's
    * DISTINCT char `n`-gram set back in and computes |A∩B| / |A∪B| — the
    * tokenization-robust verification step behind MinHash/LSH candidates
    * (same join shape as [[jaccardOnPairs]]; only the shingle unit
    * differs). Gram sets are materialized once per document before the
    * pair join, so a document in k candidate pairs never re-shingles. */
  def ngramJaccardOnPairs(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val grams = docs.select(col(idCol),
      array_distinct(charShingles(col(textCol), n)).as("grams"))
    val da = grams.select(col(idCol).as(s"${idCol}_a"), col("grams").as("grams_a"))
    val db = grams.select(col(idCol).as(s"${idCol}_b"), col("grams").as("grams_b"))
    pairs.join(da, s"${idCol}_a").join(db, s"${idCol}_b")
      .withColumn("jaccard",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
          size(array_union(col("grams_a"), col("grams_b"))).cast("double"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
  }

  /** Token-shingle containment for candidate pairs — the SUBSET-duplicate
    * detector Jaccard misses: a short document wholly embedded in a long
    * one (syndicated article + boilerplate shell, quote-expansions,
    * partial scrapes) scores low Jaccard (the union is dominated by the
    * long side) but containment |A∩B| / |A| ≈ 1 on the short side.
    * Emits both directions plus `max_containment` — the dedup decision
    * signal (keep the superset, drop the contained copy).
    *
    * Same pair-join shape as [[jaccardOnPairs]]/[[ngramJaccardOnPairs]]:
    * each document's DISTINCT token `n`-gram set is materialized once
    * before the two id equi-joins, so a document in k candidate pairs
    * never re-shingles, and only LSH candidates (never all pairs) reach
    * the set intersection. */
  def containmentOnPairs(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val grams = docs.select(col(idCol),
      array_distinct(tokenShingles(col(textCol), n)).as("grams"))
    val da = grams.select(col(idCol).as(s"${idCol}_a"), col("grams").as("grams_a"))
    val db = grams.select(col(idCol).as(s"${idCol}_b"), col("grams").as("grams_b"))
    val inter = size(array_intersect(col("grams_a"), col("grams_b"))).cast("double")
    pairs.join(da, s"${idCol}_a").join(db, s"${idCol}_b")
      .withColumn("containment_a", inter / size(col("grams_a")).cast("double"))
      .withColumn("containment_b", inter / size(col("grams_b")).cast("double"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"),
        col("containment_a"), col("containment_b"),
        greatest(col("containment_a"), col("containment_b")).as("max_containment"))
  }

  /** Duplicate clusters from candidate pairs: connected components by
    * iterative min-label propagation — every document reachable through
    * any chain of near-dup pairs gets the component's minimum id as its
    * `cluster` label (so the keeper rule "keep the min id" is stable and
    * engine-independent). This is the final step of corpus dedup: pairs
    * alone over-delete (a≈b, b≈c but a≉c must still collapse to ONE
    * keeper, not two independent pair-decisions).
    *
    * Scale shape: per iteration, one neighbor-min propagation (equi-join
    * + min-aggregation on the edge list) followed by one POINTER JUMP —
    * every label is replaced by its label's label (`cluster :=
    * cluster(cluster)`, a self-join of the narrow label frame; cluster
    * values are always node ids, so the lookup always resolves). The
    * jump halves the remaining pointer depth each round, so convergence
    * is O(log diameter) rounds instead of the plain propagation's
    * O(diameter) — a 200-hop chain closes in ~8 rounds where the
    * propagation-only loop needed 200 (and silently under-merged past
    * `maxIter`). Near-dup components are usually shallow (diameters
    * 2–4), but a web-scale boilerplate chain is exactly where the bound
    * matters. The driver loop only orchestrates; all data stays
    * distributed. `localCheckpoint` truncates the per-iteration lineage,
    * without which the plan tree doubles each round and the job stalls
    * in the optimizer long before data size matters. Returns
    * (idCol, cluster) for every id present in `pairs`. */
  def dupClusters(pairs: DataFrame, idCol: String, maxIter: Int = 20): DataFrame = {
    val half = pairs.select(col(s"${idCol}_a").as("src"), col(s"${idCol}_b").as("dst"))
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    // free each superseded round's localCheckpoint blocks (OpsUtil
    // scaladoc) so storage stays O(1) rounds instead of O(iterations)
    // (the eager checkpoint means `next` never re-reads the previous
    // round's blocks).
    import OpsUtil.ckptRdds
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("cluster")).as("__nbr"))
      // the round's INPUT label rides along as __old so convergence is
      // a join-free filter over the fresh checkpoint (round 19): the
      // previous shape re-joined next against labels on id — two
      // exchanges and a sort-merge join per iteration, paid only to
      // evaluate "did anything change" — where a carried column makes
      // the same predicate a short-circuiting local scan (isEmpty
      // plans a limit-1 over the checkpointed blocks, no shuffle).
      val prop = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("__nbr"), col("cluster"))).as("cluster"))
      val next = prop.alias("l")
        .join(prop.select(col("id").as("__cid"), col("cluster").as("__cc")).alias("c"),
          col("l.cluster") === col("c.__cid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.cluster"), coalesce(col("__cc"), col("l.cluster"))).as("cluster"),
          col("l.__old").as("__old"))
        .localCheckpoint()
      converged = next.filter(col("cluster") =!= col("__old")).isEmpty
      val superseded = ckptRdds(labels)
      labels = next.select(col("id"), col("cluster"))
      superseded.foreach(_.unpersist(blocking = false))
      i += 1
    }
    edges.unpersist()
    if (!converged)
      // Unconverged labels under-merge (a >maxIter-diameter chain keeps
      // two labels) — at dedup semantics that means keeping a duplicate,
      // not corrupting data, but the operator must not be silent about it.
      System.err.println(
        s"[dupClusters] WARNING: not converged after $maxIter iterations; " +
          "components wider than maxIter hops retain split labels — raise maxIter")
    labels.select(col("id").as(idCol), col("cluster"))
  }

  /** SimHash fingerprint (`bits` ≤ 32): per token, md5 hex digit j maps to
    * ±1 on bit j; the sign of the per-bit sum over all tokens sets the
    * fingerprint bit (Charikar '02). Near-dups land at small Hamming
    * distance. Bit j is set iff the +1 tokens outnumber the -1 tokens:
    * `2 * |{t : hexdigit_j(md5 t) >= '8'}| > |tokens|`.
    *
    * Shape: explode + one hash aggregation with `bits` conditional SUMs —
    * all whole-stage codegen. The earlier array form (`bits` higher-order
    * `filter` lambdas over a per-row md5 array) interprets bits × tokens
    * lambda frames per document outside codegen (measured ~2× slower at
    * 16 bits, growing with `bits`). `explode_outer` keeps empty/null-text
    * documents in the output with fingerprint 0, matching the array
    * form's `2·0 > 0 = false` for every bit. The aggregation keys on the
    * doc id, so the explode's hash-repartition of the narrow (id, text)
    * rows satisfies it partition-locally — one shuffle total. */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int): DataFrame = {
    val bitSums = (0 until bits).map { j =>
      sum(when(substring(col("__md5"), j + 1, 1) >= "8", 1L).otherwise(0L)).as(s"__b$j")
    }
    val fingerprint = (0 until bits).map { j =>
      when(col(s"__b$j") * 2 > col("__n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs
      .select(col(idCol), col(textCol))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("__tok"))
      .withColumn("__md5", md5(col("__tok")))
      .groupBy(col(idCol))
      .agg(count(col("__tok")).as("__n"), bitSums: _*)
      .select(col(idCol), fingerprint.as("simhash"))
  }

  /** SimHash near-dup candidate pairs by Hamming distance — the
    * multi-probe companion to [[lshCandidatePairs]] for fingerprints
    * instead of signatures (Manku/Jain/Sarma '07's chunk-permutation
    * scheme, pigeonhole form): the `bits`-bit fingerprint is cut into
    * `chunks` equal slices; two fingerprints within Hamming distance
    * `< chunks` MUST agree on at least one slice, so slice-equality
    * joins find every such pair. Candidates are verified with an exact
    * `bit_count(xor)` and kept when `<= maxHamming`.
    *
    * Scale shape: the fingerprint frame is one narrow row per document
    * (persisted — the self-join's aliases read materialized rows instead
    * of re-running the simhash aggregation per side); the join is an
    * equi-join on (slice index, slice value), never all-pairs. Slice
    * buckets concentrate as `bits/chunks` shrinks — pick chunk widths
    * ≥ 8 bits at corpus scale so bucket sizes stay ~n/2^width, and run
    * exact dedup first for the same reason as LSH (identical docs pile
    * into one bucket). Guarantee: complete for distance < chunks;
    * candidates up to `maxHamming` beyond that are found only when a
    * slice happens to align (raise `chunks` for a stronger bound). */
  def simhashCandidatePairs(fingerprints: DataFrame, idCol: String,
      bits: Int, chunks: Int, maxHamming: Int): DataFrame = {
    require(bits % chunks == 0 && chunks > 0,
      s"chunks must divide bits: bits=$bits chunks=$chunks")
    val width = bits / chunks
    val mask = (1L << width) - 1
    val sliced = fingerprints.select(col(idCol), col("simhash"),
        explode(array((0 until chunks).map { i =>
          struct(lit(i).as("ci"),
            shiftright(col("simhash"), i * width).bitwiseAND(lit(mask)).as("cv"))
        }: _*)).as("__c"))
      .select(col(idCol), col("simhash"),
        col("__c.ci").as("__ci"), col("__c.cv").as("__cv"))
      .persist()
    val a = sliced.alias("a")
    val b = sliced.alias("b")
    a.join(b, col("a.__ci") === col("b.__ci") && col("a.__cv") === col("b.__cv") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Span-level corpus dedup — the C4-style boilerplate remover: cut each
    * document into fixed-`spanTokens` non-overlapping spans, keep only the
    * corpus-wide FIRST occurrence (lexicographic min (id, span)) of each
    * distinct span, and reassemble the surviving spans in document order.
    * This is what strips the cookie banner repeated across a million
    * pages while exact/near dedup (whole-document granularity) never sees
    * it. Returns one row per document: span counts before/after and the
    * cleaned text (empty when every span was someone else's boilerplate).
    *
    * Scale shape: the span grid is [[Packing.chunkDocuments]]'s no-shuffle
    * explode; the keeper election is a `min` over
    * `Window.partitionBy(md5(span))` — ONE shuffle of the exploded frame
    * on a fixed-width key, replacing the earlier keeper aggregate +
    * rejoin whose join branch re-ran the tokenize/explode scan (a
    * partial-agg exchange is not reusable by a join on the same key);
    * reassembly is one per-document aggregation whose `array_sort`
    * orders each doc's own spans locally (docs have bounded span counts;
    * nothing global sorts). Per-document TOTAL span counts are the
    * chunk-grid closed form over the narrow docs frame — NOT a
    * re-aggregation of the exploded frame. */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      spanTokens: Int): DataFrame = {
    val spans = Packing
      .chunkDocuments(docs, textCol, idCol, spanTokens, spanTokens)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"))
    // lexicographic-min election via one integer key: span ids are
    // bounded by tokens/span, far under the 2^20 slot width
    val slot = shiftleft(col(idCol), 20) + col("chunk_id")
    val kept = spans
      .withColumn("__keep",
        min(slot).over(Window.partitionBy(col("__h"))))
      .filter(slot === col("__keep"))
    // n_spans = last chunk id + 1 = floor((max(n-w,0)+w-1)/w) + 1 for the
    // non-overlapping grid (window = stride = spanTokens); mirrors
    // chunkDocuments' sequence bound exactly.
    val nTok = size(graft.functions.TextFunctions.tokens(col(textCol))).cast("long")
    val perDoc = docs.select(col(idCol),
      (floor((greatest(nTok - spanTokens, lit(0L)) + (spanTokens - 1))
        / spanTokens).cast("long") + 1L).as("n_spans"))
    val keptAgg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("clean_text"))
    perDoc.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Line-level dedup (the CCNet/RefinedWeb pre-pass): split each
    * document into lines, count how many DISTINCT documents carry each
    * line, drop every copy of any line carried by more than `maxDocs`
    * documents (boilerplate — cookie banners, nav bars, footers — is
    * corpus-frequent; body text is not), and reassemble the survivors in
    * original order. Returns (idCol, n_lines, n_kept, clean_text).
    *
    * Scale shape: each exploded (id, pos, line) row learns its line's
    * document frequency from ONE shuffle on `md5(line)` — a fixed-width
    * key however long the line — via the dense_rank/max window pair
    * (windows cannot COUNT DISTINCT directly, and a `collect_set` frame
    * would materialize the boilerplate line's full doc set per row; the
    * rank construction is O(1) state). The earlier frequency aggregate +
    * rejoin re-ran the split/explode/md5 scan for the join branch — a
    * partial-agg exchange is not reusable by a join on the same key.
    * Both windows share one exchange+sort (same partition key; the
    * unordered max frame rides the dense_rank sort). Reassembly is one
    * per-document aggregation whose `array_sort` orders each doc's own
    * lines locally (bounded per-doc line counts; nothing global sorts).
    * Per-document TOTAL line counts come from `size(split(...))` on the
    * narrow docs frame — NOT from re-aggregating the exploded frame. */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
      sep: String, maxDocs: Long): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1: $maxDocs")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), sep, -1)))
      .select(col(idCol), col("pos"), col("col").as("__line"),
        md5(col("col")).as("__h"))
    val byHash = Window.partitionBy(col("__h"))
    val kept = lines
      .withColumn("__dr", dense_rank().over(byHash.orderBy(col(idCol))))
      .withColumn("__docs", max(col("__dr")).over(byHash))
      .filter(col("__docs") <= maxDocs)
    val perDoc = docs.select(col(idCol),
      size(split(col(textCol), sep, -1)).cast("long").as("n_lines"))
    val keptAgg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__line")))),
          s => s.getField("__line")), sep).as("clean_text"))
    perDoc.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Maximal duplicated token-span extraction (Lee, Ippolito et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 — the EXACT-SUBSTRING pass, re-expressed at token granularity
    * as a relational program instead of their suffix array): every
    * position whose `k`-token gram occurs in ≥ `minDocs` DISTINCT
    * documents is "duplicated", and runs of CONSECUTIVE duplicated
    * positions merge into maximal spans — the memorization-risk
    * segments a curation pipeline masks or cuts (as opposed to
    * [[spanDedup]]'s fixed non-overlapping grid, which misses
    * duplicates that straddle grid lines). Documents shorter than `k`
    * contribute their full text as one gram.
    *
    * Returns one row per maximal span: `(idCol, span_start, span_end,
    * n_grams)` — 1-based token indices, `span_end` = last gram start
    * + k − 1, `n_grams` = duplicated positions merged into the span.
    *
    * Scale shape: gram hashes materialize once per row (a `transform`
    * over the doc's own token array; md5 keeps the shuffle key fixed-
    * width however long the gram). Corpus frequency is ONE hash
    * shuffle on the gram hash, counting distinct carriers with the
    * [[lineDedup]] dense_rank/max window pair (never a `collect_set`
    * of carrier ids). Island merging is the classic gap-and-island
    * construction (`pos − row_number()`) inside a per-document window
    * over that document's own duplicated positions — bounded by doc
    * length, no cross-document state. Nothing quadratic, nothing
    * driver-side; at 100 TB every step is a map pass or a keyed
    * exchange. */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val toks = tokens(col(textCol))
    val grams = docs
      .withColumn("__toks", toks)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), greatest(size(col("__toks")) - (k - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(k)))))))
      .select(col(idCol), (col("pos") + 1).as("__p"), col("col").as("__h"))
    val byHash = Window.partitionBy(col("__h"))
    val dup = grams
      .withColumn("__dr", dense_rank().over(byHash.orderBy(col(idCol))))
      .withColumn("__docs", max(col("__dr")).over(byHash))
      .filter(col("__docs") >= minDocs)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    dup
      .withColumn("__island", col("__p") - row_number().over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__p")).cast("long").as("span_start"),
        (max(col("__p")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD '03 — the MOSS algorithm): hash every token `k`-gram, slide a
    * `w`-gram window over the hash sequence, and keep each window's
    * minimum hash. Guarantees every match of length ≥ w+k-1 tokens shares
    * a fingerprint while storing ~2/(w+1) of the grams — the standard
    * position-robust alternative to one global min ([[exact]] fingerprints
    * shift entirely when one byte changes; winnowing keeps all local
    * minima, so edits only perturb nearby fingerprints). Returns the
    * DISTINCT (idCol, fingerprint) set.
    *
    * Scale shape: per-document work only — the gram hashes materialize
    * once per row, and the rolling-window minimum runs inside a
    * higher-order `transform` over each doc's own hash array (no window
    * function, no shuffle; per-doc arrays are bounded). The only
    * exchange is the final DISTINCT on (id, fixed-width hash). md5
    * lexicographic minima keep any SQL oracle bit-identical. */
  def winnow(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    winnowFingerprints(docs, col(textCol), Seq(col(idCol)), k, w)
  }

  /** The one winnowing pipeline body, over arbitrary key columns: hash
    * every token `k`-gram of `textC`, keep each `w`-window's minimum
    * (per-row array work, no shuffle), return the DISTINCT
    * (keys…, fingerprint) frame. Single implementation for [[winnow]],
    * [[chunkProvenance]] and [[chunkClusters]] — the gram/window
    * arithmetic (including the `greatest(…, 1)` short-doc convention
    * every oracle replays) must never diverge between them. */
  private def winnowFingerprints(df: DataFrame, textC: Column,
      keys: Seq[Column], k: Int, w: Int): DataFrame =
    df.withColumn("__toks", tokens(textC))
      .withColumn("__gh", transform(
        sequence(lit(1), greatest(size(col("__toks")) - (k - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(k))))))
      .select(keys :+ explode(transform(
        sequence(lit(1), greatest(size(col("__gh")) - (w - 1), lit(1))),
        i => array_min(slice(col("__gh"), i, lit(w))))).as("fingerprint"): _*)
      .distinct()

  /** RAG-chunk provenance audit — [[winnow]] fingerprints computed per
    * RETRIEVAL CHUNK ([[Packing.chunkDocuments]]' fixed-window/stride
    * splits) and checked for cross-DOCUMENT carriers: a chunk whose
    * fingerprints also appear in another document is serving duplicated
    * content (boilerplate, licence blocks, syndicated passages), which
    * inflates retrieval scores and leaks eval material through the RAG
    * index even when doc-level dedup passed. Per chunk: the fingerprint
    * count, how many fingerprints are carried by ≥ 2 distinct docs, the
    * worst carrier count, and the foreign share.
    *
    * Output: `(idCol, chunk_id, n_fps, n_foreign, max_docs,
    * foreign_share)`.
    *
    * Scale shape: chunking is a pure per-row explode (output rows ≈
    * tokens/stride); gram hashing and the rolling-window minimum run
    * inside per-chunk arrays (the [[winnow]] shape — no window
    * function, no shuffle); the DISTINCT (doc, chunk, fingerprint)
    * frame persists once for its two consumers (doc-level carrier
    * counts and the per-chunk roll-up), and both joins are
    * fingerprint-keyed hash joins — linear, never a pair join. Caller
    * contract as [[Curation.curate]]: clearCache between unrelated
    * runs. */
  def chunkProvenance(docs: DataFrame, textCol: String, idCol: String,
      window: Int, stride: Int, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    val chunks = Packing.chunkDocuments(docs, textCol, idCol, window, stride)
    val fps = winnowFingerprints(chunks, col("chunk_text"),
        Seq(col(idCol), col("chunk_id")), k, w)
      .persist()
    val carriers = fps.select(col("fingerprint"), col(idCol)).distinct()
      .groupBy(col("fingerprint")).agg(count(lit(1)).as("__nd"))
    fps.join(carriers, Seq("fingerprint"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_foreign"),
        max(col("__nd")).as("max_docs"))
      .withColumn("foreign_share",
        round(col("n_foreign").cast("double") /
          col("n_fps").cast("double"), 6))
  }

  /** Fingerprint stability under edits — the [[winnow]] sketch's
    * edit-locality claim ("edits only perturb nearby fingerprints")
    * measured as a per-source survival audit between two corpus
    * versions: the share of each document's BEFORE fingerprints that
    * survive into its AFTER version. A near-1 survival on lightly
    * edited corpora is what makes incremental re-fingerprinting cheap
    * (only perturbed windows re-enter the dedup index); a collapse
    * says the sketch parameters are too brittle for the edit pattern.
    *
    * Per source: `(sourceCol, n_docs, n_fps_before, n_fps_after,
    * n_common, retained_share, jaccard)` — survival = common/before,
    * jaccard = common/union, both from exact integer totals.
    *
    * Scale shape: two [[winnow]] passes (per-doc work + one DISTINCT
    * exchange each), ONE full-outer hash join on (id, fingerprint) —
    * linear in fingerprint count, never a pair join — and two bounded
    * aggregations. Document ids must appear in `before` (it is the
    * baseline the survival is measured against). */
  def winnowStability(before: DataFrame, after: DataFrame,
      textCol: String, idCol: String, sourceCol: String,
      k: Int, w: Int): DataFrame = {
    val bf = winnow(before, textCol, idCol, k, w).withColumn("__b", lit(1L))
    val af = winnow(after, textCol, idCol, k, w).withColumn("__a", lit(1L))
    val joined = bf.join(af, Seq(idCol, "fingerprint"), "full_outer")
    val perDoc = joined.groupBy(col(idCol))
      .agg(coalesce(sum(col("__b")), lit(0L)).as("__nb"),
        coalesce(sum(col("__a")), lit(0L)).as("__na"),
        coalesce(sum(col("__b") * col("__a")), lit(0L)).as("__nc"))
    perDoc
      .join(before.select(col(idCol), col(sourceCol)).distinct(), Seq(idCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nb")).as("n_fps_before"),
        sum(col("__na")).as("n_fps_after"),
        sum(col("__nc")).as("n_common"))
      .select(col(sourceCol), col("n_docs"), col("n_fps_before"),
        col("n_fps_after"), col("n_common"),
        round(col("n_common").cast("double") /
          col("n_fps_before").cast("double"), 6).as("retained_share"),
        round(col("n_common").cast("double") /
          (col("n_fps_before") + col("n_fps_after") - col("n_common"))
            .cast("double"), 6).as("jaccard"))
  }

  /** Incremental winnowing re-index — the delta a fingerprint index
    * needs between two corpus VERSIONS, computed by re-fingerprinting
    * CHANGED documents only (the payoff [[winnowStability]] measures:
    * edits perturb few fingerprints, so the index update is tiny; this
    * operator is the update itself). Changed = text differs (edited),
    * present only in `before` (deleted), or only in `after` (added) —
    * detected with one full-outer id join comparing the text columns;
    * UNCHANGED documents are never tokenized, hashed, or winnowed,
    * which is what makes a daily re-index over a 100 TB corpus cost
    * O(changed docs), not O(corpus).
    *
    * Per changed document: `(idCol, status, n_del, n_add, n_keep)` —
    * fingerprints to retire from the index (in before's set only), to
    * insert (in after's only), and shared survivors. A deleted doc
    * retires everything (n_add = 0); an added doc inserts everything.
    * Null-text rows are treated as absent on their side (the corpus
    * contract shared with [[winnow]]'s callers).
    *
    * Scale shape: the change detector is one full-outer hash join on
    * the id (linear); both [[winnow]] passes run over the CHANGED
    * subset only (per-doc array work + one DISTINCT each); the delta
    * roll-up is one full-outer hash join on (id, fingerprint) — never
    * a pair join. The changed frame persists once for its three
    * consumers (two winnow legs + the status roll-up). CONTRACT: ids
    * must be UNIQUE within each corpus version — a duplicated id fans
    * out both id joins and would silently inflate the delta counts, so
    * the status roll-up carries an [[OpsUtil.orRaise]] fail-fast
    * (checked over the changed subset only: duplicates can corrupt the
    * output only through rows that landed there). Caller contract as
    * [[Curation.curate]]: clearCache between unrelated runs. */
  def winnowDeltaIndex(before: DataFrame, after: DataFrame,
      textCol: String, idCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    val b = before.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__tb"))
    val a = after.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__ta"))
    val changed = b.join(a, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__ta").isNull, "deleted")
          .when(col("__tb").isNull, "added")
          .when(col("__tb") =!= col("__ta"), "edited"))
      .filter(col("status").isNotNull)
      .persist()
    val fb = winnow(changed.filter(col("__tb").isNotNull)
        .select(col(idCol), col("__tb").as(textCol)),
      textCol, idCol, k, w).withColumn("__b", lit(1L))
    val fa = winnow(changed.filter(col("__ta").isNotNull)
        .select(col(idCol), col("__ta").as(textCol)),
      textCol, idCol, k, w).withColumn("__a", lit(1L))
    val delta = fb.join(fa, Seq(idCol, "fingerprint"), "full_outer")
      .groupBy(col(idCol))
      .agg(sum(when(col("__a").isNull, 1L).otherwise(0L)).as("n_del"),
        sum(when(col("__b").isNull, 1L).otherwise(0L)).as("n_add"),
        sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L)
          .otherwise(0L)).as("n_keep"))
    // UNIQUE-id contract guard (sibling convention: maxCarriers, the
    // chunkClusters packed-key guard): a duplicated id fans out the
    // full-outer id join and silently inflates n_del/n_add/n_keep.
    // Duplicates can only corrupt the output through rows that landed
    // in `changed`, so the check is O(changed docs), not O(corpus).
    val status = changed.groupBy(col(idCol))
      .agg(first(col("status")).as("status"), count(lit(1)).as("__dup"))
      .where(OpsUtil.orRaise(col("__dup") === 1,
        lit(s"winnowDeltaIndex: duplicate $idCol in changed set "),
        lit("(ids must be unique per corpus version): "), col(idCol)))
      .select(col(idCol), col("status"))
    status.join(delta, Seq(idCol), "left")
      .na.fill(0L, Seq("n_del", "n_add", "n_keep"))
  }

  /** Repeated-substring LEADERBOARD — the corpus-card report over
    * [[duplicatedSpans]]' maximal islands: which exact passages repeat
    * across documents, ranked by reach. Each duplicated span
    * reconstructs its text (one `slice` over the doc's own token
    * array), identical texts aggregate across the corpus, and the
    * top-`topK` rank by `(n_docs DESC, n_occurrences DESC, span_text
    * ASC)` — a total order, so the cut is engine-reproducible. The
    * suffix-automaton-free answer to "what boilerplate dominates my
    * corpus": license headers, navigation chrome, and syndicated
    * passages surface with their literal text and reach.
    *
    * Returns `(rank, span_text, span_tokens, n_docs, n_occurrences)`.
    *
    * Scale shape: [[duplicatedSpans]]' linear gram pipeline, one
    * id-keyed join back to the token arrays (span lists are bounded by
    * doc length / k), ONE hash aggregation keyed by span text — the
    * key can be a long passage, but the aggregated mass is bounded by
    * the corpus's duplicated-token mass, which is exactly what this
    * report exists to surface — and a TakeOrdered top-k election
    * (driver holds topK rows by construction). The rank column is a
    * row_number over the already-elected topK rows (single tiny
    * partition, not a corpus sort). */
  def repeatedSpanRank(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minDocs: Int = 2, topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val base = docs.filter(col(textCol).isNotNull)
    val spans = duplicatedSpans(base, textCol, idCol, k, minDocs)
    val ranked = spans
      .join(base.select(col(idCol), tokens(col(textCol)).as("__toks")),
        Seq(idCol))
      .select(col(idCol), array_join(slice(col("__toks"),
        col("span_start").cast("int"),
        (col("span_end") - col("span_start") + 1).cast("int")), " ")
        .as("span_text"))
      .groupBy(col("span_text"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("span_text").asc)
      .limit(topK)
    ranked
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("n_docs").desc, col("n_occurrences").desc,
          col("span_text").asc)).cast("long"))
      .select(col("rank"), col("span_text"),
        size(split(col("span_text"), " ", -1)).cast("long")
          .as("span_tokens"),
        col("n_docs"), col("n_occurrences"))
  }

  /** Apply-side of [[winnowDeltaIndex]] — the PATCHED fingerprint
    * index itself: unchanged documents keep their `v1` index rows
    * untouched (never re-read, never re-fingerprinted), changed
    * documents' rows are replaced wholesale by re-winnowing the
    * changed AFTER-side texts only. By winnowing's determinism the
    * result is row-identical to a full re-index of `after` — the
    * roundtrip the q269 oracle verifies — at O(changed docs)
    * re-fingerprinting cost.
    *
    * Returns the patched `(idCol, fingerprint)` index.
    *
    * Scale shape: one full-outer id join for change detection (the
    * [[winnowDeltaIndex]] detector, shared UNIQUE-id contract and
    * fail-fast), ONE winnow pass over the v1 corpus (building the
    * index being patched — a caller with the v1 index on disk reads it
    * instead), one winnow pass over the changed after-side subset, one
    * anti join to drop changed ids, one union. Nothing pairwise,
    * nothing driver-side. */
  def winnowDeltaApply(before: DataFrame, after: DataFrame,
      textCol: String, idCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    val b = before.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__tb"))
    val a = after.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__ta"))
    val changed = b.join(a, Seq(idCol), "full_outer")
      .filter(col("__ta").isNull || col("__tb").isNull ||
        col("__tb") =!= col("__ta"))
      .persist()
    // UNIQUE-id guard over the changed subset (winnowDeltaIndex's
    // convention): duplicates fan out the anti join and the replace
    val changedIds = changed.groupBy(col(idCol))
      .agg(count(lit(1)).as("__dup"))
      .where(OpsUtil.orRaise(col("__dup") === 1,
        lit(s"winnowDeltaApply: duplicate $idCol in changed set "),
        lit("(ids must be unique per corpus version): "), col(idCol)))
      .select(col(idCol))
    val v1 = winnow(b.select(col(idCol), col("__tb").as(textCol)),
      textCol, idCol, k, w)
    val replaced = winnow(changed.filter(col("__ta").isNotNull)
        .select(col(idCol), col("__ta").as(textCol)),
      textCol, idCol, k, w)
    v1.join(changedIds, Seq(idCol), "left_anti")
      .unionByName(replaced)
  }

  /** Apply-side of [[duplicatedSpans]] (Lee et al.'s deduplicate-
    * training-data surgery): REMOVE every token covered by a
    * corpus-duplicated span from each document and return the pruned
    * text — the transformation a training pipeline actually ships,
    * where [[duplicatedSpans]] is its audit. Per document:
    * `(idCol, n_tokens, n_removed, pruned_text)`; a document with no
    * duplicated span passes through whole, a document that is all
    * duplicated material prunes to the empty string (the caller's
    * length filter then drops it).
    *
    * Scale shape: [[duplicatedSpans]]' linear gram pipeline, then the
    * per-doc span LIST (bounded by doc length / k) collects in one
    * hash aggregation, joins back id-keyed, and the removal itself is
    * a single `aggregate` HOF walking the SORTED span list over the
    * doc's token array — each uncovered gap is one `slice`, so the
    * per-document cost is O(tokens + spans), not the O(tokens × spans)
    * membership test of the round-14 form (a boilerplate-heavy doc
    * with many small spans paid quadratically). Spans CAN overlap (two
    * gram-position islands separated by a gap < k cover overlapping
    * token ranges), but sorted by start their ends strictly increase
    * (island gram positions are disjoint ascending runs), so the
    * cursor never moves backwards and the `greatest(…, 0)` gap guard
    * emits exactly the uncovered positions. Per-row work, no
    * per-position explode, no second shuffle. */
  def pruneDuplicatedSpans(docs: DataFrame, textCol: String,
      idCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
    val spans = duplicatedSpans(base, textCol, idCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    // linear interval walk over the sorted spans: ends increase with
    // starts (islands are disjoint ascending gram-position runs), so a
    // monotone cursor + a clamped gap slice emit every uncovered token
    // exactly once, including through OVERLAPPING spans (island gap
    // < k). 1-based cursor and bounds, like the spans themselves.
    val keptWalk = aggregate(
      sort_array(col("__spans")),
      struct(lit(1L).as("cur"),
        array().cast("array<string>").as("acc")),
      (st, s) => struct(
        (s.getField("span_end") + lit(1L)).as("cur"),
        concat(st.getField("acc"),
          slice(col("__toks"), st.getField("cur").cast("int"),
            greatest(s.getField("span_start") - st.getField("cur"), lit(0L))
              .cast("int"))).as("acc")),
      st => concat(st.getField("acc"),
        slice(col("__toks"), st.getField("cur").cast("int"),
          greatest(size(col("__toks")).cast("long") - st.getField("cur")
            + lit(1L), lit(0L)).cast("int"))))
    base.join(spans, Seq(idCol), "left")
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__kept",
        when(col("__spans").isNull, col("__toks")).otherwise(keptWalk))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("__kept")).as("pruned_text"))
  }

  /** Cross-chunk dedup at RETRIEVAL granularity — the clustering pass
    * over [[chunkProvenance]]'s duplicated-content signal: RAG chunks
    * ([[Packing.chunkDocuments]] windows) whose [[winnow]] fingerprint
    * sets overlap at Jaccard ≥ `minJaccard` collapse into connected
    * components ([[dupClusters]]' min-label rule), so a retrieval index
    * keeps ONE copy of a syndicated passage instead of ranking its
    * clones against each other. Returns one row per chunk that
    * appears in at least one qualifying pair: `(idCol, chunk_id,
    * cluster_doc, cluster_chunk, is_keeper)` — keeper = the component's
    * minimum (doc, chunk).
    *
    * Scale shape: chunk fingerprints are per-row array work + one
    * DISTINCT (the [[chunkProvenance]] frame, persisted for its two
    * consumers); candidate pairs come from a fingerprint equi-join
    * guarded by the [[winnowPairs]] mega-carrier fail-fast (a
    * boilerplate fingerprint carried by c chunks fans to c²/2 rows —
    * raise loudly, never degrade); the Jaccard filter needs only the
    * two set SIZES (one bounded aggregation) against the shared count;
    * clustering is [[dupClusters]]' O(log diameter) label propagation.
    * The chunk key packs (doc, chunk) into one long — guarded, since a
    * collision would silently merge distinct chunks. */
  def chunkClusters(docs: DataFrame, textCol: String, idCol: String,
      window: Int, stride: Int, k: Int, w: Int,
      minJaccard: Double, maxCarriers: Long = 1024L): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    require(minJaccard > 0 && minJaccard <= 1,
      s"need 0 < minJaccard <= 1: $minJaccard")
    require(maxCarriers >= 2, s"maxCarriers must be >= 2: $maxCarriers")
    val chunks = Packing.chunkDocuments(docs, textCol, idCol, window, stride)
    val keyMul = 100000L
    // both halves of the packed key are guarded: chunk_id must fit its
    // decimal slot AND doc_id must keep the multiply inside Long (a
    // silent wrap would collide distinct chunks — the exact merge the
    // guard exists to prevent); negative ids are refused because the
    // decode below is non-negative integer arithmetic
    val maxDoc = (Long.MaxValue - (keyMul - 1)) / keyMul
    val keyed = chunks
      .where(OpsUtil.orRaise(
        col("chunk_id") < keyMul &&
          col(idCol) >= 0 && col(idCol) <= maxDoc,
        lit("chunkClusters: (doc, chunk) = ("), col(idCol), lit(", "),
        col("chunk_id"),
        lit(s") overflows the packed key (need 0 <= doc <= $maxDoc, " +
          s"chunk < $keyMul)")))
      .select((col(idCol) * keyMul + col("chunk_id")).as("__ck"),
        col("chunk_text"))
    val fps = winnowFingerprints(keyed, col("chunk_text"),
        Seq(col("__ck")), k, w)
      .persist()
    val carriers = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("__c"))
    val guarded = fps.join(
      carriers.where(OpsUtil.orRaise(col("__c") <= maxCarriers,
        lit("chunkClusters: a fingerprint is carried by "), col("__c"),
        lit(s" chunks (> maxCarriers=$maxCarriers); run exact chunk " +
          "dedup first or raise the cap"))), "fingerprint")
    val sizes = fps.groupBy(col("__ck")).agg(count(lit(1)).as("__n"))
    val shared = guarded.select(col("fingerprint"), col("__ck").as("__cka"))
      .join(guarded.select(col("fingerprint"), col("__ck").as("__ckb")),
        Seq("fingerprint"))
      .filter(col("__cka") < col("__ckb"))
      .groupBy(col("__cka"), col("__ckb"))
      .agg(count(lit(1)).as("__shared"))
    val pairs = shared
      .join(sizes.select(col("__ck").as("__cka"), col("__n").as("__na")),
        Seq("__cka"))
      .join(sizes.select(col("__ck").as("__ckb"), col("__n").as("__nb")),
        Seq("__ckb"))
      .filter(col("__shared").cast("double") /
        (col("__na") + col("__nb") - col("__shared")).cast("double")
        >= minJaccard)
      .select(col("__cka").as("__ck_a"), col("__ckb").as("__ck_b"))
    // integral `div`, not `/`: Divide on longs evaluates in double, and
    // past 2^53 the rounded quotient decodes a WRONG doc id (the oracle
    // divides exactly) — round-14 review finding
    dupClusters(pairs, "__ck")
      .select(expr(s"__ck div $keyMul").as(idCol),
        pmod(col("__ck"), lit(keyMul)).as("chunk_id"),
        expr(s"cluster div $keyMul").as("cluster_doc"),
        pmod(col("cluster"), lit(keyMul)).as("cluster_chunk"),
        (col("__ck") === col("cluster")).as("is_keeper"))
  }

  /** LSH parameter planner: the banding S-curve table that picks
    * (bands b, rows-per-band r) for [[lshCandidatePairs]] given a target
    * similarity threshold. For every (r, b) with r·b = `numHashes` and
    * every similarity s on a 0.05 grid, emits the collision probability
    * `1 - (1 - s^r)^b` and the config's inflection threshold
    * `(1/b)^(1/r)` (Leskovec/Rajaraman/Ullman, MMDS ch. 3) — pick the
    * config whose threshold brackets the Jaccard you care about, read
    * its false-positive/negative mass off the curve. Pure closed-form
    * generation, |divisors|×19 rows; final values round to 6 dp (the
    * repo convention that absorbs cross-engine pow() ulp drift). */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    val cfg = spark.range(1, numHashes + 1)
      .filter(lit(numHashes) % col("id") === 0)
      .select(col("id").cast("int").as("r"),
        (lit(numHashes) / col("id")).cast("int").as("b"))
    val grid = spark.range(1, 20).select((col("id") * lit(0.05)).as("__s"))
    cfg.crossJoin(grid)
      .select(col("r"), col("b"),
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6)
          .as("threshold"),
        round(col("__s"), 2).as("s"),
        round(lit(1) - pow(lit(1) - pow(col("__s"), col("r")), col("b")), 6)
          .as("p_collide"))
  }

  /** Exact set-similarity self-join with prefix filtering: every document
    * pair whose token `shingleSize`-gram shingle sets have Jaccard >= tau,
    * with NO false negatives — the exact counterpart to the MinHash/LSH
    * pipeline ([[lshCandidatePairs]] trades recall for speed; this is the
    * AllPairs/PPJoin family: Bayardo et al., WWW'07; Vernica et al.,
    * SIGMOD'10 for the MapReduce shape). Returns
    * `(idCol_a, idCol_b, n_shared, jaccard)` with idCol_a < idCol_b.
    *
    * Why it never goes quadratic: a pair at Jaccard >= tau shares at
    * least ceil(tau*n) of either side's n shingles, so — ordering every
    * document's shingles by GLOBAL rarity (document frequency, then
    * shingle) — the smallest shared shingle must land in both documents'
    * first `n - ceil(tau*n) + 1` shingles (if it didn't, the >= ceil(tau*n)
    * shared shingles would all have to fit in the ceil(tau*n) - 1 slots
    * behind the prefix). Candidate generation therefore equi-joins only
    * the PREFIX explosions — dominated by rare shingles with tiny
    * buckets by construction — plus the Jaccard length filter
    * (min(na,nb) >= tau*max(na,nb)) at the join. Only surviving candidate
    * pairs pay the exact `array_intersect` verification.
    *
    * Plan shape: one shuffle for the shingle document-frequency
    * aggregation, one equi-join attaching df to the exploded shingles
    * (AQE broadcasts small vocabularies; degrades to a hash join on the
    * shingle key at corpus scale — never quadratic), one per-document
    * sort_array/collect_list aggregation (per-doc arrays are bounded by
    * document length), the prefix self-join, and the verify join back to
    * the two sorted-set arrays. The epsilon inside ceil() only ever
    * LENGTHENS a prefix (more candidates, same answer) — never shortens
    * it, which is the direction that would break exactness. */
  def similarityJoin(docs: DataFrame, textCol: String, idCol: String,
      tau: Double, shingleSize: Int = 3,
      persistSets: Boolean = true,
      // Width of the operator's OWN exchanges. Its shuffled stages are
      // CPU-bound (shingle-df join, per-doc set collection, the exact
      // array_intersect verify) — their parallelism should track the
      // CLUSTER's cores, not the session's reduce sizing tuned for
      // ordinary aggregations: at 8 session partitions on 32 cores the
      // whole pipeline measured 2.2 s vs 1.65 s at 32 (same-JVM
      // interleaved A/B, sf0.1). Default keeps the session conf.
      numPartitions: Option[Int] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"need 0 < tau <= 1: $tau")
    def widen(df: DataFrame, key: Column): DataFrame =
      numPartitions.map(n => df.repartition(n, key)).getOrElse(df)
    val shingled0 = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("__toks")) - (shingleSize - 1), lit(1))),
        i => concat_ws(" ", slice(col("__toks"), i, lit(shingleSize)))))).as("__g"))
    // one explicit hash exchange on the shingle key feeds BOTH the df
    // aggregation and the df-join probe side co-partitioned
    val shingled = widen(shingled0, col("__g"))
    val df = shingled.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    // Per-document shingle set, sorted rare-first under the global
    // (df, shingle) order; struct sort gives that order for free.
    val sets0 = widen(shingled.join(df, "__g"), col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("__g")))).as("__s"))
      .select(col(idCol),
        transform(col("__s"), s => s.getField("__g")).as("__set"),
        size(col("__s")).as("__n"))
    // `sets` feeds THREE consumers (the prefix explosion and both verify
    // sides); without the persist each re-derives the whole tokenize →
    // explode → df-join → collect chain. Same rationale as
    // [[lshCandidatePairs]]'s banded persist: at 100 TB the equivalent
    // is a temp-table write of the narrow (id, set, n) frame. Measured
    // at sf0.1 (same-JVM interleaved A/B, 2x3 reps): min 1.74 s with the
    // persist vs 2.89 s without, values identical.
    val sets = if (persistSets) sets0.persist() else sets0
    val prefixLen = (col("__n") - ceil(lit(tau) * col("__n") - lit(1e-9)) + 1)
      .cast("int")
    val prefixes = sets.select(col(idCol), col("__n"),
      explode(slice(col("__set"), lit(1), prefixLen)).as("__g"))
    val a = prefixes.alias("a")
    val b = prefixes.alias("b")
    val candidates = a
      .join(b, col("a.__g") === col("b.__g") &&
        col(s"a.$idCol") < col(s"b.$idCol") &&
        least(col("a.__n"), col("b.__n")).cast("double") >=
          lit(tau) * greatest(col("a.__n"), col("b.__n")).cast("double") - lit(1e-9))
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
      .distinct()
    candidates
      .join(sets.select(col(idCol).as(s"${idCol}_a"),
        col("__set").as("__sa"), col("__n").as("__na")), s"${idCol}_a")
      .join(sets.select(col(idCol).as(s"${idCol}_b"),
        col("__set").as("__sb"), col("__n").as("__nb")), s"${idCol}_b")
      .withColumn("n_shared",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")) >= lit(tau))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 6).as("jaccard"))
  }

  /** Cross-source n-gram overlap audit — for every pair of sources, how
    * many distinct token `shingleSize`-gram shingles they share and the
    * Jaccard of their shingle sets: the between-domain contamination /
    * syndication matrix a corpus card reports (high overlap between two
    * "independent" crawls means one republishes the other).
    *
    * Scale shape (round-13 rework — the [[Itemsets.coOccurrenceEdges]]
    * one-shuffle idiom): ONE hash aggregation collapses the exploded
    * (shingle, source) stream to a per-shingle sorted DISTINCT source
    * set (`collect_set` dedups multiplicity inside the aggregation
    * buffer, so the previous dedicated distinct exchange is gone), and
    * pairs expand map-side with a codegen'd nested-transform HOF over
    * the sorted set (a < b by construction) — the basket here is
    * sources-per-shingle, bounded by |sources| BY CONSTRUCTION, so the
    * fan-out cap the general edge builder enforces is structural.
    * Round 15 fused the per-source size roll-up into the pair
    * expansion: each set also emits one `(source, null)` singleton
    * struct, so ONE (a, b) aggregation yields pair counts AND sizes —
    * the heavy sets frame has a single consumer (its round-13/14
    * persist is gone, along with the two size passes that re-walked
    * it), only the tiny aggregated matrix (|sources|²/2 + |sources|
    * rows) persists, and the sizes attach as a 1-row
    * `map_from_entries` broadcast probed with `element_at` instead of
    * two broadcast hash joins (same-JVM interleaved A/B, warm
    * min-of-3: 0.67/0.68 s round-14 shape → 0.64/0.66 s fused-join →
    * 0.59/0.61 s fused-map).
    * The previous shape (distinct exchange + exchange-reused self-join
    * + pair agg) lost the round-13 same-JVM interleaved A/B at sf0.1
    * (warm rounds, min-of-3: 0.84 vs 0.75 s and 0.76 vs 0.68 s) — the
    * self-join and one full exchange buy nothing the in-buffer dedup
    * doesn't already do. Round 14 dropped the md5 over the shingle —
    * the hash was ONLY a grouping key (never output), the raw 3-token
    * string is shorter than the 32-char hex digest for natural-language
    * tokens, and grouping by the exact string removes both the hash
    * CPU (one md5 per exploded shingle) and the theoretical
    * collision-merge; same-JVM warm A/B: 0.62-0.74 s raw vs
    * 0.69-1.07 s hashed. (A corpus with pathological multi-KB tokens
    * would reintroduce wide shuffle keys — that corpus needs a
    * length-cap filter long before this operator.) Caller contract as
    * [[Curation.curate]]: clearCache between unrelated runs. */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
      shingleSize: Int): DataFrame = {
    val srcType = docs.schema(sourceCol).dataType
    val sets = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(sourceCol), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("__toks")) - (shingleSize - 1), lit(1))),
        i => concat_ws(" ", slice(col("__toks"), i, lit(shingleSize)))))).as("__g"))
      .groupBy(col("__g"))
      .agg(sort_array(collect_set(col(sourceCol))).as("__ss"))
    pairOverlapFromSets(sets, srcType)
  }

  /** [[sourceOverlap]]'s overlap matrix at WINNOW-FINGERPRINT cost:
    * the same `(source_a, source_b, n_shared, jaccard)` clone-coverage
    * panel, but the per-source unit is the [[winnow]] fingerprint set
    * (every ≥ w+k−1-token clone between two sources is guaranteed to
    * share a fingerprint) instead of the FULL distinct-shingle set —
    * ~2/(w+1) of the gram mass enters the pair aggregation, which is
    * the difference between auditing a 100 TB corpus's syndication
    * matrix on the full shingle stream and on its winnowed sketch.
    * Jaccard here is over fingerprint sets (a sketch-level overlap
    * rate, not [[sourceOverlap]]'s exact shingle Jaccard) — the two
    * panels rank pairs the same way on natural corpora; this one is
    * the scale path.
    *
    * Scale shape: the [[winnowFingerprints]] per-row pipeline keyed
    * directly by SOURCE (gram hashing + rolling minima inside each
    * doc's own arrays — no shuffle), one DISTINCT on (source,
    * fixed-width fingerprint), then [[sourceOverlap]]'s fused
    * pair+singleton aggregation (shared code): one hash agg to
    * per-fingerprint sorted source sets, map-side a<b pair expansion
    * bounded by |sources|, sizes riding the same aggregation as
    * singletons, one 1-row map broadcast. */
  def winnowSourceOverlap(docs: DataFrame, textCol: String,
      sourceCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: k=$k w=$w")
    val srcType = docs.schema(sourceCol).dataType
    val sets = winnowFingerprints(docs, col(textCol), Seq(col(sourceCol)),
        k, w)
      .groupBy(col("fingerprint"))
      .agg(sort_array(collect_set(col(sourceCol))).as("__ss"))
    pairOverlapFromSets(sets, srcType)
  }

  /** The shared back half of [[sourceOverlap]] / [[winnowSourceOverlap]]:
    * from per-unit sorted DISTINCT source sets (`__ss`) to the
    * `(source_a, source_b, n_shared, jaccard)` matrix via the round-15
    * fused pair+singleton aggregation. */
  private def pairOverlapFromSets(sets: DataFrame,
      srcType: org.apache.spark.sql.types.DataType): DataFrame = {
    // each per-unit sorted set emits its a<b pairs AND one
    // (source, null) singleton per member in the SAME explode, so one
    // aggregation yields both the shared counts and the per-source
    // distinct-unit sizes — the sets frame has a single consumer
    // (no persist) and the sizes roll-up no longer re-walks it
    val agged = sets
      .select(explode(concat(
        flatten(transform(col("__ss"), (x, i) =>
          transform(slice(col("__ss"), i + lit(2), size(col("__ss")) - i - 1),
            y => struct(x.as("a"), y.as("b"))))),
        transform(col("__ss"),
          x => struct(x.as("a"), lit(null).cast(srcType).as("b"))))).as("__pr"))
      .groupBy(col("__pr.a").as("__a"), col("__pr.b").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    // the sizes attach via ONE 1-row map broadcast + element_at lookups
    // (every pair member appeared as a singleton, so the keys always
    // exist) — two broadcast hash joins collapse to map probes
    val sizeMap = agged.filter(col("__b").isNull)
      .agg(map_from_entries(collect_list(struct(col("__a"), col("__n"))))
        .as("__m"))
    agged.filter(col("__b").isNotNull)
      .crossJoin(broadcast(sizeMap))
      .select(col("__a").as("source_a"), col("__b").as("source_b"),
        col("__n").as("n_shared"),
        round(col("__n").cast("double") /
          (element_at(col("__m"), col("__a")) +
            element_at(col("__m"), col("__b")) - col("__n")), 6)
          .as("jaccard"))
  }
}
