package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** Corpus-level statistics (north-star scope): the operators that look at
  * the whole collection rather than one document at a time.
  */
object CorpusStats {

  /** Per-document repetition signals, corpus-scale form: top-bigram
    * fraction and distinct-bigram ratio computed by explode + two-level
    * aggregation rather than the per-row nested-lambda expressions in
    * [[TextFunctions.topBigramFraction]] — those interpret
    * O(distinct × total) lambda pairs per document outside codegen
    * (measured 12× the oracle on 300-char docs, and quadratic in
    * document length), while this shape is all codegen'd hash
    * aggregation and handles arbitrarily long documents.
    *
    * One shuffle, not two: both aggregation keys start with the doc id,
    * so a single hash-repartition of the NARROW (id, text) rows up front
    * satisfies `ClusteredDistribution(id, bg)` and
    * `ClusteredDistribution(id)` alike — Catalyst inserts no further
    * exchange, and explode/shingle/count all run partition-local. The
    * alternative (shuffling exploded bigram counts) moves |distinct
    * bigrams per doc| rows — strictly more bytes than the raw text,
    * because doc id in the key defeats cross-document collapse. */
  def repetitionSignals(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), col(textCol))
      // explicit partition count: an un-sized repartition(col) lets AQE
      // coalesce by the exchange's BYTE size — raw text is tiny next to
      // its exploded shingles, so AQE merges to ~1 partition and the
      // entire shingle/aggregate pipeline above serializes (measured
      // 4.0 s vs 1.0 s at sf0.1)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol),
        explode(TextFunctions.tokenShingles(col(textCol), 2)).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        (max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("top_bigram_frac"),
        (count(lit(1)).cast("double") / sum(col("c")).cast("double"))
          .as("distinct_bigram_ratio"))

  /** Per-document rare-token statistics — the corpus-relative quality
    * signal behind C4/Gopher-style filters ("mostly rare tokens" ≈ noise,
    * "no rare tokens" ≈ boilerplate). A token is rare iff its corpus
    * frequency is below the corpus MEAN frequency; the comparison is the
    * integer cross-product `c · V < T` (count × vocab < total), never a
    * float threshold, so any SQL oracle reproduces it bit-exactly.
    *
    * Scale shape (round 7, the [[lmLogProb]] single-exchange form): ONE
    * hash partition of the narrow docs frame on the doc id carries the
    * (doc, token) tf collapse AND the final per-doc rollup; the corpus
    * frequency branch re-reads that same exchange's shuffle files
    * (ReuseExchange — no persisted cache, no parquet re-scan) and the
    * tf↔freq join is hint-free, so AQE broadcasts a small vocabulary
    * and shuffle-joins a web-scale one. Per-occurrence statistics are
    * recovered EXACTLY from the collapsed frame (n_tokens = Σtf,
    * n_rare = Σ tf·rare). An earlier round rejected a *persisted*
    * shared-tf variant as 2× slower — the shared-exchange form pays no
    * cache at all, which is why it wins where that one lost. At 100 TB,
    * persist `freq` alone as the trained model (the build/score
    * split). No driver collects. */
  def rareTokenStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // The [[lmLogProb]] single-exchange shape (round 7): one hash
    // partition of the narrow docs frame on the doc id carries the
    // (doc,token) collapse AND the final per-doc aggregation; the corpus
    // frequency branch re-reads the same exchange's shuffle files
    // (ReuseExchange) and joins hint-free, so AQE broadcasts a small
    // vocabulary and shuffle-joins a web-scale one. Per-occurrence
    // statistics are recovered exactly from the collapsed tf frame
    // (n_tokens = Σtf, n_rare = Σ tf·rare).
    val base = docs.repartition(col(idCol))
    val tf = base.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tf"))
    val freq = tf.groupBy(col("token")).agg(sum(col("__tf")).as("__c"))
    val tot = freq.agg(sum(col("__c")).as("__t"), count(lit(1)).as("__v"))
    // The cross-product runs in DECIMAL(38): at a 10^13-token corpus a
    // stopword's count × a 100M vocab exceeds Long and non-ANSI multiply
    // would wrap negative, silently classifying the COMMONEST tokens as
    // rare. Oracles mirror with HUGEINT (`CAST(c AS HUGEINT) * v < t`).
    val rare = when(
      col("__c").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("__v")
        < col("__t"), 1L).otherwise(0L)
    tf.join(freq, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_tokens"),
        sum(rare * col("__tf")).as("n_rare"),
        (sum(rare * col("__tf")).cast("double") /
          sum(col("__tf")).cast("double")).as("rare_frac"),
        min(col("__c")).as("min_cf"),
        max(col("__c")).as("max_cf"))
  }

  /** Corpus health report — the per-(source, lang) "corpus card" rollup a
    * curation pipeline publishes with every release: document and token
    * volume, mean type-token ratio, mean stopword ratio, and the
    * exact-duplicate fraction per cell.
    *
    * Scale shape: every per-text signal (token count, TTR, stopword
    * ratio, md5) is computed ONCE, map-side, in the first projection;
    * the raw text never enters a shuffle. The first aggregation
    * collapses to one row per (hash, source, lang) — signals ride along
    * via `min` since they are functions of the text — the corpus-wide
    * duplicate count is a sum over `Window.partitionBy(hash)` on that
    * narrow frame (fixed-width key; an aggregate + rejoin would re-run
    * the signal scan for the join branch), and the final rollup weights
    * each distinct text by its occurrence count. The earliest form
    * joined dup counts back to the FULL docs frame, pushing every text
    * byte through the join shuffle and tokenizing after it.
    * Mean doubles are rounded to 6 decimals per the repo's
    * float-association convention (the weighted regrouping changes
    * addition order only). */
  def corpusReport(docs: DataFrame, textCol: String,
      sourceCol: String, langCol: String): DataFrame = {
    val sig = docs.select(col(sourceCol), col(langCol),
      md5(col(textCol)).as("__h"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"),
      TextFunctions.typeTokenRatio(col(textCol)).as("__ttr"),
      TextFunctions.stopwordRatio(col(textCol)).as("__sw"))
    val grouped = sig.groupBy(col("__h"), col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__n"), min(col("__nt")).as("__nt"),
        min(col("__ttr")).as("__ttr"), min(col("__sw")).as("__sw"))
    grouped
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy(col("__h"))))
      .groupBy(col(sourceCol), col(langCol))
      .agg(
        sum(col("__n")).as("n_docs"),
        sum(col("__n") * col("__nt")).as("n_tokens"),
        round(sum(col("__n") * col("__ttr")) / sum(col("__n")), 6).as("mean_ttr"),
        round(sum(col("__n") * col("__sw")) / sum(col("__n")), 6)
          .as("mean_stopword_ratio"),
        round(sum(when(col("__tot") > 1, col("__n")).otherwise(0L))
          .cast("double") / sum(col("__n")), 6).as("dup_frac"))
  }

  /** Per-document character-level Shannon entropy — the model-free
    * gibberish/compression-junk detector (near-zero entropy = repeated
    * filler; near-log2|alphabet| = uniform noise; natural text sits in a
    * stable band). Computed from exact integer char counts as
    * `log2(N) - Σ c·log2(c) / N`, so both engines sum the same integer
    * histogram; the result is rounded to 6 decimals to absorb
    * last-ulp float-association differences, matching the repo's cosine
    * convention.
    *
    * Scale shape: explode to (doc, char) then two hash aggregations —
    * same plan family as [[repetitionSignals]]; per-char HOF lambdas
    * would interpret outside codegen (the measured simhash trap).
    * The char alphabet bounds the first agg's output at |docs|×|alphabet|
    * rows, so map-side partials collapse it hard. */
  def charEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // Both aggregations ride ONE doc-id hash partition of the narrow
    // docs frame (HashPartitioning(doc) satisfies the (doc,char)
    // grouping's clustered distribution too) — the round-7
    // single-exchange idiom; there is no corpus-level branch here at
    // all, so the whole operator is one exchange + two pipelined
    // aggregations.
    docs.repartition(col(idCol))
      .select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_chars"),
        round(log2(sum(col("__c"))) -
          sum(col("__c") * log2(col("__c"))) / sum(col("__c")), 6).as("entropy"))

  /** Per-source unigram-distribution KL divergence from the corpus
    * distribution — the mixture-audit signal of a corpus card: a source
    * whose token distribution diverges hard from the pooled corpus is
    * either a different register/language (check language ID) or
    * boilerplate/template spam (check dedup rates); a near-zero
    * divergence across all sources means the "independent" sources are
    * near-copies. `KL(pₛ ‖ p_c) = Σ_w pₛ(w) · ln(pₛ(w) / p_c(w))` in
    * nats, with the source's own tokens included in the corpus
    * distribution (so every source term has corpus support and the sum
    * is finite by construction).
    *
    * Scale shape: one corpus-order aggregation collapses the token
    * stream to the Zipf-collapsed (source, token) count table; the two
    * marginals ride windows OVER THAT COLLAPSED FRAME (per-source totals
    * on `partitionBy(source)`, per-token corpus counts on
    * `partitionBy(token)`) — two exchanges of |sources × vocab| rows,
    * never a rejoin that would re-run the tokenize scan (the q81/q68
    * lesson), and the final per-source reduction rides the source
    * window's partitioning with no further exchange. The corpus total is
    * a 1-row broadcast computed from the NARROW docs frame
    * (`sum(size(tokens))` — the closed form; re-aggregating the
    * collapsed frame would recompute its whole subtree). Per-term
    * doubles summed then rounded to 6 decimals per the repo's
    * float-association convention (the q79 precedent). */
  def sourceDivergence(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val counts = docs
      .select(col(sourceCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(sourceCol), col("token"))
      .agg(count(lit(1)).as("__c"))
    val total = docs.agg(
      sum(size(TextFunctions.tokens(col(textCol)))).as("__n"))
    val ws = Window.partitionBy(col(sourceCol))
    val wt = Window.partitionBy(col("token"))
    val ps = col("__c").cast("double") / col("__ns").cast("double")
    val pc = col("__nw").cast("double") / col("__n").cast("double")
    counts
      .withColumn("__nw", sum(col("__c")).over(wt))
      .withColumn("__ns", sum(col("__c")).over(ws))
      .crossJoin(broadcast(total))
      .groupBy(col(sourceCol))
      .agg(
        max(col("__ns")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        round(sum(ps * log(ps / pc)), 6).as("kl_nats"))
  }

  /** Per-document unigram-LM log-probability — the CCNet/Gopher-style
    * "perplexity proxy" quality signal: documents whose tokens are
    * improbable under a language model trained on the corpus itself are
    * likely noise; documents that are TOO probable are boilerplate. The
    * model is the corpus unigram distribution with add-k smoothing:
    * `logp(token) = ln(c + k) − ln(T + k·V)` (c = corpus count,
    * T = total tokens, V = vocabulary size), and the score is the mean
    * per-token log-prob. Both engines compute the identical per-token
    * expression from the same exact integers, then average — rounded to
    * 6 decimals per the repo's float-association convention.
    *
    * Scale shape: tokenize ONCE into the collapsed `(doc, token, tf)`
    * frame; the corpus frequency table, the vocabulary totals, and the
    * per-document score are all derived from it. Both the frequency
    * branch and the probe branch sit on the identical
    * `Exchange(hashpartitioning(doc, token))` subtree, so ReuseExchange
    * makes the explode + partial aggregation run once and the join
    * probes with distinct (doc, token) pairs instead of the full
    * occurrence stream — at web scale that is the difference between
    * shuffling every token instance and shuffling the per-doc term
    * dictionary. The instance-level mean is recovered exactly as the
    * tf-weighted mean `Σ tf·logp / Σ tf`. A real deployment would
    * persist `freq` as the trained model and score new batches against
    * it — the same build/score split as
    * [[graft.operators.TextDedup.buildBandIndex]]. */
  def lmLogProb(docs: DataFrame, textCol: String, idCol: String,
      addK: Double = 0.5): DataFrame = {
    // ONE exchange of the narrow docs frame, hash-partitioned on the doc
    // id: HashPartitioning(doc) satisfies the clustered distribution of
    // BOTH downstream groupings (doc,token) and (doc), so neither
    // aggregation adds an exchange, and the freq branch re-reads the same
    // exchange's shuffle files (physical ReuseExchange — pinned by
    // PlanShapeSpec) instead of re-scanning parquet. The tf↔freq join
    // carries no hint: AQE broadcasts the vocab when it is small (this
    // corpus) and falls back to a shuffle join when it is not (a web-scale
    // vocabulary does not broadcast). Measured at sf0.1: 0.74 s (window-df
    // shape) → 0.46 s. The explode runs once per branch ABOVE the shared
    // exchange — explode CPU is cheaper than a second full shuffle of the
    // collapsed tf frame, which is what the exchange-per-grouping shape
    // paid.
    val base = docs.repartition(col(idCol))
    val tf = base.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tf"))
    val freq = tf.groupBy(col("token")).agg(sum(col("__tf")).as("__c"))
    val tot = freq.agg(sum(col("__c")).as("__t"), count(lit(1)).as("__v"))
    val logp = log(col("__c") + addK) - log(col("__t") + col("__v") * addK)
    tf.join(freq, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(
        sum(col("__tf")).as("n_tokens"),
        round(sum(col("__tf") * logp) / sum(col("__tf")), 6).as("lm_logprob"))
  }

  /** Per-document TF-IDF top-`k` terms — the classic keyword/topic
    * signal (Spärck Jones '72), used in corpus curation for topical
    * mixture analysis and near-duplicate triage: `tf · ln(N / df)` with
    * raw term counts, ranked per document (rounded score DESC, token ASC
    * for an engine-independent total order).
    *
    * Scale shape (round 7, the [[lmLogProb]] single-exchange form): ONE
    * hash partition of the narrow docs frame on the doc id carries the
    * tf aggregation, the per-doc ranking window, AND the df branch —
    * HashPartitioning(doc) satisfies every downstream clustered
    * distribution, and the df branch re-reads the shared exchange's
    * shuffle files (ReuseExchange — works here precisely because the
    * shared node is a plain repartition exchange, unlike a groupBy's
    * partially-aggregated exchange, which a join can never reuse; that
    * is what sank the PRE-round-5 df-join form and why round 5 used a
    * token window instead, which paid a full tf-frame shuffle by
    * token). The tf↔df join carries no hint: AQE broadcasts a small
    * vocabulary, shuffle-joins a web-scale one. N is a 1-row broadcast.
    * The per-document ranking filter compiles to WindowGroupLimit, so
    * each partition keeps only k rows per document. */
  def tfIdfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    // Same single-exchange shape as [[lmLogProb]]: tf, df, and the
    // per-doc ranking window all ride ONE hash partition on the doc id
    // (df's tiny aggregate + hint-free join replaces the earlier
    // Window.partitionBy(token), which shuffled the full tf frame by
    // token). Measured at sf0.1: 0.73 s → 0.53 s. The per-document
    // ranking filter still compiles to WindowGroupLimit. Round 8: the
    // explode+groupBy TF prefix is collapsed into the codegen'd
    // [[TextFunctions.tokenTf]] map — one pass per document, no
    // aggregation, ~45% fewer exploded rows (occurrences → distincts).
    val base = docs.repartition(col(idCol))
    val tf = base
      .select(col(idCol), explode(TextFunctions.tokenTf(col(textCol))))
      .select(col(idCol), col("key").as("token"), col("value").as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf_idf").desc, col("token").asc)
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("rank"),
        col("token"), col("tf"), col("tf_idf"))
  }

  /** Domain-mixture budget plan — given a token budget expressed as a
    * fraction of the corpus and a per-source concentration cap, compute
    * each source's token allocation and keep ratio. The allocation is the
    * proportional share `floor(budget · tokens_src / tokens_total)`,
    * clamped by the source's own size and by `floor(budget · maxSourceFrac)`
    * (no single domain may dominate the mixture — the DoReMi/Pile-style
    * concentration guard). All shares are computed in exact integer /
    * DECIMAL(38) arithmetic — at a 10^13-token corpus the cross-product
    * `budget × tokens_src` exceeds Long, and a non-ANSI multiply would
    * wrap negative exactly like the [[rareTokenStats]] case; only the
    * final keep_ratio is a rounded double. Fractions are taken in parts
    * per million (integer) so both engines quantize identically.
    *
    * Scale shape: one explode-free per-source aggregation (token counts
    * come from the codegen'd [[TextFunctions.tokenCount]]), a 1-row
    * broadcast total, and arithmetic over |sources| rows. The plan frame
    * IS the sampling spec — feed keep_ratio to
    * [[Relational.weightedSample]] to materialize the mixture. */
  def mixturePlan(docs: DataFrame, textCol: String, sourceCol: String,
      budgetPpm: Long, maxSourcePpm: Long): DataFrame = {
    require(budgetPpm > 0 && budgetPpm <= 1000000L,
      s"budgetPpm must be in (0, 1e6]: $budgetPpm")
    require(maxSourcePpm > 0 && maxSourcePpm <= 1000000L,
      s"maxSourcePpm must be in (0, 1e6]: $maxSourcePpm")
    val dec38 = DecimalType(38, 0)
    // exact floor division: Spark's decimal `/` ROUNDS the quotient at
    // result scale, so floor(a/b) can disagree with true floor division
    // right at an integer boundary; (a - a mod b) / b has no remainder,
    // divides exactly, and mirrors SQL `//` bit-for-bit
    def floorDiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast(dec38)
    val perSource = docs
      .select(col(sourceCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("__total"))
    val budget = floorDiv(col("__total").cast(dec38) * budgetPpm, lit(1000000L))
    val share = floorDiv(budget * col("n_tokens").cast(dec38), col("__total"))
    val cap = floorDiv(budget * maxSourcePpm, lit(1000000L))
    val alloc = least(col("n_tokens").cast(dec38), share, cap)
    perSource.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        alloc.cast("long").as("alloc_tokens"),
        round(alloc.cast("double") / col("n_tokens").cast("double"), 6)
          .as("keep_ratio"))
  }

  /** Corpus-wide bigram collocations — adjacent token pairs ranked by
    * count with their pointwise mutual information
    * `ln( (c_xy / B) / ((c_x / U) · (c_y / U)) )` (B = total bigrams,
    * U = total unigrams): the classic collocation / multi-word-expression
    * detector (Church & Hanks '90), used in curation to spot templated
    * boilerplate (high count, low PMI) vs genuine phrases. All counts are
    * exact integers aggregated identically in both engines; the single
    * `ln` of their ratio is rounded to 6 decimals per the repo's
    * float-association convention.
    *
    * Scale shape: the corpus is tokenized ONCE — each token explodes as
    * a `(w1, w2)` pair where `w2` is the next token or an end-of-doc
    * sentinel (a single space: tokens are space-split, so no token can
    * ever equal it), and ONE corpus-wide `(w1, w2)` count collapses the
    * exploded frame before anything branches. Every downstream frame
    * (unigram counts: sum over each `w1`, since every token occurrence
    * is exactly one row's `w1`; bigram counts: the non-sentinel rows;
    * totals) re-aggregates that Zipf-collapsed count table, so all
    * consumers share the single aggregation exchange (ReuseExchange)
    * and the tokenize/explode scan runs once — persisting the exploded
    * frame instead was measured net-negative (a memory-store round trip
    * of every token pair). The top-k by raw count runs BEFORE the
    * unigram lookups — the ranking orders by `n_pair` alone, so joining
    * `uni` against the k surviving pairs (broadcast k rows, stream the
    * vocabulary) replaces two corpus-vocabulary joins of the full
    * bigram table.
    *
    * Caller contract (same as [[Curation.curate]]): the collapsed count
    * table stays `persist()`ed after the action so repeated calls in one
    * session reuse it; library callers running many corpora through one
    * session should `spark.catalog.clearCache()` between invocations or
    * the cached blocks accumulate. */
  def collocations(docs: DataFrame, textCol: String, idCol: String,
      topK: Int): DataFrame = {
    val t = TextFunctions.tokens(col(textCol))
    val sentinel = " "
    val g0 = docs
      .select(explode(transform(sequence(lit(1), size(t)),
        i => struct(element_at(t, i).as("w1"),
          // try_element_at: one-past-the-end reads null (ANSI
          // element_at raises), which the sentinel then replaces
          coalesce(try_element_at(t, i + 1), lit(sentinel)).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c"))
      // persist the COLLAPSED count table (|distinct bigrams| rows, not
      // |tokens|): five consumers (uni twice, bigram filter, two totals)
      // hang off it and exchange reuse does not span their differing
      // parent aggregates — measured 7 s unpersisted vs 0.6 s persisted
      // at sf0.1, vs 1.2 s persisting the pre-collapse exploded frame
      .persist()
    val uni = g0.groupBy(col("w1")).agg(sum(col("__c")).as("__c"))
    val bigrams = g0.filter(col("w2") =!= sentinel)
      .select(col("w1"), col("w2"), col("__c").as("n_pair"))
    val top = bigrams
      .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    val totals = uni.agg(sum(col("__c")).as("__u"))
      .crossJoin(bigrams.agg(sum(col("n_pair")).as("__b")))
    broadcast(top)
      .join(uni.select(col("w1"), col("__c").as("__c1")), "w1")
      .join(uni.select(col("w1").as("w2"), col("__c").as("__c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          (col("n_pair").cast("double") / col("__b")) /
            ((col("__c1").cast("double") / col("__u")) *
              (col("__c2").cast("double") / col("__u")))), 6).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
  }

  /** Windowed co-occurrence with PPMI (Church & Hanks '90; the
    * count matrix behind PPMI word vectors, Levy & Goldberg '14):
    * unordered token pairs within ±`window` positions, scored
    * ppmi = max(0, ln(P(a,b) / (P(a)·P(b)))). [[collocations]] is the
    * adjacent directional special case; this is the skip-gram
    * generalization a distributional-semantics pipeline feeds on.
    *
    * Single-Generate design (the [[collocations]] sentinel trick,
    * generalized): each doc emits ONE array holding both its unigram
    * entries (w, sentinel) and its pair entries — `zip_with` over
    * offset-`j` slices for j = 1..window, flattened — so one explode and
    * one collapsed count aggregation carry unigram counts, pair counts,
    * and both totals. A second tokenize scan for the unigram table (the
    * q110 double-scan trap) never exists. Top-k by raw count runs
    * BEFORE the unigram lookups: the k surviving rows broadcast against
    * the vocabulary instead of joining the full pair table twice.
    *
    * The count table persists collapsed (|distinct pairs| rows) for its
    * four consumers — same caller contract as [[collocations]]:
    * `spark.catalog.clearCache()` between corpora in a shared session. */
  def cooccurrencePmi(docs: DataFrame, textCol: String, window: Int,
      topK: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val t = TextFunctions.tokens(col(textCol))
    val sentinel = " "
    val entries = concat(
      transform(t, w => struct(w.as("w1"), lit(sentinel).as("w2"))),
      flatten(transform(sequence(lit(1), lit(window)), j => {
        // slice length clamps at 0: sequence(1, size-j) would run
        // DESCENDING for short docs (Spark's auto step -1) and read
        // element_at(t, 0) — an ANSI error slice never reaches
        val len = greatest(size(t) - j, lit(0))
        zip_with(slice(t, lit(1), len), slice(t, j + 1, len),
          (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))
      })))
    val g0 = docs
      .select(explode(entries).as("e"))
      .select(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c"))
      .persist()
    val uni = g0.filter(col("w2") === sentinel)
      .select(col("w1"), col("__c"))
    val pairs = g0.filter(col("w2") =!= sentinel)
      .select(col("w1"), col("w2"), col("__c").as("n_pair"))
    val top = pairs
      .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    val totals = uni.agg(sum(col("__c")).as("__u"))
      .crossJoin(pairs.agg(sum(col("n_pair")).as("__b")))
    broadcast(top)
      .join(uni.select(col("w1"), col("__c").as("__c1")), "w1")
      .join(uni.select(col("w1").as("w2"), col("__c").as("__c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(greatest(lit(0.0), log(
          (col("n_pair").cast("double") / col("__b")) /
            ((col("__c1").cast("double") / col("__u")) *
              (col("__c2").cast("double") / col("__u"))))), 6).as("ppmi"))
      .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
  }

  /** Per-source NFC normalization audit: how much of the corpus is not
    * in Unicode canonical form (combining sequences, compatibility
    * leftovers) — the text-hygiene gate that decides whether a
    * normalization pass must precede exact/near dedup (non-NFC
    * duplicates hash apart and silently survive exact dedup).
    *
    * Per-row work is one codegen'd [[graft.expressions.NfcNormalize]]
    * probe (ASCII fast path skips the normalizer entirely), then one
    * |sources|-row aggregation — no shuffle wider than the group-by. */
  def normalizationAudit(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val nfc = ColumnBridge.column(
      graft.expressions.NfcNormalize(ColumnBridge.expression(col(textCol))))
    docs
      .select(col(sourceCol), col(textCol).as("__t"), nfc.as("__n"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n") =!= col("__t"), 1L).otherwise(0L))
          .as("n_denorm"),
        sum(length(col("__t")) - length(col("__n"))).as("chars_saved"))
      .withColumn("denorm_pct",
        round(col("n_denorm").cast("double") / col("n_docs"), 6))
  }

  /** Per-source token-length deciles — the length-distribution panel of a
    * corpus card (truncation rates, packing efficiency, and outlier
    * filters all read off it). Deciles are ORDER STATISTICS, not
    * interpolated quantiles: the value at rank `ceil(n · k/10)` within
    * each source, so both engines select the same exact integer and no
    * float interpolation can diverge (the q45 construction).
    *
    * Scale shape: one codegen'd per-row token count, one
    * `row_number`-within-source window, and a |sources|-row pivot
    * aggregation. The window partitions by source — the documented
    * low-cardinality caveat applies, and [[Relational.groupedRowNumber]]
    * is the drop-in replacement when sources are few and huge. */
  def lengthDeciles(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String): DataFrame = {
    val lens = docs.select(col(sourceCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"),
      col(idCol).as("__id"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("__nt").asc, col("__id").asc)
    // group sizes via an unordered COUNT window over the same partition
    // key: it rides the row_number window's exchange+sort (chained
    // WindowExecs, no new shuffle), where the earlier broadcast-joined
    // pre-aggregation re-ran the tokenizing scan for its second branch
    val ranked = lens
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(sourceCol))))
    val decile = (k: Int) =>
      max(when(col("__rn") === ceil(col("__n") * k / 10.0), col("__nt")))
        .as(s"p$k" + "0")
    ranked.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), decile(1), decile(2), decile(3),
        decile(4), decile(5), decile(6), decile(7), decile(8), decile(9))
  }

  /** Vocabulary build: token → document frequency + total count, pruned
    * to `minCount` occurrences, truncated to the `topK` most frequent
    * (count desc, token asc for determinism).
    *
    * Scale shape: explode-then-aggregate is the canonical corpus
    * word-count — partial aggregation collapses each partition's token
    * counts BEFORE the single hash shuffle on token, so shuffle volume is
    * per-partition-distinct tokens, not total tokens (Zipf makes that
    * collapse enormous). The final top-k is TakeOrderedAndProject: no
    * global sort. Skewed tokens ("the") are exactly what map-side
    * partial aggregation absorbs — no salting needed. */
  def vocabulary(docs: DataFrame, textCol: String, idCol: String,
      minCount: Long, topK: Int): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("token").asc)
      .limit(topK)

  /** Per-document n-gram novelty — the fraction of a document's DISTINCT
    * token `n`-grams that no lower-id document contains (by the corpus
    * order `idCol`, the ingest order in practice). Web crawls go stale:
    * late documents that say almost nothing new are syndication and
    * boilerplate; a falling corpus-wide novelty curve says the crawl has
    * saturated (the marginal-value-of-data curve from the scaling-law
    * literature, computed exactly).
    *
    * Scale shape: each document's gram-hash rows carry the gram's
    * first-carrier id via `min` over `Window.partitionBy(hash)` — ONE
    * shuffle of the exploded frame on the fixed-width md5 key, replacing
    * the earlier first-id aggregate + rejoin whose join branch re-ran
    * the shingle/md5 explode (a partial-agg exchange is not reusable by
    * a join on the same key); the per-document ratio is a second small
    * aggregation. Never quadratic. */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val grams = docs
      .select(col(idCol), explode(array_distinct(
        TextFunctions.tokenShingles(col(textCol), n))).as("__g"))
      .select(col(idCol), md5(col("__g")).as("__h"))
    grams
      .withColumn("__first", min(col(idCol)).over(Window.partitionBy(col("__h"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col(idCol) === col("__first"), 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novelty_ratio"))
  }

  /** Per-source robust length outliers: exact median and MAD (median
    * absolute deviation) of the token count, and how many documents sit
    * beyond `cutoff` MADs — the robust-statistics alternative to
    * mean/stddev outlier fences (a handful of 10M-token concatenation
    * bugs move a mean arbitrarily but cannot move a median). Both
    * medians are exact order statistics at rank `ceil(n/2)`, so any SQL
    * oracle selects the same integers.
    *
    * Scale shape: token counts are SMALL INTEGERS, so the docs are
    * scanned ONCE into a `(source, length) → count` histogram (map-side
    * partial aggregation; the histogram is bounded by |sources| ×
    * distinct lengths, not |docs|) and both rank selections run as
    * cumulative sums over that tiny frame — no per-source row_number
    * window over the documents, no second scan of the text column. The
    * deviation histogram re-aggregates the length histogram, not the
    * corpus. Each median selection is cumsum + total windows sharing
    * one exchange (the unordered total rides the cumsum sort) — no
    * size-aggregate rejoin. The histogram branches are NOT persisted:
    * the re-aggregated tokenize scan is map-side cheap and persisting
    * was measured ~40% slower at sf0.1 (materialization cost on frames
    * this hot path never rereads enough to amortize). (The earliest
    * window-median form re-ran the tokenizing scan for each of its
    * three consumers and sorted all docs per source twice — measured
    * 1.1 s → ~0.3 s at sf0.1.) */
  def lengthOutliers(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, cutoff: Double): DataFrame = {
    val hist = docs.groupBy(col(sourceCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__nt"))
      .agg(count(lit(1)).as("__c"))
    // rank of the median in each source's sorted length list
    def medianFromHist(h: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy(col(sourceCol)).orderBy(col(v).asc)
      h.withColumn("__cum", sum(col("__c")).over(w))
        .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(sourceCol))))
        .filter(col("__cum") >= ceil(col("__n") / 2.0))
        .groupBy(col(sourceCol)).agg(min(col(v)).as("__med"))
    }
    val med = medianFromHist(hist, "__nt")
    val devHist = hist.join(broadcast(med), sourceCol)
      .groupBy(col(sourceCol), abs(col("__nt") - col("__med")).as("__ad"))
      .agg(sum(col("__c")).as("__c"), max(col("__med")).as("__med"))
    val mad = medianFromHist(devHist, "__ad")
      .withColumnRenamed("__med", "__mad")
    devHist.join(broadcast(mad), sourceCol)
      .groupBy(col(sourceCol))
      .agg(sum(col("__c")).as("n_docs"),
        max(col("__med")).as("median_tokens"),
        max(col("__mad")).as("mad_tokens"),
        sum(when(col("__ad") > lit(cutoff) * col("__mad"), col("__c"))
          .otherwise(0L)).as("n_outliers"))
  }

  /** Per-source out-of-vocabulary rate under a frequency-threshold
    * vocabulary — the tokenizer-coverage audit: a source whose token
    * stream keeps falling outside the corpus vocabulary (rare spellings,
    * markup, another language's words) will fragment into byte-fallback
    * pieces under a real tokenizer and burn sequence budget. Vocabulary
    * contract: a token is in-vocabulary iff its CORPUS count ≥
    * `minCount` (the threshold form; a fixed-size top-K vocabulary
    * composes as [[vocabulary]] → broadcast join instead, at the cost of
    * a global top-k cut).
    *
    * Scale shape: the threshold contract is what makes this one pass —
    * membership is `corpus_count ≥ minCount`, a predicate on the token
    * marginal, so it rides `sum over Window.partitionBy(token)` ON the
    * Zipf-collapsed (source, token) count table (the [[sourceDivergence]]
    * plan family: one corpus-order aggregation, then window + final
    * reduction over collapsed rows only — no vocab join, no second
    * tokenize scan, no persist). A top-K vocabulary would instead force
    * rank-vs-cutoff through a global sort of the marginal. */
  def oovRate(docs: DataFrame, textCol: String, sourceCol: String,
      minCount: Long): DataFrame = {
    val counts = docs
      .select(col(sourceCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col(sourceCol), col("token"))
      .agg(count(lit(1)).as("__c"))
    val oov = sum(col("__c")).over(Window.partitionBy(col("token"))) <
      lit(minCount)
    counts
      .withColumn("__oov", oov)
      .groupBy(col(sourceCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        sum(when(col("__oov"), col("__c")).otherwise(0L)).as("oov_tokens"),
        sum(when(col("__oov"), 1L).otherwise(0L)).as("oov_types"),
        round(sum(when(col("__oov"), col("__c")).otherwise(0L))
          .cast("double") / sum(col("__c")).cast("double"), 6).as("oov_rate"))
  }

  /** Vocabulary coverage curve (the Zipf head/tail audit): for each
    * coverage threshold (in ppm of the corpus token stream), the minimum
    * number of vocabulary types — taken most-frequent-first — whose
    * occurrences reach that share. The corpus card reads tokenizer
    * economics straight off it ("512 types cover 90%; the last 1% costs
    * 40k types"), and a coverage curve that flattens early says the
    * corpus is template spam, not prose.
    *
    * Scale shape: the only corpus-order work is the token count
    * aggregation; everything after rides the COUNT-OF-COUNTS histogram
    * (count value → how many types have it), which is tiny at any corpus
    * size (|distinct count values| = O(√tokens) under Zipf — thousands
    * of rows at 100 TB). The global-order cumulative window runs over
    * that histogram, never over the vocabulary, and the threshold cut is
    * exact integer arithmetic: within a count class every type
    * contributes exactly `c` tokens, so the partial take is
    * `ceil((target − cum_before) / c)` — no per-type sort anywhere
    * (the [[lengthOutliers]] histogram-order-statistics trick applied to
    * the vocabulary axis). */
  def zipfCoverage(docs: DataFrame, textCol: String,
      thresholdsPpm: Seq[Long]): DataFrame = {
    require(thresholdsPpm.nonEmpty &&
      thresholdsPpm.forall(p => p > 0 && p <= 1000000L),
      s"thresholds must be ppm in (0, 1e6]: $thresholdsPpm")
    val counts = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val hist = counts.groupBy(col("__c")).agg(count(lit(1)).as("__nt"))
    val w = Window.orderBy(col("__c").desc)
    // totals ride a FULL-frame window over the same (tiny, already
    // single-partition) histogram ordering — a separate hist.agg branch
    // would duplicate the whole token-explode subtree in the plan
    // (Catalyst re-executes shared DataFrames per consumer), doubling
    // the corpus-order work; PlanShapeSpec pins the single Generate
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("__cumtok", sum(col("__c") * col("__nt")).over(w))
      .withColumn("__cumtyp", sum(col("__nt")).over(w))
      .withColumn("__tt", sum(col("__c") * col("__nt")).over(wAll))
      .withColumn("__ty", sum(col("__nt")).over(wAll))
    val th = docs.sparkSession.range(1)
      .select(explode(lit(thresholdsPpm.toArray)).as("ppm"))
    // ceil(tt · ppm / 1e6) exactly: the tt·ppm product runs in
    // DECIMAL(38) (a LONG product would hit 2^63 at ~9.2e12 corpus
    // tokens — real at the 100 TB scale this operator claims); the
    // subtract-pmod form divides with no remainder so the decimal
    // quotient is exact (the skewAudit idiom), and the result is ≤ tt,
    // safely back in LONG
    val a = col("__tt").cast(DecimalType(38, 0)) * col("ppm") + lit(999999L)
    cum.crossJoin(broadcast(th))
      .withColumn("__target",
        ((a - pmod(a, lit(1000000L))) / lit(1000000L)).cast("long"))
      .filter(col("__cumtok") >= col("__target"))
      // first qualifying class: full classes before it + the partial take
      .withColumn("__ntypes", col("__cumtyp") - col("__nt") +
        expr("(__target - (__cumtok - __c * __nt) + __c - 1) div __c"))
      .groupBy(col("ppm").as("threshold_ppm"))
      .agg(
        max(col("__target")).as("target_tokens"),
        min_by(col("__ntypes"), col("__cumtyp")).as("n_types"),
        max(col("__ty")).as("total_types"),
        max(col("__tt")).as("total_tokens"))
  }

  /** Gopher-style quality-rule pass rates per source (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", §A1.1 heuristics adapted to
    * the corpus's whitespace tokens): word count within
    * [`minWords`, `maxWords`], mean word length within [`minMeanLen`,
    * `maxMeanLen`], and at least `minStopTypes` DISTINCT stopwords (the
    * "contains common English words" rule — near-zero distinct stopwords
    * means tables/code/boilerplate, not prose). Reported as per-source
    * counts so the release gate reads pass_rate per slice, not a corpus
    * scalar that hides a bad source.
    *
    * Scale shape: every rule is a per-row codegen'd expression over one
    * scan (no shuffle before the final per-source reduction); the
    * distinct-stopword rule filters the materialized token array against
    * a 10-element literal set — O(tokens) per row, not O(tokens ×
    * corpus). Mean-length comparisons are exact-integer divisions done
    * identically in IEEE double by any engine, so the rule boundary is
    * deterministic cross-engine. */
  def qualityRules(docs: DataFrame, textCol: String, sourceCol: String,
      minWords: Long = 20L, maxWords: Long = 80L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 4.5,
      minStopTypes: Int = 2): DataFrame = {
    val t = TextFunctions.tokens(col(textCol))
    val nTok = size(t).cast("long")
    val meanLen = length(regexp_replace(col(textCol), " ", ""))
      .cast("double") / nTok.cast("double")
    val sw = array(TextFunctions.stopwords.map(lit): _*)
    val stopTypes = size(array_distinct(filter(t, x => array_contains(sw, x))))
    val rWords = nTok.between(minWords, maxWords)
    val rMean = meanLen.between(minMeanLen, maxMeanLen)
    val rStop = stopTypes >= minStopTypes
    def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    docs
      .select(col(sourceCol), rWords.as("__rw"), rMean.as("__rm"),
        rStop.as("__rs"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        n(col("__rw")).as("n_pass_words"),
        n(col("__rm")).as("n_pass_meanlen"),
        n(col("__rs")).as("n_pass_stopwords"),
        n(col("__rw") && col("__rm") && col("__rs")).as("n_pass_all"),
        round(n(col("__rw") && col("__rm") && col("__rs")).cast("double") /
          count(lit(1)).cast("double"), 6).as("pass_rate"))
  }

  /** Held-out bigram negative log-likelihood under an add-k (Laplace)
    * bigram language model trained on the REST of the corpus — the
    * classic intrinsic quality signal ("how predictable is this slice
    * under the corpus's own statistics?") that, unlike [[lmQuality]]'s
    * per-document heuristics, actually conditions on context. Docs with
    * `id % holdoutMod == 0` are held out; the others train.
    *
    * Model: `P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)` with `c(w1)` the
    * trained CONTEXT count (Σ over following tokens, so the distribution
    * sums to 1 over the vocabulary) and `V` the trained vocabulary size;
    * an unseen context backs off to the uniform `k/(k·V)`. Per group:
    * `(group, n_docs, n_bigrams, avg_nll)` in nats, rounded 6.
    *
    * Scale shape: bigrams build per-row (slice + zip + explode — no
    * positional self-join) and feed ONE (held, group, w1, w2) type
    * collapse, so the corpus's bigram stream is exploded and shuffled
    * exactly once; train counts, context marginals, and the held-out
    * scoring frame all derive from that bounded type table. Scoring is
    * one equi-join of held-out bigram TYPES (the join carries distinct
    * bigrams × their count, not occurrences) against the trained
    * counts; V rides a 1-row broadcast. The zip pairs the FULL token
    * array with its shifted tail, so `arrays_zip` null-pads one final
    * `(w_n, null)` entry per document: bigram types are the
    * `__w2 IS NOT NULL` rows, and the trained vocabulary is
    * `count_distinct(__w1)` over the SAME type table (every token
    * occurrence appears exactly once as `__w1`, including single-token
    * docs). Held docs with ≥ 1 bigram additionally append one
    * `(null, null)` sentinel struct (real tokens are never null, so the
    * key can't collide), and the per-group held-doc count is the
    * sentinel rows' `__n` — so the ENTIRE operator (model counts,
    * vocabulary, held types, doc counts) derives from ONE corpus scan,
    * one explode, one type collapse. (The earlier form re-exploded the
    * corpus for the vocabulary count and re-tokenized it for the
    * held-doc count — two extra full scans at 100 TB; PlanShapeSpec
    * pins the zero-extra-Generate path.) */
  def bigramNll(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, holdoutMod: Int = 10, k: Double = 1.0): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    // one explode → one type collapse: every downstream frame is a
    // re-aggregation of this bounded (held, group, bigram) table.
    // PERSISTED, not merely shared: the three consumers push different
    // isnotnull join filters below the aggregation, so their exchange
    // subtrees canonicalize differently and ReuseExchange does NOT fire
    // (verified on the executed plan — three separate corpus explodes
    // without the persist); the cached frame is bounded by the bigram
    // TYPE domain, the one thing Zipf keeps small. Local cost of the
    // materialization at sf0.1: ~0.2 s (Prof 1.51 s unpersisted vs
    // 1.68 s persisted, within host swing) — accepted, because the
    // unpersisted shape's three full corpus explodes are the 100 TB
    // killer the local numbers can't see
    // full array zipped against its tail: arrays_zip null-pads the
    // shorter side, so the last entry per doc is (w_n, null) — a
    // vocabulary carrier, not a bigram
    val zipped = arrays_zip(toks,
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
    // held docs with >= 1 bigram carry one (null, null) sentinel: its
    // type row's __n is the per-group held-doc count (no second scan)
    val sentinel = array(struct(lit(null).cast("string").as("0"),
      lit(null).cast("string").as("1")))
    val typeTable = docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("__g"), held.as("__held"),
        explode(when(held && size(toks) >= 2, concat(zipped, sentinel))
          .otherwise(zipped)).as("__bg"))
      .groupBy(col("__held"), col("__g"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val cb = typeTable.filter(!col("__held") && col("__w2").isNotNull)
      .groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__n")).as("__cb"))
    val cu = cb.groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    val vocab = typeTable.filter(!col("__held"))
      .agg(count_distinct(col("__w1")).as("__v"))
    val heldTypes = typeTable.filter(col("__held") && col("__w2").isNotNull)
      .select(col("__g"), col("__w1"), col("__w2"), col("__n"))
    val nDocs = typeTable
      .filter(col("__held") && col("__w1").isNull)
      .select(col("__g"), col("__n").as("n_docs"))
    val scored = heldTypes
      .join(cb, Seq("__w1", "__w2"), "left")
      .join(cu, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__g"), col("__n"),
        (-log((coalesce(col("__cb"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("__cu"), lit(0L)).cast("double") +
            lit(k) * col("__v").cast("double")))).as("__nll"))
    scored.groupBy(col("__g"))
      .agg(sum(col("__n")).as("n_bigrams"),
        round(sum(col("__nll") * col("__n").cast("double")) /
          sum(col("__n")).cast("double"), 6).as("avg_nll"))
      .join(nDocs, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_docs"), col("n_bigrams"),
        col("avg_nll"))
  }

  /** Per-DOCUMENT held-out bigram NLL — [[bigramNll]] re-keyed to the
    * document: the CCNet perplexity-filter signal (Wenzek et al. 2020
    * score with a corpus-internal LM instead of an external KenLM): a
    * document whose bigrams are cheap under the rest of the corpus's
    * add-k bigram model is ordinary prose; an expensive one is
    * gibberish, boilerplate-mangled, or off-distribution — exactly the
    * tails a quality threshold cuts. The LM trains on the
    * `idCol % holdoutMod != 0` split and scores the held-out docs, so
    * no document is scored by a model that saw it.
    *
    * Returns one row per held-out doc with ≥ 1 bigram: `(idCol,
    * n_bigrams, avg_nll)` (rounded at 6; per-doc type-sum fold noise is
    * well under the rounding).
    *
    * Scale shape: the [[bigramNll]] discipline — ONE bigram explode
    * collapses immediately to a (held, doc-or-corpus, w1, w2) TYPE
    * table (persisted: the train and held consumers push different
    * filters, so their exchanges don't canonicalize equal), the model
    * counts are re-aggregations of that bounded table, the vocab size
    * is a 1-row broadcast, and the scoring join is per held TYPE, never
    * per occurrence. Caller contract as [[Curation.curate]]:
    * clearCache between unrelated runs. */
  def docNll(docs: DataFrame, textCol: String, idCol: String,
      holdoutMod: Int = 10, k: Double = 1.0): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    val typeTable = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        // bigramNll's padded zip: the per-doc (w_n, null) tail row
        // carries the final token into the vocabulary without a second
        // corpus explode
        explode(arrays_zip(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("__bg"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val cb = typeTable.filter(!col("__held") && col("__w2").isNotNull)
      .groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__n")).as("__cb"))
    val cu = cb.groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    val vocab = typeTable.filter(!col("__held"))
      .agg(count_distinct(col("__w1")).as("__v"))
    typeTable.filter(col("__held") && col("__w2").isNotNull)
      .join(cb, Seq("__w1", "__w2"), "left")
      .join(cu, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__id"), col("__n"),
        (-log((coalesce(col("__cb"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("__cu"), lit(0L)).cast("double") +
            lit(k) * col("__v").cast("double")))).as("__nll"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_bigrams"),
        round(sum(col("__nll") * col("__n").cast("double")) /
          sum(col("__n")).cast("double"), 6).as("avg_nll"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("avg_nll"))
  }

  /** Per-document held-out KNESER-NEY bigram NLL — the discounting
    * family's classic member (Kneser & Ney 1995; Chen & Goodman 1998's
    * empirical winner), one rung above [[docNll]]'s add-k and
    * [[docNllInterpolated]]'s Jelinek-Mercer: the bigram probability is
    * the absolute-discounted ML estimate plus a history-dependent
    * back-off weight times the CONTINUATION probability — "how many
    * distinct histories does w2 follow?" rather than "how often does w2
    * occur?" — which is what demotes high-frequency-but-bound tokens
    * (the 'Francisco' problem).
    *
    * Exact model scored (all counts integer-exact from the train
    * split, D = 0.75 fixed):
    * {{{
    *   Pc(w2)      = (N1+(·,w2) + 1) / (T + V)        // add-one on the
    *                                                   // continuation so
    *                                                   // unseen w2 stays
    *                                                   // finite
    *   P(w2|w1)    = (max(c(w1,w2) − D, 0) + D·N1+(w1,·)·Pc(w2)) / c(w1)
    *   P(w2|w1)    = Pc(w2)                            // unseen history
    * }}}
    * with `N1+(w1,·)` = distinct continuations of w1, `N1+(·,w2)` =
    * distinct histories of w2, `T` = total bigram types, `V` = train
    * vocabulary. Trains on `idCol % holdoutMod != 0`, scores held docs
    * with ≥ 1 bigram. Returns `(idCol, n_bigrams, avg_nll)` (rounded
    * at 6).
    *
    * Scale shape: [[docNll]]'s exactly — ONE padded-zip bigram explode
    * collapses to the persisted (held, doc-or-corpus, w1, w2) TYPE
    * table; ALL the KN statistics (c(w1,w2), c(w1), both N1+ tables,
    * T) are re-aggregations of the bounded `cb` type table (the fusion
    * dividing line: these derived stats are type-bounded and SMALL,
    * the case where sharing wins); T and V ride one 1-row broadcast;
    * scoring is a chain of hash joins per held TYPE. Caller contract
    * as [[Curation.curate]]: clearCache between unrelated runs. */
  def docNllKneserNey(docs: DataFrame, textCol: String, idCol: String,
      holdoutMod: Int = 10, discount: Double = 0.75): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(discount > 0 && discount < 1,
      s"KN absolute discount must be in (0,1): $discount")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    val typeTable = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        explode(arrays_zip(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("__bg"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val cb = typeTable.filter(!col("__held") && col("__w2").isNotNull)
      .groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__n")).as("__cb"))
      // FOUR consumers below (cun, n1r, T, the scoring join) — the same
      // reuse argument as the type table itself
      .persist()
    // history mass and distinct-continuation count share one pass
    val cun = cb.groupBy(col("__w1"))
      .agg(sum(col("__cb")).as("__cu"), count(lit(1)).as("__n1l"))
    val n1r = cb.groupBy(col("__w2")).agg(count(lit(1)).as("__n1r"))
    // T and V as ONE 1-row broadcast (crossJoin of two 1-row aggs)
    val consts = cb.agg(count(lit(1)).as("__t"))
      .crossJoin(typeTable.filter(!col("__held"))
        .agg(count_distinct(col("__w1")).as("__v")))
    val d = lit(discount)
    val pc = (coalesce(col("__n1r"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__t").cast("double") + col("__v").cast("double"))
    val p = when(col("__cu").isNull, pc).otherwise(
      (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d,
        lit(0.0)) + d * col("__n1l").cast("double") * pc) /
        col("__cu").cast("double"))
    typeTable.filter(col("__held") && col("__w2").isNotNull)
      .join(cb, Seq("__w1", "__w2"), "left")
      .join(cun, Seq("__w1"), "left")
      .join(n1r, Seq("__w2"), "left")
      .crossJoin(broadcast(consts))
      .select(col("__id"), col("__n"), (-log(p)).as("__nll"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_bigrams"),
        round(sum(col("__nll") * col("__n").cast("double")) /
          sum(col("__n")).cast("double"), 6).as("avg_nll"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("avg_nll"))
  }

  /** Per-document held-out TRIGRAM interpolated Kneser-Ney NLL — the
    * discount family completed at the order production n-gram LMs
    * actually shipped (Chen & Goodman 1998's winning configuration:
    * interpolated KN at trigram order). The trigram probability is the
    * absolute-discounted ML estimate plus a history-dependent back-off
    * weight times the BIGRAM-level KN probability, whose counts are
    * CONTINUATION counts ("how many distinct w1 precede (w2,w3)?"),
    * recursing into the add-one-smoothed unigram continuation floor —
    * [[docNllKneserNey]]'s Pc, one order up.
    *
    * Exact model scored (all counts integer-exact from the train
    * split, one shared discount D):
    * {{{
    *   Pc(w3)       = (N1+(·,·,w3) + 1) / (T + V)
    *   P2(w3|w2)    = (max(cc(w2,w3) − D, 0) + D·N1c(w2)·Pc(w3))
    *                    / N1+(·,w2,·)          // seen middle history
    *   P2(w3|w2)    = Pc(w3)                   // unseen middle history
    *   P3(w3|w1,w2) = (max(c(w1,w2,w3) − D, 0) + D·N1+(w1,w2,·)·P2(w3|w2))
    *                    / c(w1,w2)             // seen top history
    *   P3(w3|w1,w2) = P2(w3|w2)                // unseen top history
    * }}}
    * where EVERY lower-order statistic is a continuation count derived
    * from the trigram TYPE SET (the Chen & Goodman formulation, not
    * raw lower-order frequencies): `cc(w2,w3)` = distinct w1 preceding
    * (w2,w3), `N1+(·,w2,·)` = Σ_w3 cc, `N1c(w2)` = distinct w3 in cc
    * for w2, `N1+(·,·,w3)` = distinct w2 in cc for w3, `T` = total cc
    * types, `V` = distinct w3 across cc. Trains on
    * `idCol % holdoutMod != 0`, scores held docs with ≥ 1 trigram.
    * Returns `(idCol, n_trigrams, n_ctx_hits, avg_nll, ctx_hit_share)`
    * — `n_ctx_hits` counts trigram tokens whose (w1,w2) history the
    * train split has seen (the top level active), ratios rounded 6.
    *
    * Scale shape: the [[docNllBackoff]] discipline for the TOP order —
    * one trigram explode collapses map-side into the persisted per-doc
    * TYPE table, the corpus model `c3` is a types-sized re-aggregation
    * — but UNLIKE backoff/JM there is NO separate bigram/unigram
    * corpus explode: KN's lower orders are continuation counts DEFINED
    * on the trigram type set, so `cc`, both N1 tables, T and V all
    * derive from the narrow persisted `c3` (types-sized, no doc
    * column — not the round-15 anti-pattern of re-aggregating the wide
    * per-doc table, and one full corpus pass cheaper than backoff).
    * Scoring is a hash-join chain per held TYPE; T and V ride one
    * 1-row broadcast. Caller contract as [[Curation.curate]]:
    * clearCache between unrelated runs. */
  def docNllKneserNey3(docs: DataFrame, textCol: String, idCol: String,
      holdoutMod: Int = 10, discount: Double = 0.75): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(discount > 0 && discount < 1,
      s"KN absolute discount must be in (0,1): $discount")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    def grams(n: Int) = arrays_zip(
      (0 until n).map(i => slice(toks, lit(1 + i),
        greatest(size(toks) - (n - 1), lit(0)))): _*)
    val triTypes = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        explode(grams(3)).as("__g"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__g.0").as("__w1"), col("__g.1").as("__w2"),
        col("__g.2").as("__w3"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    // THREE consumers (c2h, cc, the scoring join) — persist, as
    // [[docNllKneserNey]]'s cb
    val c3 = triTypes.filter(!col("__held"))
      .groupBy(col("__w1"), col("__w2"), col("__w3"))
      .agg(sum(col("__n")).as("__c3"))
      .persist()
    // top-history mass and distinct-continuation count in one pass
    val c2h = c3.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__c3")).as("__c2p"), count(lit(1)).as("__n1h"))
    // continuation bigram types — FOUR consumers (ccu, n1r, consts,
    // scoring join)
    val cc = c3.groupBy(col("__w2"), col("__w3"))
      .agg(count(lit(1)).as("__cc"))
      .persist()
    val ccu = cc.groupBy(col("__w2"))
      .agg(sum(col("__cc")).as("__ccu"), count(lit(1)).as("__n1m"))
    val n1r = cc.groupBy(col("__w3")).agg(count(lit(1)).as("__n1r"))
    val consts = cc.agg(count(lit(1)).as("__t"),
      count_distinct(col("__w3")).as("__v"))
    val d = lit(discount)
    val pc = (coalesce(col("__n1r"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__t").cast("double") + col("__v").cast("double"))
    val p2 = when(col("__ccu").isNull, pc).otherwise(
      (greatest(coalesce(col("__cc"), lit(0L)).cast("double") - d,
        lit(0.0)) + d * col("__n1m").cast("double") * pc) /
        col("__ccu").cast("double"))
    val p = when(col("__c2p").isNull, p2).otherwise(
      (greatest(coalesce(col("__c3"), lit(0L)).cast("double") - d,
        lit(0.0)) + d * col("__n1h").cast("double") * p2) /
        col("__c2p").cast("double"))
    triTypes.filter(col("__held"))
      .join(c3, Seq("__w1", "__w2", "__w3"), "left")
      .join(c2h, Seq("__w1", "__w2"), "left")
      .join(cc, Seq("__w2", "__w3"), "left")
      .join(ccu, Seq("__w2"), "left")
      .join(n1r, Seq("__w3"), "left")
      .crossJoin(broadcast(consts))
      .select(col("__id"), col("__n"),
        when(col("__c2p").isNotNull, col("__n")).otherwise(lit(0L))
          .as("__h"),
        (-log(p) * col("__n").cast("double")).as("__nllw"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_trigrams"),
        sum(col("__h")).as("n_ctx_hits"),
        round(sum(col("__nllw")) / sum(col("__n")).cast("double"), 6)
          .as("avg_nll"))
      .select(col("__id").as(idCol), col("n_trigrams"),
        col("n_ctx_hits"), col("avg_nll"),
        round(col("n_ctx_hits").cast("double") /
          col("n_trigrams").cast("double"), 6).as("ctx_hit_share"))
  }

  /** Cross-version NLL drift — [[docNll]]'s held-out bigram model
    * replayed over TWO versions of the same corpus: the model trains
    * ONCE on v1's train split, scores v1's held docs AND v2's held
    * docs, and reports the per-doc delta. The quality-regression gate
    * for corpus edits: a cleanup pass that LOWERS held-doc NLL made
    * text more ordinary; a rising drift flags docs the edit made less
    * model-like (or injected tokens the corpus has never seen). Pairs
    * with [[TextDedup.winnowStability]]: that measures how much of the
    * FINGERPRINT surface an edit disturbs, this measures how much of
    * the LANGUAGE-MODEL surface.
    *
    * Returns one row per doc held in BOTH versions with ≥ 1 bigram:
    * `(idCol, n_bigrams_v1, n_bigrams_v2, avg_nll_v1, avg_nll_v2,
    * drift)` — drift = round(avg_nll_v2 − avg_nll_v1, 6) on the
    * already-rounded per-version scores (deterministic IEEE on both
    * engines).
    *
    * Scale shape: v1 pays [[docNll]]'s one padded-zip explode into the
    * persisted type table; v2 contributes ONLY its held split (a
    * pruned scan — `idCol % holdoutMod = 0` pushes to the source), so
    * the incremental cost tracks the held slice, not corpus v2. Both
    * versions score in ONE version-tagged per-held-TYPE hash-join
    * chain (tag → score once → per-doc pivot), not two. */
  def docNllDrift(docsV1: DataFrame, docsV2: DataFrame, textCol: String,
      idCol: String, holdoutMod: Int = 10, k: Double = 1.0): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    val typeTable = docsV1
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        explode(arrays_zip(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("__bg"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    // v2's held slice only: the version diff never re-explodes v2's
    // train side (which the v1-trained model ignores anyway)
    val heldV2 = docsV2
      .filter(col(textCol).isNotNull && held)
      .select(col(idCol).as("__id"),
        explode(arrays_zip(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))).as("__bg"))
      .groupBy(col("__id"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
      .agg(count(lit(1)).as("__n"))
    val cb = typeTable.filter(!col("__held") && col("__w2").isNotNull)
      .groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__n")).as("__cb"))
    val cu = cb.groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    val vocab = typeTable.filter(!col("__held"))
      .agg(count_distinct(col("__w1")).as("__v"))
    // BOTH versions ride one version-tagged scoring chain — one cb/cu
    // hash-join pass instead of two (the q89 fused-singleton idiom
    // applied to scoring: tag, score once, pivot) — then one per-doc
    // pivot back to v1/v2 columns. Round 16: the two-chain shape
    // measured 1.8-2.0 s vs a ~1.1 s oracle.
    val heldAll = typeTable
      .filter(col("__held") && col("__w2").isNotNull)
      .select(col("__id"), lit(1).as("__ver"), col("__w1"), col("__w2"),
        col("__n"))
      .unionByName(heldV2.filter(col("__w2").isNotNull)
        .select(col("__id"), lit(2).as("__ver"), col("__w1"), col("__w2"),
          col("__n")))
    val perVer = heldAll
      .join(cb, Seq("__w1", "__w2"), "left")
      .join(cu, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__id"), col("__ver"), col("__n"),
        (-log((coalesce(col("__cb"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("__cu"), lit(0L)).cast("double") +
            lit(k) * col("__v").cast("double")))).as("__nll"))
      .groupBy(col("__id"), col("__ver"))
      .agg(sum(col("__n")).as("__nb"),
        round(sum(col("__nll") * col("__n").cast("double")) /
          sum(col("__n")).cast("double"), 6).as("__avg"))
    perVer.groupBy(col("__id"))
      .agg(max(when(col("__ver") === 1, col("__nb"))).as("n_bigrams_v1"),
        max(when(col("__ver") === 2, col("__nb"))).as("n_bigrams_v2"),
        max(when(col("__ver") === 1, col("__avg"))).as("avg_nll_v1"),
        max(when(col("__ver") === 2, col("__avg"))).as("avg_nll_v2"))
      // inner-join semantics: only docs held with >= 1 bigram in BOTH
      .filter(col("n_bigrams_v1").isNotNull && col("n_bigrams_v2").isNotNull)
      .select(col("__id").as(idCol), col("n_bigrams_v1"),
        col("n_bigrams_v2"), col("avg_nll_v1"), col("avg_nll_v2"),
        round(col("avg_nll_v2") - col("avg_nll_v1"), 6).as("drift"))
  }

  /** Per-document TRIGRAM Stupid-Backoff NLL — [[docNll]]'s bigram
    * add-k model upgraded to the KenLM-style backoff family (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * score function big web-scale LMs actually shipped): a held-out
    * trigram scores `c3/c2prefix` when the train corpus saw it,
    * backs off to `α·cb/cu` on the bigram when it didn't, and to
    * `α²·(c1+k)/(N+kV)` (add-k unigram — the only smoothed level, so
    * unseen tokens stay finite) at the bottom. Lower avg_nll = more
    * ordinary prose; the `backoff_share` column says how much of the
    * score came from fallback levels — a high share means the model,
    * not the document, is the outlier.
    *
    * The LM trains on the `idCol % holdoutMod != 0` split and scores
    * held-out docs with ≥ 1 trigram. Returns `(idCol, n_trigrams,
    * n_backoff, avg_nll, backoff_share)` — counts exact, the two
    * ratios rounded at 6.
    *
    * Registry status: oracle-gated since round 14 as
    * `q266_doc_nll_backoff`, over a 5× token-distinct replicated corpus
    * so the DuckDB oracle clears the 0.8 s substantive-oracle floor
    * (the plain sf0.1 corpus measured ~0.17 s — too cheap to pair
    * fairly against a 3+-job Spark plan). Every member of the LM
    * family is oracle-gated: [[bigramNll]] via q198, [[docNll]] via
    * q270 (10× replication), [[docNllBackoff]] via q266,
    * [[docNllInterpolated]] via q267; q266 exercises the harder
    * backoff scoring path end-to-end.
    *
    * Scale shape: the [[bigramNll]] discipline — each n-gram order
    * explodes ONCE and collapses immediately to a persisted TYPE table
    * keyed (held, doc-or-corpus, grams); model counts are
    * re-aggregations of bounded type tables; the scoring pass is a
    * chain of hash joins per held TYPE, never per occurrence; V and N
    * are a 1-row broadcast. Caller contract as [[Curation.curate]]:
    * clearCache between unrelated runs. */
  def docNllBackoff(docs: DataFrame, textCol: String, idCol: String,
      holdoutMod: Int = 10, alpha: Double = 0.4,
      k: Double = 1.0): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1: $alpha")
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    def grams(n: Int) = arrays_zip(
      (0 until n).map(i => slice(toks, lit(1 + i),
        greatest(size(toks) - (n - 1), lit(0)))): _*)
    val triTypes = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        explode(grams(3)).as("__g"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__g.0").as("__w1"), col("__g.1").as("__w2"),
        col("__g.2").as("__w3"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val c3 = triTypes.filter(!col("__held"))
      .groupBy(col("__w1"), col("__w2"), col("__w3"))
      .agg(sum(col("__n")).as("__c3"))
    val c2p = c3.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__c3")).as("__c2p"))
    // bigram/unigram model tables come from their own single explode,
    // DELIBERATELY not from a padded trigram zip (the bigramNll fusion
    // idiom): round 15 built and measured the fusion — correct
    // (null-padding carries final bigrams) and a local wash, but a 2×
    // REGRESSION at 25× fresh-key scale (q266 143 → 280-293 s,
    // q267 93 → 129 s; Prof pair_scale, two confirming runs), because
    // under Zipf-fresh vocab the trigram TYPE table is near
    // occurrence-sized, so deriving the lower orders re-aggregates a
    // giant wide cached table twice where these dedicated explodes
    // collapse map-side into narrow tables. The fusion is right only
    // when the derived statistics are SMALL (bigramNll's 1-row vocab
    // and per-group doc counts), not when they are themselves
    // occurrence-scale.
    val biTypes = docs.filter(col(textCol).isNotNull && !held)
      .select(explode(grams(2)).as("__g"))
      .groupBy(col("__g.0").as("__w1"), col("__g.1").as("__w2"))
      .agg(count(lit(1)).as("__cb"))
      .persist()
    val cu = biTypes.groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    val uni = docs.filter(col(textCol).isNotNull && !held)
      .select(explode(toks).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c1"))
      .persist()
    val tot = uni.agg(sum(col("__c1")).cast("double").as("__tn"),
      count(lit(1)).cast("double").as("__tv"))
    val nll =
      when(col("__c3").isNotNull,
        -log(col("__c3").cast("double") / col("__c2p").cast("double")))
      .when(col("__cb").isNotNull,
        -log(lit(alpha) * col("__cb").cast("double") /
          col("__cu").cast("double")))
      .otherwise(
        -log(lit(alpha * alpha) *
          (coalesce(col("__c1"), lit(0L)).cast("double") + lit(k)) /
          (col("__tn") + lit(k) * col("__tv"))))
    triTypes.filter(col("__held"))
      .join(c3, Seq("__w1", "__w2", "__w3"), "left")
      .join(c2p, Seq("__w1", "__w2"), "left")
      .join(biTypes.withColumnRenamed("__w1", "__bw1")
          .withColumnRenamed("__w2", "__bw2"),
        col("__w2") === col("__bw1") && col("__w3") === col("__bw2"),
        "left")
      .join(cu.withColumnRenamed("__w1", "__uw1"),
        col("__w2") === col("__uw1"), "left")
      .join(uni.withColumnRenamed("__w", "__w3u"),
        col("__w3") === col("__w3u"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__id"), col("__n"),
        when(col("__c3").isNull, col("__n")).otherwise(lit(0L)).as("__bo"),
        (nll * col("__n").cast("double")).as("__nllw"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_trigrams"),
        sum(col("__bo")).as("n_backoff"),
        round(sum(col("__nllw")) / sum(col("__n")).cast("double"), 6)
          .as("avg_nll"))
      .select(col("__id").as(idCol), col("n_trigrams"), col("n_backoff"),
        col("avg_nll"),
        round(col("n_backoff").cast("double") /
          col("n_trigrams").cast("double"), 6).as("backoff_share"))
  }

  /** Per-document TRIGRAM Jelinek-Mercer NLL — [[docNllBackoff]]'s
    * sibling on the other classic smoothing family (Jelinek & Mercer
    * 1980; the linear-interpolation baseline every LM-smoothing study
    * reports): instead of FALLING BACK level by level, every held
    * trigram scores the fixed MIXTURE
    * `λ3·c3/c2p + λ2·cb/cu + λ1·(c1+k)/(N+kV)` — an unseen level
    * contributes 0, the add-k unigram floor keeps the mixture
    * positive, so every score is finite without a backoff decision.
    * `n_hits3` counts trigram tokens the train corpus has seen (the
    * mixture's top level active) and `hit3_share` is its share — the
    * coverage signal that says whether λ3 is doing any work on this
    * document.
    *
    * The LM trains on the `idCol % holdoutMod != 0` split and scores
    * held-out docs with ≥ 1 trigram. Returns `(idCol, n_trigrams,
    * n_hits3, avg_nll, hit3_share)` — counts exact, ratios rounded 6.
    *
    * Scale shape: identical to [[docNllBackoff]] — per-order persisted
    * TYPE tables (one explode each), scoring by hash joins per held
    * TYPE, totals as a 1-row broadcast. Caller contract as
    * [[Curation.curate]]: clearCache between unrelated runs. */
  def docNllInterpolated(docs: DataFrame, textCol: String, idCol: String,
      holdoutMod: Int = 10, lambda3: Double = 0.7, lambda2: Double = 0.2,
      lambda1: Double = 0.1, k: Double = 1.0): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    require(lambda3 >= 0 && lambda2 >= 0 && lambda1 > 0,
      s"need lambda3, lambda2 >= 0 and lambda1 > 0 (the smoothed floor " +
        s"must stay in the mixture): $lambda3 $lambda2 $lambda1")
    require(k > 0, s"add-k smoothing needs k > 0: $k")
    val toks = TextFunctions.tokens(col(textCol))
    val held = pmod(col(idCol), lit(holdoutMod.toLong)) === 0
    def grams(n: Int) = arrays_zip(
      (0 until n).map(i => slice(toks, lit(1 + i),
        greatest(size(toks) - (n - 1), lit(0)))): _*)
    val triTypes = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), held.as("__held"),
        explode(grams(3)).as("__g"))
      .groupBy(col("__held"),
        when(col("__held"), col("__id")).as("__id"),
        col("__g.0").as("__w1"), col("__g.1").as("__w2"),
        col("__g.2").as("__w3"))
      .agg(count(lit(1)).as("__n"))
      .persist()
    val c3 = triTypes.filter(!col("__held"))
      .groupBy(col("__w1"), col("__w2"), col("__w3"))
      .agg(sum(col("__n")).as("__c3"))
    val c2p = c3.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__c3")).as("__c2p"))
    // per-order tables from their own single explode ([[docNllBackoff]]'s
    // reasoning: a trigram-derived bigram table drops final bigrams)
    val biTypes = docs.filter(col(textCol).isNotNull && !held)
      .select(explode(grams(2)).as("__g"))
      .groupBy(col("__g.0").as("__w1"), col("__g.1").as("__w2"))
      .agg(count(lit(1)).as("__cb"))
      .persist()
    val cu = biTypes.groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    val uni = docs.filter(col(textCol).isNotNull && !held)
      .select(explode(toks).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c1"))
      .persist()
    val tot = uni.agg(sum(col("__c1")).cast("double").as("__tn"),
      count(lit(1)).cast("double").as("__tv"))
    // mixture written in the exact literal order the oracle mirrors:
    // λ3·coalesce(c3/c2p, 0) + λ2·coalesce(cb/cu, 0) + λ1·unigram
    val nll = -log(
      lit(lambda3) * coalesce(
        col("__c3").cast("double") / col("__c2p").cast("double"),
        lit(0.0)) +
      lit(lambda2) * coalesce(
        col("__cb").cast("double") / col("__cu").cast("double"),
        lit(0.0)) +
      lit(lambda1) * ((coalesce(col("__c1"), lit(0L)).cast("double") +
        lit(k)) / (col("__tn") + lit(k) * col("__tv"))))
    triTypes.filter(col("__held"))
      .join(c3, Seq("__w1", "__w2", "__w3"), "left")
      .join(c2p, Seq("__w1", "__w2"), "left")
      .join(biTypes.withColumnRenamed("__w1", "__bw1")
          .withColumnRenamed("__w2", "__bw2"),
        col("__w2") === col("__bw1") && col("__w3") === col("__bw2"),
        "left")
      .join(cu.withColumnRenamed("__w1", "__uw1"),
        col("__w2") === col("__uw1"), "left")
      .join(uni.withColumnRenamed("__w", "__w3u"),
        col("__w3") === col("__w3u"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__id"), col("__n"),
        when(col("__c3").isNotNull, col("__n")).otherwise(lit(0L))
          .as("__h3"),
        (nll * col("__n").cast("double")).as("__nllw"))
      .groupBy(col("__id"))
      .agg(sum(col("__n")).as("n_trigrams"),
        sum(col("__h3")).as("n_hits3"),
        round(sum(col("__nllw")) / sum(col("__n")).cast("double"), 6)
          .as("avg_nll"))
      .select(col("__id").as(idCol), col("n_trigrams"), col("n_hits3"),
        col("avg_nll"),
        round(col("n_hits3").cast("double") /
          col("n_trigrams").cast("double"), 6).as("hit3_share"))
  }

  /** Closed-vocabulary tokenizer audit — fertility, OOV share, and
    * compression at several candidate vocabulary sizes in ONE pass: for
    * each `V` in `vocabSizes`, the vocabulary is the top-`V` corpus
    * tokens by frequency (count desc, token asc — a total order, so the
    * cut is engine-reproducible), an in-vocabulary word costs 1 unit,
    * and an OOV word falls back to character shatter
    * (`max(length, 1)` units — the byte-fallback every production
    * tokenizer ends in). Fertility = units/word, compression =
    * chars/unit: the two curves a tokenizer team reads off before
    * committing to a vocab size, per corpus `groupCol` so a size that
    * serves one source and starves another is visible.
    *
    * Output: one row per (vocab_size, group) — `(vocab_size, groupCol,
    * n_words, n_oov_words, n_units, n_chars, fertility, oov_share,
    * compression)`, ratios rounded at 6 from exact integer totals.
    *
    * Scale shape: ONE token explode collapses map-side into the
    * PERSISTED (group, token) type table (the bigramNll discipline —
    * its two consumers push different aggregations, so the exchange
    * would not canonicalize-reuse); every downstream step is
    * types-sized, never occurrences-sized: the vocabulary election
    * re-aggregates types to token counts with a TakeOrderedAndProject
    * top-max(V) — k·32-byte rows of driver metadata, bounded by the
    * caller's own knob — which re-enters as a broadcast LocalRelation
    * carrying each token's RANK, and the per-size stats are
    * `__c`-weighted conditional aggregates (rank ≤ V) over the type
    * table, NOT per-occurrence or per-size re-explodes; the
    * per-(group, V) grid unpivots via inline at the very end. Caller
    * contract as [[Curation.curate]]: clearCache between unrelated
    * runs. */
  def vocabFertility(docs: DataFrame, textCol: String, groupCol: String,
      vocabSizes: Seq[Int], maxVocabRows: Int = 4000000): DataFrame = {
    require(vocabSizes.nonEmpty, "vocabSizes must be non-empty")
    require(vocabSizes.forall(_ >= 1), s"vocab sizes must be >= 1: $vocabSizes")
    val maxV = vocabSizes.max
    // The top-V election collects V (token, rank) rows of driver
    // metadata. The bound is the caller's own vocabSizes knob, but —
    // like every sibling contract bound (maxClusters, maxCells,
    // maxCarriers) — it gets a NAMED fail-fast so vocabSizes =
    // Seq(50_000_000) raises a contract error instead of a driver OOM.
    require(maxV <= maxVocabRows,
      s"vocabFertility: vocabSizes.max=$maxV exceeds maxVocabRows=" +
        s"$maxVocabRows — the vocabulary election is a driver-side " +
        "collect of V rank rows; raise maxVocabRows deliberately if " +
        "the driver can hold it")
    val toks = TextFunctions.tokens(col(textCol))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("__g"), explode(toks).as("__w"))
      .groupBy(col("__g"), col("__w")).agg(count(lit(1)).as("__c"))
      .persist()
    val top = base.groupBy(col("__w")).agg(sum(col("__c")).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxV)
      .collect()
    val spark = docs.sparkSession
    val vocabRows = top.toSeq.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), (i + 1).toLong)
    }
    val vocab = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(vocabRows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__w",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("__r",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val shatter = greatest(length(col("__w")), lit(1)).cast("long")
    val perV = vocabSizes.flatMap { v =>
      val inV = col("__r").isNotNull && col("__r") <= v
      Seq(
        sum(when(inV, lit(0L)).otherwise(col("__c"))).as(s"__oov_$v"),
        sum(when(inV, col("__c")).otherwise(shatter * col("__c")))
          .as(s"__units_$v"))
    }
    val aggs: Seq[Column] = Seq(sum(col("__c")).as("__nw"),
      sum(length(col("__w")).cast("long") * col("__c")).as("__nc")) ++ perV
    val aggd = base
      .join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col("__g"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = vocabSizes.map { v =>
      struct(lit(v).cast("long").as("vocab_size"),
        col("__nw").as("n_words"), col(s"__oov_$v").as("n_oov_words"),
        col(s"__units_$v").as("n_units"), col("__nc").as("n_chars"),
        round(col(s"__units_$v").cast("double") /
          col("__nw").cast("double"), 6).as("fertility"),
        round(col(s"__oov_$v").cast("double") /
          col("__nw").cast("double"), 6).as("oov_share"),
        round(col("__nc").cast("double") /
          col(s"__units_$v").cast("double"), 6).as("compression"))
    }
    aggd.select(col("__g").as(groupCol), inline(array(rows: _*)))
      .select(col("vocab_size"), col(groupCol), col("n_words"),
        col("n_oov_words"), col("n_units"), col("n_chars"),
        col("fertility"), col("oov_share"), col("compression"))
  }

  /** Corpus-level Flesch reading-ease panel from EXACT integer totals —
    * readability as a curation signal ("is this source academic prose or
    * listicles?"). Heuristics are deliberately simple and
    * oracle-reproducible: words = whitespace tokens, sentences =
    * `[.!?]+` runs (min 1 per doc), syllables = `[aeiouyAEIOUY]+` vowel
    * runs (min 1 per doc — every word carries at least one nucleus).
    *
    * Per group: `(group, n_docs, n_words, n_sentences, n_syllables,
    * words_per_sentence, syllables_per_word, flesch)` where `flesch` =
    * `206.835 − 1.015·(W/S) − 84.6·(Y/W)` computed ONCE from the exact
    * corpus totals (a mean of per-doc scores would put an IEEE sum of
    * millions of doubles in the hash; integer totals keep the fold
    * order-free and the final formula one fixed sequence).
    *
    * Scale shape: pure per-row regexp counts into ONE map-side-combined
    * hash aggregation — no explode, no join, no window. */
  def readability(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val words = TextFunctions.tokenCount(col(textCol)).cast("long")
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
      .cast("long")
    val syllables = greatest(
      size(regexp_extract_all(col(textCol), lit("[aeiouyAEIOUY]+"), lit(0))),
      lit(1)).cast("long")
    val ws = col("n_words").cast("double") / col("n_sentences").cast("double")
    val yw = col("n_syllables").cast("double") / col("n_words").cast("double")
    docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("__g"), words.as("__w"), sentences.as("__s"),
        syllables.as("__y"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_sentences"),
        sum(col("__y")).as("n_syllables"))
      .select(col("__g").as(groupCol), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(ws, 6).as("words_per_sentence"),
        round(yw, 6).as("syllables_per_word"),
        when(col("n_words") > 0,
          round(lit(206.835) - lit(1.015) * ws - lit(84.6) * yw, 6))
          .as("flesch"))
  }

  /** Hill tail-index estimate over the token frequency distribution —
    * "how Zipfian is this corpus?" as one number: on the k most frequent
    * types, `alpha = ( (1/k)·Σ ln(f_i / f_(k)) )^{-1}` (f_(k) = k-th
    * largest frequency). A natural-text corpus sits near alpha ≈ 1;
    * boilerplate-flooded or deduplicated-to-death corpora drift away —
    * the one-row drift complement of [[zipfCoverage]]'s curve.
    *
    * Ties at the cut rank resolve by token ASC (deterministic top-k, the
    * repo convention). Returns `(k, f_kth, alpha)`; k is the ACTUAL
    * count taken (vocab may be smaller); alpha NULL when every top-k
    * frequency equals f_(k) (log-sum 0 — the estimator is undefined).
    *
    * Scale shape: one token-count hash aggregation (Zipf-collapsed),
    * top-k via TakeOrderedAndProject, then a k-row fold. */
  def tailIndex(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"tail index needs k >= 2: $k")
    val top = docs
      .filter(col(textCol).isNotNull)
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w").asc)
      .limit(k)
    val fk = top.agg(count(lit(1)).as("__m"), min(col("__f")).as("f_kth"))
    top.crossJoin(broadcast(fk))
      .select(col("__m"), col("f_kth"),
        log(col("__f").cast("double") / col("f_kth").cast("double"))
          .as("__l"))
      .groupBy(col("__m"), col("f_kth"))
      .agg(sum(col("__l")).as("__lsum"))
      .select(col("__m").as("k"), col("f_kth"),
        when(col("__lsum") > 0,
          round(col("__m").cast("double") / col("__lsum"), 6)).as("alpha"))
  }

  /** Burrows\' Delta stylometric distance between sources — the
    * authorship-attribution classic (Burrows 2002): each source gets a
    * z-score profile over the corpus\'s `topK` most frequent tokens
    * (relative frequency, standardized ACROSS sources per token), and
    * the distance between two sources is the MEAN |z difference| over
    * those tokens. Near-zero Delta between two "different" sources is
    * the tell that they share a generator (template spam, a mirrored
    * crawl) even when no document is a duplicate — the style-level
    * complement of the content-hash dedup family.
    *
    * Returns one row per unordered source pair `(source_a, source_b,
    * n_tokens, delta)` with source_a < source_b; the z denominators use
    * POPULATION std across sources, tokens with zero cross-source
    * variance contribute 0 (every source identical there — no signal,
    * not a division blowup).
    *
    * Scale shape: one Zipf-collapsed (source, token) count aggregation
    * carries everything; the top-k cut is TakeOrderedAndProject on the
    * token marginal (re-aggregated from the same frame); the z frame is
    * |sources|×topK (bounded, zero-filled via a broadcast spine) and
    * the pair walk is a self-join over that bounded frame. The corpus
    * is tokenized ONCE. */
  def burrowsDelta(docs: DataFrame, textCol: String, sourceCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val st = docs
      .filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("__s"),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__s"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .persist()
    val top = st.groupBy(col("__w")).agg(sum(col("__c")).as("__cw"))
      .orderBy(col("__cw").desc, col("__w").asc)
      .limit(topK)
      .select(col("__w"))
    val totals = st.groupBy(col("__s")).agg(sum(col("__c")).as("__n"))
    val spine = totals.select(col("__s"), col("__n"))
      .crossJoin(broadcast(top))
    val freq = spine
      .join(st, Seq("__s", "__w"), "left")
      .select(col("__s"), col("__w"),
        (coalesce(col("__c"), lit(0L)).cast("double") /
          col("__n").cast("double")).as("__f"))
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__w"))
    val z = freq
      .withColumn("__mu", avg(col("__f")).over(wTok))
      .withColumn("__sd", sqrt(avg(col("__f") * col("__f")).over(wTok) -
        avg(col("__f")).over(wTok) * avg(col("__f")).over(wTok)))
      .select(col("__s"), col("__w"),
        when(col("__sd") > 0, (col("__f") - col("__mu")) / col("__sd"))
          .otherwise(lit(0.0)).as("__z"))
    val a = z.select(col("__s").as("source_a"), col("__w"),
      col("__z").as("__za"))
    val b = z.select(col("__s").as("source_b"), col("__w"),
      col("__z").as("__zb"))
    a.join(b, Seq("__w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(abs(col("__za") - col("__zb"))) /
          count(lit(1)).cast("double"), 6).as("delta"))
  }

  /** Simpson diversity panel per group — the CONCENTRATION read of a
    * token distribution (the entropy-rate query reads its information
    * content): `simpson = Σp²` is the probability two random tokens
    * coincide, `inv_simpson = 1/Σp²` the effective vocabulary size
    * (types weighted by evenness), `berger_parker = max p` the
    * single-heaviest-type share. A corpus blend whose inv_simpson
    * collapses is dominated by boilerplate even when raw type counts
    * look healthy.
    *
    * Exactness: per-(group, token) counts fold to `n`, `Σc²`, and
    * `max c` in DECIMAL(38,0)/BIGINT — all exact — and only the three
    * final ratios divide in IEEE (rounded 6).
    *
    * Scale shape: the canonical explode → two-level hash aggregation
    * (map-side partials collapse each partition's token counts before
    * the shuffle); the second agg runs over the bounded (group, type)
    * frame. No window, no join. */
  def simpsonDiversity(docs: DataFrame, groupCol: Column,
      textCol: Column): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val counts = docs.filter(textCol.isNotNull)
      .select(groupCol.as("group"),
        explode(TextFunctions.tokens(textCol)).as("__t"))
      .groupBy(col("group"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col("group"))
      .agg(sum(col("__c")).cast(dec38).as("__n"),
        count(lit(1)).as("n_types"),
        sum(col("__c").cast(dec38) * col("__c").cast(dec38)).as("__c2"),
        max(col("__c")).as("__mx"))
      .select(col("group"), col("__n").cast("bigint").as("n_tokens"),
        col("n_types"),
        round(col("__c2").cast("double") /
          (col("__n").cast("double") * col("__n").cast("double")), 6)
          .as("simpson"),
        round(col("__n").cast("double") * col("__n").cast("double") /
          col("__c2").cast("double"), 6).as("inv_simpson"),
        round(col("__mx").cast("double") / col("__n").cast("double"), 6)
          .as("berger_parker"))
  }
}
