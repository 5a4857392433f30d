package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining batches (north-star scope): the
  * standard concat-then-chunk construction — within a shard, documents
  * are laid end to end in a deterministic order and the token stream is
  * cut into fixed-`budget` context windows; a document belongs to the
  * pack where it STARTS. Emitting (pack_id, start_offset) per document is
  * exactly the metadata a loader needs to materialize packed contexts.
  */
object Packing {

  /** T5-style span-corruption pair construction (Raffel et al., JMLR
    * 2020 §3.1.4): cut each document's token stream into consecutive
    * `spanLen`-token spans, mask a deterministic 1/`corruptEvery` of
    * them, and emit the denoising training pair — `input_text` with each
    * masked span replaced by its `<extra_id_k>` sentinel, `target_text`
    * holding the sentinels with the dropped tokens. The "random" span
    * choice is the same Knuth multiplicative hash the split/sample
    * operators use (`(id·2654435761 + span_i) % corruptEvery == 0`), so
    * the corpus regenerates bit-identically on any engine — objective
    * data you can re-derive from a recipe instead of storing.
    *
    * Scale shape: explode to span rows (narrow: one span's tokens per
    * row), ONE window per document for the running sentinel index, one
    * ordered reassembly aggregation — the q84 span-election shape; no
    * cross-document state anywhere. */
  def spanCorruption(docs: DataFrame, textCol: String, idCol: String,
      spanLen: Int = 3, corruptEvery: Int = 5): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive: $spanLen")
    require(corruptEvery >= 2, s"corruptEvery must leave uncorrupted spans: $corruptEvery")
    val toks = split(col(textCol), " ")
    val nSpans = ceil(size(toks).cast("double") / spanLen).cast("int")
    val spans = docs
      .select(col(idCol), toks.as("__t"), nSpans.as("__n"))
      .withColumn("__si", explode(sequence(lit(0), col("__n") - 1)))
      .select(col(idCol), col("__si"),
        slice(col("__t"), col("__si") * spanLen + 1, lit(spanLen)).as("__span"),
        (pmod(col(idCol).cast("long") * lit(2654435761L) + col("__si"),
          lit(corruptEvery.toLong)) === 0).as("__masked"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__si")).rowsBetween(Window.unboundedPreceding, 0)
    val marked = spans
      .withColumn("__k",
        sum(when(col("__masked"), 1L).otherwise(0L)).over(w) - 1)
      .withColumn("__piece", when(col("__masked"),
          concat(lit("<extra_id_"), col("__k").cast("string"), lit(">")))
        .otherwise(array_join(col("__span"), " ")))
      .withColumn("__tgt", when(col("__masked"),
        concat(lit("<extra_id_"), col("__k").cast("string"), lit("> "),
          array_join(col("__span"), " "))))
    marked.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__si"), col("__piece")))),
        e => e("__piece")), " ").as("input_text"),
      array_join(transform(
        array_sort(collect_list(struct(col("__si"), col("__tgt")))),
        e => e("__tgt")), " ").as("target_text"),
      sum(when(col("__masked"), 1L).otherwise(0L)).as("n_masked"))
  }

  /** Inverse-cloze-task pairs (Lee et al. 2019, ORQA §3): the retrieval
    * pretraining objective — `anchor` = the document's first half,
    * `positive` = its second half (the surrounding context the anchor
    * should retrieve), plus a deterministic in-batch `neg_doc_id`. The
    * negative is the NEXT doc in md5 order WITHIN the doc's hash bucket
    * (wrapping to the bucket's first): effectively a random other
    * document, assigned with `numBuckets`-way parallel windows instead
    * of the single global window a naive "shuffle and pair" would cost.
    * Pure per-row splits + one bucketed window — no joins. */
  def ictPairs(docs: DataFrame, textCol: String, idCol: String,
      numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be positive: $numBuckets")
    val toks = split(col(textCol), " ")
    val half = ceil(size(toks).cast("double") / 2).cast("int")
    val w = Window.partitionBy(col("__bucket")).orderBy(col("__ord"), col(idCol))
    docs
      .select(col(idCol),
        array_join(slice(toks, lit(1), half), " ").as("anchor"),
        array_join(slice(toks, half + 1, greatest(size(toks) - half, lit(0))), " ")
          .as("positive"))
      .withColumn("__bucket",
        pmod(col(idCol).cast("long") * lit(2654435761L), lit(numBuckets.toLong)))
      .withColumn("__ord", md5(col(idCol).cast("string")))
      .withColumn("neg_doc_id", coalesce(
        lead(col(idCol), 1).over(w),
        first(col(idCol)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
      .select(col(idCol), col("anchor"), col("positive"), col("neg_doc_id"))
  }

  /** BERT-style MLM masking (Devlin et al. 2019 §3.1): select a
    * deterministic ~15% of token positions (3/20 via the shared
    * multiplicative hash); of the selected, 80% become `[MASK]`, 10% are
    * replaced by another token of the SAME document (position-hash draw
    * — corpus-vocab draws need a broadcast vocab index; the doc-local
    * draw keeps the operator a pure projection, the scale property this
    * implementation optimizes for), 10% keep the original token.
    * `labels` records `pos:original` for every selected position — the
    * prediction targets.
    *
    * Scale shape: NO explode, NO window, no join — every output column
    * is a higher-order-function fold over the token array inside one
    * projection, so the operator is embarrassingly parallel and stays in
    * whole-stage codegen. Deterministic on any engine (integer hash
    * arithmetic only), so masked corpora regenerate from the recipe. */
  def mlmMask(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val id = col(idCol).cast("long")
    def sel(i: Column) = pmod(id * lit(2654435761L) + i, lit(20L)) < 3
    def cls(i: Column) = pmod(id * lit(40503L) + i, lit(10L))
    def rep(i: Column) =
      element_at(col("__t"), (pmod(id * lit(97L) + i * 31, col("__n").cast("long")) + 1).cast("int"))
    docs
      .select(col(idCol), toks.as("__t"), n.as("__n"))
      .select(col(idCol),
        array_join(transform(col("__t"), (x, i) =>
          when(!sel(i), x)
            .when(cls(i) < 8, lit("[MASK]"))
            .when(cls(i) === 8, rep(i))
            .otherwise(x)), " ").as("input_text"),
        array_join(filter(transform(col("__t"), (x, i) =>
          when(sel(i), concat(i.cast("string"), lit(":"), x))),
          p => p.isNotNull), " ").as("labels"),
        size(filter(sequence(lit(0), col("__n") - 1), i =>
          sel(i) && cls(i) < 8)).cast("long").as("n_masked"),
        size(filter(sequence(lit(0), col("__n") - 1), i =>
          sel(i) && cls(i) === 8)).cast("long").as("n_random"),
        size(filter(sequence(lit(0), col("__n") - 1), i =>
          sel(i) && cls(i) === 9)).cast("long").as("n_kept"))
  }

  /** Assign each document a pack id and start offset within its shard.
    *
    * Ordering within a shard is by `idCol` — deterministic and
    * replayable; pass a pre-shuffled id (hash) column for random-ish
    * mixing, which is what production corpus shuffles do anyway.
    *
    * Scale shape: one window per SHARD — parallelism equals shard count,
    * and shards are numerous by construction (one per output file /
    * worker), so the per-shard running sum never bottlenecks the way a
    * global `partitionBy()` window would. A single-shard corpus at scale
    * should instead use the [[Relational.groupedRowNumber]] pattern
    * (range partition + broadcast per-partition prefix sums) with the
    * running token sum as the rank payload. */
  def packSequences(docs: DataFrame, idCol: String, tokensCol: String,
      shardCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("start_offset", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("start_offset") / budget))
  }

  /** Split each document into fixed-`window`-token chunks advancing by
    * `stride` tokens (stride < window = overlapping context windows) —
    * the long-document splitting step of pretraining/RAG data prep.
    * Chunk starts are 1, 1+stride, …, through ceil((n-window)/stride)
    * strides: every token is covered, the final chunk may be short, and
    * no chunk is fully contained in its predecessor. Emits one row per
    * (document, chunk) with the chunk id, 1-based start token, actual
    * token count, and reassembled chunk text.
    *
    * Scale shape: a pure per-row explode — no shuffle at all; output
    * rows ≈ input tokens / stride. The token array is materialized once
    * per row and sliced per chunk (slice is O(window) per chunk, not
    * O(n²): each chunk copies only its own window). */
  def chunkDocuments(docs: DataFrame, textCol: String, idCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window: window=$window stride=$stride")
    import graft.functions.TextFunctions
    docs
      .withColumn("__t", TextFunctions.tokens(col(textCol)))
      .withColumn("__n", size(col("__t")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        floor((greatest(col("__n") - window, lit(0L)) + (stride - 1))
          / stride).cast("long"))))
      .withColumn("start_token", col("chunk_id") * stride + 1)
      .select(col(idCol), col("chunk_id"), col("start_token"),
        least(col("__n") - col("start_token") + 1, lit(window.toLong))
          .as("n_chunk_tokens"),
        array_join(slice(col("__t"), col("start_token").cast("int"), lit(window)), " ")
          .as("chunk_text"))
  }

  /** Preference-pair construction (the DPO/RLHF reward-data shape): per
    * group, the highest-scored member becomes `chosen` and the
    * lowest-scored `rejected`, with the score margin — turning any
    * per-candidate quality signal into pairwise training data. Ties
    * break deterministically (lowest id wins on both sides), groups with
    * fewer than two members or where chosen = rejected (all scores AND
    * ids collapse) are dropped rather than emitting degenerate pairs.
    *
    * Scale shape: ONE hash aggregation — argmax/argmin ride a single
    * struct-ordered min/max pair (lexicographic struct comparison:
    * score first, negated id second so score ties pick the LOWEST id),
    * not a per-group sort or window. */
  def preferencePairs(docs: DataFrame, groupCol: String, idCol: String,
      score: Column): DataFrame = {
    val s = docs.select(col(groupCol), col(idCol).cast("long").as("__id"),
      score.cast("double").as("__sc"))
    s.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        max(struct(col("__sc").as("s"), (-col("__id")).as("nid"))).as("__ch"),
        min(struct(col("__sc").as("s"), col("__id").as("id"))).as("__rj"))
      .filter(col("__n") >= 2)
      .select(col(groupCol),
        (-col("__ch.nid")).as("chosen_id"),
        col("__ch.s").as("chosen_score"),
        col("__rj.id").as("rejected_id"),
        col("__rj.s").as("rejected_score"),
        round(col("__ch.s") - col("__rj.s"), 6).as("margin"))
      .filter(col("chosen_id") =!= col("rejected_id"))
  }
}
