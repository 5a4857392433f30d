package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline operators
  * (north-star scope, SURVEY.md §7.2 step 4). All pure Catalyst expression
  * trees — no UDFs, no serialization wall — distributed per-row work with
  * no shuffle. Note: the higher-order functions used here (`transform` /
  * `filter` / `array_*`) are interpreted expressions evaluated *outside*
  * whole-stage codegen; they are fine on the per-document path (one
  * evaluation per row) but must not be placed on a per-pair path — see
  * [[graft.expressions.DotProduct]] for the codegen'd alternative pattern.
  */
object TextFunctions {

  /** Whitespace tokenization. The corpus text is single-space separated;
    * a deliberately simple, oracle-reproducible contract. */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** Token count (split-based). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: words + digit runs + punctuation marks counted
    * separately (a cheap stand-in for a tokenizer's token count; useful as
    * a cost signal at scale). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Type-token ratio: |distinct tokens| / |tokens| — a quality /
    * repetitiveness signal. */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / tokenCount(text).cast("double")

  /** Mean token length in characters: non-space chars / token count —
    * one string pass, no array materialization. */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      tokenCount(text).cast("double")

  /** Stopword ratio against a fixed tiny english stopword list — quality
    * scoring signal (high ratio ⇒ natural prose, near-zero ⇒ code/tables). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "on")
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    size(filter(t, x => array_contains(sw, x))).cast("double") / size(t).cast("double")
  }

  /** Token n-gram shingles: ["a b c", "b c d", ...]. For texts shorter
    * than `n` tokens, a single truncated shingle (slice past the end
    * returns the remainder). */
  def tokenShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
  }

  /** Character n-gram shingles: ["abc", "bcd", ...]. Texts shorter than
    * `n` chars yield the single truncated remainder. Character grams (vs
    * [[tokenShingles]]) are robust to tokenization differences —
    * whitespace variants, punctuation-glued words — the usual choice for
    * cross-source near-dup in corpus curation. */
  def charShingles(text: Column, n: Int): Column =
    // Explicit null-in/null-out: `greatest` would swallow the null length
    // and emit a single-element array holding null instead.
    when(text.isNull, lit(null).cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** Per-document term-frequency map `token → count` — the codegen'd
    * one-pass form of `explode(tokens) → groupBy(token).count()`
    * ([[graft.expressions.TokenTf]]). Exploding the returned map yields
    * the aggregated (token, tf) rows directly, skipping the
    * one-row-per-occurrence explode AND the hash aggregation. Token
    * semantics are identical to [[tokens]] (single-space split, empties
    * preserved); counts are Long. */
  def tokenTf(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.TokenTf(ColumnBridge.expression(text)))
  }

  /** Content-defined chunks ([[graft.expressions.CdcChunks]]): boundaries
    * wherever the rolling `window`-char md5 has `maskHexZeros` leading
    * zero hex digits — expected chunk length 16^maskHexZeros. Insert a
    * byte and fixed-size chunking shifts every later chunk; CDC re-syncs
    * at the next content boundary, so chunk-level dedup survives edits. */
  def cdcChunks(text: Column, window: Int = 8, maskHexZeros: Int = 1): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.CdcChunks(
      ColumnBridge.expression(text), window, maskHexZeros))
  }

  /** Jaro–Winkler similarity ([[graft.expressions.JaroWinkler]]): the
    * transposition-tolerant name comparator with the standard 0.7-gated
    * prefix boost — run it on BLOCKED pairs only (the
    * [[graft.operators.EntityResolution]] discipline), never a cross
    * product. */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Plain Jaro similarity (no Winkler prefix boost). */
  def jaro(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b),
      winkler = false))
  }

  /** True Damerau–Levenshtein distance
    * ([[graft.expressions.DamerauLevenshtein]]): Levenshtein plus
    * adjacent-transposition as one edit, unrestricted variant. Blocked
    * pairs only, like [[jaroWinkler]]. */
  def damerauLevenshtein(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.DamerauLevenshtein(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Exact content fingerprint: md5 of the raw text. */
  def exactFingerprint(text: Column): Column = md5(text)

  /** Winnowing-style robust fingerprint: min md5 over the document's
    * character `gram`-grams (rolling-window hashing à la Schleimer et al.
    * winnowing, window = whole doc). Stable under small appends/prefixes,
    * unlike [[exactFingerprint]]. Implemented as a native codegen'd
    * rolling-digest loop ([[graft.expressions.MinGramMd5]]) — the HOF
    * formulation interpreted a lambda per character position. */
  def winnowFingerprint(text: Column, gram: Int = 16): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.MinGramMd5(ColumnBridge.expression(text), gram))
  }

  /** Repetition signals (Gopher/C4-style quality filters): fraction of
    * the document's token bigrams covered by its single most frequent
    * bigram, and the distinct-bigram ratio. High top-bigram fraction or
    * low distinct ratio ⇒ boilerplate/spam. O(distinct × total) per row
    * over short arrays — per-document map work, no shuffle. */
  def topBigramFraction(text: Column): Column = {
    val sh = tokenShingles(text, 2)
    greatest(array_max(transform(array_distinct(sh),
      x => size(filter(sh, y => y === x)))), lit(1)).cast("double") /
      size(sh).cast("double")
  }
  def distinctBigramRatio(text: Column): Column = {
    val sh = tokenShingles(text, 2)
    size(array_distinct(sh)).cast("double") / size(sh).cast("double")
  }

  /** PII scrub: replace email addresses, then NANP-style phone numbers,
    * with typed placeholders. Patterns are deliberately restricted to the
    * regex dialect intersection (character classes + bounded repetition —
    * no lookaround) so any engine reproduces them byte-for-byte. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
      lit("[0-9]{3}-[0-9]{3}-[0-9]{4}"), lit("<PHONE>"))

  /** Canonical normalization for dedup keys: lowercase, non-alphanumerics
    * to spaces, whitespace runs collapsed, ends trimmed — the
    * case/punctuation-insensitive equality class exact dedup should run
    * on (two docs differing only in casing or punctuation ARE the same
    * training document). Same restricted regex dialect as [[scrubPii]]
    * so every engine reproduces it byte-for-byte; one codegen'd per-row
    * chain, no shuffle. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), lit("[^a-z0-9 ]"), lit(" ")),
      lit(" +"), lit(" ")))

  /** Per-language marker tokens for the language-ID heuristic (argmax of
    * marker-token hit counts, `MediaQueries.langScored`). A tiny stopword
    * table is enough to separate the corpus's language mix; at scale this
    * is one codegen'd expression per row, no shuffle. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"))
  /** Elements of `arr` contained in the static `items` set, duplicates
    * counted — the codegen'd [[graft.expressions.CountInSet]] (hash-set
    * probe per token) in place of the interpreted
    * `size(filter(arr, x -> array_contains(items, x)))` HOF, which
    * rescans the marker array linearly per element outside codegen. */
  def countInSet(arr: Column, items: Seq[String]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expressions.CountInSet(ColumnBridge.expression(arr), items))
  }
}
