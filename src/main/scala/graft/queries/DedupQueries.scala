package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Deduplication and decontamination: exact/minhash/simhash/winnowing,
  * span and line dedup, contamination, dup clusters, impact audits.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object DedupQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- north-star: dedup family ---------------------------------------
    "q24_dedup_exact" -> ((s, d) => {
      TextDedup.exact(load(s, d, "documents"), "text", "doc_id")
        .select("doc_id", "n_copies", "text")
        .orderBy("doc_id")
    }),


    "q25_minhash_sig" -> ((s, d) => {
      TextDedup.minhashSignatures(parallel(load(s, d, "documents")), "text", "doc_id",
          numHashes = 4, shingleSize = 3)
        .transform(ordered1(_, col("doc_id")))
    }),


    "q26_neardup_jaccard" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.jaccardOnPairs(pairs, docs, "text", "doc_id")
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // The mega-bucket guard's exact semantics, oracle-gated: buckets at
    // or under the cap emit all pairs, wider buckets emit the min-anchored
    // star (see TextDedup.lshCandidatePairs). cap=2 exercises BOTH
    // branches on the real corpus (bucket widths reach 3 at sf0.01, 8 at
    // sf0.1).
    "q67_lsh_guarded" -> ((s, d) => {
      val sigs = TextDedup.minhashSignatures(
        parallel(load(s, d, "documents")), "text", "doc_id", 4, 3)
      TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2, maxBucket = 2)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // No parallel(): simhash hash-repartitions by doc_id itself.
    "q27_simhash" -> ((s, d) => {
      TextDedup.simhash(load(s, d, "documents"), "text", "doc_id", 16)
        .transform(ordered1(_, col("doc_id")))
    }),


    "q28_fingerprint" -> ((s, d) => {
      parallel(load(s, d, "documents"))
        .select(col("doc_id"),
          TextFunctions.exactFingerprint(col("text")).as("fp_exact"),
          TextFunctions.winnowFingerprint(col("text")).as("fp_winnow"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // End-to-end dedup: MinHash → LSH candidates → connected components →
    // keep each component's min id — the full removal pass a training
    // corpus actually runs, as ONE oracle-gated query.
    "q69_dedup_corpus" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      val losers = TextDedup.dupClusters(pairs, "doc_id")
        .filter(col("doc_id") =!= col("cluster"))
        .select("doc_id")
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // Incremental ingest dedup: the daily batch (doc_id % 10 = 0) is
    // signatured and probed against the standing corpus's prebuilt band
    // index — the corpus is never re-signatured; candidates are the
    // batch docs colliding with any corpus doc on an LSH band.
    "q77_incremental_dedup" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val index = TextDedup.buildBandIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", numHashes = 4, shingleSize = 3, rowsPerBand = 2)
      TextDedup.incrementalCandidates(docs.filter(col("doc_id") % 10 === 0),
          index, "text", "doc_id", numHashes = 4, shingleSize = 3, rowsPerBand = 2)
        .transform(ordered1(_, col("doc_id_new"), col("doc_id_corpus")))
    }),


    // Eval-set decontamination: documents sharing any token 3-gram with
    // the held-out eval slice (doc_id % 20 = 7) are flagged with their
    // distinct-shingle overlap count — the benchmark-overlap gate a
    // training corpus runs before release.
    "q73_decontaminate" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      TextDedup.contaminatedIds(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7),
          "text", "doc_id", shingleSize = 3)
        .orderBy("doc_id")
    }),


    // SimHash Hamming-distance candidate pairs: 32-bit fingerprints cut
    // into 4 8-bit slices (pigeonhole: Hamming < 4 ⇒ some slice agrees,
    // so ≤3 is the complete radius), pairs sharing a slice verified by
    // exact popcount — the fingerprint-space companion to q26's
    // MinHash/LSH banding. 8-bit slices keep slice buckets ~n/256.
    "q80_simhash_pairs" -> ((s, d) => {
      TextDedup.simhashCandidatePairs(
          TextDedup.simhash(parallel(load(s, d, "documents")), "text", "doc_id", 32),
          "doc_id", bits = 32, chunks = 4, maxHamming = 3)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Normalization-keyed exact dedup over a deterministically
    // case/punctuation-perturbed fixture (the corpus is already clean,
    // so even docs are uppercased and %3 docs get a punctuation tail —
    // normalizeText must fold both back before grouping). Group size and
    // keeper come from ONE window over md5(norm) — a fixed-width shuffle
    // key, as q78 — instead of an aggregate + rejoin whose second branch
    // re-ran the normalize/md5 scan (partial-agg exchanges are not
    // join-reusable; the q81/q68 lesson).
    // NO parallel(): one regex normalize per row is too light to repay
    // the spread exchange at bench scale — measured 0.32-0.47 s without
    // vs 0.50-0.75 s with (Prof q83_par, round 14, three interleaved
    // rounds); heavy-gram shapes (q89/q261) measured the opposite and
    // keep it.
    "q83_normalize_dedup" -> ((s, d) => {
      val noisy = load(s, d, "documents").withColumn("__noisy",
        concat(
          when(col("doc_id") % 2 === 0, upper(col("text"))).otherwise(col("text")),
          when(col("doc_id") % 3 === 0, lit(" ... !!!")).otherwise(lit(""))))
      val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
      noisy.select(col("doc_id"),
          md5(TextFunctions.normalizeText(col("__noisy"))).as("__h"))
        .withColumn("n_copies", count(lit(1)).over(wh))
        .withColumn("__keeper", min(col("doc_id")).over(wh))
        .select(col("doc_id"), col("n_copies"),
          (col("doc_id") === col("__keeper")).cast("int").as("is_keeper"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // C4-style span-level dedup over a boilerplate-injected fixture: every
    // %3 doc gets the same 12-token cookie-notice prefix (the corpus has
    // no natural repeated spans), which span dedup must strip from every
    // carrier but the first while leaving original spans untouched.
    // NO parallel(): one md5 per 12-token span is light — same A/B as
    // q83 (0.39-0.59 s without vs 0.58-0.67 s with, Prof q83_par).
    "q84_span_dedup" -> ((s, d) => {
      val noisy = load(s, d, "documents").withColumn("__noisy",
        when(col("doc_id") % 3 === 0,
          concat(lit(SpanBoiler + " "), col("text"))).otherwise(col("text")))
      TextDedup.spanDedup(noisy, "__noisy", "doc_id", spanTokens = 12)
        .transform(ordered1(_, col("doc_id")))
    }),


    // CCNet-style line-level dedup over a line-structured fixture: each
    // doc splits into a 10-token head line + tail line, and every %4 doc
    // carries a shared boilerplate line that line dedup must strip
    // (corpus-frequent) while body lines survive (doc-frequency <= 5
    // tolerates the corpus's natural exact-dup families).
    // NO parallel(): one md5 per LINE (~2/doc) is light — same A/B as
    // q83 (0.39-0.48 s without vs 0.54-0.74 s with, Prof q83_par);
    // q255's medium gram mass measured the opposite and keeps it.
    "q91_line_dedup" -> ((s, d) => {
      val toks = split(col("text"), " ", -1)
      val lined = load(s, d, "documents").withColumn("__lined",
        concat(
          concat_ws("\n",
            array_join(slice(toks, 1, 10), " "),
            array_join(slice(toks, 11, 1000000), " ")),
          when(col("doc_id") % 4 === 0, lit("\n" + LineBoiler)).otherwise(lit(""))))
      TextDedup.lineDedup(lined, "__lined", "doc_id", "\n", maxDocs = 5L)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Winnowing (MOSS) fingerprints: 3-gram hashes, window-4 minima.
    "q96_winnowing" -> ((s, d) => {
      TextDedup.winnow(parallel(load(s, d, "documents")),
          "text", "doc_id", k = 3, w = 4)
        .transform(ordered1(_, col("doc_id"), col("fingerprint")))
    }),


    // Pair-free duplication triage: per-doc share of winnowing
    // fingerprints carried by >= 2 docs + the worst carrier count (the
    // distribution winnowPairs' maxCarriers is set from). Round-12
    // addition under the substantive-oracle policy (the oracle replays
    // the full md5 winnow + carrier join).
    "q258_winnow_risk" -> ((s, d) => {
      TextDedup.winnowRisk(parallel(load(s, d, "documents")),
          "text", "doc_id", k = 3, w = 4)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Fingerprint-level decontamination triage on the q73 fixture: the
    // winnowing guarantee (any shared run >= w+k-1 tokens shares a
    // fingerprint) makes hit_share = 0 a cheap certificate of
    // gram-level cleanliness before contaminatedSpans' exact surgery.
    "q259_winnow_containment" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      TextDedup.winnowContainment(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7),
          "text", "doc_id", k = 3, w = 4)
        .transform(ordered1(_, col("doc_id")))
    }),


    // RAG-chunk provenance: winnow fingerprints per 40-token/32-stride
    // retrieval chunk, flagged when carried by >= 2 distinct docs — the
    // duplicated-content leak a doc-level dedup pass can't see from
    // inside the RAG index. Round-13 addition under the substantive-
    // oracle policy (the oracle replays per-chunk md5 winnowing over
    // ~1.25M grams plus the carrier join).
    "q261_chunk_provenance" -> ((s, d) => {
      TextDedup.chunkProvenance(parallel(load(s, d, "documents")),
          "text", "doc_id", window = 40, stride = 32, k = 3, w = 4)
        .transform(ordered1(_, col("doc_id"), col("chunk_id")))
    }),


    // Winnow edit-locality audit: per-source fingerprint survival
    // between the corpus and an edited version (every 10th doc has
    // token 10 replaced) — the property that makes incremental
    // re-fingerprinting cheap, measured instead of assumed. Round-13
    // addition under the substantive-oracle policy (the oracle runs
    // the full md5 winnow TWICE plus the survival join).
    "q262_winnow_stability" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val edited = docs.withColumn("text",
        when(col("doc_id") % 10 === 0 && size(toks) >= 10,
          array_join(concat(slice(toks, 1, 9), array(lit("EDITv2")),
            slice(toks, lit(11), greatest(size(toks) - 10, lit(0)))), " "))
          .otherwise(col("text")))
      TextDedup.winnowStability(docs, edited, "text", "doc_id",
          "source", k = 3, w = 4)
        .transform(ordered1(_, col("source")))
    }),


    // Incremental winnow re-index delta between two corpus versions:
    // v2 = v1 with every even doc's token 10 edited, every doc_id%10=3
    // deleted, and every doc_id%7=0 re-added under a new id with a
    // NEWDOC prefix — the daily-re-index shape whose cost must track
    // CHANGED docs, not the corpus. Round-14 addition under the
    // substantive-oracle policy (oracle re-winnows ~3.7k changed docs
    // on both sides, 0.80 s measured before building).
    "q263_winnow_delta" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val edited = docs.withColumn("text",
        when(col("doc_id") % 2 === 0 && size(toks) >= 10,
          array_join(concat(slice(toks, 1, 9), array(lit("EDITv2")),
            slice(toks, lit(11), greatest(size(toks) - 10, lit(0)))), " "))
          .otherwise(col("text")))
        .filter(col("doc_id") % 10 =!= 3)
      val added = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(lit("NEWDOC "), col("text")))
      TextDedup.winnowDeltaIndex(docs,
          edited.unionByName(added), "text", "doc_id", k = 3, w = 4)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Apply-side of q250's exact-substring spans (Lee et al.): the
    // pruned training text itself — duplicated-span tokens removed per
    // doc. Round-14 addition under the substantive-oracle policy (the
    // oracle replays gram hashing + carrier counts + positional
    // anti-join + text reassembly, 1.03 s measured before building).
    "q264_span_prune" -> ((s, d) => {
      TextDedup.pruneDuplicatedSpans(parallel(load(s, d, "documents")),
          "text", "doc_id", k = 8, minDocs = 2)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Cross-chunk RAG dedup at retrieval granularity: chunk winnow
    // fingerprint sets (q261's frame) -> Jaccard >= 0.5 candidate
    // pairs -> connected components (q54's min-label rule) — one
    // keeper per syndicated-passage cluster in the retrieval index.
    // Round-14 addition under the substantive-oracle policy (oracle
    // replays per-chunk winnowing + the pair join + a recursive-CTE
    // reachability closure, 3.80 s measured before building).
    "q265_chunk_clusters" -> ((s, d) => {
      TextDedup.chunkClusters(parallel(load(s, d, "documents")),
          "text", "doc_id", window = 40, stride = 32, k = 3, w = 4,
          minJaccard = 0.5)
        .transform(ordered1(_, col("doc_id"), col("chunk_id")))
    }),


    // Repeated-substring leaderboard at TWO gram resolutions (short
    // boilerplate at k=3, long passages at k=8): q250's island
    // machinery re-aggregated by exact span text, top-50 per
    // resolution by reach. Round-15 addition under the substantive-
    // oracle policy (0.82 s measured before building).
    "q268_span_rank" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val r3 = TextDedup.repeatedSpanRank(docs, "text", "doc_id",
          k = 3, minDocs = 2, topK = 50)
        .withColumn("gram_size", lit(3L))
      val r8 = TextDedup.repeatedSpanRank(docs, "text", "doc_id",
          k = 8, minDocs = 2, topK = 50)
        .withColumn("gram_size", lit(8L))
      r3.unionByName(r8)
        .transform(ordered1(_, col("gram_size"), col("rank")))
    }),


    // Apply-side of q263's incremental re-index: the PATCHED
    // fingerprint index (v1 rows kept for unchanged docs, changed docs
    // re-winnowed), rolled up per doc — the oracle re-winnows v2 from
    // scratch, so the row-identical counts ARE the patch≡reindex
    // roundtrip proof. Round-15 addition under the substantive-oracle
    // policy (0.95 s measured before building).
    "q269_winnow_apply" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val edited = docs.withColumn("text",
        when(col("doc_id") % 2 === 0 && size(toks) >= 10,
          array_join(concat(slice(toks, 1, 9), array(lit("EDITv2")),
            slice(toks, lit(11), greatest(size(toks) - 10, lit(0)))), " "))
          .otherwise(col("text")))
        .filter(col("doc_id") % 10 =!= 3)
      val added = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(lit("NEWDOC "), col("text")))
      TextDedup.winnowDeltaApply(docs, edited.unionByName(added),
          "text", "doc_id", k = 2, w = 3)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // q73's Bloom-prefiltered form: SAME fixture, SAME oracle, SAME
    // answer — the sketch (built and probed with Spark's own
    // runtime-filter expressions, BloomFilterAggregate/BloomFilterMightContain)
    // only pre-filters the train shingles before the exact-verify join,
    // so correctness is pinned to the exact oracle while the plan is the
    // one that survives an eval set too big to broadcast.
    "q101_decontaminate_bloom" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      TextDedup.contaminatedIdsBloom(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7),
          "text", "doc_id", shingleSize = 3, expectedEvalShingles = 100000L)
        .orderBy("doc_id")
    }),


    // Token-shingle containment over the q26 LSH candidate pairs — the
    // subset-duplicate detector (short doc embedded in a long one scores
    // low Jaccard but containment ≈ 1 on the short side).
    "q109_containment" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.containmentOnPairs(pairs, docs, "text", "doc_id", n = 3)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Cross-split near-dup leakage: LSH candidate pairs whose endpoints
    // land in different q107 splits (near-dup test/train leakage — the
    // reason dedup must run before, or be aware of, the split). Each
    // endpoint's split is computed IN PLACE from the id arithmetic
    // (Curation.splitFor) — no join against an assignment table.
    "q111_split_leakage" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      val sa = Curation.splitFor(col("doc_id_a"))
      val sb = Curation.splitFor(col("doc_id_b"))
      pairs
        .groupBy(least(sa, sb).as("split_lo"), greatest(sa, sb).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
        .transform(ordered1(_, col("split_lo"), col("split_hi")))
    }),


    // Near-dup removal impact per source: documents losing the q54
    // cluster election (cluster keeper = min id), with doc and token
    // removal rates — the dedup scorecard a release card quotes.
    "q112_dedup_impact" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      // losers: bounded by the candidate-pair population (tiny vs the
      // corpus), so AQE broadcasts the join side at every scale where
      // near-dups are rare; no forced broadcast (a 50%-duplicate crawl
      // would overflow it).
      val losers = TextDedup.dupClusters(pairs, "doc_id")
        .filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id"), lit(1L).as("__dup"))
      docs
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("__nt"))
        .join(losers, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("n_tokens"),
          sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("__dup").isNotNull, col("__nt")).otherwise(0L))
            .as("tokens_removed"),
          round(sum(when(col("__dup").isNotNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("removal_rate"))
        .transform(ordered1(_, col("source")))
    }),


    // Levenshtein verification over the q26 LSH candidate pairs: the
    // tokenization-free near-dup check (first-200-chars prefix cap — the
    // per-pair O(prefix²) scale contract documented on the operator).
    "q102_edit_verify" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.editDistanceOnPairs(pairs, docs, "text", "doc_id", prefixChars = 200)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Dup-cluster assignment: connected components over LSH candidate
    // pairs — transitive chains collapse to one keeper (min id).
    "q54_dup_clusters" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.dupClusters(pairs, "doc_id")
        .withColumn("is_keeper", col("doc_id") === col("cluster"))
        .orderBy("doc_id")
    }),


    // PageRank-weighted keeper election over q54's components: instead
    // of min-id, each cluster keeps its most CENTRAL member under a
    // 3-iteration PageRank of the candidate-pair graph (the doc most
    // corroborated by near-duplicate mass — dedup that keeps the
    // canonical copy, not an arbitrary one). Ties on rank break to the
    // smaller id. Runs over a 5x token-distinct replicated corpus
    // (suffixed tokens never pair across replicas, so the base-replica
    // answer is exact after the cluster < 1e6 cut) — the q270
    // oracle-floor lever: the plain corpus's 0.82-0.94 s oracle left
    // the CC+PR job constants exposed at ~3.5x. Round-16 addition
    // under the substantive-oracle policy (oracle needs MATERIALIZED
    // pairs; 0.92-1.16 s at 1x / re-timed at 3x before building).
    "q274_pr_keeper" -> ((s, d) => {
      val docs0 = load(s, d, "documents").filter(col("text").isNotNull)
      val reps = (0 to 4).map { r =>
        if (r == 0) docs0.select(col("doc_id"), col("text"))
        else docs0.select(
          (col("doc_id") + r * 1000000L).as("doc_id"),
          array_join(transform(
            graft.functions.TextFunctions.tokens(col("text")),
            x => concat(x, lit(s"_$r"))), " ").as("text"))
      }
      val docs = parallel(reps.reduce(_ unionByName _))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
        .persist()
      val clusters = TextDedup.dupClusters(pairs, "doc_id")
      val edges = pairs
        .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
        .unionByName(pairs
          .select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
        .withColumn("w", lit(1L))
      val pr = graft.operators.Graph.pageRank(edges, "src", "dst", "w",
        iterations = 3)
      clusters.join(pr, clusters("doc_id") === pr("node"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("rank"), (-col("doc_id")).as("negid"))).as("__m"))
        .filter(col("cluster") < 1000000L)
        .select(col("cluster"),
          (-col("__m.negid")).as("keeper_id"),
          col("n_members"),
          round(col("__m.rank"), 6).as("keeper_rank"))
        .transform(ordered1(_, col("cluster")))
    }),


    // Exact-substring (Lee et al.) duplicated-span extraction: maximal
    // runs of corpus-duplicated 8-token grams per document — the
    // memorization-risk segments. One gram-hash shuffle + per-doc
    // gap-and-island windows; see TextDedup.duplicatedSpans.
    "q250_dup_spans" -> ((s, d) => {
      TextDedup.duplicatedSpans(parallel(load(s, d, "documents")),
          "text", "doc_id", k = 8, minDocs = 2)
        .transform(ordered1(_, col("doc_id"), col("span_start")))
    }),


    // Rarity-weighted contamination: the share of each training doc's
    // rarity-weighted 5-gram mass that overlaps the q73 eval split —
    // integer-exact floor(1e6/df) weights so cross-engine sums agree
    // bitwise; boilerplate overlap scores low, eval-unique overlap high.
    "q256_weighted_contamination" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      TextDedup.weightedContamination(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7),
          "text", "doc_id", k = 5)
        .transform(ordered1(_, col("doc_id")))
    }),


    // Surgical decontamination: WHERE each training doc overlaps the
    // q73 eval split (maximal contaminated 5-gram spans), not just
    // whether — the span a pipeline cuts instead of dropping the doc.
    "q255_contaminated_spans" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      TextDedup.contaminatedSpans(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7),
          "text", "doc_id", k = 5)
        .transform(ordered1(_, col("doc_id"), col("span_start")))
    }),


    // Near-dup pair EVIDENCE: for each LSH candidate pair, the longest
    // shared contiguous token run (diagonal-run construction over
    // matching 8-gram positions) and the shared-occurrence count —
    // the span a reviewer reads before trusting a dedup verdict.
    "q254_shared_spans" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.sharedSpanOnPairs(pairs, docs, "text", "doc_id", k = 8)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // MOSS pair detection: document pairs sharing >= 3 winnowing
    // fingerprints (q96's k=3, w=4 selection), with the exact Jaccard
    // verify attached; fingerprint equi-join with the mega-carrier
    // fail-fast, never all-pairs.
    "q253_winnow_pairs" -> ((s, d) => {
      TextDedup.winnowPairs(parallel(load(s, d, "documents")),
          "text", "doc_id", k = 3, w = 4, minShared = 3)
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Token-level exact-substring dedup impact per source: duplicated
    // spans merged into disjoint token intervals (running-max sweep),
    // then token shares — the dataset-card accounting doc-level
    // scorecards (q112) hide.
    "q252_dup_token_impact" -> ((s, d) => {
      TextDedup.duplicatedTokenImpact(parallel(load(s, d, "documents")),
          "text", "doc_id", "source", k = 8, minDocs = 2)
        .transform(ordered1(_, col("source")))
    }),


    // MinHash estimator calibration over the q26 candidate machinery:
    // sketch-estimated vs exact Jaccard per candidate pair, with the
    // absolute error — the sketch audit run before trusting banding
    // thresholds.
    "q251_minhash_calibration" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      val sigs = TextDedup.minhashSignatures(docs, "text", "doc_id", 4, 3)
      val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id", 4, 2)
      TextDedup.minhashCalibration(pairs, sigs, docs, "text", "doc_id")
        .transform(ordered1(_, col("doc_id_a"), col("doc_id_b")))
    }),


    // Content-defined chunking dedup audit: variable-size chunks split
    // at rolling-hash content boundaries (edit-resilient, unlike fixed
    // windows), then per-source chunk-level duplication ratio.
    "q137_cdc_dedup" -> ((s, d) => {
      val docs = parallel(load(s, d, "documents"))
      docs.select(col("source"),
          explode(TextFunctions.cdcChunks(col("text"), 8, 1)).as("chunk"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk")).as("n_distinct"),
          round(lit(1.0) - countDistinct(col("chunk")).cast("double")
            / count(lit(1)).cast("double"), 6).as("dup_ratio"),
          round(sum(length(col("chunk"))).cast("double")
            / count(lit(1)).cast("double"), 6).as("avg_len"))
        .transform(ordered1(_, col("source")))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q24_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies, text
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,


    "q25_minhash_sig" ->
      s"""WITH $shinglesCte
         |SELECT doc_id, sig_0, sig_1, sig_2, sig_3 FROM sig ORDER BY doc_id""".stripMargin,


    "q26_neardup_jaccard" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |dtoks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dt FROM documents)
         |SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(da.dt, db.dt)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(da.dt, db.dt))) AS DOUBLE) AS jaccard
         |FROM pairs p
         |JOIN dtoks da ON da.doc_id = p.doc_id_a
         |JOIN dtoks db ON db.doc_id = p.doc_id_b
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q67_lsh_guarded" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |sized AS (SELECT doc_id, band,
         |  COUNT(*) OVER (PARTITION BY band) AS w,
         |  MIN(doc_id) OVER (PARTITION BY band) AS anchor
         |  FROM banded)
         |SELECT DISTINCT doc_id_a, doc_id_b FROM (
         |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM sized a JOIN sized b ON a.band = b.band AND a.doc_id < b.doc_id
         |  WHERE a.w <= 2
         |  UNION ALL
         |  SELECT anchor, doc_id FROM sized WHERE w > 2 AND doc_id <> anchor)
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q27_simhash" ->
      s"""SELECT doc_id, CAST(${simhashBitsSql(16)} AS BIGINT) AS simhash
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,


    "q28_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_exact,
        | list_min([md5(substring(text, i, 16))
        |   FOR i IN generate_series(1, greatest(length(text) - 15, 1))]) AS fp_winnow
        |FROM documents ORDER BY doc_id""".stripMargin,


    "q69_dedup_corpus" ->
      s"""WITH RECURSIVE $shinglesCte,
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
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) < id)
         |SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,


    "q77_incremental_dedup" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_id_new, b.doc_id AS doc_id_corpus
         |FROM banded a JOIN banded b ON a.band = b.band
         |WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |ORDER BY doc_id_new, doc_id_corpus""".stripMargin,


    "q73_decontaminate" -> DecontaminateOracle,


    // Bit-identical oracle to q73: the Bloom sketch is a pre-filter, not
    // an approximation, so the exact decontamination SQL IS the contract.
    "q101_decontaminate_bloom" -> DecontaminateOracle,


    "q80_simhash_pairs" ->
      s"""WITH f AS (SELECT doc_id, CAST(${simhashBitsSql(32)} AS BIGINT) AS simhash
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |ch AS (SELECT doc_id, simhash, i AS ci, (simhash >> (i*8)) & 255 AS cv
         |  FROM f, generate_series(0, 3) g(i)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q83_normalize_dedup" ->
      """WITH noisy AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN ' ... !!!' ELSE '' END) AS noisy FROM documents),
        |norm AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(noisy), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h FROM noisy),
        |g AS (SELECT h, count(*) AS n_copies, min(doc_id) AS keeper FROM norm GROUP BY h)
        |SELECT doc_id, n_copies, CAST(doc_id = keeper AS INT) AS is_keeper
        |FROM norm JOIN g USING (h) ORDER BY doc_id""".stripMargin,


    "q84_span_dedup" ->
      s"""WITH noisy AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN '$SpanBoiler ' || text ELSE text END AS text
         |  FROM documents),
         |d AS (SELECT doc_id, string_split(text, ' ') AS t,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM noisy),
         |c AS (SELECT doc_id, t, n, unnest(generate_series(0,
         |    CAST(floor((greatest(n - 12, 0) + 11) / 12.0) AS BIGINT))) AS chunk_id
         |  FROM d),
         |spans AS (SELECT doc_id, chunk_id,
         |  array_to_string(t[(chunk_id * 12 + 1):(chunk_id * 12 + 12)], ' ') AS span
         |  FROM c),
         |k AS (SELECT span, min(doc_id * 1048576 + chunk_id) AS keep
         |  FROM spans GROUP BY span),
         |kept AS (SELECT s.doc_id, s.chunk_id, s.span FROM spans s JOIN k
         |  ON s.span = k.span AND s.doc_id * 1048576 + s.chunk_id = k.keep),
         |per AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
         |ka AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(span, ' ' ORDER BY chunk_id) AS clean_text FROM kept GROUP BY doc_id)
         |SELECT p.doc_id, p.n_spans, coalesce(ka.n_kept, 0) AS n_kept,
         |  coalesce(ka.clean_text, '') AS clean_text
         |FROM per p LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin,


    "q91_line_dedup" ->
      s"""WITH lined AS (SELECT doc_id,
         |  array_to_string(string_split(text, ' ')[1:10], ' ') || chr(10) ||
         |  coalesce(array_to_string(string_split(text, ' ')[11:], ' '), '') ||
         |  (CASE WHEN doc_id % 4 = 0 THEN chr(10) || '$LineBoiler' ELSE '' END)
         |  AS text FROM documents),
         |lines AS (SELECT doc_id,
         |    unnest(string_split(text, chr(10))) AS line,
         |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
         |  FROM lined),
         |freq AS (SELECT line, count(DISTINCT doc_id) AS docs
         |  FROM lines GROUP BY line),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
         |  JOIN freq f ON l.line = f.line WHERE f.docs <= 5),
         |per AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
         |ka AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT p.doc_id, p.n_lines, coalesce(ka.n_kept, 0) AS n_kept,
         |  coalesce(ka.clean_text, '') AS clean_text
         |FROM per p LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin,


    "q96_winnowing" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh FROM d)
        |SELECT DISTINCT doc_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))]) AS fingerprint
        |FROM g ORDER BY doc_id, fingerprint""".stripMargin,


    "q258_winnow_risk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh FROM d),
        |fp AS (SELECT DISTINCT doc_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))]) AS fingerprint
        |  FROM g),
        |c AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS c FROM fp
        |  GROUP BY fingerprint)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared_fps,
        |  max(c) AS max_carriers,
        |  round(CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS risk_share
        |FROM fp JOIN c USING (fingerprint)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "q259_winnow_containment" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh FROM d),
        |fp AS (SELECT DISTINCT doc_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))]) AS fingerprint
        |  FROM g),
        |ev AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 20 = 7),
        |tr AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 20 <> 7)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_fps,
        |  CAST(sum(CASE WHEN ev.fingerprint IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN ev.fingerprint IS NOT NULL
        |      THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS hit_share
        |FROM tr LEFT JOIN ev ON tr.fingerprint = ev.fingerprint
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,


    "q261_chunk_provenance" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |ch AS (SELECT doc_id, c.cid AS chunk_id, c.ct AS ct FROM (
        |  SELECT doc_id, unnest([{'cid': i, 'ct': t[i*32+1 : i*32+40]}
        |    FOR i IN generate_series(0,
        |      CAST(floor((greatest(len(t) - 40, 0) + 31) / 32) AS BIGINT))])
        |    AS c
        |  FROM d)),
        |g AS (SELECT doc_id, chunk_id,
        |  [md5(array_to_string(ct[i:i+2], ' '))
        |    FOR i IN generate_series(1, greatest(len(ct) - 2, 1))] AS gh
        |  FROM ch),
        |fp AS (SELECT DISTINCT doc_id, chunk_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))])
        |    AS fingerprint
        |  FROM g),
        |ca AS (SELECT fingerprint, CAST(count(*) AS BIGINT) AS nd
        |  FROM (SELECT DISTINCT fingerprint, doc_id FROM fp)
        |  GROUP BY fingerprint)
        |SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_fps,
        |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_foreign,
        |  max(nd) AS max_docs,
        |  round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS foreign_share
        |FROM fp JOIN ca USING (fingerprint)
        |GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin,


    "q262_winnow_stability" ->
      """WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |da AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 AND len(t) >= 10
        |    THEN list_concat(list_concat(t[1:9], ['EDITv2']), t[11:len(t)])
        |    ELSE t END AS t
        |  FROM d0),
        |gb AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh
        |  FROM d0),
        |ga AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh
        |  FROM da),
        |fb AS (SELECT DISTINCT doc_id, unnest([list_min(gh[i:i+3])
        |  FOR i IN generate_series(1, greatest(len(gh) - 3, 1))])
        |  AS fingerprint FROM gb),
        |fa AS (SELECT DISTINCT doc_id, unnest([list_min(gh[i:i+3])
        |  FOR i IN generate_series(1, greatest(len(gh) - 3, 1))])
        |  AS fingerprint FROM ga),
        |pd AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(count(b.fingerprint) AS BIGINT) AS nb,
        |    CAST(count(a.fingerprint) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN b.fingerprint IS NOT NULL
        |      AND a.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nc
        |  FROM fb b FULL JOIN fa a
        |    ON b.doc_id = a.doc_id AND b.fingerprint = a.fingerprint
        |  GROUP BY 1),
        |s AS (SELECT DISTINCT doc_id, source FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_fps_before,
        |  CAST(sum(na) AS BIGINT) AS n_fps_after,
        |  CAST(sum(nc) AS BIGINT) AS n_common,
        |  round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE), 6)
        |    AS retained_share,
        |  round(CAST(sum(nc) AS DOUBLE)
        |    / CAST(sum(nb) + sum(na) - sum(nc) AS DOUBLE), 6) AS jaccard
        |FROM pd JOIN s USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,


    // Mirrors TextDedup.winnowDeltaIndex over the q263 fixture: change
    // detection by full-outer text compare, md5 winnow (k=3, w=4) of
    // changed docs on both sides, per-doc del/add/keep fingerprint
    // counts from one full join.
    "q263_winnow_delta" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |v2e AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 AND len(string_split(text,' ')) >= 10
        |      THEN array_to_string(list_concat(list_concat(
        |        string_split(text,' ')[1:9], ['EDITv2']),
        |        string_split(text,' ')[11:len(string_split(text,' '))]), ' ')
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 3),
        |v2a AS (SELECT doc_id + 1000000 AS doc_id, 'NEWDOC ' || text AS text
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0),
        |v2 AS (SELECT * FROM v2e UNION ALL SELECT * FROM v2a),
        |st AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN 'deleted'
        |         WHEN a.doc_id IS NULL THEN 'added'
        |         ELSE 'edited' END AS status,
        |    a.text AS t1, b.text AS t2
        |  FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id
        |  WHERE b.doc_id IS NULL OR a.doc_id IS NULL OR a.text <> b.text),
        |gb AS (SELECT doc_id, [md5(array_to_string(t[i:i+2],' '))
        |    FOR i IN generate_series(1, greatest(len(t)-2,1))] AS gh
        |  FROM (SELECT doc_id, string_split(t1,' ') AS t FROM st
        |        WHERE t1 IS NOT NULL)),
        |ga AS (SELECT doc_id, [md5(array_to_string(t[i:i+2],' '))
        |    FOR i IN generate_series(1, greatest(len(t)-2,1))] AS gh
        |  FROM (SELECT doc_id, string_split(t2,' ') AS t FROM st
        |        WHERE t2 IS NOT NULL)),
        |fb AS (SELECT DISTINCT doc_id, unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh)-3,1))]) AS fp
        |  FROM gb),
        |fa AS (SELECT DISTINCT doc_id, unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh)-3,1))]) AS fp
        |  FROM ga),
        |pd2 AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    CAST(sum(CASE WHEN a.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_del,
        |    CAST(sum(CASE WHEN b.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_add,
        |    CAST(sum(CASE WHEN a.fp IS NOT NULL AND b.fp IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |  FROM fb b FULL JOIN fa a
        |    ON b.doc_id = a.doc_id AND b.fp = a.fp
        |  GROUP BY 1)
        |SELECT st.doc_id, st.status,
        |  coalesce(pd2.n_del, 0) AS n_del, coalesce(pd2.n_add, 0) AS n_add,
        |  coalesce(pd2.n_keep, 0) AS n_keep
        |FROM st LEFT JOIN pd2 ON st.doc_id = pd2.doc_id
        |ORDER BY st.doc_id""".stripMargin,


    // Mirrors TextDedup.pruneDuplicatedSpans: q250's duplicated 8-gram
    // positions expanded to covered token positions, anti-joined
    // against the position-exploded tokens, text reassembled in order.
    "q264_span_prune" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |g2 AS (SELECT doc_id, p, md5(array_to_string(t[p:p+7], ' ')) AS h
        |  FROM (SELECT doc_id,
        |      unnest(generate_series(1, greatest(len(t)-7, 1))) AS p, t
        |    FROM d)),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM g2 GROUP BY h) x WHERE nd >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos FROM
        |  (SELECT doc_id, unnest(generate_series(p, p + 7)) AS pos
        |   FROM g2 JOIN f USING (h))),
        |pos AS (SELECT doc_id, i, t[i] AS w FROM
        |  (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
        |   FROM d)),
        |kept AS (SELECT p.doc_id, p.i, p.w FROM pos p
        |  ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.i = c.pos)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(len(d.t) - count(k.i) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(list(k.w ORDER BY k.i), ' '), '')
        |    AS pruned_text
        |FROM d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id, len(d.t)
        |ORDER BY d.doc_id""".stripMargin,


    // Mirrors TextDedup.chunkClusters: q261's per-chunk md5 winnow
    // fingerprints, shared-fingerprint pairs at fp-set Jaccard >= 0.5,
    // reachability closure with min-label clusters (q54's rule) over
    // the packed (doc*100000 + chunk) key.
    "q265_chunk_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |ch AS (SELECT doc_id, c.cid AS chunk_id, c.ct AS ct FROM (
        |  SELECT doc_id, unnest([{'cid': i, 'ct': t[i*32+1 : i*32+40]}
        |    FOR i IN generate_series(0,
        |      CAST(floor((greatest(len(t) - 40, 0) + 31) / 32) AS BIGINT))])
        |    AS c
        |  FROM d)),
        |g AS (SELECT doc_id, chunk_id,
        |  [md5(array_to_string(ct[i:i+2], ' '))
        |    FOR i IN generate_series(1, greatest(len(ct) - 2, 1))] AS gh
        |  FROM ch),
        |fp AS (SELECT DISTINCT doc_id, chunk_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))])
        |    AS fingerprint
        |  FROM g),
        |kk AS (SELECT doc_id * 100000 + chunk_id AS ck, fingerprint FROM fp),
        |sz AS (SELECT ck, CAST(count(*) AS BIGINT) AS n FROM kk GROUP BY ck),
        |pr AS (SELECT a.ck AS a, b.ck AS b, CAST(count(*) AS BIGINT) AS shared
        |  FROM kk a JOIN kk b ON a.fingerprint = b.fingerprint AND a.ck < b.ck
        |  GROUP BY a.ck, b.ck),
        |pairs AS (SELECT pr.a, pr.b FROM pr
        |  JOIN sz sa ON pr.a = sa.ck JOIN sz sb ON pr.b = sb.ck
        |  WHERE CAST(pr.shared AS DOUBLE) / (sa.n + sb.n - pr.shared) >= 0.5),
        |e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
        |SELECT CAST(id // 100000 AS BIGINT) AS doc_id,
        |  CAST(id % 100000 AS BIGINT) AS chunk_id,
        |  CAST(min(r) // 100000 AS BIGINT) AS cluster_doc,
        |  CAST(min(r) % 100000 AS BIGINT) AS cluster_chunk,
        |  min(r) = id AS is_keeper
        |FROM reach GROUP BY id ORDER BY doc_id, chunk_id""".stripMargin,


    // Mirrors TextDedup.repeatedSpanRank at k=3 and k=8: q250's island
    // CTEs, span text sliced from the doc's own tokens, grouped by
    // exact text, top-50 per resolution by (n_docs, n_occurrences,
    // text) — a total order on both sides.
    "q268_span_rank" ->
      """(WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |g2 AS (SELECT doc_id, p, md5(array_to_string(t[p:p+2], ' ')) AS h
        |  FROM (SELECT doc_id,
        |      unnest(generate_series(1, greatest(len(t)-2, 1))) AS p, t
        |    FROM d)),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM g2 GROUP BY h) x WHERE nd >= 2),
        |isl AS (SELECT doc_id, p, p - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM (SELECT doc_id, p FROM g2 JOIN f USING (h))),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 2 AS e
        |  FROM isl GROUP BY doc_id, island),
        |tx AS (SELECT sp.doc_id, array_to_string(d.t[sp.s:sp.e], ' ')
        |    AS span_text
        |  FROM sp JOIN d ON d.doc_id = sp.doc_id),
        |r AS (SELECT span_text,
        |    CAST(len(string_split(span_text, ' ')) AS BIGINT) AS span_tokens,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM tx GROUP BY span_text)
        |SELECT CAST(3 AS BIGINT) AS gram_size,
        |  CAST(row_number() OVER (ORDER BY n_docs DESC,
        |    n_occurrences DESC, span_text ASC) AS BIGINT) AS rank,
        |  span_text, span_tokens, n_docs, n_occurrences
        |FROM r
        |ORDER BY n_docs DESC, n_occurrences DESC, span_text ASC
        |LIMIT 50)
        |UNION ALL
        |(WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |g2 AS (SELECT doc_id, p, md5(array_to_string(t[p:p+7], ' ')) AS h
        |  FROM (SELECT doc_id,
        |      unnest(generate_series(1, greatest(len(t)-7, 1))) AS p, t
        |    FROM d)),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM g2 GROUP BY h) x WHERE nd >= 2),
        |isl AS (SELECT doc_id, p, p - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM (SELECT doc_id, p FROM g2 JOIN f USING (h))),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        |  FROM isl GROUP BY doc_id, island),
        |tx AS (SELECT sp.doc_id, array_to_string(d.t[sp.s:sp.e], ' ')
        |    AS span_text
        |  FROM sp JOIN d ON d.doc_id = sp.doc_id),
        |r AS (SELECT span_text,
        |    CAST(len(string_split(span_text, ' ')) AS BIGINT) AS span_tokens,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM tx GROUP BY span_text)
        |SELECT CAST(8 AS BIGINT) AS gram_size,
        |  CAST(row_number() OVER (ORDER BY n_docs DESC,
        |    n_occurrences DESC, span_text ASC) AS BIGINT) AS rank,
        |  span_text, span_tokens, n_docs, n_occurrences
        |FROM r
        |ORDER BY n_docs DESC, n_occurrences DESC, span_text ASC
        |LIMIT 50)
        |ORDER BY gram_size, rank""".stripMargin,


    // Mirrors TextDedup.winnowDeltaApply's patch≡reindex roundtrip:
    // the oracle winnows the ENTIRE v2 corpus (k=2, w=3) from scratch
    // and counts distinct fingerprints per doc — row-identity against
    // the Spark side's patched index proves the incremental apply.
    "q269_winnow_apply" ->
      """WITH v2e AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 AND len(string_split(text,' ')) >= 10
        |      THEN array_to_string(list_concat(list_concat(
        |        string_split(text,' ')[1:9], ['EDITv2']),
        |        string_split(text,' ')[11:len(string_split(text,' '))]), ' ')
        |      ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 3),
        |v2a AS (SELECT doc_id + 1000000 AS doc_id, 'NEWDOC ' || text AS text
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0),
        |v2 AS (SELECT * FROM v2e UNION ALL SELECT * FROM v2a),
        |ga AS (SELECT doc_id, [md5(array_to_string(t[i:i+1],' '))
        |    FOR i IN generate_series(1, greatest(len(t)-1,1))] AS gh
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM v2)),
        |fa AS (SELECT DISTINCT doc_id, unnest([list_min(gh[i:i+2])
        |    FOR i IN generate_series(1, greatest(len(gh)-2,1))]) AS fp
        |  FROM ga)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps
        |FROM fa GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "q109_containment" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |grams AS (SELECT doc_id,
         |  list_distinct([array_to_string(t[i:i+2], ' ')
         |    FOR i IN generate_series(1, greatest(len(t) - 2, 1))]) AS g
         |  FROM toks)
         |SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
         |    / CAST(len(ga.g) AS DOUBLE) AS containment_a,
         |  CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
         |    / CAST(len(gb.g) AS DOUBLE) AS containment_b,
         |  greatest(
         |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
         |      / CAST(len(ga.g) AS DOUBLE),
         |    CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
         |      / CAST(len(gb.g) AS DOUBLE)) AS max_containment
         |FROM pairs p
         |JOIN grams ga ON ga.doc_id = p.doc_id_a
         |JOIN grams gb ON gb.doc_id = p.doc_id_b
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q111_split_leakage" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |sp AS (SELECT doc_id_a, doc_id_b,
         |  CASE WHEN (doc_id_a * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
         |       WHEN (doc_id_a * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS sa,
         |  CASE WHEN (doc_id_b * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
         |       WHEN (doc_id_b * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS sb
         |  FROM pairs)
         |SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
         |  count(*) AS n_pairs, least(sa, sb) <> greatest(sa, sb) AS is_leak
         |FROM sp GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin,


    "q112_dedup_impact" ->
      s"""WITH RECURSIVE $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(sum(CASE WHEN l.id IS NOT NULL
         |    THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
         |    AS tokens_removed,
         |  round(CAST(sum(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS removal_rate
         |FROM documents d LEFT JOIN losers l ON l.id = d.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,


    "q102_edit_verify" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |dt AS (SELECT doc_id, substring(text, 1, 200) AS t FROM documents)
         |SELECT p.doc_id_a, p.doc_id_b,
         |  levenshtein(da.t, db.t) AS edit_distance,
         |  round(1 - CAST(levenshtein(da.t, db.t) AS DOUBLE)
         |    / greatest(len(da.t), len(db.t), 1), 6) AS edit_sim
         |FROM pairs p
         |JOIN dt da ON da.doc_id = p.doc_id_a
         |JOIN dt db ON db.doc_id = p.doc_id_b
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q54_dup_clusters" ->
      s"""WITH RECURSIVE $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
         |SELECT id AS doc_id, min(r) AS cluster, min(r) = id AS is_keeper
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,


    // Mirrors the q274 chain: q54's bands/pairs over the 5x replicated
    // corpus (MATERIALIZED — DuckDB inlines CTEs, and the PR iterations
    // reference the pair graph enough times to re-run the whole minhash
    // pipeline ~30x without it: 34 s -> 1.0 s measured), the q155
    // unrolled PageRank on the symmetrized pair graph, the q54
    // reachability CC, then the (rank DESC, id ASC) keeper per cluster.
    // NOTE: inside WITH RECURSIVE, DuckDB gives plain `a UNION b` CTEs
    // union-ALL-like semantics (measured: a 2-row UNION of identical
    // branches returned 4) — any genuine dedup must be an explicit
    // SELECT DISTINCT over UNION ALL, as `nodes` below does.
    "q274_pr_keeper" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id + r * 1000000 AS doc_id,
         |    CASE WHEN r = 0 THEN text
         |      ELSE array_to_string([x || '_' || r
         |        FOR x IN string_split(text, ' ')], ' ') END AS text
         |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS r)
         |  WHERE text IS NOT NULL),
         |${shinglesCte.replace("FROM documents", "FROM corpus")},
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |e AS (SELECT a AS src, b AS dst, 1 AS n FROM pairs
         |  UNION ALL SELECT b, a, 1 FROM pairs),
         |t AS (SELECT src, dst,
         |    CAST(n AS DOUBLE) / sum(CAST(n AS DOUBLE)) OVER (PARTITION BY src) AS p
         |  FROM e),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         |r0 AS (SELECT node, 1.0 / (SELECT nn FROM nc) AS rank FROM nodes),
         |${prIterSql(1)},
         |${prIterSql(2)},
         |${prIterSql(3)},
         |er AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT src, src FROM er
         |  UNION
         |  SELECT er.src, reach.r FROM er JOIN reach ON reach.id = er.dst),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
         |j AS (SELECT cl.cluster, cl.doc_id, r3.rank FROM cl
         |  JOIN r3 ON r3.node = cl.doc_id),
         |k AS (SELECT cluster, doc_id, rank,
         |    row_number() OVER (PARTITION BY cluster ORDER BY rank DESC, doc_id ASC)
         |      AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS nm FROM j)
         |SELECT cluster, doc_id AS keeper_id, CAST(nm AS BIGINT) AS n_members,
         |  round(rank, 6) AS keeper_rank
         |FROM k WHERE rn = 1 AND cluster < 1000000 ORDER BY cluster""".stripMargin,


    // Mirrors TextDedup.duplicatedSpans: per-position 8-gram hashes,
    // distinct-carrier count per gram, gap-and-island merge of
    // consecutive duplicated positions. Integer-exact throughout.
    "q250_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 7, 1))) AS p, t
        |  FROM d),
        |g2 AS (SELECT doc_id, p,
        |    md5(array_to_string(t[p:p+7], ' ')) AS h FROM g),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM g2 GROUP BY h) x WHERE nd >= 2),
        |dup AS (SELECT doc_id, p FROM g2 JOIN f USING (h)),
        |isl AS (SELECT doc_id, p, p - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island FROM dup)
        |SELECT doc_id, min(p) AS span_start,
        |  max(p) + 7 AS span_end, CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,


    // Mirrors TextDedup.weightedContamination: distinct (doc, 5-gram)
    // frame, integer floor(1e6/df) rarity weights, eval-flagged sums.
    "q256_weighted_contamination" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 <> 7),
        |ev AS (SELECT string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 = 7),
        |tg AS (SELECT DISTINCT doc_id, md5(g) AS h FROM (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i:i+4], ' ')
        |      FOR i IN generate_series(1, greatest(len(t) - 4, 1))])) AS g
        |  FROM tr)),
        |dfc AS (SELECT h, count(*) AS dfn FROM tg GROUP BY h),
        |eg AS (SELECT DISTINCT md5(g) AS h FROM (
        |  SELECT unnest(list_distinct(
        |    [array_to_string(t[i:i+4], ' ')
        |      FOR i IN generate_series(1, greatest(len(t) - 4, 1))])) AS g
        |  FROM ev)),
        |sc AS (SELECT tg.doc_id,
        |    count(*) AS n_grams,
        |    CAST(sum(CASE WHEN eg.h IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_overlap,
        |    sum(CAST(1000000 // dfn AS BIGINT)) AS tw,
        |    sum(CASE WHEN eg.h IS NOT NULL
        |      THEN CAST(1000000 // dfn AS BIGINT) ELSE 0 END) AS ow
        |  FROM tg JOIN dfc ON tg.h = dfc.h
        |  LEFT JOIN eg ON tg.h = eg.h
        |  GROUP BY tg.doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_overlap,
        |  round(CAST(ow AS DOUBLE) / CAST(tw AS DOUBLE), 6)
        |    AS weighted_share
        |FROM sc WHERE n_overlap >= 1 ORDER BY doc_id""".stripMargin,


    // Mirrors TextDedup.contaminatedSpans: train 5-gram positions
    // appearing in the eval split's distinct gram set, island-merged.
    // Round 16: the join key is the RAW gram on both sides (the
    // operator dropped its md5 — equality key only, broadcast join).
    "q255_contaminated_spans" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 <> 7),
        |ev AS (SELECT string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id % 20 = 7),
        |gtr0 AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 4, 1))) AS p, t
        |  FROM tr),
        |gtr AS (SELECT doc_id, p,
        |    array_to_string(t[p:p+4], ' ') AS h FROM gtr0),
        |gev0 AS (SELECT unnest(generate_series(1,
        |    greatest(len(t) - 4, 1))) AS p, t FROM ev),
        |gev AS (SELECT DISTINCT array_to_string(t[p:p+4], ' ') AS h
        |  FROM gev0),
        |hits AS (SELECT doc_id, p FROM gtr JOIN gev USING (h)),
        |isl AS (SELECT doc_id, p, p - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island FROM hits)
        |SELECT doc_id, min(p) AS span_start, max(p) + 4 AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,


    // Mirrors TextDedup.sharedSpanOnPairs over the q26 banding: matching
    // 8-gram positions on one diagonal form runs; longest + 7 tokens.
    "q254_shared_spans" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |d8 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |gp AS (SELECT doc_id,
         |    unnest(generate_series(1, greatest(len(t) - 7, 1))) AS p, t
         |  FROM d8),
         |g8 AS (SELECT doc_id, p,
         |    md5(array_to_string(t[p:p+7], ' ')) AS h FROM gp),
         |m AS (SELECT pr.doc_id_a, pr.doc_id_b, ga.p AS pa, gb.p AS pb,
         |    ga.p - gb.p AS diag
         |  FROM pairs pr
         |  JOIN g8 ga ON ga.doc_id = pr.doc_id_a
         |  JOIN g8 gb ON gb.doc_id = pr.doc_id_b AND gb.h = ga.h),
         |isl AS (SELECT doc_id_a, doc_id_b, diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_id_a, doc_id_b, diag
         |      ORDER BY pa) AS grp
         |  FROM m),
         |runs AS (SELECT doc_id_a, doc_id_b, diag, grp,
         |    count(*) AS run FROM isl GROUP BY 1, 2, 3, 4),
         |agg AS (SELECT doc_id_a, doc_id_b,
         |    CAST(sum(run) AS BIGINT) AS n_shared_grams,
         |    CAST(max(run) + 7 AS BIGINT) AS longest_run_tokens
         |  FROM runs GROUP BY 1, 2)
         |SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(coalesce(a.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
         |  CAST(coalesce(a.longest_run_tokens, 0) AS BIGINT)
         |    AS longest_run_tokens
         |FROM pairs p LEFT JOIN agg a USING (doc_id_a, doc_id_b)
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    // Mirrors TextDedup.winnowPairs over q96's winnowing selection:
    // distinct fingerprint co-carriers, n_shared >= 3, token Jaccard.
    "q253_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, [md5(array_to_string(t[i:i+2], ' '))
        |  FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS gh FROM d),
        |fp AS (SELECT DISTINCT doc_id,
        |  unnest([list_min(gh[i:i+3])
        |    FOR i IN generate_series(1, greatest(len(gh) - 3, 1))]) AS f
        |  FROM g),
        |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |dtoks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dt
        |  FROM documents)
        |SELECT p.doc_id_a, p.doc_id_b, p.n_shared,
        |  round(CAST(len(list_intersect(da.dt, db.dt)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(da.dt, db.dt))) AS DOUBLE),
        |    6) AS jaccard
        |FROM pairs p
        |JOIN dtoks da ON da.doc_id = p.doc_id_a
        |JOIN dtoks db ON db.doc_id = p.doc_id_b
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,


    // Mirrors TextDedup.duplicatedTokenImpact: q250's span CTE chain,
    // running-max interval merge, per-source token accounting.
    "q252_dup_token_impact" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 7, 1))) AS p, t
        |  FROM d),
        |g2 AS (SELECT doc_id, p,
        |    md5(array_to_string(t[p:p+7], ' ')) AS h FROM g),
        |f AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |    FROM g2 GROUP BY h) x WHERE nd >= 2),
        |dup AS (SELECT doc_id, p FROM g2 JOIN f USING (h)),
        |isl AS (SELECT doc_id, p, p - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island FROM dup),
        |spans AS (SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        |  FROM isl GROUP BY doc_id, island),
        |swept AS (SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      IS NULL OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS newgrp
        |  FROM spans),
        |grps AS (SELECT doc_id, s, e,
        |    sum(newgrp) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM swept),
        |ivals AS (SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM grps GROUP BY doc_id, grp),
        |perdoc AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT)
        |    AS dup_toks FROM ivals GROUP BY doc_id),
        |base AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(coalesce(sum(dup_toks), 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(sum(dup_toks), 0) AS DOUBLE)
        |    / CAST(sum(n_toks) AS DOUBLE), 6) AS dup_token_share
        |FROM base LEFT JOIN perdoc USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,


    // Mirrors TextDedup.minhashCalibration over the q26 machinery:
    // component-agreement estimate vs exact token-set Jaccard.
    "q251_minhash_calibration" ->
      s"""WITH $shinglesCte,
         |banded AS (
         |  SELECT doc_id, md5('0' || '|' || sig_0 || '|' || sig_1) AS band FROM sig
         |  UNION ALL
         |  SELECT doc_id, md5('1' || '|' || sig_2 || '|' || sig_3) AS band FROM sig),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
         |dtoks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS dt
         |  FROM documents),
         |j AS (SELECT p.doc_id_a, p.doc_id_b,
         |    CAST(len(list_intersect(da.dt, db.dt)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(da.dt, db.dt))) AS DOUBLE) AS jacc
         |  FROM pairs p
         |  JOIN dtoks da ON da.doc_id = p.doc_id_a
         |  JOIN dtoks db ON db.doc_id = p.doc_id_b),
         |e AS (SELECT j.doc_id_a, j.doc_id_b, j.jacc,
         |    ((CASE WHEN sa.sig_0 = sb.sig_0 THEN 1 ELSE 0 END) +
         |     (CASE WHEN sa.sig_1 = sb.sig_1 THEN 1 ELSE 0 END) +
         |     (CASE WHEN sa.sig_2 = sb.sig_2 THEN 1 ELSE 0 END) +
         |     (CASE WHEN sa.sig_3 = sb.sig_3 THEN 1 ELSE 0 END)) / 4.0 AS est
         |  FROM j
         |  JOIN sig sa ON sa.doc_id = j.doc_id_a
         |  JOIN sig sb ON sb.doc_id = j.doc_id_b)
         |SELECT doc_id_a, doc_id_b, round(est, 6) AS est_jaccard,
         |  round(jacc, 6) AS jaccard, round(abs(est - jacc), 6) AS abs_err
         |FROM e ORDER BY doc_id_a, doc_id_b""".stripMargin,


    "q137_cdc_dedup" ->
      """WITH b AS (SELECT source, text,
        |  [0] || [i FOR i IN generate_series(8, len(text))
        |          IF substring(md5(substring(text, i - 7, 8)), 1, 1) = '0']
        |      || [len(text)] AS bnds
        |  FROM documents WHERE text IS NOT NULL),
        |ch AS (SELECT source,
        |  unnest([substring(text, bnds[i] + 1, bnds[i + 1] - bnds[i])
        |          FOR i IN generate_series(1, len(bnds) - 1)
        |          IF bnds[i + 1] > bnds[i]]) AS chunk
        |  FROM b)
        |SELECT source, count(*) AS n_chunks,
        |  CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(count(DISTINCT chunk) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio,
        |  round(CAST(sum(length(chunk)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_len
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
  )
}
