package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Timestamps.tsMicros

/** Gaps-and-islands sessionization: assign a session id to every event,
  * where a new session starts when the gap to the previous event of the
  * same key exceeds `gapSeconds`.
  *
  * This is the window-function formulation of what `session_window`
  * aggregation (q39) computes as merged windows — kept separately because
  * pipelines usually need the per-EVENT session id (to join features back
  * onto raw events), which the aggregating form throws away.
  *
  * Scale shape: one hash shuffle on `key`, one per-partition sort, two
  * stacked window functions over the SAME window spec (lag + running sum)
  * — Catalyst plans them in a single Window operator, so the sort is paid
  * once. No driver materialization; state per key is O(1).
  */
object Sessionize {

  /** Adds `sessionCol` (1-based per-key session ordinal). `tieBreak`
    * disambiguates equal timestamps (pass the event id). */
  def sessionize(df: DataFrame, key: String, ts: String, gapSeconds: Long,
      sessionCol: String = "session_id", tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts) +: tieBreak: _*)
    val prev = lag(col(ts), 1).over(w)
    // Exact microsecond arithmetic: a seconds cast would truncate
    // sub-second components and misclassify gaps within 1s of the bound.
    val isNew = when(
      prev.isNull ||
        tsMicros(col(ts)) - tsMicros(prev) > gapSeconds * 1000000L,
      lit(1L)).otherwise(lit(0L))
    df.withColumn(sessionCol,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session rollup: count, bounds, and a measure sum for each
    * (key, session). */
  def sessionStats(df: DataFrame, key: String, ts: String, gapSeconds: Long,
      measure: Column, tieBreak: Seq[Column] = Nil): DataFrame =
    sessionize(df, key, ts, gapSeconds, tieBreak = tieBreak)
      .groupBy(col(key), col("session_id"))
      .agg(count(lit(1)).as("n"),
        min(col(ts)).as("s_start"),
        max(col(ts)).as("s_last"),
        measure.as("sum_value"))

  /** Ordered funnel: for each prefix of `steps`, how many keys completed
    * the whole prefix IN ORDER (each step strictly after the previous
    * one's first qualifying occurrence) within `windowSeconds` of the
    * first step. Earliest-qualifying semantics: step k's time is the MIN
    * event time of its type strictly after step k-1's time — the standard
    * product-analytics funnel (unordered "did all steps" counts
    * overstate conversion).
    *
    * Output: (step, step_name, n_keys, conversion) with conversion the
    * ratio to step 1's count, rounded to 6.
    *
    * Scale shape: one aggregation per step — events filtered to that
    * step's type, min-reduced per key after a broadcast-ranged join
    * against the (tiny) per-key times of the previous step. Each stage
    * shuffles only |keys| rows on the key; no windows over the raw
    * stream, no self-join on the full event table. The final panel is
    * |steps| rows unioned from |steps| scalar aggregates. */
  def funnel(events: DataFrame, key: String, ts: String, typeCol: String,
      steps: Seq[String], windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct: $steps")
    val micros = tsMicros(col(ts))
    // per-key first occurrence of step 0
    val first0 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(key)).agg(min(micros).as("__t0"))
    // prefix k's per-key frame: earliest time of step k strictly after
    // step k-1, within the window anchored at step 0 — frames shrink
    // monotonically, so later stages join ever-smaller key sets
    val prefixes = steps.drop(1).scanLeft(
      first0.withColumn("__t_prev", col("__t0"))) { case (acc, step) =>
      events.filter(col(typeCol) === step)
        .join(acc, Seq(key))
        .filter(micros > col("__t_prev") &&
          micros <= col("__t0") + windowSeconds * 1000000L)
        .groupBy(col(key))
        .agg(min(col("__t0")).as("__t0"), min(micros).as("__t_prev"))
    }
    val counts = prefixes.zip(steps.zipWithIndex).map { case (df, (name, i)) =>
      df.agg(count(lit(1)).as("n_keys"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"),
          col("n_keys"))
    }.reduce(_.union(_))
    conversionPanel(counts)
  }

  /** Shared output contract of both funnels: the (step, step_name,
    * n_keys) union becomes (…, conversion) with conversion the round-6
    * ratio to step 1's count. One place, so the two panels cannot
    * drift. */
  private def conversionPanel(counts: DataFrame): DataFrame = {
    val base = counts.filter(col("step") === 1)
      .select(col("n_keys").as("__base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("step_name"), col("n_keys"),
        round(col("n_keys").cast("double") / col("__base"), 6).as("conversion"))
  }

  /** Any-order funnel — [[funnel]]'s unordered complement, and the other
    * half of the standard product-analytics pair: for each prefix of
    * `steps`, how many keys performed ALL of those step types within
    * `windowSeconds` of their FIRST anchor-step event, in any order.
    * Comparing the two tells you whether a flow's prescribed order is
    * real user behavior (ordered ≈ unordered) or an instrumentation
    * fiction (unordered ≫ ordered).
    *
    * Scale shape: one |keys|-row aggregation anchors t0 (min anchor-step
    * time), one equi-join of the relevant events against it (AQE
    * broadcasts the anchor frame when small; hash join at scale), and
    * ONE aggregation computes every step's presence flag — prefix counts
    * are then conjunction sums over the |keys|-row flag frame, so the
    * event stream is read once and shuffled once. Determinism: integer
    * micros comparisons and exact long counts throughout. */
  def funnelAnyOrder(events: DataFrame, key: String, ts: String,
      typeCol: String, steps: Seq[String], windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct: $steps")
    val micros = tsMicros(col(ts))
    val t0 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(key)).agg(min(micros).as("__t0"))
    // Presence flags are named by step INDEX, not step name: a name-based
    // column would let exotic step strings collide after Spark's
    // identifier normalization and fail with an opaque AnalysisException.
    val flags = events.filter(col(typeCol).isin(steps: _*))
      .join(t0, Seq(key))
      .filter(micros >= col("__t0") &&
        micros <= col("__t0") + windowSeconds * 1000000L)
      .groupBy(col(key))
      .agg(
        max(when(col(typeCol) === steps.head, 1L).otherwise(0L))
          .as("__has_0"),
        steps.tail.zipWithIndex.map { case (st, i) =>
          max(when(col(typeCol) === st, 1L).otherwise(0L)).as(s"__has_${i + 1}")
        }: _*)
    val prefixCounts = steps.indices.map { i =>
      val conj = (0 to i)
        .map(j => col(s"__has_$j") === 1L).reduce(_ && _)
      sum(when(conj, 1L).otherwise(0L)).as(s"__n_$i")
    }
    val row = flags.agg(prefixCounts.head, prefixCounts.tail: _*)
    val panel = steps.zipWithIndex.map { case (name, i) =>
      row.select(lit(i + 1).as("step"), lit(name).as("step_name"),
        col(s"__n_$i").as("n_keys"))
    }.reduce(_.union(_))
    conversionPanel(panel)
  }

  /** Weekly cohort retention: keys grouped by first-seen week (the
    * cohort), counted by distinct activity in each subsequent week —
    * the (cohort, week-offset, n_active, retention-ratio) matrix every
    * growth dashboard draws. Weeks are epoch-second / 604800 floors
    * (timezone-free integers, identical in any engine).
    *
    * Scale shape: ONE pass over the events — a single per-key
    * aggregation computes the first-seen week (the cohort) AND the
    * distinct active weeks (`collect_set` over small integers; a key's
    * set is bounded by the timeline's week count, not its event count,
    * and partial aggregation dedups map-side). The per-key frame then
    * explodes to (cohort, offset) pairs and collapses to the retention
    * matrix. Cohort SIZES need no second branch: every key's week set
    * contains its own first week, so the matrix's offset-0 cell IS the
    * cohort size — a max-over-window on the |cohorts × offsets|-row
    * matrix reads it without re-aggregating the per-key frame (a
    * separate sizes branch re-planned the event-side exchange). One
    * event-side scan, one event-side shuffle. */
  def cohortRetention(events: DataFrame, key: String, ts: String): DataFrame = {
    val week = floor(unix_timestamp(col(ts)) / 604800L)
    val perKey = events.groupBy(col(key))
      .agg(min(week).as("cohort_week"), collect_set(week).as("__weeks"))
    perKey
      .select(col("cohort_week"), explode(col("__weeks")).as("__w"))
      .groupBy(col("cohort_week"), (col("__w") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .withColumn("__size", max(when(col("week_offset") === 0, col("n_active")))
        .over(Window.partitionBy(col("cohort_week"))))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("__size"), 6).as("retention"))
  }

  /** Latency between consecutive funnel steps — the "how long does
    * conversion take" panel [[funnel]]'s completion counts cannot give:
    * for each user who reaches step i and then step i+1 (first
    * occurrences, forward in time), the integer-second gap, reported
    * per step pair as user count, mean, and EXACT lower-median seconds.
    *
    * Determinism: gaps are `unix_timestamp` (floor-of-epoch) LONG
    * differences — both engines produce the identical integer; the
    * median is the histogram order statistic (first latency value whose
    * cumulative count reaches ⌈n/2⌉), not an interpolated quantile, so
    * it is integer-exact. Mean = exact long sum / count, rounded at 6.
    *
    * Scale shape: one hash aggregation (first occurrence per user ×
    * step), ONE per-user window pairing consecutive present steps (a
    * per-pair join would re-plan the firsts subtree per step — the
    * subtree-duplication trap), then all statistics ride the collapsed
    * (step, latency) histogram: the median needs no global sort of the
    * latencies (the lengthOutliers histogram idiom). */
  def funnelLatency(events: DataFrame, key: String, ts: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    val si = steps.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col(typeCol) === s, i).otherwise(acc)
    }
    val firsts = events.filter(col(typeCol).isin(steps: _*))
      .groupBy(col(key), si.as("__si"))
      .agg(min(col(ts)).as("__t"))
    val w = Window.partitionBy(col(key)).orderBy(col("__si").asc)
    val gaps = firsts
      .withColumn("__nsi", lead(col("__si"), 1).over(w))
      .withColumn("__nt", lead(col("__t"), 1).over(w))
      .filter(col("__nsi") === col("__si") + 1 && col("__nt") >= col("__t"))
      .select(col("__si"),
        (unix_timestamp(col("__nt")) - unix_timestamp(col("__t"))).as("__lat"))
    val hist = gaps.groupBy(col("__si"), col("__lat"))
      .agg(count(lit(1)).as("__c"))
    val ws = Window.partitionBy(col("__si"))
    val wcum = ws.orderBy(col("__lat").asc)
    val stepName = steps.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (s, i)) => when(col("__si") === i, s).otherwise(acc)
    }
    val nextName = steps.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (s, i)) => when(col("__si") === i - 1, s).otherwise(acc)
    }
    hist
      .withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__n", sum(col("__c")).over(ws))
      .withColumn("__sum", sum(col("__lat") * col("__c")).over(ws))
      .filter(col("__cum") >= ceil(col("__n") / 2.0))
      .groupBy(col("__si"))
      .agg(max(col("__n")).as("n_users"),
        round(max(col("__sum")).cast("double") /
          max(col("__n")).cast("double"), 6).as("mean_latency_s"),
        min(col("__lat")).as("median_latency_s"))
      .select(stepName.as("step_from"), nextName.as("step_to"),
        col("n_users"), col("mean_latency_s"), col("median_latency_s"))
  }

  /** Entry-point conversion: sessionize, take each session's FIRST event
    * type as its entry point, and report per entry type how many
    * sessions converted (contained a `target` event) — the "which
    * landing page converts" panel, and the canonical use of
    * [[sessionize]]'s per-event ids INSIDE a pipeline rather than as an
    * end product.
    *
    * Determinism: the entry event is the minimum of the (ts, tieBreak,
    * type) struct under lexicographic struct ordering — an exact total
    * order, so equal-timestamp sessions pick the same entry in any
    * engine; conversion is an integer max; the rate divides two exact
    * longs, rounded at 6.
    *
    * Scale shape: [[sessionize]]'s one key-shuffle + single Window
    * operator, then ONE aggregation to |key × session| rows that rides
    * the window's existing key partitioning (grouping (key, session) is
    * clustered under HashPartitioning(key) — no new exchange), and a
    * final |entry types|-row aggregation. */
  def entryConversion(events: DataFrame, key: String, ts: String,
      typeCol: String, target: String, gapSeconds: Long,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val sessions = sessionize(events, key, ts, gapSeconds, tieBreak = tieBreak)
    val entry = min(struct(col(ts) +: tieBreak :+ col(typeCol): _*))
    sessions
      .groupBy(col(key), col("session_id"))
      .agg(entry.getField(typeCol).as("entry_type"),
        max(when(col(typeCol) === target, 1L).otherwise(0L)).as("__conv"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("__conv")).as("n_converted"),
        round(sum(col("__conv")).cast("double") /
          count(lit(1)).cast("double"), 6).as("conversion"))
  }

  /** Per-key inter-event-time statistics — the burstiness/bot signal:
    * humans produce irregular gaps (coefficient of variation ≈ 1 for a
    * Poisson process, > 1 for bursty sessions), schedulers and bots
    * produce near-constant ones (CV ≈ 0). Output per key: gap count,
    * mean gap seconds, and CV = population-σ/mean — the standard
    * dimensionless burstiness measure (Goh & Barabási '08 use its
    * normalized sibling).
    *
    * Determinism: gaps are floor-of-epoch LONG second differences over
    * an exact (ts, tieBreak) total order, so n, Σg, Σg² are identical
    * integers in any engine; mean and CV are then single double
    * expressions over those integers (`sqrt(n·Σg² − (Σg)²)/Σg`),
    * rounded at 6 — bit-reproducible. CV is null for keys whose gaps
    * sum to zero (all events in the same second). Overflow envelope:
    * Σg² is exact below 2^63 and exact in DOUBLE below 2^53 — gaps of a
    * month (2.6e6 s) square to 6.8e12, leaving room for ~1e3-gap keys
    * before the double-exactness bound matters; the variance moment
    * products are computed in DECIMAL(38) (the rateAutocorr idiom) so
    * year-scale gap spans cannot overflow and abort under ANSI.
    *
    * Scale shape: one per-key window (hash shuffle on the key), one
    * hash aggregation to |keys| rows — no joins, no grid. */
  def interEventStats(events: DataFrame, key: String, ts: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts) +: tieBreak: _*)
    val sec = unix_timestamp(col(ts))
    val gap = sec - lag(sec, 1).over(w)
    events
      .select(col(key), gap.as("__g"))
      .filter(col("__g").isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_gaps"), sum(col("__g")).as("__sg"),
        sum(col("__g") * col("__g")).as("__sgg"))
      .select(col(key), col("n_gaps"),
        round(col("__sg").cast("double") / col("n_gaps").cast("double"), 6)
          .as("mean_gap_s"),
        // Variance moments in DECIMAL(38): n·Σg² and (Σg)² overflow LONG
        // for year-scale gaps × ~1e4 events and would abort under ANSI —
        // the rateAutocorr idiom, applied here for consistency. The
        // decimal→double rounding is identical to long→double below
        // 2^53, so oracle hashes are unchanged in the exact envelope.
        when(col("__sg") > 0, round(
          sqrt((col("n_gaps").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              col("__sgg").cast(org.apache.spark.sql.types.DecimalType(38, 0)) -
              col("__sg").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              col("__sg").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double")) / col("__sg").cast("double"), 6)).as("cv_gap"))
  }

  /** Skip-gram (center, context) pair counts from per-key event
    * sequences — word2vec-style training pairs over behavioral data
    * (Mikolov et al. 2013; the item2vec recipe). For every event, its
    * neighbors at offsets ±1..±`window` within the same key's
    * time-ordered sequence become context pairs, aggregated to
    * `(center, context, rel_pos, n)`.
    *
    * Scale shape: ONE hash partition of the narrow events frame on the
    * key carries all 2·window lag/lead columns (a single Window
    * operator — Spark folds same-spec window functions into one pass);
    * the pair fan-out (×2·window) happens map-side AFTER that exchange
    * and collapses straight into the count aggregation. */
  def skipgramPairs(events: DataFrame, key: String, ts: String,
      typeCol: String, tiebreakCol: String, window: Int = 2): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(tiebreakCol).asc)
    val offsets = (-window to window).filter(_ != 0)
    // window columns first (one Window operator — same spec), the
    // explode in a SEPARATE projection: Spark rejects window functions
    // inside a generator expression
    val withCtx = events.select(col(typeCol).as("center") +:
      offsets.map(o =>
        (if (o < 0) lag(col(typeCol), -o) else lead(col(typeCol), o))
          .over(w).as(s"__c$o")): _*)
    val ctx = array(offsets.map(o =>
      struct(lit(o).as("rel_pos"), col(s"__c$o").as("context"))): _*)
    withCtx
      .select(col("center"), explode(ctx).as("p"))
      .filter(col("p.context").isNotNull)
      .groupBy(col("center"), col("p.context").as("context"),
        col("p.rel_pos").as("rel_pos"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-key next-event transition matrix — the Markov view of user
    * behavior ("after a search, 40% click and 12% bounce"): consecutive
    * event pairs within each key's timeline, counted per (from, to) type
    * with each row's share of its `from` state (the empirical transition
    * probability). Product analytics reads funnels OUT of this matrix;
    * data-quality reads instrumentation bugs off it (a transition that
    * "cannot happen" with nonzero count is a mis-fired event).
    *
    * Determinism: ordering within a key is (ts, tiebreakCol) — an exact
    * total order, so the lead() pairing is engine-reproducible even
    * with equal timestamps. Scale shape: one per-key window (shuffle by
    * key — parallelism is |keys|) feeding one hash aggregation on the
    * |types|² matrix; the share rides a window on the matrix frame. */
  def transitionMatrix(events: DataFrame, key: String, ts: String,
      typeCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(tiebreakCol).asc)
    events
      .select(col(key), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"), 6))
  }

  /** First-touch / last-touch conversion attribution — the marketing
    * question every event pipeline eventually answers: of the events a
    * user saw BEFORE their first conversion, which type gets the
    * credit? First-touch credits the earliest prior event, last-touch
    * the latest; the panel reports both so the (always large) gap
    * between the two models is visible, not silently chosen.
    *
    * Semantics: conversion = the user\'s FIRST `convType` event by
    * `(ts, id)` order (the id tiebreak makes simultaneous events
    * deterministic); prior events are those strictly before it in the
    * same order, of any non-conversion type; users with no prior events
    * drop out. Returns one row per credited event type:
    * `(event_type, first_touch, last_touch)`, zero-filled where a type
    * takes credit under only one model.
    *
    * Scale shape: one hash aggregation to per-user first conversions,
    * one equi-join back on the user key (AQE broadcasts when the
    * converter set is small), then ONE per-user hash aggregation
    * electing both touches (`min_by`/`max_by` on the `(ts, id)` order
    * struct — round 16: replaced the row_number window, whose
    * first/last consumer branches each re-evaluated the whole
    * join+sort subtree; the agg also REUSES the join's exchange on the
    * user key, so no sort and no second pass), and one bounded
    * type-level count over the per-user pairs. */
  def touchAttribution(events: DataFrame, key: String, ts: String,
      idCol: String, typeCol: String, convType: String): DataFrame = {
    val conv = events.filter(col(typeCol) === convType)
      .groupBy(col(key))
      .agg(min(struct(col(ts), col(idCol))).as("__fp"))
      .select(col(key), col("__fp").getField(ts).as("__fpts"),
        col("__fp").getField(idCol).as("__fpid"))
    val priors = events
      .filter(col(typeCol) =!= convType)
      .join(conv, key)
      .filter(col(ts) < col("__fpts") ||
        (col(ts) === col("__fpts") && col(idCol) < col("__fpid")))
    val order = struct(col(ts), col(idCol))
    val perKey = priors.groupBy(col(key))
      .agg(min_by(col(typeCol), order).as("__ft"),
        max_by(col(typeCol), order).as("__lt"))
    perKey
      .select(explode(array(
        struct(col("__ft").as("event_type"), lit(1L).as("__f")),
        struct(col("__lt").as("event_type"), lit(0L).as("__f")))).as("__e"))
      .groupBy(col("__e").getField("event_type").as("event_type"))
      .agg(sum(col("__e").getField("__f")).as("first_touch"),
        sum(lit(1L) - col("__e").getField("__f")).as("last_touch"))
  }

  /** Conditional next-event entropy per event type — "after a `click`,
    * how predictable is what happens next?" For each prev type:
    * `H(next | prev) = −Σ_next P(next|prev)·ln P(next|prev)` (nats)
    * over consecutive same-key event pairs in `(ts, id)` order, plus
    * the type's share of all transitions. Low entropy = a funnel edge;
    * high = a browse hub. The one-number-per-state compression of the
    * [[q116-style]] transition matrix.
    *
    * Returns one row per prev type:
    * `(event_type, n_out, n_next_types, entropy)`.
    *
    * Scale shape: ONE window pass (lead over the per-key order) builds
    * the pairs; a hash aggregation collapses to the bounded
    * (prev, next) type matrix; the entropy fold and marginals run on
    * that bounded frame. */
  def transitionEntropy(events: DataFrame, key: String, ts: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col(idCol).asc)
    val pairs = events
      .select(col(key), col(ts), col(idCol), col(typeCol).as("__prev"))
      .withColumn("__next", lead(col("__prev"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("__prev"), col("__next"))
      .agg(count(lit(1)).as("__c"))
    val marg = pairs.groupBy(col("__prev"))
      .agg(sum(col("__c")).as("n_out"), count(lit(1)).as("n_next_types"))
    val p = col("__c").cast("double") / col("n_out").cast("double")
    pairs.join(marg, Seq("__prev"))
      .groupBy(col("__prev").as("event_type"), col("n_out"),
        col("n_next_types"))
      .agg(round(sum(-p * log(p)), 6).as("entropy"))
  }

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-value grid ([[cohortRetention]] reads WHEN users return,
    * RFM reads HOW MUCH they are worth): each entity scored 1..`buckets`
    * on each axis by NTILE (1 = best: most recent, most frequent,
    * highest spend), then collapsed to per-(r,f,m)-cell counts and
    * revenue. Ties break by entity id so scores are deterministic;
    * `amountCol` is quantized at `scale` decimals and summed exactly
    * ([[graft.functions.Decimals]] convention). The recency anchor is
    * the data's own max date (injectable clocks stay out of the oracle
    * surface).
    *
    * Scale shape: facts collapse FIRST to one row per entity (hash
    * agg); the three NTILE windows then run over the entity DIMENSION,
    * which is orders of magnitude smaller than the fact table (the
    * global window is the documented q221 shape — a dimension-scale
    * blowup would swap in [[Relational.groupedRowNumber]]'s
    * range-partitioned rank plus the closed-form NTILE split); the
    * final cell grid is ≤ buckets³ rows. */
  def rfmSegments(orders: DataFrame, custCol: Column, dateCol: Column,
      amountCol: Column, buckets: Int = 5, scale: Int = 2): DataFrame = {
    require(buckets >= 2, "rfmSegments needs at least 2 buckets")
    val per = orders
      .select(custCol.as("__c"), dateCol.cast("date").as("__d"),
        graft.functions.Decimals.unscaledLong(amountCol, scale).as("__m"))
      .filter(col("__c").isNotNull && col("__d").isNotNull)
      .groupBy(col("__c"))
      .agg(max(col("__d")).as("__last"), count(lit(1)).as("__f"),
        sum(col("__m")).as("__mon"))
    val anchor = per.agg(max(col("__last")).as("__anchor"))
    val scored = per.crossJoin(broadcast(anchor))
      .withColumn("__rd", datediff(col("__anchor"), col("__last")))
    val wr = Window.orderBy(col("__rd").asc, col("__c").asc)
    val wf = Window.orderBy(col("__f").desc, col("__c").asc)
    val wm = Window.orderBy(col("__mon").desc, col("__c").asc)
    scored
      .withColumn("r_score", ntile(buckets).over(wr))
      .withColumn("f_score", ntile(buckets).over(wf))
      .withColumn("m_score", ntile(buckets).over(wm))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        graft.functions.Decimals.fromUnscaled(sum(col("__mon")), scale)
          .as("revenue"))
  }
}
