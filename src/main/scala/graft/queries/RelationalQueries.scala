package graft.queries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySupport._
import graft.sources.Tables.{load, parallel}
import graft.functions.Timestamps
import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Curation, DataQuality, Dedup, EntityResolution, Graph, IncrementalAgg, Itemsets, Maintenance, Merge, Profiling, Quantization, Relational, Sessionize, Similarity, TextDedup, TimeSeries}
/** Relational and reference-ETL breadth: scans, multi-way joins,
  * windows, set ops, temporal functions, MERGE/retention, JSON,
  * sessionization, funnels, incremental views.
  *
  * One registry entry per operator with its DuckDB oracle SQL
  * (driver contract, SURVEY.md §7); aggregated by
  * [[graft.SparkEntry]]. Bodies moved verbatim from SparkEntry
  * in the round-12 registry split — entry names, plans and
  * oracles are unchanged. */
private[graft] object RelationalQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- aggregation / scan breadth (SURVEY.md §2.4 generalized) --------
    // NOT parallel()'d: a pre-agg round-robin shuffle of the full fact
    // rows costs more than the single-threaded partial agg it spreads
    // (measured 1.26 s vs 1.14 s at sf0.1) — map-side combine over 6
    // groups is already the minimal-shuffle plan.
    "q01_pricing_summary" -> ((s, d) => {
      load(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(revenueRow, 4).as("sum_disc_price"),
          dsum(revenueRow * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),


    // ---- W1 dedup-latest-per-key (reference rqtradein_etl.py:166-171) ---
    "q02_dedup_latest" -> ((s, d) => {
      Dedup.latestPerKey(load(s, d, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .transform(ordered1(_, col("o_custkey")))
    }),


    // ---- multi-way joins (SURVEY.md §2.3 generalized) -------------------
    "q03_shipping_priority" -> ((s, d) => {
      val c = load(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = load(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = load(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dsum(revenueRow, 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    }),


    "q04_local_supplier_volume" -> ((s, d) => {
      val r = load(s, d, "region").filter(col("r_name") === "ASIA")
      val n = load(s, d, "nation")
      val c = load(s, d, "customer")
      val su = load(s, d, "supplier")
      val o = load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = load(s, d, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(revenueRow, 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),


    "q05_semi_join" -> ((s, d) => {
      Relational.semi(
          load(s, d, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          load(s, d, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"))
        .orderBy("c_custkey")
    }),


    "q06_anti_join" -> ((s, d) => {
      // ordered1, not orderBy: a range sort's sampling pass would run
      // the anti join TWICE; the answer is a few-thousand-row remainder
      Relational.anti(
          load(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus")),
          load(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey")),
          Seq("o_orderkey"))
        .transform(ordered1(_, col("o_orderkey")))
    }),


    "q07_having" -> ((s, d) => {
      load(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("total"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    }),


    // NOT parallel()'d: even though the multi-distinct Expand ×2 runs on
    // the single-row-group scan's one thread, a round-robin pre-shuffle
    // of the raw fact rows measured 1.38 s vs 0.80 s — the expand's
    // partial aggregate still collapses ~1.2M expanded rows to ~400k
    // distinct groups before the exchange, and shipping raw rows forfeits
    // that 3× reduction.
    "q08_distinct_agg" -> ((s, d) => {
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),


    // rollup/cube over PRE-AGGREGATED partials, not raw rows: the Expand
    // operator multiplies its input ×(grouping sets), so expanding the
    // full fact table pushes every row through the decimal cast 3-4
    // times. Grouping by the finest cell first collapses the input to
    // |distinct(keys)| rows (~6 here), and rollup/cube of SUM/COUNT over
    // partial sums/counts is algebraically identical — the same trick a
    // materialized-view rewrite applies at 100 TB.
    "q09_rollup" -> ((s, d) => {
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"), dsumPartial(col("l_quantity"), 2).as("__q"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g1"),
          grouping(col("l_linestatus")).cast("int").as("g2"),
          // coalesce: on an EMPTY relation the direct form's grand total
          // is count(1)=0, but sum over zero partial rows is NULL
          coalesce(sum(col("__n")), lit(0L)).as("n"),
          dsumFinal(col("__q"), 2).as("sum_qty"))
        .orderBy(col("g1"), col("g2"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),


    "q10_cube" -> ((s, d) => {
      load(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"), dsumPartial(col("o_totalprice"), 2).as("__t"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g1"),
          grouping(col("o_orderpriority")).cast("int").as("g2"),
          coalesce(sum(col("__n")), lit(0L)).as("n"),
          dsumFinal(col("__t"), 2).as("total"))
        .orderBy(col("g1"), col("g2"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),


    // ---- set operations (SURVEY.md §2.8 generalized) --------------------
    "q11_setop_intersect" -> ((s, d) => {
      val cn = load(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = load(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.intersect(sn).orderBy("nationkey")
    }),


    "q12_setop_except" -> ((s, d) => {
      val cn = load(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = load(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.except(sn).orderBy("nationkey")
    }),


    // ---- global top-k (TakeOrderedAndProject, no full sort) -------------
    "q13_topk" -> ((s, d) => {
      Relational.topK(
        load(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        20, col("o_totalprice").desc, col("o_orderkey").asc)
    }),


    // ---- window frames (SURVEY.md §2.5 generalized) ---------------------
    "q14_window_frames" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      load(s, d, "events")
        .withColumn("running_value",
          graft.functions.Decimals.fromUnscaled(
            sum(unscaledLong(col("value"), 2)).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("rn", row_number().over(w).cast("long"))
        .select("event_id", "user_id", "value", "running_value", "prev_type", "next_type", "rn")
        // ordered1, not orderBy: range-partition sampling re-executes the
        // whole window subtree for boundary estimation
        .transform(ordered1(_, col("user_id"), col("rn")))
    }),


    // ---- event-time tumbling window (streaming-shaped batch, T2) --------
    "q15_time_window" -> ((s, d) => {
      load(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("hour", "event_type")
    }),


    // ---- JSON scalar extraction + typed projection (P3) -----------------
    "q16_json_extract" -> ((s, d) => {
      load(s, d, "events")
        .select(
          col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int").as("k"),
          dec(col("value"), 2).cast("double").as("value_dec"),
          col("ts").cast("date").as("event_date"))
        .transform(ordered1(_, col("event_id")))
    }),


    // ---- F1/F2/F10: multi-format timestamp parse round-trip. The input
    // string rotates through the reference's accepted shapes by
    // event_id % 4 (T+6-digit-fraction+Z, T+Z, space+3-digit fraction —
    // exercising the pad-to-6 path — and space-plain), so every coalesce
    // fallback and the Z-strip actually run. ------------------------------
    "q17_ts_parse" -> ((s, d) => {
      val m = col("event_id") % 4
      val iso =
        when(m === 0, concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("Z")))
          .when(m === 1, concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
          .when(m === 2, concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss."),
            substring(date_format(col("ts"), "SSSSSS"), 1, 3)))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      load(s, d, "events")
        .select(col("event_id"), iso.as("iso"))
        .select(col("event_id"), col("iso"),
          Timestamps.parseTimestamp(col("iso")).as("parsed"))
        .transform(ordered1(_, col("event_id")))
    }),


    // ---- F3/F5: UTC → America/New_York conversion (seconds precision) ---
    "q18_est_convert" -> ((s, d) => {
      load(s, d, "events")
        .select(col("event_id"),
          Timestamps.toEstString(col("ts")).as("est_str"),
          Timestamps.toEstTimestamp(col("ts")).as("est_ts"))
        .transform(ordered1(_, col("event_id")))
    }),


    // ---- M1: MERGE-upsert emulation (the reference's core query) --------
    "q19_merge_upsert" -> ((s, d) => {
      val cutoverLo = lit("1996-01-01 00:00:00").cast("timestamp")
      val cutoverHi = lit("1997-01-01 00:00:00").cast("timestamp")
      val o = load(s, d, "orders")
      val target = o.filter(col("o_orderdate") < cutoverHi)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val source = o.filter(col("o_orderdate") >= cutoverLo)
        .select(col("o_orderkey"), col("o_custkey"),
          dec(col("o_totalprice") * lit(1.1), 3).cast("double").as("o_totalprice"),
          col("o_orderstatus"))
      Merge.upsert(target, source, "o_orderkey",
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
          actionCol = Some("action"))
        .transform(ordered1(_, col("o_orderkey")))
    }),


    // ---- M2: retention filter-retain (delete as its relational dual) ----
    "q20_retention" -> ((s, d) => {
      load(s, d, "events")
        .filter(col("ts").cast("date") === lit("2024-01-15").cast("date"))
        .select("event_id", "ts", "event_type")
        .transform(ordered1(_, col("event_id")))
    }),


    // ---- A1/A2: predicated counts ---------------------------------------
    "q21_counts_filtered" -> ((s, d) => {
      load(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("value") > 100, lit(1))).as("n_high"))
        .orderBy("event_type")
    }),


    // ---- T1/T2 streaming-class window semantics, batch-checkable --------
    // Sliding event-time window (1h window, 30m slide): every event lands
    // in exactly 2 windows. The same groupBy(window(...)) compiles
    // unchanged under readStream + watermark (see graft.streaming).
    "q38_sliding_window" -> ((s, d) => {
      load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }),


    // Session window (10m inactivity gap) per user: session end = last
    // event + gap, Spark's session_window semantics.
    "q39_session_window" -> ((s, d) => {
      load(s, d, "events")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("n"), col("sum_value"))
        .orderBy("user_id", "s_start")
    }),


    // As-of join: each event enriched with the user's most recent order
    // at-or-before the event time (union + ordered window — one shuffle,
    // no range self-join).
    "q43_asof_join" -> ((s, d) => {
      val left = load(s, d, "events")
        .select(col("event_id"), col("user_id").as("k"), col("ts"))
      val right = load(s, d, "orders")
        .select(col("o_custkey").as("k"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      Relational.asofJoin(left, right, "k", "ts", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"), tieBreak = Seq(col("o_orderkey").asc))
        .select(col("event_id"), col("k").as("user_id"), col("ts"),
          col("o_orderkey"), col("o_totalprice"))
        .transform(ordered1(_, col("event_id")))
    }),


    // Pivot: long→wide aggregation with a fixed value list.
    "q44_pivot" -> ((s, d) => {
      load(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(col("o_orderstatus"),
          col("1-URGENT").as("p1"), col("2-HIGH").as("p2"),
          col("3-MEDIUM").as("p3"), col("4-NOT SPECIFIED").as("p4"),
          col("5-LOW").as("p5"))
        .orderBy("o_orderstatus")
    }),


    // Exact percentiles by row selection (no interpolation arithmetic —
    // the picked value is a stored double, identical in any engine).
    "q45_percentile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      // Group sizes come from a broadcast-joined pre-aggregation, not a
      // second (unordered) COUNT window: the two window specs have
      // different frames, so Spark would plan two Window operators — the
      // full partition materialized twice. The counts frame is |groups|
      // rows at any scale; the broadcast join costs nothing.
      // SCALE NOTE: a window partitioned by 3 status values caps
      // parallelism at 3 — at 100 TB swap the row_number for
      // Relational.groupedRowNumber (range-partitioned order statistics,
      // unbounded parallelism; proven rank-identical in RelationalSpec).
      // At bench scale the single window is cheaper, so it stays.
      val counts = load(s, d, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("__n"))
      load(s, d, "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("__rn", row_number().over(w))
        .join(broadcast(counts), "o_orderstatus")
        .groupBy(col("o_orderstatus"))
        .agg(
          max(when(col("__rn") === ceil(col("__n") * 0.5), col("o_totalprice"))).as("p50"),
          max(when(col("__rn") === ceil(col("__n") * 0.9), col("o_totalprice"))).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),


    // Per-group top-k: window-group-limit (no full materialization of the
    // window; each partition keeps only k rows per group during the sort).
    "q47_topk_per_group" -> ((s, d) => {
      Relational.topKPerGroup(
          load(s, d, "orders").select("o_orderstatus", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderstatus")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .orderBy("o_orderstatus", "o_orderkey")
    }),


    // Gaps-and-islands sessionization: per-event session ids (the
    // join-back-able form of q39's session_window aggregation).
    "q48_sessionize" -> ((s, d) => {
      Sessionize.sessionStats(load(s, d, "events"), "user_id", "ts",
          gapSeconds = 600, measure = dsum(col("value"), 2),
          tieBreak = Seq(col("event_id")))
        .select(col("user_id"), col("session_id"), col("n"),
          col("s_start"), col("s_last"), col("sum_value"))
        .orderBy("user_id", "session_id")
    }),


    // Deterministic hash sample (~10.2%): reproducible, churn-free
    // train/eval-split-grade sampling, aggregated per stratum.
    "q49_hash_sample" -> ((s, d) => {
      Relational.deterministicSample(
          load(s, d, "orders"), col("o_orderkey"), "1a")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_sampled"), dsum(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),


    // SCD Type-2 history: validity intervals per customer from the order
    // change log (history-preserving dual of the reference's MERGE).
    "q50_scd2_history" -> ((s, d) => {
      Merge.scd2History(
          load(s, d, "orders")
            .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
          "o_custkey", "o_orderdate", tieBreak = Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .transform(ordered1(_, col("o_custkey"), col("effective_from"), col("o_orderkey")))
    }),


    // Ordered view→click→purchase funnel, 7-day window anchored at the
    // first view: earliest-qualifying chain semantics per user.
    "q94_funnel" -> ((s, d) => {
      Sessionize.funnel(parallel(load(s, d, "events")), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 7L * 86400L)
        .transform(ordered1(_, col("step")))
    }),


    // Any-order funnel — q94's unordered complement on the same steps;
    // the ordered/unordered gap measures how real the prescribed order is.
    "q128_funnel_anyorder" -> ((s, d) => {
      Sessionize.funnelAnyOrder(load(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 7L * 86400L)
        .transform(ordered1(_, col("step")))
    }),


    // Weekly cohort retention matrix (first-seen week × activity offset).
    "q95_cohort_retention" -> ((s, d) => {
      Sessionize.cohortRetention(parallel(load(s, d, "events")),
          "user_id", "ts")
        .transform(ordered1(_, col("cohort_week"), col("week_offset")))
    }),


    // Funnel step latency: integer-second gaps between consecutive
    // first-occurrence steps, with the exact histogram lower-median.
    "q117_funnel_latency" -> ((s, d) => {
      Sessionize.funnelLatency(load(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .transform(ordered1(_, col("step_from")))
    }),


    // Entry-point conversion: per session entry type, how many sessions
    // contained a purchase — sessionization consumed INSIDE a pipeline.
    "q127_entry_conversion" -> ((s, d) => {
      Sessionize.entryConversion(load(s, d, "events"), "user_id", "ts",
          "event_type", target = "purchase", gapSeconds = 600L,
          tieBreak = Seq(col("event_id")))
        .transform(ordered1(_, col("entry_type")))
    }),


    // Schema-full JSON parse: from_json with a declared struct — the
    // idiomatic Spark path for typed JSON columns (q16's regexp extract
    // is the schema-less fallback). Aggregated so the parse feeds a
    // typed computation, not just a projection.
    "q66_from_json" -> ((s, d) => {
      val schema = StructType(Seq(StructField("k", IntegerType)))
      // NOT parallel()'d: spreading the parse measured even (0.42-0.48 s
      // both ways at sf0.1) — the round-robin shuffle of the json strings
      // costs what the parallel from_json saves at this payload size.
      load(s, d, "events")
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("int").as("max_k"))
        .orderBy("event_type")
    }),


    // F8 date arithmetic panel (the reference's window-bound math,
    // __init__.py:12-20, generalized): offsets, clamped month adds,
    // month bounds, day diffs.
    "q65_date_arith" -> ((s, d) => {
      val day = col("o_orderdate").cast("date")
      load(s, d, "orders")
        .filter(col("o_orderkey") <= 30000)
        .select(col("o_orderkey"),
          day.as("day"),
          date_add(day, 30).as("plus_30"),
          date_sub(day, 30).as("minus_30"),
          add_months(day, 1).as("next_month_clamped"),
          last_day(day).as("month_end"),
          trunc(day, "month").as("month_start"),
          datediff(day, lit("1992-01-01").cast("date")).cast("long").as("days_since"))
        .transform(ordered1(_, col("o_orderkey")))
    }),


    // Incremental aggregate maintenance: two disjoint daily partials
    // merged must equal the direct aggregate over everything — the
    // correctness law of incremental rollups, checked by the oracle
    // aggregating the full table directly. Measures summed as exact
    // cents (see dsum).
    "q64_incremental_agg" -> ((s, d) => {
      val ev = load(s, d, "events")
        .withColumn("__cents", dec(col("value"), 2) * 100)
      val odd = ev.filter(col("event_id") % 2 === 1)
      val even = ev.filter(col("event_id") % 2 === 0)
      val parts = Seq(odd, even).map(b =>
        IncrementalAgg.partial(b, Seq("event_type"), "__cents"))
      IncrementalAgg.mergePartials(parts, Seq("event_type"))
        .select(col("event_type"), col("n"),
          (col("sum_m").cast(DecimalType(38, 0)) / 100).cast("double").as("sum_value"),
          (col("min_m") / 100).cast("double").as("min_value"),
          (col("max_m") / 100).cast("double").as("max_value"))
        .orderBy("event_type")
    }),


    // Distribution windows: ntile buckets + exact rank fractions. Both
    // engines compute (rank-1)/(n-1) and rank/n in IEEE double, so the
    // values hash-compare bit-for-bit.
    "q62_rank_distributions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      load(s, d, "orders")
        .filter(col("o_orderkey") <= 30000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast("int").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .transform(ordered1(_, col("o_orderkey")))
    }),


    // Scalar string-function panel (the reference's T-SQL string surface
    // generalized): case, padding, translation, position, edit distance.
    "q63_string_panel" -> ((s, d) => {
      parallel(load(s, d, "documents"))
        .select(col("doc_id"),
          concat(upper(substring(col("text"), 1, 1)),
            lower(substring(col("text"), 2, 11))).as("title_head"),
          translate(substring(col("text"), 1, 20), "aeiou", "_____").as("devoweled"),
          instr(col("text"), "the").cast("long").as("first_the"),
          lpad(col("doc_id").cast("string"), 8, "0").as("padded_id"),
          levenshtein(substring(col("text"), 1, 15),
            reverse(substring(col("text"), 1, 15))).cast("long").as("palindromicity"))
        .transform(ordered1(_, col("doc_id")))
    }),


    // Unpivot/melt — the inverse of q44's pivot: wide measure columns to
    // (measure, value) rows. Pure per-row expansion, no shuffle.
    "q60_unpivot" -> ((s, d) => {
      load(s, d, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        .transform(ordered1(_, col("l_orderkey"), col("l_linenumber"), col("measure")))
    }),


    // Nested reshaping: per-user sorted distinct event-type set —
    // collect_set is order-nondeterministic, sort_array canonicalizes,
    // and concat_ws flattens to a scalar so any downstream consumer
    // (including the oracle harness, which cannot hash array cells)
    // compares it as a plain string.
    "q61_nested_collect" -> ((s, d) => {
      load(s, d, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws("|", sort_array(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    }),


    // GROUPING SETS (the asymmetric sibling of cube/rollup) — only
    // expressible through the SQL surface; exercises spark.sql over
    // registered corpus views.
    "q58_grouping_sets" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g1,
               CAST(grouping(o_orderpriority) AS INT) AS g2,
               count(1) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),


    // Correlated EXISTS subquery (decorrelates to a left-semi join —
    // same physical plan as q05, reached through the SQL analyzer).
    "q59_exists_subquery" -> ((s, d) => {
      load(s, d, "customer").createOrReplaceTempView("customer_v")
      load(s, d, "orders").createOrReplaceTempView("orders_v2")
      s.sql("""
        SELECT c_custkey, c_name FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v2 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        ORDER BY c_custkey""")
    }),


    // Interval (range) join via bucketization: events matched back to
    // their session's [start, last] interval — each event lands in
    // exactly one interval, so the join must produce |events| rows.
    "q55_interval_join" -> ((s, d) => {
      val ev = load(s, d, "events")
      val sessions = Sessionize.sessionStats(ev, "user_id", "ts",
          gapSeconds = 600, measure = count(lit(1)).as("__m"),
          tieBreak = Seq(col("event_id")))
        .select(col("user_id"), col("s_start"), col("s_last"))
      Relational.intervalJoin(
          ev.select("event_id", "user_id", "ts"), sessions,
          "user_id", "ts", "s_start", "s_last", bucketSeconds = 600)
        .select("event_id", "user_id", "ts", "s_start", "s_last")
        .transform(ordered1(_, col("event_id")))
    }),


    // F11: JSON serialization of a record sample (the reference's
    // json.dumps log sample, rqtradein_etl.py:219). String/int fields
    // only — double rendering differs across engines.
    "q42_json_sample" -> ((s, d) => {
      load(s, d, "events")
        .orderBy("event_id").limit(5)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"), col("user_id")))
            .as("js"))
    }),


    // As-of join checked against DuckDB's native ASOF LEFT JOIN, a second
    // oracle for Relational.asofJoin next to q43's LATERAL ... LIMIT 1:
    // every click annotated with the user's latest at-or-before purchase
    // value. The right side pre-collapses to one row per (user, ts), so
    // exact ties need no tieBreak.
    "q222_asof_native" -> ((s, d) => {
      val e = load(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
        .withColumnRenamed("ts", "pts")
      Relational.asofJoin(clicks, purchases, "user_id", "ts", "pts",
          Seq("purchase_value"))
        .select("user_id", "ts", "event_id", "purchase_value")
        .transform(ordered1(_, col("user_id"), col("ts"), col("event_id")))
    }),


    // Incremental agg-over-join view refresh: revenue-per-nation view
    // built from 3/4 of orders, delta batch (1/4) joined + merged —
    // must equal the full recompute the oracle runs. Exact unscaled
    // sums so the identity is bitwise.
    "q242_view_refresh" -> ((s, d) => {
      val orders = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unscaledLong(col("o_totalprice"), 2).as("price_u"))
      val cust = load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val base = orders.filter(pmod(col("o_orderkey"), lit(4L)) =!= 0L)
      val delta = orders.filter(pmod(col("o_orderkey"), lit(4L)) === 0L)
      val view = IncrementalAgg.partial(
        base.join(cust, col("o_custkey") === col("c_custkey")),
        Seq("c_nationkey"), "price_u")
      IncrementalAgg.refreshJoinView(view, delta, cust,
          "o_custkey", "c_custkey", "c_nationkey", "price_u")
        .select(col("c_nationkey").as("nation"), col("n").as("n_orders"),
          graft.functions.Decimals.fromUnscaled(col("sum_m"), 2)
            .as("revenue"),
          (col("min_m").cast("double") / lit(100.0)).as("min_price"),
          (col("max_m").cast("double") / lit(100.0)).as("max_price"))
        .transform(ordered1(_, col("nation")))
    }),


    // CDC-signed view maintenance: deletes (keys %10=0) and updates
    // (+5.00 on keys %7=0) applied as retract/insert pairs — must
    // equal the oracle's from-scratch recompute of the final state.
    "q248_signed_view" -> ((s, d) => {
      val orders = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unscaledLong(col("o_totalprice"), 2).as("price_u"))
      val cust = load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val view = IncrementalAgg.signedPartial(
        orders.withColumn("sign", lit(1L))
          .join(cust, col("o_custkey") === col("c_custkey")),
        Seq("c_nationkey"), "price_u", col("sign"))
      val deletes = orders.filter(pmod(col("o_orderkey"), lit(10L)) === 0L)
        .withColumn("sign", lit(-1L))
      val upOld = orders
        .filter(pmod(col("o_orderkey"), lit(7L)) === 0L &&
          pmod(col("o_orderkey"), lit(10L)) =!= 0L)
        .withColumn("sign", lit(-1L))
      val upNew = upOld
        .withColumn("price_u", col("price_u") + lit(500L))
        .withColumn("sign", lit(1L))
      val delta = deletes.unionByName(upOld).unionByName(upNew)
      IncrementalAgg.refreshSignedJoinView(view, delta, cust,
          "o_custkey", "c_custkey", "c_nationkey", "price_u", col("sign"))
        .select(col("c_nationkey").as("nation"), col("n").as("n_orders"),
          graft.functions.Decimals.fromUnscaled(col("sum_m"), 2)
            .as("revenue"))
        .transform(ordered1(_, col("nation")))
    }),


    // Change-data feed between two snapshot versions (CDC): one
    // key-keyed full-outer join classifying insert/update/delete, the
    // inverse of the MERGE family. Versions are deterministic
    // perturbations of orders (%11=3 inserted, %11=7 deleted, %5=0
    // repriced).
    "q133_snapshot_diff" -> ((s, d) => {
      val base = load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val oldDf = base.filter(col("o_orderkey") % 11 =!= 3)
      val newDf = base.filter(col("o_orderkey") % 11 =!= 7)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")))
      Merge.snapshotDiff(oldDf, newDf, Seq("o_orderkey"))
        .transform(ordered1(_, col("o_orderkey")))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,


    "q02_dedup_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,


    "q03_shipping_priority" ->
      s"""SELECT l_orderkey, $revenueSql AS revenue, o_orderdate
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,


    "q04_local_supplier_volume" ->
      s"""SELECT n_name, $revenueSql AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,


    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,


    "q06_anti_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,


    "q07_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
        |ORDER BY o_custkey""".stripMargin,


    "q08_distinct_agg" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,


    "q09_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag) AS INT) AS g1,
        | CAST(GROUPING(l_linestatus) AS INT) AS g2,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g1,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g2,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,


    "q11_setop_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,


    "q12_setop_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,


    "q13_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,


    "q14_window_frames" ->
      """SELECT event_id, user_id, value,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        | LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        | LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |FROM events ORDER BY user_id, rn""".stripMargin,


    "q15_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour, event_type""".stripMargin,


    "q16_json_extract" ->
      """SELECT event_id,
        | CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k,
        | CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_dec,
        | CAST(ts AS DATE) AS event_date
        |FROM events ORDER BY event_id""".stripMargin,


    "q17_ts_parse" ->
      """SELECT event_id,
        | CASE event_id % 4
        |  WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
        |  WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z'
        |  WHEN 2 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.') || substring(strftime(ts, '%f'), 1, 3)
        |  ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS iso,
        | CASE event_id % 4
        |  WHEN 0 THEN ts
        |  WHEN 1 THEN date_trunc('second', ts)
        |  WHEN 2 THEN date_trunc('ms', ts)
        |  ELSE date_trunc('second', ts) END AS parsed
        |FROM events ORDER BY event_id""".stripMargin,


    "q18_est_convert" ->
      """SELECT event_id,
        | strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York', '%Y-%m-%d %H:%M:%S') AS est_str,
        | (date_trunc('second', ts) AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS est_ts
        |FROM events ORDER BY event_id""".stripMargin,


    "q19_merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |source AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,3)) AS DOUBLE) AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
        |SELECT
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderkey ELSE t.o_orderkey END AS o_orderkey,
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        | CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 'update'
        |      WHEN s.o_orderkey IS NOT NULL THEN 'insert' ELSE 'keep' END AS action
        |FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,


    "q20_retention" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |ORDER BY event_id""".stripMargin,


    "q21_counts_filtered" ->
      """SELECT event_type, COUNT(*) AS n,
        | COUNT(CASE WHEN value > 100 THEN 1 END) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q38_sliding_window" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS w_start, event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES AS w_start,
        |    event_type, value FROM events)
        |SELECT w_start, w_start + INTERVAL 60 MINUTES AS w_end, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,


    "q39_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 10 MINUTES
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT MIN(ts) AS s_start, MAX(ts) + INTERVAL 10 MINUTES AS s_end, user_id,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,


    "q42_json_sample" ->
      """SELECT event_id,
        | '{"event_id":' || event_id || ',"event_type":"' || event_type
        |   || '","user_id":' || user_id || '}' AS js
        |FROM events ORDER BY event_id LIMIT 5""".stripMargin,


    "q43_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, l.o_orderkey, l.o_totalprice
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) l ON TRUE
        |ORDER BY e.event_id""".stripMargin,


    "q44_pivot" ->
      """SELECT o_orderstatus,
        | COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
        | COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
        | COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
        | COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
        | COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,


    "q45_percentile" ->
      """WITH ranked AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderstatus,
        | MAX(CASE WHEN rn = ceil(n * 0.5) THEN o_totalprice END) AS p50,
        | MAX(CASE WHEN rn = ceil(n * 0.9) THEN o_totalprice END) AS p90,
        | COUNT(*) AS n
        |FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,


    "q66_from_json" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q65_date_arith" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate AS DATE) AS day,
        | CAST(o_orderdate AS DATE) + 30 AS plus_30,
        | CAST(o_orderdate AS DATE) - 30 AS minus_30,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month_clamped,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        | CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders WHERE o_orderkey <= 30000
        |ORDER BY o_orderkey""".stripMargin,


    "q64_incremental_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
        | CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q62_rank_distributions" ->
      """SELECT o_orderkey, o_orderstatus,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM orders
        |WHERE o_orderkey <= 30000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,


    "q63_string_panel" ->
      """SELECT doc_id,
        | upper(substring(text, 1, 1)) || lower(substring(text, 2, 11)) AS title_head,
        | translate(substring(text, 1, 20), 'aeiou', '_____') AS devoweled,
        | CAST(instr(text, 'the') AS BIGINT) AS first_the,
        | lpad(CAST(doc_id AS STRING), 8, '0') AS padded_id,
        | CAST(levenshtein(substring(text, 1, 15),
        |   reverse(substring(text, 1, 15))) AS BIGINT) AS palindromicity
        |FROM documents ORDER BY doc_id""".stripMargin,


    "q60_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |  FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey <= 1000)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,


    "q61_nested_collect" ->
      """SELECT user_id,
        | array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types,
        | COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q58_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(grouping(o_orderstatus) AS INT) AS g1,
        | CAST(grouping(o_orderpriority) AS INT) AS g2,
        | count(1) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,


    "q59_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,


    "q55_interval_join" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id, ts
        |  FROM flagged),
        |intervals AS (
        |  SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_last
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT e.event_id, e.user_id, e.ts, i.s_start, i.s_last
        |FROM events e JOIN intervals i
        |  ON e.user_id = i.user_id AND e.ts BETWEEN i.s_start AND i.s_last
        |ORDER BY event_id""".stripMargin,


    "q128_funnel_anyorder" ->
      """WITH t0 AS (SELECT user_id, min(epoch_us(ts)) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fl AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) AS h1,
        |    max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS h2,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS h3
        |  FROM events e JOIN t0 ON e.user_id = t0.user_id
        |  WHERE e.event_type IN ('view', 'click', 'purchase')
        |    AND epoch_us(e.ts) >= t0.t0
        |    AND epoch_us(e.ts) <= t0.t0 + 604800000000
        |  GROUP BY e.user_id),
        |n AS (SELECT
        |    CAST(SUM(h1) AS BIGINT) AS n1,
        |    CAST(SUM(h1 * h2) AS BIGINT) AS n2,
        |    CAST(SUM(h1 * h2 * h3) AS BIGINT) AS n3
        |  FROM fl)
        |SELECT step, step_name, n_keys,
        |  round(CAST(n_keys AS DOUBLE) /
        |    (SELECT n1 FROM n), 6) AS conversion
        |FROM (
        |  SELECT 1 AS step, 'view' AS step_name, n1 AS n_keys FROM n
        |  UNION ALL SELECT 2, 'click', n2 FROM n
        |  UNION ALL SELECT 3, 'purchase', n3 FROM n)
        |ORDER BY step""".stripMargin,


    "q94_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t0
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(s1.t0) AS t0, min(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t0
        |    AND epoch_us(e.ts) <= s1.t0 + 604800000000
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(s2.t0) AS t0, min(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.tp
        |    AND epoch_us(e.ts) <= s2.t0 + 604800000000
        |  GROUP BY e.user_id),
        |counts AS (
        |  SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_keys
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT count(*) FROM s3)),
        |base AS (SELECT n_keys AS b FROM counts WHERE step = 1)
        |SELECT step, step_name, n_keys,
        |  round(CAST(n_keys AS DOUBLE) / b, 6) AS conversion
        |FROM counts CROSS JOIN base ORDER BY step""".stripMargin,


    "q95_cohort_retention" ->
      """WITH wk AS (SELECT user_id,
        |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w FROM events),
        |cohorts AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, w FROM wk),
        |sizes AS (SELECT cohort_week, count(*) AS sz FROM cohorts GROUP BY cohort_week)
        |SELECT c.cohort_week AS cohort_week, a.w - c.cohort_week AS week_offset,
        |  count(*) AS n_active,
        |  round(CAST(count(*) AS DOUBLE) / max(s.sz), 6) AS retention
        |FROM active a JOIN cohorts c ON a.user_id = c.user_id
        |JOIN sizes s ON s.cohort_week = c.cohort_week
        |GROUP BY c.cohort_week, a.w - c.cohort_week
        |ORDER BY 1, 2""".stripMargin,


    "q117_funnel_latency" ->
      """WITH f AS (SELECT user_id,
        |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |      WHEN 'purchase' THEN 2 END AS si,
        |    min(ts) AS t
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1, 2),
        |p AS (SELECT user_id, si, t,
        |    lead(si) OVER w AS nsi, lead(t) OVER w AS nt
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY si)),
        |l AS (SELECT si, date_diff('second', t, nt) AS lat
        |  FROM p WHERE nsi = si + 1 AND nt >= t),
        |h AS (SELECT si, lat, count(*) AS c FROM l GROUP BY 1, 2),
        |cum AS (SELECT si, lat, c,
        |    sum(c) OVER (PARTITION BY si ORDER BY lat) AS cm,
        |    sum(c) OVER (PARTITION BY si) AS n,
        |    sum(lat * c) OVER (PARTITION BY si) AS s
        |  FROM h),
        |agg AS (SELECT si, max(n) AS n_users,
        |    round(CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
        |      AS mean_latency_s,
        |    CAST(min(lat) AS BIGINT) AS median_latency_s
        |  FROM cum WHERE cm >= ceil(n / 2.0) GROUP BY si)
        |SELECT CASE si WHEN 0 THEN 'view' WHEN 1 THEN 'click' END AS step_from,
        |  CASE si WHEN 0 THEN 'click' WHEN 1 THEN 'purchase' END AS step_to,
        |  CAST(n_users AS BIGINT) AS n_users, mean_latency_s, median_latency_s
        |FROM agg ORDER BY step_from""".stripMargin,


    "q127_entry_conversion" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS sid
        |  FROM o),
        |e AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |    ORDER BY ts, event_id) AS rn
        |  FROM s),
        |g AS (SELECT user_id, sid,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM e GROUP BY 1, 2)
        |SELECT entry_type,
        |  count(*) AS n_sessions,
        |  CAST(sum(conv) AS BIGINT) AS n_converted,
        |  round(CAST(sum(conv) AS DOUBLE) / count(*), 6) AS conversion
        |FROM g GROUP BY entry_type ORDER BY entry_type""".stripMargin,


    "q47_topk_per_group" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,


    "q48_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n,
        | MIN(ts) AS s_start, MAX(ts) AS s_last,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,


    "q49_hash_sample" ->
      """SELECT o_orderstatus, COUNT(*) AS n_sampled,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS STRING)), 1, 2) < '1a'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,


    "q50_scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | o_orderdate AS effective_from,
        | lead(o_orderdate) OVER w AS effective_to,
        | (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, effective_from, o_orderkey""".stripMargin,


    // DuckDB's own ASOF LEFT JOIN is the oracle — the semantics the
    // composed as-of join must reproduce exactly.
    "q222_asof_native" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts)
        |SELECT c.user_id, c.ts, c.event_id, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND p.pts <= c.ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin,


    // The oracle recomputes the view FROM SCRATCH — the delta-refresh
    // identity gamma(base) merge gamma(delta join dim) = gamma(all) is
    // exactly what the hash gate certifies (bitwise, because the
    // measure is an unscaled-long sum).
    "q242_view_refresh" ->
      """SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // The oracle recomputes the FINAL state from scratch (deletes
    // gone, updates applied) — certifying the signed-delta identity;
    // NULL order keys are untouched on both sides.
    "q248_signed_view" ->
      """SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) +
        |    CASE WHEN o_orderkey % 7 = 0 THEN CAST(5.00 AS DECIMAL(18,2))
        |      ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 10 <> 0 OR o_orderkey IS NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q133_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
        |oldv AS (SELECT * FROM base WHERE o_orderkey % 11 <> 3),
        |newv AS (SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.5 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus FROM base WHERE o_orderkey % 11 <> 7),
        |j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey ELSE o.o_custkey END AS o_custkey,
        |  CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice ELSE o.o_totalprice END AS o_totalprice,
        |  CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus ELSE o.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |             AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |             AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
        |         THEN 'update' END AS change_type
        |  FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
        |SELECT * FROM j WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin,
  )
}
