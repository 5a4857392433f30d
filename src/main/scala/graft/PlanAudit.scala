package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan audit (not part of the driver contract): dumps, for every
  * `SparkEntry.queries` entry, the scale-relevant attributes of the
  * compiled plan — shuffle count, broadcast joins, whole-stage-codegen
  * spans, parquet filter pushdown, window-group-limit / top-k rewrites —
  * plus the full formatted plan for a set of headline queries. Output is
  * `PLANS.md`, regenerated by `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {

  private val headline = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q19_merge_upsert",
    "q26_neardup_jaccard", "q29_knn_cosine", "q43_asof_join",
    "q47_topk_per_group", "q53_vocab", "q55_interval_join")

  private def explainAs(df: DataFrame, mode: String): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  /** Round-17 verdict item 3: the five adjudicated AQE-on plan diffs
    * (BASELINE.md round-17 production-config audit) as STRUCTURAL
    * CONTRACTS, checked by `PlanAudit prod <dir> <bench> <topN> assert`
    * and ALWAYS-RUN by PlanPinSpec on the sf0.001 fixture (round-19
    * verdict item 3 — the pins are now a red-build gate, not a manual
    * runMain). Two layers:
    *  1. Per-query pins — the adjudicated (AQE-off → AQE-on) shuffle
    *     gains and broadcast demotions, as UPPER BOUNDS: a diff that
    *     EXCEEDS its pin fails the run and demands re-adjudication; a
    *     diff below it (AQE finding a better plan, e.g. broadcasting
    *     more at a smaller scale) passes — downward drift is an
    *     improvement, not a contract break (round-18 ADVICE item 1).
    *  2. A corpus-lineage invariant over EVERY audited query: AQE must
    *     not ADD a shuffle whose subtree reaches a file scan without
    *     passing a cache boundary (InMemoryTableScan) — the adjudicated
    *     gains all sit on persisted TYPES-bounded frames, so a gained
    *     shuffle with raw file lineage is exactly the corpus-sized
    *     exchange-reuse loss the adjudication ruled out. */
  private[graft] val aqePins: Map[String, (Int, Int)] = Map(
    // query -> (adjudicated shuffle gain, adjudicated broadcast loss).
    // The bounds envelope OBSERVED run-to-run AQE variation: a join
    // whose runtime build-side size straddles a demotion threshold is
    // re-decided each run (q72 measured demote=0 and demote=1 in two
    // round-19 runs minutes apart on identical code and data) — the
    // pin bounds the worst adjudicated outcome, not one run's draw.
    "q274_pr_keeper" -> (1, 0),
    "q273_docnll_drift" -> (3, 0),
    "q159_similarity_join" -> (5, 3),
    "q72_curation_chain" -> (3, 1),
    "q270_docnll" -> (3, 0))

  private[graft] final case class AuditRow(name: String,
      offSh: Int, offBc: Int, offRaw: Int,
      onSh: Int, onBc: Int, onRaw: Int,
      skew: Boolean, aqeRead: Boolean)

  /** Pin + corpus-lineage verdicts for one audited row (empty = ok).
    *
    * The lineage invariant allows up to TWO gained raw-lineage shuffles
    * per broadcast DEMOTION: a broadcast join AQE demotes to a shuffle
    * join (runtime stats said the build side is too big — the safer
    * plan at scale) necessarily adds exchanges over the joined inputs,
    * raw lineage included, and demotions are themselves bounded by the
    * per-query pins. What the invariant still catches is a raw-lineage
    * shuffle gained WITHOUT a demotion to attribute it to — the lost
    * exchange-reuse class that re-runs corpus-sized work. (The round-18
    * version of this check had never been executed; first real runs in
    * round 19 showed it flagging exactly the adjudicated demotions —
    * BASELINE.md round-19 note.) */
  private[graft] def violationsFor(r: AuditRow): Seq[String] = {
    val demote = math.max(0, r.offBc - r.onBc)
    val raw =
      if (r.onRaw - r.offRaw > 2 * demote)
        Seq(s"${r.name}: AQE added ${r.onRaw - r.offRaw} " +
          s"raw-file-lineage shuffle(s) (off=${r.offRaw} on=${r.onRaw}, " +
          s"demotions=$demote) beyond the demotion allowance — " +
          "corpus-sized exchange-reuse loss; re-adjudicate " +
          "(BASELINE.md round-17 audit)")
      else Seq.empty
    val pin = aqePins.get(r.name).toSeq.flatMap { case (gainPin, demotePin) =>
      val gain = r.onSh - r.offSh
      val demote = math.max(0, r.offBc - r.onBc)
      if (gain > gainPin || demote > demotePin)
        Seq(s"${r.name}: AQE diff (gain=$gain, demote=$demote) " +
          s"exceeds the adjudicated pin (gain<=$gainPin, " +
          s"demote<=$demotePin) — re-adjudicate before accepting")
      else Seq.empty
    }
    raw ++ pin
  }

  /** One query's executed-tree audit under both AQE settings: the
    * counts prodAudit tabulates and PlanPinSpec gates on. Walked, not
    * string-counted (see the comment inside). Restores the session's
    * AQE setting; clears the cache after each run. Extracted from
    * prodAudit (round 19) so the pin contract can run inside the test
    * JVM's shared session instead of only under a manual runMain. */
  private[graft] def auditOne(spark: SparkSession, d: String,
      name: String): AuditRow = {
    // WALK the executed tree — an adaptive plan's explain
    // string prints final + initial trees (double-counting) and keeps
    // its operator ids in a section the final tree does not carry, so
    // string counting is wrong in both directions (the first prod-audit
    // run flagged 269/276 queries on exactly that artifact). Resolved
    // AdaptiveSparkPlanExec/QueryStageExec nodes are unwrapped to the
    // plans they actually ran.
    def finalCounts(root: org.apache.spark.sql.execution.SparkPlan)
        : (Int, Int, Boolean, Boolean, Int) = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      var sh = 0; var bc = 0; var skew = false; var aqeRead = false
      var rawSh = 0
      // does this subtree reach a FILE scan without first crossing a
      // cache boundary? (a shuffle with such lineage re-runs corpus-
      // sized work; one rooted at an InMemoryTableScan re-aggregates a
      // bounded persisted frame)
      def rawFileLineage(p: SparkPlan): Boolean = p match {
        case a: AdaptiveSparkPlanExec => rawFileLineage(a.executedPlan)
        case q: QueryStageExec => rawFileLineage(q.plan)
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          false
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          true
        case other => other.children.exists(rawFileLineage)
      }
      // descend into persisted subtrees (several audited queries persist
      // mid-chain, so the executed tree truncates at InMemoryTableScan
      // while the static tree shows the full lineage — without this the
      // diff reports phantom "lost" operators); each cached relation
      // counts once even when scanned twice. Keyed by the CANONICALIZED
      // cached plan, not object identity (round 19): under AQE the
      // cache scans of one logical relation can surface distinct
      // relation instances, and identity keying then double-counted the
      // cached lineage's exchanges — exactly the phantom "+2 raw"
      // flagged on q270/q273 the first time the assert mode ever ran.
      val seenCaches = scala.collection.mutable.Set.empty[SparkPlan]
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(c.relation.cachedPlan.canonicalized))
            walk(c.relation.cachedPlan)
        case other =>
          other match {
            case s: ShuffleExchangeLike =>
              sh += 1
              if (rawFileLineage(s)) rawSh += 1
            case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
              bc += 1
            case j: SortMergeJoinExec if j.isSkewJoin => skew = true
            case j: ShuffledHashJoinExec if j.isSkewJoin => skew = true
            case _: AQEShuffleReadExec => aqeRead = true
            case _ =>
          }
          other.children.foreach(walk)
      }
      walk(root)
      (sh, bc, skew, aqeRead, rawSh)
    }
    // Both sides of the diff are EXECUTED trees walked by the same
    // counter (caches cleared between): a static explain-string count
    // is not comparable on persist-heavy queries — InMemoryRelation
    // hides its cached lineage from the formatted tree but not from the
    // walk, so either direction of string-vs-walk produces phantom
    // gains/losses (both failure modes observed while building this).
    def runAndCount(fn: (SparkSession, String) => DataFrame, aqe: Boolean)
        : (Int, Int, Boolean, Boolean, Int) = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val qe = fn(spark, d)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution
      // execute the plan so AQE finalizes every stage (row results are
      // discarded on the executors — nothing collects to the driver)
      qe.executedPlan.execute().foreach(_ => ())
      val r = finalCounts(qe.executedPlan)
      spark.catalog.clearCache()
      r
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      val fn = SparkEntry.queries(name)
      val (ss, sbc, _, _, sRaw) = runAndCount(fn, aqe = false)
      val (fs, fbc, skew, aqeRead, fRaw) = runAndCount(fn, aqe = true)
      AuditRow(name, ss, sbc, sRaw, fs, fbc, fRaw, skew, aqeRead)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** Production-config audit (round 17): the static AQE-off table in
    * PLANS.md describes the plans Catalyst COMPILES; this mode audits
    * the plans the production config actually RUNS — AQE on, runtime
    * stage statistics allowed to re-plan joins and coalesce/skew-split
    * reads — for the most expensive registry queries at sf0.1. For each
    * query it records the static (AQE-off) counts and the FINAL
    * adaptive plan's counts (the query is executed so every
    * AdaptiveSparkPlan finalizes), then verdicts the diff: a production
    * plan that GAINS a shuffle or LOSES a broadcast relative to the
    * static tree is flagged; coalesced reads and broadcast-replans are
    * noted as the AQE wins they are. Output: PLANS_prod.md.
    *
    * Queries audited: the top `n` by the round-16 driver bench artifact
    * (BENCH_r16.json) plus any registry entries absent from that
    * artifact (new this round, never audited under production config).
    */
  private def prodAudit(d: String, benchJson: String, topN: Int,
      assertPins: Boolean = false): Unit = {
    // PRODUCTION knobs: AQE on (auditOne flips it per run), real
    // shuffle-partition width; the bench's 8-partition/AQE-off constants
    // are bench-only (BASELINE.md round-13 sweep)
    val spark = Harness.session(Harness.auditConf, logLevel = "ERROR")

    val txt = try Files.readString(Paths.get(benchJson)) catch {
      case _: java.io.IOException => ""
    }
    val timed = """"(q[0-9]+[a-z0-9_]*)"\s*:\s*([0-9.]+)""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (n, _) => SparkEntry.queries.contains(n) }
      .toSeq.sortBy(-_._2)
    val newcomers = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(timed.map(_._1).toSet)
    // assert mode force-includes the pinned queries: a pin that fell
    // outside the bench top-N (and is not a newcomer) would otherwise
    // silently never be checked, and the "pins OK" success line would
    // overstate coverage (round-18 ADVICE item 2)
    val names = (timed.take(topN).map(_._1) ++ newcomers ++
      (if (assertPins) aqePins.keys.toSeq.sorted else Nil)).distinct

    val sb = new StringBuilder
    sb.append("# Production-config plan audit (AQE on, 32 shuffle partitions)\n\n")
    sb.append(s"Generated by `graft.PlanAudit prod` against `$d`. Both columns\n")
    sb.append("are EXECUTED physical trees walked by the same counter (adaptive\n")
    sb.append("and query-stage wrappers unwrapped, persisted subtrees descended\n")
    sb.append("once per cached relation): off = AQE disabled, on = the final\n")
    sb.append(s"adaptive plan. Queries: top $topN of the committed bench artifact\n")
    sb.append("by elapsed time, plus registry entries newer than that artifact.\n")
    sb.append("Verdict flags a production (AQE-on) plan that gains a shuffle or\n")
    sb.append("loses a broadcast vs the same query executed AQE-off.\n\n")
    sb.append("| query | off sh/bc | on sh/bc | AQE notes | verdict |\n")
    sb.append("|---|---|---|---|---|\n")
    var flagged = 0
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    names.foreach { name =>
      val r = auditOne(spark, d, name)
      val notes = Seq(
        if (r.aqeRead) Some("AQE shuffle reads") else None,
        if (r.skew) Some("skew-split") else None,
        if (r.onBc > r.offBc) Some("broadcast-replanned join") else None
      ).flatten.mkString(", ")
      val verdict =
        if (r.onSh > r.offSh) { flagged += 1; s"**FLAG: +${r.onSh - r.offSh} shuffle**" }
        else if (r.onBc < r.offBc) { flagged += 1; s"**FLAG: -${r.offBc - r.onBc} broadcast**" }
        else "ok"
      sb.append(s"| $name | ${r.offSh}/${r.offBc} | ${r.onSh}/${r.onBc} | $notes | $verdict |\n")
      violations ++= violationsFor(r)
    }
    sb.append(s"\nFlagged: $flagged of ${names.size}. Flags are adjudicated\n")
    sb.append("per query in BASELINE.md (round-17 production-config audit\n")
    sb.append("section): the observed classes are (a) AQE losing a static\n")
    sb.append("ReuseExchange on persisted type-table chains (+shuffles on\n")
    sb.append("TYPES-sized re-aggregations, one extra cache scan — bounded,\n")
    sb.append("not corpus-sized) and (b) AQE re-deciding stats-estimated\n")
    sb.append("joins from TRUE runtime sizes in both directions (demotions\n")
    sb.append("correct optimistic static broadcasts — the safer plan at\n")
    sb.append("scale; promotions broadcast sides measured small).\n")
    Files.writeString(Paths.get("PLANS_prod.md"), sb.toString)
    println(s"wrote PLANS_prod.md (${names.size} queries, $flagged flagged)")
    if (assertPins) {
      if (violations.nonEmpty) {
        violations.foreach(v => System.err.println(s"[plan-pin] VIOLATION: $v"))
        spark.stop()
        sys.error(s"${violations.size} AQE plan-pin violation(s) — see above")
      }
      println(s"plan pins OK: ${aqePins.size} adjudicated diffs within " +
        "bounds, no raw-file-lineage shuffle gained on any audited query")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("trees")) {
      // Debug dump: the EXECUTED physical trees (AQE off, then on) for
      // the named queries under the prod-audit session — for
      // adjudicating pin/lineage flags by eyeball.
      val d = args(1)
      val spark = Harness.session(Harness.auditConf, logLevel = "ERROR")
      args.drop(2).foreach { name =>
        for (aqe <- Seq(false, true)) {
          spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
          val qe = SparkEntry.queries(name)(spark, d)
            .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
            .queryExecution
          qe.executedPlan.execute().foreach(_ => ())
          println(s"\n===== $name aqe=$aqe =====")
          println(qe.executedPlan.toString)
          spark.catalog.clearCache()
        }
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("prod")) {
      // BENCH_local.json, not BENCH_r{N}.json: the driver's per-round
      // artifact wraps a TRUNCATED stdout tail (no full query map);
      // the committed bench run carries every per-query timing.
      prodAudit(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).getOrElse("BENCH_local.json"),
        args.lift(3).map(_.toInt).getOrElse(25),
        assertPins = args.contains("assert"))
      return
    }
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    // AQE off for the audit: a single static tree per query (codegen
    // ids inline, each scan printed once). Bench/production run with
    // AQE on, which further broadcast-replans joins and coalesces
    // partitions from runtime stats on top of what is shown here.
    val spark = Harness.session(
      Harness.auditConf + ("spark.sql.adaptive.enabled" -> "false"),
      logLevel = "ERROR")

    val sb = new StringBuilder
    sb.append("# Physical-plan audit\n\n")
    sb.append(s"Generated by `graft.PlanAudit` against `$d` (plans\n")
    sb.append("shown are the initial static plans — AQE may further replace\n")
    sb.append("sort-merge joins with broadcast joins and coalesce partitions\n")
    sb.append("at runtime using observed stage statistics).\n\n")
    sb.append("Columns: shuffles = `Exchange` operators in the static plan;\n")
    sb.append("bcast = broadcast joins (hash or nested-loop); WSCG =\n")
    sb.append("whole-stage-codegen spans; pushed = parquet scans carrying\n")
    sb.append("non-empty `PushedFilters`; notes = scale-relevant rewrites\n")
    sb.append("detected (window-group-limit for per-group top-k, \n")
    sb.append("TakeOrderedAndProject for global top-k).\n\n")
    sb.append("| query | shuffles | bcast | WSCG | pushed | notes |\n")
    sb.append("|---|---|---|---|---|---|\n")

    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, d)
      val plan = explainAs(df, "formatted")
      // Codegen span ids render in simple mode (`*(N) Op`), not formatted.
      val simple = explainAs(df, "simple")
      // Formatted mode prints each operator in the tree AND in the detail
      // section — count distinct operator ids, not raw token occurrences.
      def ops(op: String): Int =
        s"\\((\\d+)\\) $op".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      val shuffles = ops("Exchange")
      val bcast = ops("BroadcastHashJoin") + ops("BroadcastNestedLoopJoin")
      val wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(simple).map(_.group(1)).toSet.size
      val pushed = count(plan, "PushedFilters: \\[[^\\]]") // non-empty only
      val notes = Seq(
        if (plan.contains("WindowGroupLimit")) Some("window-group-limit") else None,
        if (plan.contains("TakeOrderedAndProject")) Some("take-ordered") else None,
        if (plan.contains("InMemoryTableScan")) Some("reuses persisted stage") else None
      ).flatten.mkString(", ")
      sb.append(s"| $name | $shuffles | $bcast | $wscg | $pushed | $notes |\n")
      // Queries that persist() during construction register their frames
      // with the session CacheManager, which then substitutes
      // InMemoryRelation into LATER queries' plan-identical subtrees —
      // q67's audit row showed a phantom "reuses persisted stage" from
      // q26's banded frame. Audit each query's plan in isolation.
      spark.catalog.clearCache()
      name -> plan
    }.toMap

    sb.append("\n## Headline plans\n")
    headline.foreach { name =>
      sb.append(s"\n### $name\n\n```\n${plans(name).trim}\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${plans.size} queries)")
    spark.stop()
  }
}
