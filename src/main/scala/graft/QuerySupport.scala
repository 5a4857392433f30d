package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Helpers shared by every query-registry family object
  * ([[graft.queries]]): deterministic final ordering, exact decimal
  * aggregation, boilerplate fixtures, and the DuckDB-oracle SQL
  * fragment builders. Moved verbatim from SparkEntry in the round-12
  * registry split. */
private[graft] object QuerySupport {

  /** Total order for a SMALL result built on a shuffle-free expensive
    * projection. A plain `orderBy` range-samples its child, re-executing
    * the whole projection DAG a second time (aggregates/joins are
    * protected because their shuffle stages are reused; projections have
    * no shuffle to reuse). One round-robin shuffle into a single
    * partition + a local sort keeps the projection parallel, runs it
    * once, and yields the same deterministic order. Only for outputs
    * that fit one partition — large sorted outputs should sort the
    * narrow base early instead (see TradeInQueries.rawSpark).
    *
    * Traffic: registry query bodies only (no operator, pipeline or
    * streaming code calls it), run by Verify, Bench, Prof, PlanAudit,
    * the perfbench query mix and the specs, all on test corpora of at
    * most sf0.1 — outputs of at most ~1M narrow rows, where the
    * single-partition sort measurably beats orderBy's extra
    * range-sampling job (q55's three-way A/B, round 6; q14, round 7). */
  private[graft] def ordered1(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys: _*)

  /** Exactly 12 tokens — q84's injected boilerplate span (one full
    * 12-token span, so it aligns with the span grid in both engines). */
  private[graft] val SpanBoiler =
    "please accept cookies to continue reading this page thank you very much"

  /** q91's injected boilerplate line (corpus-frequent by construction,
    * so line dedup must strip every copy). */
  private[graft] val LineBoiler =
    "subscribe to our newsletter for the latest updates"

  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(18, scale))
  /** See [[graft.functions.Decimals]] — guarded fast-path quantization +
    * exact final division (the q01 2.7× fix, shared with TimeSeries). */
  def unscaledLong(c: Column, scale: Int): Column =
    graft.functions.Decimals.unscaledLong(c, scale)
  /** SUM with exact decimal accumulation, canonical double output.
    *
    * Semantics are identical to `sum(dec(c, scale)).cast("double")` — the
    * per-row quantization is the same decimal cast — but the accumulator
    * is the unscaled BIGINT: a wide-decimal SUM buffer (precision 28 after
    * Spark's +10 widening) is byte-array-backed in UnsafeRow, so every
    * update round-trips through BigDecimal, measured ~1.7× the whole
    * aggregate's cost. Summing the unscaled long hits the codegen'd long
    * adder instead. The final division runs in decimal (not double) so the
    * quotient is exact and only the last cast rounds — sums past 2^53
    * would otherwise double-round through the long→double conversion.
    * Overflow bound: unscaled sums stay exact below 2^63 ≈ 9.2e18, the
    * same order as the decimal(28) widened buffer's 1e28 — either needs a
    * two-level (partial/final) re-aggregation design well before 100 TB of
    * a single skewed group. */
  def dsum(c: Column, scale: Int): Column =
    graft.functions.Decimals.dsum(c, scale)
  /** Two-level split of [[dsum]] for re-aggregation (rollup/cube over
    * pre-aggregated partials): `dsumPartial` is the per-group unscaled
    * BIGINT sum, `dsumFinal` re-sums partials and applies the one exact
    * decimal division. dsumFinal(dsumPartial) ≡ dsum because long
    * addition is associative. */
  def dsumPartial(c: Column, scale: Int): Column =
    sum(unscaledLong(c, scale))
  def dsumFinal(partial: Column, scale: Int): Column =
    graft.functions.Decimals.fromUnscaled(sum(partial), scale)
  val revenueRow: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  val revenueSql =
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"


  /** Exact eval-overlap decontamination answer (q73); q101's Bloom
    * variant must reproduce it bit-for-bit because its sketch only
    * pre-filters ahead of the exact-verify join. */
  val DecontaminateOracle =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ')
      |  FOR i IN generate_series(1, greatest(len(t)-2, 1))]) AS s FROM toks),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 7),
      |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 7)
      |SELECT doc_id, count(*) AS n_overlap
      |FROM tr JOIN ev USING (g)
      |GROUP BY doc_id HAVING count(*) >= 1
      |ORDER BY doc_id""".stripMargin

  /** Shared CTE text for the minhash-family oracles: one md5 per shingle,
    * k components from disjoint 8-hex-char digest slices (mirrors
    * [[graft.operators.TextDedup.minhashSignatures]]). */
  val shinglesCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |hs AS (SELECT doc_id,
      |  [md5(array_to_string(t[i:i+2], ' ')) FOR i IN generate_series(1, greatest(len(t)-2, 1))] AS h
      |  FROM toks),
      |sig AS (SELECT doc_id,
      |  list_min([substring(x, 1, 8) FOR x IN h]) AS sig_0,
      |  list_min([substring(x, 9, 8) FOR x IN h]) AS sig_1,
      |  list_min([substring(x, 17, 8) FOR x IN h]) AS sig_2,
      |  list_min([substring(x, 25, 8) FOR x IN h]) AS sig_3
      |  FROM hs)""".stripMargin

  def simhashBitsSql(bits: Int): String = (0 until bits).map { j =>
    s"CASE WHEN 2 * len(list_filter(t, x -> substring(md5(x), ${j + 1}, 1) >= '8')) > len(t) THEN ${1L << j} ELSE 0 END"
  }.mkString(" + ")

  /** Exact integer value of the first `digits` hex chars of VARCHAR
    * expression `x` (e.g. an md5 digest), rendered as a digit-sum of
    * exact-in-double integer literals (the [[kmvEstimateSql]]
    * construction — every partial sum is an exact integer < 2^52, so
    * the result is EXACT regardless of association, matching Spark's
    * `conv(substring(x,1,digits),16,10)`). */
  def hexValSql(x: String, digits: Int): String = {
    require(digits >= 1 && digits <= 13, s"digits out of range: $digits")
    (1 to digits).map { i =>
      s"CAST(strpos('0123456789abcdef', substring($x, $i, 1)) - 1 AS DOUBLE) * ${math.pow(16, digits - i).toLong}.0"
    }.mkString("(", " + ", ")")
  }

  /** The KMV estimate over a sorted min-hash list column `arr` (matching
    * [[graft.operators.Profiling.kmvEstimate]]): the k-th hash's first 13
    * hex digits as a fraction of 16^13 = 2^52. Rendered as a digit-sum of
    * exact integer literals — every intermediate is an exact-in-double
    * integer < 2^52, so the sum is EXACT regardless of association and
    * both engines reach the identical double before the one rounded
    * division. */
  def kmvEstimateSql(arr: String, k: Int): String = {
    val digits = (1 to 13).map { i =>
      s"CAST(strpos('0123456789abcdef', substring($arr[$k], $i, 1)) - 1 AS DOUBLE) * ${math.pow(16, 13 - i).toLong}.0"
    }.mkString(" + ")
    s"""CASE WHEN len($arr) < $k THEN CAST(len($arr) AS DOUBLE)
       |  ELSE round(${(k - 1).toDouble} / (($digits) / 4503599627370496.0), 4) END""".stripMargin
  }

  /** DuckDB mirror of [[graft.functions.Decimals.dmean]]: quantize at
    * `scale` through the same DECIMAL cast, sum in HUGEINT, half-up
    * integer mean `floor((2S + n)/2n)`, one final double conversion. */
  def dmeanSql(x: String, scale: Int): String = {
    val pow = "1" + ("0" * scale)
    val s = s"SUM(CAST(CAST($x AS DECIMAL(18,$scale)) * $pow AS HUGEINT))"
    val n = s"CAST(COUNT($x) AS HUGEINT)"
    val a = s"(2 * $s + $n)"
    val b = s"(2 * $n)"
    s"CASE WHEN $n > 0 THEN CAST(($a - ((($a % $b) + $b) % $b)) // $b AS DOUBLE) / $pow.0 ELSE NULL END"
  }

  /** One unrolled PageRank iteration (the q155 oracle): mirrors
    * `Graph.pageRank`'s decimal-quantized contribution sums, dangling
    * redistribution, and 12-dp per-iteration rounding. Assumes CTEs
    * `t(src, dst, p)`, `nodes(node)`, `nc(nn)`, and `r${i-1}` exist. */
  def prIterSql(i: Int): String = {
    val prev = s"r${i - 1}"
    // exact unscaled-integer sums with ONE double conversion + ONE
    // division, mirroring Graph.pageRank's quantized reductions
    def usum(x: String) =
      s"CAST(SUM(CAST(CAST($x AS DECIMAL(18,12)) * 1000000000000 AS HUGEINT)) AS DOUBLE) / 1000000000000.0"
    s"""c$i AS (SELECT t.dst AS node, ${usum(s"$prev.rank * t.p")} AS contrib
       |  FROM t JOIN $prev ON t.src = $prev.node GROUP BY t.dst),
       |d$i AS (SELECT COALESCE(${usum("rank")}, 0.0) AS dsum
       |  FROM $prev WHERE node NOT IN (SELECT src FROM t)),
       |r$i AS (SELECT n.node, ROUND((1.0 - 0.85) / (SELECT nn FROM nc) +
       |    0.85 * (COALESCE(c$i.contrib, 0.0) + (SELECT dsum FROM d$i) / (SELECT nn FROM nc)), 12) AS rank
       |  FROM nodes n LEFT JOIN c$i ON n.node = c$i.node)""".stripMargin
  }

  /** One profile row (matching [[graft.operators.Profiling.profile]]) for
    * column `c` of `kind` ∈ {int, str, dbl, ts} on `table`; with `group`
    * set, one row per group value ([[Profiling.profileBy]]). */
  def profileColSql(table: String, c: String, kind: String, k: Int,
      group: Option[String] = None): String = {
    val gSel = group.map(g => s"$g, ").getOrElse("")
    val gBy = group.map(g => s" GROUP BY $g").getOrElse("")
    val hash = kind match {
      case "str" => c
      // DECIMAL(30,6) mirrors Profiling.hashKey's round-9 widening (a
      // (18,6) cast nulls out at |v| >= 1e12; rendering is scale-driven,
      // so in-range strings are unchanged)
      case "dbl" => s"CAST(CAST($c AS DECIMAL(30,6)) AS VARCHAR)"
      case "ts"  => s"CAST(epoch_us($c) AS VARCHAR)"
      case _     => s"CAST($c AS VARCHAR)"
    }
    val numv = kind match {
      case "str" => "CAST(NULL AS DOUBLE)"
      case "ts"  => s"CAST(epoch_us($c) AS DOUBLE)"
      case _     => s"CAST($c AS DOUBLE)"
    }
    // exact scaled-integer mean source (micro-quantized numerics, raw
    // epoch micros for timestamps) — mirrors Profiling.meanScaled
    val (meanSrc, quantum) = kind match {
      case "str" => ("CAST(NULL AS HUGEINT)", 1L)
      case "ts"  => (s"CAST(epoch_us($c) AS HUGEINT)", 1L)
      // mirrors Profiling.meanScaled's round-9 split: integrals go
      // straight to exact HUGEINT (no narrow-decimal hop that nulls out
      // at |v| >= 1e12), fractionals quantize through DECIMAL(30,6)
      case "dbl" => (s"CAST(CAST($c AS DECIMAL(30,6)) * 1000000 AS HUGEINT)", 1000000L)
      case _     => (s"CAST($c AS HUGEINT) * 1000000", 1000000L)
    }
    val (minLen, maxLen) =
      if (kind == "str") (s"CAST(min(length($c)) AS BIGINT)", s"CAST(max(length($c)) AS BIGINT)")
      else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
    // floor((2S + n) / 2n) in exact integers = half-up mean, then one
    // small-magnitude double conversion (mirrors Profiling.profile)
    val a = "(2 * s_sum + n_nn)"
    val b = "(2 * n_nn)"
    s"""SELECT $gSel'$c' AS "column", n_rows, n_null,
       |  ${kmvEstimateSql("mins", k)} AS approx_distinct,
       |  min_val, max_val,
       |  CASE WHEN n_nn > 0 THEN
       |    CAST(($a - ((($a % $b) + $b) % $b)) // $b AS DOUBLE) / $quantum.0
       |  ELSE NULL END AS mean_val,
       |  min_len, max_len
       |FROM (SELECT ${gSel}count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  list_sort(list_distinct(list(md5($hash))))[1:$k] AS mins,
       |  min($numv) AS min_val, max($numv) AS max_val,
       |  sum($meanSrc) AS s_sum, CAST(count($c) AS HUGEINT) AS n_nn,
       |  $minLen AS min_len, $maxLen AS max_len FROM $table$gBy)""".stripMargin
  }

  /** Hyperplane-bucket SQL with the LSH planes embedded as double
    * literals (JVM-computed — see the q30 comment). */
  def bucketSql(v: String): String =
    Similarity.deterministicPlanes(4, 64).zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product($v, $lits) >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")

}
