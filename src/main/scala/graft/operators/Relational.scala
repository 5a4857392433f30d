package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Timestamps.tsMicros

/** Generalized relational operators (SURVEY.md §2.3/2.4/2.8). Thin,
  * built-in-backed wrappers — they exist so the engine's surface is
  * enumerable and so each carries its scale contract in one place.
  */
object Relational {

  /** Global top-k: `orderBy + limit` compiles to TakeOrderedAndProject —
    * per-partition partial top-k then a k-row driver merge; no global
    * sort, no full shuffle. The only safe global-ordering operator at
    * 100 TB. */
  def topK(df: DataFrame, k: Int, ordering: Column*): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** Per-group top-k via window-group-limit (rn <= k pushed into the
    * sort; Spark ≥3.5 `InferWindowGroupLimit`). */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], ordering: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic hash sample: keep rows whose `md5(key)` hex prefix
    * sorts below `hexCutoff` (2 hex chars ⇒ 256 uniform buckets; cutoff
    * "1a" ≈ 26/256 ≈ 10.2%). Unlike `df.sample()` this is (a) exactly
    * reproducible across engines/runs — a requirement for train/eval
    * splits and for oracle checking — and (b) stable under re-partitioning
    * and incremental loads: a row's membership depends only on its key,
    * so yesterday's sample never churns when today's data arrives. Pure
    * map-side filter; at 100 TB it costs one scan, no shuffle. */
  def deterministicSample(df: DataFrame, key: Column, hexCutoff: String): DataFrame =
    df.filter(substring(md5(key.cast("string")), 1, hexCutoff.length) < lit(hexCutoff))

  /** Join-key skew audit — the pre-flight diagnosis for a planned
    * shuffle: per-key row counts for the `topK` heaviest keys, each with
    * its share of the table, its ratio to the mean per-key load, and the
    * salt factor that would level it (`ceil(count / mean)` — the number
    * of sub-keys a salted join needs so no sub-key exceeds the average).
    * Run it on both sides of a join that AQE keeps flagging; the output
    * is directly the `saltFactor` argument of the salted-join operator.
    * The ratio arithmetic is exact-integer until one final rounded
    * division (ceil via `(a + b - 1) div b`, never float), so any SQL
    * oracle reproduces it bit-exactly.
    *
    * Scale shape: one hash aggregation on the key (map-side partials
    * absorb the skew being measured — the irony is load-bearing), a
    * 1-row broadcast of the (total, distinct) pair, and a
    * TakeOrderedAndProject top-k. The aggregation groups on the RAW key
    * and casts to string only after collapsing: the shuffle then carries
    * the native fixed-width value instead of a per-row formatted string,
    * and grouping matches the equality the salt factor will actually be
    * used under (Spark's join/group comparison, which normalizes ±0.0
    * and NaN — a string-keyed pre-cast would split "-0.0" from "0.0"
    * into different groups than the join being salted).
    *
    * Shape note (round 9): top-k FIRST. The per-key counts feed two
    * branches — the 1-row totals and the top-k — and ReuseExchange
    * already dedupes the groupBy shuffle between them; the remaining
    * waste in the old shape was computing the share/ratio/salt decimal
    * arithmetic and the broadcast join over EVERY distinct key before
    * the limit. Taking the `topK` heaviest off the counts exchange
    * (TakeOrderedAndProject) and only then joining the broadcast totals
    * runs the derived arithmetic on `topK` rows instead of |keys|. */
  def skewAudit(df: DataFrame, key: Column, topK: Int): DataFrame = {
    val counts = df.groupBy(key.as("__k"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("__k").cast("string").as("key"), col("n_rows"))
    val totals = counts.agg(sum(col("n_rows")).as("__t"),
      count(lit(1)).as("__k"))
    counts
      .orderBy(col("n_rows").desc, col("key").asc)
      .limit(topK)
      .crossJoin(broadcast(totals))
      .select(col("key"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__t"), 6).as("share"),
        round(col("n_rows").cast("double") * col("__k") / col("__t"), 6)
          .as("skew_ratio"),
        // exact ceil-division: (a - a mod b) / b divides with no
        // remainder, so the decimal quotient is exact (Spark's decimal
        // `/` rounds at result scale and a bare floor() could disagree
        // with SQL `//` right at an integer boundary)
        {
          val a = (col("n_rows") * col("__k") + col("__t") - 1)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))
          ((a - pmod(a, col("__t"))) / col("__t"))
            .cast("long").as("salt_factor")
        })
      // TakeOrderedAndProject already emits the topK rows fully sorted in
      // ONE partition and the broadcast join preserves stream-side order,
      // so a within-partition sort re-asserts the output contract without
      // the range exchange a full orderBy would plan over 25 rows.
      .sortWithinPartitions(col("n_rows").desc, col("key").asc)
  }

  /** Per-group Gini concentration of per-entity row counts — the
    * traffic-concentration audit [[skewAudit]]'s top-k view cannot give:
    * one number per group saying HOW unequal the whole distribution is
    * (0 = every entity contributes equally, →1 = a handful of bots/power
    * users produce everything). Formula over counts sorted ascending
    * with rank i = 1..n: `G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx)` — the
    * numerator and denominator are EXACT integer sums (counts are
    * longs, ranks are longs), so both engines compute the identical
    * double at the single final division; ties broken by entity id so
    * the ranking itself is deterministic (Gini is tie-order invariant,
    * the determinism is belt-and-braces).
    *
    * Scale shape: one hash aggregation (rows → per-entity counts), one
    * per-group window over |entities| rows for the rank, one final
    * reduction. Overflow: Σ(i·xᵢ) stays in LONG while
    * |entities| × rows-per-group < ~9e18 — beyond any real tenant. */
  def giniConcentration(df: DataFrame, groupCol: String,
      entityCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(entityCol))
      .agg(count(lit(1)).as("__x"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__x").asc, col(entityCol).asc)
    counts
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_entities"),
        sum(col("__x")).as("n_rows"),
        round((lit(2L) * sum(col("__i") * col("__x")) -
          (count(lit(1)) + 1L) * sum(col("__x"))).cast("double") /
          (count(lit(1)) * sum(col("__x"))).cast("double"), 6).as("gini"))
  }

  /** Training-shard assignment audit: rows hash-route to `numShards`
    * shards (first 4 hex chars of `md5(key)` mod shards — engine-neutral,
    * uniform, and stable under re-runs), and each shard reports its row
    * count, its `weight` sum (pass token counts to audit by tokens, not
    * rows), and the max-skew ratio of its weight to the mean shard
    * weight. The pre-flight check before writing a training corpus as N
    * files/streams: a 1.3× heaviest shard is a 1.3× slower epoch, since
    * the slowest shard gates every data-parallel step. Weight sums
    * accumulate in exact decimal (order-independent, oracle-exact).
    *
    * Scale shape: one codegen'd per-row projection, one hash aggregation
    * on the shard id (map-side partials over ≤ numShards groups), one
    * 1-row broadcast for the mean — the audit of a 100 TB corpus costs
    * one scan. */
  def shardAudit(df: DataFrame, key: Column, weight: Column,
      numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val shard = pmod(
      conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("long"),
      lit(numShards.toLong))
    val perShard = df
      .select(shard.as("shard"),
        weight.cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("__w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__w")).as("__sw"))
    val totals = perShard.agg(sum(col("__sw")).as("__t"),
      count(lit(1)).as("__k"))
    perShard.crossJoin(broadcast(totals))
      .select(col("shard"), col("n_rows"),
        col("__sw").cast("long").as("weight_sum"),
        round(col("__sw").cast("double") * col("__k") / col("__t"), 6)
          .as("skew_ratio"))
  }

  /** Domain-mixture weighted sampling — the corpus-mixing step that hits
    * a target source/domain distribution (e.g. up-weight reference text,
    * down-weight boilerplate-heavy crawl): each group keeps a
    * deterministic `weights(group)` fraction of its rows, unspecified
    * groups keep `defaultFraction`. Membership is [[deterministicSample]]
    * semantics per group — the first 4 hex chars of `md5(key)` (65536
    * uniform buckets) compared against a per-group precomputed cutoff —
    * so the mix is reproducible across engines/runs and stable under
    * repartitioning and incremental loads. Pure map-side filter against
    * a plan-time literal CASE: one scan, no shuffle, no join, at any
    * scale. */
  def weightedSample(df: DataFrame, groupCol: String, key: Column,
      weights: Map[String, Double], defaultFraction: Double = 0.0): DataFrame = {
    def cutoff(f: Double): String =
      if (f >= 1.0) "g" // sorts above every hex digit: keep all
      else f"${math.floor(f * 65536).toInt}%04x"
    val pfx = substring(md5(key.cast("string")), 1, 4)
    val cutoffCol = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(cutoff(defaultFraction))) { case (acc, (g, f)) =>
        when(col(groupCol) === g, lit(cutoff(f))).otherwise(acc)
      }
    df.filter(pfx < cutoffCol)
  }

  /** Existence semi/anti joins — never materialize the right side's
    * payload, dedup-free by construction. */
  def semi(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_semi")
  def anti(left: DataFrame, right: DataFrame, on: Seq[String]): DataFrame =
    left.join(right, on, "left_anti")

  /** Skew-defeating salted equi-join (left = the skewed/fact side,
    * right = the smaller-but-not-broadcastable side). The left side's
    * hot keys are spread over `salt` buckets by a random-free
    * deterministic salt (hash of the whole row modulo `salt`); the right
    * side is replicated `salt`× via explode so every (key, salt) bucket
    * finds its match. Shuffle key becomes (key, salt) — a hot key's rows
    * land on `salt` reducers instead of one.
    *
    * AQE's skew-join handles sort-merge skew automatically when stats
    * surface it; this is the explicit form for when they don't (e.g.
    * skew behind an exchange AQE cannot split, or a deliberately
    * pre-partitioned layout). Inner joins only. */
  def saltedJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val lSalted = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(salt)))
    val rSalted = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    lSalted.join(rSalted, on :+ "__salt").drop("__salt")
  }

  /** As-of join: for every left row, the single most recent right row
    * with `rightTime <= leftTime`, matched within `key` — the canonical
    * time-series enrichment join (trades→latest-quote). Spark has no
    * native ASOF; the scalable form is NOT a range self-join (quadratic
    * in ties) but union + ordered window:
    *
    *   1. tag both sides, union on (key, time) — one dataset;
    *   2. one hash shuffle on key + one sort on (time, side);
    *   3. `last_value(right payload, ignoreNulls) OVER (PARTITION BY key
    *      ORDER BY time, side ROWS UNBOUNDED PRECEDING..CURRENT)` carries
    *      the latest right values forward into each left row.
    *
    * Cost: exactly one shuffle of |left| + |right| and one sort — the
    * same plan a native as-of operator would produce. Right rows sort
    * before left rows at equal times (side 0 < 1), so a same-instant
    * right row IS visible to the left row, matching `<=` semantics.
    *
    * `rightCols` are the right-side payload columns to carry (must not
    * collide with left column names). `tieBreak` orders right rows
    * sharing (key, time) — the LAST row in that order wins (pass the
    * right id ascending so the max id is deterministic).
    *
    * NULL contract (shared with [[asofJoinNative]], pinned in
    * RelationalSpec): NULL keys never match on either side; right rows
    * with a NULL `rightTime` never match (they are filtered here —
    * without the filter a NULLS-FIRST null-time row heads its key group
    * and `last(ignoreNulls)` would carry its PAYLOAD to every left
    * row); left rows with a NULL `leftTime` emit the NULL-padded row
    * (they sort NULLS FIRST, before any right row of their key). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String], tieBreak: Seq[Column] = Nil): DataFrame = {
    val lTagged = left.withColumn("__side", lit(1))
      .withColumn("__t", col(leftTime))
      .withColumns(rightCols.map(c => c -> lit(null).cast(
        right.schema(c).dataType)).toMap)
    val rTagged = right
      .filter(col(key).isNotNull && col(rightTime).isNotNull)
      .select(
        (col(key) +: rightCols.map(col)) :+ col(rightTime).as("__t"): _*)
      .withColumn("__side", lit(0))
    val unioned = lTagged.select(
      (Seq(col(key), col("__t"), col("__side")) ++
        rightCols.map(col) ++
        left.columns.filterNot(c => c == key).map(c => col(c))): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__t") +: col("__side") +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .drop("__side", "__t")
  }

  /** Interval (range) join: every left row matched to the right intervals
    * containing its timestamp — `leftTime ∈ [fromCol, toCol]`, within
    * `key`. Spark has no native range-join optimization, and the naive
    * theta-join plans as a per-key cartesian (quadratic in key group
    * size). The scalable form is bucketization:
    *
    *   1. left rows hash to ONE bucket: `floor(time / width)`;
    *   2. right intervals explode to EVERY bucket they overlap
    *      (`sequence(floor(from/W), floor(to/W))`) — replication factor =
    *      interval length / width + 1, the knob callers tune;
    *   3. equi-join on (key, bucket) — an ordinary hash shuffle — then
    *      the exact BETWEEN predicate filters within the bucket.
    *
    * Each (row, interval) pair meets in exactly one bucket (the row's
    * own), so no post-join dedup is needed. Pick `bucketSeconds` near the
    * typical interval length: too small replicates intervals, too large
    * degrades the equi-join's selectivity toward the cartesian.
    *
    * Replication guard (`maxBucketsPerInterval`): one pathological
    * interval — a year at `bucketSeconds = 60` — would silently explode
    * to ~525k bucket rows and dominate the shuffle. An interval spanning
    * more buckets than the cap FAILS the job with the offending span in
    * the message (clamping instead would silently DROP matches beyond
    * the clamp — a correctness bug, not a mitigation). Callers with
    * legitimately long intervals raise the cap or `bucketSeconds`. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, fromCol: String, toCol: String,
      bucketSeconds: Long, maxBucketsPerInterval: Long = 4096L): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    val w = lit(bucketSeconds * 1000000L)
    val l = left.withColumn("__bucket", floor(tsMicros(col(leftTime)) / w))
    val fromB = floor(tsMicros(col(fromCol)) / w)
    val toB = floor(tsMicros(col(toCol)) / w)
    val r = right
      .where(OpsUtil.orRaise(toB - fromB < lit(maxBucketsPerInterval),
        lit(s"intervalJoin: interval spans more than $maxBucketsPerInterval " +
          s"buckets at bucketSeconds=$bucketSeconds (span="),
        (toB - fromB).cast("string"),
        lit("); raise bucketSeconds or maxBucketsPerInterval")))
      .withColumn("__bucket", explode(sequence(fromB, toB)))
    val joined = l.alias("l").join(r.alias("r"),
      col(s"l.$key") === col(s"r.$key") &&
        col("l.__bucket") === col("r.__bucket") &&
        col(s"l.$leftTime") >= col(s"r.$fromCol") &&
        col(s"l.$leftTime") <= col(s"r.$toCol"))
    val out =
      left.columns.map(c => col(s"l.$c").as(c)) ++
        right.columns.filterNot(_ == key).map(c => col(s"r.$c").as(c))
    joined.select(out: _*)
  }

  /** Per-group row_number for LOW-CARDINALITY groups — the case where
    * `Window.partitionBy(group)` is a scale-killer: a window's
    * parallelism is its partition count, so ranking 100 TB within 3
    * status groups runs 3 tasks no matter the cluster. This is the
    * distributed order-statistics form (the same construction as RDD
    * `zipWithIndex`, done per group):
    *
    *   1. range-partition by (group ++ sort) into the full parallelism
    *      and sort within partitions — every partition holds a
    *      contiguous slice of the global (group, sort) order;
    *   2. one counting pass: rows per (partition, group) — at most
    *      |groups| + 1 entries per partition, a bounded driver collect;
    *   3. per-group prefix-sum those counts into per-partition offsets,
    *      broadcast the tiny map;
    *   4. one output pass: local running counter + offset = exact global
    *      rank within the group.
    *
    * Two passes over the shuffled data (the exchange's files are reused
    * across the two jobs) instead of the window's one — the price of
    * unbounded parallelism. Use the plain window below ~1 partition-worth
    * of rows per group; use this when groups are few and huge.
    * `sortCols` must totally order rows within a group (add a unique
    * tie-break) or ranks are nondeterministic.
    *
    * The low-cardinality contract is ENFORCED, not advisory (round-12;
    * previously a comment): the counting pass's driver collect is
    * O(partitions × groups), so each counting task fail-fasts once it
    * has seen more than `maxGroups` distinct group runs — the job dies
    * in the executor naming the cap instead of shipping an unbounded
    * count array to the driver. High-cardinality ranking belongs to
    * the plain window (whose parallelism = |groups| is then fine). */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], rankCol: String,
      maxGroups: Int = 10000): DataFrame = {
    require(maxGroups >= 1, s"maxGroups must be positive: $maxGroups")
    val spark = df.sparkSession
    // Group keys are compared with JVM equality (Seq[Any].==): binary and
    // nested types compare by reference there and would silently produce
    // all-rank-1 output; float/double keys diverge from Spark's window
    // partitioning, which normalizes -0.0 == 0.0 and groups all NaNs
    // together while boxed equals does neither. Reject both up front.
    groupCols.foreach { c =>
      import org.apache.spark.sql.types._
      val ok = df.schema(c).dataType match {
        case _: BinaryType | _: ArrayType | _: MapType | _: StructType => false
        case _: FloatType | _: DoubleType => false
        case _ => true
      }
      require(ok,
        s"groupedRowNumber: group column '$c' has non-value-equal type " +
          s"${df.schema(c).dataType}; use an atomic non-binary, non-floating " +
          "key or pre-hash/normalize it")
    }
    val n = spark.sparkContext.defaultParallelism
    val orderCols = groupCols.map(col) ++ sortCols
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val gIdx = groupCols.map(c => df.columns.indexOf(c))
    def gKey(r: org.apache.spark.sql.Row): Seq[Any] = gIdx.map(r.get)
    // pass 1: rows per (partition, group) — partitions are sorted, so
    // this is a streaming count over group changes, not a hash map
    val counts = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Any], Long)]
      // every append goes through this guard, including the final
      // group flushed after the loop — a partition can never emit
      // more than maxGroups group runs without raising
      def appendGuarded(g: Seq[Any], n: Long): Unit = {
        out += ((pid, g, n))
        if (out.size > maxGroups) throw new IllegalArgumentException(
          s"groupedRowNumber: partition $pid saw > maxGroups=$maxGroups " +
            "distinct groups; this operator is for LOW-cardinality " +
            "groups (the counting collect is O(partitions x groups)) — " +
            "use a plain window for high-cardinality ranking or raise " +
            "maxGroups")
      }
      var cur: Seq[Any] = null
      var c = 0L
      it.foreach { r =>
        val k = gKey(r)
        if (k == cur) c += 1
        else {
          if (cur != null) appendGuarded(cur, c)
          cur = k; c = 1L
        }
      }
      if (cur != null) appendGuarded(cur, c)
      out.iterator
    }.collect()
    // per-group prefix sums over partitions in range order
    val offsets: Map[(Int, Seq[Any]), Long] = counts
      .groupBy(_._2)
      .flatMap { case (g, per) =>
        var acc = 0L
        per.sortBy(_._1).map { case (pid, _, c) =>
          val o = ((pid, g), acc); acc += c; o
        }
      }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: offset + local running counter (same sorted shuffle output)
    val outRdd = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var cur: Seq[Any] = null
      var rn = 0L
      it.map { r =>
        val k = gKey(r)
        if (k != cur) { cur = k; rn = bOffsets.value.getOrElse((pid, k), 0L) }
        rn += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rn)
      }
    }
    spark.createDataFrame(outRdd, df.schema.add(rankCol,
      org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** The row at 1-based global rank `rank` under `sortCols` — an exact
    * distributed order statistic (quantile cutoffs, exact percentile
    * boundaries). Same range-shuffle machinery as [[groupedRowNumber]]
    * but extracts ONE row instead of materializing a rank column: a
    * per-partition count pass locates the owning partition, then a
    * second pass walks that partition's already-sorted iterator to the
    * local offset (every other partition returns instantly). Both
    * passes act on the SAME shuffled RDD, so the range exchange runs
    * once and the second job reuses its shuffle files. `None` when
    * `rank` exceeds the row count. Driver traffic is one count per
    * partition plus the single result row — never data.
    *
    * `sortCols` need not be a total order when only an ORDER-DETERMINED
    * column of the result is consumed (the value at sorted position k
    * is identical under any tie order of equal sort keys); consume a
    * non-sort column only with a total order. */
  def valueAtRank(df: DataFrame, sortCols: Seq[Column],
      rank: Long): Option[org.apache.spark.sql.Row] = {
    require(rank >= 1, s"rank must be >= 1: $rank")
    valueAtRankOf(df, sortCols)(_ => rank).map(_._1)
  }

  /** [[valueAtRank]] with the rank derived FROM the total row count —
    * `rankOf(n)` receives the exact count the counting pass already
    * computed (the sum of per-partition counts IS n), so a quantile
    * cutoff like ceil(frac·n) costs no dedicated count scan of the
    * input. Returns the row AND the total; `None` row when the derived
    * rank is out of range (n = 0, or rankOf asks past the end).
    * `rankOf` must be pure (it is evaluated once). */
  def valueAtRankOf(df: DataFrame, sortCols: Seq[Column])(
      rankOf: Long => Long): Option[(org.apache.spark.sql.Row, Long)] = {
    val (rows, total) = valuesAtRanks(df, sortCols)(n => Seq(rankOf(n)))
    rows.values.headOption.map(r => (r, total))
  }

  /** The rows at SEVERAL 1-based global ranks in one pair of jobs —
    * the bulk form of [[valueAtRank]] for quantile EDGE extraction
    * (histogram bin boundaries, decile cuts): `ranksOf(n)` receives the
    * exact total and returns the wanted ranks (duplicates fine,
    * out-of-range ranks dropped). One range shuffle, one per-partition
    * Long-fold count pass, then ONE extraction pass in which each
    * partition walks its already-sorted iterator emitting only the
    * offsets it owns — driver traffic is one count per partition plus
    * |ranks| result rows, never data, and the shuffle files are reused
    * across the two jobs (same RDD). Returns (rank → row, total). */
  def valuesAtRanks(df: DataFrame, sortCols: Seq[Column])(
      ranksOf: Long => Seq[Long]):
      (Map[Long, org.apache.spark.sql.Row], Long) = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd
    // Long fold, not Iterator.size: a >2^31-row partition would wrap
    // the Int count negative and silently misroute the ranks
    val counts = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator((pid, c))
      }
      .collect().sortBy(_._1)
    val total = counts.map(_._2).sum
    val ranks = ranksOf(total).distinct.filter(r => r >= 1 && r <= total)
    if (ranks.isEmpty) return (Map.empty, total)
    val cum = counts.scanLeft(0L)(_ + _._2)
    val locs = ranks.map { r =>
      var i = 0
      while (r > cum(i + 1)) i += 1
      val off = r - 1 - cum(i)
      // strict bound: the walk indexes with an Int position
      require(off < Int.MaxValue,
        s"valuesAtRanks: local offset $off exceeds a single " +
          "partition's addressable range — raise parallelism")
      (r, counts(i)._1, off.toInt)
    }
    val byPid: Map[Int, Seq[(Long, Int)]] = locs.groupBy(_._2)
      .map { case (p, xs) =>
        p -> xs.map { case (r, _, o) => (r, o) }.sortBy(_._2) }
    val b = df.sparkSession.sparkContext.broadcast(byPid)
    // destroyed after the collect below: repeated callers (driftPsi,
    // temporalSplit) in a long-lived session would otherwise accumulate
    // one dead broadcast of driver/executor state per invocation
    val got = try rdd.mapPartitionsWithIndex { (pid, it) =>
      b.value.get(pid) match {
        case None => Iterator.empty
        case Some(wants) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, org.apache.spark.sql.Row)]
          var idx = 0
          var wi = 0
          while (wi < wants.length && it.hasNext) {
            val row = it.next()
            if (idx == wants(wi)._2) { out += ((wants(wi)._1, row)); wi += 1 }
            idx += 1
          }
          out.iterator
      }
    }.collect()
    finally b.destroy()
    (got.toMap, total)
  }

  /** Bucketed co-located table pair: writing both sides bucketed and
    * sorted by the join key lets every future equi-join on that key run
    * shuffle-free (bucket pruning + sort-merge without exchange) — the
    * standard layout for a 100 TB fact table joined daily on the same
    * key. Managed-table write (`saveAsTable`); read back via
    * `spark.table`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Native as-of join — same result contract as [[asofJoin]] (latest
    * right row with `rightTime ≤ leftTime` per key, NULLs when none),
    * executed by the custom [[graft.plans.AsofJoinExec]] merge operator
    * instead of the union + per-column window composition: each side
    * shuffles once on its own key and a single forward pass emits the
    * matches (see the operator scaladoc for the cost comparison). The
    * session must carry [[graft.GraftExtensions]] (the repo-wide
    * default) so the planner strategy is registered.
    *
    * The right side is re-projected through fresh aliases so self-join
    * shapes (left and right derived from the same frame) cannot collide
    * on attribute ids. `rightCols` must not collide with left column
    * names. */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightCols: Seq[String]): DataFrame = {
    require(rightCols.nonEmpty, "asofJoinNative needs carried right cols")
    require(!rightCols.exists(left.columns.contains),
      s"carried right columns collide with left: " +
        rightCols.filter(left.columns.contains).mkString(", "))
    // the physical merge builds its orderings from the LEFT types only;
    // a date-vs-timestamp or int-vs-long pair would plan fine and fail
    // mid-job (ClassCastException in the interpreted ordering) or
    // miscompare — reject at construction instead
    require(left.schema(key).dataType == right.schema(key).dataType,
      s"asofJoinNative: key type mismatch — left $key: " +
        s"${left.schema(key).dataType} vs right $key: " +
        s"${right.schema(key).dataType}")
    require(left.schema(leftTime).dataType == right.schema(rightTime).dataType,
      s"asofJoinNative: time type mismatch — left $leftTime: " +
        s"${left.schema(leftTime).dataType} vs right $rightTime: " +
        s"${right.schema(rightTime).dataType}")
    val spark = left.sparkSession
    // fresh exprIds for every right attribute (Alias always re-ids)
    val rPrep = right.select(
      (Seq(key, rightTime) ++ rightCols).distinct.map(c =>
        col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n"))
    val rVals = rightCols.map(attr(rPlan, _))
    val outRight = rVals.map(a =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        a.name, a.dataType, nullable = true)())
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      graft.plans.AsofJoinNode(lPlan, rPlan,
        attr(lPlan, key), attr(rPlan, key),
        attr(lPlan, leftTime), attr(rPlan, rightTime), rVals, outRight))
  }
}
