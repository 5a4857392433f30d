package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Decimals

/** Iterative graph analytics over edge-list DataFrames. The shape every
  * iteration shares: ranks live in a tiny per-node frame, each step is
  * one join of the (large, static) edge list against it plus one
  * aggregation, and the refreshed frame is `localCheckpoint`ed so the
  * plan stays O(1) deep across iterations (the
  * [[TextDedup.dupClusters]] pointer-jump
  * discipline — without it the analyzer cost and recovery lineage grow
  * linearly and every action replays all prior steps).
  *
  * Determinism: per-edge contributions are IEEE-double, but every
  * cross-row reduction is decimal-quantized ([[Decimals.unscaledLong]]
  * at 1e-12) and each iteration's ranks are rounded back to 12 dp — so
  * the fixpoint trajectory is bit-identical on any engine, and a SQL
  * oracle replays the whole iteration unrolled. */
object Graph {

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected graph. Edges are canonicalized to `a < b`; a triangle
    * `{a<b<c}` is enumerated exactly once as the path join
    * `e(a,b) ⋈ e(b,c) ⋈ e(a,c)` — the standard distributed triangle
    * enumeration, whose cost is Σ wedges. Because wedges grow with
    * degree SQUARED, a hub node quietly turns the join into a bomb, so
    * the edge stream is gated through a `maxDegree` fail-fast check
    * (the maxCell/maxBlock idiom): the job dies naming the offending
    * degree instead of materializing a hub's wedge explosion.
    * Output: `(node, degree, n_triangles, clustering)` for every node,
    * clustering = 2T/(d(d−1)) rounded to 6 (NULL for degree < 2).
    *
    * `broadcastWedges` opts into the SMALL-GRAPH regime (the caller
    * asserts the gated edge list fits broadcast range — e.g. a
    * thresholded co-occurrence graph): the gated edges persist once
    * and the e2/e3 legs broadcast, replacing two shuffle joins with
    * map-side hash probes (round-12 A/B at sf0.1: 1.00 s → 0.84 s for
    * the q156 shape; without the persist each broadcast leg would
    * re-execute the whole edge-build lineage, since broadcast
    * exchanges cannot reuse a shuffle exchange). Caller contract as
    * [[graft.operators.TextDedup.contaminatedIdsBloom]]: clearCache
    * between unrelated runs. Default (false) keeps the pure shuffle
    * plan — at 100 TB an un-thresholded edge list does NOT fit
    * broadcast range and the default is the only safe shape. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 10000, broadcastWedges: Boolean = false): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be positive: $maxDegree")
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // both the canonical edge frame and the gated frame persist in the
    // small-graph regime: deg and the gate re-enter e, and the three
    // wedge legs re-enter eg — without the caches each broadcast leg
    // replays the upstream edge-build lineage
    val e = if (broadcastWedges) e0.persist() else e0
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // every edge passes the degree gate BEFORE entering the wedge join
    // (the shared orRaise fail-fast idiom). The gate vehicle is a 1-row
    // MAX-degree broadcast, not a join on the node key: every `a` node
    // exists in deg by construction, so the old equi-join kept all rows
    // and existed purely to evaluate the guard — a full shuffle join
    // paid for a boolean (round-12: replacing it with the crossJoin
    // removed one exchange from every caller, big-graph path included).
    val eg0 = e.crossJoin(broadcast(
        deg.agg(max(col("degree")).as("__mxd"))))
      .where(OpsUtil.orRaise(col("__mxd") <= maxDegree,
        lit(s"triangleStats: node degree exceeds maxDegree=$maxDegree (degree="),
        col("__mxd").cast("string"),
        lit("); wedge cost is quadratic in degree — raise maxDegree or prune hubs")))
      .select(col("a"), col("b"))
    val eg = if (broadcastWedges) eg0.persist() else eg0
    val side = (df: DataFrame) => if (broadcastWedges) broadcast(df) else df
    val tri = eg.alias("e1")
      .join(side(eg.alias("e2")), col("e1.b") === col("e2.a"))
      .join(side(eg.alias("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("na"), col("e1.b").as("nb"), col("e2.b").as("nc"))
    val perNode = tri
      .select(explode(array(col("na"), col("nb"), col("nc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("node"), col("degree"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2, round(
          (coalesce(col("n_triangles"), lit(0L)) * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering"))
  }

  /** Weighted PageRank (Brin/Page 1998) with uniform dangling-mass
    * redistribution: per iteration
    * `rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u,v)/wout(u) + dm)`
    * where `dm` is the rank mass parked on nodes with no out-edges,
    * spread uniformly. `edges` is `(src, dst, w)`; returns
    * `(node, rank)` after `iterations` steps from the uniform start.
    *
    * Scale shape: the edge list is joined (never shuffled wider than its
    * own (src) partitioning — `wout` is pre-joined ONCE before the
    * loop), contributions collapse through a map-side-partial hash
    * aggregation per iteration, and the node frame — the only thing that
    * iterates — is |V| rows. The dangling term and N are 1-row broadcast
    * crossJoins, never driver-side scalars. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, iterations: Int = 3, damping: Double = 0.85,
      roundTo: Int = 12): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("double").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val nCount = nodes.agg(count(lit(1)).as("nn"))
    // out-weight totals quantized at 1e-6 like every cross-row reduction
    // here: a raw double SUM is partition-order-dependent for fractional
    // weights (integer counts — the common case — are exact either way,
    // which is why the q155 oracle's plain window SUM still matches)
    val outw = e.groupBy(col("src")).agg(
      (sum(Decimals.unscaledLong(col("w"), 6)).cast("double") / lit(1e6))
        .as("wout"))
    // static per-edge transition weight, built once outside the loop
    val trans = e.join(outw, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("wout")).as("p"))
      .localCheckpoint()
    val srcs = trans.select(col("src").as("node")).distinct().localCheckpoint()
    var ranks = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), (lit(1.0) / col("nn").cast("double")).as("rank"))
      .localCheckpoint()
    // exact integer sum at 1e-12, ONE double conversion, ONE IEEE
    // division — NOT Decimals.fromUnscaled: its in-decimal division
    // picks up Spark's precision-loss result scale (6) above scale 6
    // and would silently truncate the ranks (the dmean lesson). The
    // unscaled total is ≤ ~1e12 (total rank mass ≈ 1), double-exact.
    val pow = math.pow(10, roundTo)
    val dec = (c: org.apache.spark.sql.Column) =>
      sum(Decimals.unscaledLong(c, roundTo)).cast("double") / lit(pow)
    for (_ <- 1 to iterations) {
      val contribs = trans.join(ranks, trans("src") === ranks("node"))
        .groupBy(col("dst")).agg(dec(col("rank") * col("p")).as("contrib"))
      val dangling = ranks.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(dec(col("rank")), lit(0.0)).as("__dsum"))
      val next = ranks.select(col("node"))
        .join(contribs, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nCount))
        .select(col("node"), round(
          lit(1.0 - damping) / col("nn").cast("double") +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              col("__dsum") / col("nn").cast("double")), roundTo).as("rank"))
        .localCheckpoint()
      val superseded = OpsUtil.ckptRdds(ranks)
      ranks = next
      superseded.foreach(_.unpersist(blocking = false))
    }
    ranks
  }
}
