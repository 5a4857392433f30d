package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Index build/search split: a persisted (write → reload) index must
  * answer identically to the one-shot path — the 100 TB contract is that
  * the assignment frame IS the index and survives a round-trip through
  * storage. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Small deterministic corpus: 40 vectors in R^6, ids 0..39; queries are
  // 3 of the corpus vectors perturbed (so neighbors are nontrivial).
  private def vec(seed: Int): Seq[Double] =
    (0 until 6).map(j => math.sin(seed * 7 + j * 3 + 1).abs + 0.1)
  private lazy val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
    .toDF("id", "emb")
  private lazy val queries = Seq(3, 17, 29)
    .map(i => ((100 + i).toLong, vec(i).map(_ * 1.01)))
    .toDF("id", "emb")

  private def roundTrip(df: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("ivfSearch over a persisted index equals one-shot ivfTopK") {
    val oneShot = Similarity.ivfTopK(corpus, queries, "emb", "id",
      k = 5, nlist = 8, nProbe = 3)
    val idx = Similarity.buildIvfIndex(corpus, "emb", "id", nlist = 8)
    val reloaded = Similarity.IvfIndex(
      roundTrip(idx.centroids), roundTrip(idx.entries))
    val viaIndex = Similarity.ivfSearch(reloaded, queries, "emb", "id",
      k = 5, nProbe = 3)
    assert(viaIndex.count() == oneShot.count())
    assert(viaIndex.except(oneShot).isEmpty && oneShot.except(viaIndex).isEmpty)
  }

  test("hardNegatives: near-dup band excluded BEFORE ranking, never after") {
    // corpus: query 0's clones (cosine ~1.0, the near-dup band), a
    // confusable cluster (moderate cosine), and an orthogonal tail.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.001, 0.0)),   // near-dup of 0
      (2L, Seq(0.999, -0.001, 0.0)), // near-dup of 0
      (3L, Seq(0.7, 0.7, 0.0)),     // confusable
      (4L, Seq(0.6, 0.8, 0.0)),     // confusable
      (5L, Seq(0.0, 0.0, 1.0)),     // orthogonal (cosine 0.0 — in band)
      (6L, Seq(-0.5, 0.0, 0.5)))    // negative cosine — below band
      .toDF("id", "emb")
    val idx = Similarity.buildIvfIndex(vecs, "emb", "id", nlist = 1)
    val got = Similarity.hardNegatives(idx, vecs.filter(col("id") === 0),
      "emb", "id", k = 3, nProbe = 1, negHi = 0.9, negLo = 0.0)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3))).toSeq
    // top-k ANN would return 1,2 (the clones); the band must skip them
    // and rank the confusables first, then the orthogonal boundary hit
    assert(got == Seq((3L, 1), (4L, 2), (5L, 3)), s"got $got")
  }

  test("lshSearch over a persisted index equals one-shot lshTopK") {
    val planes = Similarity.deterministicPlanes(3, 6)
    val oneShot = Similarity.lshTopK(corpus, queries, "emb", "id",
      k = 5, planes)
    val entries = roundTrip(Similarity.buildLshIndex(corpus, "emb", "id", planes))
    val viaIndex = Similarity.lshSearch(entries, queries, "emb", "id",
      k = 5, planes)
    assert(viaIndex.count() == oneShot.count())
    assert(viaIndex.except(oneShot).isEmpty && oneShot.except(viaIndex).isEmpty)
  }

  test("embeddingAudit: counts, dim spread, zero vectors, exact mean norm") {
    import spark.implicits._
    val embeds = Seq(
      (1L, Seq(3.0f, 4.0f), 0),   // norm 5
      (2L, Seq(0.0f, 0.0f), 0),   // zero vector
      (3L, Seq(6.0f, 8.0f, 0.0f), 1) // norm 10, ragged dim
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingAudit(embeds, "embedding", "vec_id", "label")
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toList == List(
      (0, 2L, 2L, 2L, 1L, 2.5),  // (5 + 0) / 2
      (1, 1L, 3L, 3L, 0L, 10.0)))
  }

  test("cellBalance assigns by max cosine and reports exact means") {
    import spark.implicits._
    val embeds = Seq(
      (0L, Seq(1.0f, 0.0f)),  // centroid cell 0
      (1L, Seq(0.0f, 1.0f)),  // centroid cell 1
      (2L, Seq(0.9f, 0.1f))   // cosine 0.993884 to cell 0, 0.110432 to cell 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.cellBalance(embeds, "embedding", "vec_id", nlist = 2)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toList == List(
      (0L, 2L, 0.666667, 0.996942), // (1.0 + 0.993884) / 2
      (1L, 1L, 0.333333, 1.0)))
  }

  test("knnLabelAgreement flags the mislabeled vector, agrees on clean clusters") {
    import spark.implicits._
    // ids 1-3 = (1,0) labeled 0; ids 4-6 = (0,1) labeled 1; id 7 = (1,0)
    // but MISLABELED 1 — its k=2 neighbors (ids 1,2 by cosine-then-id
    // order) vote 0, so label 1 audits at 3/4 agreement.
    val embeds = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0), (3L, Seq(1.0f, 0.0f), 0),
      (4L, Seq(0.0f, 1.0f), 1), (5L, Seq(0.0f, 1.0f), 1), (6L, Seq(0.0f, 1.0f), 1),
      (7L, Seq(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAgreement(embeds, embeds, "embedding",
        "vec_id", "label", k = 2)
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toList == List((0, 3L, 3L, 1.0), (1, 4L, 3L, 0.75)))
  }

  test("labelSeparation: cohesion to own centroid, nearest other centroid by cosine") {
    import spark.implicits._
    // label A: (1,0)+(0,1) → centroid sum (1,1); each member's cosine to
    // it is 1/√2 ≈ 0.707107. label B: two copies of (-1,0) → centroid
    // (-2,0), cohesion exactly 1. Centroid cosine A↔B = -1/√2.
    val embeds = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(-1.0f, 0.0f), 1), (4L, Seq(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelSeparation(embeds, "embedding", "vec_id", "label")
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4)))
    assert(out.toList == List(
      (0, 2L, 0.707107, 1, -0.707107),
      (1, 2L, 1.0, 0, -0.707107)))
  }

  test("semanticDedup: within-cell ε-ball election, min-id keeper, mega-cell guard") {
    import spark.implicits._
    // centroids = vec_id < 2: cell 0 ~ +x, cell 1 ~ +y. Vectors 2 and 4
    // are near-copies of 0's direction (same cell, cosine 1.0); vector 3
    // lands in cell 1 alone.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(0.5f, 0.6f)),
      (4L, Seq(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, "embedding", "vec_id",
        nlist = 2, threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, 0L, false, -1L),   // keeper of the +x ball
      (1L, 1L, false, -1L),
      (2L, 0L, true, 0L),
      (3L, 1L, false, -1L),   // shares cell 1 with vec 1, cosine ~0.77 < 0.9
      (4L, 0L, true, 0L)))
    // one mega-cell trips the guard
    val ex = intercept[Exception] {
      Similarity.semanticDedup(emb, "embedding", "vec_id",
        nlist = 1, threshold = 0.9, maxCell = 2).collect()
    }
    assert(ex.getMessage.contains("maxCell") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxCell")))
  }

  test("multi-probe LSH: recall dominates single-probe, never exceeds exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    val planes = Similarity.deterministicPlanes(4, 16)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
    val single = Similarity.lshTopK(emb, queries, "embedding", "vec_id", 5, planes)
    val multi = Similarity.lshSearchMultiProbe(
      Similarity.buildLshIndex(emb, "embedding", "vec_id", planes),
      queries, "embedding", "vec_id", 5, planes)
    def macroRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.recallAtK(exact, approx, "query_id", "neighbor_id")
        .agg(avg(col("recall"))).collect().head.getDouble(0)
      r
    }
    val (rs, rm) = (macroRecall(single), macroRecall(multi))
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(rm > rs, s"fixture should show a strict improvement (rs=$rs rm=$rm)")
    assert(rm <= 1.0)
  }

  test("recallAtK: per-query hit fraction against the exact baseline") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 77L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx, "query_id", "neighbor_id")
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toList == List(
      (1L, 3L, 2L, 0.666667), // 10,12 hit; 11 missed; 99 is not penalized
      (2L, 2L, 0L, 0.0)))
  }

  test("centroidOutliers: exact centroid, hand-computed distances, top-k order") {
    import spark.implicits._
    // centroid of the four vectors is (3, 3)
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(0.0f, 2.0f)), (4L, Seq(10.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.centroidOutliers(vecs, "embedding", "vec_id",
        dim = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (4L, r6(math.sqrt(49.0 + 49.0))),
      (1L, r6(math.sqrt(18.0))),
      (2L, r6(math.sqrt(10.0)))))
  }

  test("clusterLabelAgreement + summary: hand-built 2-cell contingency") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // centroids = ids 0,1; id2→cell0 (label 0), id3→cell1 (label 0)
    // cell0: {0,0} pure; cell1: {1,0} tie → smallest label wins
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 0), (1L, Seq(0.0, 1.0), 1),
      (2L, Seq(0.9, 0.1), 0), (3L, Seq(0.1, 0.9), 0)
    ).toDF("vec_id", "embedding", "label")
    val panel = Similarity.clusterLabelAgreement(emb, "embedding", "vec_id",
        "label", nlist = 2)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    assert(panel.toSeq == Seq((0L, 2L, 0, 2L, 1.0), (1L, 2L, 0, 1L, 0.5)))
    val s = Similarity.clusterAgreementSummary(emb, "embedding", "vec_id",
      "label", nlist = 2).collect().head
    assert(s.getLong(0) == 4 && s.getLong(1) == 2 && s.getLong(2) == 2)
    assert(s.getDouble(3) == 0.75)
    // contingency (c0,l0)=2 (c1,l0)=1 (c1,l1)=1; nc=(2,2), nl=(3,1), n=4
    val mi = 0.5 * math.log(8.0 / 6.0) + 0.25 * math.log(4.0 / 6.0) +
      0.25 * math.log(4.0 / 2.0)
    val hc = -(0.5 * math.log(0.5)) * 2
    val hl = -(0.75 * math.log(0.75)) - 0.25 * math.log(0.25)
    assert(s.getDouble(4) == r6(mi / math.sqrt(hc * hl)))
    // single label → H(L)=0 → NMI NULL (purity still defined)
    val oneLabel = Similarity.clusterAgreementSummary(
      emb.withColumn("label", lit(7)), "embedding", "vec_id", "label",
      nlist = 2).collect().head
    assert(oneLabel.isNullAt(4) && oneLabel.getDouble(3) == 1.0)
    // the driver-side fold must stay type-generic over integral id
    // columns (round-18 ADVICE: the cell inherits idCol's type, and a
    // bare getLong threw on an INT id column)
    val intId = Similarity.clusterAgreementSummary(
      emb.withColumn("vec_id", col("vec_id").cast("int")),
      "embedding", "vec_id", "label", nlist = 2).collect().head
    assert(intId == s, "int-id summary must equal the long-id summary")
  }

  test("embeddingCovariance: exact hand-computed 2x2; empty input NULL cov") {
    // vectors (1,0) (0,1) (1,1) (0,0): cov00 = cov11 = 0.25, cov01 = 0
    val emb = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 1.0)), (3L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingCovariance(emb, "embedding", dims = 2)
      .orderBy("i", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((0, 0, 4L, 0.25), (0, 1, 4L, 0.0),
      (1, 1, 4L, 0.25)))
    // empty frame: n = 0 rows carry NULL cov, not a crash or NaN
    val empty = emb.filter(col("vec_id") < 0)
    val nulls = Similarity.embeddingCovariance(empty, "embedding", dims = 2)
      .collect()
    assert(nulls.length == 3 && nulls.forall(_.isNullAt(3)))
    intercept[IllegalArgumentException] {
      Similarity.embeddingCovariance(emb, "embedding", dims = 17)
    }
  }

  test("topPrincipalComponent: dominant axis, sign convention, degenerates") {
    // diag(4, 1): dominant eigenvector is the x-axis
    val diag = Seq((0, 0, 10L, 4.0), (0, 1, 10L, 0.0), (1, 1, 10L, 1.0))
      .toDF("i", "j", "n", "cov")
    val v = Similarity.topPrincipalComponent(diag, dims = 2, iterations = 60)
    assert(math.abs(v(0) - 1.0) < 1e-9 && math.abs(v(1)) < 1e-9)
    // [[1, -0.9], [-0.9, 1.1]]: dominant eigenvector has opposite-sign
    // components; the largest-|component| coordinate is made positive
    val mixed = Seq((0, 0, 10L, 1.0), (0, 1, 10L, -0.9), (1, 1, 10L, 1.1))
      .toDF("i", "j", "n", "cov")
    val m = Similarity.topPrincipalComponent(mixed, dims = 2, iterations = 200)
    assert(m(1) > 0 && m(0) < 0)
    assert(math.abs(m(0) * m(0) + m(1) * m(1) - 1.0) < 1e-9)
    // eigen equation check: (A·v) / λ ≈ v with λ = (2.1 + √3.25)/2
    val lam = (2.1 + math.sqrt(3.25)) / 2.0
    val av0 = 1.0 * m(0) - 0.9 * m(1)
    val av1 = -0.9 * m(0) + 1.1 * m(1)
    assert(math.abs(av0 / lam - m(0)) < 1e-6)
    assert(math.abs(av1 / lam - m(1)) < 1e-6)
    // NULL cov rows (empty covariance input) skip cleanly → start vector
    val emptyEmb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val nullCov = Similarity.embeddingCovariance(emptyEmb, "embedding",
      dims = 2)
    val s = Similarity.topPrincipalComponent(nullCov, dims = 2)
    assert(s.toSeq == Seq(1.0 / math.sqrt(2.0), 1.0 / math.sqrt(2.0)))
  }

  test("pcProject: strict index-order dot against a literal component") {
    val emb = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pcProject(emb, "embedding", "vec_id",
        Array(0.5, 0.25))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((0L, 1.0), (1L, 2.5)))
  }

  test("VectorUnscaledSum: bit-identical to per-column sum(unscaledLong), " +
    "null/short-array/boundary contracts") {
    import spark.implicits._
    // values chosen to hit BOTH quantization paths: plain values (fast
    // floor path) and exact-.5 boundaries at scale 6 (decimal path)
    val rows = Seq(
      (1L, Seq(0.1234565, -2.5e-7, 1.0)),   // .5 boundaries (scale 6)
      (2L, Seq(3.14159, 2.718281, -0.5)),
      (3L, Seq(1e-7, -1e-7, 0.0))
    ).toDF("id", "vec")
    val dim = 3
    val v = col("vec").cast("array<double>")
    val perCol = rows.agg(
      (0 until dim).map(i => sum(graft.functions.Decimals
        .unscaledLong(element_at(v, i + 1), 6)).as(s"s$i")).head,
      (0 until dim).map(i => sum(graft.functions.Decimals
        .unscaledLong(element_at(v, i + 1), 6)).as(s"s$i")).tail: _*)
      .collect()(0)
    val agg = rows.agg(graft.functions.VectorFunctions
      .vectorUnscaledSum(col("vec"), dim, 6).as("sv")).collect()(0)
      .getSeq[Any](0)
    (0 until dim).foreach { i =>
      assert(agg(i) == perCol.getLong(i),
        s"dim $i: ${agg(i)} != ${perCol.getLong(i)}")
    }
    // a SHORT array is a malformed row and raises naming the operator
    // (the ANSI parity contract: the per-column form's element_at
    // raised out-of-bounds); a NULL array still skips entirely, and a
    // dim never seen (all arrays null) is NULL (sum-over-empty)
    val short = Seq((1L, Some(Seq(1.5))), (2L, None: Option[Seq[Double]]))
      .toDF("id", "vec")
    val exShort = intercept[Exception] {
      short.agg(graft.functions.VectorFunctions
        .vectorUnscaledSum(col("vec"), 3, 6).as("sv")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(exShort).exists(_.contains("graft_vector_unscaled_sum")))
    val allNull = Seq((2L, None: Option[Seq[Double]])).toDF("id", "vec")
    val svN = allNull.agg(graft.functions.VectorFunctions
      .vectorUnscaledSum(col("vec"), 2, 6).as("sv")).collect()(0)
      .getSeq[Any](0)
    assert(svN(0) == null && svN(1) == null)
    // map-side partials merge: many partitions, one exact total
    val big = spark.range(0, 1000, 1, 16)
      .select(array(col("id").cast("double") * lit(0.001)).as("vec"))
    val tot = big.agg(graft.functions.VectorFunctions
      .vectorUnscaledSum(col("vec"), 1, 6).as("sv")).collect()(0)
      .getSeq[Any](0)
    // sum of i*0.001 for i<1000 = 499.5 exactly at scale 6 → 499500000
    assert(tot(0) == 499500000L, s"got ${tot(0)}")
  }

  test("simplifiedSilhouette: two tight clusters, degenerate single cluster") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(0.0f, 2.0f), 0),
      (3L, Seq(10.0f, 0.0f), 1), (4L, Seq(10.0f, 2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.simplifiedSilhouette(df, "embedding", "vec_id",
        "label", dim = 2)
      .orderBy("cluster").collect()
    // centroids (0,1) and (10,1): a = 1, b = sqrt(101) for every row
    val a = 1.0
    val b = math.sqrt(101.0)
    val s = BigDecimal((b - a) / b)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == 2)
      assert(r.getDouble(2) == s)
      assert(r.getDouble(3) == 1.0)
    }
    // one cluster: no "other" centroid -> NULL silhouette
    val one = Similarity.simplifiedSilhouette(
      df.filter(col("label") === 0), "embedding", "vec_id", "label",
      dim = 2).collect().head
    assert(one.isNullAt(2))
    // maxClusters guard
    val many = (0 until 12).map(i => (i.toLong, Seq(i.toFloat), i))
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      Similarity.simplifiedSilhouette(many, "embedding", "vec_id",
        "label", dim = 1, maxClusters = 8).collect()
    }
    assert(ex.getMessage.contains("maxClusters") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxClusters")))
  }

  test("simplifiedSilhouette: points ON their centroid at large norm " +
    "report exactly 0 own-distance (no catastrophic-cancellation sqrt)") {
    import spark.implicits._
    // Each cluster is two IDENTICAL large-norm points, so every point
    // sits on its centroid: the expanded identity v·v − 2v·c + c·c
    // cancels catastrophically here (residue ~‖v‖²·ulp, sqrt ~1e-5 —
    // NOT absorbed by round(,6)); the epsilon-zeroing must make the
    // own distance exactly 0.0 and the silhouette exactly 1.0.
    val df = Seq(
      (1L, Seq(1000.1f, 2000.2f), 0), (2L, Seq(1000.1f, 2000.2f), 0),
      (3L, Seq(5000.5f, 6000.6f), 1), (4L, Seq(5000.5f, 6000.6f), 1)
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.simplifiedSilhouette(df, "embedding", "vec_id",
        "label", dim = 2)
      .orderBy("cluster").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getDouble(3) == 0.0, s"mean_dist_own must be exactly 0: $r")
      assert(r.getDouble(2) == 1.0, s"silhouette must be exactly 1: $r")
    }
  }
}
