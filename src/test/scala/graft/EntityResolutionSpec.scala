package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EntityResolution

class EntityResolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("link: blocked pairs only, weighted scores threshold, eval counts both loss modes") {
    val a = Seq(
      (1L, "b1", "alice smith", 10.0),
      (2L, "b1", "bob jones", 20.0),
      (3L, "b2", "carol king", 30.0),
      (4L, "b2", "dan hall", 40.0)).toDF("id", "blk", "name", "bal")
    val b = Seq(
      (1L, "b1", "alice smith", 10.0),  // exact: links
      (2L, "b1", "bob jones JR", 20.0), // name mangled: under-scores
      (3L, "b9", "carol king", 30.0),   // wrong block: never paired
      (4L, "b2", "dan hall", 40.5))    // bal off: name alone still links
      .toDF("id", "blk", "name", "bal")
    val links = EntityResolution.link(a, b, Seq("blk"),
      Seq(when(col("name_a") === col("name_b"), 4.0).otherwise(-1.5),
        when(abs(col("bal_a") - col("bal_b")) <= 0.6, 2.0).otherwise(-0.5)),
      threshold = 4.0)
    val pairs = links.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 1L), (4L, 4L)))
    val ev = EntityResolution.evalLinksAgainst(links,
      col("id_a") === col("id_b"), Seq(4L).toDF("n_true")).collect().head
    assert(ev.getLong(0) == 2 && ev.getLong(1) == 2 && ev.getLong(2) == 4)
    assert(ev.getDouble(3) == 1.0 && ev.getDouble(4) == 0.5)
  }

  test("link: a degenerate block trips the maxBlock guard") {
    val a = (1 to 40).map(i => (i.toLong, "same", s"n$i")).toDF("id", "blk", "name")
    val ex = intercept[Exception] {
      EntityResolution.link(a, a, Seq("blk"),
        Seq(when(col("name_a") === col("name_b"), 1.0).otherwise(0.0)),
        threshold = 0.0, maxBlock = 100L).collect()
    }
    assert(ex.getMessage.contains("maxBlock") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxBlock")))
  }

  test("nearestScoreMatch: caliper, nearest winner, id tie-break, guard") {
    import spark.implicits._
    val treated = Seq((1L, 0.10), (2L, 0.50), (3L, 0.90)).toDF("id", "p")
    val control = Seq((11L, 0.09), (12L, 0.115), (13L, 0.515), (14L, 0.30))
      .toDF("id", "p")
    val out = EntityResolution.nearestScoreMatch(treated, control,
        "id", col("p"), caliper = 0.02)
      .orderBy("treated_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // t1: c11 gap .01 beats c12 gap .015; t2: c13 gap .015; t3: no match
    assert(out.toList == List((1L, 11L), (2L, 13L)))
    // equidistant controls -> smaller control id wins
    val tie = EntityResolution.nearestScoreMatch(
        Seq((1L, 0.5)).toDF("id", "p"),
        Seq((21L, 0.4921875), (22L, 0.5078125)).toDF("id", "p"),
        "id", col("p"), caliper = 0.02)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tie.toList == List((1L, 21L)))
    // degenerate bucket fails fast
    val ex = intercept[Exception] {
      EntityResolution.nearestScoreMatch(
        Seq((1L, 0.5)).toDF("id", "p"),
        (1 to 30).map(i => (100L + i, 0.5)).toDF("id", "p"),
        "id", col("p"), caliper = 0.02, maxBucket = 10L).collect()
    }
    assert(ex.getMessage.contains("maxBucket") ||
      Option(ex.getCause).exists(_.getMessage.contains("maxBucket")))
  }
}
