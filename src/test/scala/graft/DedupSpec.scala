package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Properties for the dedup family (SURVEY.md §5.2): exactly one row per
  * key, the kept row is the ordering's maximum, exact dedup is value-based.
  * Property inputs are seeded-random (deterministic across runs).
  */
class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("latestPerKey keeps exactly one row per key, the ordering max") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = List.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(10), rnd.nextInt(100), rnd.nextInt(100)))
      val df = rows.toDF("k", "v", "ord")
      val got = Dedup.latestPerKey(df, Seq("k"), Seq(col("ord").desc, col("v").desc))
        .as[(Int, Int, Int)].collect().toSet
      val want = rows.groupBy(_._1).map { case (_, g) =>
        g.max(Ordering.by((t: (Int, Int, Int)) => (t._3, t._2)))
      }.toSet
      assert(got == want)
    }
  }

  test("exact dedup: one row per distinct key tuple, min representative") {
    val df = Seq((1, "a", 10), (1, "a", 3), (1, "b", 7), (2, "a", 5))
      .toDF("k", "s", "v")
    val got = Dedup.exact(df, Seq("k", "s")).as[(Int, String, Int)].collect().toSet
    assert(got == Set((1, "a", 3), (1, "b", 7), (2, "a", 5)))
  }

  test("exact dedup with empty cols defaults to whole-row distinct") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "s")
    assert(Dedup.exact(df, Nil).count() == 2)
  }
}
