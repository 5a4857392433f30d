package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins each main's session conf as a plain map: `Harness.session` is the
  * only builder in `src/main`, so these maps are exactly what `Bench`,
  * `Prof`, `Verify` and `PlanAudit` run with. No session is started here;
  * the test JVM keeps its one shared `TestSpark` session. */
class HarnessSpec extends AnyFunSuite {
  test("bench conf (Bench and Prof): AQE off, 8 partitions, no constraint propagation, codegen cache 5000") {
    assert(Harness.benchConf == Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000"))
  }

  test("Verify conf: AQE on, one shuffle partition per worker thread") {
    assert(Harness.verifyConf(6) == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "6"))
  }

  test("PlanAudit conf: 32 shuffle partitions, AQE left to each audit run") {
    assert(Harness.auditConf == Map("spark.sql.shuffle.partitions" -> "32"))
  }

  test("shared base: UTC, UI off, 3600 s broadcast timeout") {
    assert(Harness.base == Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.broadcastTimeout" -> "3600"))
    // a caller's conf never overrides a base key
    for (conf <- Seq(Harness.benchConf, Harness.verifyConf(4), Harness.auditConf))
      assert(conf.keySet.intersect(Harness.base.keySet).isEmpty)
  }

  test("cpus: SPARK_GRAFT_CPUS when set, else availableProcessors") {
    assert(Harness.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Harness.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }
}
