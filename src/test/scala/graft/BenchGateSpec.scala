package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryDef

/** Pins the bench contamination gate's thresholds (VERDICT r14 item 3):
  * the old `> 2.5` retime gate let a poisoned 557 s artifact ship as
  * `contaminated=false` at the exact ratio 2.494 while every comparable
  * query read slower and the in-run retime recovered round-13 walls. The
  * gate is a pure function so these cases stay pinned without a Spark
  * session. The last case runs Bench's per-query step on the sf0.001 lake.
  */
class BenchGateSpec extends AnyFunSuite {

  test("retime median ratio at or past 2.0 condemns the pass") {
    assert(!Bench.passContaminated(1.99, loadAtStart = 0.3, cpus = 32))
    assert(Bench.passContaminated(2.0, loadAtStart = 0.3, cpus = 32))
    // the r14 regression case: 2.494 passed the old > 2.5 gate by 0.006
    assert(Bench.passContaminated(2.494, loadAtStart = 0.3, cpus = 32))
  }

  test("ambient start load past cores/4 condemns the pass on its own") {
    // r14's poisoned leg: load_before 8.41 on 32 cores (ceiling 8.0),
    // retime median under 2.0 would no longer have saved it
    assert(Bench.passContaminated(1.0, loadAtStart = 8.41, cpus = 32))
    assert(!Bench.passContaminated(1.0, loadAtStart = 2.0, cpus = 32))
    // the ceiling scales with the host, not a fixed constant
    assert(Bench.loadCeiling(32) == 8.0)
    assert(Bench.passContaminated(1.0, loadAtStart = 1.1, cpus = 4))
  }

  test("a quiet clean pass is not contaminated") {
    assert(!Bench.passContaminated(1.0, loadAtStart = 0.0, cpus = 32))
  }

  test("harness query selection: all in declaration order, or named, or a typo error") {
    assert(SparkEntry.select(Set.empty) === SparkEntry.allDefs)
    val some = Set("q1_pricing_summary", "q_cdc_apply")
    assert(SparkEntry.select(some).map(_.name) ===
      SparkEntry.allDefs.map(_.name).filter(some))
    // a typo must fail, not run zero queries and report a total of 0
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Set("q1_pricing_summary", "q_typo")))
    assert(e.getMessage.contains("q_typo"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }

  test("the per-query step times, profiles, and records a failure") {
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    def step(name: String) =
      Bench.step(spark, SparkEntry.select(Set(name)).head, sf).toOption.get
    val q1 = step("q1_pricing_summary")
    val p = q1.profile.toMap
    assert(q1.rows > 0 && q1.wall > 0)
    assert(p("jobs").toLong >= 1)
    assert(p("tasks").toLong >= p("stages").toLong && p("stages").toLong >= 1)
    for (phase <- Seq("analysis_ms", "optimization_ms", "planning_ms"))
      assert(p(phase).toLong >= 0, phase)
    // one scan of each table per check family
    assert(step("q_quality_report").profile.toMap.apply("rescans") ===
      """{"customer":3,"orders":4,"events":3}""")
    val boom = QueryDef("boom", (_, _) => throw new IllegalStateException("boom"), None)
    assert(Bench.step(spark, boom, sf) === Left("IllegalStateException: boom"))
  }
}
