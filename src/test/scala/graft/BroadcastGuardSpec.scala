package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.functions._
import graft.expressions.BroadcastGuard

class BroadcastGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def joinHint(df: DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst { case j: Join => j.hint }.get

  test("oversized broadcast hint is stripped; a genuinely small one survives") {
    val probe = spark.range(10).toDF("k2")
    // 2^28 longs, estimated at 2 GiB — over the 1 GiB cap: hint must go.
    // Only the optimized plan is inspected; nothing executes.
    val big = spark.range(1L << 28).toDF("k")
    val dropsBefore = BroadcastGuard.drops.get
    val stripped = joinHint(probe.join(broadcast(big), col("k2") === col("k")))
    assert(stripped.rightHint.forall(_.strategy.isEmpty),
      s"oversized hint survived: $stripped")
    assert(BroadcastGuard.drops.get >= dropsBefore + 1, "drop not counted")
    // 5 rows — under the cap: hint must be honored untouched
    val small = spark.range(5).toDF("k")
    val keptBefore = BroadcastGuard.drops.get
    val kept = joinHint(probe.join(broadcast(small), col("k2") === col("k")))
    assert(kept.rightHint.exists(_.strategy.contains(BROADCAST)),
      s"small hint lost: $kept")
    assert(BroadcastGuard.drops.get === keptBefore, "a kept hint was counted")
  }

  test("with the default 1 GiB cap, ordinary dimension broadcasts pass through") {
    val dim = spark.range(1000).toDF("k")
    val fact = spark.range(100000).toDF("k2")
    val h = joinHint(fact.join(broadcast(dim), col("k2") === col("k")))
    assert(h.rightHint.exists(_.strategy.contains(BROADCAST)))
  }
}
