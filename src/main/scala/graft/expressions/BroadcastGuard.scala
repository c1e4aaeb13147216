package graft.expressions

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: refuse broadcast hints on join sides whose estimated
  * size exceeds a cap — the engine-level guard for the classic 100 TB
  * failure where a `broadcast()` hint on a data-dependent relation
  * (candidate pairs, an unexpectedly-grown dimension) sails through at
  * test scale and kills the production job at Spark's 8 GB broadcast
  * hard limit (or OOMs the driver well before it).
  *
  * A plain-size check at optimization time is deliberately conservative:
  * stats here are file-size/row estimates, so the cap sits well under
  * the hard limit ([[BroadcastGuard.MaxBytes]], 1 GiB). When
  * the hint is stripped, the planner falls back to its normal choice —
  * and AQE can still pick a runtime broadcast if the relation turns out
  * genuinely small, which is exactly the desired asymmetry: broadcasts
  * happen when the DATA proves small, never because a hint written at
  * sf0.01 asserted it.
  *
  * By this point in optimization `EliminateResolvedHint` has already
  * folded hints into the Join nodes, so the rule edits `JoinHint` sides
  * rather than `ResolvedHint` wrappers.
  */
class BroadcastGuard extends Rule[LogicalPlan] {
  import BroadcastGuard.MaxBytes

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, _, _, hint)
        if overLimit(hint.leftHint, left) || overLimit(hint.rightHint, right) =>
      j.copy(hint = JoinHint(
        guard(hint.leftHint, left, "left"),
        guard(hint.rightHint, right, "right")))
  }

  private def overLimit(h: Option[HintInfo], side: LogicalPlan): Boolean =
    h.exists(_.strategy.contains(BROADCAST)) &&
      side.stats.sizeInBytes > MaxBytes

  private def guard(h: Option[HintInfo], side: LogicalPlan,
      which: String): Option[HintInfo] =
    if (overLimit(h, side)) {
      BroadcastGuard.drops.incrementAndGet()
      logWarning(s"BroadcastGuard: dropping broadcast hint on $which join " +
        s"side (est. ${side.stats.sizeInBytes} bytes > $MaxBytes); the " +
        s"planner/AQE will choose the strategy from actual sizes")
      h.map(_.copy(strategy = None))
    } else h
}

object BroadcastGuard {
  /** The largest estimated join side a broadcast hint may keep. */
  val MaxBytes: Long = 1L << 30

  /** Hints stripped, JVM-wide, since the last reset; one per stripped
    * hint per optimization, like the WARN line. `graft.Bench` resets it
    * before each query and reports it as `guard_drops`. */
  val drops = new java.util.concurrent.atomic.AtomicLong
}
