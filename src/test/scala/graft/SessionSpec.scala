package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.engine.Session
import graft.expressions.{BroadcastGuard, GraftFunctions}

/** A session from [[Session.local]] plans under graft's functions and the
  * BroadcastGuard from its first query on, not only once a similarity
  * operator has registered them. */
class SessionSpec extends AnyFunSuite {
  private val natives = Seq("cosine_sim", "dot_product", "jaro_winkler", "kmv_sketch")

  /** Runs `body` on a session the factory hands back for a brand-new
    * session state (no temp functions, no extra optimizer rules): the
    * builder reuses the thread's active session, so it is set to one
    * nothing has registered into. */
  private def fromFactory(body: SparkSession => Unit): Unit = {
    val shared = SparkTestSession.spark
    val blank = shared.newSession()
    assert(!natives.exists(n => blank.catalog.functionExists(n)))
    assert(blank.experimental.extraOptimizations.isEmpty)
    SparkSession.setActiveSession(blank)
    try {
      val s = Session.local(4)
      assert(s eq blank)
      body(s)
    } finally SparkSession.setActiveSession(shared)
  }

  private def guards(s: SparkSession) =
    s.experimental.extraOptimizations.count(_.isInstanceOf[BroadcastGuard])

  test("a factory session resolves every native function") {
    fromFactory { s =>
      natives.foreach(n => assert(s.catalog.functionExists(n), n))
      val row = s.sql("""SELECT cosine_sim(v, v), dot_product(v, w),
          |jaro_winkler('martha', 'martha')
          |FROM (SELECT CAST(array(1, 0) AS array<float>) AS v,
          |             CAST(array(3, 4) AS array<float>) AS w)""".stripMargin).head()
      assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 3.0 &&
        row.getDouble(2) == 1.0)
      assert(s.range(10).select(col("id").cast("long").as("h"))
        .agg(GraftFunctions.kmv_sketch(col("h"), 4)).head().getSeq[Long](0)
        == Seq(0L, 1L, 2L, 3L))
    }
  }

  test("a factory session strips an oversized broadcast hint before any similarity query") {
    fromFactory { s =>
      val probe = s.range(10).toDF("k2")
      // estimated at 2 GiB, over the 1 GiB cap; the plan never executes
      val big = s.range(1L << 28).toDF("k")
      val hint = probe.join(broadcast(big), col("k2") === col("k"))
        .queryExecution.optimizedPlan.collectFirst { case j: Join => j.hint }.get
      assert(hint.rightHint.forall(_.strategy.isEmpty), s"hint survived: $hint")
    }
  }

  test("registering again keeps the bound native functions, unreplaced") {
    fromFactory { s =>
      val registry = s.sessionState.functionRegistry
      val before = registry.lookupFunction(FunctionIdentifier("cosine_sim")).get
      GraftFunctions.register(s)
      assert(registry.lookupFunction(FunctionIdentifier("cosine_sim")).get eq before)
    }
  }

  test("registering again leaves exactly one BroadcastGuard") {
    fromFactory { s =>
      assert(guards(s) == 1)
      GraftFunctions.register(s)
      Session.local(4)
      assert(guards(s) == 1)
    }
  }
}
