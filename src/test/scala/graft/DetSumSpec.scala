package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Det

/** Contract for the order-independent scaled-long sum ([[Det.dsum]]).
  *
  * dsum is the primitive almost every oracle-checked double aggregate
  * rides on: it rounds each value to `scale` places in IEEE double math
  * (`floor(x·10^s + 0.5)` — Spark's FLOOR(double) returns BIGINT, so the
  * per-row path is arithmetic-only) and sums the resulting integers
  * exactly in DECIMAL(38,0). These tests pin the three properties the
  * DuckDB mirror ([[Det.dsumSql]]) depends on:
  *   1. partition-order independence (the whole point),
  *   2. the exact tie discipline — floor(x+0.5) rounds .5 toward +∞,
  *      including on NEGATIVE values (differs from BigDecimal HALF_UP,
  *      which rounds away from zero; both engines do the floor form),
  *   3. NULL rows vanish from sum AND count (davg denominator).
  */
class DetSumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("dsum is invariant under partition count and row order") {
    // 0.1 is inexact in binary: naive double summation of 10k copies
    // depends on the reduction tree, which is exactly what partition
    // count perturbs. The scaled-long form must not move at all.
    val vals = (1 to 10000).map(i => 0.1 + (i % 7) * 0.01)
    val expect = vals.map(v => math.floor(v * 100 + 0.5).toLong).sum / 100.0
    for (parts <- Seq(1, 3, 32)) {
      val got = spark.sparkContext.parallelize(vals, parts).toDF("v")
        .agg(Det.dsum(col("v")).as("s")).as[Double].head()
      assert(got == expect, s"parts=$parts")
    }
    // reversed + shuffled order, same partitioning
    val got2 = spark.sparkContext.parallelize(vals.reverse, 3).toDF("v")
      .agg(Det.dsum(col("v")).as("s")).as[Double].head()
    assert(got2 == expect)
  }

  test("ties round toward +inf on both signs (the documented floor form)") {
    // exact binary doubles, so ·100 + 0.5 hits true ties:
    //   0.125 -> 12.5 -> floor(13.0) = 13;  -0.125 -> -12.5 -> floor(-12.0) = -12
    // HALF_UP would give -13 for the negative tie; DuckDB's mirrored
    // FLOOR form gives -12 — the Spark side must match the mirror.
    val got = Seq(0.125, -0.125, 0.375, -0.375).toDF("v")
      .groupBy(col("v")).agg(Det.dsum(col("v")).as("s"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got(0.125) == 0.13)
    assert(got(-0.125) == -0.12)
    assert(got(0.375) == 0.38)
    assert(got(-0.375) == -0.37)
  }

  test("davg skips NULLs in both numerator and denominator") {
    val got = Seq(Some(1.0), None, Some(2.0), None, Some(4.5))
      .toDF("v").agg(Det.davg(col("v")).as("a")).as[Double].head()
    assert(got == (1.0 + 2.0 + 4.5) / 3)
  }

  test("dsum at scale 6 matches an exact BigDecimal reference") {
    val vals = (1 to 5000).map(i => i * 1.000001 - 2500)
    val expect = vals.map(v => math.floor(v * 1e6 + 0.5).toLong).sum / 1e6
    val got = vals.toDF("v").agg(Det.dsum(col("v"), 6).as("s"))
      .as[Double].head()
    assert(got == expect)
  }

  test("epochDay floors pre-1970 instants to their own negative day") {
    val secs = Seq(-86400L, -3600L, -1L, 0L, 86399L, 86400L)
    val rows = secs.toDF("s")
      .select(timestamp_seconds(col("s")).as("ts"))
      .select(Det.epochDay(col("ts")).as("day"),
        expr("unix_micros(ts) div 86400000000").as("truncated"))
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(-1L, -1L, -1L, 0L, 0L, 1L))
    // 1969-12-31T23:00:00Z: the truncating form puts it on day 0
    assert(rows(1)._2 == 0L)
  }
}
