package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hilbert-curve index — the z-order upgrade for multi-dimensional file
  * layout.
  *
  * Morton interleave ([[ZOrder.zValue]]) has long "seams": consecutive
  * z-values can jump across the whole key space (e.g. 0x0FFF → 0x1000
  * crosses half the grid), so a file of contiguous z-values can span a
  * wide box in BOTH dims, weakening min/max pruning. The Hilbert curve
  * visits every cell of the 2^bits × 2^bits grid in steps of exactly one
  * grid edge (HilbertSpec proves it cell-by-cell), so contiguous index
  * ranges are compact blobs and per-file min/max boxes are tighter —
  * same write cost, strictly better skipping. This is why Databricks
  * liquid clustering and modern Iceberg layouts moved from z-order to
  * Hilbert.
  *
  * The classic xy2d bit algorithm (quadrant descend + rotate) threads
  * (x, y, d) state through `bits` rounds; here each round is one
  * deterministic integer-arithmetic projection step — expressible both
  * as chained Column selects and as a mirrored SQL CTE chain, so layouts
  * built on it stay oracle-hash-checkable end-to-end.
  */
object Hilbert {

  /** One xy2d round at side `s` (a power of two): given (x, y, d)
    * columns, returns the rotated/accumulated (x', y', d'). */
  private def step(x: Column, y: Column, d: Column, s: Long)
      : (Column, Column, Column) = {
    val rx = when(x.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
    val ry = when(y.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
    val d2 = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
    val x2 = when(ry === 0,
      when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
    val y2 = when(ry === 0,
      when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
    (x2, y2, d2)
  }

  /** Adds `out` = Hilbert index of the low `bits` bits of non-negative
    * integer columns `xCol`/`yCol`, via one chained select per round
    * (bounded plan depth; whole-stage codegen fuses the chain into one
    * straight-line integer program). */
  def index(df: DataFrame, xCol: String, yCol: String, bits: Int,
      out: String = "hilbert_d"): DataFrame = {
    require(bits >= 1 && bits <= 28, s"bits out of range: $bits")
    val init = df.withColumn("__hx", col(xCol).cast("long"))
      .withColumn("__hy", col(yCol).cast("long"))
      .withColumn("__hd", lit(0L))
    val walked = (bits - 1 to 0 by -1).foldLeft(init) { (cur, i) =>
      val (x2, y2, d2) = step(col("__hx"), col("__hy"), col("__hd"), 1L << i)
      cur.select(col("*"), x2.as(s"__hx$i"), y2.as(s"__hy$i"), d2.as(s"__hd$i"))
        .drop("__hx", "__hy", "__hd")
        .withColumnRenamed(s"__hx$i", "__hx")
        .withColumnRenamed(s"__hy$i", "__hy")
        .withColumnRenamed(s"__hd$i", "__hd")
    }
    walked.withColumnRenamed("__hd", out).drop("__hx", "__hy")
  }

  val SqlPrefix = "hil"

  /** DuckDB mirror of [[index]]: a CTE chain `hilN AS (...)` walking
    * the same rounds. `from` is the relation feeding round 0; the caller
    * selects from `hil0`, whose columns are the originals plus
    * `hx`/`hy` (scratch) and `hd` (the index). `x`/`y` are SQL
    * expressions over `from`'s columns. */
  def indexSql(from: String, x: String, y: String, bits: Int): String = {
    require(bits >= 1 && bits <= 28, s"bits out of range: $bits")
    val init = s"$SqlPrefix${bits} AS (SELECT *, CAST(($x) AS BIGINT) AS hx, " +
      s"CAST(($y) AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM $from)"
    val rounds = (bits - 1 to 0 by -1).map { i =>
      val s = 1L << i
      val rx = s"(CASE WHEN hx & $s > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN hy & $s > 0 THEN 1 ELSE 0 END)"
      s"""$SqlPrefix$i AS (SELECT * EXCLUDE (hx, hy, hd),
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx,
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy,
         |  hd + ${s * s} * xor(3 * $rx, $ry) AS hd
         |FROM $SqlPrefix${i + 1})""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Min-max quantization of a non-negative integer column onto the
    * 0..(2^bits − 1) grid: (v − lo) · (2^bits − 1) / (hi − lo), all
    * integer arithmetic (floor division — identical in Spark `div` and
    * DuckDB `//` for non-negative operands). Degenerate range → 0. */
  def quantize(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    val m = (1L << bits) - 1
    val num = (v - lo) * lit(m)
    val den = hi - lo
    // exact integer floor division: (num - num%den)/den is a divisible
    // integer pair ≤ 2^53, so the double divide is exact (the same
    // pattern as z_order_pruning's day bucketing)
    when(den > 0, ((num - pmod(num, den)) / den).cast("long")).otherwise(0L)
  }

  def quantizeSql(v: String, lo: String, hi: String, bits: Int): String = {
    val m = (1L << bits) - 1
    s"CASE WHEN $hi > $lo THEN (($v - $lo) * $m) // ($hi - $lo) ELSE 0 END"
  }
}
