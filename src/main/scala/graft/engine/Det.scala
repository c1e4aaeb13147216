package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers for oracle parity.
  *
  * Summing IEEE doubles is order-dependent; Spark's partial aggregation over
  * N shuffle partitions sums in a different order than DuckDB's single-node
  * scan, so the low bits of a plain `sum(double)` differ run-to-run and
  * engine-to-engine. Routing sums through exact DECIMAL arithmetic makes the
  * result order-independent, then a final cast back to DOUBLE is identical
  * on both engines (same decimal → same IEEE value).
  *
  * The oracle SQL must apply the mirror-image casts — see the `*Sql` helpers.
  * This also scales: decimal sum is still a single-pass partial aggregate
  * (map-side combine) at 100 TB; nothing about it is driver-side.
  */
object Det {
  /** Order-independent SUM of a double column, exact at `scale` decimals.
    *
    * Implementation: round each value to `scale` places IN IEEE DOUBLE
    * math (`floor(x·10^s + 0.5)` — the same tie discipline as [[roundN]],
    * so both engines compute the identical integer from the identical
    * double), then sum the integers exactly via a long-backed
    * DECIMAL(38,0). This deliberately avoids Spark's double→DECIMAL(p,s)
    * cast, which routes every value through `BigDecimal.valueOf` —
    * Double.toString + a decimal parse PER ROW. Measured on the 14
    * sufficient-statistic sums of `a_corr_matrix` over sf0.1 lineitem:
    * 3.6 s (decimal cast) → 0.5 s (scaled long), identical determinism.
    * The long→DECIMAL(38,0) cast is arithmetic-only (no string), the sum
    * stays a map-side-combinable partial aggregate, and the final
    * integer→double division is one IEEE op on an identical value in
    * both engines.
    *
    * Domain: |value|·10^scale + 0.5 must stay below 2^63 ≈ 9.2e18 per
    * row (looser than the old DECIMAL(18,s) bound of 10^(18-scale)) —
    * beyond it Spark's `floor` saturates at Long.Max SILENTLY while
    * DuckDB's BIGINT cast errors, so the oracle catches a violation.
    * The exact integer SUM has DECIMAL(38,0)/HUGEINT headroom (10^38)
    * on both engines. Migration note: the old double→DECIMAL cast went
    * through BigDecimal.valueOf (the double's SHORTEST-DECIMAL rendering,
    * then HALF_UP), while floor(x·10^s + 0.5) rounds the BINARY value
    * toward +∞ — so the two forms differ on any value whose shortest
    * rendering crosses the midpoint of its binary neighborhood (e.g.
    * 0.285 is the double 0.28499999999999998: old form 0.29, this form
    * 0.28), not merely on negative exact ties. Both engines compute the
    * floor form on identical IEEE doubles, so cross-engine hashes agree;
    * oracles were regenerated when call sites migrated. */
  def dsum(c: Column, scale: Int = 2): Column = {
    val p = math.pow(10, scale)
    (sum(floor(c * p + 0.5).cast(DecimalType(38, 0))).cast("double") / p)
  }

  /** DuckDB mirror of [[dsum]]: FLOOR in double math (identical IEEE
    * value), exact BIGINT→HUGEINT sum, pinned through DECIMAL(38,0) so
    * the integer→double conversion matches Spark's Decimal.toDouble. */
  def dsumSql(e: String, scale: Int = 2): String = {
    val p = math.pow(10, scale)
    s"(CAST(CAST(SUM(CAST(FLOOR(($e) * $p + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS DOUBLE) / $p)"
  }

  /** Order-independent AVG: exact scaled-integer sum / count, as doubles. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  def davgSql(e: String, scale: Int = 2): String =
    s"(${dsumSql(e, scale)} / COUNT($e))"

  /** Cross-engine-deterministic rounding of a double to `n` places.
    *
    * Spark's `round(double)` routes through BigDecimal.valueOf (shortest
    * decimal repr, HALF_UP) while DuckDB rounds in float math — they disagree
    * on ties like 12.345. `floor(x*10^n + 0.5)/10^n` is pure IEEE arithmetic,
    * so both engines compute bit-identical results from identical inputs.
    * Mirror with [[roundNSql]] in the oracle.
    *
    * DOMAIN: |x| must stay below 2^63 / 10^n ≈ 9.2e18 / 10^n — Spark's
    * `floor` returns LONG, so `x * 10^n` past Long.MaxValue silently
    * saturates (every value collapses to 9.2e18/10^n; DuckDB's FLOOR stays
    * DOUBLE, so only the Spark side corrupts and the oracle catches it).
    * For large magnitudes (squared residuals, revenue totals) sum via a
    * raw DECIMAL cast instead of an r12 pin. */
  def roundN(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }

  def roundNSql(e: String, n: Int): String = {
    val p = math.pow(10, n)
    s"FLOOR(($e) * $p + 0.5) / $p"
  }

  private val UsPerDay = 86400000000L

  /** The UTC epoch day of the timestamp `ts`: floor(micros / day), so a
    * pre-1970 instant lands on its own (negative) day — the oracle's `//`.
    * Spark's `div` truncates toward zero and would put 1969-12-31T23:00Z
    * on day 0. Mirror with [[epochDaySql]]. */
  def epochDay(ts: Column): Column = {
    val us = unix_micros(ts)
    ((us - pmod(us, lit(UsPerDay))).divide(lit(UsPerDay))).cast("long")
  }

  def epochDaySql(ts: String): String = s"epoch_us($ts) // $UsPerDay"

  /** Cross-engine deterministic 56-bit hash of a string column.
    *
    * Spark's fast hashes (xxhash64, murmur) don't exist in other engines,
    * so anything keyed on them — sampling membership, split assignment,
    * LSH families — can only ever be checked rows-only. md5 is the one
    * hash every engine agrees on byte-for-byte, and 14 hex chars (56 bits)
    * parse into a non-negative BIGINT with headroom for affine
    * combinations (h1 + i·h2 stays under 2^63 for i < 64 — the MinHash
    * family construction) without overflow on either engine.
    *
    * Mirror in DuckDB via [[h56Sql]]. `pos` selects the hex span (1 and 17
    * give two independent 56-bit values from one digest). Cost: ~100 ns/row
    * vs ~10 ns for xxhash64 — negligible against scan+decode at 100 TB, and
    * cross-engine reproducibility is part of the contract for splits (a
    * train/test split must be recomputable by ANY engine reading the
    * corpus, not just Spark).
    *
    * The input must already BE a string (callers cast keys explicitly):
    * implicit numeric→string casts are where engines disagree (double
    * formatting), so keep keys integral or string. */
  def h56(s: Column, pos: Int = 1): Column =
    conv(substring(md5(s), pos, 14), 16, 10).cast("long")

  def h56Sql(e: String, pos: Int = 1): String =
    s"CAST('0x' || substring(md5($e), $pos, 14) AS BIGINT)"
}
