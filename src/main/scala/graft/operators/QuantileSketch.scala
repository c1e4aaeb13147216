package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det

/** Bottom-k quantile sketch — the DETERMINISTIC, oracle-verifiable
  * alternative to `percentile_approx` the same way [[Kmv]] is to HLL.
  *
  * `percentile_approx`'s KLL/GK sketch internals are engine-specific: the
  * same data yields different estimates in Spark vs DuckDB vs a re-run
  * after an upgrade, so an approx-percentile metric can never be
  * hash-verified. This sketch instead keeps, per group, the rows whose
  * [[Det.h56]] of a unique row key ranks in the bottom k — a uniform
  * (hash-)random sample that is a pure FUNCTION of the data — and
  * estimates quantiles by R-7 interpolation over the sample's order
  * statistics. Any engine recomputes the same sample, the same order, the
  * same interpolation — bit-for-bit.
  *
  * The sketch IS a relation, (group, h, v), ≤ k rows per group: store it,
  * merge increments by union + re-rank ([[merge]]; QuantileSketchSpec
  * proves merge(sample(A), sample(B)) == sample(A ∪ B)), estimate with
  * windowed order statistics over ≤ k rows per group. Scale shape: the
  * sample build is one map-side-light shuffle of (group, h-bucket) ranks
  * — a two-level rank (per (group, h mod 64) first) caps any per-group
  * sort at 64·k candidates, same discipline as [[Kmv.sketch]]; estimation
  * touches only sample rows (≤ k per group), never the corpus.
  *
  * Error: a uniform m-sample's q-quantile deviates from the true quantile
  * by O(√(q(1−q)/m)) in RANK; the realized per-quantile error rides in
  * the demo query's hash-checked output next to the exact value.
  */
object QuantileSketch {

  /** Sample relation: (grpCol, h, v) — the ≤ k rows per group whose
    * h56(keyCol) is smallest. `keyCol` must uniquely identify rows (it is
    * the sampling randomness); `valCol` is the measure being sketched. */
  def sample(df: DataFrame, grpCol: String, keyCol: String, valCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val hashed = df.select(col(grpCol),
      Det.h56(col(keyCol).cast("string")).as("h"),
      col(valCol).cast("double").as("v"))
    Kmv.bottomK(hashed, grpCol, k)
  }

  /** Merge two sample relations into the sample of the union corpus
    * (disjoint row sets — e.g. daily increments). */
  def merge(a: DataFrame, b: DataFrame, grpCol: String, k: Int): DataFrame =
    Kmv.bottomK(a.unionByName(b), grpCol, k)

  /** R-7 (quantile_cont-convention) estimates over the sample's order
    * statistics: one row per group with a `p<q>_est` column per requested
    * quantile. For sample size m and target rank t = q·(m−1): est =
    * v[⌊t⌋] + (t−⌊t⌋)·(v[⌊t⌋+1] − v[⌊t⌋]) (0-based, ties broken by h so
    * the order is total). Pure windowed arithmetic — engine-identical. */
  def quantiles(sampleRel: DataFrame, grpCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad qs: $qs")
    val w = Window.partitionBy(grpCol).orderBy(col("v"), col("h"))
    val ranked = sampleRel
      .withColumn("__rn", row_number().over(w))
      .withColumn("__vn", lead(col("v"), 1).over(w))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(grpCol)))
    val ests = qs.map { q =>
      val t = lit(q) * (col("__m") - 1)
      val atLo = col("__rn") === (floor(t) + 1)
      // max(when(...)) selects the single matching row's interpolation —
      // one group-by instead of one filter+join per quantile
      max(when(atLo,
        col("v") + (t - floor(t)) * (coalesce(col("__vn"), col("v")) - col("v"))))
        .as(s"p${(q * 100).round}_est")
    }
    ranked.groupBy(grpCol).agg(ests.head, ests.tail: _*)
  }

  /** DuckDB mirror of the full sample → quantiles lineage, for oracle
    * SQL: returns (CTE text, estimate-select text) for `qs` over table
    * `tbl`. Kept next to the Scala so the two stay in lockstep. */
  def oracleSql(tbl: String, grpCol: String, keyCol: String, valCol: String,
      k: Int, qs: Seq[Double]): (String, String) = {
    val ctes =
      s"""__qs_h AS (
         |  SELECT $grpCol AS grp, ${Det.h56Sql(s"CAST($keyCol AS VARCHAR)")} AS h,
         |    CAST($valCol AS DOUBLE) AS v
         |  FROM $tbl),
         |__qs_s AS (
         |  SELECT grp, h, v FROM (
         |    SELECT grp, h, v, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
         |    FROM __qs_h)
         |  WHERE rn <= $k),
         |__qs_r AS (
         |  SELECT grp, h, v,
         |    row_number() OVER (PARTITION BY grp ORDER BY v, h) AS rn,
         |    lead(v) OVER (PARTITION BY grp ORDER BY v, h) AS vn,
         |    COUNT(*) OVER (PARTITION BY grp) AS m
         |  FROM __qs_s)""".stripMargin
    val sel = qs.map { q =>
      s"MAX(CASE WHEN rn = CAST(FLOOR($q * (m - 1)) AS BIGINT) + 1 THEN " +
        s"v + ($q * (m - 1) - FLOOR($q * (m - 1))) * (COALESCE(vn, v) - v) " +
        s"END) AS p${(q * 100).round}_est"
    }.mkString(", ")
    (ctes, sel)
  }
}
