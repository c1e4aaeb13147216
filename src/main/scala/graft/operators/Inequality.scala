package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact Gini coefficient — the inequality summary of a value column
  * (revenue concentration, token-count imbalance across sources), by the
  * rank formula G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the ascending
  * sort.
  *
  * The textbook formulation ranks every row through ONE global window —
  * the whole-table sort this codebase never ships. Global rank
  * decomposes exactly over value buckets (same two-pass as
  * [[WeightedStats]]/[[Binning]]): global_rank = (rows in strictly
  * smaller buckets) + (rank within my bucket), where the bucket prefix
  * counts come from a running sum over the SMALL (bucket) relation and
  * the within-bucket ranks from windows partitioned by bucket
  * (≈ n/#buckets rows each). Σ rank·x runs in exact decimals, so the
  * result is a pure multiset statistic: equal values may permute freely
  * across their consecutive ranks without changing Σ rank·x (their x is
  * identical), which is what lets a plain row_number oracle reproduce
  * the bucketed plan bit-for-bit.
  *
  * Returns one row: (n, total, gini) — gini as a raw double; round at
  * the call site.
  */
object Inequality {

  /** Decimal scale of the values (exact for |x| < 10^(18-GiniScale)). */
  val GiniScale = 2

  /** @param bucketWidth value-domain granularity; the bucket relation
    *                    (≈ range/width rows) is broadcast — size it to
    *                    thousands, not millions
    */
  def gini(df: DataFrame, valCol: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val v = df.select(col(valCol).as("__v")).filter(col("__v").isNotNull)
      .withColumn("__b", floor(col("__v") / bucketWidth).cast("long"))
    val hist = v.groupBy("__b").agg(count(lit(1)).as("__bc"))
      .withColumn("__pre", coalesce(
        sum(col("__bc")).over(Window.orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val dv = col("__v").cast(DecimalType(18, GiniScale))
    val ranked = v
      .join(broadcast(hist.select(col("__b"), col("__pre"))), Seq("__b"))
      .withColumn("__rk", col("__pre") + row_number().over(
        Window.partitionBy("__b").orderBy("__v")))
    ranked.agg(
        count(lit(1)).as("n"),
        sum(dv).as("__t"),
        sum(col("__rk") * dv).as("__s"))
      .select(col("n"),
        col("__t").cast("double").as("total"),
        (lit(2.0) * col("__s").cast("double") /
          (col("n") * col("__t").cast("double")) -
          (col("n") + lit(1.0)) / col("n")).as("gini"))
  }
}
