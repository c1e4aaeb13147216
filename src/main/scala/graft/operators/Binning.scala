package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Stage.syntax._

/** Exact equal-frequency (quantile) binning — discretize a numeric column
  * into k bins holding ~n/k rows each, the feature-engineering transform
  * behind score banding and stratified reporting (the reference buckets
  * case-rate bands with hand-picked CASE thresholds, e.g.
  * scripts/gold/model_gold.py:176-180; equal-frequency is the data-driven
  * version that stays balanced as the distribution drifts).
  *
  * The textbook `ntile(k) OVER (ORDER BY v)` serializes the ENTIRE table
  * through one window task — the global sort no 100 TB column survives.
  * This implementation computes the k-1 exact edge VALUES with the same
  * bucketed two-pass as [[WeightedStats]] and never globally sorts rows:
  *
  *   1. value-bucket histogram (`floor(v/w)` → count) — map-side
  *      combinable — then a running sum over the SMALL (bucket) relation
  *      (the only unpartitioned window here, #buckets rows) locates, for
  *      each target rank r_i = ceil(i·n/k), the bucket where cumulative
  *      count first reaches r_i, plus the exact count before that bucket;
  *   2. only rows INSIDE a crossing bucket (≈ n/#buckets of them) are
  *      rank-scanned to read off the edge value at global rank r_i.
  *
  * Edge i is the value of the r_i-th row in value order — a pure multiset
  * statistic, independent of any tiebreak — so `edges` is deterministic
  * and a plain `ORDER BY`+`row_number` oracle reproduces it. Bin
  * membership is then `bin(v) = #{i : e_i <= v}` via a broadcast of the
  * k-1 edges: ties land in one bin together (bin sizes deviate from n/k
  * only by tie runs), and assignment never shuffles the fact table.
  */
object Binning {

  /** (edge_idx i ∈ 1..k-1, edge value at global rank ceil(i·n/k)).
    *
    * @param bucketWidth value-domain histogram granularity: ~n/width rows
    *                    are exact-scanned per crossing bucket
    */
  def equalFrequencyEdges(df: DataFrame, valCol: String, k: Int,
      bucketWidth: Double): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    // staged: three consumers (count, histogram, in-bucket rank) —
    // unstaged each re-scanned the source relation (the plan rescan
    // rule flagged ×5 source reads through callers); the staged form is
    // one narrow-column materialization
    val v = df.select(col(valCol).as("__v")).filter(col("__v").isNotNull)
      .staged
    val n = v.agg(count(lit(1)).as("__n"))
    val targets = v.sparkSession.range(1, k).toDF("__i")
      .crossJoin(broadcast(n))
      .withColumn("__r",
        ceil(col("__i") * col("__n") / lit(k.toDouble)).cast("long"))
      .select("__i", "__r")
    val hist = v.groupBy(floor(col("__v") / bucketWidth).cast("long")
        .as("__b"))
      .agg(count(lit(1)).as("__bc"))
      .withColumn("__cum", sum(col("__bc")).over(Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)))
    // crossing bucket per target rank, then its strictly-before prefix
    // count = cum - own count (both carried by the same hist row)
    val crossing = hist.join(broadcast(targets), col("__cum") >= col("__r"))
      .groupBy("__i", "__r").agg(min(col("__b")).as("__xb"))
    val prefix = crossing
      .join(hist, col("__b") === col("__xb"))
      .select(col("__i"), col("__r"), col("__xb"),
        (col("__cum") - col("__bc")).as("__pre"))
    val inBucket = v
      .withColumn("__vb", floor(col("__v") / bucketWidth).cast("long"))
      .join(broadcast(prefix), col("__vb") === col("__xb"))
      .withColumn("__rk", col("__pre") + row_number().over(
        Window.partitionBy("__i").orderBy("__v")))
    inBucket.filter(col("__rk") === col("__r"))
      .select(col("__i").cast("int").as("edge_idx"), col("__v").as("edge"))
  }

  /** Per-group edges: (grpCol, edge_idx i ∈ 1..k-1, edge value at
    * within-group rank ceil(i·n_g/k)) — the same bucketed two-pass as
    * [[equalFrequencyEdges]] with the group key carried through every
    * aggregate and window, so each window partitions by (group [, target])
    * and no task ever handles more than one group's bucket slice. The
    * crossing probe joins the per-group target ranks against the
    * per-group histogram on the group key (equi) with the rank reach as a
    * residual — the (group × bucket) relation stays small next to the
    * fact table. */
  def groupedEqualFrequencyEdges(df: DataFrame, grpCol: String,
      valCol: String, k: Int, bucketWidth: Double): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val v = df.select(col(grpCol).as("__grp"), col(valCol).as("__v"))
      .filter(col("__v").isNotNull)
    val n = v.groupBy("__grp").agg(count(lit(1)).as("__n"))
    val targets = n
      .crossJoin(broadcast(v.sparkSession.range(1, k).toDF("__i")))
      .withColumn("__r",
        ceil(col("__i") * col("__n") / lit(k.toDouble)).cast("long"))
      .select("__grp", "__i", "__r")
    val hist = v.groupBy(col("__grp"),
        floor(col("__v") / bucketWidth).cast("long").as("__b"))
      .agg(count(lit(1)).as("__bc"))
      .withColumn("__cum", sum(col("__bc")).over(
        Window.partitionBy("__grp").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val crossing = hist.join(targets, Seq("__grp"))
      .filter(col("__cum") >= col("__r"))
      .groupBy("__grp", "__i", "__r").agg(min(col("__b")).as("__xb"))
    val prefix = crossing
      .join(hist, crossing("__grp") === hist("__grp") &&
        col("__b") === col("__xb"))
      .select(crossing("__grp"), col("__i"), col("__r"), col("__xb"),
        (col("__cum") - col("__bc")).as("__pre"))
    val inBucket = v
      .withColumn("__vb", floor(col("__v") / bucketWidth).cast("long"))
      .join(broadcast(prefix),
        v("__grp") === prefix("__grp") && col("__vb") === col("__xb"))
      .drop(prefix("__grp"))
      .withColumn("__rk", col("__pre") + row_number().over(
        Window.partitionBy("__grp", "__i").orderBy("__v")))
    inBucket.filter(col("__rk") === col("__r"))
      .select(col("__grp").as(grpCol), col("__i").cast("int").as("edge_idx"),
        col("__v").as("edge"))
  }

  /** Append `binCol` ∈ 0..k-1 to `df`: the count of edges <= the row's
    * value. The k-1 edges collapse to ONE sorted-array row broadcast onto
    * every fact row — pure map-side, no shuffle, no per-row join fanout. */
  def assign(df: DataFrame, valCol: String, edges: DataFrame,
      binCol: String): DataFrame = {
    val arr = edges.agg(sort_array(collect_list(col("edge"))).as("__es"))
    df.crossJoin(broadcast(arr))
      .withColumn(binCol,
        size(filter(col("__es"), e => e <= col(valCol))).cast("int"))
      .drop("__es")
  }
}
