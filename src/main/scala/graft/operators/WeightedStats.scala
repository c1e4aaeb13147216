package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Stage.syntax._

/** Exact weighted order statistics per group, shaped for groups far too
  * large to sort through one task.
  *
  * The textbook weighted median — SUM(weight) OVER (PARTITION BY group
  * ORDER BY value), pick the first value whose running weight reaches
  * half the total — serializes each group's entire row stream through a
  * single window task (a 3-group fact table gets parallelism 3). This
  * implementation runs the bucketed two-pass instead:
  *
  *  1. histogram by integer value bucket — a map-side-combinable
  *     aggregate, fully parallel — then cumulate over the SMALL
  *     (group × bucket) relation to find each group's crossing bucket
  *     and the exact weight prefix before it;
  *  2. an exact cumulative scan of only the rows INSIDE the crossing
  *     bucket (per-group rows ≈ n / #buckets).
  *
  * prefix(bucket) + within-bucket running weight equals the naive
  * cumulative weight exactly (all sums are exact scaled-long integers —
  * the Det.dsum discipline: `floor(w·10^s + 0.5)` per row, arithmetic-
  * only, instead of the per-row double→DECIMAL string-route cast), so
  * the result is bit-identical to the one-window formulation — which is
  * therefore still the right ORACLE for this operator, with the same
  * FLOOR/BIGINT weight quantization on the DuckDB side. The crossing
  * value is invariant to tie order within equal values (run-boundary
  * prefix sums are permutation-invariant).
  *
  * Weight domain: |w|·10^scale + 0.5 < 2^63 PER ROW (the floor
  * quantization). Group TOTALS are summed in DECIMAL(38,0) — the same
  * headroom discipline as Det.dsum — so a per-group total past 2^63
  * widens instead of wrapping silently (a raw LongType sum under
  * non-ANSI Spark wraps without error, while the DuckDB oracle sums
  * BIGINT into HUGEINT and would diverge; production callers without
  * the oracle deserve the same safety).
  */
object WeightedStats {

  val MedianScale = 2

  /** (grpCol, weighted_median, total_weight): smallest `valCol` whose
    * cumulative `weightCol` (scaled-long at [[MedianScale]]) reaches q=0.5 of
    * the group total. */
  def weightedMedian(df: DataFrame, grpCol: String, valCol: String,
      weightCol: String): DataFrame = {
    val p = math.pow(10, MedianScale)
    // scaled-long rows, DECIMAL(38,0) sums (Det.dsum discipline): the
    // per-row quantized weight is a long, every aggregate over it widens
    // to decimal so group totals can't wrap at 2^63.
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // NOT spread (Stage.spread): measured 1.5 s -> 2.6 s warm at sf0.1 —
    // the per-row work here is one floor-multiply, so repartitioning the
    // single-file scan ships 600k rows for less compute than it frees;
    // spread only pays where scan-stage per-row work dominates (md5 /
    // explode paths — see explodedShingles)
    val w = df.select(col(grpCol).as("__f"), col(valCol).as("__v"),
      floor(col(weightCol) * p + 0.5).as("__q")).staged
    val tot = w.groupBy("__f").agg(sum(col("__q").cast(dec38)).as("__tw"))
    val hist = w.groupBy(col("__f"), floor(col("__v")).as("__b"))
      .agg(sum(col("__q").cast(dec38)).as("__bq"))
    val bwin = Window.partitionBy("__f").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cb", sum(col("__bq")).over(bwin))
      .join(broadcast(tot), Seq("__f")).staged
    val crossing = cum.filter(col("__cb") * 2 >= col("__tw"))
      .groupBy("__f").agg(min(col("__b")).as("__xb"))
    val prefix = cum.join(broadcast(crossing), Seq("__f"))
      .filter(col("__b") < col("__xb"))
      .groupBy("__f").agg(max(col("__cb")).as("__pw"))
    val vwin = Window.partitionBy("__f").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    w.join(broadcast(crossing), Seq("__f"))
      .filter(floor(col("__v")) === col("__xb"))
      .withColumn("__cw", sum(col("__q").cast(dec38)).over(vwin))
      .join(broadcast(prefix), Seq("__f"), "left")
      .join(broadcast(tot), Seq("__f"))
      .filter((coalesce(col("__pw"), lit(0L).cast(dec38)) + col("__cw")) * 2
        >= col("__tw"))
      .groupBy(col("__f").as(grpCol))
      .agg(min(col("__v")).as("weighted_median"),
        (max(col("__tw")).cast("double") / p).as("total_weight"))
  }
}
