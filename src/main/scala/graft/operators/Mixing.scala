package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Training-mix weighting: given per-source token masses, compute the
  * temperature-scaled sampling weights a multi-source training run uses —
  * raw share^alpha renormalized (alpha = 1/T; alpha < 1 upweights
  * low-resource sources, alpha = 1 is proportional sampling). The output
  * feeds [[Sampling.sampleByRates]]: mix_weight / share is each source's
  * relative keep-rate.
  *
  * One groupBy(source) aggregate + a broadcast of the 1-row global total —
  * no second pass over the data, no driver-side math.
  */
object Mixing {

  val Alpha = 0.5

  /** Returns (source, total_weight, share, mix_weight), shares rounded to
    * 6 places. alpha = 0.5 routes through sqrt (IEEE-correctly-rounded on
    * every engine, unlike pow(x, 0.5) which libm does not guarantee) —
    * prefer it when cross-engine determinism matters. */
  def temperatureWeights(df: DataFrame, srcCol: String, weightCol: String,
      alpha: Double = Alpha): DataFrame = {
    def powA(c: org.apache.spark.sql.Column) =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    import org.apache.spark.sql.types.DecimalType
    // perSrc and scored are each read twice (their own rollup + the
    // combine) — staged once (source-count-sized), the corpus scan behind
    // them runs once instead of four times
    val perSrc = df.groupBy(col(srcCol).as("source"))
      .agg(Det.dsum(col(weightCol), 0).as("total_weight"))
      .staged
    // both renormalization sums route through DECIMAL so they are
    // partial-agg-order-independent and engine-identical
    val scored = perSrc.crossJoin(broadcast(
        perSrc.agg(sum(col("total_weight").cast(DecimalType(18, 0)))
          .cast("double").as("__total"))))
      // zero-mass corpus: every share is 0 (not NULL/NaN from 0/0)
      .withColumn("share", when(col("__total") > 0,
        col("total_weight") / col("__total")).otherwise(0.0))
      .withColumn("__raw", powA(col("share")))
      .staged
    scored.crossJoin(broadcast(
        scored.agg(sum(col("__raw").cast(DecimalType(18, 12)))
          .cast("double").as("__rawsum"))))
      .select(col("source"),
        col("total_weight").cast("long").as("total_weight"),
        Det.roundN(col("share"), 6).as("share"),
        Det.roundN(when(col("__rawsum") > 0, col("__raw") / col("__rawsum"))
          .otherwise(0.0), 6).as("mix_weight"))
  }
}
