package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Per-group mean-shift drift detection — the corpus-monitoring check a
  * production pipeline runs per ingest: does any group (source, day,
  * shard) have a metric mean far from the corpus mean, where "far" is
  * scaled by corpus variance and group size? The statistic is the squared
  * z-score of the group mean under the corpus distribution:
  *
  *   stat = n_g · (mean_g − mean_all)² / var_all      (flag: stat > z²)
  *
  * Square form on purpose: no sqrt/abs on the flag path and no libm —
  * with decimal-summed integer inputs the whole computation is plain IEEE
  * arithmetic, bit-identical across engines, so the report hash-matches a
  * SQL oracle.
  *
  * Shape: ONE scan — a per-group hash aggregate (sum, sum-of-squares,
  * count in DECIMAL); corpus totals are re-aggregated FROM the group rows
  * (group-count-sized, not another corpus scan) and broadcast back as a
  * 1-row relation. Shuffle O(groups), no windows.
  *
  * Returns (keyCol, n_docs, mean_val, drift_stat, is_drifted) for every
  * group; a zero-variance corpus flags nothing (stat 0). */
object Drift {

  /** A group drifts past this many standard errors from the corpus mean. */
  val ZThreshold = 2.0

  def meanShift(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val dec = col(valCol).cast("double").cast(DecimalType(28, 6))
    // staged once (group-count-sized): feeds both the corpus rollup and
    // the final select — otherwise the corpus scan behind it runs twice
    val perGroup = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(dec).cast("double").as("__sum"),
        sum(dec * dec).cast("double").as("__sumsq"))
      .staged
    val corpus = perGroup
      .agg(sum(col("n_docs")).as("__n_all"),
        sum(col("__sum").cast(DecimalType(28, 6))).cast("double").as("__sum_all"),
        sum(col("__sumsq").cast(DecimalType(28, 6))).cast("double").as("__sumsq_all"))
    val meanAll = col("__sum_all") / col("__n_all")
    val varAll = col("__sumsq_all") / col("__n_all") - meanAll * meanAll
    val meanG = col("__sum") / col("n_docs")
    val stat = when(varAll > 0,
      Det.roundN(col("n_docs") * (meanG - meanAll) * (meanG - meanAll) / varAll, 6))
      .otherwise(0.0)
    perGroup.crossJoin(broadcast(corpus))
      .select(col(keyCol), col("n_docs"),
        Det.roundN(meanG, 4).as("mean_val"),
        stat.as("drift_stat"),
        (stat > ZThreshold * ZThreshold).as("is_drifted"))
  }

  /** Reference moments of a metric — (ref_mean, ref_var) as a 1-row
    * relation, decimal-summed. Compute ONCE over the training-time
    * corpus and persist; [[meanShiftAgainst]] checks arriving data
    * against it. */
  def referenceMoments(df: DataFrame, valCol: String): DataFrame = {
    val dec = col(valCol).cast("double").cast(DecimalType(28, 6))
    df.agg(count(lit(1)).as("ref_n"),
        sum(dec).cast("double").as("__s"),
        sum(dec * dec).cast("double").as("__sq"))
      .select(col("ref_n"),
        (col("__s") / col("ref_n")).as("ref_mean"),
        (col("__sq") / col("ref_n") -
          (col("__s") / col("ref_n")) * (col("__s") / col("ref_n")))
          .as("ref_var"))
  }

  /** Histogram drift — the distribution-shape check mean-shift cannot
    * see (a variance explosion or bimodal split can keep the mean
    * intact): fixed-width bins over [lo, hi) with out-of-range values
    * clamped to the edge bins, per-group observed bin fractions tested
    * against the FROZEN baseline's expected fractions with the chi-square
    * statistic in rational form (no logs — the PSI alternative needs ln):
    *
    *   stat_g = n_g · Σ_bins (p_obs − p_exp)² / p_exp
    *
    * Empty bins contribute their expected mass ((0−p)²/p = p), so the
    * per-group bin frame is completed by an explode of the literal bin
    * range before the join — groups missing a bin are not silently
    * under-counted. Baseline bins with zero mass are excluded from the
    * sum (their Pearson term is undefined; an observation landing there
    * still shifts every other fraction). Flag: stat > 2·nBins (a
    * crude-but-deterministic critical value ≈ 2·df; callers with a real
    * alpha can threshold `drift_stat` themselves).
    *
    * `referenceHistogram` computes the expected fractions once at
    * training time (persist it); both sides are counts and divisions on
    * identical integers, so the whole report hash-matches a SQL oracle.
    * Returns (keyCol, n_docs, drift_stat, is_drifted). */
  def referenceHistogram(df: DataFrame, valCol: String, nBins: Int,
      lo: Double, hi: Double): DataFrame = {
    val n = df.count().toDouble
    binned(df, valCol, nBins, lo, hi)
      .groupBy("bin").agg(count(lit(1)).as("__c"))
      .select(col("bin"), (col("__c") / n).as("p_exp"))
  }

  private def binned(df: DataFrame, valCol: String, nBins: Int,
      lo: Double, hi: Double): DataFrame = {
    val w = (hi - lo) / nBins
    df.withColumn("bin",
      least(greatest(floor((col(valCol).cast("double") - lo) / w), lit(0.0)),
        lit((nBins - 1).toDouble)).cast("long"))
  }

  def histogramShift(df: DataFrame, keyCol: String, valCol: String,
      reference: DataFrame, nBins: Int, lo: Double, hi: Double): DataFrame = {
    val obs2 = binned(df, valCol, nBins, lo, hi)
      .groupBy(col(keyCol), col("bin")).agg(count(lit(1)).as("__c"))
      .staged
    val totals = obs2.groupBy(col(keyCol)).agg(sum(col("__c")).as("n_docs"))
    // complete key×bin frame so empty bins still contribute p_exp
    val frame = totals.select(col(keyCol), col("n_docs"),
      explode(sequence(lit(0L), lit((nBins - 1).toLong))).as("bin"))
    val terms = frame
      .join(obs2, Seq(keyCol, "bin"), "left")
      .join(broadcast(reference), Seq("bin"), "left")
      .filter(col("p_exp").isNotNull && col("p_exp") > 0)
      .withColumn("__p_obs", coalesce(col("__c"), lit(0L)) / col("n_docs"))
      .withColumn("__term",
        (col("__p_obs") - col("p_exp")) * (col("__p_obs") - col("p_exp")) /
          col("p_exp"))
    terms.groupBy(col(keyCol))
      .agg(max(col("n_docs")).as("n_docs"),
        Det.roundN(max(col("n_docs")) *
          sum(col("__term").cast(DecimalType(28, 12))).cast("double"), 6)
          .as("drift_stat"))
      .withColumn("is_drifted", col("drift_stat") > 2.0 * nBins)
  }

  /** Drift against a FROZEN baseline — the production monitoring shape:
    * the reference moments come from training time (persisted once via
    * [[referenceMoments]]), and each arriving batch/group is tested
    * against THEM, not against itself — so a corpus-wide shift is
    * detected rather than absorbed into the same batch's own mean (the
    * blind spot of the self-referential [[meanShift]], which this
    * complements). Same squared-z statistic and flag:
    *   stat = n_g · (mean_g − ref_mean)² / ref_var   (flag: stat > z²)
    *
    * One per-group aggregate + a broadcast of the 1-row reference.
    * Returns (keyCol, n_docs, mean_val, drift_stat, is_drifted). */
  /** Per-segment EMBEDDING drift: cosine between each segment's centroid
    * and the corpus centroid — the representation-space monitor an
    * embedding pipeline runs per ingest (an encoder version bump, a new
    * scraper, or a language shift moves a segment's centroid long before
    * scalar metrics notice). Low cosine = the segment's vectors point
    * somewhere else.
    *
    * Shape: one posexplode → two decimal-summed (key, dim) / (dim)
    * aggregates → a dim-aligned join folded into per-key dot/norm sums —
    * shuffle O(rows × dims) then O(segments × dims), no pair work. Every
    * sum (per-dim means AND the 64-term dot products) routes through
    * DECIMAL, so the cosine is partial-aggregation-order-independent and
    * the whole report hash-matches a SQL oracle.
    *
    * Returns (keyCol, n_vecs, centroid_cosine) per segment. */
  def embeddingDrift(df: DataFrame, keyCol: String): DataFrame = {
    val dims = df.select(col(keyCol),
        posexplode(col(Similarity.EmbCol)).as(Seq("dim", "x")))
      .select(col(keyCol), col("dim"), col("x").cast("double").as("x"))
      .staged
    def centroid(grouped: Seq[String]) = dims
      .groupBy(grouped.map(col): _*)
      .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double")
        / count(lit(1))).as("m"))
    val per = centroid(Seq(keyCol, "dim"))
    val glob = centroid(Seq("dim")).withColumnsRenamed(Map("m" -> "g"))
    val d30 = (c: org.apache.spark.sql.Column) =>
      sum(c.cast(DecimalType(38, 30))).cast("double")
    val dots = per.join(glob, Seq("dim"))
      .groupBy(col(keyCol))
      .agg(d30(col("m") * col("g")).as("__dot"),
        d30(col("m") * col("m")).as("__na"),
        d30(col("g") * col("g")).as("__ng"))
    val nv = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_vecs"))
    dots.join(nv, Seq(keyCol))
      .select(col(keyCol), col("n_vecs"),
        Det.roundN(when(sqrt(col("__na")) * sqrt(col("__ng")) > 0,
          col("__dot") / (sqrt(col("__na")) * sqrt(col("__ng"))))
          .otherwise(0.0), 6).as("centroid_cosine"))
  }

  def meanShiftAgainst(df: DataFrame, keyCol: String, valCol: String,
      reference: DataFrame): DataFrame = {
    val dec = col(valCol).cast("double").cast(DecimalType(28, 6))
    val perGroup = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(dec).cast("double").as("__sum"))
    val meanG = col("__sum") / col("n_docs")
    val stat = when(col("ref_var") > 0,
      Det.roundN(col("n_docs") * (meanG - col("ref_mean")) *
        (meanG - col("ref_mean")) / col("ref_var"), 6))
      .otherwise(0.0)
    perGroup.crossJoin(broadcast(reference))
      .select(col(keyCol), col("n_docs"),
        Det.roundN(meanG, 4).as("mean_val"),
        stat.as("drift_stat"),
        (stat > ZThreshold * ZThreshold).as("is_drifted"))
  }
}
