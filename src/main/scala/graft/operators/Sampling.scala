package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Deterministic sampling and dataset splitting for training pipelines.
  *
  * `rand()`-based sampling is NOT reproducible at scale: task retries
  * reroll the generator, and the row→partition mapping (hence each row's
  * draw) changes with cluster size. Hashing a stable row key instead makes
  * membership a pure function of the data — the same rows are selected on
  * 1 executor or 1000, today or in a backfill, which is what training /
  * eval splits require (a row must never migrate between train and test).
  *
  * All selections are single map-side filters (no shuffle). The hash is
  * the cross-engine md5-derived [[Det.h56]], not xxhash64: a split is a
  * CONTRACT with downstream consumers (eval harnesses, other engines
  * re-reading the corpus), so membership must be recomputable outside
  * Spark — and it makes every sampling query here fully
  * oracle-checkable in DuckDB. The ~100 ns/row md5 cost is noise against
  * scan+decode. Fractions resolve at `buckets` granularity
  * (default 1/10000).
  */
object Sampling {

  val Buckets = 10000
  val DefaultSalt = 0

  /** Stable bucket in [0, Buckets) from the row key (+ optional salt so
    * different samples over the same data are independent). Mirror in SQL
    * with [[bucketSql]]. */
  def bucket(key: Column, salt: Int = DefaultSalt): Column =
    pmod(Det.h56(concat(lit(s"$salt:"), key.cast("string"))), lit(Buckets))

  /** DuckDB mirror of [[bucket]]: `e` is a SQL expression for the key. */
  def bucketSql(e: String): String =
    s"(${Det.h56Sql(s"'$DefaultSalt:' || CAST($e AS VARCHAR)")} % $Buckets)"

  /** Keep ~`fraction` of rows, deterministically. */
  def sample(df: DataFrame, keyCol: String, fraction: Double,
      salt: Int = DefaultSalt): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of range: $fraction")
    df.filter(bucket(col(keyCol), salt) < (fraction * Buckets).round)
  }

  /** Split into disjoint, jointly-complete parts with the given weights
    * (normalized). Each part is a contiguous bucket range, so the split is
    * stable under re-runs and resizings. */
  def split(df: DataFrame, keyCol: String, weights: Seq[Double]): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ > 0), s"bad weights: $weights")
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _).map(w => (w / total * Buckets).round)
    val b = bucket(col(keyCol))
    cuts.sliding(2).map { case Seq(lo, hi) =>
      df.filter(b >= lo && b < hi)
    }.toSeq
  }

  /** 0-based part index for [[split]]'s membership, in ONE expression —
    * the single-scan form: split() filters the corpus once PER PART
    * (fine when each part is materialized separately anyway; a
    * `write.partitionBy` over this index is the one-scan alternative),
    * but a split SUMMARY over k parts must not pay k corpus scans.
    * Index = how many interior cut points the key's bucket has passed;
    * identical membership to split() by construction (same cuts, same
    * bucket — SamplingSpec proves it). */
  def partIndex(key: Column, weights: Seq[Double]): Column = {
    require(weights.nonEmpty && weights.forall(_ > 0), s"bad weights: $weights")
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _).map(w => (w / total * Buckets).round)
    val b = bucket(key)
    cuts.drop(1).dropRight(1)
      .map(c => when(b >= c, 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
  }

  /** Per-stratum sampling (the reference for df.stat.sampleBy, made
    * deterministic), with the fractions as a RELATION — the shape that
    * composes with plan-side rate derivation
    * ([[Mixing.temperatureWeights]] → keep-rates) without a collect, and
    * scales to unbounded strata. `rates` is (strataCol, rate ∈ [0,1]),
    * dimension-sized, broadcast; strata absent from it are dropped (inner
    * join). Thresholds round exactly like [[sample]], so for equal
    * fractions both select IDENTICAL rows (SamplingSpec proves it). */
  def sampleByRates(df: DataFrame, strataCol: String, keyCol: String,
      rates: DataFrame): DataFrame = {
    // floor(x + 0.5), not round(): identical to Scala's Double.round used
    // by sample(), and exactly mirrorable in oracle SQL (Spark's
    // round() routes through BigDecimal shortest-repr HALF_UP, which other
    // engines don't reproduce)
    val threshold = floor(col("rate") * Buckets + 0.5).cast("long")
    df.join(broadcast(rates.select(col(strataCol), col("rate"))),
        Seq(strataCol))
      .filter(bucket(col(keyCol)) < threshold)
      .drop("rate")
  }

  /** Per-group frequency cap — the per-domain cap web-corpus curation
    * applies so an over-crawled domain cannot dominate the training mix:
    * rank rows within each group by `priority` (best first) and mark the
    * top `k` kept. Returns the input plus (group_rank, is_kept) so the
    * caller can filter or just audit.
    *
    * Scale: one window shuffle keyed by the group column (cardinality =
    * #domains, not #rows). A mega-domain ranks inside its own partition
    * only — no global sort. At rest, bucket the corpus by the group key
    * and the window runs exchange-free. `priority` must totally order
    * rows within a group (include a unique id as the last key) or the
    * cap boundary is nondeterministic. */
  def capPerGroup(df: DataFrame, groupCol: String, priority: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, s"cap must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(priority: _*)
    df.withColumn("group_rank", row_number().over(w))
      .withColumn("is_kept", col("group_rank") <= k)
  }

  /** Priority sampling (Duffield-Lund-Thorup, JACM 2007): WEIGHTED
    * sampling without replacement with unbiased subset-sum estimation —
    * the principled way to keep "50 documents that stand for the corpus'
    * token mass" rather than 50 uniform rows. Each row gets
    *
    *   priority = w · 2^56 / (h56(key) + 1)
    *
    * (u = (h+1)/2^56 is the deterministic uniform; w/u is the priority);
    * the sample is the top-k by priority, and with τ = the (k+1)-th
    * priority, ŵ = max(w, τ) estimates any subset's weight-sum
    * unbiasedly: Σ_{sampled ∩ S} max(w,τ) ≈ Σ_S w.
    *
    * Chosen over Efraimidis-Spirakis (u^(1/w) keys) deliberately: E-S
    * needs libm `pow`, which engines round differently in the last ulp —
    * a hash-compare landmine at rank boundaries. Here every operation
    * (integer hash, +1, one multiply, one divide) is IEEE
    * correctly-rounded, so priorities — and therefore the SAMPLE
    * MEMBERSHIP — are bit-identical on any engine. The determinism
    * doubles as reproducibility: the sample is a pure function of the
    * data, recomputable by any stack that has md5.
    *
    * Scale: one narrow scan + TakeOrdered(k+1); the only global object
    * is the (k+1)-row top set. Returns the k sampled rows with
    * (sample_rank, priority, w_hat). */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val pr = col(weightCol).cast("double") * lit(7.2057594037927936e16) /
      (graft.engine.Det.h56(col(keyCol).cast("string")) + lit(1L))
        .cast("double")
    val top = df.withColumn("__pr", pr)
      .orderBy(desc("__pr"), col(keyCol))
      .limit(k + 1)
      .staged
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("__pr"), col(keyCol))
    // (k+1)-row relation: the single-partition window is bounded by k
    val ranked = top.withColumn("__rk", row_number().over(w))
    // 1-row aggregate (NULL when the population has <= k rows: then the
    // sample is exhaustive and w_hat degrades to the exact weight)
    val tau = ranked.agg(
      max(when(col("__rk") === k + 1, col("__pr"))).as("__tau"))
    ranked.filter(col("__rk") <= k)
      .crossJoin(broadcast(tau))
      .select(col(keyCol), col(weightCol), col("__rk").as("sample_rank"),
        graft.engine.Det.roundN(col("__pr"), 4).as("priority"),
        graft.engine.Det.roundN(
          greatest(col(weightCol).cast("double"),
            coalesce(col("__tau"), lit(0.0))), 4)
          .as("w_hat"))
  }
}
