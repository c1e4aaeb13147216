package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's flagship silver transform (transform_covid_data,
  * /root/reference/scripts/silver/transform_silver.py:274-386) re-expressed
  * as pure column expressions over a canonical time-series frame:
  *
  *   country: string-ish key, province: optional sub-key,
  *   record_date: date, confirmed / deaths / recovered: cumulative doubles.
  *
  * Stages (all lazy, single lineage, no driver round-trips):
  *   coerce → derive (active, rates) → windows (diff, rolling) →
  *   score+flag → dedup.
  *
  * Scale notes: the only shuffles are the window partitionBy(country) and
  * the dedup — both key-partitioned, both linear at 100 TB. The reference's
  * per-row Python loop and groupby().apply() (transform_silver.py:166-223,
  * 336) become whole-stage-codegen'd expressions; its quality score needs
  * no UDF (SURVEY §2.11).
  *
  * Parity quirk preserved: windows partition by country ONLY (provinces of
  * one country interleave within a diff group), matching the reference's
  * sort_values(['country','date']).groupby('country').diff() —
  * transform_silver.py:312-314, SURVEY §7.4.1.
  */
object SilverCovid {

  /** Magnitude thresholds; reference values at transform_silver.py:337-341.
    * Parameterized so testdata-scale adapters can exercise the branches. */
  final case class Thresholds(outlierConfirmed: Double = 1e7,
                              outlierDaily: Double = 1e6)

  /** The thresholds the pipeline and `q_covid_silver` run with: the test
    * lakes' cumulative counts stay far below the reference values, so these
    * are scaled down until the outlier branch fires. */
  val FixtureThresholds: Thresholds =
    Thresholds(outlierConfirmed = 5000, outlierDaily = 400)

  /** P5 numeric coercion: to_numeric(errors='coerce').fillna(0).
    * try_cast, not cast — under Spark 4's default ANSI mode a plain cast
    * would THROW on malformed input instead of nulling it. */
  def coerce(df: DataFrame): DataFrame = {
    val counts = Seq("confirmed", "deaths", "recovered")
    counts.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(expr(s"try_cast($c AS DOUBLE)"), lit(0.0))))
  }

  /** Derived metrics: active (clamped ≥0), guarded rates ×100 (→0 on zero
    * confirmed, matching np.where). Ref: transform_silver.py:297-310. */
  def derive(df: DataFrame): DataFrame =
    df.withColumn("active",
        greatest(lit(0.0), col("confirmed") - col("deaths") - col("recovered")))
      .withColumn("mortality_rate",
        when(col("confirmed") > 0,
          Det.roundN(col("deaths") / col("confirmed") * 100, 2))
          .otherwise(0.0))
      .withColumn("recovery_rate",
        when(col("confirmed") > 0,
          Det.roundN(col("recovered") / col("confirmed") * 100, 2))
          .otherwise(0.0))

  /** W1 per-country diff (first row → 0) and W2 trailing 7-row mean with
    * shrinking frame (pandas rolling(7, min_periods=1)).
    * Ref: transform_silver.py:312-317. */
  def windows(df: DataFrame): DataFrame = {
    // province (when present) breaks date ties so lag/rolling are
    // deterministic for multi-province countries sharing a date — pandas'
    // stable sort made the quirk deterministic; Spark needs the explicit
    // tiebreak while still partitioning by country only
    val orderCols =
      if (df.columns.contains("province")) Seq(col("record_date"), col("province"))
      else Seq(col("record_date"))
    val w = Window.partitionBy("country").orderBy(orderCols: _*)
    val w7 = w.rowsBetween(-6, 0)
    df.withColumn("daily_new_cases",
        Det.roundN(coalesce(col("confirmed") - lag(col("confirmed"), 1).over(w),
          lit(0.0)), 2))
      .withColumn("daily_new_deaths",
        Det.roundN(coalesce(col("deaths") - lag(col("deaths"), 1).over(w),
          lit(0.0)), 2))
      .withColumn("weekly_avg_cases",
        Det.roundN(avg(col("daily_new_cases")).over(w7), 2))
  }

  /** Additive penalty score, start 100 floor 0: −30 negative counts,
    * −20 deaths>confirmed, −20 recovered>confirmed, −10 magnitude outlier;
    * plus the boolean outlier flag. Ref: transform_silver.py:319-341. */
  def score(df: DataFrame, t: Thresholds = Thresholds()): DataFrame = {
    val outlier = col("confirmed") > t.outlierConfirmed ||
      col("daily_new_cases") > t.outlierDaily
    df.withColumn("is_outlier", outlier)
      .withColumn("data_quality_score",
        greatest(lit(0), lit(100)
          - when(col("confirmed") < 0 || col("deaths") < 0 ||
              col("recovered") < 0, 30).otherwise(0)
          - when(col("deaths") > col("confirmed"), 20).otherwise(0)
          - when(col("recovered") > col("confirmed"), 20).otherwise(0)
          - when(outlier, 10).otherwise(0)))
  }

  /** P9 dedup keep-first by (record_date, country, province) with an
    * explicit deterministic tiebreak (SURVEY §7.4.3). */
  def dedup(df: DataFrame): DataFrame = {
    val keys =
      if (df.columns.contains("province")) Seq("record_date", "country", "province")
      else Seq("record_date", "country")
    // tiebreak on the VALUE columns (the keys are constant within a
    // partition, so ordering by them would leave keep-first arbitrary)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("confirmed"), col("deaths"), col("recovered"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Full flagship lineage. */
  def transform(df: DataFrame, t: Thresholds = Thresholds()): DataFrame =
    dedup(score(windows(derive(coerce(df))), t))

  /** Adapter: builds the canonical cumulative covid frame from the testdata
    * `events` table (user_id ≈ country, day ≈ record_date; cumulative sums
    * as case counts). Cumulative sums stay DECIMAL through the window so
    * Spark and any oracle agree bit-for-bit after the final double cast. */
  def fromEvents(events: DataFrame): DataFrame = {
    val dec = DecimalType(18, 2)
    val daily = events
      .groupBy(col("user_id").as("country"), to_date(col("ts")).as("record_date"))
      .agg(
        sum(col("value").cast(dec)).as("new_cases"),
        sum(when(col("event_type") === "error", col("value")).otherwise(0.0)
          .cast(dec)).as("new_deaths"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)
          .cast(dec)).as("new_recovered"))
    val w = Window.partitionBy("country").orderBy("record_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(
      col("country"), col("record_date"),
      sum(col("new_cases")).over(w).cast("double").as("confirmed"),
      sum(col("new_deaths")).over(w).cast("double").as("deaths"),
      sum(col("new_recovered")).over(w).cast("double").as("recovered"))
  }
}
