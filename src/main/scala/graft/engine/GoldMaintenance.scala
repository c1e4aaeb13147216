package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of the gold daily rollup — the production
  * pattern for a pipeline that runs per batch: instead of re-aggregating
  * the whole history, only the dates an arriving batch TOUCHES are
  * recomputed (a partition-pruned scan of those dates' events) and merged
  * with the untouched gold rows. Late-arriving events just make their old
  * date "touched" — its partition is recomputed from source, so the
  * incremental result is EXACTLY the full recompute (the oracle for
  * `q_gold_incremental` is the full-recompute SQL; decimal sums make the
  * equivalence bit-exact, not just approximate).
  *
  * Pairs with `Pipeline.upsertByDate`: the recomputed rows dynamically
  * overwrite exactly their own date partitions at rest.
  */
object GoldMaintenance {

  /** The gold daily-aggregate shape (aggregate_gold.py:76-254's daily
    * table), shared by the full build, the incremental rebuild, and the
    * q_gold_daily_aggregates oracle — one definition, so the three can
    * never drift. Unordered; callers sort. */
  def dailyAgg(events: DataFrame): DataFrame = {
    val errRate = count(when(col("event_type") === "error", 1)) * 100.0 /
      count(lit(1))
    events
      .groupBy(to_date(col("ts")).as("summary_date"))
      .agg(count(lit(1)).as("records_processed"),
        Det.dsum(col("value")).as("total_value"),
        Det.roundN(errRate, 2).as("error_rate_pct"),
        when(errRate < 5, "EXCELLENT").when(errRate < 10, "GOOD")
          .when(errRate < 15, "FAIR").otherwise("POOR").as("quality_rating"),
        Det.roundN(count(lit(1)) / 3600.0, 2).as("records_per_second"))
  }

  /** DuckDB form of [[dailyAgg]] over all of `events`, ordered by date:
    * the oracle of the full build and of the incremental rebuild. */
  val dailyAggOracleSql: String =
    s"""SELECT CAST(ts AS DATE) AS summary_date,
       |  COUNT(*) AS records_processed,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  ${Det.roundNSql("COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*)", 2)} AS error_rate_pct,
       |  CASE
       |    WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) < 5 THEN 'EXCELLENT'
       |    WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) < 10 THEN 'GOOD'
       |    WHEN COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) < 15 THEN 'FAIR'
       |    ELSE 'POOR' END AS quality_rating,
       |  ${Det.roundNSql("COUNT(*) / 3600.0", 2)} AS records_per_second
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Merge an existing gold table with a batch: gold rows for untouched
    * dates pass through unread from source; touched dates are recomputed
    * from `allEvents` restricted to those dates (at rest: a partition-
    * pruned scan + dynamic partition overwrite). `touchedDates` is a
    * 1-column (touched_date) relation — small (dates in one batch),
    * broadcast into both the anti- and semi-joins. */
  def incrementalDaily(oldGold: DataFrame, allEvents: DataFrame,
      touchedDates: DataFrame): DataFrame = {
    val untouched = oldGold.join(broadcast(touchedDates),
      oldGold("summary_date") === touchedDates("touched_date"), "left_anti")
    val recomputed = dailyAgg(
      allEvents.join(broadcast(touchedDates),
        to_date(col("ts")) === col("touched_date"), "left_semi"))
    untouched.unionByName(recomputed)
  }
}
