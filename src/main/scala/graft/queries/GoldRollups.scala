package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}
import graft.engine.Stage.syntax._
import graft.operators.EventAnalytics

/** Weekly/monthly gold rollups and reporting views the reference declares
  * (aggregate_gold.py:45-72 weekly_aggregates + monthly_kpis DDL;
  * aggregate_gold.py:200-219 v_data_completeness; model_gold.py:339-346
  * top-5/bottom-5 JSON export), populated idiomatically from the daily
  * event stream.
  *
  * Scale notes: every rollup is a single keyed aggregate over the daily
  * base (map-side combinable); the only unpartitioned windows (weekly /
  * monthly lag for trend) run over calendar-bounded inputs — one row per
  * week / month — the same bounded-cardinality exception as the other gold
  * snapshots.
  */
object GoldRollups {

  private val roundN = Det.roundNSql _

  /** Per-day record counts + a 0-100 quality score derived from the error
    * rate — the daily_aggregates feed the weekly rollup consumes. */
  private def dailyBase(s: SparkSession, d: String): DataFrame = {
    val errPct = count(when(col("event_type") === "error", 1)) * 100.0 /
      count(lit(1))
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("records"),
        Det.roundN(lit(100.0) - errPct, 2).as("quality"))
  }

  /** The conversion funnel's steps, in order. */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** The conversion window of `q_funnel_windowed`. */
  private val FunnelWindowHours = 48

  private val dailyBaseSql =
    s"""daily AS (
       |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS records,
       |    ${Det.roundNSql("100.0 - COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*)", 2)} AS quality
       |  FROM events GROUP BY 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // gold.weekly_aggregates: ISO week rollup of the daily aggregates —
    // totals, peak-day argmax, avg quality, and a week-over-week trend
    // label (same ±10% classifier as W5). Ref: aggregate_gold.py:45-57.
    QueryDef.sql(
      "q_gold_weekly_aggregates",
      s"""WITH $dailyBaseSql,
         |weekly AS (
         |  SELECT CAST(date_trunc('week', d) AS DATE) AS week_start_date,
         |    CAST(SUM(records) AS BIGINT) AS total_records_processed,
         |    ${roundN("CAST(SUM(records) AS DOUBLE) / COUNT(*)", 2)} AS avg_daily_records,
         |    CAST(MAX(records) AS BIGINT) AS peak_day_records,
         |    ${roundN(Det.davgSql("quality"), 2)} AS avg_quality_score
         |  FROM daily GROUP BY 1),
         |lagged AS (
         |  SELECT *, lag(total_records_processed, 1) OVER (ORDER BY week_start_date) AS prev_total
         |  FROM weekly)
         |SELECT week_start_date,
         |  CAST(weekofyear(week_start_date) AS BIGINT) AS week_number,
         |  CAST(year(week_start_date) AS BIGINT) AS year,
         |  total_records_processed, avg_daily_records, peak_day_records,
         |  avg_quality_score,
         |  CASE WHEN prev_total IS NULL OR prev_total = 0 THEN 'STABLE'
         |       WHEN (total_records_processed - prev_total) * 100.0 / prev_total > 10 THEN 'INCREASING'
         |       WHEN (total_records_processed - prev_total) * 100.0 / prev_total < -10 THEN 'DECREASING'
         |       ELSE 'STABLE' END AS trend_direction
         |FROM lagged ORDER BY week_start_date""".stripMargin) { (s, d) =>
      val weekly = dailyBase(s, d)
        .groupBy(to_date(date_trunc("week", col("d"))).as("week_start_date"))
        .agg(sum(col("records")).as("total_records_processed"),
          Det.roundN(sum(col("records")).cast("double") / count(lit(1)), 2)
            .as("avg_daily_records"),
          max(col("records")).as("peak_day_records"),
          Det.roundN(Det.davg(col("quality")), 2).as("avg_quality_score"))
      // bounded window: one row per calendar week
      val w = Window.orderBy("week_start_date")
      val pct = (col("total_records_processed") - col("prev_total")) * 100.0 /
        col("prev_total")
      weekly
        .withColumn("prev_total", lag(col("total_records_processed"), 1).over(w))
        .select(col("week_start_date"),
          weekofyear(col("week_start_date")).cast("long").as("week_number"),
          year(col("week_start_date")).cast("long").as("year"),
          col("total_records_processed"), col("avg_daily_records"),
          col("peak_day_records"), col("avg_quality_score"),
          when(col("prev_total").isNull || col("prev_total") === 0, "STABLE")
            .when(pct > 10, "INCREASING")
            .when(pct < -10, "DECREASING")
            .otherwise("STABLE").as("trend_direction"))
        .orderBy("week_start_date")
    },

    // gold.monthly_kpis: calendar-month KPIs — case/death totals, mortality
    // %, distinct + first-seen ("new") users, growth %, and a completeness
    // score (% of the month's days with data). Ref: aggregate_gold.py:59-72.
    QueryDef.sql(
      "q_gold_monthly_kpis",
      s"""WITH ev AS (
         |  SELECT user_id, event_type, value, CAST(ts AS DATE) AS d,
         |    CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS m
         |  FROM events),
         |monthly AS (
         |  SELECT m,
         |    ${Det.dsumSql("value")} AS total_covid_cases,
         |    CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_covid_deaths,
         |    COUNT(DISTINCT user_id) AS total_users,
         |    COUNT(DISTINCT d) AS days_with_data
         |  FROM ev GROUP BY 1),
         |first_seen AS (SELECT user_id, MIN(m) AS m FROM ev GROUP BY 1),
         |fresh AS (SELECT m, COUNT(*) AS new_users FROM first_seen GROUP BY 1)
         |SELECT monthly.m AS month_start,
         |  monthname(monthly.m) AS month_name,
         |  CAST(year(monthly.m) AS BIGINT) AS year,
         |  total_covid_cases, total_covid_deaths,
         |  CASE WHEN total_covid_cases > 0
         |       THEN ${roundN("total_covid_deaths / total_covid_cases * 100", 2)}
         |       ELSE 0.0 END AS avg_mortality_rate,
         |  CAST(total_users AS BIGINT) AS total_users,
         |  CAST(COALESCE(fresh.new_users, 0) AS BIGINT) AS new_users,
         |  ${roundN("COALESCE(fresh.new_users, 0) * 100.0 / total_users", 2)} AS user_growth_rate,
         |  CAST(FLOOR(days_with_data * 100.0 / date_part('day', last_day(monthly.m))) AS BIGINT) AS data_completeness_score
         |FROM monthly LEFT JOIN fresh ON monthly.m = fresh.m
         |ORDER BY month_start""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("d"))
        .withColumn("m", to_date(date_trunc("month", col("d"))))
      val monthly = ev.groupBy("m")
        .agg(Det.dsum(col("value")).as("total_covid_cases"),
          Det.dsum(when(col("event_type") === "error", col("value"))
            .otherwise(lit(0.0))).as("total_covid_deaths"),
          countDistinct(col("user_id")).as("total_users"),
          countDistinct(col("d")).as("days_with_data"))
      val fresh = ev.groupBy("user_id").agg(min(col("m")).as("m"))
        .groupBy("m").agg(count(lit(1)).as("new_users"))
      monthly.join(fresh, Seq("m"), "left")
        .select(col("m").as("month_start"),
          date_format(col("m"), "MMMM").as("month_name"),
          year(col("m")).cast("long").as("year"),
          col("total_covid_cases"), col("total_covid_deaths"),
          when(col("total_covid_cases") > 0,
            Det.roundN(col("total_covid_deaths") / col("total_covid_cases") * 100, 2))
            .otherwise(0.0).as("avg_mortality_rate"),
          col("total_users"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          Det.roundN(coalesce(col("new_users"), lit(0L)) * 100.0 /
            col("total_users"), 2).as("user_growth_rate"),
          floor(col("days_with_data") * 100.0 /
            dayofmonth(last_day(col("m")))).cast("long")
            .as("data_completeness_score"))
        .orderBy("month_start")
    },

    // gold.v_data_completeness: per-day survival / recovery % with the
    // reference's zero-guard CASE chains (→ 0, not NULL).
    // Ref: aggregate_gold.py:200-219.
    QueryDef.sql(
      "q_gold_data_completeness",
      s"""WITH g AS (
         |  SELECT CAST(ts AS DATE) AS summary_date,
         |    COUNT(DISTINCT user_id) AS total_countries,
         |    ${Det.dsumSql("value")} AS total_confirmed,
         |    CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_deaths,
         |    CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_recovered
         |  FROM events GROUP BY 1)
         |SELECT summary_date, CAST(total_countries AS BIGINT) AS total_countries,
         |  total_confirmed, total_deaths,
         |  CASE WHEN total_confirmed > 0
         |       THEN ${roundN("(total_confirmed - total_deaths) / total_confirmed * 100", 2)}
         |       ELSE 0.0 END AS survival_rate,
         |  CASE WHEN total_confirmed > 0
         |       THEN ${roundN("total_recovered / total_confirmed * 100", 2)}
         |       ELSE 0.0 END AS recovery_percentage
         |FROM g ORDER BY summary_date DESC""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("summary_date"))
        .agg(countDistinct(col("user_id")).as("total_countries"),
          Det.dsum(col("value")).as("total_confirmed"),
          Det.dsum(when(col("event_type") === "error", col("value"))
            .otherwise(lit(0.0))).as("total_deaths"),
          Det.dsum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))).as("total_recovered"))
        .select(col("summary_date"), col("total_countries"),
          col("total_confirmed"), col("total_deaths"),
          when(col("total_confirmed") > 0,
            Det.roundN((col("total_confirmed") - col("total_deaths")) /
              col("total_confirmed") * 100, 2)).otherwise(0.0)
            .as("survival_rate"),
          when(col("total_confirmed") > 0,
            Det.roundN(col("total_recovered") / col("total_confirmed") * 100, 2))
            .otherwise(0.0).as("recovery_percentage"))
        .orderBy(desc("summary_date"))
    },

    // top_5_countries / bottom_5_countries JSON-list export: latest-day
    // per-country totals → TakeOrdered top/bottom 5 → list-of-structs →
    // JSON text, rank-sorted inside the list (array_sort on the struct's
    // leading rank field keeps the output order-deterministic regardless
    // of collect_list's partition order). Spark and DuckDB render this
    // list-of-structs JSON byte-identically (compact separators, same
    // double formatting), so the export text itself is oracle-checked.
    // Ref: model_gold.py:334-346.
    QueryDef.sql(
      "q_gold_top5_json",
      s"""WITH daily AS (
         |  SELECT user_id AS country, CAST(ts AS DATE) AS d,
         |    ${Det.dsumSql("value")} AS confirmed
         |  FROM events GROUP BY 1, 2),
         |latest AS (
         |  SELECT country, confirmed FROM daily
         |  WHERE d = (SELECT max(d) FROM daily)),
         |top5 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY confirmed DESC, country) AS INT) AS rank,
         |    country, confirmed
         |  FROM latest ORDER BY confirmed DESC, country LIMIT 5),
         |bot5 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY confirmed ASC, country) AS INT) AS rank,
         |    country, confirmed
         |  FROM latest ORDER BY confirmed ASC, country LIMIT 5)
         |SELECT
         |  (SELECT to_json(list(struct_pack(rank := rank, country := country,
         |     confirmed := confirmed) ORDER BY rank)) FROM top5) AS top_5_countries,
         |  (SELECT to_json(list(struct_pack(rank := rank, country := country,
         |     confirmed := confirmed) ORDER BY rank)) FROM bot5) AS bottom_5_countries""".stripMargin) { (s, d) =>
      // staged once (country×day-sized): daily feeds the max-date rollup
      // and the latest snapshot, which both top AND bottom rankings read —
      // unstaged, the events scan ran four times
      val daily = Tables.events(s, d)
        .groupBy(col("user_id").as("country"), to_date(col("ts")).as("d"))
        .agg(Det.dsum(col("value")).as("confirmed"))
        .staged
      val mx = daily.agg(max(col("d")).as("maxd"))
      val latest = daily.join(broadcast(mx), col("d") === col("maxd"))
        .select("country", "confirmed")
      // TakeOrdered top-k (no global window), then rank the 5 survivors
      def packed(top: Boolean): DataFrame = {
        val ord =
          if (top) Seq(desc("confirmed"), asc("country"))
          else Seq(asc("confirmed"), asc("country"))
        latest.orderBy(ord: _*).limit(5)
          .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
          .agg(to_json(array_sort(collect_list(
            struct(col("rank"), col("country"), col("confirmed")))))
            .as(if (top) "top_5_countries" else "bottom_5_countries"))
      }
      packed(top = true).crossJoin(packed(top = false))
    },

    // Ordered conversion funnel view → click → purchase: step i counts a
    // user only when a step-i event lands STRICTLY AFTER their earliest
    // qualifying time for step i−1 (a purchase before the first view
    // doesn't convert). Oracle composes the same earliest-qualifying
    // min-chain; each step is one filtered scan + one user-keyed join on
    // any log size.
    QueryDef.sql(
      "q_funnel_conversion",
      EventAnalytics.funnelOracleSql(FunnelSteps, None)) { (s, d) =>
      EventAnalytics.funnel(Tables.events(s, d), "user_id", "event_type",
          "ts", FunnelSteps)
        .orderBy("step")
    },

    // Same funnel under a 48-hour conversion window (first-touch
    // anchoring: each step's deadline runs from the EARLIEST qualifying
    // previous-step time). Tighter than q_funnel_conversion by
    // construction — the delta between the two is the
    // converted-but-slowly population.
    QueryDef.sql(
      "q_funnel_windowed",
      EventAnalytics.funnelOracleSql(FunnelSteps, Some(FunnelWindowHours))) {
      (s, d) =>
      EventAnalytics.funnel(Tables.events(s, d), "user_id", "event_type",
          "ts", FunnelSteps,
          maxGap = Some(expr(s"INTERVAL $FunnelWindowHours HOUR")))
        .orderBy("step")
    },

    // Per-type OLS trend over the daily event counts: five exact integer
    // sufficient statistics in one aggregate, float division only at the
    // end — the quantitative slope behind the W5 ±10% classifier.
    QueryDef.sql(
      "a_trend_slope",
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
         |  FROM events GROUP BY 1, 2),
         |pts AS (
         |  SELECT event_type, (d - DATE '2024-01-01') AS x, y FROM daily),
         |agg AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM pts GROUP BY 1),
         |res AS (
         |  SELECT event_type, n,
         |    CASE WHEN n * sxx - sx * sx <> 0 THEN
         |      CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE)
         |    END AS raw, sx, sy
         |  FROM agg)
         |SELECT event_type, CAST(n AS BIGINT) AS n_points,
         |  ${roundN("raw", 6)} AS slope,
         |  ${roundN("(CAST(sy AS DOUBLE) - raw * sx) / n", 6)} AS intercept
         |FROM res ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("y"))
        .select(col("event_type"),
          datediff(col("d"), lit("2024-01-01").cast("date")).as("x"),
          col("y"))
      EventAnalytics.olsTrend(daily, "event_type", "x", "y")
        .orderBy("event_type")
    },

    // Weekly retention cohorts: cohort = Monday-truncated week of a
    // user's first event; each (cohort, week-offset) cell reports active
    // members and the retained fraction. Monday alignment keeps the
    // offset exactly integer on both engines.
    QueryDef.sql(
      "q_retention_cohorts",
      s"""WITH wk AS (
         |  SELECT DISTINCT user_id,
         |    CAST(date_trunc('week', ts) AS DATE) AS w
         |  FROM events),
         |co AS (SELECT user_id, MIN(w) AS cw FROM wk GROUP BY 1),
         |sz AS (SELECT cw, COUNT(*) AS n_cohort FROM co GROUP BY 1),
         |act AS (
         |  SELECT co.cw AS cohort_week, (wk.w - co.cw) // 7 AS week_offset,
         |    COUNT(*) AS n_active
         |  FROM wk JOIN co USING (user_id) GROUP BY 1, 2)
         |SELECT act.cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
         |  n_active, n_cohort,
         |  ${roundN("n_active * 1.0 / n_cohort", 4)} AS retention_pct
         |FROM act JOIN sz ON sz.cw = act.cohort_week
         |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      EventAnalytics.retentionCohorts(Tables.events(s, d), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    },

    // First-order Markov transitions over per-user event streams — the
    // "what happens after X" matrix behind path analysis. One lead()
    // window by user (same shuffle key as sessionize/funnel), then the
    // aggregate lands on the |types|² domain, which stays tiny at any
    // event volume. event_id tie-breaks equal timestamps so the sequence
    // is total.
    QueryDef.sql(
      "q_event_transitions",
      s"""WITH ${EventAnalytics.transitionStepsCte},
         |counts AS (
         |  SELECT from_type, to_type, COUNT(*) AS n_transitions
         |  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, n_transitions,
         |  ${roundN("n_transitions * 1.0 / SUM(n_transitions) OVER (PARTITION BY from_type)", 6)} AS p
         |FROM counts ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      EventAnalytics.transitionMatrix(Tables.events(s, d),
          "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")
    },

    // Deterministic A/B readout: users split 50/50 by the cross-engine
    // h56 hash (no RNG, so assignment is reproducible and
    // oracle-checkable), then per-metric Welch's t — the unequal-variance
    // form, which is the one a real experiment readout should default
    // to. All moments come from decimal sums (order-independent); the
    // only irrational step is sqrt, which IEEE-754 rounds identically on
    // every engine, so the t statistic itself hash-matches. One
    // conditional-aggregate pass over events — no per-variant scan.
    QueryDef.sql(
      "a_ab_test",
      s"""WITH v AS (
         |  SELECT event_type, value,
         |    ${Det.h56Sql("CAST(user_id AS VARCHAR)")} % 2 AS variant
         |  FROM events WHERE value IS NOT NULL),
         |m AS (
         |  SELECT event_type,
         |    COUNT(CASE WHEN variant = 0 THEN 1 END) AS na,
         |    COUNT(CASE WHEN variant = 1 THEN 1 END) AS nb,
         |    ${Det.dsumSql("CASE WHEN variant = 0 THEN value END", 6)} AS sxa,
         |    ${Det.dsumSql("CASE WHEN variant = 1 THEN value END", 6)} AS sxb,
         |    ${Det.dsumSql("CASE WHEN variant = 0 THEN value * value END", 6)} AS sxxa,
         |    ${Det.dsumSql("CASE WHEN variant = 1 THEN value * value END", 6)} AS sxxb
         |  FROM v GROUP BY 1),
         |t AS (
         |  SELECT event_type, na, nb,
         |    sxa / na AS mean_a, sxb / nb AS mean_b,
         |    (sxxa - sxa * sxa / na) / (na - 1) AS var_a,
         |    (sxxb - sxb * sxb / nb) / (nb - 1) AS var_b
         |  FROM m WHERE na >= 2 AND nb >= 2)
         |SELECT event_type, na, nb,
         |  ${roundN("mean_a", 6)} AS mean_a, ${roundN("mean_b", 6)} AS mean_b,
         |  ${roundN("(mean_a - mean_b) / SQRT(var_a / na + var_b / nb)", 6)} AS t_stat,
         |  ${roundN(
            """(var_a / na + var_b / nb) * (var_a / na + var_b / nb) /
              |  ((var_a / na) * (var_a / na) / (na - 1)
              |   + (var_b / nb) * (var_b / nb) / (nb - 1))""".stripMargin, 4)} AS welch_df
         |FROM t ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          (Det.h56(col("user_id").cast("string")) % 2).as("variant"))
      val m = v.groupBy("event_type").agg(
        count(when(col("variant") === 0, 1)).as("na"),
        count(when(col("variant") === 1, 1)).as("nb"),
        Det.dsum(when(col("variant") === 0, col("value")), 6).as("sxa"),
        Det.dsum(when(col("variant") === 1, col("value")), 6).as("sxb"),
        Det.dsum(when(col("variant") === 0, col("value") * col("value")), 6)
          .as("sxxa"),
        Det.dsum(when(col("variant") === 1, col("value") * col("value")), 6)
          .as("sxxb"))
      val t = m.filter(col("na") >= 2 && col("nb") >= 2)
        .select(col("event_type"), col("na"), col("nb"),
          (col("sxa") / col("na")).as("mean_a"),
          (col("sxb") / col("nb")).as("mean_b"),
          ((col("sxxa") - col("sxa") * col("sxa") / col("na"))
            / (col("na") - 1)).as("var_a"),
          ((col("sxxb") - col("sxb") * col("sxb") / col("nb"))
            / (col("nb") - 1)).as("var_b"))
      val va = col("var_a") / col("na")
      val vb = col("var_b") / col("nb")
      t.select(col("event_type"), col("na"), col("nb"),
          Det.roundN(col("mean_a"), 6).as("mean_a"),
          Det.roundN(col("mean_b"), 6).as("mean_b"),
          Det.roundN((col("mean_a") - col("mean_b")) / sqrt(va + vb), 6)
            .as("t_stat"),
          Det.roundN((va + vb) * (va + vb) /
            (va * va / (col("na") - 1) + vb * vb / (col("nb") - 1)), 4)
            .as("welch_df"))
        .orderBy("event_type")
    },

    // Last-touch attribution: each purchase credits the user's most
    // recent non-purchase event strictly before it (in the (ts,
    // event_id) total order); purchases with no prior touch credit
    // '(direct)'. The "which event type drives revenue" rollup.
    //
    // Shape: one window by user computing the latest preceding touch
    // TIMESTAMP (MAX over a frame ending at 1 PRECEDING — engines agree
    // on struct-less window maxes), then an equi-join back on (user, ts)
    // resolving the touch's type with a max-event_id tie-break, then the
    // tiny by-type rollup. Shuffles by user key only; no per-row scans.
    QueryDef.sql(
      "q_attribution_last_touch",
      s"""WITH o AS (
         |  SELECT user_id, event_id, event_type, ts, value,
         |    MAX(CASE WHEN event_type <> 'purchase' THEN ts END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS touch_ts
         |  FROM events),
         |p AS (SELECT * FROM o WHERE event_type = 'purchase'),
         |tj AS (
         |  SELECT p.event_id, p.value, p.touch_ts,
         |    MAX(e.event_id) AS touch_id
         |  FROM p LEFT JOIN events e
         |    ON e.user_id = p.user_id AND e.ts = p.touch_ts
         |    AND e.event_type <> 'purchase'
         |  GROUP BY 1, 2, 3),
         |att AS (
         |  SELECT tj.event_id, tj.value,
         |    COALESCE(e.event_type, '(direct)') AS channel
         |  FROM tj LEFT JOIN events e ON e.event_id = tj.touch_id)
         |SELECT channel, COUNT(*) AS n_purchases,
         |  ${Det.dsumSql("COALESCE(value, 0.0)", 4)} AS revenue
         |FROM att GROUP BY 1 ORDER BY channel""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).staged
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val p = ev
        .withColumn("touch_ts",
          max(when(col("event_type") =!= "purchase", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
      val tj = p.as("p").join(
          ev.as("e"),
          col("e.user_id") === col("p.user_id") &&
            col("e.ts") === col("p.touch_ts") &&
            col("e.event_type") =!= "purchase", "left")
        .groupBy(col("p.event_id"), col("p.value"), col("p.touch_ts"))
        .agg(max(col("e.event_id")).as("touch_id"))
      tj.join(ev.select(col("event_id").as("touch_id"),
            col("event_type").as("__tt")), Seq("touch_id"), "left")
        .select(coalesce(col("__tt"), lit("(direct)")).as("channel"),
          col("value"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          Det.dsum(coalesce(col("value"), lit(0.0)), 4).as("revenue"))
        .orderBy("channel")
    },

    // Linear multi-touch attribution — the fairness counterpart to
    // last-touch: every non-purchase touch in the purchase's trailing
    // 72h window splits the credit equally (value/n).
    //
    // SKEW NOTE (round-12 sweep): the natural purchase⋈touch window join
    // materializes one row per (purchase, in-window touch) — per-user
    // QUADRATIC, and a Zipf-hot user turns it into a corpus straggler
    // (measured 44 s on the skewed sf1 lake, 2.4 s flat). The asked-for
    // answer is per-channel SUMS, so the pair relation never needs to
    // exist: per (user, channel) the engine computes a cumulative touch
    // count over the (ts, rank, event_id) total order and probes it at
    // each purchase's two window edges (start = ts−72h at rank 0, below
    // every real event at that instant whatever the lake's id domain;
    // end = the purchase's own (ts, id) position at rank 1, which
    // encodes the strictly-before tie rule), giving count(channel) =
    // cumEnd − cumStart with zero joins — rows = touches + 2·purchases×
    // |channels|, corpus-linear under any key distribution. Credit
    // quantization mirrors Det.dsum exactly: the per-row quantized
    // integer q = floor(credit·1e6 + 0.5) is identical across a
    // purchase's rows, so q × count is bit-equal to the oracle's
    // row-wise decimal sum. The pair-materializing SQL stays the oracle.
    QueryDef.sql(
      "q_attribution_linear",
      s"""WITH t AS (
         |  SELECT user_id, ts, event_id, event_type FROM events
         |  WHERE event_type <> 'purchase'),
         |p AS (
         |  SELECT user_id, ts, event_id, value FROM events
         |  WHERE event_type = 'purchase'),
         |tw AS (
         |  SELECT p.event_id AS pid, p.value, t.event_type AS channel
         |  FROM p JOIN t ON t.user_id = p.user_id
         |    AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
         |    AND epoch_us(p.ts) - epoch_us(t.ts) <= 259200000000),
         |cr AS (
         |  SELECT pid, channel,
         |    COALESCE(value, 0.0) / (COUNT(*) OVER (PARTITION BY pid)) AS credit
         |  FROM tw),
         |direct AS (
         |  SELECT '(direct)' AS channel, COALESCE(p.value, 0.0) AS credit
         |  FROM p LEFT JOIN (SELECT DISTINCT pid FROM tw) h ON h.pid = p.event_id
         |  WHERE h.pid IS NULL),
         |allc AS (
         |  SELECT channel, credit FROM cr
         |  UNION ALL SELECT channel, credit FROM direct)
         |SELECT channel, COUNT(*) AS n_credits,
         |  ${Det.dsumSql("credit", 6)} AS revenue_credit
         |FROM allc GROUP BY 1 ORDER BY channel""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, d).staged
      val t = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
          unix_micros(col("ts")).as("k_ts"), col("event_id").as("k_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
          col("event_id").as("pid"), col("value"))
      val channels = t.select("channel").distinct()
      // two probe rows per (purchase, channel): the window's start edge
      // carries ord=0 so it sorts below every real event at ts−72h
      // regardless of the lake's event_id domain (ties at the edge are
      // IN-window); the end edge carries ord=1 and the purchase's own id
      // so same-instant touches with smaller ids count and larger don't
      val probes = p.crossJoin(broadcast(channels))
        .select(col("user_id"), col("channel"), col("pid"), col("value"),
          explode(array(
            struct((col("p_us") - lit(259200000000L)).as("k_ts"),
              lit(0L).as("ord"), col("pid").as("k_id"), lit("s").as("kind")),
            struct(col("p_us").as("k_ts"), lit(1L).as("ord"),
              col("pid").as("k_id"), lit("e").as("kind")))).as("pr"))
        .select(col("user_id"), col("channel"), col("pid"), col("value"),
          col("pr.k_ts"), col("pr.ord"), col("pr.k_id"), col("pr.kind"),
          lit(0L).as("delta"))
      val touches = t.select(col("user_id"), col("channel"),
        lit(null).cast("long").as("pid"),
        lit(null).cast("double").as("value"),
        col("k_ts"), lit(1L).as("ord"), col("k_id"),
        lit(null).cast("string").as("kind"),
        lit(1L).as("delta"))
      val wc = Window.partitionBy("user_id", "channel")
        .orderBy("k_ts", "ord", "k_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cnts = probes.unionByName(touches)
        .withColumn("cum", sum(col("delta")).over(wc))
        .filter(col("kind").isNotNull)
        .groupBy("pid", "value", "channel")
        .agg((max(when(col("kind") === "e", col("cum")))
          - max(when(col("kind") === "s", col("cum")))).as("cnt"))
      val wp = Window.partitionBy("pid")
      val withN = cnts.withColumn("np", sum(col("cnt")).over(wp))
      // q = the SAME per-row quantized credit Det.dsum(credit, 6) would
      // produce; multiplying the decimal by the exact integer count is
      // bit-equal to summing count identical rows. cnt > 0 is load-
      // bearing for parity, not just size: the oracle's pair relation
      // only ever SEES channels with an in-window touch, so a channel
      // whose touches all fall outside every purchase window must emit
      // no row at all — without the filter it would surface as a
      // (channel, 0, 0.0) ghost whenever some OTHER channel gave np > 0
      val attributed = withN.filter(col("np") > 0 && col("cnt") > 0)
        .select(col("channel"), col("cnt"),
          (floor(coalesce(col("value"), lit(0.0)) / col("np")
              * lit(1e6) + lit(0.5)).cast(DecimalType(38, 0))
            * col("cnt")).as("q"))
      val direct = p.join(
          withN.filter(col("np") > 0).select("pid").distinct(),
          Seq("pid"), "left_anti")
        .select(lit("(direct)").as("channel"), lit(1L).as("cnt"),
          floor(coalesce(col("value"), lit(0.0)) * lit(1e6) + lit(0.5))
            .cast(DecimalType(38, 0)).as("q"))
      attributed.unionByName(direct)
        .groupBy("channel")
        .agg(sum(col("cnt")).as("n_credits"),
          (sum(col("q")).cast("double") / lit(1e6)).as("revenue_credit"))
        .orderBy("channel")
    },

    // OHLC daily bars — the canonical time-bucket summary for any
    // metric stream (open = first value in the bucket by (ts, event_id),
    // close = last, high/low = extremes): one grouped aggregate with
    // argmin/argmax over the total order, no window, no sort beyond the
    // final presentation ORDER BY.
    QueryDef.sql(
      "w_ohlc_daily",
      s"""WITH v AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, value, ts, event_id
         |  FROM events WHERE value IS NOT NULL),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY event_type, day
         |      ORDER BY ts, event_id) AS rf,
         |    row_number() OVER (PARTITION BY event_type, day
         |      ORDER BY ts DESC, event_id DESC) AS rl
         |  FROM v)
         |SELECT event_type, day,
         |  MAX(CASE WHEN rf = 1 THEN value END) AS open,
         |  MAX(value) AS high, MIN(value) AS low,
         |  MAX(CASE WHEN rl = 1 THEN value END) AS close,
         |  COUNT(value) AS n_values
         |FROM r GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(col("value")).as("n_values"))
        .orderBy("event_type", "day")
    },

    // Incremental rollup maintenance — the warehouse pattern where a new
    // partition's PARTIAL aggregate merges into yesterday's state instead
    // of recomputing the world: state(base) ⊎ partial(delta) with the
    // merge laws n=Σn, sum=Σsum (decimal — order-independent), min/max
    // idempotent, avg derived at read time. The Spark side takes the
    // incremental path; the ORACLE recomputes from the full table — the
    // hash match IS the end-to-end proof of the merge law (a lossy merge
    // would flip low bits and fail the gate).
    QueryDef.sql(
      "q_incremental_rollup",
      s"""SELECT o_orderpriority,
         |  COUNT(*) AS n_orders,
         |  ${Det.dsumSql("o_totalprice")} AS total_price,
         |  MIN(o_totalprice) AS min_price,
         |  MAX(o_totalprice) AS max_price,
         |  ${Det.davgSql("o_totalprice")} AS avg_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val orders = Tables.orders(s, d)
      val cut = lit("2000-01-01").cast("timestamp")
      def partial(df: DataFrame) = df.groupBy("o_orderpriority").agg(
        count(lit(1)).as("pn"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("ps"),
        min(col("o_totalprice")).as("pmin"),
        max(col("o_totalprice")).as("pmax"))
      val state = partial(orders.filter(col("o_orderdate") < cut))
      val delta = partial(orders.filter(col("o_orderdate") >= cut))
      state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(sum(col("pn")).as("n_orders"),
          sum(col("ps")).as("ts"),
          min(col("pmin")).as("min_price"),
          max(col("pmax")).as("max_price"))
        .select(col("o_orderpriority"), col("n_orders"),
          col("ts").cast("double").as("total_price"),
          col("min_price"), col("max_price"),
          (col("ts").cast("double") / col("n_orders")).as("avg_price"))
        .orderBy("o_orderpriority")
    },
  )
}
