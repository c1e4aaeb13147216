package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Det, GoldMaintenance, SilverCovid, Tables}
import graft.engine.Stage.syntax._

/** Composite lineages mirroring the reference's silver/gold pipelines
  * (SURVEY §3.2, §3.3): the flagship covid silver transform, the
  * time-shifted snapshot join, and the gold summary/aggregate models.
  */
object Composites {

  private val roundN = Det.roundNSql _

  /** `SilverCovid`'s outlier rule at the fixture thresholds, in SQL. */
  private val covidOutlierSql = {
    val t = SilverCovid.FixtureThresholds
    s"confirmed > ${t.outlierConfirmed.toLong} OR daily_new_cases > ${t.outlierDaily.toLong}"
  }

  val defs: Seq[QueryDef] = Seq(

    // §3.2 flagship: full silver lineage (coerce → derive → W1/W2 windows →
    // score/flag → dedup) through graft.engine.SilverCovid over the events
    // adapter, at SilverCovid.FixtureThresholds.
    // Ref: transform_silver.py:274-386.
    QueryDef.sql(
      "q_covid_silver",
      s"""WITH daily AS (
         |  SELECT user_id AS country, CAST(ts AS DATE) AS record_date,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS new_cases,
         |    SUM(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS new_deaths,
         |    SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS new_recovered
         |  FROM events GROUP BY 1, 2),
         |cum AS (
         |  SELECT country, record_date,
         |    CAST(SUM(new_cases) OVER w AS DOUBLE) AS confirmed,
         |    CAST(SUM(new_deaths) OVER w AS DOUBLE) AS deaths,
         |    CAST(SUM(new_recovered) OVER w AS DOUBLE) AS recovered
         |  FROM daily
         |  WINDOW w AS (PARTITION BY country ORDER BY record_date
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |deriv AS (
         |  SELECT *, GREATEST(0.0, confirmed - deaths - recovered) AS active,
         |    CASE WHEN confirmed > 0 THEN ${roundN("deaths / confirmed * 100", 2)} ELSE 0.0 END AS mortality_rate,
         |    CASE WHEN confirmed > 0 THEN ${roundN("recovered / confirmed * 100", 2)} ELSE 0.0 END AS recovery_rate
         |  FROM cum),
         |win AS (
         |  SELECT *,
         |    ${roundN("COALESCE(confirmed - lag(confirmed, 1) OVER (PARTITION BY country ORDER BY record_date), 0.0)", 2)} AS daily_new_cases,
         |    ${roundN("COALESCE(deaths - lag(deaths, 1) OVER (PARTITION BY country ORDER BY record_date), 0.0)", 2)} AS daily_new_deaths
         |  FROM deriv),
         |win2 AS (
         |  SELECT *,
         |    ${roundN("AVG(daily_new_cases) OVER (PARTITION BY country ORDER BY record_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", 2)} AS weekly_avg_cases
         |  FROM win)
         |SELECT country, record_date, confirmed, deaths, recovered, active,
         |  mortality_rate, recovery_rate, daily_new_cases, daily_new_deaths,
         |  weekly_avg_cases,
         |  ($covidOutlierSql) AS is_outlier,
         |  GREATEST(0, 100
         |    - CASE WHEN confirmed < 0 OR deaths < 0 OR recovered < 0 THEN 30 ELSE 0 END
         |    - CASE WHEN deaths > confirmed THEN 20 ELSE 0 END
         |    - CASE WHEN recovered > confirmed THEN 20 ELSE 0 END
         |    - CASE WHEN $covidOutlierSql THEN 10 ELSE 0 END) AS data_quality_score
         |FROM win2 ORDER BY country, record_date""".stripMargin) { (s, d) =>
      SilverCovid
        .transform(SilverCovid.fromEvents(Tables.events(s, d)),
          SilverCovid.FixtureThresholds)
        .select("country", "record_date", "confirmed", "deaths", "recovered",
          "active", "mortality_rate", "recovery_rate", "daily_new_cases",
          "daily_new_deaths", "weekly_avg_cases", "is_outlier",
          "data_quality_score")
        .orderBy("country", "record_date")
    },

    // J2 time-shifted self-join: latest-day snapshot LEFT JOIN prev-day
    // LEFT JOIN week-ago, per key — each side a filtered snapshot of the
    // same daily frame, all joined on the key after a broadcast of the
    // 1-row max-date aggregate. Ref: model_gold.py:246-287.
    QueryDef.sql(
      "j2_time_shift_join",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT MAX(d) AS maxd FROM daily)
        |SELECT l.user_id, l.v AS v_today, p.v AS v_prev_day, w.v AS v_week_ago
        |FROM daily l JOIN mx ON l.d = mx.maxd
        |LEFT JOIN daily p ON p.user_id = l.user_id AND p.d = mx.maxd - 1
        |LEFT JOIN daily w ON w.user_id = l.user_id AND w.d = mx.maxd - 7
        |ORDER BY l.user_id""".stripMargin) { (s, d) =>
      // staged once (user×day-sized): daily feeds the max-date rollup and
      // all three join sides — unstaged, the events scan ran four times
      val daily = Fixtures.userDaily(Tables.events(s, d))
      val mx = daily.agg(max(col("d")).as("maxd"))
      val latest = daily.join(broadcast(mx), col("d") === col("maxd"))
        .select(col("user_id"), col("v").as("v_today"), col("maxd"))
      val prev = daily.select(col("user_id").as("p_uid"), col("d").as("p_d"),
        col("v").as("v_prev_day"))
      val week = daily.select(col("user_id").as("w_uid"), col("d").as("w_d"),
        col("v").as("v_week_ago"))
      latest
        .join(prev, col("p_uid") === col("user_id") &&
          col("p_d") === date_sub(col("maxd"), 1), "left")
        .join(week, col("w_uid") === col("user_id") &&
          col("w_d") === date_sub(col("maxd"), 7), "left")
        .select("user_id", "v_today", "v_prev_day", "v_week_ago")
        .orderBy("user_id")
    },

    // §3.3 gold global snapshot: latest-day totals + day-over-day and
    // week-over-week % with zero-guards (DoD→NULL like the reference's
    // weekly_growth). Ref: model_gold.py:243-330.
    QueryDef.sql(
      "q_gold_global_snapshot",
      s"""WITH g AS (
         |  SELECT CAST(ts AS DATE) AS d,
         |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
         |         COUNT(DISTINCT user_id) AS n_users
         |  FROM events GROUP BY 1),
         |lagged AS (
         |  SELECT d, v, n_users,
         |    lag(v, 1) OVER (ORDER BY d) AS prev_v,
         |    lag(v, 7) OVER (ORDER BY d) AS week_v
         |  FROM g)
         |SELECT d AS record_date, v AS total_value, n_users,
         |  prev_v, week_v,
         |  CASE WHEN prev_v > 0 THEN ${roundN("(v - prev_v) / prev_v * 100", 2)} END AS dod_pct,
         |  CASE WHEN week_v > 0 THEN ${roundN("(v - week_v) / week_v * 100", 2)} END AS wow_pct
         |FROM lagged WHERE d = (SELECT MAX(d) FROM g)""".stripMargin) { (s, d) =>
      val g = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(Det.dsum(col("value")).as("v"),
          countDistinct(col("user_id")).as("n_users"))
      val w = Window.orderBy("d")
      val lagged = g
        .withColumn("prev_v", lag(col("v"), 1).over(w))
        .withColumn("week_v", lag(col("v"), 7).over(w))
      val mx = g.agg(max(col("d")).as("maxd"))
      lagged.join(broadcast(mx), col("d") === col("maxd"))
        .select(col("d").as("record_date"), col("v").as("total_value"),
          col("n_users"), col("prev_v"), col("week_v"),
          when(col("prev_v") > 0,
            Det.roundN((col("v") - col("prev_v")) / col("prev_v") * 100, 2))
            .as("dod_pct"),
          when(col("week_v") > 0,
            Det.roundN((col("v") - col("week_v")) / col("week_v") * 100, 2))
            .as("wow_pct"))
    },

    // Gold daily aggregates + reporting-view metrics: guarded records/sec,
    // quality rating CASE chain, error-rate %.
    // Ref: aggregate_gold.py:76-254 (daily agg table + v_pipeline_performance
    // + quality rating buckets).
    QueryDef.sql(
      "q_gold_daily_aggregates",
      GoldMaintenance.dailyAggOracleSql) { (s, d) =>
      GoldMaintenance.dailyAgg(Tables.events(s, d))
        .orderBy("summary_date")
    },

    // Incremental gold maintenance, oracle-proven equivalent to the full
    // recompute: the "arriving batch" is the last two dates PLUS a late
    // trickle on a 10-days-old date; existing gold is built from
    // everything else, then incrementalDaily merges untouched gold rows
    // with recomputed touched dates. The oracle is the FULL recompute
    // over all events — hash equality proves partition-level maintenance
    // loses nothing, bit-exactly (decimal sums make regrouping stable).
    QueryDef.sql(
      "q_gold_incremental",
      GoldMaintenance.dailyAggOracleSql) { (s, d) =>
      val evd = Tables.events(s, d).withColumn("__d", to_date(col("ts")))
      val maxd = evd.agg(max(col("__d")).as("maxd"))
      val flagged = evd.crossJoin(broadcast(maxd))
        .withColumn("__is_batch",
          col("__d") >= date_sub(col("maxd"), 1) ||
            (col("__d") === date_sub(col("maxd"), 10) &&
              col("user_id") % 7 === 0))
      val existing = flagged.filter(!col("__is_batch")).staged
      val batch = flagged.filter(col("__is_batch")).staged
      val oldGold = GoldMaintenance.dailyAgg(existing)
      val touched = batch.select(col("__d").as("touched_date")).distinct()
      GoldMaintenance.incrementalDaily(oldGold, flagged, touched)
        .orderBy("summary_date")
    },

    // Gold user-analytics profile: per-segment counts + share-of-total via
    // a window over the aggregate. Ref: model_gold.py:139-241.
    QueryDef.sql(
      "q_user_analytics",
      s"""SELECT c_mktsegment,
         |  COUNT(*) AS n_users,
         |  ${Det.davgSql("c_acctbal")} AS avg_acctbal,
         |  ${roundN("COUNT(*) * 100.0 / SUM(COUNT(*)) OVER ()", 2)} AS pct_of_total
         |FROM customer GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_users"),
          Det.davg(col("c_acctbal")).as("avg_acctbal"))
        .withColumn("pct_of_total",
          Det.roundN(col("n_users") * 100.0 /
            sum(col("n_users")).over(Window.partitionBy()), 2))
        .select("c_mktsegment", "n_users", "avg_acctbal", "pct_of_total")
        .orderBy("c_mktsegment")
    },

    // Parent-child hierarchy rollup — the OLAP subtree aggregate (org
    // charts, category trees, BOM explosions): every node's total over
    // its whole subtree. The synthetic tree parent(v) = v div 3 gives
    // ancestors in CLOSED FORM (ancestor_k = v div 3^k), so the rollup
    // needs no recursion at all: one 13-power constant fanout + distinct
    // + one aggregate — the same flatten-the-hierarchy trick a real
    // warehouse applies by materializing an ancestor path table. Child
    // counts ride along from the k=1 level.
    QueryDef.sql(
      "q_hierarchy_rollup", {
        val pows = (0 to 12).map(k => math.pow(3, k).toLong)
        s"""WITH pow(p) AS (VALUES ${pows.map(p => s"(CAST($p AS BIGINT))").mkString(", ")}),
           |anc AS (
           |  SELECT DISTINCT d.doc_id, d.doc_id // p.p AS node, d.n_chars
           |  FROM documents d, pow p),
           |r AS (
           |  SELECT node, COUNT(*) AS subtree_docs,
           |    CAST(SUM(n_chars) AS BIGINT) AS subtree_chars
           |  FROM anc GROUP BY 1),
           |kids AS (
           |  SELECT doc_id // 3 AS node, COUNT(*) AS c
           |  FROM documents WHERE doc_id > 0 GROUP BY 1)
           |SELECT r.node AS node_id, subtree_docs, subtree_chars,
           |  COALESCE(kids.c, 0) AS n_children
           |FROM r LEFT JOIN kids ON kids.node = r.node
           |ORDER BY subtree_chars DESC, node_id LIMIT 50""".stripMargin
      }) { (s, d) =>
      val pows = (0 to 12).map(k => math.pow(3, k).toLong)
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val anc = docs
        .select(col("doc_id"), col("n_chars"),
          explode(array(pows.map(lit): _*)).as("p"))
        .select(col("doc_id"), col("n_chars"),
          expr("doc_id div p").as("node"))
        .distinct()
      val r = anc.groupBy("node")
        .agg(count(lit(1)).as("subtree_docs"),
          sum(col("n_chars")).as("subtree_chars"))
      val kids = docs.filter(col("doc_id") > 0)
        .groupBy(expr("doc_id div 3").as("node"))
        .agg(count(lit(1)).as("c"))
      r.join(kids, Seq("node"), "left")
        .select(col("node").as("node_id"), col("subtree_docs"),
          col("subtree_chars"), coalesce(col("c"), lit(0L)).as("n_children"))
        .orderBy(desc("subtree_chars"), col("node_id"))
        .limit(50)
    },

    // SQL-surface parity: ONE SQL string — defined once — is executed by
    // BOTH engines verbatim (spark.sql over registered temp views on the
    // Spark side, DuckDB as the oracle). Everything else in this library
    // uses the DataFrame API; this query pins down that the engine's SQL
    // entrypoint speaks the shared ANSI subset too — same decimal-sum
    // determinism discipline, same result hash.
    {
      val sharedSql =
        """SELECT c_mktsegment,
          |  COUNT(DISTINCT o_orderkey) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM customer JOIN orders ON o_custkey = c_custkey
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin
      QueryDef.sql("q_sql_interface", sharedSql) { (s, d) =>
        Seq("customer", "orders").foreach(n =>
          Tables(s, d, n).createOrReplaceTempView(n))
        s.sql(sharedSql)
      }
    },

    // Top user journeys — the path-analysis aggregate: each user's first
    // 4 events (by ts, event_id) joined into an ordered "a>b>c>d" path,
    // then counted across users. Unlike the Markov transition matrix
    // (q_event_transitions, first-order), this keeps the actual
    // multi-step sequence. One window + two aggregates; journey strings
    // are bounded (4 steps), so nothing row-width-unbounded shuffles.
    QueryDef.sql(
      "q_user_journeys",
      s"""WITH r AS (
         |  SELECT user_id, event_type, ts, event_id,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events),
         |j AS (
         |  SELECT user_id,
         |    string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
         |  FROM r WHERE rn <= 4 GROUP BY user_id)
         |SELECT journey, COUNT(*) AS n_users
         |FROM j GROUP BY journey
         |ORDER BY n_users DESC, journey LIMIT 20""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4)
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("journey"))
        .groupBy("journey").agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("journey"))
        .limit(20)
    },

    // Golden-record survivorship merge — the MDM consolidation step: all
    // records of an entity collapse to ONE profile, each field by its own
    // survivorship rule (recency: last_event_type / last_value via
    // (ts, event_id)-argmax; frequency: modal_event_type, count-then-
    // alphabetical; aggregate: decimal total, min/max lifetimes). Every
    // rule is a map-side-combinable aggregate or a per-entity window —
    // one shuffle on the entity key, no field-by-field repeated scans.
    // Ties are impossible (event_id unique) or broken explicitly, so
    // the merged record is engine-reproducible.
    QueryDef.sql(
      "q_golden_record",
      s"""WITH agg AS (
         |  SELECT user_id, MIN(ts) AS first_seen, MAX(ts) AS last_seen,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
         |    COUNT(*) AS n_events
         |  FROM events GROUP BY 1),
         |lastev AS (
         |  SELECT user_id, event_type AS last_event_type FROM (
         |    SELECT user_id, event_type, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events) WHERE rn = 1),
         |lastval AS (
         |  SELECT user_id, value AS last_value FROM (
         |    SELECT user_id, value, row_number() OVER (
         |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE value IS NOT NULL) WHERE rn = 1),
         |modal AS (
         |  SELECT user_id, event_type AS modal_event_type FROM (
         |    SELECT user_id, event_type, row_number() OVER (
         |      PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn
         |    FROM events GROUP BY user_id, event_type) WHERE rn = 1)
         |SELECT a.user_id, first_seen, last_seen, last_event_type,
         |  modal_event_type, last_value, total_value, n_events
         |FROM agg a JOIN lastev USING (user_id) JOIN modal USING (user_id)
         |  LEFT JOIN lastval USING (user_id)
         |ORDER BY a.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val recency = struct(col("ts"), col("event_id"))
      val agg = ev.groupBy("user_id").agg(
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"),
        max_by(col("event_type"), recency).as("last_event_type"),
        max_by(col("value"),
          when(col("value").isNotNull, recency)).as("last_value"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"),
        count(lit(1)).as("n_events"))
      val modal = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("__c"))
        .groupBy("user_id")
        .agg(min_by(col("event_type"), struct(-col("__c"), col("event_type")))
          .as("modal_event_type"))
      agg.join(modal, Seq("user_id"))
        .select(col("user_id"), col("first_seen"), col("last_seen"),
          col("last_event_type"), col("modal_event_type"), col("last_value"),
          col("total_value"), col("n_events"))
        .orderBy("user_id")
    },
  )
}
