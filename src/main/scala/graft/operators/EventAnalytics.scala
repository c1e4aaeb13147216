package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Product-analytics composites over an event log — the gold-layer
  * questions (conversion, retention) the reference's analytics tables
  * stop just short of (gold daily/weekly rollups exist; ordered-sequence
  * metrics do not — reference/scripts/gold/model_gold.py builds
  * per-period aggregates only).
  *
  * Both operators are sequences of keyed aggregates and equi-joins on the
  * entity id — no windows over the full log, no self-joins on time, so
  * the shapes hold on an event log of any size: per-step funnel work is
  * one filtered scan + one entity-keyed join; retention is two aggregates
  * and a join on the (entity, week) relation.
  */
object EventAnalytics {

  /** Ordered multi-step funnel: step i counts an entity when an event of
    * step i's type occurs STRICTLY AFTER the entity's earliest qualifying
    * time for step i−1 (the "did they view, then click, then purchase —
    * in that order" question; a purchase before the first view does not
    * count). Earliest-qualifying times compose left to right:
    * t_1 = min ts of step-1 events; t_i = min ts of step-i events with
    * ts > t_{i−1} (and ts ≤ t_{i−1} + maxGap when a conversion window is
    * given — the FIRST-TOUCH convention: the window anchors on the
    * earliest qualifying previous-step time, so an entity that would
    * only convert by re-anchoring on a later previous-step event does
    * not count; that greedy choice is what makes each step one keyed
    * aggregate instead of a per-entity sequence scan).
    *
    * Returns one row per step: (step, step_type, n_entities,
    * pct_of_first), pct pinned via Det.roundN(4). Each step's
    * reached-relation is staged — it feeds both the next step's join and
    * the count. */
  def funnel(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      maxGap: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val reached = steps.zipWithIndex.foldLeft(List.empty[DataFrame]) {
      case (acc, (stepType, _)) =>
        val evs = events.filter(col(typeCol) === stepType)
          .select(col(entityCol).as("__e2"), col(tsCol).as("__ts"))
        val cur = acc.headOption match {
          case None =>
            evs.groupBy(col("__e2")).agg(min(col("__ts")).as("__t"))
          case Some(prev) =>
            val within = maxGap match {
              case Some(g) => col("__ts") <= col("__t") + g
              case None    => lit(true)
            }
            evs.join(prev, col("__e2") === col("__e"))
              .filter(col("__ts") > col("__t") && within)
              .groupBy(col("__e2")).agg(min(col("__ts")).as("__t"))
        }
        cur.withColumnRenamed("__e2", "__e").staged :: acc
    }.reverse
    val counts = reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n"))
        .select(lit(i + 1L).as("step"), lit(steps(i)).as("step_type"),
          col("n"))
    }.reduce(_ unionByName _)
    val first = counts.filter(col("step") === 1L)
      .select(col("n").as("__n1"))
    counts.crossJoin(broadcast(first))
      .select(col("step"), col("step_type"), col("n").as("n_entities"),
        when(col("__n1") > 0,
          Det.roundN(col("n") * lit(1.0) / col("__n1"), 4))
          .otherwise(lit(0.0)).as("pct_of_first"))
  }

  /** DuckDB form of [[funnel]] over `events(user_id, event_type, ts)`,
    * the conversion window (`maxGap`) given in hours: CTEs `s1…sn` of
    * earliest qualifying times, then the step counts ordered by step. */
  def funnelOracleSql(steps: Seq[String], maxGapHours: Option[Int]): String = {
    val reached = steps.zipWithIndex.map {
      case (t, 0) =>
        s"""s1 AS (
           |  SELECT user_id, MIN(ts) AS t FROM events
           |  WHERE event_type = '$t' GROUP BY 1)""".stripMargin
      case (t, i) =>
        val within = maxGapHours.fold("")(h =>
          s"\n    AND e.ts <= s$i.t + INTERVAL $h HOUR")
        s"""s${i + 1} AS (
           |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
           |  JOIN s$i ON s$i.user_id = e.user_id
           |  WHERE e.event_type = '$t' AND e.ts > s$i.t$within GROUP BY 1)""".stripMargin
    }
    val counts = steps.zipWithIndex.map {
      case (t, 0) => s"  SELECT 1 AS step, '$t' AS step_type, COUNT(*) AS n FROM s1"
      case (t, i) => s"  SELECT ${i + 1}, '$t', COUNT(*) FROM s${i + 1}"
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${reached.mkString(",\n")},
       |c AS (
       |$counts),
       |f AS (SELECT n AS n1 FROM c WHERE step = 1)
       |SELECT CAST(step AS BIGINT) AS step, step_type,
       |  n AS n_entities,
       |  CASE WHEN n1 > 0 THEN ${Det.roundNSql("n * 1.0 / n1", 4)}
       |    ELSE 0.0 END AS pct_of_first
       |FROM c, f ORDER BY step""".stripMargin
  }

  /** Per-group OLS trend: slope and intercept of y over x from the
    * closed-form normal equations, in ONE map-side-combinable aggregate —
    * the quantitative companion to the ±10% trend CLASSIFIER (W5).
    *
    * x and y must be integer-valued columns (a day index, a count): the
    * five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are then exact
    * 64-bit integers on every engine, and the only floating-point step is
    * the final division — so slope/intercept hash-check across engines
    * with no decimal plumbing. Groups with a degenerate x (fewer than two
    * distinct values) report NULL slope/intercept rather than a division
    * by zero. */
  def olsTrend(df: DataFrame, grpCol: String, xCol: String,
      yCol: String): DataFrame = {
    val agg = df.groupBy(col(grpCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(xCol)).as("__sx"), sum(col(yCol)).as("__sy"),
        sum(col(xCol) * col(yCol)).as("__sxy"),
        sum(col(xCol) * col(xCol)).as("__sxx"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val raw = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double") / den.cast("double")
    agg.select(col(grpCol), col("__n").as("n_points"),
        when(den =!= 0, raw).as("__slope"),
        col("__sx"), col("__sy"), col("__n"))
      .select(col(grpCol), col("n_points"),
        Det.roundN(col("__slope"), 6).as("slope"),
        Det.roundN((col("__sy").cast("double")
            - col("__slope") * col("__sx")) / col("__n"), 6).as("intercept"))
  }

  /** Weekly retention cohorts: an entity's cohort is the Monday-truncated
    * week of its FIRST event; for every (cohort_week, week_offset) cell,
    * how many cohort members were active that many weeks later, and what
    * fraction of the cohort that is. Monday alignment makes the day
    * difference an exact multiple of 7, so the offset is integer on any
    * engine.
    *
    * Returns (cohort_week, week_offset, n_active, n_cohort,
    * retention_pct). The distinct (entity, week) relation is staged — it
    * feeds both the cohort min-aggregate and the activity join. */
  def retentionCohorts(events: DataFrame, entityCol: String,
      tsCol: String): DataFrame = {
    val weekly = events
      .select(col(entityCol).as("__e"),
        date_trunc("week", col(tsCol)).cast("date").as("__w"))
      .distinct()
      .staged
    val cohort = weekly.groupBy("__e").agg(min(col("__w")).as("__cw"))
    val sizes = cohort.groupBy(col("__cw").as("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    // (entity, week) is unique and each entity has one cohort, so the
    // per-cell count needs no distinct aggregate
    weekly.join(cohort, Seq("__e"))
      .select(col("__cw").as("cohort_week"),
        (datediff(col("__w"), col("__cw")) / 7).cast("long")
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        Det.roundN(col("n_active") * lit(1.0) / col("n_cohort"), 4)
          .as("retention_pct"))
  }

  val TransitionScale = 6

  /** DuckDB form of [[transitionMatrix]]'s first step over
    * `events(user_id, event_type, ts, event_id)`: CTE `steps(from_type,
    * to_type)`, each event and the next one of its user. */
  val transitionStepsCte: String =
    """steps AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS to_type
      |  FROM events)""".stripMargin

  /** First-order Markov transition matrix over per-entity event
    * sequences: for each consecutive (type → next type) step in an
    * entity's time-ordered stream, the corpus-wide count and the
    * row-normalized transition probability — the "what do users do after
    * X" building block under path analysis and next-event prediction.
    *
    * Shape: one lead() window partitioned by entity (shuffle by entity,
    * the same key every sessionizer already uses), then a count over the
    * |types|² transition domain — tiny regardless of event volume — and
    * a window-sum normalization over that tiny relation. `tieCol` breaks
    * equal-timestamp ordering so the sequence is total and the counts
    * deterministic on any engine.
    *
    * Returns (from_type, to_type, n_transitions, p) with p =
    * n / Σ_to n, pinned via Det.roundN([[TransitionScale]]). */
  def transitionMatrix(events: DataFrame, entityCol: String, typeCol: String,
      timeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(entityCol).orderBy(col(timeCol), col(tieCol))
    val counts = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
    counts.withColumn("p",
      Det.roundN(col("n_transitions") * lit(1.0) /
        sum(col("n_transitions")).over(Window.partitionBy("from_type")),
        TransitionScale))
  }
}
