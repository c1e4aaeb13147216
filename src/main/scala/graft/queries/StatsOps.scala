package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Tables}
import graft.engine.Stage.syntax._
import graft.operators.{Hilbert, Similarity, ZOrder}
import graft.functions.TextFunctions.tokensSql

/** Statistical / experimentation operators over the event and order
  * streams: survival analysis, resampling inference, independence tests,
  * power-law fitting, partition backfill planning, interval algebra, and
  * distributed PCA power iteration.
  *
  * All of these are single-digit-shuffle DataFrame programs whose reduced
  * state (lifetables, contingency cells, bootstrap replicates, moment
  * sums) is tiny regardless of input scale — the 100 TB shape is
  * scan → partial-agg → small-state finish, never a driver-side loop.
  * Determinism: integer/decimal arithmetic everywhere order can vary;
  * transcendental (ln/exp/sqrt) only on already-reduced identical
  * doubles, with [[Det.roundN]] absorbing the final ulp (the
  * a_entropy_profile precedent, Aggregates.scala:376).
  */
object StatsOps {

  private val roundN = Det.roundNSql _

  private val cosSql = Similarity.cosineOracleSql _

  /** The order-status × priority contingency table: cells `(x, y, n)`,
    * row totals `(x, rn)`, column totals `(y, cn)` and the grand total
    * `(nn)`. */
  private def statusByPriority(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c = Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
      .agg(count(lit(1)).as("n"))
    (c, c.groupBy("x").agg(sum("n").as("rn")),
      c.groupBy("y").agg(sum("n").as("cn")), c.agg(sum("n").as("nn")))
  }

  /** DuckDB form of [[statusByPriority]]: CTEs `c`, `r`, `cc` and `t`. */
  private val statusByPriorityCtes =
    """c AS (
      |  SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |r AS (SELECT x, CAST(SUM(n) AS BIGINT) AS rn FROM c GROUP BY 1),
      |cc AS (SELECT y, CAST(SUM(n) AS BIGINT) AS cn FROM c GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- survival analysis -------------------------------------------

    // Kaplan-Meier survival for time-to-first-purchase: per user, the
    // clock starts at their first event and "death" is their first
    // purchase; users with no purchase are right-censored at the data
    // horizon. Time is whole hours by integer-µs floor division (div /
    // // truncation agrees across engines on the non-negative diff —
    // calendar date_diff('hour') would count boundary crossings, which
    // Spark has no builtin for). The KM estimator multiplies
    // (1 - d_t/n_t) over death times — computed as exp(cumsum ln factor)
    // with an explicit zero-factor guard because Spark's ln(0) is NULL
    // while DuckDB's is -inf. The lifetable is bounded by the hour
    // horizon (not row count), so the single-partition cumulative window
    // is a constant-size finish after one groupBy(user) + one
    // groupBy(hour) shuffle — the 100 TB plan shape.
    QueryDef.sql(
      "a_kaplan_meier",
      s"""WITH u AS (
         |  SELECT user_id, MIN(epoch_us(ts)) AS t0,
         |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
         |      AS tp
         |  FROM events GROUP BY 1),
         |m AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
         |lif AS (
         |  SELECT (COALESCE(tp, max_us) - t0) // 3600000000 AS t,
         |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM u, m),
         |lt AS (
         |  SELECT t, COUNT(*) AS leaving, CAST(SUM(ev) AS BIGINT) AS deaths
         |  FROM lif GROUP BY 1),
         |tot AS (SELECT CAST(SUM(leaving) AS BIGINT) AS nn FROM lt),
         |r AS (
         |  SELECT t, deaths,
         |    nn - CAST(COALESCE(SUM(leaving) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS at_risk
         |  FROM lt, tot),
         |f AS (SELECT t, deaths, at_risk,
         |        1.0 - deaths * 1.0 / at_risk AS factor FROM r),
         |sv AS (
         |  SELECT t, deaths, at_risk,
         |    CASE WHEN MIN(factor) OVER w <= 0 THEN 0.0
         |         ELSE exp(SUM(CASE WHEN factor > 0 THEN ln(factor)
         |                          ELSE 0.0 END) OVER w) END AS survival
         |  FROM f
         |  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |               AND CURRENT ROW))
         |SELECT t, deaths, at_risk, ${roundN("survival", 6)} AS survival
         |FROM sv WHERE deaths > 0 ORDER BY t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val u = ev.groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("tp"))
      val m = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
      val lif = u.crossJoin(broadcast(m)).select(
        expr("(COALESCE(tp, max_us) - t0) div 3600000000").as("t"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("ev"))
      val lt = lif.groupBy("t")
        .agg(count(lit(1)).as("leaving"), sum("ev").as("deaths"))
      val tot = lt.agg(sum("leaving").as("nn"))
      val wPrev = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = lt.crossJoin(broadcast(tot)).withColumn("at_risk",
        col("nn") - coalesce(sum("leaving").over(wPrev), lit(0L)))
      val f = r.withColumn("factor",
        lit(1.0) - col("deaths") * lit(1.0) / col("at_risk"))
      f.withColumn("survival",
          when(min("factor").over(wCum) <= 0, lit(0.0))
            .otherwise(exp(sum(when(col("factor") > 0, log(col("factor")))
              .otherwise(lit(0.0))).over(wCum))))
        .filter(col("deaths") > 0)
        .select(col("t"), col("deaths"), col("at_risk"),
          Det.roundN(col("survival"), 6).as("survival"))
        .orderBy("t")
    },

    // ---- resampling inference ----------------------------------------

    // Deterministic Poisson bootstrap of the per-priority mean order
    // value: B=32 replicates, each row's replicate-b weight drawn from
    // Poisson(1) by inverting the CDF at u = h56(key:b)/2^56 — THE
    // bootstrap that works at 100 TB (weights are computed row-local in
    // the map phase; the classic multinomial resample needs global
    // coordination). Replicate means are DECIMAL-exact, so sample
    // members, replicate means, and the percentile CI (2nd/31st of 32)
    // are all engine-reproducible bit-for-bit before the final rounding.
    // CDF thresholds are exact double literals of cumsum(e^-1/k!), with
    // the tail truncated at w=7 (P ≈ 1e-5, documented bias).
    QueryDef.sql(
      "a_poisson_bootstrap", {
        val cdf = Seq(
          "0.36787944117144233" -> 0, "0.7357588823428846" -> 1,
          "0.9196986029286058" -> 2, "0.9810118431238462" -> 3,
          "0.9963401531726563" -> 4, "0.9994058151824183" -> 5,
          "0.9999167588507119" -> 6)
        val wCase = "CASE " + cdf.map { case (c, k) =>
          s"WHEN u < $c THEN $k" }.mkString(" ") + " ELSE 7 END"
        s"""WITH reps AS (
           |  SELECT o_orderpriority, o_totalprice,
           |    ${Det.h56Sql("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
           |      * 1.0 / 72057594037927936.0 AS u, b
           |  FROM orders, (SELECT unnest(generate_series(0, 31)) AS b) bb),
           |wts AS (SELECT o_orderpriority, o_totalprice, b, $wCase AS w
           |        FROM (SELECT o_orderpriority, o_totalprice, b, u FROM reps)),
           |bm AS (
           |  SELECT o_orderpriority, b,
           |    CAST(SUM(CAST(w * o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |      / CAST(SUM(w) AS BIGINT) AS bmean
           |  FROM wts GROUP BY 1, 2),
           |rk AS (
           |  SELECT o_orderpriority, bmean,
           |    row_number() OVER (PARTITION BY o_orderpriority
           |                       ORDER BY bmean, b) AS rn
           |  FROM bm),
           |stats AS (
           |  SELECT o_orderpriority,
           |    CAST(SUM(CAST(bmean AS DECIMAL(18,6))) AS DOUBLE) / 32 AS bavg,
           |    CAST(SUM(CAST(bmean * bmean AS DECIMAL(28,6))) AS DOUBLE) AS bsq,
           |    MAX(CASE WHEN rn = 2 THEN bmean END) AS lo,
           |    MAX(CASE WHEN rn = 31 THEN bmean END) AS hi
           |  FROM rk GROUP BY 1),
           |act AS (
           |  SELECT o_orderpriority, ${Det.davgSql("o_totalprice")} AS mean_actual
           |  FROM orders GROUP BY 1)
           |SELECT a.o_orderpriority,
           |  ${roundN("mean_actual", 4)} AS mean_actual,
           |  ${roundN("bavg", 4)} AS boot_mean,
           |  ${roundN("sqrt((bsq - 32 * bavg * bavg) / 31)", 4)} AS boot_se,
           |  ${roundN("lo", 4)} AS ci_lo, ${roundN("hi", 4)} AS ci_hi
           |FROM stats s JOIN act a USING (o_orderpriority)
           |ORDER BY o_orderpriority""".stripMargin
      }) { (s, d) =>
      val cdf = Seq(
        0.36787944117144233 -> 0, 0.7357588823428846 -> 1,
        0.9196986029286058 -> 2, 0.9810118431238462 -> 3,
        0.9963401531726563 -> 4, 0.9994058151824183 -> 5,
        0.9999167588507119 -> 6)
      val orders = Tables.orders(s, d)
      val reps = orders
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .withColumn("u",
          Det.h56(concat(col("o_orderkey").cast("string"), lit(":"),
            col("b").cast("string"))) * lit(1.0) / lit(7.2057594037927936e16))
      val w = cdf.foldRight(lit(7): org.apache.spark.sql.Column) {
        case ((c, k), acc) => when(col("u") < c, lit(k)).otherwise(acc)
      }
      val bm = reps.withColumn("w", w)
        .groupBy("o_orderpriority", "b")
        .agg((sum((col("w") * col("o_totalprice")).cast(DecimalType(18, 2)))
          .cast("double") / sum("w")).as("bmean"))
      val rk = bm.withColumn("rn", row_number().over(
        Window.partitionBy("o_orderpriority").orderBy("bmean", "b")))
      val stats = rk.groupBy("o_orderpriority").agg(
        (sum(col("bmean").cast(DecimalType(18, 6))).cast("double") / lit(32))
          .as("bavg"),
        sum((col("bmean") * col("bmean")).cast(DecimalType(28, 6)))
          .cast("double").as("bsq"),
        max(when(col("rn") === 2, col("bmean"))).as("lo"),
        max(when(col("rn") === 31, col("bmean"))).as("hi"))
      val act = orders.groupBy("o_orderpriority")
        .agg(Det.davg(col("o_totalprice")).as("mean_actual"))
      stats.join(act, "o_orderpriority")
        .select(col("o_orderpriority"),
          Det.roundN(col("mean_actual"), 4).as("mean_actual"),
          Det.roundN(col("bavg"), 4).as("boot_mean"),
          Det.roundN(sqrt((col("bsq") - lit(32) * col("bavg") * col("bavg"))
            / lit(31)), 4).as("boot_se"),
          Det.roundN(col("lo"), 4).as("ci_lo"),
          Det.roundN(col("hi"), 4).as("ci_hi"))
        .orderBy("o_orderpriority")
    },

    // ---- independence tests ------------------------------------------

    // Pearson chi-squared test of independence for order status ×
    // priority, plus Cramér's V effect size. Everything up to the final
    // sqrt is rational arithmetic on exact counts; the per-cell terms are
    // identical doubles on both engines and the cross-cell sum goes
    // through DECIMAL so partial-aggregation order can't perturb it.
    QueryDef.sql(
      "a_chisq_independence",
      s"""WITH $statusByPriorityCtes,
         |e AS (
         |  SELECT n, rn * 1.0 * cn / nn AS expd
         |  FROM c JOIN r USING (x) JOIN cc USING (y), t),
         |chi AS (
         |  SELECT CAST(SUM(CAST((n - expd) * (n - expd) / expd
         |    AS DECIMAL(28,12))) AS DOUBLE) AS chi2, COUNT(*) AS n_cells
         |  FROM e)
         |SELECT ${roundN("chi2", 6)} AS chi2,
         |  CAST(((SELECT COUNT(*) FROM r) - 1)
         |    * ((SELECT COUNT(*) FROM cc) - 1) AS BIGINT) AS dof,
         |  n_cells,
         |  ${roundN("sqrt(chi2 / ((SELECT nn FROM t) * least((SELECT COUNT(*) FROM r) - 1, (SELECT COUNT(*) FROM cc) - 1)))", 6)}
         |    AS cramers_v
         |FROM chi""".stripMargin) { (s, d) =>
      val (c, r, cc, t) = statusByPriority(s, d)
      val e = c.join(broadcast(r), "x").join(broadcast(cc), "y")
        .crossJoin(broadcast(t))
        .withColumn("expd", col("rn") * lit(1.0) * col("cn") / col("nn"))
      val dims = r.agg(count(lit(1)).as("nr"))
        .crossJoin(cc.agg(count(lit(1)).as("nc")))
        .crossJoin(t)
      e.agg(
          sum(((col("n") - col("expd")) * (col("n") - col("expd"))
            / col("expd")).cast(DecimalType(28, 12))).cast("double").as("chi2"),
          count(lit(1)).as("n_cells"))
        .crossJoin(broadcast(dims))
        .select(Det.roundN(col("chi2"), 6).as("chi2"),
          ((col("nr") - 1) * (col("nc") - 1)).cast("long").as("dof"),
          col("n_cells"),
          Det.roundN(sqrt(col("chi2") / (col("nn")
            * least(col("nr") - 1, col("nc") - 1))), 6).as("cramers_v"))
    },

    // Mutual information (nats) between order status and priority, with
    // the marginal entropies and min-normalized MI. ln arguments are
    // exact integer ratios (identical doubles both engines); the few-cell
    // double sums then round to 6 — the a_entropy_profile determinism
    // precedent (ulp-level engine drift sits ~1e-16, ten orders below
    // the rounding grid).
    QueryDef.sql(
      "a_mutual_info",
      s"""WITH $statusByPriorityCtes,
         |mi AS (
         |  SELECT SUM((n * 1.0 / nn)
         |    * ln((n * 1.0 * nn) / (rn * 1.0 * cn))) AS mi
         |  FROM c JOIN r USING (x) JOIN cc USING (y), t),
         |hx AS (SELECT -SUM((rn * 1.0 / nn) * ln(rn * 1.0 / nn)) AS hx
         |       FROM r, t),
         |hy AS (SELECT -SUM((cn * 1.0 / nn) * ln(cn * 1.0 / nn)) AS hy
         |       FROM cc, t)
         |SELECT ${roundN("mi", 6)} AS mi, ${roundN("hx", 6)} AS h_x,
         |  ${roundN("hy", 6)} AS h_y,
         |  ${roundN("mi / least(hx, hy)", 6)} AS nmi,
         |  (SELECT nn FROM t) AS n
         |FROM mi, hx, hy""".stripMargin) { (s, d) =>
      val (c, r, cc, t) = statusByPriority(s, d)
      val mi = c.join(broadcast(r), "x").join(broadcast(cc), "y")
        .crossJoin(broadcast(t))
        .agg(sum((col("n") * lit(1.0) / col("nn"))
          * log((col("n") * lit(1.0) * col("nn"))
            / (col("rn") * lit(1.0) * col("cn")))).as("mi"))
      val hx = r.crossJoin(broadcast(t))
        .agg((-sum((col("rn") * lit(1.0) / col("nn"))
          * log(col("rn") * lit(1.0) / col("nn")))).as("hx"))
      val hy = cc.crossJoin(broadcast(t))
        .agg((-sum((col("cn") * lit(1.0) / col("nn"))
          * log(col("cn") * lit(1.0) / col("nn")))).as("hy"))
      mi.crossJoin(hx).crossJoin(hy).crossJoin(t)
        .select(Det.roundN(col("mi"), 6).as("mi"),
          Det.roundN(col("hx"), 6).as("h_x"),
          Det.roundN(col("hy"), 6).as("h_y"),
          Det.roundN(col("mi") / least(col("hx"), col("hy")), 6).as("nmi"),
          col("nn").as("n"))
    },

    // ---- power-law fitting -------------------------------------------

    // Zipf fit of the corpus vocabulary: OLS of ln(freq) on ln(rank)
    // over the top-500 terms (rank by freq desc, term asc — total order).
    // A healthy natural-language corpus slopes ≈ -1; synthetic or
    // template-heavy corpora flatten. ln of exact integers, closed-form
    // OLS from five moment sums, rounded at 6.
    QueryDef.sql(
      "t_zipf_fit",
      raw"""WITH t AS (
         |  SELECT unnest(${tokensSql("text")}) AS term
         |  FROM documents),
         |f AS (SELECT term, COUNT(*) AS freq FROM t WHERE term <> ''
         |      GROUP BY 1),
         |rk AS (SELECT freq,
         |         row_number() OVER (ORDER BY freq DESC, term) AS rank
         |       FROM f),
         |xy AS (SELECT ln(rank) AS x, ln(freq) AS y FROM rk
         |       WHERE rank <= 500),
         |s AS (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
         |  FROM xy),
         |vocab AS (SELECT COUNT(*) AS n_terms FROM f)
         |SELECT n_terms, CAST(n AS BIGINT) AS top_n,
         |  ${roundN("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope,
         |  ${roundN("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 6)} AS intercept,
         |  ${roundN("((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS r2
         |FROM s, vocab""".stripMargin) { (s, d) =>
      val terms = Tables.documents(s, d)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val f = terms.groupBy("term").agg(count(lit(1)).as("freq"))
      val rk = f.withColumn("rank",
        row_number().over(Window.orderBy(desc("freq"), col("term"))))
      val xy = rk.filter(col("rank") <= 500)
        .select(log(col("rank")).as("x"), log(col("freq")).as("y"))
      val mo = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val vocab = f.agg(count(lit(1)).as("n_terms"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      mo.crossJoin(vocab).select(
        col("n_terms"), col("n").as("top_n"),
        Det.roundN(slope, 6).as("slope"),
        Det.roundN((col("sy") - slope * col("sx")) / col("n"), 6)
          .as("intercept"),
        Det.roundN(((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy")))
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
    },

    // ---- partition backfill planning ---------------------------------

    // Backfill planner over the (event_type, day) partition grid: a
    // partition is "complete" when its row count reaches half the type's
    // average daily volume (the SLA), checked as exact integer cross-
    // multiplication (c * 2 * expected_days >= total) — no doubles. The
    // calendar spine comes from sequence()/generate_series, so gaps in
    // the data can't hide. Output is the per-type backfill work order:
    // how many partition-days to re-run and the date range they span.
    QueryDef.sql(
      "k_backfill_plan",
      s"""WITH bounds AS (
         |  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
         |  FROM events),
         |cal AS (
         |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
         |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM bounds),
         |nd AS (SELECT COUNT(*) AS expected_days FROM cal),
         |pc AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |tt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS tot
         |       FROM pc GROUP BY 1),
         |grid AS (SELECT event_type, day, tot, expected_days
         |         FROM tt CROSS JOIN cal CROSS JOIN nd),
         |j AS (
         |  SELECT g.event_type, g.day, g.tot, g.expected_days,
         |    CASE WHEN p.c IS NOT NULL
         |              AND p.c * 2 * g.expected_days >= g.tot
         |         THEN 1 ELSE 0 END AS ok
         |  FROM grid g LEFT JOIN pc p
         |    ON p.event_type = g.event_type AND p.day = g.day)
         |SELECT event_type, CAST(MAX(expected_days) AS BIGINT) AS expected_days,
         |  CAST(SUM(ok) AS BIGINT) AS complete_days,
         |  CAST(COUNT(*) - SUM(ok) AS BIGINT) AS backfill_days,
         |  MIN(CASE WHEN ok = 0 THEN day END) AS first_backfill,
         |  MAX(CASE WHEN ok = 0 THEN day END) AS last_backfill
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val bounds = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val cal = bounds.select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      val nd = cal.agg(count(lit(1)).as("expected_days"))
      val pc = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val tt = pc.groupBy("event_type").agg(sum("c").as("tot"))
      val grid = tt.crossJoin(broadcast(cal)).crossJoin(broadcast(nd))
      val j = grid.join(pc.withColumnRenamed("c", "pc_c"),
          Seq("event_type", "day"), "left")
        .withColumn("ok",
          when(col("pc_c").isNotNull &&
            col("pc_c") * 2 * col("expected_days") >= col("tot"), 1L)
            .otherwise(0L))
      j.groupBy("event_type").agg(
          max("expected_days").as("expected_days"),
          sum("ok").as("complete_days"),
          (count(lit(1)) - sum("ok")).as("backfill_days"),
          min(when(col("ok") === 0, col("day"))).as("first_backfill"),
          max(when(col("ok") === 0, col("day"))).as("last_backfill"))
        .orderBy("event_type")
    },

    // ---- interval algebra --------------------------------------------

    // Overlapping-interval merge per user: each event opens an interval
    // [ts, ts + max(value,1) minutes); overlapping/touching intervals
    // fuse into islands via the classic prev-cummax sweep (new island
    // when start > max end seen so far). Unlike gap-sessionization
    // (w_sessionize_batch) the interval END varies per row, so islands
    // here depend on durations, not inter-arrival gaps. All µs-integer
    // arithmetic; floor() before the cast because DuckDB's double→BIGINT
    // cast rounds while Spark's truncates.
    QueryDef.sql(
      "w_interval_merge",
      s"""WITH iv AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS s,
         |    epoch_us(ts) + CAST(floor(greatest(value, 1.0) * 60) AS BIGINT)
         |      * 1000000 AS e
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, s, e,
         |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |  FROM iv),
         |fl AS (
         |  SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
         |                 THEN 1 ELSE 0 END AS new_island
         |  FROM m),
         |isl AS (
         |  SELECT *, CAST(SUM(new_island) OVER (PARTITION BY user_id
         |    ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS island
         |  FROM fl),
         |g AS (
         |  SELECT user_id, island, MIN(s) AS i0, MAX(e) AS i1,
         |    COUNT(*) AS n
         |  FROM isl GROUP BY 1, 2)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_merged,
         |  CAST(SUM(n) AS BIGINT) AS n_intervals,
         |  CAST(SUM(i1 - i0) AS BIGINT) AS covered_us,
         |  CAST(MAX(n) AS BIGINT) AS max_merge
         |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val iv = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts"))
          + floor(greatest(col("value"), lit(1.0)) * 60).cast("long")
            * 1000000L).as("e"))
      val wPrev = Window.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isl = iv
        .withColumn("prev_max", max("e").over(wPrev))
        .withColumn("new_island",
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("new_island").over(wCum))
      isl.groupBy("user_id", "island")
        .agg(min("s").as("i0"), max("e").as("i1"), count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_merged"), sum("n").as("n_intervals"),
          sum(col("i1") - col("i0")).as("covered_us"),
          max("n").as("max_merge"))
        .orderBy("user_id")
    },

    // ---- Hilbert file layout -----------------------------------------

    // Hilbert-curve layout vs Morton on the SAME 256×256 quantized grid:
    // both indexes range-partition into 512-row files, per-file min/max
    // stats on the REAL dims, and the same three box predicates as
    // z_order_pruning scan against them. Hilbert's unit-step locality
    // (consecutive indexes are grid-adjacent — HilbertSpec proves it)
    // yields tighter per-file boxes than Morton's quadrant seams, so its
    // files_scanned should never be worse; the pruning counts themselves
    // are the hash-checked output. The oracle replays the full xy2d
    // round chain as CTEs (operators/Hilbert.scala).
    QueryDef.sql(
      "z_hilbert_layout",
      s"""WITH evs AS (
         |  SELECT event_id, user_id, ${Det.epochDaySql("ts")} AS day
         |  FROM events),
         |b AS (
         |  SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
         |         MIN(day) AS dmin, MAX(day) AS dmax
         |  FROM evs),
         |q AS (
         |  SELECT event_id, user_id, day,
         |    ${Hilbert.quantizeSql("user_id", "umin", "umax", 8)} AS qx,
         |    ${Hilbert.quantizeSql("day", "dmin", "dmax", 8)} AS qy
         |  FROM evs, b),
         |${Hilbert.indexSql("q", "qx", "qy", 8)},
         |hf AS (
         |  SELECT user_id, day,
         |    (row_number() OVER (ORDER BY hd, event_id) - 1) // 512 AS file_id
         |  FROM ${Hilbert.SqlPrefix}0),
         |mf AS (
         |  SELECT user_id, day,
         |    (row_number() OVER (ORDER BY
         |      ${ZOrder.zValueSql("qx", "qy", 8)}, event_id) - 1) // 512
         |      AS file_id
         |  FROM q),
         |${Fixtures.boxScansSql("hilbert" -> "hf", "morton" -> "mf")}""".stripMargin) { (s, d) =>
      val evs = Tables.events(s, d).select(col("event_id"), col("user_id"),
        Det.epochDay(col("ts")).as("day"))
      val b = evs.agg(min("user_id").as("umin"), max("user_id").as("umax"),
        min("day").as("dmin"), max("day").as("dmax"))
      val q = evs.crossJoin(broadcast(b)).select(
        col("event_id"), col("user_id"), col("day"),
        Hilbert.quantize(col("user_id"), col("umin"), col("umax"), 8).as("qx"),
        Hilbert.quantize(col("day"), col("dmin"), col("dmax"), 8).as("qy"))
      val hil = Hilbert.index(q, "qx", "qy", 8, "hd")
      val hf = ZOrder.fileLayoutRanged(hil,
        Seq(col("hd"), col("event_id")), rowsPerFile = 512)
      val mf = ZOrder.fileLayoutRanged(
        q.withColumn("zv", ZOrder.zValue(col("qx"), col("qy"), 8)),
        Seq(col("zv"), col("event_id")), rowsPerFile = 512)
      Fixtures.boxScans(Fixtures.layoutStats("hilbert" -> hf, "morton" -> mf))
    },

    // ---- fuzzy string similarity -------------------------------------

    // Jaro-Winkler name-dictionary similarity via the native codegen
    // expression (expressions/JaroWinkler.scala — Spark has no builtin;
    // levenshtein is the wrong metric for name matching). Pairs the
    // DISTINCT part-name vocabulary against itself (a < b) — the entity-
    // resolution blocking pattern where the dictionary stays catalog-
    // sized no matter how many billions of rows reference it, so the
    // quadratic step is bounded and the per-row work is one broadcast
    // lookup. Oracle is DuckDB's jaro_winkler_similarity, pinned to the
    // same floored-transposition semantics (verified exhaustively on 10k
    // random pairs; see the expression's scaladoc).
    QueryDef.sql(
      "f_jaro_winkler",
      s"""WITH names AS (SELECT DISTINCT p_name FROM part),
         |pairs AS (
         |  SELECT a.p_name AS name_a, b.p_name AS name_b,
         |    ${roundN("jaro_winkler_similarity(a.p_name, b.p_name)", 6)} AS jw
         |  FROM names a JOIN names b ON a.p_name < b.p_name)
         |SELECT name_a, name_b, jw FROM pairs WHERE jw >= 0.5
         |ORDER BY jw DESC, name_a, name_b LIMIT 40""".stripMargin) { (s, d) =>
      graft.expressions.GraftFunctions.register(s)
      val names = Tables.part(s, d).select("p_name").distinct()
      val a = names.withColumnRenamed("p_name", "name_a")
      val b = names.withColumnRenamed("p_name", "name_b")
      a.join(b, col("name_a") < col("name_b"))
        .withColumn("jw", Det.roundN(
          graft.expressions.GraftFunctions.jaro_winkler(
            col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.5)
        .orderBy(desc("jw"), col("name_a"), col("name_b"))
        .limit(40)
    },

    // Fellegi-Sunter probabilistic record linkage: match a deterministic
    // "dirty" re-keyed copy of the customer feed (last two name chars
    // transposed — the typo class Jaro-Winkler is built to tolerate —
    // and balances jittered) back to the master. Blocked on
    // (nationkey, name prefix sans the last two chars): blocking keys
    // must SCALE with the corpus — nation alone is a FIXED 25 blocks, so
    // per-block candidates grow quadratically (the sf1 sweep measured
    // 17.9× wall for 10× data against a constant 25-row answer), while
    // the prefix key grows with the feed and candidate volume stays
    // linear. The prefix is transposition-safe by construction (the typo
    // class touches only the final two chars), which is the standard
    // linkage discipline: design blocking around the error model, let
    // the comparators decide. Three field comparators (Jaro-Winkler name
    // band, segment equality, balance proximity) carry fixed
    // agree/disagree log-odds weights; the summed score classifies
    // match / possible / non_match. Exercises the native jaro_winkler
    // expression inside a join. Output: top 25 scored pairs.
    QueryDef.sql(
      "j_record_linkage",
      s"""WITH dirty AS (
         |  SELECT c_custkey + 100000 AS d_key, c_nationkey AS d_nation,
         |    substr(c_name, 1, length(c_name) - 2)
         |      || reverse(substr(c_name, length(c_name) - 1, 2)) AS d_name,
         |    c_mktsegment AS d_segment,
         |    c_acctbal + (c_custkey % 7) - 3 AS d_bal
         |  FROM customer),
         |pairs AS (
         |  SELECT c.c_custkey, d.d_key,
         |    ${roundN("jaro_winkler_similarity(c.c_name, d.d_name)", 6)} AS jw,
         |    CASE WHEN c.c_mktsegment = d.d_segment THEN 1 ELSE 0 END AS seg_eq,
         |    CASE WHEN abs(c.c_acctbal - d.d_bal) <= 10.0 THEN 1 ELSE 0 END
         |      AS bal_near
         |  FROM customer c JOIN dirty d ON c.c_nationkey = d.d_nation
         |    AND substr(c.c_name, 1, length(c.c_name) - 2)
         |      = substr(d.d_name, 1, length(d.d_name) - 2)),
         |scored AS (
         |  SELECT c_custkey, d_key, jw,
         |    ${roundN("(CASE WHEN jw >= 0.93 THEN 4.0 ELSE -3.0 END) + (CASE WHEN seg_eq = 1 THEN 1.5 ELSE -1.0 END) + (CASE WHEN bal_near = 1 THEN 1.0 ELSE -0.5 END)", 6)}
         |      AS score
         |  FROM pairs),
         |cls AS (
         |  SELECT c_custkey, d_key, jw, score,
         |    CASE WHEN score >= 6.0 THEN 'match'
         |         WHEN score >= 2.0 THEN 'possible'
         |         ELSE 'non_match' END AS classification
         |  FROM scored)
         |SELECT c_custkey, d_key, jw, score, classification
         |FROM cls ORDER BY score DESC, c_custkey, d_key LIMIT 25""".stripMargin) {
      (s, d) =>
      graft.expressions.GraftFunctions.register(s)
      import graft.expressions.GraftFunctions.jaro_winkler
      val cust = Tables.customer(s, d)
      val dirty = cust.select(
        (col("c_custkey") + 100000L).as("d_key"),
        col("c_nationkey").as("d_nation"),
        expr("concat(substr(c_name, 1, length(c_name) - 2), " +
          "reverse(substr(c_name, length(c_name) - 1, 2)))").as("d_name"),
        col("c_mktsegment").as("d_segment"),
        (col("c_acctbal") + (col("c_custkey") % 7) - 3).as("d_bal"))
      // spread the probe side: the fixture's single parquet file scans as
      // one partition, which would serialize the block-pair scoring on a
      // single thread under the broadcast join; at warehouse scale the
      // fact side arrives in thousands of scan partitions and this
      // round-robin is a no-op in spirit
      val shufP = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val pairs = cust.repartition(shufP)
        .join(dirty, col("c_nationkey") === col("d_nation")
          && expr("substr(c_name, 1, length(c_name) - 2)")
            === expr("substr(d_name, 1, length(d_name) - 2)"))
        .select(col("c_custkey"), col("d_key"),
          Det.roundN(jaro_winkler(col("c_name"), col("d_name")), 6).as("jw"),
          when(col("c_mktsegment") === col("d_segment"), 1).otherwise(0)
            .as("seg_eq"),
          when(abs(col("c_acctbal") - col("d_bal")) <= 10.0, 1).otherwise(0)
            .as("bal_near"))
      val scored = pairs.withColumn("score", Det.roundN(
        when(col("jw") >= 0.93, lit(4.0)).otherwise(lit(-3.0))
          + when(col("seg_eq") === 1, lit(1.5)).otherwise(lit(-1.0))
          + when(col("bal_near") === 1, lit(1.0)).otherwise(lit(-0.5)), 6))
      scored.withColumn("classification",
          when(col("score") >= 6.0, "match")
            .when(col("score") >= 2.0, "possible")
            .otherwise("non_match"))
        .select("c_custkey", "d_key", "jw", "score", "classification")
        .orderBy(desc("score"), col("c_custkey"), col("d_key"))
        .limit(25)
    },

    // ---- changepoint detection ---------------------------------------

    // Single best changepoint per event-type daily series: for every
    // split k the CUSUM-style statistic |mean_left − mean_right| ·
    // √(k(n−k)/n) from prefix sums — one window pass over the daily
    // rollup (horizon-bounded, not row-bounded), argmax by (stat, day).
    // Complements w_cusum_alerts (threshold excursions) with the
    // retrospective "where did the level shift" question. All rational
    // from integer counts until the final sqrt on identical doubles.
    QueryDef.sql(
      "w_changepoint_split",
      s"""WITH daily AS (
         |  SELECT event_type, ${Det.epochDaySql("ts")} AS day,
         |    COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |pre AS (
         |  SELECT event_type, day, c,
         |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
         |      AS BIGINT) AS k,
         |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS sn,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM daily),
         |stats AS (
         |  SELECT event_type, day,
         |    sk * 1.0 / k AS mean_l,
         |    (sn - sk) * 1.0 / (n - k) AS mean_r,
         |    abs(sk * 1.0 / k - (sn - sk) * 1.0 / (n - k))
         |      * sqrt(k * 1.0 * (n - k) / n) AS stat
         |  FROM pre WHERE k < n),
         |best AS (
         |  SELECT event_type, day, mean_l, mean_r, stat,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY stat DESC, day) AS rn
         |  FROM stats)
         |SELECT event_type, day AS split_day,
         |  ${roundN("stat", 6)} AS stat, ${roundN("mean_l", 6)} AS mean_left,
         |  ${roundN("mean_r", 6)} AS mean_right
         |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), Det.epochDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val pre = daily
        .withColumn("sk", sum("c").over(wCum))
        .withColumn("k", row_number().over(
          Window.partitionBy("event_type").orderBy("day")).cast("long"))
        .withColumn("sn", sum("c").over(wAll))
        .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      val stats = pre.filter(col("k") < col("n")).select(
        col("event_type"), col("day"),
        (col("sk") * lit(1.0) / col("k")).as("mean_l"),
        ((col("sn") - col("sk")) * lit(1.0) / (col("n") - col("k")))
          .as("mean_r"),
        (abs(col("sk") * lit(1.0) / col("k")
          - (col("sn") - col("sk")) * lit(1.0) / (col("n") - col("k")))
          * sqrt(col("k") * lit(1.0) * (col("n") - col("k")) / col("n")))
          .as("stat"))
      stats.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(desc("stat"), col("day"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          Det.roundN(col("stat"), 6).as("stat"),
          Det.roundN(col("mean_l"), 6).as("mean_left"),
          Det.roundN(col("mean_r"), 6).as("mean_right"))
        .orderBy("event_type")
    },

    // ---- differential privacy ----------------------------------------

    // ε-DP count release for the (lang, source) histogram: Laplace(1/ε)
    // noise by inverse-CDF at a reproducible uniform u = h56(cell)/2^56
    // — deterministic "noise" so the release is auditable and
    // cross-engine checkable (a production release would use a secret
    // seed; the mechanism and sensitivity math are identical). ε = 0.5,
    // count sensitivity 1 → scale b = 2. True counts are emitted here
    // only because this is an engine-correctness query, not a privacy
    // boundary. Noise is row-local map-side arithmetic — scale-free.
    QueryDef.sql(
      "t_dp_counts",
      s"""WITH c AS (
         |  SELECT lang, source, COUNT(*) AS n
         |  FROM documents GROUP BY 1, 2),
         |u AS (
         |  SELECT lang, source, n,
         |    ${Det.h56Sql("'dp:' || lang || ':' || source")}
         |      * 1.0 / 72057594037927936.0 - 0.5 AS v
         |  FROM c)
         |SELECT lang, source, n,
         |  ${roundN("n + (CASE WHEN v > 0 THEN -2.0 WHEN v < 0 THEN 2.0 ELSE 0.0 END) * ln(1.0 - 2.0 * abs(v))", 4)}
         |    AS released
         |FROM u ORDER BY lang, source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
      val u = c.withColumn("v",
        Det.h56(concat(lit("dp:"), col("lang"), lit(":"), col("source")))
          * lit(1.0) / lit(7.2057594037927936e16) - lit(0.5))
      u.select(col("lang"), col("source"), col("n"),
          Det.roundN(col("n")
            + when(col("v") > 0, lit(-2.0)).when(col("v") < 0, lit(2.0))
              .otherwise(lit(0.0))
            * log(lit(1.0) - lit(2.0) * abs(col("v"))), 4).as("released"))
        .orderBy("lang", "source")
    },

    // ---- late-arrival / watermark completeness -----------------------

    // Watermark-choice report: with a reproducible synthetic ingest
    // delay (70% same-day, 20% +1d, 7% +2d, 3% +5d by event hash), how
    // complete is each event-type's partition k days after event time?
    // The cumulative completeness curve (pct_d0/d1/d2) is exactly what
    // picks a streaming watermark or a batch re-process horizon; at
    // 100 TB this is one map-side flag + one small groupBy. Counts are
    // integers; percentages rational → roundN.
    QueryDef.sql(
      "q_late_arrival",
      s"""WITH f AS (
         |  SELECT event_type,
         |    CASE WHEN ${Det.h56Sql("'late:' || CAST(event_id AS VARCHAR)")} % 100 < 70 THEN 0
         |         WHEN ${Det.h56Sql("'late:' || CAST(event_id AS VARCHAR)")} % 100 < 90 THEN 1
         |         WHEN ${Det.h56Sql("'late:' || CAST(event_id AS VARCHAR)")} % 100 < 97 THEN 2
         |         ELSE 5 END AS delay
         |  FROM events)
         |SELECT event_type, COUNT(*) AS n,
         |  ${roundN("COUNT(CASE WHEN delay <= 0 THEN 1 END) * 100.0 / COUNT(*)", 4)} AS pct_d0,
         |  ${roundN("COUNT(CASE WHEN delay <= 1 THEN 1 END) * 100.0 / COUNT(*)", 4)} AS pct_d1,
         |  ${roundN("COUNT(CASE WHEN delay <= 2 THEN 1 END) * 100.0 / COUNT(*)", 4)} AS pct_d2,
         |  CAST(MAX(delay) AS BIGINT) AS max_delay_days
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val h = Det.h56(concat(lit("late:"), col("event_id").cast("string"))) % 100
      val f = Tables.events(s, d).select(col("event_type"),
        when(h < 70, 0L).when(h < 90, 1L).when(h < 97, 2L).otherwise(5L)
          .as("delay"))
      f.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          Det.roundN(count(when(col("delay") <= 0, 1)) * lit(100.0)
            / count(lit(1)), 4).as("pct_d0"),
          Det.roundN(count(when(col("delay") <= 1, 1)) * lit(100.0)
            / count(lit(1)), 4).as("pct_d1"),
          Det.roundN(count(when(col("delay") <= 2, 1)) * lit(100.0)
            / count(lit(1)), 4).as("pct_d2"),
          max("delay").as("max_delay_days"))
        .orderBy("event_type")
    },

    // ---- Johnson-Lindenstrauss reduction -----------------------------

    // JL random-projection reduction 64→16 dims with a measured
    // distortion report: Rademacher signs from 16 bits of the per-dim
    // hash, projections DECIMAL-exact, then the pairwise-distance
    // ratio ‖y_i−y_j‖/‖x_i−x_j‖ over the 99 consecutive-id probe pairs
    // summarized as min/q25/median/q75/max (exact order statistics via
    // row_number — engine-identical). This is the materialized reduce
    // step that makes downstream ANN 4× cheaper per vector; the report
    // is the acceptance test a pipeline would gate the reduce on.
    QueryDef.sql(
      "sim_jl_reduce", {
        s"""WITH dims AS (
           |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,
           |    CAST(unnest(embedding) AS DOUBLE) AS x
           |  FROM embeddings WHERE vec_id < 100),
           |dh AS (
           |  SELECT DISTINCT dim, ${Det.h56Sql("'jl:' || CAST(dim AS VARCHAR)")} AS dhash
           |  FROM dims),
           |proj AS (
           |  SELECT id, p,
           |    CAST(SUM(CASE WHEN (dhash >> p) & 1 = 1
           |                  THEN CAST(x AS DECIMAL(18,9))
           |                  ELSE -CAST(x AS DECIMAL(18,9)) END) AS DOUBLE)
           |      / 4.0 AS y
           |  FROM dims JOIN dh USING (dim),
           |       (SELECT unnest(generate_series(0, 15)) AS p) pp
           |  GROUP BY id, p),
           |od AS (
           |  SELECT a.id AS id_a,
           |    sqrt(CAST(SUM(CAST((a.x - b.x) * (a.x - b.x)
           |      AS DECIMAL(28,14))) AS DOUBLE)) AS dist_x
           |  FROM dims a JOIN dims b ON b.id = a.id + 1 AND b.dim = a.dim
           |  GROUP BY 1),
           |pd AS (
           |  SELECT a.id AS id_a,
           |    sqrt(CAST(SUM(CAST((a.y - b.y) * (a.y - b.y)
           |      AS DECIMAL(28,14))) AS DOUBLE)) AS dist_y
           |  FROM proj a JOIN proj b ON b.id = a.id + 1 AND b.p = a.p
           |  GROUP BY 1),
           |r AS (
           |  SELECT od.id_a, dist_y / dist_x AS ratio
           |  FROM od JOIN pd USING (id_a) WHERE dist_x > 0),
           |rk AS (
           |  SELECT ratio, row_number() OVER (ORDER BY ratio, id_a) AS rn,
           |    COUNT(*) OVER () AS n
           |  FROM r)
           |SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           |  ${roundN("MIN(ratio)", 6)} AS min_ratio,
           |  ${roundN("MAX(CASE WHEN rn = (n + 3) // 4 THEN ratio END)", 6)} AS q25,
           |  ${roundN("MAX(CASE WHEN rn = (n + 1) // 2 THEN ratio END)", 6)} AS median,
           |  ${roundN("MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN ratio END)", 6)} AS q75,
           |  ${roundN("MAX(ratio)", 6)} AS max_ratio
           |FROM rk""".stripMargin
      }) { (s, d) =>
      def dsum9(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 9))).cast("double")
      def dsum14(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 14))).cast("double")
      val dims = Tables.embeddings(s, d).filter(col("vec_id") < 100)
        .select(col("vec_id").as("id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val dh = dims.select("dim").distinct()
        .withColumn("dhash",
          Det.h56(concat(lit("jl:"), col("dim").cast("string"))))
      val ps = (0 until 16).map(lit(_))
      val proj = dims.join(broadcast(dh), "dim")
        .withColumn("p", explode(array(ps: _*)))
        .groupBy("id", "p")
        .agg((dsum9(when(expr("shiftright(dhash, p) & 1") === 1, col("x"))
            .otherwise(-col("x")))
          / lit(4.0)).as("y"))
      val b = dims.select(col("id").as("id_b"), col("dim"),
        col("x").as("xb"))
      val od = dims.join(b,
          col("id_b") === col("id") + 1 && b("dim") === dims("dim"))
        .groupBy(col("id").as("id_a"))
        .agg(sqrt(dsum14((col("x") - col("xb")) * (col("x") - col("xb"))))
          .as("dist_x"))
      val pb = proj.select(col("id").as("id_b"), col("p"),
        col("y").as("yb"))
      val pd = proj.join(pb,
          col("id_b") === col("id") + 1 && pb("p") === proj("p"))
        .groupBy(col("id").as("id_a"))
        .agg(sqrt(dsum14((col("y") - col("yb")) * (col("y") - col("yb"))))
          .as("dist_y"))
      val r = od.join(pd, "id_a").filter(col("dist_x") > 0)
        .select(col("id_a"), (col("dist_y") / col("dist_x")).as("ratio"))
      val rk = r.withColumn("rn",
          row_number().over(Window.orderBy("ratio", "id_a")))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      rk.agg(max("n").cast("long").as("n_pairs"),
        Det.roundN(min("ratio"), 6).as("min_ratio"),
        Det.roundN(max(when(col("rn") === expr("(n + 3) div 4"),
          col("ratio"))), 6).as("q25"),
        Det.roundN(max(when(col("rn") === expr("(n + 1) div 2"),
          col("ratio"))), 6).as("median"),
        Det.roundN(max(when(col("rn") === expr("(3 * n + 3) div 4"),
          col("ratio"))), 6).as("q75"),
        Det.roundN(max("ratio"), 6).as("max_ratio"))
    },

    // ---- ANN recall/cost curve ---------------------------------------

    // The acceptance test for an ANN index: recall@10 vs fraction of the
    // corpus scanned, per probe budget (nProbe 1/2/4) against the exact
    // brute-force top-11. This is the curve that decides an IVF
    // deployment — recall rises with probes, scanned fraction is the
    // cost. Reuses the ivfTopK operator with the one-time cell
    // assignment staged (the at-rest partitioning at scale). Oracle
    // re-derives assignment, probe ranking, per-probe top-k, and the
    // intersection counts in SQL.
    QueryDef.sql(
      "sim_ann_recall", {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
           |${Fixtures.codebookCte},
           |${Fixtures.assignedCtes},
           |rc AS (
           |  SELECT cell, row_number() OVER (ORDER BY (${cosSql("ce", "qe")})
           |    DESC, cell) AS cr
           |  FROM cent, q),
           |exact AS (
           |  SELECT vec_id FROM e, q
           |  ORDER BY ${roundN(cosSql("emb", "qe"), 6)} DESC, vec_id LIMIT 11),
           |probes(np) AS (VALUES (1), (2), (4)),
           |cand AS (
           |  SELECT p.np, a.vec_id, a.emb
           |  FROM assigned a JOIN rc USING (cell) JOIN probes p
           |    ON rc.cr <= p.np),
           |ivf AS (
           |  SELECT np, vec_id FROM (
           |    SELECT c.np, c.vec_id, row_number() OVER (PARTITION BY c.np
           |      ORDER BY ${roundN(cosSql("c.emb", "qe"), 6)} DESC, c.vec_id)
           |      AS rn
           |    FROM cand c, q) WHERE rn <= 11),
           |hits AS (
           |  SELECT i.np, COUNT(x.vec_id) AS hit
           |  FROM ivf i LEFT JOIN exact x USING (vec_id) GROUP BY 1),
           |scan AS (SELECT np, COUNT(*) AS n_scanned FROM cand GROUP BY 1),
           |nv AS (SELECT COUNT(*) AS n FROM e)
           |SELECT h.np AS n_probe,
           |  ${roundN("hit * 1.0 / 11", 4)} AS recall_at_10,
           |  s.n_scanned,
           |  ${roundN("s.n_scanned * 1.0 / nv.n", 4)} AS scan_frac
           |FROM hits h JOIN scan s USING (np), nv
           |ORDER BY n_probe""".stripMargin
      }) { (s, d) =>
      import graft.engine.Stage.syntax._
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val cent = Fixtures.codebook(emb)
      // index-build once (the at-rest partitioning), reused by all probes
      val assigned = Similarity.assignCells(emb, cent).staged
      val exact = Similarity.bruteForceTopK(emb, q, 11).select("vec_id")
        .staged
      val nv = emb.agg(count(lit(1)).as("n"))
      Seq(1, 2, 4).map { np =>
        val ivf = Similarity.ivfTopK(emb, cent, q, k = 11, nProbe = np,
          preAssigned = Some(assigned)).select("vec_id")
        val probes = cent.crossJoin(broadcast(q))
          .withColumn("__sim", graft.expressions.GraftFunctions.cosine_sim(
            col("c_emb"), col("q_emb")))
          .orderBy(desc("__sim"), col("cell")).limit(np).select("cell")
        val scanned = assigned.join(broadcast(probes), Seq("cell"))
          .agg(count(lit(1)).as("n_scanned"))
        val hit = ivf.join(exact, "vec_id").agg(count(lit(1)).as("hit"))
        hit.crossJoin(scanned).crossJoin(nv)
          .select(lit(np.toLong).as("n_probe"),
            Det.roundN(col("hit") * lit(1.0) / lit(11), 4).as("recall_at_10"),
            col("n_scanned"),
            Det.roundN(col("n_scanned") * lit(1.0) / col("n"), 4)
              .as("scan_frac"))
      }.reduce(_ unionByName _).orderBy("n_probe")
    },

    // ---- log-rank test -----------------------------------------------

    // Two-cohort log-rank test on the time-to-first-purchase survival
    // curves (even vs odd user ids): at each death hour the observed
    // cohort-A deaths vs the hypergeometric expectation under H0, chi² =
    // (Σ(d1−E1))²/ΣV. THE standard churn A/B significance test, and the
    // natural companion to a_kaplan_meier. All terms are rational in the
    // lifetable integers; per-term DECIMAL casts make the cross-row sums
    // order-free.
    QueryDef.sql(
      "a_logrank_test",
      s"""WITH u AS (
         |  SELECT user_id, user_id % 2 AS grp, MIN(epoch_us(ts)) AS t0,
         |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
         |      AS tp
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
         |lif AS (
         |  SELECT grp, (COALESCE(tp, max_us) - t0) // 3600000000 AS t,
         |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM u, m),
         |lt AS (
         |  SELECT t,
         |    COUNT(CASE WHEN grp = 0 THEN 1 END) AS l1,
         |    COUNT(CASE WHEN grp = 1 THEN 1 END) AS l2,
         |    COUNT(CASE WHEN grp = 0 AND ev = 1 THEN 1 END) AS d1,
         |    COUNT(CASE WHEN grp = 1 AND ev = 1 THEN 1 END) AS d2
         |  FROM lif GROUP BY 1),
         |r AS (
         |  SELECT t, d1, d2,
         |    CAST(SUM(l1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
         |    CAST(SUM(l2) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n2
         |  FROM lt),
         |terms AS (
         |  SELECT d1, d1 + d2 AS dd, n1, n2, n1 + n2 AS nn
         |  FROM r WHERE d1 + d2 > 0),
         |agg AS (
         |  SELECT CAST(SUM(CAST(d1 AS BIGINT)) AS BIGINT) AS sum_d1,
         |    CAST(SUM(CAST(dd * 1.0 * n1 / nn AS DECIMAL(28,12)))
         |      AS DOUBLE) AS sum_e1,
         |    CAST(SUM(CAST(CASE WHEN nn > 1
         |      THEN (dd * 1.0 * n1 / nn) * (n2 * 1.0 / nn)
         |           * ((nn - dd) * 1.0 / (nn - 1))
         |      ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE) AS var_sum
         |  FROM terms)
         |SELECT sum_d1, ${roundN("sum_e1", 6)} AS expected_d1,
         |  ${roundN("var_sum", 6)} AS variance,
         |  ${roundN("CASE WHEN var_sum > 0 THEN (sum_d1 - sum_e1) * (sum_d1 - sum_e1) / var_sum ELSE 0.0 END", 6)}
         |    AS chi2
         |FROM agg""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val u = ev.groupBy(col("user_id"), (col("user_id") % 2).as("grp"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"))
      val m = ev.agg(max(unix_micros(col("ts"))).as("max_us"))
      val lif = u.crossJoin(broadcast(m)).select(col("grp"),
        expr("(COALESCE(tp, max_us) - t0) div 3600000000").as("t"),
        when(col("tp").isNotNull, 1).otherwise(0).as("ev"))
      val lt = lif.groupBy("t").agg(
        count(when(col("grp") === 0, 1)).as("l1"),
        count(when(col("grp") === 1, 1)).as("l2"),
        count(when(col("grp") === 0 && col("ev") === 1, 1)).as("d1"),
        count(when(col("grp") === 1 && col("ev") === 1, 1)).as("d2"))
      val wTail = Window.orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val r = lt.select(col("t"), col("d1"), col("d2"),
        sum("l1").over(wTail).as("n1"), sum("l2").over(wTail).as("n2"))
      val terms = r.filter(col("d1") + col("d2") > 0).select(
        col("d1"), (col("d1") + col("d2")).as("dd"),
        col("n1"), col("n2"), (col("n1") + col("n2")).as("nn"))
      val e1 = col("dd") * lit(1.0) * col("n1") / col("nn")
      val v = when(col("nn") > 1,
        e1 * (col("n2") * lit(1.0) / col("nn"))
          * ((col("nn") - col("dd")) * lit(1.0) / (col("nn") - 1)))
        .otherwise(lit(0.0))
      terms.agg(sum("d1").as("sum_d1"),
          sum(e1.cast(DecimalType(28, 12))).cast("double").as("sum_e1"),
          sum(v.cast(DecimalType(28, 12))).cast("double").as("var_sum"))
        .select(col("sum_d1"),
          Det.roundN(col("sum_e1"), 6).as("expected_d1"),
          Det.roundN(col("var_sum"), 6).as("variance"),
          Det.roundN(when(col("var_sum") > 0,
            (col("sum_d1") - col("sum_e1")) * (col("sum_d1") - col("sum_e1"))
              / col("var_sum")).otherwise(lit(0.0)), 6).as("chi2"))
    },

    // ---- OOD / outlier detection over embeddings ---------------------

    // Out-of-distribution report: a vector whose best cosine against the
    // whole codebook stays under 0.25 lives in no cell's neighborhood —
    // the curation signal for dropping (or quarantining) outlier
    // embeddings before training. Per-label rates localize WHERE the
    // outliers come from. Reuses the broadcast-codebook max-sim scan
    // (one pass, map-side); means decimal-routed.
    QueryDef.sql(
      "sim_ood_report", {
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
           |           FROM embeddings),
           |${Fixtures.codebookCte},
           |best AS (
           |  SELECT e.vec_id, e.label, MAX(${cosSql("e.emb", "ce")}) AS best_sim
           |  FROM e CROSS JOIN cent GROUP BY 1, 2)
           |SELECT label, COUNT(*) AS n,
           |  CAST(COUNT(CASE WHEN best_sim < 0.25 THEN 1 END) AS BIGINT)
           |    AS n_ood,
           |  ${roundN("COUNT(CASE WHEN best_sim < 0.25 THEN 1 END) * 100.0 / COUNT(*)", 4)}
           |    AS pct_ood,
           |  ${roundN("CAST(SUM(CAST(best_sim AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)", 6)}
           |    AS mean_best_sim
           |FROM best GROUP BY 1 ORDER BY 1""".stripMargin
      }) { (s, d) =>
      graft.expressions.GraftFunctions.register(s)
      import graft.expressions.GraftFunctions.cosine_sim
      val emb = Tables.embeddings(s, d)
      val cent = Fixtures.codebook(emb)
      val best = emb.crossJoin(broadcast(cent))
        .groupBy("vec_id", "label")
        .agg(max(cosine_sim(col("embedding"), col("c_emb"))).as("best_sim"))
      best.groupBy("label").agg(
          count(lit(1)).as("n"),
          count(when(col("best_sim") < 0.25, 1)).as("n_ood"),
          Det.roundN(count(when(col("best_sim") < 0.25, 1)) * lit(100.0)
            / count(lit(1)), 4).as("pct_ood"),
          Det.roundN(sum(col("best_sim").cast(DecimalType(18, 9)))
            .cast("double") / count(lit(1)), 6).as("mean_best_sim"))
        .orderBy("label")
    },

    // ---- URL parsing surface -----------------------------------------

    // Structured URL decomposition with plain regexes (host, path, query
    // param) — Spark's parse_url has no DuckDB twin, so the portable
    // regex forms ARE the cross-engine contract; the query builds
    // deterministic URLs from corpus fields, parses them back, and
    // verifies the round trip (n_lang_match = n proves extraction).
    // Pure map-side string work + one host rollup.
    QueryDef.sql(
      "f_url_parse",
      s"""WITH u AS (
         |  SELECT doc_id, lang,
         |    'https://' || source || '.example.com/docs/'
         |      || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang, url,
         |    regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         |    regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS path,
         |    regexp_extract(url, 'lang=([a-z]+)', 1) AS q_lang
         |  FROM u)
         |SELECT host, COUNT(*) AS n,
         |  CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
         |  CAST(COUNT(CASE WHEN q_lang = lang THEN 1 END) AS BIGINT)
         |    AS n_lang_match,
         |  MIN(path) AS first_path
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val u = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string"), lit("?lang="), col("lang"))
          .as("url"))
      val p = u.select(col("doc_id"), col("lang"),
        regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
        regexp_extract(col("url"), "^https?://[^/]+([^?]*)", 1).as("path"),
        regexp_extract(col("url"), "lang=([a-z]+)", 1).as("q_lang"))
      p.groupBy("host").agg(
          count(lit(1)).as("n"),
          countDistinct("path").as("n_paths"),
          count(when(col("q_lang") === col("lang"), 1)).as("n_lang_match"),
          min("path").as("first_path"))
        .orderBy("host")
    },

    // ---- calibration -------------------------------------------------

    // Expected-calibration-error bins for a cheap "is-English"
    // confidence score (length-saturating, rational): decile bins of
    // confidence vs realized label rate, per-bin gap, and the
    // bin-weighted ECE repeated on each row (window total over the
    // 10-row bin relation). The reliability diagram behind every model
    // scorecard — integer/rational throughout.
    QueryDef.sql(
      "a_calibration_error",
      s"""WITH f AS (
         |  SELECT CASE WHEN n_chars * 1.0 / 500 < 1.0
         |              THEN n_chars * 1.0 / 500 ELSE 1.0 END AS conf,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |b AS (
         |  SELECT CASE WHEN conf >= 1.0 THEN 9
         |              ELSE CAST(floor(conf * 10) AS BIGINT) END AS bin,
         |    conf, y
         |  FROM f),
         |g AS (
         |  SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(CAST(conf AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
         |      AS avg_conf,
         |    CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
         |      AS acc
         |  FROM b GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM g)
         |SELECT bin, n, ${roundN("avg_conf", 6)} AS avg_conf,
         |  ${roundN("acc", 6)} AS acc,
         |  ${roundN("abs(avg_conf - acc)", 6)} AS gap,
         |  ${roundN("SUM(abs(avg_conf - acc) * n / nn) OVER ()", 6)} AS ece
         |FROM g, t ORDER BY bin""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d).select(
        least(col("n_chars") * lit(1.0) / 500, lit(1.0)).as("conf"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val b = f.withColumn("bin",
        when(col("conf") >= 1.0, 9L)
          .otherwise(floor(col("conf") * 10).cast("long")))
      val g = b.groupBy("bin").agg(
        count(lit(1)).as("n"),
        (sum(col("conf").cast(DecimalType(18, 9))).cast("double")
          / count(lit(1))).as("avg_conf"),
        (sum(col("y").cast(DecimalType(18, 9))).cast("double")
          / count(lit(1))).as("acc"))
      val t = g.agg(sum("n").as("nn"))
      g.crossJoin(broadcast(t))
        .select(col("bin"), col("n"),
          Det.roundN(col("avg_conf"), 6).as("avg_conf"),
          Det.roundN(col("acc"), 6).as("acc"),
          Det.roundN(abs(col("avg_conf") - col("acc")), 6).as("gap"),
          Det.roundN(sum(abs(col("avg_conf") - col("acc")) * col("n")
            / col("nn")).over(Window.rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)), 6)
            .as("ece"))
        .orderBy("bin")
    },

    // ---- iterative proportional fitting (raking) ---------------------

    // Two unrolled IPF rounds raking the (status × priority) contingency
    // table to uniform target margins — the survey-weighting /
    // bias-correction standard: multiply each cell by target/actual for
    // row margins, then for column margins, repeat. Pure rational
    // arithmetic on exact counts (every factor is a ratio of DECIMAL
    // sums), so the raked weights are engine-identical before rounding.
    // Margins after round 2 are within ~1% of target — reported so the
    // convergence is visible in the output.
    QueryDef.sql(
      "a_ipf_raking",
      s"""WITH c AS (
         |  SELECT o_orderstatus AS r, o_orderpriority AS p,
         |    COUNT(*) * 1.0 AS w0, COUNT(*) AS n
         |  FROM orders GROUP BY 1, 2),
         |dims AS (
         |  SELECT (SELECT COUNT(DISTINCT r) FROM c) AS nr,
         |    (SELECT COUNT(DISTINCT p) FROM c) AS np,
         |    (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS nn),
         |r1 AS (
         |  SELECT c.r, c.p, c.n,
         |    w0 * ((nn * 1.0 / nr)
         |      / SUM(w0) OVER (PARTITION BY c.r)) AS w
         |  FROM c, dims),
         |c1 AS (
         |  SELECT r1.r, r1.p, r1.n,
         |    w * ((  (SELECT nn FROM dims) * 1.0 / (SELECT np FROM dims))
         |      / SUM(w) OVER (PARTITION BY r1.p)) AS w
         |  FROM r1),
         |r2 AS (
         |  SELECT c1.r, c1.p, c1.n,
         |    w * (((SELECT nn FROM dims) * 1.0 / (SELECT nr FROM dims))
         |      / SUM(w) OVER (PARTITION BY c1.r)) AS w
         |  FROM c1),
         |c2 AS (
         |  SELECT r2.r, r2.p, r2.n,
         |    w * (((SELECT nn FROM dims) * 1.0 / (SELECT np FROM dims))
         |      / SUM(w) OVER (PARTITION BY r2.p)) AS w
         |  FROM r2)
         |SELECT r AS o_orderstatus, p AS o_orderpriority, n,
         |  ${roundN("w", 6)} AS raked_weight,
         |  ${roundN("w / n", 6)} AS weight_per_row
         |FROM c2 ORDER BY r, p""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("r"), col("o_orderpriority").as("p"))
        .agg((count(lit(1)) * lit(1.0)).as("w0"), count(lit(1)).as("n"))
      val dims = c.agg(countDistinct("r").as("nr"),
        countDistinct("p").as("np"), sum("n").as("nn"))
      val wR = Window.partitionBy("r")
      val wP = Window.partitionBy("p")
      val start = c.crossJoin(broadcast(dims))
      val r1 = start.withColumn("w",
        col("w0") * ((col("nn") * lit(1.0) / col("nr"))
          / sum("w0").over(wR)))
      val c1 = r1.withColumn("w",
        col("w") * ((col("nn") * lit(1.0) / col("np")) / sum("w").over(wP)))
      val r2 = c1.withColumn("w",
        col("w") * ((col("nn") * lit(1.0) / col("nr")) / sum("w").over(wR)))
      val c2 = r2.withColumn("w",
        col("w") * ((col("nn") * lit(1.0) / col("np")) / sum("w").over(wP)))
      c2.select(col("r").as("o_orderstatus"), col("p").as("o_orderpriority"),
          col("n"), Det.roundN(col("w"), 6).as("raked_weight"),
          Det.roundN(col("w") / col("n"), 6).as("weight_per_row"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    // ---- difference-in-differences -----------------------------------

    // DiD estimator over the event stream: hash-assigned treatment
    // cohort, mid-horizon cutoff, outcome = mean event value. The
    // causal-inference workhorse — (T_post − T_pre) − (C_post − C_pre)
    // — with cell means DECIMAL-exact and the pooled standard error
    // from per-cell variances (all moments decimal-summed). One scan,
    // one 4-cell aggregate: nothing grows with data.
    QueryDef.sql(
      "a_diff_in_diff",
      s"""WITH b AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
         |           FROM events),
         |f AS (
         |  SELECT CASE WHEN ${Det.h56Sql("'did:' || CAST(user_id AS VARCHAR)")} % 2 = 0
         |              THEN 1 ELSE 0 END AS treated,
         |    CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 1 ELSE 0 END
         |      AS post,
         |    value
         |  FROM events, b),
         |cells AS (
         |  SELECT treated, post, COUNT(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
         |    CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE)
         |      AS svv
         |  FROM f GROUP BY 1, 2),
         |m AS (
         |  SELECT treated, post, n, sv / n AS mean,
         |    (svv - sv * sv / n) / (n - 1) AS var
         |  FROM cells),
         |did AS (
         |  SELECT
         |    MAX(CASE WHEN treated = 1 AND post = 1 THEN mean END) AS tp,
         |    MAX(CASE WHEN treated = 1 AND post = 0 THEN mean END) AS tq,
         |    MAX(CASE WHEN treated = 0 AND post = 1 THEN mean END) AS cp,
         |    MAX(CASE WHEN treated = 0 AND post = 0 THEN mean END) AS cq,
         |    sqrt(SUM(CAST(var / n AS DECIMAL(28,14)))) AS se
         |  FROM m)
         |SELECT ${roundN("(tp - tq) - (cp - cq)", 6)} AS did_estimate,
         |  ${roundN("se", 6)} AS std_error,
         |  ${roundN("tp - tq", 6)} AS treated_delta,
         |  ${roundN("cp - cq", 6)} AS control_delta
         |FROM did""".stripMargin) { (s, d) =>
      val b = Tables.events(s, d).agg(
        min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
      val f = Tables.events(s, d).crossJoin(broadcast(b)).select(
        when(Det.h56(concat(lit("did:"), col("user_id").cast("string")))
          % 2 === 0, 1).otherwise(0).as("treated"),
        when(unix_micros(col("ts")) * 2 >= col("t0") + col("t1"), 1)
          .otherwise(0).as("post"),
        col("value"))
      val cells = f.groupBy("treated", "post").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sv"),
        sum((col("value") * col("value")).cast(DecimalType(28, 10)))
          .cast("double").as("svv"))
      val m = cells.select(col("treated"), col("post"), col("n"),
        (col("sv") / col("n")).as("mean"),
        ((col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1))
          .as("var"))
      val did = m.agg(
        max(when(col("treated") === 1 && col("post") === 1, col("mean")))
          .as("tp"),
        max(when(col("treated") === 1 && col("post") === 0, col("mean")))
          .as("tq"),
        max(when(col("treated") === 0 && col("post") === 1, col("mean")))
          .as("cp"),
        max(when(col("treated") === 0 && col("post") === 0, col("mean")))
          .as("cq"),
        sqrt(sum((col("var") / col("n")).cast(DecimalType(28, 14))))
          .as("se"))
      did.select(
        Det.roundN((col("tp") - col("tq")) - (col("cp") - col("cq")), 6)
          .as("did_estimate"),
        Det.roundN(col("se"), 6).as("std_error"),
        Det.roundN(col("tp") - col("tq"), 6).as("treated_delta"),
        Det.roundN(col("cp") - col("cq"), 6).as("control_delta"))
    },

    // ---- IVF cell-balance report -------------------------------------

    // Index-health report for the IVF codebook: per-cell member counts →
    // imbalance factor (max/mean), coefficient of variation, and the
    // split work order (cells above 2× mean, the re-train candidates).
    // Cell skew is THE operational ANN failure mode — a hot cell turns
    // every probe into a scan — and this is the monitor that catches it
    // from the assignment relation alone.
    QueryDef.sql(
      "sim_ivf_balance", {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |${Fixtures.codebookCte},
           |scored AS (
           |  SELECT e.vec_id, cent.cell, ${cosSql("e.emb", "ce")} AS sim
           |  FROM e CROSS JOIN cent),
           |assigned AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY sim DESC, cell ASC) AS rn
           |    FROM scored) WHERE rn = 1),
           |sizes AS (SELECT cell, COUNT(*) AS members FROM assigned
           |          GROUP BY 1),
           |stats AS (
           |  SELECT COUNT(*) AS n_cells,
           |    CAST(SUM(members) AS BIGINT) AS total,
           |    MAX(members) AS mx,
           |    CAST(SUM(CAST(members * members AS DECIMAL(28,6)))
           |      AS DOUBLE) AS ssq
           |  FROM sizes)
           |SELECT n_cells, total, CAST(mx AS BIGINT) AS max_members,
           |  ${roundN("mx * 1.0 * n_cells / total", 4)} AS imbalance,
           |  ${roundN("sqrt(ssq / n_cells - (total * 1.0 / n_cells) * (total * 1.0 / n_cells)) / (total * 1.0 / n_cells)", 4)}
           |    AS cv,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes, stats
           |   WHERE members * n_cells > 2 * total) AS n_split_candidates
           |FROM stats""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cent = Fixtures.codebook(emb)
      val sizes = Similarity.assignCells(emb, cent)
        .groupBy("cell").agg(count(lit(1)).as("members"))
      val stats = sizes.agg(count(lit(1)).as("n_cells"),
        sum("members").as("total"), max("members").as("mx"),
        sum((col("members") * col("members")).cast(DecimalType(28, 6)))
          .cast("double").as("ssq"))
      val splits = sizes.crossJoin(broadcast(stats))
        .filter(col("members") * col("n_cells") > lit(2) * col("total"))
        .agg(count(lit(1)).as("n_split_candidates"))
      val mean = col("total") * lit(1.0) / col("n_cells")
      stats.crossJoin(splits).select(
        col("n_cells"), col("total"), col("mx").as("max_members"),
        Det.roundN(col("mx") * lit(1.0) * col("n_cells") / col("total"), 4)
          .as("imbalance"),
        Det.roundN(sqrt(col("ssq") / col("n_cells") - mean * mean) / mean, 4)
          .as("cv"),
        col("n_split_candidates"))
    },

    // ---- deterministic random-walk sampling --------------------------

    // Node2vec-style corpus sampling, derandomized: from 50 hash-chosen
    // seed users, three walk steps over the co-event graph (users linked
    // when adjacent user ids interacted with the same event type — a
    // bounded synthetic edge set), each step picking the neighbor with
    // the minimal step-salted edge hash — i.e. a uniform choice that any
    // engine reproduces. Walk sampling is how graph-embedding training
    // corpora are built; three unrolled argmin joins, each bounded by
    // the edge relation.
    QueryDef.sql(
      "g_walk_sample",
      s"""WITH nodes AS (SELECT DISTINCT user_id FROM events),
         |ut AS (SELECT DISTINCT user_id, event_type FROM events),
         |edges AS (
         |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
         |  FROM ut a JOIN ut b
         |    ON b.user_id = a.user_id + 1 AND b.event_type = a.event_type),
         |seeds AS (
         |  SELECT user_id AS v0 FROM nodes
         |  WHERE ${Det.h56Sql("'seed:' || CAST(user_id AS VARCHAR)")} % 3 = 0),
         |s1 AS (
         |  SELECT v0, MIN_BY(dst, ${Det.h56Sql("'w1:' || CAST(v0 AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")}) AS v1
         |  FROM seeds JOIN edges ON src = v0 GROUP BY v0),
         |s2 AS (
         |  SELECT v0, v1, MIN_BY(dst, ${Det.h56Sql("'w2:' || CAST(v1 AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")}) AS v2
         |  FROM s1 JOIN edges ON src = v1 GROUP BY v0, v1),
         |s3 AS (
         |  SELECT v0, v1, v2, MIN_BY(dst, ${Det.h56Sql("'w3:' || CAST(v2 AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")}) AS v3
         |  FROM s2 JOIN edges ON src = v2 GROUP BY v0, v1, v2)
         |SELECT s1.v0, s1.v1, s2.v2, s3.v3
         |FROM s1 LEFT JOIN s2 USING (v0, v1)
         |        LEFT JOIN s3 USING (v0, v1, v2)
         |ORDER BY v0""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val nodes = ev.select("user_id").distinct()
      // DISTINCT (user, type) BEFORE the adjacency join (r12 skew sweep):
      // joining raw events meant rows(u) × rows(u+1) intermediates per
      // type — two adjacent Zipf-hot users made that ~3·10^8 rows before
      // the old post-join DISTINCT could collapse them (20 s on the
      // skewed sf1 lake, 3 s flat). On the distinct relations the join
      // emits each (src, dst, type) at most once; same edge set.
      val ut = ev.select(col("user_id"), col("event_type")).distinct()
      val b = ut.select((col("user_id") - 1).as("src"),
        col("event_type"), col("user_id").as("dst"))
      // staged: three walk steps re-derived the edge self-join (15
      // events scans in one plan before staging — rescan audit)
      val edges = ut.select(col("user_id").as("src"), col("event_type"))
        .join(b, Seq("src", "event_type")).select("src", "dst").distinct()
        .staged
      val seeds = nodes.filter(
        Det.h56(concat(lit("seed:"), col("user_id").cast("string")))
          % 3 === 0).select(col("user_id").as("v0"))
      def step(from: DataFrame, vPrev: String, vNext: String, salt: String,
          keep: Seq[String]): DataFrame =
        from.join(edges, col("src") === col(vPrev))
          .groupBy(keep.map(col): _*)
          .agg(min_by(col("dst"), Det.h56(concat(lit(salt),
            col(vPrev).cast("string"), lit(":"), col("dst").cast("string"))))
            .as(vNext))
      val s1 = step(seeds, "v0", "v1", "w1:", Seq("v0"))
      val s2 = step(s1, "v1", "v2", "w2:", Seq("v0", "v1"))
      val s3 = step(s2, "v2", "v3", "w3:", Seq("v0", "v1", "v2"))
      s1.join(s2, Seq("v0", "v1"), "left")
        .join(s3, Seq("v0", "v1", "v2"), "left")
        .select("v0", "v1", "v2", "v3")
        .orderBy("v0")
    },

    // ---- target encoding ---------------------------------------------

    // Leave-one-out target encoding of `source` against the lang='en'
    // label with additive smoothing toward the global prior (m=10): the
    // standard leakage-aware categorical feature for tabular/quality
    // models — each row's own label is subtracted from its category sum
    // so the feature never memorizes the row. One category aggregate
    // broadcast back over the corpus; everything rational from integer
    // counts, so the encodings are engine-identical doubles.
    QueryDef.sql(
      "t_target_encoding",
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |g AS (SELECT CAST(SUM(y) AS BIGINT) AS gy, COUNT(*) AS gn FROM f),
         |c AS (
         |  SELECT source, CAST(SUM(y) AS BIGINT) AS cy, COUNT(*) AS cn
         |  FROM f GROUP BY 1)
         |SELECT f.doc_id, f.source, f.y,
         |  ${roundN("(c.cy - f.y + (g.gy * 1.0 / g.gn) * 10) / (c.cn - 1 + 10)", 6)}
         |    AS enc
         |FROM f JOIN c USING (source), g
         |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d).select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))
      val g = f.agg(sum("y").as("gy"), count(lit(1)).as("gn"))
      val c = f.groupBy("source").agg(sum("y").as("cy"),
        count(lit(1)).as("cn"))
      f.join(broadcast(c), "source").crossJoin(broadcast(g))
        .select(col("doc_id"), col("source"), col("y"),
          Det.roundN((col("cy") - col("y")
            + (col("gy") * lit(1.0) / col("gn")) * 10)
            / (col("cn") - 1 + 10), 6).as("enc"))
        .orderBy("doc_id")
    },

    // ---- sequential monitoring (SPRT-style) --------------------------

    // Sequential conversion-rate monitor per event type: a cumulative
    // log-likelihood-ratio walk (+0.2 per purchase, −0.05 per
    // non-purchase — fixed-point LLR coefficients for H1 p≈0.22 vs H0
    // p≈0.18, kept as exact decimal literals so the walk and its
    // boundary crossings are bit-deterministic; true ln ratios would put
    // an engine-ulp inside every comparison) with Wald boundaries
    // ±2.944439 (α=β≈0.05). Reports the first crossing per type — the
    // "stop the experiment early" signal — and the final walk value.
    QueryDef.sql(
      "a_sprt_monitor",
      s"""WITH seq AS (
         |  SELECT event_type AS grp,
         |    row_number() OVER w AS rn,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 0.2 ELSE -0.05 END)
         |      OVER w AS llr
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
         |               ROWS UNBOUNDED PRECEDING)),
         |crossed AS (
         |  SELECT grp, rn, llr,
         |    CASE WHEN llr >= 2.944439 THEN 'reject_h0'
         |         WHEN llr <= -2.944439 THEN 'accept_h0' END AS decision,
         |    row_number() OVER (PARTITION BY grp ORDER BY rn) AS cross_rank
         |  FROM seq WHERE llr >= 2.944439 OR llr <= -2.944439),
         |fin AS (
         |  SELECT grp, CAST(MAX(rn) AS BIGINT) AS n_events,
         |    ${roundN("MAX_BY(llr, rn)", 6)} AS final_llr
         |  FROM seq GROUP BY 1)
         |SELECT f.grp AS event_type, f.n_events,
         |  CAST(c.rn AS BIGINT) AS first_cross_at,
         |  COALESCE(c.decision, 'none') AS decision, f.final_llr
         |FROM fin f LEFT JOIN (SELECT * FROM crossed WHERE cross_rank = 1) c
         |  ON c.grp = f.grp
         |ORDER BY f.grp""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type").as("grp"),
        col("ts"), col("event_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("x"))
      val w = Window.partitionBy("grp").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val seq = e.withColumn("rn", row_number().over(
          Window.partitionBy("grp").orderBy("ts", "event_id")))
        .withColumn("llr", sum(when(col("x") === 1, lit(0.2))
          .otherwise(lit(-0.05))).over(w))
      val crossed = seq
        .filter(col("llr") >= 2.944439 || col("llr") <= -2.944439)
        .withColumn("decision", when(col("llr") >= 2.944439, "reject_h0")
          .otherwise("accept_h0"))
        .withColumn("cross_rank", row_number().over(
          Window.partitionBy("grp").orderBy("rn")))
        .filter(col("cross_rank") === 1)
        .select(col("grp"), col("rn").as("first_cross_at"),
          col("decision"))
      val fin = seq.groupBy("grp").agg(
        max("rn").cast("long").as("n_events"),
        Det.roundN(max_by(col("llr"), col("rn")), 6).as("final_llr"))
      fin.join(crossed, Seq("grp"), "left")
        .select(col("grp").as("event_type"), col("n_events"),
          col("first_cross_at").cast("long").as("first_cross_at"),
          coalesce(col("decision"), lit("none")).as("decision"),
          col("final_llr"))
        .orderBy("event_type")
    },

    // ---- lake retention sweep ----------------------------------------

    // Retention tiering over the day-ordered file manifest: files whose
    // newest row is >20 days behind the horizon are expirable, >10 days
    // cold, else hot — the deletion/compaction work order a lake
    // retention policy emits, derived purely from the per-file min/max
    // stats the layout job already maintains (never re-reading data
    // files). Manifest-bounded: the sweep costs O(files), not O(rows).
    QueryDef.sql(
      "k_retention_sweep",
      s"""WITH evs AS (
         |  SELECT event_id, ${Det.epochDaySql("ts")} AS day
         |  FROM events),
         |lay AS (
         |  SELECT day,
         |    (row_number() OVER (ORDER BY day, event_id) - 1) // 2048
         |      AS file_id
         |  FROM evs),
         |stats AS (
         |  SELECT file_id, COUNT(*) AS n_rows, MAX(day) AS max_day
         |  FROM lay GROUP BY 1),
         |h AS (SELECT MAX(day) AS horizon FROM evs),
         |tiered AS (
         |  SELECT file_id, n_rows,
         |    CASE WHEN max_day < horizon - 20 THEN 'expire'
         |         WHEN max_day < horizon - 10 THEN 'cold'
         |         ELSE 'hot' END AS tier
         |  FROM stats, h),
         |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS all_rows FROM stats)
         |SELECT tier, COUNT(*) AS n_files,
         |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |  ${roundN("CAST(SUM(n_rows) AS BIGINT) * 100.0 / all_rows", 4)}
         |    AS pct_rows
         |FROM tiered, tot GROUP BY tier, all_rows
         |ORDER BY tier""".stripMargin) { (s, d) =>
      val evs = Tables.events(s, d).select(col("event_id"),
        Det.epochDay(col("ts")).as("day"))
      val lay = ZOrder.fileLayoutRanged(evs,
        Seq(col("day"), col("event_id")), rowsPerFile = 2048)
      val stats = lay.groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"), max("day").as("max_day"))
      val h = evs.agg(max("day").as("horizon"))
      val tiered = stats.crossJoin(broadcast(h)).select(col("n_rows"),
        when(col("max_day") < col("horizon") - 20, "expire")
          .when(col("max_day") < col("horizon") - 10, "cold")
          .otherwise("hot").as("tier"))
      val tot = stats.agg(sum("n_rows").as("all_rows"))
      tiered.groupBy("tier")
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"))
        .crossJoin(broadcast(tot))
        .select(col("tier"), col("n_files"), col("n_rows"),
          Det.roundN(col("n_rows") * lit(100.0) / col("all_rows"), 4)
            .as("pct_rows"))
        .orderBy("tier")
    },

    // ---- audio frame planning (multimodal) ---------------------------

    // STFT-style frame plan for synthetic audio metadata (duration and
    // sample rate hash-derived per media id — the decode stays a
    // deterministic stub per the multimodal contract, the frame math is
    // real): win=1024, hop=512 samples, n_frames = (n−win)/hop + 1,
    // padded tail = samples the last full hop leaves uncovered. This is
    // the batch-shape planning a Pandas-UDF feature extractor consumes —
    // all integer arithmetic, summarized per sample rate.
    QueryDef.sql(
      "mm_audio_frames",
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    ([8000, 16000, 44100])[CAST(doc_id % 3 + 1 AS INT)] AS rate,
         |    ${Det.h56Sql("'dur:' || CAST(doc_id AS VARCHAR)")} % 30000 + 500
         |      AS dur_ms
         |  FROM documents),
         |s AS (
         |  SELECT id, rate, dur_ms, (dur_ms * rate) // 1000 AS n_samples
         |  FROM m),
         |f AS (
         |  SELECT id, rate, dur_ms, n_samples,
         |    CASE WHEN n_samples >= 1024
         |         THEN (n_samples - 1024) // 512 + 1 ELSE 0 END AS n_frames
         |  FROM s)
         |SELECT rate, COUNT(*) AS n_media,
         |  CAST(SUM(n_samples) AS BIGINT) AS total_samples,
         |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
         |  CAST(SUM(CASE WHEN n_frames > 0
         |    THEN n_samples - ((n_frames - 1) * 512 + 1024)
         |    ELSE n_samples END) AS BIGINT) AS tail_samples,
         |  CAST(MAX(n_frames) AS BIGINT) AS max_frames
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d).select(col("doc_id").as("id"),
        element_at(array(lit(8000), lit(16000), lit(44100)),
          (col("doc_id") % 3 + 1).cast("int")).as("rate"),
        (Det.h56(concat(lit("dur:"), col("doc_id").cast("string"))) % 30000
          + 500).as("dur_ms"))
      val sdf = m.withColumn("n_samples",
        expr("(dur_ms * rate) div 1000"))
      val f = sdf.withColumn("n_frames",
        when(col("n_samples") >= 1024,
          expr("(n_samples - 1024) div 512") + 1).otherwise(0L))
      f.groupBy("rate").agg(
          count(lit(1)).as("n_media"),
          sum("n_samples").as("total_samples"),
          sum("n_frames").as("total_frames"),
          sum(when(col("n_frames") > 0,
            col("n_samples") - ((col("n_frames") - 1) * 512 + 1024))
            .otherwise(col("n_samples"))).as("tail_samples"),
          max("n_frames").as("max_frames"))
        .orderBy("rate")
    },

    // ---- robust trend ------------------------------------------------

    // Theil-Sen slope per event-type daily series: the median of all
    // pairwise slopes — the robust estimator OLS isn't (one bad day
    // can't move the median). The pair set is HORIZON², not data², so
    // the quadratic is calendar-bounded (30 days → 435 pairs) no matter
    // how many rows feed the daily rollup. Median = mean of the two
    // middle order statistics (IEEE addition is commutative, so the
    // 2-value average is order-free); OLS slope alongside for contrast.
    QueryDef.sql(
      "w_theil_sen",
      s"""WITH daily AS (
         |  SELECT event_type, ${Det.epochDaySql("ts")} AS day,
         |    COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.event_type,
         |    (b.c - a.c) * 1.0 / (b.day - a.day) AS slope,
         |    a.day AS d1, b.day AS d2
         |  FROM daily a JOIN daily b
         |    ON a.event_type = b.event_type AND b.day > a.day),
         |rk AS (
         |  SELECT event_type, slope,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY slope, d1, d2) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS np
         |  FROM pairs),
         |ts AS (
         |  SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
         |    AVG(CASE WHEN rn IN ((np + 1) // 2, (np + 2) // 2)
         |             THEN slope END) AS ts_slope
         |  FROM rk GROUP BY 1),
         |mo AS (
         |  SELECT event_type, COUNT(*) AS n, SUM(day * 1.0) AS sx,
         |    SUM(c * 1.0) AS sy, SUM(day * 1.0 * c) AS sxy,
         |    SUM(day * 1.0 * day) AS sxx
         |  FROM daily GROUP BY 1)
         |SELECT t.event_type, CAST(mo.n AS BIGINT) AS n_days, t.n_pairs,
         |  ${roundN("t.ts_slope", 6)} AS ts_slope,
         |  ${roundN("(mo.n * mo.sxy - mo.sx * mo.sy) / (mo.n * mo.sxx - mo.sx * mo.sx)", 6)}
         |    AS ols_slope
         |FROM ts t JOIN mo ON t.event_type = mo.event_type
         |ORDER BY t.event_type""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          Det.epochDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val b = daily.select(col("event_type"), col("day").as("d2"),
        col("c").as("c2"))
      val pairs = daily.join(b, Seq("event_type"))
        .filter(col("d2") > col("day"))
        .select(col("event_type"),
          ((col("c2") - col("c")) * lit(1.0) / (col("d2") - col("day")))
            .as("slope"),
          col("day").as("d1"), col("d2"))
      val rk = pairs
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy("slope", "d1", "d2")))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val ts = rk.groupBy("event_type").agg(
        max("np").cast("long").as("n_pairs"),
        avg(when(col("rn") === expr("(np + 1) div 2")
          || col("rn") === expr("(np + 2) div 2"), col("slope")))
          .as("ts_slope"))
      val mo = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("day") * lit(1.0)).as("sx"),
        sum(col("c") * lit(1.0)).as("sy"),
        sum(col("day") * lit(1.0) * col("c")).as("sxy"),
        sum(col("day") * lit(1.0) * col("day")).as("sxx"))
      ts.join(mo, "event_type")
        .select(col("event_type"), col("n").as("n_days"), col("n_pairs"),
          Det.roundN(col("ts_slope"), 6).as("ts_slope"),
          Det.roundN((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("ols_slope"))
        .orderBy("event_type")
    },

    // ---- linear probe (distributed GD) -------------------------------

    // Two unrolled gradient steps of a least-squares linear probe
    // predicting lang='en' from three cheap text features — the
    // "train a tiny probe on corpus features" loop as a relational
    // program. Squared loss keeps every per-row term POLYNOMIAL in
    // exact inputs (a sigmoid would put a transcendental on every row —
    // ulp-drift russian roulette across engines at corpus scale), so
    // residuals are identical doubles and the gradient sums
    // DECIMAL-route to order-freedom. Each step is one scan + one
    // 4-number reduce: the classic distributed full-batch GD shape.
    QueryDef.sql(
      "t_linear_probe", {
        val x1 = "n_chars / 1000.0"
        val x2 = s"len(${tokensSql("text")}) / 100.0"
        val x3 = s"length(text) / (1.0 + len(${tokensSql("text")}))/ 10.0"
        s"""WITH f AS (
           |  SELECT doc_id, $x1 AS x1, $x2 AS x2, $x3 AS x3,
           |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           |  FROM documents),
           |n AS (SELECT COUNT(*) AS nn FROM f),
           |g1 AS (
           |  SELECT
           |    CAST(SUM(CAST(y * x1 AS DECIMAL(28,14))) AS DOUBLE) AS gyx1,
           |    CAST(SUM(CAST(y * x2 AS DECIMAL(28,14))) AS DOUBLE) AS gyx2,
           |    CAST(SUM(CAST(y * x3 AS DECIMAL(28,14))) AS DOUBLE) AS gyx3,
           |    CAST(SUM(CAST(y AS DECIMAL(28,14))) AS DOUBLE) AS gy
           |  FROM f),
           |w1 AS (
           |  SELECT 0.1 * 2 * gyx1 / nn AS w1, 0.1 * 2 * gyx2 / nn AS w2,
           |    0.1 * 2 * gyx3 / nn AS w3, 0.1 * 2 * gy / nn AS b
           |  FROM g1, n),
           |r2 AS (
           |  SELECT f.*, w1.w1 * x1 + w1.w2 * x2 + w1.w3 * x3 + w1.b - y
           |    AS res
           |  FROM f, w1),
           |g2 AS (
           |  SELECT
           |    CAST(SUM(CAST(res * x1 AS DECIMAL(28,14))) AS DOUBLE) AS gx1,
           |    CAST(SUM(CAST(res * x2 AS DECIMAL(28,14))) AS DOUBLE) AS gx2,
           |    CAST(SUM(CAST(res * x3 AS DECIMAL(28,14))) AS DOUBLE) AS gx3,
           |    CAST(SUM(CAST(res AS DECIMAL(28,14))) AS DOUBLE) AS gb
           |  FROM r2),
           |w2 AS (
           |  SELECT w1.w1 - 0.1 * 2 * gx1 / nn AS w1,
           |    w1.w2 - 0.1 * 2 * gx2 / nn AS w2,
           |    w1.w3 - 0.1 * 2 * gx3 / nn AS w3,
           |    w1.b - 0.1 * 2 * gb / nn AS b
           |  FROM w1, g2, n),
           |mse AS (
           |  SELECT CAST(SUM(CAST(
           |      (w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3 + w2.b - y)
           |      * (w2.w1 * x1 + w2.w2 * x2 + w2.w3 * x3 + w2.b - y)
           |      AS DECIMAL(28,14))) AS DOUBLE) AS sse
           |  FROM f, w2)
           |SELECT ${roundN("w2.w1", 6)} AS w1, ${roundN("w2.w2", 6)} AS w2,
           |  ${roundN("w2.w3", 6)} AS w3, ${roundN("w2.b", 6)} AS b,
           |  ${roundN("mse.sse / n.nn", 6)} AS train_mse,
           |  CAST(n.nn AS BIGINT) AS n
           |FROM w2, mse, n""".stripMargin
      }) { (s, d) =>
      def d14(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 14))).cast("double")
      val toks = size(split(trim(lower(col("text"))), "\\s+"))
      val f = Tables.documents(s, d).select(
        (col("n_chars") / 1000.0).as("x1"),
        (toks / lit(100.0)).as("x2"),
        (length(col("text")) / (lit(1.0) + toks) / lit(10.0)).as("x3"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        .staged // each GD pass re-derived the projection (14 scans pre-stage)
      val n = f.agg(count(lit(1)).as("nn"))
      val g1 = f.agg(d14(col("y") * col("x1")).as("gyx1"),
        d14(col("y") * col("x2")).as("gyx2"),
        d14(col("y") * col("x3")).as("gyx3"), d14(col("y")).as("gy"))
      val w1 = g1.crossJoin(broadcast(n)).select(
        (lit(0.1) * 2 * col("gyx1") / col("nn")).as("w1"),
        (lit(0.1) * 2 * col("gyx2") / col("nn")).as("w2"),
        (lit(0.1) * 2 * col("gyx3") / col("nn")).as("w3"),
        (lit(0.1) * 2 * col("gy") / col("nn")).as("b"))
      val r2 = f.crossJoin(broadcast(w1)).withColumn("res",
        col("w1") * col("x1") + col("w2") * col("x2")
          + col("w3") * col("x3") + col("b") - col("y"))
      val g2 = r2.agg(d14(col("res") * col("x1")).as("gx1"),
        d14(col("res") * col("x2")).as("gx2"),
        d14(col("res") * col("x3")).as("gx3"), d14(col("res")).as("gb"))
      val w2 = w1.crossJoin(g2).crossJoin(broadcast(n)).select(
        (col("w1") - lit(0.1) * 2 * col("gx1") / col("nn")).as("w1"),
        (col("w2") - lit(0.1) * 2 * col("gx2") / col("nn")).as("w2"),
        (col("w3") - lit(0.1) * 2 * col("gx3") / col("nn")).as("w3"),
        (col("b") - lit(0.1) * 2 * col("gb") / col("nn")).as("b"))
      val pred = f.crossJoin(broadcast(w2)).withColumn("res",
        col("w1") * col("x1") + col("w2") * col("x2")
          + col("w3") * col("x3") + col("b") - col("y"))
      val mse = pred.agg(d14(col("res") * col("res")).as("sse"))
      w2.crossJoin(mse).crossJoin(n).select(
        Det.roundN(col("w1"), 6).as("w1"),
        Det.roundN(col("w2"), 6).as("w2"),
        Det.roundN(col("w3"), 6).as("w3"),
        Det.roundN(col("b"), 6).as("b"),
        Det.roundN(col("sse") / col("nn"), 6).as("train_mse"),
        col("nn").as("n"))
    },

    // ---- source reconciliation ---------------------------------------

    // Accounting-style two-source reconciliation: the order header total
    // vs the recomputed lineitem net (Σ extendedprice·(1−discount),
    // DECIMAL-exact at 4dp) per order, rolled up by status — matched /
    // mismatched counts, headerless orders, absolute-difference mass and
    // worst offender. The daily close every warehouse runs; one keyed
    // join + one rollup, no shape that degrades at 100 TB.
    QueryDef.sql(
      "q_reconciliation",
      s"""WITH li AS (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
         |      AS DECIMAL(18,4))) AS DOUBLE) AS computed
         |  FROM lineitem GROUP BY 1),
         |j AS (
         |  SELECT o.o_orderstatus, o.o_totalprice, li.computed,
         |    CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END AS no_lines,
         |    CASE WHEN li.l_orderkey IS NOT NULL
         |              AND abs(o.o_totalprice - li.computed) > 0.01
         |         THEN 1 ELSE 0 END AS mismatch,
         |    CASE WHEN li.l_orderkey IS NOT NULL
         |         THEN abs(o.o_totalprice - li.computed) ELSE 0.0 END
         |      AS adiff
         |  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
         |SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  CAST(SUM(no_lines) AS BIGINT) AS n_headerless,
         |  CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
         |  ${roundN("CAST(SUM(CAST(adiff AS DECIMAL(18,4))) AS DOUBLE)", 2)}
         |    AS total_abs_diff,
         |  ${roundN("MAX(adiff)", 2)} AS max_abs_diff
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("computed"))
      val j = Tables.orders(s, d).join(li,
          col("l_orderkey") === col("o_orderkey"), "left")
        .select(col("o_orderstatus"), col("o_totalprice"), col("computed"),
          when(col("l_orderkey").isNull, 1L).otherwise(0L).as("no_lines"),
          when(col("l_orderkey").isNotNull
            && abs(col("o_totalprice") - col("computed")) > 0.01, 1L)
            .otherwise(0L).as("mismatch"),
          when(col("l_orderkey").isNotNull,
            abs(col("o_totalprice") - col("computed"))).otherwise(lit(0.0))
            .as("adiff"))
      j.groupBy("o_orderstatus").agg(
          count(lit(1)).as("n_orders"),
          sum("no_lines").as("n_headerless"),
          sum("mismatch").as("n_mismatch"),
          Det.roundN(sum(col("adiff").cast(DecimalType(18, 4)))
            .cast("double"), 2).as("total_abs_diff"),
          Det.roundN(max("adiff"), 2).as("max_abs_diff"))
        .orderBy("o_orderstatus")
    },

    // ---- span corruption (T5-style denoising targets) ----------------

    // Seq2seq denoising pairs from the document corpus: tokens group
    // into 3-token spans, ~20% of spans (hash-selected, reproducible)
    // are masked; the corrupted text replaces each masked span with a
    // sentinel <extra_id_K> and the target sequence lists sentinels with
    // the original span text — the T5/UL2 pretraining objective as a
    // relational program. Everything is per-document map-side work
    // (tokenize → flag → two ordered string_aggs); the only shuffle is
    // the doc_id group — scale-free. Sentinel numbering K is the dense
    // rank of the masked span within the doc, mirrored in SQL.
    QueryDef.sql(
      "t_span_corruption",
      raw"""WITH toks AS (
         |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
         |    unnest(parts) AS term
         |  FROM (SELECT doc_id,
         |          ${tokensSql("text")} AS parts
         |        FROM documents)),
         |sp AS (
         |  SELECT doc_id, pos, term, pos // 3 AS span_id,
         |    CASE WHEN ${Det.h56Sql("'span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos // 3 AS VARCHAR)")} % 5 = 0
         |         THEN 1 ELSE 0 END AS masked
         |  FROM toks WHERE term <> ''),
         |ks AS (
         |  SELECT *,
         |    CASE WHEN masked = 1 THEN dense_rank() OVER (
         |      PARTITION BY doc_id, masked ORDER BY span_id) - 1 END AS k,
         |    MIN(pos) OVER (PARTITION BY doc_id, span_id) AS mp
         |  FROM sp),
         |corrupted AS (
         |  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS corrupted
         |  FROM (
         |    SELECT doc_id, pos,
         |      CASE WHEN masked = 0 THEN term
         |           ELSE '<extra_id_' || CAST(k AS VARCHAR) || '>' END AS piece
         |    FROM ks
         |    WHERE masked = 0 OR pos = mp)
         |  GROUP BY doc_id),
         |targets AS (
         |  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS targets,
         |    COUNT(DISTINCT span_id) AS n_masked_spans
         |  FROM (
         |    SELECT doc_id, pos, span_id,
         |      CASE WHEN pos = mp
         |           THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || term
         |           ELSE term END AS piece
         |    FROM ks WHERE masked = 1)
         |  GROUP BY doc_id)
         |SELECT c.doc_id, c.corrupted,
         |  COALESCE(t.targets, '') AS targets,
         |  CAST(COALESCE(t.n_masked_spans, 0) AS BIGINT) AS n_masked_spans
         |FROM corrupted c LEFT JOIN targets t ON c.doc_id = t.doc_id
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+"))
            .as(Seq("pos", "term")))
        .filter(col("term") =!= "")
      val sp = toks
        .withColumn("span_id", expr("pos div 3"))
        .withColumn("masked",
          when(Det.h56(concat(lit("span:"), col("doc_id").cast("string"),
            lit(":"), expr("pos div 3").cast("string"))) % 5 === 0, 1)
            .otherwise(0))
      val ks = sp
        .withColumn("k",
          when(col("masked") === 1, dense_rank().over(
            Window.partitionBy("doc_id", "masked").orderBy("span_id")) - 1))
        .withColumn("mp",
          min("pos").over(Window.partitionBy("doc_id", "span_id")))
      // corrupted text: unmasked tokens verbatim; each masked span
      // collapses to one sentinel at its first present token
      val corrupted = ks
        .filter(col("masked") === 0 || col("pos") === col("mp"))
        .select(col("doc_id"), col("pos"),
          when(col("masked") === 0, col("term"))
            .otherwise(concat(lit("<extra_id_"), col("k").cast("string"),
              lit(">"))).as("piece"))
        .groupBy("doc_id")
        .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(pos, piece))), x -> x.piece)"), " ")
          .as("corrupted"))
      val targets = ks.filter(col("masked") === 1)
        .select(col("doc_id"), col("pos"), col("span_id"),
          when(col("pos") === col("mp"),
            concat(lit("<extra_id_"), col("k").cast("string"), lit("> "),
              col("term"))).otherwise(col("term")).as("piece"))
        .groupBy("doc_id")
        .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(pos, piece))), x -> x.piece)"), " ")
          .as("targets"),
          countDistinct("span_id").as("n_masked_spans"))
      corrupted.join(targets, Seq("doc_id"), "left")
        .select(col("doc_id"), col("corrupted"),
          coalesce(col("targets"), lit("")).as("targets"),
          coalesce(col("n_masked_spans"), lit(0L)).as("n_masked_spans"))
        .orderBy("doc_id")
    },

    // ---- distributed PCA ---------------------------------------------

    // Top principal direction of the embedding corpus by two rounds of
    // power iteration, never materializing the d×d Gram matrix: each
    // round is y = Xᵀ(X·v) — two data passes with d-sized state, THE
    // distributed formulation (the naive Gram needs d² accumulators and
    // an all-to-all). v₀ = 1/√d = 0.125 exactly (d=64). Every cross-row
    // sum routes through DECIMAL(28,14) so partial-agg order is
    // irrelevant; sqrt/divide on identical doubles. Output: the 64
    // loadings of the round-2 direction plus the Rayleigh eigenvalue
    // estimate v₁ᵀy₂.
    QueryDef.sql(
      "sim_power_iteration", {
        def dsum(e: String) =
          s"CAST(SUM(CAST($e AS DECIMAL(28,14))) AS DOUBLE)"
        s"""WITH dims AS (
           |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS j,
           |    CAST(unnest(embedding) AS DOUBLE) AS x
           |  FROM embeddings),
           |s1 AS (SELECT id, ${dsum("x * 0.125")} AS si FROM dims GROUP BY 1),
           |y1 AS (
           |  SELECT j, ${dsum("x * si")} AS yj
           |  FROM dims JOIN s1 USING (id) GROUP BY 1),
           |n1 AS (SELECT sqrt(${dsum("yj * yj")}) AS nrm FROM y1),
           |v1 AS (SELECT j, yj / nrm AS vj FROM y1, n1),
           |s2 AS (
           |  SELECT id, ${dsum("x * vj")} AS si
           |  FROM dims JOIN v1 USING (j) GROUP BY 1),
           |y2 AS (
           |  SELECT j, ${dsum("x * si")} AS yj
           |  FROM dims JOIN s2 USING (id) GROUP BY 1),
           |n2 AS (SELECT sqrt(${dsum("yj * yj")}) AS nrm FROM y2),
           |lam AS (
           |  SELECT ${dsum("v1.vj * y2.yj")} AS lambda
           |  FROM v1 JOIN y2 USING (j))
           |SELECT CAST(y2.j AS BIGINT) AS j,
           |  ${roundN("y2.yj / n2.nrm", 6)} AS loading,
           |  ${roundN("lam.lambda", 4)} AS lambda
           |FROM y2, n2, lam ORDER BY j""".stripMargin
      }) { (s, d) =>
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 14))).cast("double")
      import graft.engine.Stage.syntax._
      // staged: four matvec consumers re-expanded the posexplode subtree
      // — 22 embeddings scans in one plan before staging (rescan audit)
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          posexplode(col("embedding")).as(Seq("j", "x")))
        .withColumn("x", col("x").cast("double"))
        .staged
      val s1 = dims.groupBy("id").agg(dsum(col("x") * lit(0.125)).as("si"))
      val y1 = dims.join(s1, "id").groupBy("j")
        .agg(dsum(col("x") * col("si")).as("yj"))
      val n1 = y1.agg(sqrt(dsum(col("yj") * col("yj"))).as("nrm"))
      val v1 = y1.crossJoin(broadcast(n1))
        .select(col("j"), (col("yj") / col("nrm")).as("vj"))
      val s2 = dims.join(broadcast(v1), "j").groupBy("id")
        .agg(dsum(col("x") * col("vj")).as("si"))
      val y2 = dims.join(s2, "id").groupBy("j")
        .agg(dsum(col("x") * col("si")).as("yj"))
      val n2 = y2.agg(sqrt(dsum(col("yj") * col("yj"))).as("nrm"))
      val lam = v1.join(y2, "j")
        .agg(dsum(col("vj") * col("yj")).as("lambda"))
      y2.crossJoin(broadcast(n2)).crossJoin(broadcast(lam))
        .select(col("j").cast("long").as("j"),
          Det.roundN(col("yj") / col("nrm"), 6).as("loading"),
          Det.roundN(col("lambda"), 4).as("lambda"))
        .orderBy("j")
    },
  )
}
