package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Tables}
import graft.engine.Stage.syntax._

/** Nonparametric and experiment-analysis operators: two-sample
  * distribution tests (Kolmogorov-Smirnov, Mann-Whitney), multiple-testing
  * control (Benjamini-Hochberg FDR), variance-reduced A/B readout (CUPED),
  * inverse-propensity weighting, and a hash-derandomized randomization
  * test. Companions to the `StatsOps` inference family
  * (reference quality gates: /root/reference/scripts/silver/transform_silver.py
  * validates distributions only by null/range rules — these give the
  * engine the testing layer a 100 TB curation pipeline actually ships
  * with: "did this source's distribution move, and is the move
  * significant after testing 10k segments?").
  *
  * Scale shape shared by the family: scan → one map-side-combinable
  * groupBy whose key count is bounded by a FIXED domain (value bins from
  * a fixed price/value range, nations, replicate ids) — never by row
  * count — then a single-partition finish over that bounded relation.
  * The only windows are over those bounded relations (the
  * `a_kaplan_meier` lifetable precedent, StatsOps.scala).
  *
  * Determinism: counts and decimal sums are exact integers end-to-end;
  * doubles appear only in the closed-form finish, computed by the SAME
  * arithmetic expression tree in Spark and the oracle (IEEE ops on
  * identical inputs are identical), with [[Det.roundN]] absorbing the
  * final transcendental ulp (exp/sqrt), per the StatsOps precedent.
  *
  * The normal-CDF tail needed for p-values has no builtin in either
  * engine; both sides evaluate the SAME Abramowitz-Stegun 7.1.26 erfc
  * polynomial (|err| < 1.5e-7, far inside roundN(6)'s slack) — see
  * [[ExperimentOps.pTwoSided]] / [[ExperimentOps.pTwoSidedSql]].
  */
object ExperimentOps {

  private val roundN = Det.roundNSql _

  /** Two-sided normal p-value 2·(1−Φ(|z|)) = erfc(|z|/√2) via the
    * Abramowitz-Stegun 7.1.26 polynomial. Pure IEEE arithmetic — the
    * Column tree and the SQL string are the same expression shape, so
    * both engines produce bit-identical doubles from identical |z|
    * (1/√2 is a literal so there is no sqrt call to match). */
  def pTwoSided(absZ: Column): Column = {
    val x = absZ * lit(0.7071067811865476)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    poly * exp(-(x * x))
  }

  def pTwoSidedSql(absZ: String): String = {
    val x = s"(($absZ) * 0.7071067811865476)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t * exp(-($x * $x)))"
  }

  /** Per nation: its orders `n` and fulfilled ('F') orders `k`. */
  private def nationFulfilled(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0))
          .cast("long").as("k"))

  /** DuckDB form of [[nationFulfilled]]: CTE `pn(n_name, n, k)`. */
  private val nationFulfilledCte =
    """pn AS (
      |  SELECT n.n_name, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1)""".stripMargin

  /** Orders with their customer's nation as stratum `st`, the treatment
    * flag `t` (1 for urgent or high priority) and the `outcome` column. */
  private def treated(s: SparkSession, d: String, outcome: Column): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("st"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0).as("t"),
        outcome)

  /** DuckDB form of [[treated]]: CTE `j(st, t, outcome)` over `orders o`
    * and `customer c`. */
  private def treatedCte(outcome: String): String =
    s"""j AS (
       |  SELECT c.c_nationkey AS st,
       |    CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
       |         THEN 1 ELSE 0 END AS t,
       |    $outcome
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- two-sample distribution tests -------------------------------

    // Discretized two-sample Kolmogorov-Smirnov: does the order-value
    // distribution of urgent/high-priority orders differ from the rest?
    // Values are binned to $100 cells, so the ECDF relation is bounded by
    // the PRICE RANGE (~5k cells), not by row count — the statistic is
    // exact for the binned distributions. D is found as an INTEGER
    // cross-multiplied max (|cumA·nB − cumB·nA|), so the argmax is
    // order-free; doubles enter only in the closed-form finish. The
    // asymptotic p-value is the Kolmogorov series 2·Σ(−1)^{j−1}
    // exp(−2j²λ²) (j ≤ 100, λ with the Stephens small-sample
    // correction), summed in DECIMAL(38,18) so the 100-term reduction is
    // order-independent cross-engine. 100 TB shape: one map-side
    // combinable groupBy(bin), a window over ≤5k bins, scalar finish.
    QueryDef.sql(
      "a_ks_test", {
        val lamSql = "(sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d"
        s"""WITH h AS (
           |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
           |              THEN 1 ELSE 0 END AS hi,
           |    CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS bin
           |  FROM orders),
           |hist AS (
           |  SELECT bin, CAST(SUM(hi) AS BIGINT) AS c_hi,
           |    CAST(SUM(1 - hi) AS BIGINT) AS c_lo
           |  FROM h GROUP BY 1),
           |tot AS (
           |  SELECT CAST(SUM(c_hi) AS BIGINT) AS n_hi,
           |    CAST(SUM(c_lo) AS BIGINT) AS n_lo FROM hist),
           |cum AS (
           |  SELECT bin,
           |    CAST(SUM(c_hi) OVER w AS BIGINT) AS cum_hi,
           |    CAST(SUM(c_lo) OVER w AS BIGINT) AS cum_lo
           |  FROM hist
           |  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
           |               AND CURRENT ROW)),
           |dn AS (
           |  SELECT MAX(ABS(cum_hi * n_lo - cum_lo * n_hi)) AS d_num,
           |    MAX(n_hi) AS n_hi, MAX(n_lo) AS n_lo
           |  FROM cum, tot),
           |sc AS (
           |  SELECT n_hi, n_lo,
           |    CAST(d_num AS DOUBLE) / CAST(n_hi * n_lo AS DOUBLE) AS d,
           |    CAST(n_hi AS DOUBLE) * CAST(n_lo AS DOUBLE)
           |      / CAST(n_hi + n_lo AS DOUBLE) AS ne
           |  FROM dn),
           |lamt AS (SELECT n_hi, n_lo, d, $lamSql AS lam FROM sc),
           |ps AS (
           |  SELECT n_hi, n_lo, d, lam,
           |    SUM(CAST(CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END
           |      * exp(-2.0 * CAST(j * j AS DOUBLE) * (lam * lam))
           |      AS DECIMAL(38,18))) AS ssum
           |  FROM lamt, (SELECT unnest(generate_series(1, 100)) AS j) jj
           |  GROUP BY 1, 2, 3, 4)
           |SELECT n_hi, n_lo, ${roundN("d", 6)} AS d_stat,
           |  ${roundN("lam", 6)} AS lambda,
           |  ${roundN("GREATEST(0.0, LEAST(1.0, 2.0 * CAST(ssum AS DOUBLE)))", 6)}
           |    AS p_value
           |FROM ps""".stripMargin
      }) { (s, d) =>
      val h = Tables.orders(s, d).select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0).as("hi"),
        floor(col("o_totalprice") / 100.0).cast("long").as("bin"))
      val hist = h.groupBy("bin").agg(
        sum("hi").as("c_hi"), sum(expr("1 - hi")).as("c_lo"))
      val tot = hist.agg(sum("c_hi").cast("long").as("n_hi"),
        sum("c_lo").cast("long").as("n_lo"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("bin"),
        sum("c_hi").over(w).as("cum_hi"), sum("c_lo").over(w).as("cum_lo"))
      val dn = cum.crossJoin(broadcast(tot)).agg(
        max(abs(col("cum_hi") * col("n_lo") - col("cum_lo") * col("n_hi")))
          .as("d_num"),
        max("n_hi").as("n_hi"), max("n_lo").as("n_lo"))
      val sc = dn.select(col("n_hi"), col("n_lo"),
        (col("d_num").cast("double") /
          (col("n_hi") * col("n_lo")).cast("double")).as("d"),
        (col("n_hi").cast("double") * col("n_lo").cast("double") /
          (col("n_hi") + col("n_lo")).cast("double")).as("ne"))
      val lamt = sc.withColumn("lam",
        (sqrt(col("ne")) + lit(0.12) + lit(0.11) / sqrt(col("ne"))) * col("d"))
      val js = s.range(1, 101).select(col("id").as("j"))
      val ps = js.crossJoin(broadcast(lamt)).agg(
        max("n_hi").as("n_hi"), max("n_lo").as("n_lo"),
        max("d").as("d"), max("lam").as("lam"),
        sum((when(col("j") % 2 === 1, lit(1.0)).otherwise(lit(-1.0)) *
          exp(lit(-2.0) * (col("j") * col("j")).cast("double") *
            (col("lam") * col("lam")))).cast(DecimalType(38, 18)))
          .as("ssum"))
      ps.select(col("n_hi"), col("n_lo"),
        Det.roundN(col("d"), 6).as("d_stat"),
        Det.roundN(col("lam"), 6).as("lambda"),
        Det.roundN(greatest(lit(0.0),
          least(lit(1.0), lit(2.0) * col("ssum").cast("double"))), 6)
          .as("p_value"))
    },

    // Mann-Whitney U (Wilcoxon rank-sum) on event value, purchase vs
    // click, from the cent-binned value HISTOGRAM — U is computed
    // without materializing ranks: 2U = Σ_v cA(v)·(2·cumB(<v) + cB(v)),
    // all integer-exact, with the classic tie correction
    // σ² = nA·nB/12·((n+1) − Σ(t³−t)/(n(n−1))) from the same histogram.
    // The histogram key is bounded by the fixed value range (≤49k cent
    // cells at any data scale), so the cumulative window never sees
    // row-count-sized input. z is computed from exact integers; the
    // two-sided p comes from the shared A-S erfc polynomial.
    QueryDef.sql(
      "a_mann_whitney", {
        s"""WITH v AS (
           |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
           |    CAST(FLOOR(value * 100.0) AS BIGINT) AS vb
           |  FROM events WHERE event_type IN ('purchase', 'click')),
           |hist AS (
           |  SELECT vb, CAST(SUM(a) AS BIGINT) AS c_a,
           |    CAST(SUM(1 - a) AS BIGINT) AS c_b
           |  FROM v GROUP BY 1),
           |cum AS (
           |  SELECT vb, c_a, c_b,
           |    CAST(COALESCE(SUM(c_b) OVER (ORDER BY vb
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum_b_prev
           |  FROM hist),
           |red AS (
           |  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
           |    CAST(SUM(c_b) AS BIGINT) AS n_b,
           |    CAST(SUM(c_a * (2 * cum_b_prev + c_b)) AS BIGINT) AS u2,
           |    CAST(SUM((c_a + c_b) * (c_a + c_b) * (c_a + c_b)
           |      - (c_a + c_b)) AS BIGINT) AS ties
           |  FROM cum),
           |z AS (
           |  SELECT n_a, n_b, u2,
           |    (CAST(u2 - n_a * n_b AS DOUBLE) / 2.0)
           |      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           |        * (CAST(n_a + n_b + 1 AS DOUBLE)
           |           - CAST(ties AS DOUBLE)
           |             / (CAST(n_a + n_b AS DOUBLE)
           |                * CAST(n_a + n_b - 1 AS DOUBLE)))) AS z
           |  FROM red)
           |SELECT n_a, n_b, CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
           |  ${roundN("z", 6)} AS z_score,
           |  ${roundN(pTwoSidedSql("ABS(z)"), 6)} AS p_value
           |FROM z""".stripMargin
      }) { (s, d) =>
      val v = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(
          when(col("event_type") === "purchase", 1).otherwise(0).as("a"),
          floor(col("value") * 100.0).cast("long").as("vb"))
      val hist = v.groupBy("vb").agg(
        sum("a").as("c_a"), sum(expr("1 - a")).as("c_b"))
      val wPrev = Window.orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist.withColumn("cum_b_prev",
        coalesce(sum("c_b").over(wPrev), lit(0L)))
      val red = cum.agg(
        sum("c_a").cast("long").as("n_a"),
        sum("c_b").cast("long").as("n_b"),
        sum(col("c_a") * (lit(2) * col("cum_b_prev") + col("c_b")))
          .cast("long").as("u2"),
        sum((col("c_a") + col("c_b")) * (col("c_a") + col("c_b")) *
          (col("c_a") + col("c_b")) - (col("c_a") + col("c_b")))
          .cast("long").as("ties"))
      val z = red.select(col("n_a"), col("n_b"), col("u2"),
        ((col("u2") - col("n_a") * col("n_b")).cast("double") / lit(2.0) /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double") /
            lit(12.0) *
            ((col("n_a") + col("n_b") + 1).cast("double") -
              col("ties").cast("double") /
                ((col("n_a") + col("n_b")).cast("double") *
                  (col("n_a") + col("n_b") - 1).cast("double")))))
          .as("z"))
      z.select(col("n_a"), col("n_b"),
        (col("u2").cast("double") / lit(2.0)).as("u_stat"),
        Det.roundN(col("z"), 6).as("z_score"),
        Det.roundN(pTwoSided(abs(col("z"))), 6).as("p_value"))
    },

    // ---- multiple-testing control ------------------------------------

    // Benjamini-Hochberg step-up FDR over per-nation proportion tests:
    // for each nation, a two-sided one-proportion z-test of its share of
    // fulfilled ('F') orders against the pooled rate, then BH at
    // α = 0.10 across the m = |nations| tests. The test relation is
    // bounded by the nation domain (25), so ranking and the step-up
    // cutoff are windows over a constant-size relation; the z inputs
    // (k, n, K, N) are exact integers all the way to the closed form.
    // Ranking uses the UNROUNDED p with a name tie-break so both engines
    // agree on order; rejection is rank ≤ max{i : p_i ≤ i·α/m}.
    // This is the engine's segment-sweep guard: at 100 TB a drift sweep
    // tests thousands of segments and ships only FDR-controlled flags.
    QueryDef.sql(
      "a_bh_fdr", {
        val zSql = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) - p0)" +
          " / sqrt(p0 * (1.0 - p0) / CAST(n AS DOUBLE))"
        s"""WITH $nationFulfilledCte,
           |pool AS (
           |  SELECT CAST(SUM(k) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p0
           |  FROM pn),
           |tests AS (
           |  SELECT n_name, n, k, $zSql AS z
           |  FROM pn, pool),
           |pv AS (
           |  SELECT n_name, n, k, z, ${pTwoSidedSql("ABS(z)")} AS p
           |  FROM tests),
           |rk AS (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY p, n_name) AS p_rank,
           |    COUNT(*) OVER () AS m
           |  FROM pv),
           |cut AS (
           |  SELECT *, MAX(CASE WHEN p <= CAST(p_rank AS DOUBLE) * 0.10
           |      / CAST(m AS DOUBLE) THEN p_rank ELSE 0 END) OVER ()
           |      AS cutoff
           |  FROM rk)
           |SELECT n_name, n, k,
           |  ${roundN("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS conv_rate,
           |  ${roundN("z", 6)} AS z_score, ${roundN("p", 6)} AS p_value,
           |  p_rank,
           |  CASE WHEN p_rank <= cutoff THEN 1 ELSE 0 END AS rejected
           |FROM cut ORDER BY p_rank""".stripMargin
      }) { (s, d) =>
      val pn = nationFulfilled(s, d)
      val pool = pn.agg(
        (sum("k").cast("double") / sum("n").cast("double")).as("p0"))
      val tests = pn.crossJoin(broadcast(pool)).withColumn("z",
        (col("k").cast("double") / col("n").cast("double") - col("p0")) /
          sqrt(col("p0") * (lit(1.0) - col("p0")) / col("n").cast("double")))
      val pv = tests.withColumn("p", pTwoSided(abs(col("z"))))
      val rk = pv
        .withColumn("p_rank",
          row_number().over(Window.orderBy("p", "n_name")))
        .withColumn("m", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      val cut = rk.withColumn("cutoff",
        max(when(col("p") <= col("p_rank").cast("double") * lit(0.10) /
            col("m").cast("double"), col("p_rank")).otherwise(lit(0)))
          .over(Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      cut.select(col("n_name"), col("n"), col("k"),
        Det.roundN(col("k").cast("double") / col("n").cast("double"), 6)
          .as("conv_rate"),
        Det.roundN(col("z"), 6).as("z_score"),
        Det.roundN(col("p"), 6).as("p_value"),
        col("p_rank"),
        when(col("p_rank") <= col("cutoff"), 1).otherwise(0).as("rejected"))
        .orderBy("p_rank")
    },

    // ---- variance-reduced experiment readout -------------------------

    // CUPED: the industry-standard variance reduction for A/B metrics.
    // Users are hash-assigned to treat/control (h56 — the split is
    // recomputable by any engine reading the corpus); X = pre-period
    // spend (before Jan 16), Y = experiment-period spend. θ = cov(X,Y)/
    // var(X) from DECIMAL-exact moment sums over users, then the
    // adjusted lift (Ȳt−θX̄t)−(Ȳc−θX̄c) and the achieved variance
    // reduction ρ² = corr²(X,Y). Per-user sums are decimal (order-free),
    // user-level moments are decimal-of-decimal (exact), so every input
    // to the double closed form is identical cross-engine. 100 TB shape:
    // one groupBy(user) shuffle, then two constant-size aggregates.
    QueryDef.sql(
      "a_cuped", {
        val mid = 1705363200000000L // 2024-01-16T00:00:00Z, experiment start
        s"""WITH u AS (
           |  SELECT user_id,
           |    CAST(${Det.h56Sql("'cuped:' || CAST(user_id AS VARCHAR)")} % 2
           |      AS INTEGER) AS tr,
           |    SUM(CASE WHEN epoch_us(ts) < $mid
           |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
           |      AS x,
           |    SUM(CASE WHEN epoch_us(ts) >= $mid
           |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
           |      AS y
           |  FROM events GROUP BY 1, 2),
           |mo AS (
           |  SELECT COUNT(*) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(15,2))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(y AS DECIMAL(15,2))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x AS DECIMAL(15,2)) * CAST(y AS DECIMAL(15,2)))
           |      AS DOUBLE) AS sxy,
           |    CAST(SUM(CAST(x AS DECIMAL(15,2)) * CAST(x AS DECIMAL(15,2)))
           |      AS DOUBLE) AS sxx,
           |    CAST(SUM(CAST(y AS DECIMAL(15,2)) * CAST(y AS DECIMAL(15,2)))
           |      AS DOUBLE) AS syy
           |  FROM u),
           |gr AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_t,
           |    CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_c,
           |    CAST(SUM(CASE WHEN tr = 1 THEN CAST(x AS DECIMAL(15,2))
           |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) AS sx_t,
           |    CAST(SUM(CASE WHEN tr = 0 THEN CAST(x AS DECIMAL(15,2))
           |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) AS sx_c,
           |    CAST(SUM(CASE WHEN tr = 1 THEN CAST(y AS DECIMAL(15,2))
           |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) AS sy_t,
           |    CAST(SUM(CASE WHEN tr = 0 THEN CAST(y AS DECIMAL(15,2))
           |      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE) AS sy_c
           |  FROM u),
           |fin AS (
           |  SELECT n_t, n_c,
           |    (sxy - sx * sy / CAST(n AS DOUBLE))
           |      / (sxx - sx * sx / CAST(n AS DOUBLE)) AS theta,
           |    (sxy - sx * sy / CAST(n AS DOUBLE))
           |      * (sxy - sx * sy / CAST(n AS DOUBLE))
           |      / ((sxx - sx * sx / CAST(n AS DOUBLE))
           |         * (syy - sy * sy / CAST(n AS DOUBLE))) AS rho2,
           |    sy_t / CAST(n_t AS DOUBLE) - sy_c / CAST(n_c AS DOUBLE)
           |      AS lift_raw,
           |    sx_t / CAST(n_t AS DOUBLE) AS mx_t,
           |    sx_c / CAST(n_c AS DOUBLE) AS mx_c,
           |    sy_t / CAST(n_t AS DOUBLE) AS my_t,
           |    sy_c / CAST(n_c AS DOUBLE) AS my_c
           |  FROM mo, gr)
           |SELECT n_t AS n_treat, n_c AS n_control,
           |  ${roundN("theta", 6)} AS theta,
           |  ${roundN("lift_raw", 6)} AS lift_raw,
           |  ${roundN("(my_t - theta * mx_t) - (my_c - theta * mx_c)", 6)}
           |    AS lift_cuped,
           |  ${roundN("100.0 * rho2", 6)} AS var_reduction_pct
           |FROM fin""".stripMargin
      }) { (s, d) =>
      val mid = 1705363200000000L
      val dec2 = DecimalType(18, 2)
      val dec15 = DecimalType(15, 2)
      val zero2 = lit(0).cast(dec2)
      val u = Tables.events(s, d).groupBy(col("user_id"),
          (Det.h56(concat(lit("cuped:"), col("user_id").cast("string"))) % 2)
            .cast("int").as("tr"))
        .agg(
          sum(when(unix_micros(col("ts")) < mid,
            col("value").cast(dec2)).otherwise(zero2)).as("x"),
          sum(when(unix_micros(col("ts")) >= mid,
            col("value").cast(dec2)).otherwise(zero2)).as("y"))
      // products at (15,2): width 30 after multiply — inside DECIMAL's 38
      // cap on BOTH engines, so the moment sums stay exact end-to-end
      val x15 = col("x").cast(dec15); val y15 = col("y").cast(dec15)
      val zero15 = lit(0).cast(dec15)
      val mo = u.agg(count(lit(1)).as("n"),
        sum(x15).cast("double").as("sx"), sum(y15).cast("double").as("sy"),
        sum(x15 * y15).cast("double").as("sxy"),
        sum(x15 * x15).cast("double").as("sxx"),
        sum(y15 * y15).cast("double").as("syy"))
      val gr = u.agg(
        sum(when(col("tr") === 1, 1).otherwise(0)).cast("long").as("n_t"),
        sum(when(col("tr") === 0, 1).otherwise(0)).cast("long").as("n_c"),
        sum(when(col("tr") === 1, x15).otherwise(zero15)).cast("double")
          .as("sx_t"),
        sum(when(col("tr") === 0, x15).otherwise(zero15)).cast("double")
          .as("sx_c"),
        sum(when(col("tr") === 1, y15).otherwise(zero15)).cast("double")
          .as("sy_t"),
        sum(when(col("tr") === 0, y15).otherwise(zero15)).cast("double")
          .as("sy_c"))
      val nD = col("n").cast("double")
      val covXY = col("sxy") - col("sx") * col("sy") / nD
      val varX = col("sxx") - col("sx") * col("sx") / nD
      val varY = col("syy") - col("sy") * col("sy") / nD
      val fin = mo.crossJoin(broadcast(gr)).select(
        col("n_t"), col("n_c"),
        (covXY / varX).as("theta"),
        (covXY * covXY / (varX * varY)).as("rho2"),
        (col("sy_t") / col("n_t").cast("double") -
          col("sy_c") / col("n_c").cast("double")).as("lift_raw"),
        (col("sx_t") / col("n_t").cast("double")).as("mx_t"),
        (col("sx_c") / col("n_c").cast("double")).as("mx_c"),
        (col("sy_t") / col("n_t").cast("double")).as("my_t"),
        (col("sy_c") / col("n_c").cast("double")).as("my_c"))
      fin.select(col("n_t").as("n_treat"), col("n_c").as("n_control"),
        Det.roundN(col("theta"), 6).as("theta"),
        Det.roundN(col("lift_raw"), 6).as("lift_raw"),
        Det.roundN((col("my_t") - col("theta") * col("mx_t")) -
          (col("my_c") - col("theta") * col("mx_c")), 6).as("lift_cuped"),
        Det.roundN(lit(100.0) * col("rho2"), 6).as("var_reduction_pct"))
    },

    // ---- observational causal estimate -------------------------------

    // Inverse-propensity-weighted ATE of priority escalation on order
    // value, stratified by customer nation: ê(s) = treated share within
    // the stratum (clipped to [0.05, 0.95]), ATE = (1/N)·Σ_s
    // [ΣYt(s)/ê(s) − ΣYc(s)/(1−ê(s))]. The stratum relation is bounded
    // by the nation domain; per-stratum Y sums are DECIMAL-exact, and
    // the ≤25 per-stratum double terms are re-cast to DECIMAL(38,10)
    // before the final sum so the reduction is order-free. Reported
    // next to the confounded naive diff — the gap is the selection
    // effect the weighting removes.
    QueryDef.sql(
      "a_ipw_estimate", {
        s"""WITH ${treatedCte("o.o_totalprice AS y")},
           |ps AS (
           |  SELECT st,
           |    CAST(SUM(t) AS BIGINT) AS n_t,
           |    CAST(SUM(1 - t) AS BIGINT) AS n_c,
           |    CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(18,2))
           |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS sy_t,
           |    CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(18,2))
           |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS sy_c
           |  FROM j GROUP BY 1),
           |ew AS (
           |  SELECT st, n_t, n_c, sy_t, sy_c,
           |    LEAST(0.95, GREATEST(0.05,
           |      CAST(n_t AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))) AS e
           |  FROM ps),
           |terms AS (
           |  SELECT n_t, n_c, sy_t, sy_c, e,
           |    CAST(CAST(sy_t AS DOUBLE) / e
           |      - CAST(sy_c AS DOUBLE) / (1.0 - e) AS DECIMAL(38,10))
           |      AS term
           |  FROM ew),
           |fin AS (
           |  SELECT CAST(SUM(n_t + n_c) AS BIGINT) AS n_total,
           |    COUNT(*) AS n_strata,
           |    CAST(SUM(term) AS DOUBLE) AS tsum,
           |    CAST(SUM(sy_t) AS DOUBLE) AS syt,
           |    CAST(SUM(sy_c) AS DOUBLE) AS syc,
           |    CAST(SUM(n_t) AS BIGINT) AS nt,
           |    CAST(SUM(n_c) AS BIGINT) AS nc,
           |    MIN(e) AS min_e, MAX(e) AS max_e
           |  FROM terms)
           |SELECT n_total, n_strata,
           |  ${roundN("tsum / CAST(n_total AS DOUBLE)", 6)} AS ate_ipw,
           |  ${roundN("syt / CAST(nt AS DOUBLE) - syc / CAST(nc AS DOUBLE)", 6)}
           |    AS naive_diff,
           |  ${roundN("min_e", 6)} AS min_e, ${roundN("max_e", 6)} AS max_e
           |FROM fin""".stripMargin
      }) { (s, d) =>
      val dec2 = DecimalType(18, 2)
      val zero2 = lit(0).cast(dec2)
      val j = treated(s, d, col("o_totalprice").as("y"))
      val ps = j.groupBy("st").agg(
        sum("t").cast("long").as("n_t"),
        sum(expr("1 - t")).cast("long").as("n_c"),
        sum(when(col("t") === 1, col("y").cast(dec2)).otherwise(zero2))
          .cast(DecimalType(38, 2)).as("sy_t"),
        sum(when(col("t") === 0, col("y").cast(dec2)).otherwise(zero2))
          .cast(DecimalType(38, 2)).as("sy_c"))
      val ew = ps.withColumn("e",
        least(lit(0.95), greatest(lit(0.05),
          col("n_t").cast("double") / (col("n_t") + col("n_c")).cast("double"))))
      val terms = ew.withColumn("term",
        (col("sy_t").cast("double") / col("e") -
          col("sy_c").cast("double") / (lit(1.0) - col("e")))
          .cast(DecimalType(38, 10)))
      val fin = terms.agg(
        sum(col("n_t") + col("n_c")).cast("long").as("n_total"),
        count(lit(1)).as("n_strata"),
        sum("term").cast("double").as("tsum"),
        sum("sy_t").cast("double").as("syt"),
        sum("sy_c").cast("double").as("syc"),
        sum("n_t").cast("long").as("nt"),
        sum("n_c").cast("long").as("nc"),
        min("e").as("min_e"), max("e").as("max_e"))
      fin.select(col("n_total"), col("n_strata"),
        Det.roundN(col("tsum") / col("n_total").cast("double"), 6)
          .as("ate_ipw"),
        Det.roundN(col("syt") / col("nt").cast("double") -
          col("syc") / col("nc").cast("double"), 6).as("naive_diff"),
        Det.roundN(col("min_e"), 6).as("min_e"),
        Det.roundN(col("max_e"), 6).as("max_e"))
    },

    // ---- derandomized randomization test -----------------------------

    // Fisher-style randomization test of the purchase-vs-click mean
    // value gap, derandomized the a_poisson_bootstrap way: replicate b
    // reassigns each pooled row to a pseudo-group by the parity of
    // h56(event_id:b), so the B = 64 reassignments are reproducible by
    // any engine and need NO global coordination — the replicate label
    // is computed row-local in the map phase (the only randomization
    // test shape that works at 100 TB). p = (1 + #{|d_b| ≥ |d_obs|}) /
    // (B + 1), the standard add-one Monte-Carlo estimator. Group means
    // are DECIMAL-sum exact, so the |d_b| vs |d_obs| comparisons are on
    // identical doubles cross-engine.
    QueryDef.sql(
      "a_randomization_test", {
        s"""WITH pool AS (
           |  SELECT event_id, value,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
           |  FROM events WHERE event_type IN ('purchase', 'click')),
           |obs AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |    ${Det.dsumSql("CASE WHEN a = 1 THEN value END")} AS s_a,
           |    ${Det.dsumSql("CASE WHEN a = 0 THEN value END")} AS s_b
           |  FROM pool),
           |dobs AS (
           |  SELECT n_a, n_b,
           |    s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE)
           |      AS d_obs
           |  FROM obs),
           |reps AS (
           |  SELECT b,
           |    CAST(${Det.h56Sql("CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")} % 2
           |      AS INTEGER) AS side,
           |    value
           |  FROM pool, (SELECT unnest(generate_series(0, 63)) AS b) bb),
           |rg AS (
           |  SELECT b,
           |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n1,
           |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n0,
           |    ${Det.dsumSql("CASE WHEN side = 1 THEN value END")} AS s1,
           |    ${Det.dsumSql("CASE WHEN side = 0 THEN value END")} AS s0
           |  FROM reps GROUP BY 1),
           |db AS (
           |  SELECT b, s1 / CAST(n1 AS DOUBLE) - s0 / CAST(n0 AS DOUBLE)
           |    AS d_b
           |  FROM rg),
           |ext AS (
           |  SELECT CAST(SUM(CASE WHEN ABS(d_b) >= ABS(d_obs) THEN 1
           |    ELSE 0 END) AS BIGINT) AS n_extreme
           |  FROM db, dobs)
           |SELECT n_a, n_b, ${roundN("d_obs", 6)} AS d_obs,
           |  64 AS b_reps, n_extreme,
           |  ${roundN("CAST(1 + n_extreme AS DOUBLE) / 65.0", 6)} AS p_value
           |FROM dobs, ext""".stripMargin
      }) { (s, d) =>
      val pool = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("value"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("a"))
      val obs = pool.agg(
        sum(when(col("a") === 1, 1).otherwise(0)).cast("long").as("n_a"),
        sum(when(col("a") === 0, 1).otherwise(0)).cast("long").as("n_b"),
        Det.dsum(when(col("a") === 1, col("value"))).as("s_a"),
        Det.dsum(when(col("a") === 0, col("value"))).as("s_b"))
      val dobs = obs.select(col("n_a"), col("n_b"),
        (col("s_a") / col("n_a").cast("double") -
          col("s_b") / col("n_b").cast("double")).as("d_obs"))
      val bs = s.range(0, 64).select(col("id").as("b"))
      val reps = pool.crossJoin(broadcast(bs)).select(col("b"),
        (Det.h56(concat(col("event_id").cast("string"), lit(":"),
          col("b").cast("string"))) % 2).cast("int").as("side"),
        col("value"))
      val rg = reps.groupBy("b").agg(
        sum(when(col("side") === 1, 1).otherwise(0)).cast("long").as("n1"),
        sum(when(col("side") === 0, 1).otherwise(0)).cast("long").as("n0"),
        Det.dsum(when(col("side") === 1, col("value"))).as("s1"),
        Det.dsum(when(col("side") === 0, col("value"))).as("s0"))
      val db = rg.select(col("b"),
        (col("s1") / col("n1").cast("double") -
          col("s0") / col("n0").cast("double")).as("d_b"))
      val ext = db.crossJoin(broadcast(dobs.select("d_obs"))).agg(
        sum(when(abs(col("d_b")) >= abs(col("d_obs")), 1).otherwise(0))
          .cast("long").as("n_extreme"))
      dobs.crossJoin(broadcast(ext)).select(
        col("n_a"), col("n_b"),
        Det.roundN(col("d_obs"), 6).as("d_obs"),
        lit(64).as("b_reps"), col("n_extreme"),
        Det.roundN((lit(1L) + col("n_extreme")).cast("double") / lit(65.0), 6)
          .as("p_value"))
    },

    // ---- curation text ops -------------------------------------------

    // Encoding-anomaly profile. The fixture corpus is clean ASCII, so a
    // detector over it would be vacuous — instead the query first
    // INJECTS deterministic corruption into an h56-selected 20% of docs
    // (the j_record_linkage corrupted-feed pattern): class 0 docs get
    // the classic UTF-8-as-Latin-1 mojibake ('a' → 'Ã¡'), class 1 docs
    // get a C0 control byte plus a U+FFFD replacement char appended.
    // Both engines perform the identical injection, then the detector
    // (replacement-char count, C0-control count, 'Ã' mojibake-marker
    // count, non-ASCII ratio) must flag exactly the tampered docs.
    // Counting is length-difference over replace/regexp_replace — no
    // UDFs, fully codegen, and the text bytes never shuffle (metrics
    // reduce doc-local in the map phase; the output is one narrow row
    // per doc).
    QueryDef.sql(
      "t_encoding_anomaly", {
        val ctl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
        val nonAscii = "[^\\x00-\\x7f]"
        s"""WITH inj AS (
           |  SELECT doc_id,
           |    CAST(${Det.h56Sql("'enc:' || CAST(doc_id AS VARCHAR)")} % 10
           |      AS INTEGER) AS r
           |  FROM documents),
           |cor AS (
           |  SELECT d.doc_id,
           |    CASE WHEN i.r = 0 THEN replace(d.text, 'a', chr(195) || chr(161))
           |         WHEN i.r = 1 THEN d.text || chr(7) || chr(65533)
           |         ELSE d.text END AS t
           |  FROM documents d JOIN inj i ON d.doc_id = i.doc_id),
           |met AS (
           |  SELECT doc_id, length(t) AS text_len,
           |    length(t) - length(replace(t, chr(65533), '')) AS n_repl,
           |    length(t) - length(regexp_replace(t, '$ctl', '', 'g'))
           |      AS n_ctrl,
           |    length(t) - length(replace(t, chr(195), '')) AS n_moji,
           |    length(t) - length(regexp_replace(t, '$nonAscii', '', 'g'))
           |      AS n_nonascii
           |  FROM cor)
           |SELECT doc_id, text_len, n_repl, n_ctrl, n_moji,
           |  ${roundN("100.0 * CAST(n_nonascii AS DOUBLE) / CAST(text_len AS DOUBLE)", 4)}
           |    AS nonascii_pct,
           |  CASE WHEN n_repl > 0 OR n_ctrl > 0 THEN 'corrupt'
           |       WHEN n_moji >= 3 THEN 'mojibake'
           |       ELSE 'clean' END AS status
           |FROM met ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val moji = "Ã¡"
      val tail = "�"
      val inj = Tables.documents(s, d).select(col("doc_id"), col("text"),
        (Det.h56(concat(lit("enc:"), col("doc_id").cast("string"))) % 10)
          .cast("int").as("r"))
      val cor = inj.select(col("doc_id"),
        when(col("r") === 0, expr(s"replace(text, 'a', '$moji')"))
          .when(col("r") === 1, concat(col("text"), lit(tail)))
          .otherwise(col("text")).as("t"))
      val met = cor.select(col("doc_id"),
        length(col("t")).as("text_len"),
        (length(col("t")) - length(expr("replace(t, '�', '')")))
          .as("n_repl"),
        (length(col("t")) - length(regexp_replace(col("t"),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).as("n_ctrl"),
        (length(col("t")) - length(expr("replace(t, 'Ã', '')")))
          .as("n_moji"),
        (length(col("t")) - length(regexp_replace(col("t"),
          "[^\\x00-\\x7F]", ""))).as("n_nonascii"))
      met.select(col("doc_id"), col("text_len"), col("n_repl"),
        col("n_ctrl"), col("n_moji"),
        Det.roundN(lit(100.0) * col("n_nonascii").cast("double") /
          col("text_len").cast("double"), 4).as("nonascii_pct"),
        when(col("n_repl") > 0 || col("n_ctrl") > 0, "corrupt")
          .when(col("n_moji") >= 3, "mojibake")
          .otherwise("clean").as("status"))
        .orderBy("doc_id")
    },

    // Per-document n-gram novelty: the share of a doc's distinct 3-gram
    // shingles that appear in NO other doc — the curation-side signal
    // for "is this document contributing new text or repeating the
    // corpus" (the per-doc complement of dedup_ngram_jaccard's pairwise
    // view; memorization-risk scoring in training-data pipelines).
    // Shingles shuffle as 56-bit hashes, never as strings (text bytes
    // stay inside the scan stage — the TextFunctions discipline), so
    // the two shuffles (distinct (doc, h), groupBy h) move 16 bytes per
    // shingle at any corpus size. df and the unique count are exact
    // integers; collision odds at 56 bits are ~n²/2^57.
    QueryDef.sql(
      "t_ngram_novelty", {
        s"""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |idx AS (
           |  SELECT doc_id, t,
           |    unnest(generate_series(1, GREATEST(len(t) - 2, 0))) AS i
           |  FROM toks),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    ${Det.h56Sql("t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]")}
           |      AS shash
           |  FROM idx),
           |freq AS (SELECT shash, COUNT(*) AS df FROM sh GROUP BY 1),
           |per AS (
           |  SELECT s.doc_id, COUNT(*) AS n_shingles,
           |    CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_unique
           |  FROM sh s JOIN freq f ON s.shash = f.shash
           |  GROUP BY 1)
           |SELECT doc_id, n_shingles, n_unique,
           |  ${roundN("CAST(n_unique AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 6)}
           |    AS novelty
           |FROM per ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      // spread the single-file scan over the cores (the per-row shingle
      // hash work otherwise serializes in one scan task) and stage the
      // shingle relation — it feeds BOTH the df aggregate and the
      // per-doc join, and unstaged it was computed twice end-to-end
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .spreadBy(col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      // per-doc distinct via array_distinct over the in-row HASH array —
      // distinct on hashes, matching the oracle's DISTINCT (doc_id,
      // shash), without the full exchange + aggregate the former
      // relation-level distinct() cost (every doc's shingles come from
      // one row, so the set is identical)
      val sh = toks
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(t) - 2), i -> " +
            "CAST(conv(substring(md5(concat(element_at(t, i), ' ', " +
            "element_at(t, i + 1), ' ', element_at(t, i + 2))), 1, 14), " +
            "16, 10) AS BIGINT))"))).as("shash"))
        .staged
      val freq = sh.groupBy("shash").agg(count(lit(1)).as("df"))
      val per = sh.join(freq, "shash").groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1).otherwise(0)).cast("long")
          .as("n_unique"))
      per.select(col("doc_id"), col("n_shingles"), col("n_unique"),
        Det.roundN(col("n_unique").cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))
        .orderBy("doc_id")
    },

    // ---- monotone calibration ----------------------------------------

    // Isotonic-regression calibration curve via the closed-form minimax
    // characterization iso(i) = max_{j≤i} min_{k≥i} avg(y over bins
    // [j,k]) — the PAVA fixpoint WITHOUT PAVA's sequential pooling loop,
    // which has no distributed form. The trick that makes it a Spark
    // plan: rows are first reduced to a BOUNDED bin histogram (20
    // confidence vigintiles of the a_calibration_error score), so the
    // O(B³) minimax enumeration runs on ≤20·210 rows regardless of input
    // scale — the inequality join is allowlisted BNLJ over constants.
    // Interval averages are ratios of exact integer prefix sums, so the
    // min/max comparisons are on identical doubles cross-engine.
    QueryDef.sql(
      "a_isotonic_calibration", {
        s"""WITH f AS (
           |  SELECT CASE WHEN n_chars * 1.0 / 500 < 1.0
           |              THEN n_chars * 1.0 / 500 ELSE 1.0 END AS conf,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM documents),
           |b AS (
           |  SELECT CASE WHEN conf >= 1.0 THEN 19
           |              ELSE CAST(floor(conf * 20) AS BIGINT) END AS bin,
           |    conf, y
           |  FROM f),
           |g AS (
           |  SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
           |    CAST(SUM(CAST(conf AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
           |      AS avg_conf
           |  FROM b GROUP BY 1),
           |cum AS (
           |  SELECT bin, n, sy, avg_conf,
           |    CAST(SUM(n) OVER w AS BIGINT) AS cs,
           |    CAST(SUM(sy) OVER w AS BIGINT) AS cy
           |  FROM g
           |  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
           |               AND CURRENT ROW)),
           |pairs AS (
           |  SELECT a.bin AS j, b.bin AS k,
           |    CAST(b.cy - (a.cy - a.sy) AS DOUBLE)
           |      / CAST(b.cs - (a.cs - a.n) AS DOUBLE) AS iavg
           |  FROM cum a JOIN cum b ON a.bin <= b.bin),
           |tri AS (
           |  SELECT i.bin, p.j, MIN(p.iavg) AS mn
           |  FROM pairs p JOIN cum i ON p.j <= i.bin AND i.bin <= p.k
           |  GROUP BY 1, 2),
           |iso AS (SELECT bin, MAX(mn) AS iso_acc FROM tri GROUP BY 1)
           |SELECT g.bin, g.n, ${roundN("g.avg_conf", 6)} AS avg_conf,
           |  ${roundN("CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE)", 6)}
           |    AS raw_acc,
           |  ${roundN("iso.iso_acc", 6)} AS iso_acc
           |FROM g JOIN iso ON g.bin = iso.bin
           |ORDER BY g.bin""".stripMargin
      }) { (s, d) =>
      val f = Tables.documents(s, d).select(
        least(col("n_chars") * lit(1.0) / 500, lit(1.0)).as("conf"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))
      val b = f.withColumn("bin",
        when(col("conf") >= 1.0, 19L)
          .otherwise(floor(col("conf") * 20).cast("long")))
      val g = b.groupBy("bin").agg(
        count(lit(1)).as("n"), sum("y").cast("long").as("sy"),
        (sum(col("conf").cast(DecimalType(18, 9))).cast("double")
          / count(lit(1))).as("avg_conf"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = g.select(col("bin"), col("n"), col("sy"), col("avg_conf"),
        sum("n").over(w).as("cs"), sum("sy").over(w).as("cy"))
      val a = cum.select(col("bin").as("j"), col("cs").as("jcs"),
        col("cy").as("jcy"), col("n").as("jn"), col("sy").as("jsy"))
      val bb = cum.select(col("bin").as("k"), col("cs").as("kcs"),
        col("cy").as("kcy"))
      val pairs = a.join(bb, col("j") <= col("k")).select(
        col("j"), col("k"),
        ((col("kcy") - (col("jcy") - col("jsy"))).cast("double") /
          (col("kcs") - (col("jcs") - col("jn"))).cast("double")).as("iavg"))
      val tri = pairs
        .join(cum.select(col("bin")),
          col("j") <= col("bin") && col("bin") <= col("k"))
        .groupBy("bin", "j").agg(min("iavg").as("mn"))
      val iso = tri.groupBy("bin").agg(max("mn").as("iso_acc"))
      g.join(iso, "bin").select(col("bin"), col("n"),
          Det.roundN(col("avg_conf"), 6).as("avg_conf"),
          Det.roundN(col("sy").cast("double") / col("n").cast("double"), 6)
            .as("raw_acc"),
          Det.roundN(col("iso_acc"), 6).as("iso_acc"))
        .orderBy("bin")
    },

    // ---- stratified odds ratio ---------------------------------------

    // Mantel-Haenszel pooled odds ratio of priority escalation on order
    // fulfilment across nation strata, with the Robins-Breslow-Greenland
    // SE and the 95% CI on the log scale — the epidemiology-standard
    // "common effect after controlling for the stratifier", companion
    // to a_ipw_estimate's additive ATE. Per-stratum 2×2 cells are exact
    // integers; the classic R = ad/n, S = bc/n (and RBG's P, Q cross
    // terms) are per-stratum doubles re-cast to DECIMAL(38,10) before
    // the cross-stratum sums so the nation-bounded reduction is
    // order-free. ln/exp/sqrt appear once, on identical reduced doubles.
    QueryDef.sql(
      "a_mantel_haenszel", {
        s"""WITH ${treatedCte("CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS f")},
           |cells AS (
           |  SELECT st,
           |    CAST(SUM(t * f) AS BIGINT) AS a,
           |    CAST(SUM(t * (1 - f)) AS BIGINT) AS b,
           |    CAST(SUM((1 - t) * f) AS BIGINT) AS c,
           |    CAST(SUM((1 - t) * (1 - f)) AS BIGINT) AS d
           |  FROM j GROUP BY 1),
           |terms AS (
           |  SELECT st, a, b, c, d, a + b + c + d AS n,
           |    CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           |      / CAST(a + b + c + d AS DOUBLE) AS r,
           |    CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           |      / CAST(a + b + c + d AS DOUBLE) AS s,
           |    CAST(a + d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS p,
           |    CAST(b + c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS q
           |  FROM cells),
           |red AS (
           |  SELECT COUNT(*) AS n_strata,
           |    CAST(SUM(CAST(r AS DECIMAL(38,10))) AS DOUBLE) AS sr,
           |    CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS ss,
           |    CAST(SUM(CAST(p * r AS DECIMAL(38,10))) AS DOUBLE) AS spr,
           |    CAST(SUM(CAST(p * s + q * r AS DECIMAL(38,10))) AS DOUBLE)
           |      AS spsqr,
           |    CAST(SUM(CAST(q * s AS DECIMAL(38,10))) AS DOUBLE) AS sqs
           |  FROM terms),
           |fin AS (
           |  SELECT n_strata, sr / ss AS or_mh, ln(sr / ss) AS ln_or,
           |    sqrt(spr / (2.0 * sr * sr) + spsqr / (2.0 * sr * ss)
           |      + sqs / (2.0 * ss * ss)) AS se
           |  FROM red)
           |SELECT n_strata, ${roundN("or_mh", 6)} AS or_mh,
           |  ${roundN("ln_or", 6)} AS ln_or, ${roundN("se", 6)} AS se,
           |  ${roundN("exp(ln_or - 1.959964 * se)", 6)} AS ci_lo,
           |  ${roundN("exp(ln_or + 1.959964 * se)", 6)} AS ci_hi
           |FROM fin""".stripMargin
      }) { (s, d) =>
      val j = treated(s, d, when(col("o_orderstatus") === "F", 1).otherwise(0).as("f"))
      val cells = j.groupBy("st").agg(
        sum(col("t") * col("f")).cast("long").as("a"),
        sum(col("t") * (lit(1) - col("f"))).cast("long").as("b"),
        sum((lit(1) - col("t")) * col("f")).cast("long").as("c"),
        sum((lit(1) - col("t")) * (lit(1) - col("f"))).cast("long").as("d"))
      val nD = (col("a") + col("b") + col("c") + col("d")).cast("double")
      val terms = cells.select(col("st"),
        (col("a").cast("double") * col("d").cast("double") / nD).as("r"),
        (col("b").cast("double") * col("c").cast("double") / nD).as("s"),
        ((col("a") + col("d")).cast("double") / nD).as("p"),
        ((col("b") + col("c")).cast("double") / nD).as("q"))
      val dec10 = DecimalType(38, 10)
      val red = terms.agg(count(lit(1)).as("n_strata"),
        sum(col("r").cast(dec10)).cast("double").as("sr"),
        sum(col("s").cast(dec10)).cast("double").as("ss"),
        sum((col("p") * col("r")).cast(dec10)).cast("double").as("spr"),
        sum((col("p") * col("s") + col("q") * col("r")).cast(dec10))
          .cast("double").as("spsqr"),
        sum((col("q") * col("s")).cast(dec10)).cast("double").as("sqs"))
      val fin = red.select(col("n_strata"),
        (col("sr") / col("ss")).as("or_mh"),
        log(col("sr") / col("ss")).as("ln_or"),
        sqrt(col("spr") / (lit(2.0) * col("sr") * col("sr")) +
          col("spsqr") / (lit(2.0) * col("sr") * col("ss")) +
          col("sqs") / (lit(2.0) * col("ss") * col("ss"))).as("se"))
      fin.select(col("n_strata"),
        Det.roundN(col("or_mh"), 6).as("or_mh"),
        Det.roundN(col("ln_or"), 6).as("ln_or"),
        Det.roundN(col("se"), 6).as("se"),
        Det.roundN(exp(col("ln_or") - lit(1.959964) * col("se")), 6)
          .as("ci_lo"),
        Det.roundN(exp(col("ln_or") + lit(1.959964) * col("se")), 6)
          .as("ci_hi"))
    },

    // ---- experiment design -------------------------------------------

    // Power / minimum-detectable-effect planner: for each nation's
    // current traffic and conversion rate, the absolute MDE an equal-
    // split A/B could detect at α = 0.05 (two-sided) / 80% power, and
    // the per-arm sample size required to reach each target MDE in
    // {1, 2, 5} pp — the "is this experiment even runnable on this
    // segment" table every platform ships. Closed-form normal
    // approximation with z constants as literals; the grid is a 3-row
    // broadcast onto the nation-bounded rate relation. Conversion rates
    // are exact integer ratios, so every double input is identical
    // cross-engine; CEIL of identical doubles is identical.
    QueryDef.sql(
      "a_power_mde", {
        val zsum = "2.801585" // z_{0.025} + z_{0.20} = 1.959964 + 0.841621
        s"""WITH $nationFulfilledCte,
           |rt AS (
           |  SELECT n_name, n, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
           |  FROM pn),
           |grid AS (SELECT unnest([0.01, 0.02, 0.05]) AS target_mde)
           |SELECT n_name, n, ${roundN("p", 6)} AS conv_rate,
           |  ${roundN(
            s"$zsum * sqrt(2.0 * p * (1.0 - p) / (CAST(n AS DOUBLE) / 2.0))",
            6)} AS mde_now,
           |  target_mde,
           |  CAST(CEIL(2.0 * p * (1.0 - p) * ($zsum / target_mde)
           |    * ($zsum / target_mde)) AS BIGINT) AS n_per_arm_required
           |FROM rt, grid
           |ORDER BY n_name, target_mde""".stripMargin
      }) { (s, d) =>
      val zsum = lit(2.801585)
      val pn = nationFulfilled(s, d)
      val rt = pn.select(col("n_name"), col("n"),
        (col("k").cast("double") / col("n").cast("double")).as("p"))
      val grid = s.range(0, 3).select(
        element_at(array(lit(0.01), lit(0.02), lit(0.05)),
          (col("id") + 1).cast("int")).as("target_mde"))
      rt.crossJoin(broadcast(grid)).select(
          col("n_name"), col("n"),
          Det.roundN(col("p"), 6).as("conv_rate"),
          Det.roundN(zsum * sqrt(lit(2.0) * col("p") * (lit(1.0) - col("p")) /
            (col("n").cast("double") / lit(2.0))), 6).as("mde_now"),
          col("target_mde"),
          ceil(lit(2.0) * col("p") * (lit(1.0) - col("p")) *
            (zsum / col("target_mde")) * (zsum / col("target_mde")))
            .cast("long").as("n_per_arm_required"))
        .orderBy("n_name", "target_mde")
    },

    // ---- community quality -------------------------------------------

    // Newman modularity of the g_label_propagation communities over the
    // same deterministic doc graph: Q = Σ_c [e_c/m − (d_c/2m)²], computed
    // on the symmetric edge relation (so e_c/m = e2_c/m2 and d_c/2m =
    // d_c/m2 with m2 = |directed rows| — no halving anywhere, the
    // integer-exact form). Per-community terms reduce from two narrow
    // joins (edge→label, label→degree); the ≤|labels| double terms are
    // DECIMAL-cast before the final sum. The closing score for the
    // clustering family: LP assigns, modularity grades the assignment.
    QueryDef.sql(
      "g_modularity", {
        s"""WITH ${Fixtures.linkGraphCtes("ed")},
           |es AS (SELECT DISTINCT src, dst FROM (
           |  SELECT src, dst FROM ed
           |  UNION ALL SELECT dst AS src, src AS dst FROM ed)),
           |${graft.operators.Graph.labelPropagationSql("doc_id", rounds = 3)},
           |m2t AS (SELECT COUNT(*) AS m2 FROM es),
           |dg AS (
           |  SELECT l.label, COUNT(*) AS d_c
           |  FROM es JOIN l3 l ON l.id = es.src GROUP BY 1),
           |wi AS (
           |  SELECT a.label, COUNT(*) AS e2_c
           |  FROM es JOIN l3 a ON a.id = es.src JOIN l3 b ON b.id = es.dst
           |  WHERE a.label = b.label GROUP BY 1),
           |terms AS (
           |  SELECT d.label,
           |    CAST(COALESCE(w.e2_c, 0) AS DOUBLE) / CAST(m2 AS DOUBLE)
           |      - (CAST(d.d_c AS DOUBLE) / CAST(m2 AS DOUBLE))
           |        * (CAST(d.d_c AS DOUBLE) / CAST(m2 AS DOUBLE)) AS term
           |  FROM dg d LEFT JOIN wi w ON d.label = w.label, m2t),
           |fin AS (
           |  SELECT CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
           |    AS modularity
           |  FROM terms)
           |SELECT (SELECT COUNT(*) FROM nd) AS n_nodes,
           |  CAST((SELECT m2 FROM m2t) // 2 AS BIGINT) AS n_edges,
           |  (SELECT COUNT(DISTINCT label) FROM l3) AS n_communities,
           |  ${roundN("modularity", 6)} AS modularity
           |FROM fin""".stripMargin
      }) { (s, d) =>
      import graft.operators.Graph
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val edges = Fixtures.linkGraph(docs)
      // staged: lab feeds four consumers and es three — unstaged, each
      // re-expanded the propagation/edge lineage (17 documents scans in
      // one plan; rescan audit)
      val lab = Graph.labelPropagation(docs, edges, "doc_id", rounds = 3)
        .select(col("doc_id").as("id"), col("community").as("label"))
        .staged
      // the operator's symmetric deduped edge relation, rebuilt: the
      // oracle CTE `es` and this must be the same set
      val base = edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val es = base.unionByName(
        base.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .staged
      val m2t = es.agg(count(lit(1)).as("m2"))
      val dg = es.join(lab, es("src") === lab("id"))
        .groupBy("label").agg(count(lit(1)).as("d_c"))
      val labB = lab.select(col("id").as("bid"), col("label").as("blabel"))
      val wi = es.join(lab, es("src") === lab("id"))
        .join(labB, es("dst") === col("bid"))
        .filter(col("label") === col("blabel"))
        .groupBy("label").agg(count(lit(1)).as("e2_c"))
      val terms = dg.join(wi, Seq("label"), "left")
        .crossJoin(broadcast(m2t))
        .select((coalesce(col("e2_c"), lit(0L)).cast("double") /
          col("m2").cast("double") -
          (col("d_c").cast("double") / col("m2").cast("double")) *
            (col("d_c").cast("double") / col("m2").cast("double")))
          .as("term"))
      val fin = terms.agg(
        sum(col("term").cast(DecimalType(38, 12))).cast("double")
          .as("modularity"))
      val nNodes = docs.agg(count(lit(1)).as("n_nodes"))
      val nComm = lab.agg(countDistinct("label").as("n_communities"))
      fin.crossJoin(broadcast(nNodes)).crossJoin(broadcast(m2t))
        .crossJoin(broadcast(nComm))
        .select(col("n_nodes"), (col("m2") / 2).cast("long").as("n_edges"),
          col("n_communities"),
          Det.roundN(col("modularity"), 6).as("modularity"))
    }
  )
}
