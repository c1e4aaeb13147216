package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.Det

/** Time-series similarity search over keyed series — "which entities move
  * like this one": top-k keys by Pearson correlation of their
  * (time, value) series against a query series (EDBT'19-style streaming
  * similarity search, expressed as one aggregate).
  *
  * Correlation in the sqrt-safe rational form
  *   r = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))
  * — sums in DECIMAL (order-independent), sqrt is IEEE-correctly-rounded
  * on every engine (unlike pow/ln), so the whole search hash-matches a
  * SQL oracle. Degenerate series (zero variance on either side) score
  * 0.0 rather than NULL/NaN.
  *
  * Shape: one broadcast join on the time key (the query series is
  * `n_points` rows), one hash aggregate per key computing all five sums,
  * a TakeOrdered top-k — shuffle O(keys), no windows, no self-join.
  * `minPoints` drops keys with too few aligned observations to
  * correlate meaningfully. */
object TimeSeries {

  /** Pearson correlation of `valCol` against the query series' `qv` per
    * `keys` group of the aligned rows `joined`: the five sums decimal-summed
    * (order-independent), groups under `minPoints` rows dropped, `corr_r`
    * pinned to 6 decimals (0 when either variance is 0). Returns the
    * groups with n, the sums and corr_r. */
  private def pearson(joined: DataFrame, keys: Seq[Column], valCol: String,
      minPoints: Long): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(28, 6))
    val stats = joined.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col(valCol))).cast("double").as("sx"),
        sum(dec(col("qv"))).cast("double").as("sy"),
        sum(dec(col(valCol) * col("qv"))).cast("double").as("sxy"),
        sum(dec(col(valCol) * col(valCol))).cast("double").as("sxx"),
        sum(dec(col("qv") * col("qv"))).cast("double").as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    stats.filter(col("n") >= minPoints)
      .withColumn("corr_r", Det.roundN(
        when(dx > 0 && dy > 0, num / (sqrt(dx) * sqrt(dy))).otherwise(0.0),
        6))
  }

  def correlationTopK(series: DataFrame, keyCol: String, timeCol: String,
      valCol: String, query: DataFrame, k: Int,
      minPoints: Long = 2L): DataFrame = {
    val joined = series.join(broadcast(query), Seq(timeCol))
    pearson(joined, Seq(col(keyCol)), valCol, minPoints)
      .orderBy(desc("corr_r"), col(keyCol))
      .limit(k)
      .select(col(keyCol), col("n"), col("corr_r"))
  }

  /** Cross-correlation argmax — lead/lag detection: for every key, the
    * day shift in [−maxLag, +maxLag] at which its series best correlates
    * with the query series (positive best_lag = the key TRAILS the query
    * by that many days). The query series is exploded once into 2·maxLag+1
    * shifted copies (still a broadcast-sized relation), then the same
    * one-aggregate Pearson runs per (key, lag) and a per-key argmax picks
    * the winner — ties broken toward the smallest |shift|-ish (lowest
    * lag). Shuffle O(keys × lags); no windows, no self-joins. Returns
    * every qualifying key: (keyCol, best_lag, n, corr_r). */
  def bestLagCorrelation(series: DataFrame, keyCol: String, timeCol: String,
      valCol: String, query: DataFrame, maxLag: Int,
      minPoints: Long = 2L): DataFrame = {
    val shifted = query
      .select(col(timeCol), col("qv"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .select(date_add(col(timeCol), col("lag")).as(timeCol), col("lag"),
        col("qv"))
    val joined = series.join(broadcast(shifted), Seq(timeCol))
    pearson(joined, Seq(col(keyCol), col("lag")), valCol, minPoints)
      .groupBy(col(keyCol))
      .agg(max(struct(col("corr_r").as("c"), (-col("lag")).as("neg_lag"),
        col("n").as("n"))).as("__best"))
      .select(col(keyCol), (-col("__best.neg_lag")).cast("int").as("best_lag"),
        col("__best.n").as("n"), col("__best.c").as("corr_r"))
  }

  val InterpScale = 4

  /** Calendar gap-fill + linear interpolation over keyed daily series —
    * the resampling step every downstream trend/correlation consumer
    * assumes has already happened (W2/W4-style rolling math silently
    * mis-weights when missing days are absent rows instead of
    * interpolated ones).
    *
    * Semantics per series: the observed (date → value) points are joined
    * onto the dense global [min(date), max(date)] calendar; missing days
    * between two observations get the linear interpolation, days before
    * the first observation back-fill, days after the last forward-fill.
    * Output keeps the raw value column (NULL on filled days) plus a
    * `fill_src` marker (obs | interp | ffill | bfill) so consumers can
    * weight synthetic points differently.
    *
    * Scale shape: the calendar is tiny (one row per day) and broadcast;
    * the grid is |series|×|days| rows — exactly the output size, never
    * an intermediate blow-up — and every window partitions by series, so
    * the whole fill is one shuffle by series key. The neighbor lookup
    * uses the running-count fill-group trick (COUNT(v) ascending /
    * descending assigns each null run to its bounding observation) —
    * two O(1)-state running windows instead of a per-row backward scan,
    * and expressible identically in ANSI SQL for the oracle. */
  def gapFillInterpolate(obs: DataFrame, seriesCol: String, dateCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = obs.agg(min(col(dateCol)).as("__d0"), max(col(dateCol)).as("__d1"))
    val cal = mm.select(
      explode(sequence(col("__d0"), col("__d1"), expr("interval 1 day")))
        .as(dateCol))
    val grid = obs.select(col(seriesCol)).distinct().crossJoin(broadcast(cal))
    val j = grid.join(
      obs.select(col(seriesCol), col(dateCol), col(valCol).as("__v")),
      Seq(seriesCol, dateCol), "left")
    val wa = Window.partitionBy(seriesCol).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wb = Window.partitionBy(seriesCol).orderBy(col(dateCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val f = j.withColumn("__ga", count(col("__v")).over(wa))
      .withColumn("__gb", count(col("__v")).over(wb))
    val wpa = Window.partitionBy(col(seriesCol), col("__ga"))
    val wpb = Window.partitionBy(col(seriesCol), col("__gb"))
    val g2 = f
      .withColumn("__pv", max(col("__v")).over(wpa))
      .withColumn("__pd", max(when(col("__v").isNotNull, col(dateCol))).over(wpa))
      .withColumn("__nv", max(col("__v")).over(wpb))
      .withColumn("__nd", max(when(col("__v").isNotNull, col(dateCol))).over(wpb))
    g2.select(col(seriesCol), col(dateCol), col("__v").as(valCol),
      Det.roundN(
        when(col("__v").isNotNull, col("__v"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              (datediff(col(dateCol), col("__pd")).cast("double") /
                datediff(col("__nd"), col("__pd")).cast("double")))
          .when(col("__pv").isNotNull, col("__pv"))
          .otherwise(col("__nv")), InterpScale).as("filled"),
      when(col("__v").isNotNull, lit("obs"))
        .when(col("__pv").isNotNull && col("__nv").isNotNull, lit("interp"))
        .when(col("__pv").isNotNull, lit("ffill"))
        .otherwise(lit("bfill")).as("fill_src"))
  }

  /** One-sided CUSUM change detection per series: s₀ = 0,
    * sᵢ = max(0, sᵢ₋₁ + (vᵢ − targetᵢ)) over date order — the classic
    * drift alarm (a run of above-target days accumulates; any dip resets
    * toward 0). The recursion is NON-associative, so no window frame or
    * prefix trick expresses it; like the EWMA fold, each series is
    * calendar-bounded, so the honest shape is a per-key
    * `sort_array(collect_list)` + one `aggregate()` left fold — state
    * O(series length), parallel across keys, nothing corpus-sized in one
    * task. Both engines execute the identical IEEE add/greatest sequence
    * ([[cusumSql]] unrolls the same recursion), so the trajectory is
    * bit-identical.
    *
    * Input: one row per (key, date) with the value and its per-row
    * target (pre-join the per-series mean). Returns (key, date, v,
    * cusum).
    */
  def cusum(df: DataFrame, keyCol: String, dateCol: String,
      valCol: String, targetCol: String): DataFrame = {
    val rows = df.groupBy(col(keyCol)).agg(
      sort_array(collect_list(struct(
        col(dateCol).as("d"), col(valCol).cast("double").as("v"),
        col(targetCol).cast("double").as("t")))).as("__rows"))
    rows
      .withColumn("__cus", expr(
        """aggregate(__rows, CAST(array() AS ARRAY<DOUBLE>),
          |  (acc, r) -> acc || array(greatest(0D,
          |    coalesce(element_at(acc, -1), 0D) + r.v - r.t)))""".stripMargin))
      .select(col(keyCol),
        posexplode(arrays_zip(col("__rows"), col("__cus")))
          .as(Seq("__i", "__z")))
      .select(col(keyCol), col("__z.__rows.d").as(dateCol),
        col("__z.__rows.v").as(valCol), col("__z.__cus").as("cusum"))
  }

  /** Holt linear (double-exponential) smoothing per series — level +
    * trend state, the minimal forecaster that tracks a drifting mean
    * WITH its direction (plain EWMA lags a trending series forever):
    *
    *   l₁ = v₁, b₁ = 0
    *   l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * and the h-step forecast is l_T + h·b_T (the caller composes it from
    * the last row). Like [[cusum]], the recursion is non-associative, so
    * each calendar-bounded series folds in one `aggregate()` pass —
    * state O(series length), parallel across keys. l_t appears twice in
    * b_t's formula as the SAME subexpression, so both engines execute
    * identical IEEE sequences; α/β and their complements must be
    * interpolated from the same Scala doubles into the oracle
    * ([[holtSql]]) — note 1.0−α ≠ the literal "0.7" in IEEE.
    *
    * Returns (key, date, v, level, trend). */
  def holt(df: DataFrame, keyCol: String, dateCol: String, valCol: String,
      alpha: Double, beta: Double): DataFrame = {
    val (a, ca, be, cb) = (alpha, 1.0 - alpha, beta, 1.0 - beta)
    val rows = df.groupBy(col(keyCol)).agg(
      sort_array(collect_list(struct(
        col(dateCol).as("d"), col(valCol).cast("double").as("v"))))
        .as("__rows"))
    rows
      .withColumn("__hs", expr(
        s"""aggregate(__rows, CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>),
           |  (acc, r) -> acc || array(
           |    CASE WHEN size(acc) = 0 THEN named_struct('l', r.v, 'b', CAST(0 AS DOUBLE))
           |    ELSE named_struct(
           |      'l', $a * r.v + $ca * (element_at(acc, -1).l + element_at(acc, -1).b),
           |      'b', $be * (($a * r.v + $ca * (element_at(acc, -1).l + element_at(acc, -1).b))
           |             - element_at(acc, -1).l) + $cb * element_at(acc, -1).b)
           |    END))""".stripMargin))
      .select(col(keyCol),
        posexplode(arrays_zip(col("__rows"), col("__hs")))
          .as(Seq("__i", "__z")))
      .select(col(keyCol), col("__z.__rows.d").as(dateCol),
        col("__z.__rows.v").as(valCol),
        col("__z.__hs.l").as("level"), col("__z.__hs.b").as("trend"))
  }

  /** DuckDB mirror of [[holt]] as unrolled CTE steps. Expects CTE
    * `dix(k, rn, d, v)` (rn = 1-based date-order index per key); ends in
    * CTE `hs(k, rn, l, b)` covering every input row. α/β complements are
    * Scala-computed then interpolated — identical doubles both engines. */
  def holtSql(maxLen: Int, alpha: Double, beta: Double): String = {
    require(maxLen >= 2 && maxLen <= 64, s"maxLen: $maxLen")
    val (a, ca, be, cb) = (alpha, 1.0 - alpha, beta, 1.0 - beta)
    val steps = (2 to maxLen).map { r =>
      s"""h$r AS (
         |  SELECT d.k, $r AS rn,
         |    $a * d.v + $ca * (p.l + p.b) AS l,
         |    $be * (($a * d.v + $ca * (p.l + p.b)) - p.l) + $cb * p.b AS b
         |  FROM dix d JOIN h${r - 1} p ON p.k = d.k
         |  WHERE d.rn = $r)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to maxLen).map(r => s"SELECT k, rn, l, b FROM h$r")
      .mkString("\n  UNION ALL ")
    s"""h1 AS (SELECT k, 1 AS rn, v AS l, CAST(0 AS DOUBLE) AS b
       |  FROM dix WHERE rn = 1),
       |$steps,
       |hs AS (
       |  $unions)""".stripMargin
  }

  /** DuckDB mirror of [[cusum]] as unrolled CTE steps. Expects CTEs
    * `ks(k)` (distinct keys) and `dix(k, rn, d, v, t)` (rn = 1-based
    * date-order index per key); ends in CTE `cus(k, rn, s)` covering
    * every input row (keys shorter than `maxLen` just stop early).
    */
  def cusumSql(maxLen: Int): String = {
    require(maxLen >= 1 && maxLen <= 64, s"maxLen: $maxLen")
    val steps = (1 to maxLen).map { r =>
      s"""c$r AS (
         |  SELECT d.k, ${r} AS rn, GREATEST(0, p.s + d.v - d.t) AS s
         |  FROM dix d JOIN c${r - 1} p ON p.k = d.k
         |  WHERE d.rn = ${r})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to maxLen).map(r => s"SELECT k, rn, s FROM c$r")
      .mkString("\n  UNION ALL ")
    s"""c0 AS (SELECT k, 0 AS rn, CAST(0 AS DOUBLE) AS s FROM ks),
       |$steps,
       |cus AS (
       |  $unions)""".stripMargin
  }
}
