package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Stage.syntax._

/** Frequent-itemset mining (A-priori) over basket data — the market-basket
  * step past pairwise co-occurrence (`a_copurchase_pairs` /
  * `a_basket_lift`): which item TRIPLES recur across orders.
  *
  * The naive 3-way basket self-join enumerates Σ C(|basket|, 3) rows —
  * cubic in basket width and corpus-wide; that shape is the ORACLE here,
  * never the plan. A-priori's monotonicity (every subset of a frequent
  * set is frequent) gives the scale path:
  *
  *   1. frequent items (one count, semi-join filters the basket relation)
  *   2. frequent pairs over the filtered baskets (one i<j self-join —
  *      the already-shipped pair shape)
  *   3. candidate triples = freq-pair ⋈ freq-pair sharing the first item
  *      (b < c), pruned by "third edge (b,c) also frequent" — a
  *      candidate relation bounded by the frequent-pair count, NOT by
  *      the corpus
  *   4. support counted by three keyed joins of the candidates back to
  *      the filtered basket relation — only candidate-relevant rows flow
  *
  * Every join is equi-keyed (no cartesian), every aggregate map-side
  * combinable; the candidate relation is the only quadratic-ish object
  * and it lives in frequent-pair space. Reference analytics stop at
  * top-sellers (model_gold.py:139-241); this is the lattice level above.
  */
object Itemsets {

  /** The shipped basket-rate denominator: a pattern must recur at the
    * ~1-in-75k basket rate to survive the relative prune. ONE constant —
    * the engine-side expressions AND the DuckDB oracle SQL in
    * ScaleOps all derive from it via the helpers below, so
    * tuning the rate cannot desynchronize a query from its oracle. */
  val DefaultBasketDenom = 75000L
  val DefaultFloorSupport = 2L

  /** Spark-dialect relative threshold over a basket-count aggregate
    * expression: greatest(floor, ceil(count / denom)) in exact integer
    * form. */
  def thresholdExprSql(countExpr: String,
      denom: Long = DefaultBasketDenom, floor: Long = DefaultFloorSupport): String =
    s"greatest($floor, ($countExpr + ${denom - 1}) div $denom)"

  /** DuckDB-dialect mirror of [[thresholdExprSql]] (integer division is
    * `//`). */
  def thresholdOracleSql(countExpr: String): String =
    s"GREATEST($DefaultFloorSupport, ($countExpr + ${DefaultBasketDenom - 1})" +
      s" // $DefaultBasketDenom)"

  /** Frequent triples with RELATIVE minimum support — the A-priori norm:
    * threshold = greatest(floorSupport, ceil(n_baskets / basketDenom)),
    * computed IN-PLAN from the basket relation (a 1-row broadcast, never
    * a driver round-trip) so the cutoff scales with the corpus. The
    * integer form `(n + d - 1) div d` is exact on every engine, which
    * lets a SQL oracle recompute the identical threshold. A fixed
    * absolute support `m` is `floorSupport = m` over fewer than
    * `basketDenom` baskets. Returns (p1, p2, p3, support), p1 < p2 < p3,
    * support-ranked.
    *
    * Shared lattice: the threshold relation is staged and broadcast as
    * one row into every prune site, so item, pair, and triple pruning
    * all apply the same cutoff — A-priori monotonicity then guarantees
    * the final triples match a single end filter. */
  def frequentTriples(baskets: DataFrame, basketCol: String,
      itemCol: String, basketDenom: Long = DefaultBasketDenom,
      floorSupport: Long = DefaultFloorSupport): DataFrame = {
    require(basketDenom >= 1, s"basketDenom: $basketDenom")
    require(floorSupport >= 1, s"floorSupport: $floorSupport")
    val b = baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct().staged
    val thr = b.agg(expr(thresholdExprSql("count(DISTINCT bk)", basketDenom,
      floorSupport)).as("__thr")).staged
    val freqItems = b.groupBy("it").agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(thr))
      .filter(col("__n") >= col("__thr")).select("it")
    val bf = b.join(freqItems, Seq("it"), "left_semi").staged
    // per-basket pairs of frequent items — Σ C(k_b, 2) rows, bounded by
    // basket WIDTH per basket, never by how many baskets share an item.
    // Staged once: the frequent-pair count and the support count both
    // consume it.
    val pairRel = bf.select(col("bk"), col("it").as("ia"))
      .join(bf.select(col("bk"), col("it").as("ib")), Seq("bk"))
      .filter(col("ia") < col("ib")).staged
    val freqPairs = pairRel
      .groupBy("ia", "ib").agg(count(lit(1)).as("__n2"))
      .crossJoin(broadcast(thr))
      .filter(col("__n2") >= col("__thr"))
      .select("ia", "ib").staged
    val cands = freqPairs.select(col("ia").as("p1"), col("ib").as("p2"))
      .join(freqPairs.select(col("ia").as("p1"), col("ib").as("p3")), Seq("p1"))
      .filter(col("p2") < col("p3"))
      // a-priori prune: the third edge (p2, p3) must itself be frequent
      .join(freqPairs.select(col("ia").as("p2"), col("ib").as("p3")),
        Seq("p2", "p3"), "left_semi")
    // SUPPORT COUNTING, basket-wise (the r12 skew-sweep fix): the former
    // shape joined candidates to baskets on p1 ALONE — for a hot item
    // that is candidates(p1) × baskets(p1) rows before the second join
    // could prune (measured 347 s on the Zipf lake: ~2k triples sharing
    // a hot p1 × ~250k baskets holding it ≈ 5·10^8). Basket-wise, every
    // intermediate is per-basket bounded: candidate-prefix pair rows
    // (≤ C(width,2) per basket), × third items (≤ width), then ONE keyed
    // join onto the candidate relation — identical support counts,
    // corpus-linear row flow. This is also the join order the DuckDB
    // oracle is pinned to (AS MATERIALIZED pairs-then-third; see the
    // a_itemsets3 ORACLE NOTE).
    val prefixes = cands.select(col("p1").as("ia"), col("p2").as("ib"))
      .distinct()
    // no broadcast hints on prefixes and cands: both derive from staged
    // relations whose size estimates compound past BroadcastGuard's cap
    // (over 10^19 bytes at sf0.001), so any hint would be stripped
    pairRel
      .join(prefixes, Seq("ia", "ib"), "left_semi")
      .join(bf.select(col("bk"), col("it").as("p3")), Seq("bk"))
      .filter(col("ib") < col("p3"))
      .withColumnsRenamed(Map("ia" -> "p1", "ib" -> "p2"))
      .join(cands, Seq("p1", "p2", "p3"), "left_semi")
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(thr))
      .filter(col("support") >= col("__thr"))
      .drop("__thr")
      .orderBy(desc("support"), col("p1"), col("p2"), col("p3"))
  }
}
