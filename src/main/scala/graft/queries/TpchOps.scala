package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}
import graft.engine.Stage.syntax._

/** The rest of the TPC-H decision-support suite — all 22 shapes
  * (Q1/Q3/Q5/Q7/Q9/Q10 already live in Aggregates/AppliedOps), re-expressed
  * over the test schema — the fixture lacks partsupp and a few columns (shipmode,
  * commitdate, container, phone), so the Q2/Q11/Q20 "stock" queries
  * derive the supply catalog from lineitem and the others substitute an
  * equivalent available predicate. What each query is HERE for is its
  * PLAN SHAPE at 100 TB, the classic decision-support patterns:
  *
  *   - Q2/Q17: correlated scalar subquery → decorrelated per-group
  *     aggregate joined back (never a per-row re-scan)
  *   - Q4/Q18/Q20/Q21: EXISTS / IN / NOT-EXISTS → left-semi and
  *     left-anti joins, including the Q21 semi+anti self-join pair
  *   - Q8/Q14: conditional-share aggregates (one pass, no second scan)
  *   - Q11/Q15/Q22: global scalar threshold → 1-row broadcast, never a
  *     cartesian-ish recompute per row
  *   - Q13: left outer + two-level aggregate (distribution of counts)
  *   - Q16: anti-filtered distinct-count rollup
  *   - Q19: disjunction-of-conjunctions predicate pushed into the scan
  */
object TpchOps {

  private def ts(s: String) = lit(s).cast("timestamp")

  val defs: Seq[QueryDef] = Seq(

    // ---- Q2: min-cost supplier per part ------------------------------
    // The supply catalog is lineitem-derived (observed unit prices); the
    // correlated MIN over a part's regional suppliers decorrelates into
    // one per-part aggregate joined back on (part, cost). Region filter
    // reaches the supply scan through a broadcast nation-region lookup.
    QueryDef.sql(
      "q2_min_cost_supplier",
      s"""WITH rs AS (
         |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
         |  FROM supplier s, nation n, region r
         |  WHERE s.s_nationkey = n.n_nationkey
         |    AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
         |supply AS (
         |  SELECT l.l_partkey, l.l_suppkey,
         |    ${Det.roundNSql(
             "MIN(l.l_extendedprice / l.l_quantity)", 6)} AS cost
         |  FROM lineitem l JOIN rs ON rs.s_suppkey = l.l_suppkey
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT l_partkey, MIN(cost) AS min_cost
         |  FROM supply GROUP BY 1)
         |SELECT p.p_partkey, p.p_name, rs.s_name, rs.n_name,
         |  ${Det.roundNSql("rs.s_acctbal", 2)} AS s_acctbal, sp.cost
         |FROM part p
         |JOIN supply sp ON sp.l_partkey = p.p_partkey
         |JOIN best b ON b.l_partkey = sp.l_partkey AND sp.cost = b.min_cost
         |JOIN rs ON rs.s_suppkey = sp.l_suppkey
         |WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin) { (s, d) =>
      val rs = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val supply = Tables.lineitem(s, d)
        .join(broadcast(rs.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(Det.roundN(min(col("l_extendedprice") / col("l_quantity")), 6)
          .as("cost"))
        .staged
      val best = supply.groupBy("l_partkey").agg(min("cost").as("min_cost"))
      supply
        .join(best, supply("l_partkey") === best("l_partkey")
          && col("cost") === col("min_cost"))
        .drop(best("l_partkey")).drop("min_cost")
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
          .select("p_partkey", "p_name")),
          col("l_partkey") === col("p_partkey"))
        .join(rs, col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          Det.roundN(col("s_acctbal"), 2).as("s_acctbal"), col("cost"))
        .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // ---- Q4: order-priority check ------------------------------------
    // EXISTS(lineitem shipped >60 days after order) → LEFT SEMI with a
    // mixed equi + residual condition; the quarter prune hits the orders
    // scan before the join.
    QueryDef.sql(
      "q4_priority_fulfillment",
      s"""SELECT o.o_orderpriority, COUNT(*) AS order_count
         |FROM orders o
         |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
         |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem l
         |    WHERE l.l_orderkey = o.o_orderkey
         |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-07-01") &&
          col("o_orderdate") < ts("1996-10-01"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ---- Q8: national market share -----------------------------------
    // Share of ASIA-customer revenue supplied by NATION_2, per order
    // year: ONE conditional-sum pass over the joined fact — the naive
    // two-query form (numerator scan + denominator scan) is exactly what
    // the conditional aggregate avoids.
    QueryDef.sql(
      "q8_market_share",
      s"""WITH f AS (
         |  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         |    l.l_extendedprice * (1.0 - l.l_discount) AS vol,
         |    sn.n_name AS supp_nation
         |  FROM lineitem l, orders o, customer c, nation cn, region r,
         |    supplier s, nation sn
         |  WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
         |    AND c.c_nationkey = cn.n_nationkey
         |    AND cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
         |    AND l.l_suppkey = s.s_suppkey
         |    AND s.s_nationkey = sn.n_nationkey
         |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
         |SELECT o_year,
         |  ${Det.roundNSql(
             s"CAST(${Det.dsumSql(
               "CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE 0.0 END",
               6)} AS DOUBLE) / CAST(${Det.dsumSql("vol", 6)} AS DOUBLE)",
             6)} AS mkt_share
         |FROM f GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, d) =>
      val custAsia = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val suppN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1998-01-01"))
        .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitem(s, d)
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("vol", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .groupBy("o_year")
        .agg(Det.dsum(when(col("supp_nation") === "NATION_2", col("vol"))
            .otherwise(lit(0.0)), 6).cast("double").as("num"),
          Det.dsum(col("vol"), 6).cast("double").as("den"))
        .select(col("o_year"),
          Det.roundN(col("num") / col("den"), 6).as("mkt_share"))
        .orderBy("o_year")
    },

    // ---- Q11: important supply values --------------------------------
    // Per-part supply value from NATION_3 suppliers vs a GLOBAL
    // importance threshold — the scalar lands as a 1-row broadcast
    // against the per-part aggregate, not a recompute.
    //
    // SCALE NOTE (sf1 sweep): the threshold is MEAN-RELATIVE — a part is
    // important iff its value exceeds 3× the mean per-part supply value,
    // i.e. value · n_parts > total · 3 (exact decimal×integer products,
    // no division, no representable-fraction ties). TPC-H's own Q11
    // scales its fraction by 1/SF for exactly this reason (a fixed
    // fraction-of-total empties as the catalog grows: the former 0.0015
    // already returned ZERO rows at sf0.1 and sf1); on this fixture's
    // flat value distribution the spec's 1/supplier-count fraction is
    // degenerate too (0 rows at every SF), while 3× mean stays
    // scale-invariant under replication — measured 1 / 22 / 193 / 1930
    // rows at sf0.001/0.01/0.1/1, exactly linear where the lake is an
    // exact 10× replica.
    QueryDef.sql(
      "q11_important_supply",
      s"""WITH sup AS (
         |  SELECT s_suppkey FROM supplier s, nation n
         |  WHERE s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'),
         |v AS (
         |  SELECT l.l_partkey, ${Det.dsumSql("l.l_extendedprice", 2)} AS value
         |  FROM lineitem l JOIN sup ON sup.s_suppkey = l.l_suppkey
         |  GROUP BY 1),
         |t AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2)))
         |             AS DECIMAL(38,2)) AS total,
         |             COUNT(*) AS np FROM v)
         |SELECT v.l_partkey, v.value
         |FROM v, t
         |WHERE CAST(value AS DECIMAL(18,2)) * t.np > t.total * 3
         |ORDER BY value DESC, l_partkey""".stripMargin) { (s, d) =>
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val v = Tables.lineitem(s, d)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(Det.dsum(col("l_extendedprice"), 2).as("value"))
        .staged
      // threshold compared in EXACT decimal space on both engines: value
      // is exact at 2 decimals and both sides are decimal×integer
      // PRODUCTS — no division, so no rounding and no .xx5 tie class
      // anywhere (the same discipline as the engagement_score fix)
      val t = v.agg(sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("decimal(38,2)").as("total"),
        count(lit(1)).as("np"))
      v.crossJoin(broadcast(t))
        .filter(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * col("np") > col("total") * lit(3))
        .select("l_partkey", "value")
        .orderBy(desc("value"), col("l_partkey"))
    },

    // ---- Q13: customer order-count distribution ----------------------
    // LEFT OUTER join (customers with zero orders must survive) → per-
    // customer count → count-of-counts. Two keyed aggregates, no window.
    QueryDef.sql(
      "q13_order_count_distribution",
      s"""WITH pc AS (
         |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
         |  FROM customer c LEFT JOIN orders o
         |    ON o.o_custkey = c.c_custkey
         |    AND o.o_orderpriority <> '5-LOW'
         |  GROUP BY 1)
         |SELECT c_count, COUNT(*) AS custdist
         |FROM pc GROUP BY 1
         |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_custkey", "o_orderkey"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // ---- Q14: promotion effect ---------------------------------------
    // Revenue share of PROMO parts for one month: broadcast the part
    // dimension, ONE conditional-sum pass.
    QueryDef.sql(
      "q14_promo_revenue",
      s"""SELECT ${Det.roundNSql(
           s"100.0 * CAST(${Det.dsumSql(
             "CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END",
             6)} AS DOUBLE) / CAST(${Det.dsumSql(
             "l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS DOUBLE)",
           6)} AS promo_share
         |FROM lineitem l, part p
         |WHERE l.l_partkey = p.p_partkey
         |  AND l.l_shipdate >= TIMESTAMP '1996-09-01'
         |  AND l.l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-09-01") &&
          col("l_shipdate") < ts("1996-10-01"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("vol", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .agg(Det.dsum(when(col("p_type") === "PROMO", col("vol"))
            .otherwise(lit(0.0)), 6).cast("double").as("num"),
          Det.dsum(col("vol"), 6).cast("double").as("den"))
        .select(Det.roundN(lit(100.0) * col("num") / col("den"), 6)
          .as("promo_share"))
    },

    // ---- Q15: top supplier -------------------------------------------
    // Max quarterly revenue as a 1-row broadcast joined back on equality
    // — the decorrelated form of Q15's revenue view + MAX subquery.
    // Revenue is DECIMAL so the equality join is exact.
    QueryDef.sql(
      "q15_top_supplier",
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)", 6)}
         |      AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1),
         |m AS (SELECT MAX(total_revenue) AS mr FROM rev)
         |SELECT s.s_suppkey, s.s_name,
         |  CAST(r.total_revenue AS DOUBLE) AS total_revenue
         |FROM supplier s, rev r, m
         |WHERE s.s_suppkey = r.l_suppkey AND r.total_revenue = m.mr
         |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("total_revenue"))
        .staged
      val m = rev.agg(max("total_revenue").as("mr"))
      rev.crossJoin(broadcast(m))
        .filter(col("total_revenue") === col("mr"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // ---- Q16: supplier count by part attributes ----------------------
    // Distinct suppliers per (brand, type, size-set), excluding one
    // brand and anti-filtering the "complaint" suppliers (negative
    // balance stands in for the comment LIKE) — NOT IN becomes a
    // broadcast left-anti against a tiny exclusion list.
    QueryDef.sql(
      "q16_supplier_part_count",
      s"""WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
         |pl AS (
         |  SELECT DISTINCT p.p_brand, p.p_type, p.p_size, l.l_suppkey
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |  WHERE p.p_brand <> 'Brand#4'
         |    AND p.p_size IN (1, 8, 15, 22, 29, 36, 43, 50)
         |    AND l.l_suppkey NOT IN (SELECT s_suppkey FROM excl))
         |SELECT p_brand, p_type, p_size,
         |  COUNT(*) AS supplier_cnt
         |FROM pl GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
      val excl = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#4" &&
            col("p_size").isin(1, 8, 15, 22, 29, 36, 43, 50))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey").distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // ---- Q17: small-quantity revenue ---------------------------------
    // The correlated AVG-per-part scalar decorrelates into one per-part
    // aggregate broadcast back onto the Brand#2 lineitems; yearly
    // average over the fixture's 7-year span.
    QueryDef.sql(
      "q17_small_quantity_revenue",
      s"""WITH pq AS (
         |  SELECT l_partkey, AVG(l_quantity) AS aq
         |  FROM lineitem GROUP BY 1),
         |b AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2')
         |SELECT ${Det.roundNSql(
           s"CAST(${Det.dsumSql("l.l_extendedprice", 6)} AS DOUBLE) / 7.0",
           6)} AS avg_yearly
         |FROM lineitem l
         |JOIN b ON b.p_partkey = l.l_partkey
         |JOIN pq ON pq.l_partkey = l.l_partkey
         |WHERE l.l_quantity < 0.5 * pq.aq""".stripMargin) { (s, d) =>
      val pq = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"))
        .agg(avg("l_quantity").as("aq"))
      val b = Tables.part(s, d).filter(col("p_brand") === "Brand#2")
        .select("p_partkey")
      Tables.lineitem(s, d).select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(b), col("l_partkey") === col("p_partkey"))
        .join(pq, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .agg(Det.dsum(col("l_extendedprice"), 6).cast("double").as("s"))
        .select(Det.roundN(col("s") / lit(7.0), 6).as("avg_yearly"))
    },

    // ---- Q18: large-volume customers ---------------------------------
    // IN(orders HAVING sum(qty) > 150) → the aggregate's keys semi-join
    // the fact; top 20 by order value. The big-group aggregate runs
    // ONCE and feeds both the filter and the output quantity.
    QueryDef.sql(
      "q18_large_orders",
      s"""WITH big AS (
         |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
         |    AS DOUBLE) AS total_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
         |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
         |  ${Det.roundNSql("o.o_totalprice", 2)} AS o_totalprice,
         |  b.total_qty
         |FROM big b
         |JOIN orders o ON o.o_orderkey = b.l_orderkey
         |JOIN customer c ON c.c_custkey = o.o_custkey
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
         |LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("q"))
        .filter(col("q") > 150)
        .select(col("l_orderkey"), col("q").cast("double").as("total_qty"))
      big.join(Tables.orders(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_name"),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), Det.roundN(col("o_totalprice"), 2)
            .as("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
        .limit(20)
    },

    // ---- Q19: disjunctive predicate revenue --------------------------
    // Three OR'd (brand, size-range, quantity-range) branches — the
    // whole disjunction evaluates inside the scan stage after the
    // broadcast part join; no union-of-three-scans.
    QueryDef.sql(
      "q19_disjunctive_revenue",
      s"""SELECT ${Det.dsumSql(
           "l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS revenue
         |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE
         |  (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
         |    AND l.l_quantity BETWEEN 1 AND 11)
         |  OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 10
         |    AND l.l_quantity BETWEEN 10 AND 20)
         |  OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 15
         |    AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, d) =>
      val branch =
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#16" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(branch)
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
    },

    // ---- Q20: concentrated supply ------------------------------------
    // Suppliers of red-named parts whose 1996 shipments exceed half
    // their all-time volume for that part — the nested IN/EXISTS chain
    // becomes per-(supplier,part) conditional aggregates + one semi join
    // up to the supplier dimension.
    QueryDef.sql(
      "q20_concentrated_supply",
      s"""WITH red AS (
         |  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
         |sp AS (
         |  SELECT l.l_suppkey, l.l_partkey,
         |    SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
         |          AND l.l_shipdate < TIMESTAMP '1997-01-01'
         |        THEN CAST(l.l_quantity AS DECIMAL(18,2)) ELSE 0 END) AS q96,
         |    SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qall
         |  FROM lineitem l JOIN red ON red.p_partkey = l.l_partkey
         |  GROUP BY 1, 2),
         |hot AS (
         |  SELECT DISTINCT l_suppkey FROM sp WHERE q96 * 2 > qall)
         |SELECT s.s_name, n.n_name
         |FROM supplier s, nation n, hot h
         |WHERE s.s_suppkey = h.l_suppkey
         |  AND s.s_nationkey = n.n_nationkey
         |ORDER BY s_name""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val red = Tables.part(s, d).filter(col("p_name").like("red%"))
        .select("p_partkey")
      val hot = Tables.lineitem(s, d)
        .join(broadcast(red), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
          sum(when(col("l_shipdate") >= ts("1996-01-01") &&
              col("l_shipdate") < ts("1997-01-01"),
            col("l_quantity").cast(DecimalType(18, 2))).otherwise(lit(0)))
            .as("q96"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("qall"))
        .filter(col("q96") * 2 > col("qall"))
        .select("l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    },

    // ---- Q21: the sole late supplier ---------------------------------
    // Suppliers who alone held up a multi-supplier F-order (shipment
    // >90 days after the order): the classic EXISTS(other supplier) +
    // NOT EXISTS(other LATE supplier) pair — a LEFT SEMI then a LEFT
    // ANTI self-join on the order's supplier set.
    QueryDef.sql(
      "q21_sole_late_supplier",
      s"""WITH fo AS (
         |  SELECT o_orderkey, o_orderdate FROM orders
         |  WHERE o_orderstatus = 'F'),
         |ls AS (
         |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
         |  FROM lineitem l JOIN fo ON fo.o_orderkey = l.l_orderkey
         |  WHERE l.l_shipdate > fo.o_orderdate + INTERVAL 90 DAY),
         |alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |sole AS (
         |  SELECT ls.l_orderkey, ls.l_suppkey FROM ls
         |  WHERE EXISTS (
         |    SELECT 1 FROM alls a
         |    WHERE a.l_orderkey = ls.l_orderkey
         |      AND a.l_suppkey <> ls.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM ls l2
         |    WHERE l2.l_orderkey = ls.l_orderkey
         |      AND l2.l_suppkey <> ls.l_suppkey))
         |SELECT s.s_name, COUNT(*) AS numwait
         |FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
         |GROUP BY 1 ORDER BY numwait DESC, s_name
         |LIMIT 20""".stripMargin) { (s, d) =>
      val fo = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val ls = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey",
          "l_shipdate")
        .join(fo, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .select("l_orderkey", "l_suppkey").distinct()
        .staged
      val alls = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val sole = ls
        .join(alls, col("l_orderkey") === col("ok") &&
          col("l_suppkey") =!= col("sk"), "left_semi")
        .join(ls.select(col("l_orderkey").as("ok2"),
            col("l_suppkey").as("sk2")),
          col("l_orderkey") === col("ok2") &&
            col("l_suppkey") =!= col("sk2"), "left_anti")
      sole.join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    },

    // ---- Q6: forecasting revenue change ------------------------------
    // The canonical filtered scan-agg: every predicate (date window,
    // discount band, quantity cap) pushes into the parquet scan, one
    // map-side-combinable sum, zero joins. At 100 TB this is the query
    // whose cost IS the scan — partition pruning on shipdate would cut
    // it further on a date-partitioned lake.
    QueryDef.sql(
      "q6_forecast_revenue",
      s"""SELECT ${Det.dsumSql("l_extendedprice * l_discount", 6)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(Det.dsum(col("l_extendedprice") * col("l_discount"), 6)
          .as("revenue"))
    },

    // ---- Q12: shipping-priority share per line class ------------------
    // Q12's shape — conditional priority counts over an orders⋈lineitem
    // join, grouped by a low-cardinality lineitem attribute — with the
    // fixture's available columns: l_linestatus stands in for the absent
    // l_shipmode, and "shipped >30 days after order" for the absent
    // commit/receipt lateness pair. ONE pass: both priority classes
    // come from the same conditional aggregate, never two scans.
    QueryDef.sql(
      "q12_priority_shipping",
      s"""SELECT l.l_linestatus,
         |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
         |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1 ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01"))
        .select("l_orderkey", "l_shipdate", "l_linestatus")
        .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // ---- Q22: idle high-balance customers ----------------------------
    // Global AVG(positive balance) as a 1-row broadcast threshold, then
    // LEFT ANTI against orders (the NOT EXISTS) — per-segment rollup.
    QueryDef.sql(
      "q22_idle_customers",
      s"""WITH t AS (
         |  SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
         |idle AS (
         |  SELECT c.c_mktsegment, c.c_acctbal
         |  FROM customer c, t
         |  WHERE c.c_acctbal > t.ab
         |    AND NOT EXISTS (
         |      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |        AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
         |SELECT c_mktsegment, COUNT(*) AS numcust,
         |  ${Det.dsumSql("c_acctbal", 2)} AS totacctbal
         |FROM idle GROUP BY 1 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val t = Tables.customer(s, d).filter(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("ab"))
      Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .crossJoin(broadcast(t))
        .filter(col("c_acctbal") > col("ab"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1999-01-01"))
          .select("o_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          Det.dsum(col("c_acctbal"), 2).as("totacctbal"))
        .orderBy("c_mktsegment")
    },
  )
}
