package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}

/** Aggregation operators (SURVEY §2.5), Spark-first over testdata.
  *
  * All of these are single-shuffle hash aggregates with map-side partial
  * aggregation — the shape that scales linearly to 100 TB. COUNT(DISTINCT)
  * is kept exact here (driver compares against an exact oracle); at the
  * 100 TB design point swap in `approx_count_distinct` via the same API.
  * Double sums are routed through [[graft.engine.Det]] so results are
  * order-independent (see Det's scaladoc).
  */
object Aggregates {

  /** The part-name colour q9 filters on, read by both engines. TPC-H's
    * `green` is not in the fixture vocabulary, whose colours are `red`
    * and `blue`; `blue` matches 20 of the 200 part names at sf0.001. */
  private val Q9Colour = "blue"

  val defs: Seq[QueryDef] = Seq(

    // Flagship: TPC-H-Q1-shaped pricing summary — grouped multi-aggregate
    // over the largest table. Ref shape: model_gold.py:148-157 (A1) at
    // covid scale; the canonical Spark plan is scan → partial hash agg →
    // shuffle on (returnflag, linestatus) → final agg.
    QueryDef.sql(
      "q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty,
         |  ${Det.dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
         |  ${Det.davgSql("l_quantity")} AS avg_qty,
         |  ${Det.davgSql("l_extendedprice")} AS avg_price,
         |  ${Det.davgSql("l_discount", 4)} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base_price"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("sum_disc_price"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.davg(col("l_extendedprice")).as("avg_price"),
          Det.davg(col("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A1 grouped multi-agg with conditional count.
    // Ref: model_gold.py:148-157.
    QueryDef.sql(
      "a1_grouped_multi_agg",
      s"""SELECT c_mktsegment, c_nationkey,
         |  COUNT(*) AS n_customers,
         |  COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_high_balance,
         |  ${Det.roundNSql("AVG(length(c_name))", 2)} AS avg_name_length
         |FROM customer
         |GROUP BY c_mktsegment, c_nationkey
         |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
          count(lit(1)).as("n_customers"),
          count(when(col("c_acctbal") > 5000, 1)).as("n_high_balance"),
          Det.roundN(avg(length(col("c_name"))), 2).as("avg_name_length"))
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // A2 global re-aggregation of a grouped result.
    // Ref: model_gold.py:165-167.
    QueryDef.sql(
      "a2_global_rollup",
      s"""SELECT COUNT(*) AS n_groups,
         |  CAST(SUM(n_customers) AS BIGINT) AS total_customers,
         |  ${Det.roundNSql("AVG(n_high_balance)", 2)} AS avg_high_balance_per_group
         |FROM (
         |  SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_customers,
         |         COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_high_balance
         |  FROM customer GROUP BY c_mktsegment, c_nationkey)""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d)
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(count(lit(1)).as("n_customers"),
            count(when(col("c_acctbal") > 5000, 1)).as("n_high_balance"))
          .agg(count(lit(1)).as("n_groups"),
            sum(col("n_customers")).as("total_customers"),
            Det.roundN(avg(col("n_high_balance")), 2).as("avg_high_balance_per_group"))
    },

    // A3 argmax with deterministic tiebreak. Ref: model_gold.py:169-170.
    QueryDef.sql(
      "a3_argmax_top_segment",
      """SELECT c_mktsegment AS top_segment, COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY n DESC, top_segment LIMIT 1""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("top_segment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("top_segment"))
        .limit(1)
    },

    // A4 distribution → JSON map column (pandas .to_dict() → JSON).
    // Ref: model_gold.py:172-180. Spark's Jackson writer and DuckDB's JSON
    // serializer produce byte-identical compact text for sorted
    // string→bigint maps, so this IS oracle-checkable.
    QueryDef.sql(
      "a4_distribution_json",
      """WITH g AS (SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1)
        |SELECT to_json(map_from_entries(list_sort(list((c_mktsegment, n)))))
        |  AS customers_by_segment FROM g""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .agg(to_json(
          map_from_entries(array_sort(collect_list(struct(
            col("c_mktsegment"), col("n")))))).as("customers_by_segment"))
    },

    // A5 daily global summary (the reference's covid MV).
    // Ref: model_gold.py:106-116.
    QueryDef.sql(
      "a5_daily_summary",
      s"""SELECT CAST(o_orderdate AS DATE) AS order_date,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  ${Det.dsumSql("o_totalprice")} AS total_price,
         |  COUNT(*) AS n_orders
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          Det.dsum(col("o_totalprice")).as("total_price"),
          count(lit(1)).as("n_orders"))
        .orderBy("order_date")
    },

    // A6 per-group profile with sorted-distinct string agg.
    // Ref: model_gold.py:118-127 (STRING_AGG(DISTINCT email_domain, ', ')).
    QueryDef.sql(
      "a6_string_agg_profile",
      """SELECT r_name, COUNT(*) AS n_nations,
        |  string_agg(DISTINCT n_name, ', ' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          concat_ws(", ", array_sort(collect_set(col("n_name")))).as("nations"))
        .orderBy("r_name")
    },

    // A7+A8 latest-snapshot aggregate via scalar-max subquery, expressed as
    // a broadcast join against a 1-row aggregate (stays distributed — no
    // collect() of the scalar). Ref: model_gold.py:250-287.
    QueryDef.sql(
      "a8_scalar_max_snapshot",
      s"""SELECT CAST(o_orderdate AS DATE) AS order_date,
         |  COUNT(*) AS n_orders,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  ${Det.dsumSql("o_totalprice")} AS total_price
         |FROM orders
         |WHERE CAST(o_orderdate AS DATE) =
         |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("order_date"),
          col("o_custkey"), col("o_totalprice"))
      val mx = o.agg(max(col("order_date")).as("order_date"))
      o.join(broadcast(mx), "order_date")
        .groupBy("order_date")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          Det.dsum(col("o_totalprice")).as("total_price"))
    },

    // A9 per-table freshness: per-DF max + union + staleness vs a fixed
    // anchor (reference uses NOW(); fixed literal keeps output
    // deterministic). Ref: validate_silver.py:239-252.
    QueryDef.sql(
      "a9_freshness_union",
      """SELECT table_name, max_date,
        |       CAST(datediff('day', max_date, DATE '2026-01-01') * 24 AS BIGINT) AS hours_stale
        |FROM (
        |  SELECT 'orders' AS table_name, MAX(CAST(o_orderdate AS DATE)) AS max_date FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', MAX(CAST(l_shipdate AS DATE)) FROM lineitem)
        |ORDER BY table_name""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("max_date"))
        .withColumn("table_name", lit("orders"))
      val l = Tables.lineitem(s, d)
        .agg(max(to_date(col("l_shipdate"))).as("max_date"))
        .withColumn("table_name", lit("lineitem"))
      o.unionByName(l)
        .select(col("table_name"), col("max_date"),
          (datediff(lit("2026-01-01").cast("date"), col("max_date")) * 24)
            .cast("long").as("hours_stale"))
        .orderBy("table_name")
    },

    // A10 data-quality conditional counts (COUNT CASE keeps BIGINT parity
    // across engines; SUM(int) would be HUGEINT in DuckDB).
    // Ref: validate_silver.py:90-94,138-143,192-217.
    QueryDef.sql(
      "a10_dq_conditional_counts",
      """SELECT
        |  COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_quantity,
        |  COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END) AS discount_violations,
        |  COUNT(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS nonpositive_price,
        |  COUNT(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1992-01-01'
        |              OR CAST(l_shipdate AS DATE) > DATE '2026-01-01' THEN 1 END) AS date_range_violations,
        |  COUNT(*) AS records_checked
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(when(col("l_quantity").isNull, 1)).as("null_quantity"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
          .as("discount_violations"),
        count(when(col("l_extendedprice") <= 0, 1)).as("nonpositive_price"),
        count(when(to_date(col("l_shipdate")) < lit("1992-01-01").cast("date") ||
          to_date(col("l_shipdate")) > lit("2026-01-01").cast("date"), 1))
          .as("date_range_violations"),
        count(lit(1)).as("records_checked"))
    },

    // A11 aggregate over empty subset → default via coalesce.
    // Ref: aggregate_gold.py:121-131 (default 85).
    QueryDef.sql(
      "a11_avg_with_default",
      s"""SELECT COALESCE(${Det.roundNSql("AVG(o_totalprice)", 2)}, 85.0) AS avg_price_or_default,
         |       COUNT(*) AS n
         |FROM orders WHERE o_orderdate > TIMESTAMP '2099-01-01'""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderdate") > lit("2099-01-01").cast("timestamp"))
          .agg(coalesce(Det.roundN(avg(col("o_totalprice")), 2), lit(85.0))
            .as("avg_price_or_default"),
            count(lit(1)).as("n"))
    },

    // TPC-H-Q3-shaped shipping priority: 3-way join with filters on all
    // three tables, grouped revenue, deterministic top 10. The segment
    // filter shrinks customer to a broadcast; both date predicates push
    // to the parquet scans. Tie-safe: ORDER BY (revenue DESC, l_orderkey)
    // on both engines before the LIMIT.
    QueryDef.sql(
      "q3_shipping_priority",
      s"""SELECT l_orderkey,
         |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |  AND l_shipdate > TIMESTAMP '1996-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .join(broadcast(Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H-Q5-shaped regional supplier volume: 6-way star join where the
    // local-supplier condition (c_nationkey = s_nationkey) correlates the
    // two dimension paths. nation⨝region collapses to one broadcast list
    // of qualifying nations applied to BOTH customer and supplier sides;
    // the two big-table joins stay keyed (orders⨝customer on custkey,
    // lineitem⨝supplier on suppkey) with the equal-nation residual
    // applied at the final keyed join — no cross product anywhere.
    QueryDef.sql(
      "q5_regional_volume",
      s"""SELECT n_name,
         |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d)
        .join(broadcast(asiaNations.select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, d)
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H-Q9-shaped product-line profit: the deepest star join in the
    // relational family (lineitem ⨝ part ⨝ supplier ⨝ orders ⨝ nation) —
    // the optimizer-ordering stress case. The part filter collapses one
    // dimension path to a broadcast BEFORE the fact scan (predicate-first
    // join ordering), supplier⨝nation is a broadcast pair, and the one
    // fact-to-fact join (lineitem⨝orders, for the year) stays keyed on
    // orderkey. Profit = extprice·(1−disc) − cost·qty with a synthetic
    // per-part cost (retailprice·0.6 — the fixture has no partsupp), all
    // decimal-summed.
    QueryDef.sql(
      "q9_product_profit",
      s"""SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
         |  ${Det.dsumSql(
            "l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.6 * l_quantity",
            4)} AS profit
         |FROM lineitem, part, supplier, orders, nation
         |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
         |  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
         |  AND p_name LIKE '%$Q9Colour%'
         |GROUP BY 1, 2
         |ORDER BY n_name, o_year DESC""".stripMargin) { (s, d) =>
      val colourParts = Tables.part(s, d)
        .filter(col("p_name").contains(Q9Colour))
        .select("p_partkey", "p_retailprice")
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      Tables.lineitem(s, d)
        .join(broadcast(colourParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(Det.dsum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * lit(0.6) * col("l_quantity"), 4)
          .as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    // TPC-H-Q7-shaped cross-nation trade volume: revenue between every
    // ordered (customer-nation, supplier-nation) pair by ship year —
    // the two-dimension-path star (orders→customer→nation AND
    // lineitem→supplier→nation meet at the fact). Both nation lookups are
    // broadcast; the one fact-to-fact join stays keyed on orderkey; the
    // n_c < n_s residual halves the pair space without a cross product.
    QueryDef.sql(
      "q7_nation_volume",
      s"""SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         |  EXTRACT(year FROM l.l_shipdate) AS l_year,
         |  ${Det.dsumSql("l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS revenue
         |FROM lineitem l, orders o, customer c, supplier s,
         |  nation cn, nation sn
         |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
         |  AND l.l_suppkey = s.s_suppkey
         |  AND c.c_nationkey = cn.n_nationkey
         |  AND s.s_nationkey = sn.n_nationkey
         |  AND cn.n_name < sn.n_name
         |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY cust_nation, supp_nation, l_year""".stripMargin) { (s, d) =>
      val custNation = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "cust_nation")
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sk"))
        .select("s_suppkey", "supp_nation")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
        .filter(col("cust_nation") < col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    },

    // TPC-H-Q10-shaped returned-item losses: the 20 customers costing the
    // most in returns for one quarter — orders date-pruned BEFORE the
    // fact join, returnflag filter on the scan, nation broadcast, top-20
    // as TakeOrdered (never a global sort).
    QueryDef.sql(
      "q10_returned_items",
      s"""SELECT c.c_custkey, c.c_name,
         |  ${Det.dsumSql("l.l_extendedprice * (1.0 - l.l_discount)", 6)} AS revenue,
         |  c.c_acctbal, n.n_name
         |FROM customer c, orders o, lineitem l, nation n
         |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         |  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
         |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
         |  AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
         |GROUP BY 1, 2, 4, 5
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val custN = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    },

    // Concentration profile of each event type's hour-of-day distribution:
    // Shannon entropy (nats), Herfindahl index, peak-hour share. Two
    // map-side-combinable aggregates (hour histogram → per-type moments) —
    // the distribution-shape summary behind traffic-pattern monitoring.
    // The 24-term double sums are order-sensitive in the last bits, so
    // both engines round to 6 places (the a_corr_matrix precedent for
    // transcendental terms).
    QueryDef.sql(
      "a_entropy_profile",
      s"""WITH h AS (
         |  SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS c
         |  FROM events GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS tot,
         |    MAX(c) AS peak, COUNT(*) AS n_hours
         |  FROM h GROUP BY 1)
         |SELECT h.event_type,
         |  ${Det.roundNSql("-SUM((c * 1.0 / tot) * ln(c * 1.0 / tot))", 6)} AS entropy,
         |  ${Det.roundNSql("SUM((c * 1.0 / tot) * (c * 1.0 / tot))", 6)} AS hhi,
         |  ${Det.roundNSql("MAX(peak * 1.0 / tot)", 6)} AS peak_share,
         |  CAST(MAX(n_hours) AS BIGINT) AS n_hours
         |FROM h JOIN t ON h.event_type = t.event_type
         |GROUP BY h.event_type
         |ORDER BY h.event_type""".stripMargin) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      val t = h.groupBy("event_type").agg(
        sum(col("c")).as("tot"), max(col("c")).as("peak"),
        count(lit(1)).as("n_hours"))
      val p = col("c") * lit(1.0) / col("tot")
      h.join(t, Seq("event_type"))
        .groupBy("event_type")
        .agg(
          Det.roundN(-sum(p * log(p)), 6).as("entropy"),
          Det.roundN(sum(p * p), 6).as("hhi"),
          Det.roundN(max(col("peak") * lit(1.0) / col("tot")), 6)
            .as("peak_share"),
          max(col("n_hours")).as("n_hours"))
        .orderBy("event_type")
    },

    // Revenue concentration (the whale curve): the share of total
    // customer revenue held strictly above the p90 / p99 per-customer
    // revenue thresholds. Thresholds are exact value-at-rank statistics
    // from Binning.equalFrequencyEdges (rank formula mirrored verbatim —
    // ceil(i·c/k) in the SAME double arithmetic — so tie/rounding
    // behavior is engine-identical); the shares are then two conditional
    // decimal sums. One fact scan + one tiny per-customer relation; the
    // thresholds ride in as 1-row broadcasts.
    QueryDef.sql(
      "a_revenue_concentration",
      s"""WITH cm AS (
         |  SELECT o_custkey, ${Det.dsumSql("o_totalprice")} AS monetary
         |  FROM orders GROUP BY o_custkey),
         |n AS (SELECT COUNT(*) AS c FROM cm),
         |ranked AS (
         |  SELECT monetary, row_number() OVER (ORDER BY monetary) AS rn FROM cm),
         |thr AS (
         |  SELECT
         |    MIN(CASE WHEN rn = CAST(ceil(9 * c / 10.0) AS BIGINT)
         |        THEN monetary END) AS t90,
         |    MIN(CASE WHEN rn = CAST(ceil(99 * c / 100.0) AS BIGINT)
         |        THEN monetary END) AS t99
         |  FROM ranked, n)
         |SELECT CAST(MAX(c) AS BIGINT) AS n_customers,
         |  ${Det.roundNSql(Det.dsumSql("monetary"), 2)} AS total_revenue,
         |  ${Det.roundNSql("MAX(t90)", 2)} AS p90_threshold,
         |  ${Det.roundNSql("MAX(t99)", 2)} AS p99_threshold,
         |  ${Det.roundNSql(Det.dsumSql("CASE WHEN monetary > t90 THEN monetary END") + " / " + Det.dsumSql("monetary"), 6)} AS top10_share,
         |  ${Det.roundNSql(Det.dsumSql("CASE WHEN monetary > t99 THEN monetary END") + " / " + Det.dsumSql("monetary"), 6)} AS top1_share
         |FROM cm, n, thr""".stripMargin) { (s, d) =>
      import graft.operators.Binning
      import graft.engine.Stage.syntax._
      import org.apache.spark.sql.types.DecimalType
      val cm = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(Det.dsum(col("o_totalprice")).as("monetary"))
        .staged
      // limit(1): semantically a no-op (each threshold is exactly one
      // row) but it pins the Catalyst size ESTIMATE to one row — the
      // raw plan's estimate compounds through the edge computation's
      // joins/windows into the GiB range, and the BroadcastGuard
      // every Session.local session carries would (correctly, per its
      // contract) strip the broadcast hint and leave a cartesian
      val t90 = Binning.equalFrequencyEdges(cm, "monetary", 10, 50000.0)
        .filter(col("edge_idx") === 9).select(col("edge").as("t90")).limit(1)
      val t99 = Binning.equalFrequencyEdges(cm, "monetary", 100, 50000.0)
        .filter(col("edge_idx") === 99).select(col("edge").as("t99")).limit(1)
      val dm = col("monetary").cast(DecimalType(18, 2))
      cm.crossJoin(broadcast(t90)).crossJoin(broadcast(t99))
        .agg(
          count(lit(1)).as("n_customers"),
          Det.roundN(sum(dm).cast("double"), 2).as("total_revenue"),
          Det.roundN(max(col("t90")), 2).as("p90_threshold"),
          Det.roundN(max(col("t99")), 2).as("p99_threshold"),
          Det.roundN((sum(when(col("monetary") > col("t90"), dm))
            .cast("double") / sum(dm).cast("double")), 6).as("top10_share"),
          Det.roundN((sum(when(col("monetary") > col("t99"), dm))
            .cast("double") / sum(dm).cast("double")), 6).as("top1_share"))
    },

    // Gini coefficient of per-customer revenue — the scalar companion to
    // a_revenue_concentration's threshold shares. Inequality.gini runs
    // the bucket-decomposed exact rank sum (no global row sort); the
    // oracle is the one-window textbook formula, which matches exactly
    // because Σ rank·x is tie-permutation-invariant and every sum is
    // decimal.
    QueryDef.sql(
      "a_gini_revenue",
      s"""WITH cm AS (
         |  SELECT o_custkey, ${Det.dsumSql("o_totalprice")} AS monetary
         |  FROM orders GROUP BY o_custkey),
         |r AS (
         |  SELECT monetary,
         |    row_number() OVER (ORDER BY monetary) AS rn FROM cm),
         |s AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS t,
         |    CAST(SUM(CAST(rn AS DECIMAL(19,0))
         |      * CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS sr
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n_customers,
         |  ${Det.roundNSql("t", 2)} AS total_revenue,
         |  ${Det.roundNSql("2.0 * sr / (n * t) - (n + 1.0) / n", 6)} AS gini
         |FROM s""".stripMargin) { (s, d) =>
      val cm = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(Det.dsum(col("o_totalprice")).as("monetary"))
      graft.operators.Inequality.gini(cm, "monetary", bucketWidth = 50000.0)
        .select(col("n").as("n_customers"),
          Det.roundN(col("total"), 2).as("total_revenue"),
          Det.roundN(col("gini"), 6).as("gini"))
    },

    // Per-group quartile edges of customer balance — the grouped form of
    // the binning two-pass: every window partitions by (segment [,
    // target]), the crossing probe equi-joins on the group key, and no
    // task sees more than one group's bucket slice. Negative balances
    // exercise floor-bucketing below zero. Oracle: textbook per-group
    // row_number rank selection.
    QueryDef.sql(
      "a_grouped_deciles",
      s"""WITH n AS (
         |  SELECT c_mktsegment, COUNT(*) AS c FROM customer GROUP BY 1),
         |r AS (
         |  SELECT c_mktsegment, c_acctbal,
         |    row_number() OVER (PARTITION BY c_mktsegment
         |                       ORDER BY c_acctbal) AS rn
         |  FROM customer),
         |e AS (
         |  SELECT r.c_mktsegment, i, MIN(c_acctbal) AS edge
         |  FROM r JOIN n ON r.c_mktsegment = n.c_mktsegment,
         |    (SELECT unnest(range(1, 4)) AS i) i
         |  WHERE rn = CAST(ceil(i * c / 4.0) AS BIGINT)
         |  GROUP BY 1, 2)
         |SELECT c_mktsegment, CAST(i AS INT) AS edge_idx,
         |  ${Det.roundNSql("edge", 2)} AS edge
         |FROM e ORDER BY c_mktsegment, edge_idx""".stripMargin) { (s, d) =>
      graft.operators.Binning.groupedEqualFrequencyEdges(
          Tables.customer(s, d), "c_mktsegment", "c_acctbal",
          k = 4, bucketWidth = 500.0)
        .select(col("c_mktsegment"), col("edge_idx"),
          Det.roundN(col("edge"), 2).as("edge"))
        .orderBy("c_mktsegment", "edge_idx")
    },
  )
}
