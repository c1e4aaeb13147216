package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}

/** Scan / projection / filter / cleaning operators (SURVEY §2.1, §2.3) and
  * joins (§2.4), each re-expressed Spark-first over the testdata tables.
  *
  * Reference provenance is cited per query (file:line under /root/reference).
  * Scans rely on Catalyst pushdown: filters and column pruning reach the
  * parquet reader (PushedFilters / ReadSchema in `.explain("formatted")`),
  * which is what makes the same plan viable at 100 TB — only the needed
  * columns/row-groups are read.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // S4 + pushdown showcase: projection+filter reach the parquet scan.
    // Ref: load_bronze.py:275-278 (parquet scan) + manual SQL pushdown §4.
    QueryDef.sql(
      "s4_scan_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_quantity >= 49 AND l_shipdate >= TIMESTAMP '1995-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .filter(col("l_quantity") >= 49 &&
          col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P1 column rename map. Ref: load_bronze.py:338-346 (covid header map).
    QueryDef.sql(
      "p1_rename_columns",
      """SELECT n_nationkey AS nation_key, n_name AS nation_name,
        |       n_regionkey AS region_key
        |FROM nation ORDER BY nation_key""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .withColumnsRenamed(Map(
          "n_nationkey" -> "nation_key",
          "n_name" -> "nation_name",
          "n_regionkey" -> "region_key"))
        .orderBy("nation_key")
    },

    // P2 column pruning / fixed order. Ref: load_bronze.py:364-369.
    QueryDef.sql(
      "p2_column_prune",
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey") {
      (s, d) =>
        Tables.part(s, d)
          .select("p_partkey", "p_name", "p_retailprice")
          .orderBy("p_partkey")
    },

    // P3 audit/constant columns + sha2 lineage hash.
    // Ref: load_bronze.py:281-284,350-355; ingest_bronze.py:52-54 (hash16).
    QueryDef.sql(
      "p3_audit_columns",
      """SELECT r_regionkey, r_name, 'region.parquet' AS source_filename,
        |       'pending' AS validation_status,
        |       substr(sha256(r_name), 1, 16) AS data_hash
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      Tables.region(s, d)
        .withColumn("source_filename", lit("region.parquet"))
        .withColumn("validation_status", lit("pending"))
        .withColumn("data_hash", sha2(col("r_name"), 256).substr(1, 16))
        .orderBy("r_regionkey")
    },

    // P4 blank→NULL normalize. Ref: load_bronze.py:348.
    QueryDef.sql(
      "p4_blank_to_null",
      """SELECT c_custkey,
        |       CASE WHEN trim(c_mktsegment) = '' THEN NULL
        |            ELSE trim(c_mktsegment) END AS segment_clean
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(trim(col("c_mktsegment")) === "", lit(null))
            .otherwise(trim(col("c_mktsegment"))).as("segment_clean"))
        .orderBy("c_custkey")
    },

    // P5 numeric coercion with default 0 (errors='coerce' + fillna(0)).
    // Ref: load_bronze.py:357-360; transform_silver.py:293-295.
    QueryDef.sql(
      "p5_numeric_coercion",
      """SELECT c_custkey,
        |       COALESCE(TRY_CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS INT), 0) AS name_num,
        |       COALESCE(TRY_CAST(c_mktsegment AS INT), 0) AS seg_num
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          coalesce(
            expr("try_cast(regexp_replace(c_name, '[^0-9]', '') AS INT)"),
            lit(0)).as("name_num"),
          coalesce(expr("try_cast(c_mktsegment AS INT)"), lit(0)).as("seg_num"))
        .orderBy("c_custkey")
    },

    // P6 date coercion, invalid→NULL. Ref: load_bronze.py:361-362.
    QueryDef.sql(
      "p6_date_coercion",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |       TRY_CAST(o_orderpriority AS DATE) AS bad_date
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_date"),
          expr("try_to_date(o_orderpriority)").as("bad_date"))
        .orderBy("o_orderkey")
    },

    // P7 incremental consume-once filter. Ref: transform_silver.py:146-152.
    QueryDef.sql(
      "p7_incremental_filter",
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'signup' ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // P8 predicate filter. Ref: model_gold.py:334-335; transform_silver.py:372.
    QueryDef.sql(
      "p8_predicate_filter",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // P9 keyed dedup with deterministic keep-first (pandas drop_duplicates
    // keeps first in sort order; Spark needs an explicit tiebreak).
    // Ref: transform_silver.py:232,354; SURVEY §7.4.3.
    QueryDef.sql(
      "p9_dedup_first_per_key",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderdate, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("o_custkey")
    },

    // P10 NOT-IN as anti-semijoin: customers with no recent orders (the
    // filter keeps the result non-empty on testdata, where every customer
    // has at least one order overall). Ref: transform_silver.py:233-239.
    QueryDef.sql(
      "p10_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-06-01')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("2001-06-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // P11 per-row status rewrite (pending→processed by predicate).
    // Ref: transform_silver.py:251-257.
    QueryDef.sql(
      "p11_status_update",
      """SELECT event_id, event_type,
        |       CASE WHEN event_type IN ('click', 'view') THEN 'processed'
        |            ELSE 'pending' END AS validation_status
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          when(col("event_type").isin("click", "view"), "processed")
            .otherwise("pending").as("validation_status"))
        .orderBy("event_id")
    },

    // J1 left-join orphan check (referential integrity).
    // Ref: validate_silver.py:164-169.
    QueryDef.sql(
      "j1_orphan_check",
      """SELECT COUNT(DISTINCT o.o_custkey) AS orphan_users,
        |       COUNT(o.o_orderkey) AS orphan_orders
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey IS NULL""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(countDistinct(col("o_custkey")).as("orphan_users"),
          count(col("o_orderkey")).as("orphan_orders"))
    },

    // J3 cross join of one-row scalar aggregates (layer record counts).
    // Ref: aggregate_gold.py:88-111.
    QueryDef.sql(
      "j3_cross_join_scalars",
      """SELECT c.customers, o.orders, l.lineitems
        |FROM (SELECT COUNT(*) AS customers FROM customer) c
        |CROSS JOIN (SELECT COUNT(*) AS orders FROM orders) o
        |CROSS JOIN (SELECT COUNT(*) AS lineitems FROM lineitem) l""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d).agg(count(lit(1)).as("customers"))
          .crossJoin(Tables.orders(s, d).agg(count(lit(1)).as("orders")))
          .crossJoin(Tables.lineitem(s, d).agg(count(lit(1)).as("lineitems")))
    },

    // J4 dim-lookup join: fact orders → small dim chain
    // customer⋈nation⋈region. No broadcast hint: the optimizer estimates
    // the chain as a product of its inputs (2.7 GB at sf0.001), so
    // BroadcastGuard strips any hint on it at every lake size; AQE
    // broadcasts the dim from its runtime size instead.
    // Ref: model_gold.py:492-493 (map-side lookup).
    QueryDef.sql(
      "j4_broadcast_lookup",
      """SELECT r.r_name AS region_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name ORDER BY region_name""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("region_name"))
      Tables.orders(s, d)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("region_name")
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("region_name")
    },
  )
}
