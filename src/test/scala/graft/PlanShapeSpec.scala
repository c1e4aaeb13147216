package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** Engine-wide physical-plan audit, two rules:
  *
  *   1. No query may plan a CartesianProduct, and
  *      BroadcastNestedLoopJoin is allowed only where it is the
  *      deliberate shape — a broadcast crossJoin against a 1-row scalar
  *      (global counts, query vectors, mixing mass) or a codebook-sized
  *      relation (IVF centroids).
  *   2. No query may plan an UNPARTITIONED WindowExec (a single-reducer
  *      global sort at corpus scale) unless its input is provably
  *      bounded: the row count is pinned by an aggregate output, a
  *      limit, a literal local relation, or products/unions thereof —
  *      the same discipline ZOrder.fileLayoutRanged applies to its
  *      partition-count offset table. Any new query that accidentally
  *      funnels a data-sized relation through one reducer fails here
  *      before it ships.
  */
class PlanShapeSpec extends AnyFunSuite {
  // Audited in an ISOLATED session with staging disabled
  // (spark.graft.stage.mode=none): under the default `local` mode a
  // .staged frame plans as an opaque RDD scan, which (a) hid every
  // subtree BEHIND a staging boundary from these audits and (b) made a
  // data-sized staged relation indistinguishable from a parallelized
  // literal in bounded(). With staging off, plans are the full lineage
  // trees — the audits see every join/scan/window — and any remaining
  // RDDScanExec really is a driver-literal toDF. newSession() keeps the
  // conf change out of the other suites sharing the context.
  lazy val spark = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set(graft.engine.Stage.modeKey, "none")
    s
  }
  private val sf = "/root/testdata/sf0.001"

  // deliberate 1-row / codebook-sized broadcast crosses (audited round 5)
  private val bnljAllowed = Set(
    "j3_cross_join_scalars",  // 1-row scalar aggregate combine
    "q_gold_top5_json",       // 1-row top-5 JSON export rollup
    "q_quality_report",       // 1-row per-check rollup union
    "q_quality_score",        // 1-row suite score
    "sim_bruteforce_topk",    // broadcast 1-row query vector
    "sim_ivf_topk",           // broadcast query vector + centroid codebook
    "sim_kmeans_step",        // broadcast centroid codebook
    "dedup_semantic",         // broadcast centroid codebook
    "sim_pq_topk",            // broadcast query vector in the ADC rescore
    "sim_ivfpq_topk",         // broadcast query vector + probe cells
    "mm_embedding_search",    // broadcast codebook + query vector
    "t_tfidf_keywords",       // broadcast 1-row corpus doc count
    "t_boilerplate_strip",    // broadcast 1-row corpus doc count
    "t_lm_score",             // broadcast 1-row vocabulary size
    "a_skew_report",          // broadcast 1-row argmax key
    "t_source_drift",         // broadcast 1-row corpus moments
    "t_drift_vs_baseline",    // broadcast 1-row frozen reference moments
    "q_gold_incremental",     // broadcast 1-row max-date anchor
    "t_mix_weights",          // broadcast 1-row total mass
    "t_temperature_sample",   // broadcast 1-row max keep-rate
    "t_shard_pack",           // broadcast 1-row heavy-tail cutoff stats
    "a_kmv_set_ops",          // 1-row estimate x 1-row exact combine
    "sim_ivf_batch",          // broadcast 8-query vector batch x codebook
    "sim_int8_topk",          // broadcast 1-row query vector + scale stats
    "t_importance_weights",   // broadcast 1-row target/corpus LM moments
    "z_order_pruning",        // broadcast 3-row box-predicate relation
                              // range-joined against the file-stats
                              // manifest (files x boxes, both bounded)
    "sim_knn_graph",          // broadcast centroid codebook (probe choice)
    "a_kmv_join_card",        // 1-row estimate x 1-row exact combine
    "q_funnel_conversion",    // 3-row step counts x 1-row first-step count
    "q_funnel_windowed",      // same shape under the conversion window
    "w_ts_interpolate",       // broadcast ~30-row dense calendar x series
    "a_basket_lift",          // broadcast 1-row basket-count total
    "j_fuzzy_join",           // short-string fallback bucket self-cross:
                              // members are < q*d+q chars, alphabet-bounded
    "t_feature_binning",      // 1-row count x rank targets; non-equi
                              // crossing probe over the (bucket) histogram;
                              // 1-row sorted-edges array onto fact rows
    "q_rfm_segmentation",     // 1-row max-date anchor + three Binning
                              // edge/assign passes (same bounded shapes
                              // as t_feature_binning)
    "a_revenue_concentration", // Binning edge shapes + two 1-row
                              // threshold broadcasts onto the customer
                              // relation
    "j_fuzzy_lookup",         // short-probe x short-dict fallback bucket
                              // (alphabet-bounded, same as j_fuzzy_join)
    "sim_mips_topk",          // broadcast 1-row query vector (same shape
                              // as sim_bruteforce_topk)
    "w_autocorrelation",      // broadcast 7-row lag relation onto the
                              // daily series (constant fanout)
    "a_grouped_deciles",      // per-group count x rank-index broadcast
                              // (groups x (k-1) rows)
    "t_bm25_search",          // broadcast 1-row corpus stats (n_docs,
                              // total_len) onto the tf relation
    "a_benford_digits",       // broadcast 1-row digit-total
    "dedup_lsh_eval",         // 1-row candidate-metrics x 1-row truth-count
    "sim_binary_hamming",     // broadcast 1-row query vector (rerank pass)
    "sim_silhouette",         // broadcast 16-row centroid codebook (same
                              // class as sim_kmeans_step)
    "t_priority_sample",      // broadcast 1-row threshold (tau) aggregate
    "dedup_ngram_jaccard",    // broadcast 1-row relative posting cap
    "dedup_containment",      // broadcast 1-row relative posting cap
    "t_vocabulary",           // broadcast 1-row relative max_df ceiling
    "z_bloom_file_skip",      // broadcast 1-row file-count total
    "a_kaplan_meier",         // broadcast 1-row horizon max + 1-row total
    "a_logrank_test",         // broadcast 1-row horizon max
    "a_chisq_independence",   // broadcast 1-row N + 1-row table dims
    "a_mutual_info",          // broadcast 1-row N onto the cell relation
    "t_zipf_fit",             // 1-row moment sums x 1-row vocab count
    "k_backfill_plan",        // broadcast horizon-bounded calendar spine
                              // + 1-row expected-days onto per-type totals
    "z_hilbert_layout",       // broadcast 1-row min/max bounds; box-vs-
                              // file-stats inequality join (manifest-
                              // bounded x 3 probe boxes)
    "f_jaro_winkler",         // dictionary self-join under '<' — DISTINCT
                              // catalog names, quadratic bounded by the
                              // name vocabulary, never by row count
    "sim_power_iteration",    // broadcast 1-row norm / eigenvalue scalars
    "sim_ann_recall",         // broadcast 1-row query + scalar hit/scan
                              // counts per probe budget
    "t_linear_probe",         // broadcast 1-row weight vector per GD step
    "t_target_encoding",      // broadcast 1-row global prior
    "k_retention_sweep",      // broadcast 1-row horizon + 1-row total
    "a_diff_in_diff",         // broadcast 1-row horizon bounds
    "sim_ivf_balance",        // 1-row size stats x 1-row split count
    "a_ipf_raking",           // broadcast 1-row margin targets (nr/np/nn)
    "sim_ood_report",         // broadcast 16-row codebook max-sim scan
    "a_calibration_error",    // broadcast 1-row bin total
    "a_ks_test",              // broadcast 1-row totals + 1-row scalars
                              // onto the 100-row Kolmogorov-series range
    "a_bh_fdr",               // broadcast 1-row pooled rate onto the
                              // nation-bounded test relation
    "a_cuped",                // 1-row moments x 1-row group means
    "a_randomization_test",   // broadcast 64-row replicate range onto the
                              // pooled rows (constant fanout, the
                              // a_poisson_bootstrap shape) + 1-row scalars
    "a_isotonic_calibration", // bin x bin interval enumeration — both
                              // sides bounded by the 20-bin histogram
    "a_power_mde",            // broadcast 3-row MDE grid onto the
                              // nation-bounded rate relation
    "g_modularity",           // 1-row m2/node/community scalar combines
    "a_bradley_terry",        // 1-row mean-rescale broadcast per MM round
    "t_quantile_normalize",   // broadcast 1-row corpus count; the quantile
                              // probe itself is a banded equi-join
    "sim_range_search",       // broadcast codebook x 8-query batch (same
                              // class as sim_ivf_batch)
    "a_auc_roc",              // 10-row threshold grid x bounded histogram
                              // + 1-row pair-count totals
    "a_pr_auc",               // broadcast 1-row positive total onto the
                              // bounded score histogram
    "t_class_balance",        // broadcast 1-row majority-class target
    "sim_hard_negatives",     // broadcast codebook x 8-query batch (the
                              // sim_range_search shape + band filter)
    "t_loo_source_impact",    // broadcast 1-row corpus totals
    "sim_dim_truncation_recall", // broadcast 8-query batch, twice (full
                              // + truncated brute-force baselines)
    "j_geo_nearest",          // broadcast 25-anchor set x corpus
                              // (nearest-assignment argmin, map-side)
    "a_feature_importance",   // broadcast 1-row label totals onto the
                              // bounded feature-value cells
    "sim_rank_fusion",        // broadcast 8-query batch x corpus scan
    "sim_knn_vote",           // broadcast centroid codebook (knnGraph)
    "q11_important_supply",   // broadcast 1-row value-total threshold
    "a_itemsets3",            // broadcast 1-row relative-support threshold
                              // (basket-count fraction) onto the three
                              // A-priori prune sites
    "q_item_recs",            // broadcast 1-row relative co-occurrence
                              // threshold (same class as a_itemsets3)
    "q_item_recs_sf10_probe", // same pipeline, sampled output (the sf10
                              // partial oracle)
    "sim_knn_vote_sf10_probe", // broadcast centroid codebook (knnGraph),
                              // sampled output (the sf10 partial oracle)
    "dedup_embedding_cosine", // broadcast 1-row corpus-relative band-bits
                              // ladder (r14 — same class as the IVF
                              // cell-count broadcast)
    "sim_mmr_diverse",        // broadcast 1-row query vector (the
                              // sim_bruteforce_topk shape inside MMR)
    "g_triangle_count",       // broadcast 1-row node-count scalar feeding
                              // the synthetic edge generator (doc_id*p+j
                              // mod n — same class as g_bfs_distance)
    "g_clustering_coeff",     // same 1-row node-count edge generator
    "g_link_prediction",      // same 1-row node-count edge generator
    "q15_top_supplier",       // broadcast 1-row max-revenue scalar
    "q22_idle_customers",     // broadcast 1-row avg-balance threshold
    "q_attribution_linear",   // broadcast DISTINCT-channel relation
                              // (event-type-domain-bounded) fanning each
                              // purchase into its per-channel window-edge
                              // probes — the r12 skew fix that replaced
                              // the per-user-quadratic touch join
    "e_cascade_cost")         // broadcast 5-row threshold grid sweep

  // construction of these queries DRIVES real jobs rather than returning
  // a lazy frame: the two pipeline queries execute a full medallion lake
  // run (covered by PipelineSpec; everything they join appears in other
  // queries) and the seven stream replays drive a real Structured
  // Streaming query whose returned frame is just the lake read-back —
  // their plan shapes live in StreamingSpec and the engine modules.
  private val skip = Set("q_pipeline_run", "q_pipeline_end_state",
    "q_pipeline_engagement_state",
    "q_stream_replay", "q_stream_neardup_replay", "q_stream_window_replay",
    "q_stream_restart_replay", "q_stream_session_replay",
    "q_stream_enrich_replay", "q_stream_join_replay")

  /** One planning pass per query; both audits read these. */
  private lazy val plans: Seq[(String, SparkPlan)] = {
    // audit under the PRODUCTION config: the test session comes from
    // Session.local, so the BroadcastGuard participates in planning and a
    // query whose broadcast hint only survives on naive estimates fails
    // HERE, not in a user's session (caught a_revenue_concentration once)
    SparkEntry.allDefs.filterNot(q => skip(q.name))
      .map(q => q.name -> q.run(spark, sf).queryExecution.sparkPlan)
  }

  test("no CartesianProduct anywhere; BNLJ only on the scalar allowlist") {
    val offenders = plans.flatMap { case (name, plan) =>
      val s = plan.toString
      val bad = Seq(
        Option.when(s.contains("CartesianProduct"))("CartesianProduct"),
        Option.when(s.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed(name))("unexpected BroadcastNestedLoopJoin")
      ).flatten
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Is this subtree's ROW COUNT provably independent of the input data
    * size? True when the count is pinned by an aggregate output, a
    * limit, or a literal relation before any data-sized scan can reach
    * the node — walking down only through row-count-preserving (or
    * row-count-reducing) operators. A join of two bounded inputs is
    * bounded (≤ product); anything reaching a file scan unguarded is
    * not. Conservative by construction: unknown nodes are UNBOUNDED. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true   // rows = group cardinality
    case _: BaseLimitExec => true
    case _: CollectLimitExec => true
    case _: TakeOrderedAndProjectExec => true // limit=k global top-k:
                                        // LimitPushDownThroughWindow
                                        // rewrites rank-filter windows
                                        // to this (each task forwards
                                        // ≤ k rows to the reducer)
    case _: LocalTableScanExec => true  // literal relation
    case _: RDDScanExec => true         // parallelized literal (toDF):
                                        // genuine — the audit session
                                        // runs stage.mode=none, so no
                                        // staged frame plans as an RDD
    case w: WindowExec => bounded(w.child)
    case w: WindowGroupLimitExec =>
      // an UNPARTITIONED WindowGroupLimit is the rank-filter top-k
      // optimization: Spark inserts a Partial below the exchange (each
      // task forwards at most k rows) and a Final above it, so the
      // single reducer's input is k × tasks — bounded — even though the
      // lineage below reaches a data-sized scan. Partitioned group
      // limits bound nothing globally; recurse.
      w.partitionSpec.isEmpty || bounded(w.child)
    case p: ProjectExec => bounded(p.child)
    case f: FilterExec => bounded(f.child)
    case s: SortExec => bounded(s.child)
    case e: Exchange => bounded(e.child)
    case g: GenerateExec =>
      // a generator's fanout is its element count, which is only provably
      // bounded when the exploded expression cannot carry data-sized
      // collections — i.e. the input is a literal relation or a LIMIT.
      // Generate over an AGGREGATE is NOT bounded (exploding a
      // collect_list re-expands to the pre-aggregation row count).
      g.child match {
        case _: LocalTableScanExec | _: RDDScanExec | _: BaseLimitExec |
             _: CollectLimitExec => true
        case c: ProjectExec => bounded(c) && !c.exists {
          case _: BaseAggregateExec => true; case _ => false }
        case _ => false
      }
    case u: UnionExec => u.children.forall(bounded)
    case j: BroadcastNestedLoopJoinExec => j.children.forall(bounded)
    case j: BroadcastHashJoinExec => j.children.forall(bounded)
    // NO blanket unary pass-through: an unlisted operator might expand
    // rows (Expand, Generate variants, stateful ops) — unknown nodes are
    // unbounded by construction, and legitimate row-preserving nodes get
    // added here explicitly when a query needs them.
    case _ => false
  }

  // full widths of the fixture tables a scan could fail to prune
  private val fullWidth = Map("lineitem" -> 11, "orders" -> 6,
    "customer" -> 5, "part" -> 6, "events" -> 6, "documents" -> 5)
  // full-ROW operators where reading every column IS the semantics
  private val fullScanAllowed = Map(
    "orders" -> Set("p9_dedup_first_per_key"), // keyed full-row dedup
    "customer" -> Set("j_record_linkage",      // full-record linkage
      "q_silver_users"))                       // full-record cleaning

  private def scanTable(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption
      .map(_.getName.stripSuffix(".parquet")).getOrElse("?")

  test("column pruning reaches every wide-table parquet scan") {
    // a scan that reads all columns of a wide table for a narrow
    // projection means pruning silently broke — at 100 TB that is the
    // difference between scanning the projected gigabytes and the whole
    // table. Audited over every query plan; full-row operators are the
    // only allowed exceptions.
    val offenders = plans.flatMap { case (name, plan) =>
      plan.collect { case s: FileSourceScanExec =>
        (scanTable(s), s.requiredSchema.fields.length)
      }.collect {
        case (t, w) if fullWidth.get(t).exists(w >= _) &&
            !fullScanAllowed.getOrElse(t, Set.empty)(name) =>
          s"$name: full-width scan of $t ($w cols)"
      }
    }
    assert(offenders.isEmpty,
      "wide-table scans reading every column:\n" + offenders.mkString("\n"))
  }

  test("selective predicates are pushed down to the parquet scan") {
    // spot-checks on queries whose selectivity lives in a scan-level
    // predicate: the physical scan must carry PushedFilters, not rely
    // on a post-scan Filter alone
    val expectations = Map(
      "q10_returned_items" -> "lineitem",      // l_returnflag = 'R'
      "q14_promo_revenue" -> "lineitem",       // shipdate month window
      "s4_scan_pushdown" -> "lineitem",
      "q4_priority_fulfillment" -> "orders",   // quarter prune
      "q3_shipping_priority" -> "orders")      // date prune
    val byName = plans.toMap
    expectations.foreach { case (q, table) =>
      val scans = byName(q).collect {
        case s: FileSourceScanExec if scanTable(s) == table => s
      }
      assert(scans.nonEmpty, s"$q: no $table scan in plan")
      assert(scans.exists(_.metadata.get("PushedFilters")
          .exists(f => f.nonEmpty && f != "[]")),
        s"$q: no pushed filters on $table scan " +
          s"(${scans.map(_.metadata.getOrElse("PushedFilters", "?"))})")
    }
  }

  test("unpartitioned WindowExec only over provably bounded input") {
    val offenders = plans.flatMap { case (name, plan) =>
      val unbounded = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          w.windowExpression.map(_.sql).mkString(", ")
      }
      if (unbounded.isEmpty) None
      else Some(s"$name: data-sized global window over [${unbounded.mkString(" | ")}]")
    }
    assert(offenders.isEmpty,
      "unpartitioned WindowExec with unbounded input (single-reducer " +
        "global sort at scale):\n" + offenders.mkString("\n"))
  }
}
