package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Det, Stage}

/** Iterative graph algorithms as pregel-by-join — the quality-propagation
  * family a crawl-scale curation pipeline runs over its link graph
  * (PageRank-style centrality is the classic web-corpus quality prior).
  *
  * Scale shape: one round = one equi-join of the rank relation against
  * the edge relation + one map-side-combinable aggregate by destination —
  * the standard message-passing-by-shuffle decomposition. No adjacency
  * matrices, no driver-side graph object; the edge relation can be
  * billions of rows and partitions by `dst` like any fact table.
  * [[Stage.materializeAlways]] cuts lineage every round (the same
  * discipline as the connected-components loop in [[Dedup]]): without it
  * round r's plan embeds r−1's and goes exponential.
  *
  * Determinism (the oracle-parity contract): per-round contribution sums
  * go through [[Det.dsum]] (decimal cast — order-independent, so shuffle
  * nondeterminism can't flip low bits) and each round's rank is pinned
  * through [[Det.roundN]] before feeding the next round, so every engine
  * computes bit-identical trajectories. The unrolled-CTE oracle replays
  * the exact loop.
  */
object Graph {

  /** PageRank's damping and the decimals each round's rank is pinned to. */
  val Damping = 0.85
  val RankScale = 12

  /** `edges` as a simple directed graph, staged: (src, dst) with
    * self-loops and repeats dropped. */
  private def simpleEdges(edges: DataFrame): DataFrame =
    Stage.materialize(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())

  /** The power iteration of [[pagerank]] and [[personalizedPagerank]]
    * over the staged simple graph `e` and the node relation `ids`
    * (`__id` plus the columns `init` and `teleport` read): rank starts at
    * `init`, and each round is `teleport` + [[Damping]] × the decimal-summed
    * in-contributions pr/outdeg, pinned to [[RankScale]] decimals. Returns
    * (__id, pr). */
  private def powerIterate(e: DataFrame, ids: DataFrame, init: Column,
      teleport: Column, iterations: Int): DataFrame = {
    val od = Stage.materialize(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    var pr = ids.select(col("__id"), init.as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = pr
        .join(e, pr("__id") === e("src"))
        .join(od, Seq("src"))
        .groupBy(col("dst"))
        .agg(Det.dsum(col("pr") / col("outdeg"), RankScale).as("__c"))
      pr = Stage.materializeAlways(
        ids.join(contrib, ids("__id") === contrib("dst"), "left")
          .select(col("__id"),
            Det.roundN(
              teleport + lit(Damping) * coalesce(col("__c"), lit(0.0)),
              RankScale).as("pr")))
    }
    pr
  }

  /** DuckDB mirror of [[powerIterate]] over the CTE `e(src, dst)`: the
    * CTEs `od`, then `nodeCtes` (ending in `ndn(id, …)`), `pr0(id, pr)`
    * from `init`, and `c<i>`/`pr<i>` for i in 1..iterations; `init` is a
    * SQL expression over the `ndn` row and `teleport` over `nd`, its
    * alias in each round. Ends in `pr<iterations>(id, pr)`. */
  private def powerIterateSql(nodeCtes: String, init: String,
      teleport: String, iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id,
         |    ${Det.dsumSql(s"pr${i - 1}.pr / od.outdeg", RankScale)} AS c
         |  FROM e JOIN pr${i - 1} ON pr${i - 1}.id = e.src
         |  JOIN od ON od.src = e.src
         |  GROUP BY 1),
         |pr$i AS (
         |  SELECT nd.id, ${Det.roundNSql(
            s"$teleport + $Damping * COALESCE(c$i.c, 0.0)", RankScale)} AS pr
         |  FROM ndn nd LEFT JOIN c$i ON c$i.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |$nodeCtes,
       |pr0 AS (SELECT id, $init AS pr FROM ndn),
       |$rounds""".stripMargin
  }

  /** Simplified PageRank (no dangling-mass redistribution: a node with no
    * out-edges simply stops forwarding its mass — the usual choice when
    * the graph is a sampled subweb and absolute calibration doesn't
    * matter, only the ranking). Returns (idCol, pagerank) for every node.
    *
    * `edges`: (src, dst), self-loops and duplicates tolerated (both are
    * normalized away). `nodes`: one row per node id (column `idCol`) —
    * nodes absent from `edges` still receive the base rank.
    */
  def pagerank(nodes: DataFrame, edges: DataFrame, idCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations: $iterations")
    val e = simpleEdges(edges)
    // node count enters as a broadcast 1-row relation, not a driver-side
    // collect — the loop stays one declarative plan per round
    val n = nodes.agg(count(lit(1)).as("__n"))
    val ids = Stage.materialize(
      nodes.select(col(idCol).as("__id")).crossJoin(broadcast(n)))
    powerIterate(e, ids, lit(1.0) / col("__n"),
        lit(1.0 - Damping) / col("__n"), iterations)
      .select(col("__id").as(idCol), col("pr").as("pagerank"))
  }

  /** DuckDB mirror of [[pagerank]] as unrolled CTEs over an `e(src,dst)`
    * CTE (already self-loop-free and distinct) and a node CTE
    * `nd(<idCol>)`. Returns CTE text ending in `prK` with (id, pr). */
  def pagerankSql(idCol: String, iterations: Int): String =
    powerIterateSql(
      s"ndn AS (SELECT $idCol AS id, (SELECT COUNT(*) FROM nd) AS n FROM nd)",
      "1.0 / n", s"${1.0 - Damping} / nd.n", iterations)

  /** Personalized PageRank — teleport restricted to a SOURCE SET instead
    * of all nodes: pr⁰ = 1/|S| on S (0 elsewhere), each round
    * pr = (1−d)·1_S/|S| + d·Σ_in pr/outdeg. The relevance-propagation
    * primitive behind seed-expansion: "documents like these trusted
    * ones" (quality seeds), related-item discovery, community scoping —
    * where global PageRank answers only "centrally linked". Same
    * per-round join+aggregate shape and determinism contract as
    * [[pagerank]] (decimal contribution sums, per-round roundN pinning);
    * the source indicator is a 0/1 column on the node relation, so no
    * extra join enters the loop.
    *
    * `isSource`: boolean Column over the node relation's columns.
    * Returns (idCol, ppr). */
  def personalizedPagerank(nodes: DataFrame, edges: DataFrame, idCol: String,
      isSource: Column, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"iterations: $iterations")
    val e = simpleEdges(edges)
    val marked = nodes.select(col(idCol).as("__id"),
      when(isSource, 1.0).otherwise(0.0).as("__s"))
    val nS = marked.agg(sum(col("__s")).as("__ns"))
    val ids = Stage.materialize(marked.crossJoin(broadcast(nS)))
    powerIterate(e, ids, col("__s") / col("__ns"),
        lit(1.0 - Damping) * col("__s") / col("__ns"), iterations)
      .select(col("__id").as(idCol), col("pr").as("ppr"))
  }

  /** DuckDB mirror of [[personalizedPagerank]]. Expects CTEs `nd($idCol)`
    * and `e(src, dst)`; `srcPred` is a boolean SQL expression over nd's
    * row. Ends in `pr$iterations(id, pr)`. */
  def personalizedPagerankSql(idCol: String, srcPred: String,
      iterations: Int): String =
    powerIterateSql(
      s"""ndm AS (SELECT $idCol AS id,
         |  CASE WHEN $srcPred THEN 1.0 ELSE 0.0 END AS s FROM nd),
         |ndn AS (SELECT id, s, (SELECT SUM(s) FROM ndm) AS ns FROM ndm)""".stripMargin,
      "s / ns", s"${1.0 - Damping} * nd.s / nd.ns", iterations)

  /** Synchronous label-propagation communities (LPA, Raghavan et al.
    * 2007) made DETERMINISTIC: every node starts labeled with its own id;
    * each round, every node simultaneously adopts the most frequent label
    * among its neighbors with the explicit (count DESC, label ASC)
    * tiebreak (classic LPA tie-breaks randomly — useless for a
    * reproducible pipeline or an oracle); isolated nodes keep their
    * label. Unlike connected components (reachability), LPA finds DENSE
    * regions — a bridge edge doesn't merge two communities.
    *
    * Fixed `rounds` (the caller picks; LPA converges in a handful on
    * real graphs). Per round: one neighbor-label join + two grouped
    * aggregates — all keyed, map-side combinable, O(m) shuffle; labels
    * are staged each round ([[graft.engine.Stage.materializeAlways]]) so
    * round r's plan never embeds r−1's.
    *
    * `edges` are symmetrized + deduped here. Returns (idCol, community,
    * community_size). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, idCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val base = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = Stage.materialize(
      base.unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var lab = nodes.select(col(idCol).as("__id"),
      col(idCol).cast("long").as("label"))
    for (_ <- 1 to rounds) {
      val nb = sym.join(lab, sym("dst") === lab("__id"))
        .select(col("src"), col("label"))
      val pick = nb.groupBy("src", "label").agg(count(lit(1)).as("__c"))
        .groupBy("src")
        .agg(min_by(col("label"), struct(-col("__c"), col("label")))
          .as("__new"))
      lab = Stage.materializeAlways(
        lab.join(pick, lab("__id") === pick("src"), "left")
          .select(col("__id"), coalesce(col("__new"), col("label")).as("label")))
    }
    val sizeW = Window.partitionBy(col("label"))
    lab.withColumn("community_size", count(lit(1)).over(sizeW))
      .select(col("__id").as(idCol), col("label").as("community"),
        col("community_size"))
  }

  /** DuckDB mirror of [[labelPropagation]] as unrolled MATERIALIZED CTE
    * rounds (materialized: each round is referenced twice — inlining
    * would re-expand the whole prefix exponentially). Expects CTEs
    * `nd($idCol)` and `es(src, dst)` (symmetric, deduped, no loops);
    * ends in `l$rounds(id, label)`. */
  def labelPropagationSql(idCol: String, rounds: Int): String = {
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val steps = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT es.src, l.label, COUNT(*) AS c
         |  FROM es JOIN l${r - 1} l ON l.id = es.dst
         |  GROUP BY 1, 2),
         |p$r AS (
         |  SELECT src, label FROM (
         |    SELECT src, label, row_number() OVER (
         |      PARTITION BY src ORDER BY c DESC, label) AS rn
         |    FROM c$r) WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT l.id, COALESCE(p.label, l.label) AS label
         |  FROM l${r - 1} l LEFT JOIN p$r p ON p.src = l.id)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT $idCol AS id, CAST($idCol AS BIGINT) AS label FROM nd),
       |$steps""".stripMargin
  }

  /** Harmonic centrality from a pivot source set: H(v) = Σ_s 1/d_s(v)
    * over sources that reach v within `depth` hops (the
    * infinite-distance-safe closeness variant — unreachable pairs
    * contribute 0 instead of poisoning an average; Boldi-Vigna's
    * recommended centrality for disconnected graphs). Per-source BFS is
    * the betweenness forward phase without σ: one equi-join + one
    * aggregate per level, multi-source in one relation. 1/d terms are
    * exact IEEE divisions of small integers; sums go through decimals.
    *
    * Returns (idCol, harmonic) zero-filled. */
  def harmonicFromSources(nodes: DataFrame, edges: DataFrame, idCol: String,
      isSource: Column, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 10, s"depth: $depth")
    val e = simpleEdges(edges)
    var reached = Stage.materialize(
      nodes.filter(isSource).select(col(idCol).as("s"),
        col(idCol).as("v"), lit(0).as("dist")))
    for (d <- 1 to depth) {
      val fresh = reached.filter(col("dist") === (d - 1))
        .join(e, col("v") === col("src"))
        .select(col("s"), col("dst").as("__v")).distinct()
        .join(reached.select(col("s"), col("v").as("__v")),
          Seq("s", "__v"), "left_anti")
        .select(col("s"), col("__v").as("v"), lit(d).as("dist"))
      reached = Stage.materializeAlways(reached.unionByName(fresh))
    }
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val h = reached.filter(col("dist") > 0)
      .groupBy(col("v"))
      .agg(sum((lit(1.0) / col("dist")).cast(dec9)).cast("double").as("__h"))
    nodes.select(col(idCol))
      .join(h, nodes(idCol) === h("v"), "left")
      .select(nodes(idCol),
        Det.roundN(coalesce(col("__h"), lit(0.0)), 6).as("harmonic"))
  }

  /** DuckDB mirror of [[harmonicFromSources]]: the betweenness forward
    * unroll without σ. Expects `nd($idCol)`/`e(src, dst)`; ends in
    * `hc(id, h)`. */
  def harmonicSql(idCol: String, srcPred: String, depth: Int): String = {
    require(depth >= 1 && depth <= 10, s"depth: $depth")
    val fwd = (1 to depth).map { d =>
      s"""f$d AS (
         |  SELECT DISTINCT p.s, e.dst AS v
         |  FROM h${d - 1} p JOIN e ON e.src = p.v WHERE p.dist = ${d - 1}),
         |n$d AS (
         |  SELECT f.s, f.v, $d AS dist FROM f$d f
         |  LEFT JOIN h${d - 1} r ON r.s = f.s AND r.v = f.v
         |  WHERE r.v IS NULL),
         |h$d AS MATERIALIZED (
         |  SELECT * FROM h${d - 1} UNION ALL SELECT * FROM n$d)""".stripMargin
    }.mkString(",\n")
    s"""h0 AS (SELECT $idCol AS s, $idCol AS v, 0 AS dist
       |  FROM nd WHERE $srcPred),
       |$fwd,
       |hc AS (
       |  SELECT v AS id,
       |    CAST(SUM(CAST(1.0 / dist AS DECIMAL(18,9))) AS DOUBLE) AS h
       |  FROM h$depth WHERE dist > 0 GROUP BY 1)""".stripMargin
  }

  /** Betweenness centrality via Brandes' dependency accumulation
    * (Brandes 2001), from a PIVOT SOURCE SET with a bounded path horizon
    * — the standard way betweenness survives a large graph (exact
    * all-pairs Brandes is O(nm); pivot sampling + horizon bounding is
    * the production approximation, cf. Bader/Brandes-Pich):
    *
    *   forward, depth d = 1..D:   σ_s(v) = Σ_{u→v, dist(u)=d−1} σ_s(u)
    *   backward, d = D−1..0:      δ_s(v) = Σ_{v→w, dist(w)=d+1}
    *                                       σ_s(v)·(1+δ_s(w))/σ_s(w)
    *   bc(v) = Σ_s δ_s(v)  over non-source occurrences (dist > 0)
    *
    * Every round is one equi-join + one aggregate keyed by (source,
    * node): the multi-source BFS relation just carries `s` alongside.
    * σ sums are exact integers; δ sums go through DECIMAL(18,9) and each
    * round's δ is roundN-pinned, so the backward recursion — divisions
    * included — replays bit-identically in the oracle's unrolled CTEs.
    * Shortest paths LONGER than `depth` are not counted (the horizon
    * approximation; document, don't hide).
    *
    * Returns (idCol, betweenness) zero-filled over all nodes. */
  def betweenness(nodes: DataFrame, edges: DataFrame, idCol: String,
      isSource: Column, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 10, s"depth: $depth")
    val e = simpleEdges(edges)
    // forward: reached(s, v, dist, sigma)
    var reached = Stage.materialize(
      nodes.filter(isSource).select(col(idCol).as("s"),
        col(idCol).as("v"), lit(0).as("dist"), lit(1L).as("sigma")))
    for (d <- 1 to depth) {
      val msgs = reached.filter(col("dist") === (d - 1))
        .join(e, col("v") === col("src"))
        .groupBy(col("s"), col("dst").as("__v"))
        .agg(sum(col("sigma")).as("__sig"))
      val fresh = msgs
        .join(reached.select(col("s"), col("v").as("__v")),
          Seq("s", "__v"), "left_anti")
        .select(col("s"), col("__v").as("v"), lit(d).as("dist"),
          col("__sig").as("sigma"))
      reached = Stage.materializeAlways(reached.unionByName(fresh))
    }
    // backward: delta per level, deepest first
    val dec9 = org.apache.spark.sql.types.DecimalType(18, 9)
    var deltaUp = reached.filter(col("dist") === depth)
      .select(col("s"), col("v"), lit(0.0).as("delta"))
    var acc = deltaUp // all levels' deltas, unioned as we descend
    for (d <- (depth - 1) to 0 by -1) {
      val lvl = reached.filter(col("dist") === d)
      val wSide = reached.filter(col("dist") === d + 1)
        .join(deltaUp, Seq("s", "v"))
        .select(col("s").as("__ws"), col("v").as("__w"),
          col("sigma").as("__sw"), col("delta").as("__dw"))
      val contrib = lvl
        .join(e, col("v") === col("src"))
        .join(wSide,
          col("s") === col("__ws") && col("dst") === col("__w"))
        .select(col("s"), col("v"),
          (col("sigma") * (lit(1.0) + col("__dw")) / col("__sw")).as("__c"))
        .groupBy("s", "v")
        .agg(sum(col("__c").cast(dec9)).cast("double").as("__agg"))
      val deltaD = Stage.materializeAlways(
        lvl.select(col("s"), col("v"))
          .join(contrib, Seq("s", "v"), "left")
          .select(col("s"), col("v"),
            Det.roundN(coalesce(col("__agg"), lit(0.0)), 9).as("delta")))
      deltaUp = deltaD
      acc = acc.unionByName(deltaD)
    }
    // non-source occurrences only: (s, v) rows with dist > 0
    val nonSource = reached.filter(col("dist") > 0).select(col("s"), col("v"))
    val bc = acc.join(nonSource, Seq("s", "v"))
      .groupBy(col("v"))
      .agg(sum(col("delta").cast(dec9)).cast("double").as("__b"))
    nodes.select(col(idCol))
      .join(bc, nodes(idCol) === bc("v"), "left")
      .select(nodes(idCol),
        Det.roundN(coalesce(col("__b"), lit(0.0)), 6).as("betweenness"))
  }

  /** DuckDB mirror of [[betweenness]]: unrolled forward σ rounds +
    * backward δ rounds as MATERIALIZED CTEs over `nd($idCol)` and
    * `e(src, dst)`; `srcPred` selects the pivot sources. Ends in
    * `bc(id, b)` (non-source δ sums; zero-fill at the call site). */
  def betweennessSql(idCol: String, srcPred: String, depth: Int): String = {
    require(depth >= 1 && depth <= 10, s"depth: $depth")
    val fwd = (1 to depth).map { d =>
      s"""m$d AS (
         |  SELECT p.s, e.dst AS v, CAST(SUM(p.sigma) AS BIGINT) AS sigma
         |  FROM r${d - 1} p JOIN e ON e.src = p.v
         |  WHERE p.dist = ${d - 1} GROUP BY 1, 2),
         |n$d AS (
         |  SELECT m.s, m.v, $d AS dist, m.sigma FROM m$d m
         |  LEFT JOIN r${d - 1} r ON r.s = m.s AND r.v = m.v
         |  WHERE r.v IS NULL),
         |r$d AS MATERIALIZED (
         |  SELECT * FROM r${d - 1} UNION ALL SELECT * FROM n$d)""".stripMargin
    }.mkString(",\n")
    val bwd = ((depth - 1) to 0 by -1).map { d =>
      s"""c$d AS (
         |  SELECT lv.s, lv.v,
         |    CAST(SUM(CAST(lv.sigma * (1.0 + dw.delta) / w.sigma
         |      AS DECIMAL(18,9))) AS DOUBLE) AS agg
         |  FROM r$depth lv
         |  JOIN e ON e.src = lv.v
         |  JOIN r$depth w ON w.s = lv.s AND w.v = e.dst
         |    AND w.dist = ${d + 1}
         |  JOIN del${d + 1} dw ON dw.s = lv.s AND dw.v = w.v
         |  WHERE lv.dist = $d GROUP BY 1, 2),
         |del$d AS MATERIALIZED (
         |  SELECT lv.s, lv.v,
         |    ${Det.roundNSql("COALESCE(c.agg, 0.0)", 9)} AS delta
         |  FROM r$depth lv LEFT JOIN c$d c ON c.s = lv.s AND c.v = lv.v
         |  WHERE lv.dist = $d)""".stripMargin
    }.mkString(",\n")
    val allDel = (0 to depth).map(d => s"SELECT s, v, delta FROM del$d")
      .mkString(" UNION ALL ")
    s"""r0 AS (SELECT $idCol AS s, $idCol AS v, 0 AS dist,
       |  CAST(1 AS BIGINT) AS sigma FROM nd WHERE $srcPred),
       |$fwd,
       |del$depth AS (SELECT s, v, CAST(0 AS DOUBLE) AS delta
       |  FROM r$depth WHERE dist = $depth),
       |$bwd,
       |alldel AS ($allDel),
       |bc AS (
       |  SELECT a.v AS id,
       |    CAST(SUM(CAST(a.delta AS DECIMAL(18,9))) AS DOUBLE) AS b
       |  FROM alldel a JOIN r$depth r ON r.s = a.s AND r.v = a.v
       |  WHERE r.dist > 0 GROUP BY 1)""".stripMargin
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * MapReduce-scale triangle algorithm (orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one; then wedges rooted
    * at the SMALLEST endpoint of each triangle enumerate it exactly once).
    * The orientation bounds per-node out-degree by O(√m) on any graph, so
    * the wedge self-join never explodes on hubs the way a naive
    * neighbor×neighbor join does — that bound is the whole reason this
    * shape survives a crawl-scale link graph where degree is power-law.
    *
    * `edges`: (src, dst) directed rows; direction, duplicates, and
    * self-loops are all normalized away (the graph is treated as simple +
    * undirected). Returns (idCol, triangles) for every node in `nodes`,
    * zero-filled. All joins are key-equi (the order tie-break rides along
    * as a post-join filter); the oriented edge set is staged once and
    * reused by both sides of the wedge join and the closing probe.
    */
  def triangleCounts(nodes: DataFrame, edges: DataFrame,
      idCol: String): DataFrame = {
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    // oriented edge (a,b): (deg,id)-order of a strictly below b; carries
    // the dst endpoint's degree so the wedge join can order b vs c without
    // another deg lookup
    val oe = Stage.materialize(
      und
        .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
        .filter(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")))
        .select(col("a"), col("b"), col("db")))
    val e1 = oe.select(col("a"), col("b"), col("db"))
    val e2 = oe.select(col("a"), col("b").as("c"), col("db").as("dc"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val tri = wedges.join(
      oe.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("__t"))
    nodes.select(col(idCol).as("__id"))
      .join(perNode, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__t"), lit(0L)).as("triangles"))
  }

  /** Multi-source BFS hop distance, `rounds` levels deep — "how far is
    * every page from the seed set", the reachability/depth prior next to
    * centrality ([[pagerank]]) and clustering ([[triangleCounts]]).
    *
    * Pregel-by-join with FRONTIER discipline: round r joins only the
    * nodes discovered in round r−1 against the edge relation — cost is
    * Σ |frontier_r| × avg-degree, the true BFS work, never |V|×E. A
    * node's first discovery is its hop distance (coalesce keeps the
    * earlier value), which is exactly BFS correctness. Lineage is cut
    * every round ([[Stage.materializeAlways]], same discipline as the
    * CC loop). Bounded `rounds` keeps the unrolled oracle finite; a
    * production fixpoint run loops with the accumulator-convergence
    * pattern of [[Dedup.connectedComponents]] instead.
    *
    * Returns (idCol, dist) for nodes within `rounds` hops of the seed
    * set (`isSource` rows are dist 0); unreached nodes are absent. */
  def bfs(nodes: DataFrame, edges: DataFrame, idCol: String,
      isSource: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val e = simpleEdges(edges)
    var dist = Stage.materialize(nodes.select(col(idCol).as("__id"),
      when(isSource, lit(0L)).as("dist")))
    for (r <- 1 to rounds) {
      val next = dist.filter(col("dist") === (r - 1))
        .join(e, col("__id") === col("src"))
        .select(col("dst").as("__id"), lit(r.toLong).as("__nd")).distinct()
      dist = Stage.materializeAlways(
        dist.join(next, Seq("__id"), "left")
          .select(col("__id"), coalesce(col("dist"), col("__nd")).as("dist")))
    }
    dist.filter(col("dist").isNotNull)
      .select(col("__id").as(idCol), col("dist"))
  }

  /** DuckDB mirror of [[bfs]] as unrolled CTEs over `e(src,dst)` and
    * `nd(<idCol>)` (same contract as [[pagerankSql]]); `sourcePred` is a
    * SQL predicate over nd's column. Ends in CTE `d<rounds>` with
    * (id, dist). */
  def bfsSql(idCol: String, sourcePred: String, rounds: Int): String = {
    val init = s"d0 AS (SELECT $idCol AS id, CAST(0 AS BIGINT) AS dist " +
      s"FROM nd WHERE $sourcePred)"
    val steps = (1 to rounds).map { r =>
      s"""f$r AS (
         |  SELECT DISTINCT e.dst AS id FROM e
         |  JOIN d${r - 1} p ON p.id = e.src AND p.dist = ${r - 1}),
         |d$r AS (
         |  SELECT id, dist FROM d${r - 1}
         |  UNION ALL
         |  SELECT f$r.id, CAST($r AS BIGINT) FROM f$r
         |  LEFT JOIN d${r - 1} s ON s.id = f$r.id
         |  WHERE s.id IS NULL)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$steps"
  }

  /** k-core peeling, `rounds` fixed iterations: repeatedly delete nodes
    * whose degree in the UNDIRECTED simple graph is < k, restricting the
    * edge set to survivors each round. Returns the surviving nodes with
    * their residual in-subgraph degree `(idCol, core_deg)` — after
    * convergence (typically a handful of rounds; peeling removes whole
    * frontier layers at once) this is exactly the k-core.
    *
    * One round = one degree aggregate + two semi-joins of the edge
    * relation against the survivor set — every step keyed, map-side
    * combinable, lineage-cut through [[Stage.materializeAlways]] like the
    * other iterative loops. Fixed `rounds` (rather than a convergence
    * test) keeps the computation a pure function of the input that the
    * unrolled-CTE oracle ([[kcoreSql]]) replays verbatim; pick rounds
    * generously — converged rounds are cheap no-op-shaped joins on the
    * already-small survivor relation.
    */
  def kcore(nodes: DataFrame, edges: DataFrame, idCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val canon = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    var und = Stage.materialize(canon.union(canon.select(col("b"), col("a"))))
    for (_ <- 1 to rounds) {
      val alive = und.groupBy(col("a").as("__v"))
        .agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select("__v")
      und = Stage.materializeAlways(
        und.join(alive, col("a") === col("__v")).drop("__v")
          .join(alive, col("b") === col("__v")).drop("__v"))
    }
    und.groupBy(col("a").as(idCol)).agg(count(lit(1)).as("core_deg"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent node pair
    * sharing at least one neighbor, the shared-neighbor count — the
    * classic "who should be connected" score. One wedge self-join of the
    * undirected adjacency on the center node + an anti-join against the
    * existing edge set; returns the top-k pairs by (cn desc, u, v) for a
    * deterministic bounded result. Wedge volume is Σ deg(w)² — fine on
    * bounded-degree graphs like this link fixture; on a power-law graph
    * cap or sample hub adjacency first (the analogue of
    * [[triangleCounts]]' degree orientation, which can't apply here
    * because CN needs BOTH wedge arms from the center).
    */
  def commonNeighbors(edges: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"topK: $topK")
    val canon0 = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val und = Stage.materialize(
      canon0.union(canon0.select(col("b"), col("a"))))
    // re-derive the canonical pairs FROM the staged relation: the
    // anti-join branch then reads the materialized edges instead of
    // replaying the caller's edge-generation lineage a second time
    val canon = und.filter(col("a") < col("b"))
    val adj = und.select(col("a").as("__w"), col("b").as("__n"))
    val cand = adj.select(col("__w"), col("__n").as("u"))
      .join(adj.select(col("__w"), col("__n").as("v")), Seq("__w"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
    cand.join(canon, cand("u") === canon("a") && cand("v") === canon("b"),
        "left_anti")
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** DuckDB mirror of [[commonNeighbors]] over CTE `e(src,dst)`; ends in
    * CTE `lp(u, v, cn)` (unordered, un-limited — apply the same ORDER BY
    * + LIMIT in the final select). */
  def commonNeighborsSql: String =
    """cn_canon AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM e WHERE src <> dst),
      |cn_und AS (
      |  SELECT a, b FROM cn_canon UNION ALL SELECT b, a FROM cn_canon),
      |cn_cand AS (
      |  SELECT x.b AS u, y.b AS v, COUNT(*) AS cn
      |  FROM cn_und x JOIN cn_und y ON x.a = y.a AND x.b < y.b
      |  GROUP BY 1, 2),
      |lp AS (
      |  SELECT u, v, cn FROM cn_cand c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM cn_canon k WHERE k.a = c.u AND k.b = c.v))""".stripMargin

  /** DuckDB mirror of [[kcore]] over CTEs `e(src,dst)` and `nd(<idCol>)`;
    * ends in CTE `kc` with (id, core_deg). */
  def kcoreSql(k: Int, rounds: Int): String = {
    val init =
      """s0 AS (
        |  SELECT a, b FROM (
        |    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |    FROM e WHERE src <> dst) u
        |  UNION ALL
        |  SELECT b, a FROM (
        |    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |    FROM e WHERE src <> dst) u)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""al$r AS (
         |  SELECT a AS v FROM s${r - 1} GROUP BY a HAVING COUNT(*) >= $k),
         |s$r AS (
         |  SELECT u.a, u.b FROM s${r - 1} u
         |  JOIN al$r x ON x.v = u.a JOIN al$r y ON y.v = u.b)""".stripMargin
    }.mkString(",\n")
    s"""$init,
       |$steps,
       |kc AS (SELECT a AS id, COUNT(*) AS core_deg FROM s$rounds GROUP BY a)""".stripMargin
  }

  /** DuckDB mirror of [[triangleCounts]] over CTEs `e(src,dst)` and
    * `nd(<idCol>)` (same contract as [[pagerankSql]]). Ends in CTE `tc`
    * with (id, triangles). */
  def triangleCountsSql(idCol: String): String =
    s"""und AS (
       |  SELECT src AS a, dst AS b FROM e WHERE src <> dst
       |  UNION SELECT dst, src FROM e WHERE src <> dst),
       |deg AS (SELECT a AS v, COUNT(*) AS d FROM und GROUP BY 1),
       |oe AS (
       |  SELECT und.a, und.b, d2.d AS db
       |  FROM und JOIN deg d1 ON d1.v = und.a JOIN deg d2 ON d2.v = und.b
       |  WHERE d1.d < d2.d OR (d1.d = d2.d AND und.a < und.b)),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM oe e1 JOIN oe e2 ON e1.a = e2.a
       |  JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b
       |  WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
       |pn AS (
       |  SELECT id, COUNT(*) AS t FROM (
       |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY 1),
       |tc AS (
       |  SELECT nd.$idCol AS id, COALESCE(pn.t, 0) AS triangles
       |  FROM nd LEFT JOIN pn ON pn.id = nd.$idCol)""".stripMargin
}
