package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Tables}
import graft.engine.Stage.syntax._
import graft.operators.{EventAnalytics, Similarity}

/** Analysis depth: Markov absorption probabilities over the event
  * transition matrix, hard-negative mining for retrieval training,
  * the distributed moment-merge law made visible, and leave-one-out
  * source valuation.
  */
object AnalysisOps {

  private val roundN = Det.roundNSql _
  private def r12s(e: String) = Det.roundNSql(e, 12)

  private val cosSql = Similarity.cosineOracleSql _

  /** 4 unrolled value-iteration steps for purchase absorption, each a
    * join of the 5x5 transition relation with the previous vector —
    * MATERIALIZED so DuckDB doesn't re-expand the chain. */
  private def absorbIterCtes(rounds: Int): String =
    (1 to rounds).map { k =>
      val prev = s"v${k - 1}"
      s"""v$k AS MATERIALIZED (
         |  SELECT p.from_type AS state,
         |    CASE WHEN p.from_type = 'purchase' THEN 1.0
         |         ELSE CAST(SUM(CAST(${r12s("p.p * v.p_abs")} AS DECIMAL(38,18))) AS DOUBLE)
         |    END AS p_abs
         |  FROM probs p JOIN $prev v ON v.state = p.to_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")

  val defs: Seq[QueryDef] = Seq(

    // Markov absorption: probability a user reaches 'purchase' within k
    // steps from each state, by k=4 value-iteration rounds over the
    // event-type transition matrix — funnel analysis upgraded from
    // counting to dynamics. The matrix is STATE-bounded (5x5), so every
    // iteration is constant-size regardless of corpus; the only
    // corpus-sized work is the one LEAD window + count that
    // q_event_transitions already shapes. Probabilities are r12-pinned
    // and DECIMAL-summed, so both engines walk identical iterates.
    QueryDef.sql(
      "q_absorption_prob",
      s"""WITH ${EventAnalytics.transitionStepsCte},
         |counts AS MATERIALIZED (
         |  SELECT from_type, to_type, COUNT(*) AS n
         |  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |probs AS MATERIALIZED (
         |  SELECT from_type, to_type,
         |    ${r12s("n * 1.0 / SUM(n) OVER (PARTITION BY from_type)")} AS p
         |  FROM counts),
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT from_type AS state,
         |    CASE WHEN from_type = 'purchase' THEN 1.0 ELSE 0.0 END AS p_abs
         |  FROM probs),
         |${absorbIterCtes(4)}
         |SELECT v1.state, ${roundN("v1.p_abs", 6)} AS p_abs_1,
         |  ${roundN("v2.p_abs", 6)} AS p_abs_2,
         |  ${roundN("v3.p_abs", 6)} AS p_abs_3,
         |  ${roundN("v4.p_abs", 6)} AS p_abs_4
         |FROM v1 JOIN v2 USING (state) JOIN v3 USING (state)
         |  JOIN v4 USING (state)
         |ORDER BY state""".stripMargin) { (s, d) =>
      def r12(c: org.apache.spark.sql.Column) = Det.roundN(c, 12)
      val steps = Tables.events(s, d).select(
        col("event_type").as("from_type"),
        lead("event_type", 1).over(Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))).as("to_type"))
      val counts = steps.filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      // staged: four value-iteration rounds each read the matrix, and
      // without the cut the corpus-sized LEAD window would re-run per round
      val probs = graft.engine.Stage.materialize(
        counts.withColumn("p",
          r12(col("n") * 1.0 /
            sum("n").over(Window.partitionBy("from_type")))))
      var v = probs.select(col("from_type").as("state")).distinct()
        .withColumn("p_abs",
          when(col("state") === "purchase", 1.0).otherwise(0.0))
      val vs = (1 to 4).map { _ =>
        v = probs
          .join(v.select(col("state").as("to_type"), col("p_abs")),
            "to_type")
          .groupBy("from_type")
          .agg(when(col("from_type") === "purchase", 1.0)
            .otherwise(sum(r12(col("p") * col("p_abs"))
              .cast(DecimalType(38, 18))).cast("double")).as("p_abs"))
          .select(col("from_type").as("state"), col("p_abs"))
        v
      }
      vs.zipWithIndex
        .map { case (df, i) =>
          df.select(col("state"),
            Det.roundN(col("p_abs"), 6).as(s"p_abs_${i + 1}"))
        }
        .reduce((a, b) => a.join(b, "state"))
        .orderBy("state")
    },

    // Hard-negative mining for retrieval training: per query, the
    // top-5 most-similar vectors INSIDE the (0.2, 0.8) band — similar
    // enough to be confusable, dissimilar enough to not be near-dups.
    // Composed from the IVF range search (band filter before any
    // ranking) + a per-query top-k window over the band survivors only.
    QueryDef.sql(
      "sim_hard_negatives",
      s"""WITH ${Fixtures.probedBatchCtes},
         |band AS (
         |  SELECT p.query_id, a.vec_id, a.cell,
         |    ${roundN(cosSql("a.emb", "p.qe"), 6)} AS cosine
         |  FROM assigned a JOIN probes p USING (cell)
         |  WHERE ${roundN(cosSql("a.emb", "p.qe"), 6)} >= 0.2
         |    AND ${roundN(cosSql("a.emb", "p.qe"), 6)} < 0.8
         |    AND a.vec_id <> p.query_id)
         |${Fixtures.topFiveSql("band")}""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      val qs = Fixtures.queryBatch(emb)
      val band = Similarity.ivfRangeSearch(emb, centroids, qs,
          tau = 0.2, nProbe = 4)
        .filter(col("cosine") < 0.8)
      band.withColumn("__rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(desc("cosine"), col("vec_id"))))
        .filter(col("__rk") <= 5)
        .select("query_id", "vec_id", "cell", "cosine")
        .orderBy(col("query_id"), desc("cosine"), col("vec_id"))
    },

    // The distributed moment-merge law made visible: per-source partial
    // (n, Σx, Σx²) in DECIMAL merge to the global moments EXACTLY — the
    // map-side-combine guarantee every aggregate in this engine leans on.
    // The output carries each source's moments plus BOTH global rows
    // ('ALL_merged' from summed partials, 'ALL_direct' from a flat
    // re-aggregation); the hash check proves them identical to the last
    // bit.
    QueryDef.sql(
      "a_moments_merge",
      s"""WITH per AS (
         |  SELECT source, COUNT(*) AS n,
         |    SUM(CAST(n_chars AS DECIMAL(18,2))) AS s1,
         |    SUM(CAST(CAST(n_chars AS DOUBLE) * n_chars AS DECIMAL(18,2))) AS s2
         |  FROM documents GROUP BY 1),
         |merged AS (
         |  SELECT 'ALL_merged' AS source, CAST(SUM(n) AS BIGINT) AS n,
         |    SUM(s1) AS s1, SUM(s2) AS s2
         |  FROM per),
         |direct AS (
         |  SELECT 'ALL_direct' AS source, COUNT(*) AS n,
         |    SUM(CAST(n_chars AS DECIMAL(18,2))) AS s1,
         |    SUM(CAST(CAST(n_chars AS DOUBLE) * n_chars AS DECIMAL(18,2))) AS s2
         |  FROM documents),
         |u AS (
         |  SELECT source, n, s1, s2 FROM per
         |  UNION ALL SELECT * FROM merged
         |  UNION ALL SELECT * FROM direct)
         |SELECT source, n,
         |  ${roundN("CAST(s1 AS DOUBLE) / n", 6)} AS mean,
         |  ${roundN(
             "CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)",
             6)} AS variance
         |FROM u ORDER BY source""".stripMargin) { (s, d) =>
      val dec2 = DecimalType(18, 2)
      val docs = Tables.documents(s, d)
      val per = docs.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast(dec2)).as("s1"),
        sum((col("n_chars").cast("double") * col("n_chars")).cast(dec2))
          .as("s2"))
      val merged = per.agg(sum("n").as("n"), sum("s1").as("s1"),
          sum("s2").as("s2"))
        .select(lit("ALL_merged").as("source"), col("n"), col("s1"),
          col("s2"))
      val direct = docs.agg(
          count(lit(1)).as("n"),
          sum(col("n_chars").cast(dec2)).as("s1"),
          sum((col("n_chars").cast("double") * col("n_chars")).cast(dec2))
            .as("s2"))
        .select(lit("ALL_direct").as("source"), col("n"), col("s1"),
          col("s2"))
      per.select(col("source"), col("n"), col("s1"), col("s2"))
        .unionByName(merged).unionByName(direct)
        .select(col("source"), col("n"),
          Det.roundN(col("s1").cast("double") / col("n"), 6).as("mean"),
          Det.roundN(col("s2").cast("double") / col("n")
            - (col("s1").cast("double") / col("n"))
              * (col("s1").cast("double") / col("n")), 6).as("variance"))
        .orderBy("source")
    },

    // k-fold cross-validation of the group-mean model in ONE pass: the
    // holdout mean for (group, fold) is (S_g − s_{g,f}) / (n_g − n_{g,f})
    // — closed form from per-(group, fold) partial sums, so 5-fold CV
    // costs one aggregate + one keyed join, not five training passes.
    // Per-fold MSE r12-pinned and DECIMAL-summed.
    QueryDef.sql(
      "a_kfold_cv",
      s"""WITH f AS (
         |  SELECT o_orderpriority AS grp, o_totalprice AS y,
         |    ${Det.h56Sql("CAST(o_orderkey AS VARCHAR)")} % 5 AS fold
         |  FROM orders),
         |pf AS (
         |  SELECT grp, fold, COUNT(*) AS nf,
         |    SUM(CAST(y AS DECIMAL(18,2))) AS sf
         |  FROM f GROUP BY 1, 2),
         |pg AS (
         |  SELECT grp, CAST(SUM(nf) AS BIGINT) AS ng, SUM(sf) AS sg
         |  FROM pf GROUP BY 1),
         |hm AS (
         |  SELECT pf.grp, pf.fold,
         |    CAST(pg.sg - pf.sf AS DOUBLE) / (pg.ng - pf.nf) AS m
         |  FROM pf JOIN pg USING (grp)),
         |err AS (
         |  SELECT f.fold, COUNT(*) AS n,
         |    CAST(SUM(CAST((f.y - hm.m) * (f.y - hm.m) AS DECIMAL(38,6))) AS DOUBLE)
         |      / COUNT(*) AS mse
         |  FROM f JOIN hm ON hm.grp = f.grp AND hm.fold = f.fold
         |  GROUP BY 1)
         |SELECT CAST(fold AS BIGINT) AS fold, n, ${roundN("mse", 4)} AS mse,
         |  ${roundN("sqrt(mse)", 6)} AS rmse,
         |  ${roundN(
             "CAST(SUM(CAST(mse AS DECIMAL(38,6))) OVER () AS DOUBLE) / 5",
             4)} AS mean_mse
         |FROM err ORDER BY fold""".stripMargin) { (s, d) =>
      def r12(c: org.apache.spark.sql.Column) = Det.roundN(c, 12)
      val dec2 = DecimalType(18, 2)
      val f = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"), col("o_totalprice").as("y"),
        (Det.h56(col("o_orderkey").cast("string")) % 5).as("fold"))
      val pf = f.groupBy("grp", "fold").agg(count(lit(1)).as("nf"),
        sum(col("y").cast(dec2)).as("sf"))
      val pg = pf.groupBy("grp").agg(sum("nf").as("ng"), sum("sf").as("sg"))
      val hm = pf.join(pg, "grp").select(col("grp"), col("fold"),
        ((col("sg") - col("sf")).cast("double") / (col("ng") - col("nf")))
          .as("m"))
      // raw DECIMAL casts, not roundN: squared residuals sit ~1e10,
      // past roundN's |x| < 9.2e18/10^n floor-overflow domain at n=12
      val err = f.join(broadcast(hm), Seq("grp", "fold"))
        .groupBy("fold").agg(count(lit(1)).as("n"),
          (sum(((col("y") - col("m")) * (col("y") - col("m")))
            .cast(DecimalType(38, 6))).cast("double") / count(lit(1)))
            .as("mse"))
      err.select(col("fold").cast("long").as("fold"), col("n"),
          Det.roundN(col("mse"), 4).as("mse"),
          Det.roundN(sqrt(col("mse")), 6).as("rmse"),
          Det.roundN(sum(col("mse").cast(DecimalType(38, 6)))
            .over(org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double") / 5, 4).as("mean_mse"))
        .orderBy("fold")
    },

    // Reciprocal-rank fusion of two retrieval rankings (cosine and raw
    // dot product) per query: rrf = Σ 1/(60 + rank) over the rankings
    // that surface the candidate in their top-20 pool — the standard
    // zero-tuning ensemble for heterogeneous scorers. Ranks come from
    // pinned scores, the fusion sum is r12-pinned, and the fused top-10
    // is re-ranked per query.
    QueryDef.sql(
      "sim_rank_fusion",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |qs AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    ${roundN(cosSql("e.emb", "q.qe"), 6)} AS cosv,
         |    ${roundN("list_dot_product(e.emb, q.qe)", 6)} AS dotv
         |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |ra AS (
         |  SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosv DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 20),
         |rb AS (
         |  SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dotv DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 20),
         |fused AS (
         |  SELECT COALESCE(ra.query_id, rb.query_id) AS query_id,
         |    COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
         |    ${r12s("COALESCE(CAST(1.0 AS DOUBLE) / (60 + ra.rk), 0.0)")}
         |      + ${r12s("COALESCE(CAST(1.0 AS DOUBLE) / (60 + rb.rk), 0.0)")} AS rrf
         |  FROM ra FULL OUTER JOIN rb
         |    ON rb.query_id = ra.query_id AND rb.vec_id = ra.vec_id)
         |SELECT query_id, vec_id, ${roundN("rrf", 8)} AS rrf
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, vec_id) AS frk
         |  FROM fused) WHERE frk <= 10
         |ORDER BY query_id, rrf DESC, vec_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      def r12(c: org.apache.spark.sql.Column) = Det.roundN(c, 12)
      graft.expressions.GraftFunctions.register(s)
      import graft.expressions.GraftFunctions.{cosine_sim, dot_product}
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          Det.roundN(cosine_sim(col("embedding"), col("qe")), 6).as("cosv"),
          Det.roundN(dot_product(col("embedding"), col("qe")), 6).as("dotv"))
      def ranks(sc: String) = scored
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc(sc), col("vec_id"))))
        .filter(col("rk") <= 20)
        .select(col("query_id"), col("vec_id"), col("rk"))
      val ra = ranks("cosv")
      val rb = ranks("dotv").withColumnRenamed("rk", "rkb")
        .withColumnRenamed("query_id", "qb").withColumnRenamed("vec_id", "vb")
      val fused = ra.join(rb,
          col("qb") === col("query_id") && col("vb") === col("vec_id"),
          "full_outer")
        .select(coalesce(col("query_id"), col("qb")).as("query_id"),
          coalesce(col("vec_id"), col("vb")).as("vec_id"),
          (r12(coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)))
            + r12(coalesce(lit(1.0) / (lit(60) + col("rkb")), lit(0.0))))
            .as("rrf"))
      fused.withColumn("frk", row_number().over(Window
          .partitionBy("query_id").orderBy(desc("rrf"), col("vec_id"))))
        .filter(col("frk") <= 10)
        .select(col("query_id"), col("vec_id"),
          Det.roundN(col("rrf"), 8).as("rrf"))
        .orderBy(col("query_id"), desc("rrf"), col("vec_id"))
    },

    // kNN label voting on the IVF neighbor graph: each vector's label
    // predicted by majority vote of its 5 nearest neighbors (ties → the
    // smaller label id), scored against its own label per class — the
    // embedding-space label-consistency audit (noisy-label detection,
    // cluster purity) built entirely on the knnGraph primitive. Cell
    // count is CORPUS-RELATIVE (the same √n ladder as sim_knn_graph —
    // this query kept a hardcoded 16 cells through the r11 fix and the
    // r12 sf1 sweep caught it at 18× wall for 10× data).
    QueryDef.sql(
      "sim_knn_vote",
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |${Similarity.seedCentroidsCtes},
         |${Similarity.knnProbeCtes(2)},
         |nb AS (
         |  SELECT src, dst FROM (
         |    SELECT p.src, a.vec_id AS dst,
         |      row_number() OVER (PARTITION BY p.src
         |        ORDER BY ${roundN(cosSql("p.qe", "a.emb"), 6)} DESC,
         |          a.vec_id) AS rk
         |    FROM pr p JOIN asg a USING (cell)
         |    WHERE a.vec_id <> p.src)
         |  WHERE rk <= 5),
         |votes AS (
         |  SELECT nb.src, el.label AS nlabel, COUNT(*) AS v
         |  FROM nb JOIN e el ON el.vec_id = nb.dst
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT src, nlabel AS predicted FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |      ORDER BY v DESC, nlabel) AS pr_rk
         |    FROM votes) WHERE pr_rk = 1)
         |SELECT e.label, COUNT(*) AS n,
         |  COUNT(CASE WHEN p.predicted = e.label THEN 1 END) AS n_correct,
         |  ${roundN(
             "COUNT(CASE WHEN p.predicted = e.label THEN 1 END) * 1.0 / COUNT(*)",
             6)} AS accuracy
         |FROM pred p JOIN e ON e.vec_id = p.src
         |GROUP BY 1 ORDER BY e.label""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val nb = Similarity.knnGraph(emb, Similarity.seedCentroids(emb),
        k = 5, nProbe = 2)
      val labels = emb.select(col("vec_id"), col("label"))
      val votes = nb
        .join(labels.select(col("vec_id").as("dst"),
          col("label").as("nlabel")), "dst")
        .groupBy("src", "nlabel").agg(count(lit(1)).as("v"))
      val pred = votes.withColumn("pr_rk",
          row_number().over(Window.partitionBy("src")
            .orderBy(desc("v"), col("nlabel"))))
        .filter(col("pr_rk") === 1)
        .select(col("src"), col("nlabel").as("predicted"))
      pred.join(labels.select(col("vec_id").as("src"), col("label")), "src")
        .groupBy("label").agg(count(lit(1)).as("n"),
          count(when(col("predicted") === col("label"), 1)).as("n_correct"))
        .select(col("label"), col("n"), col("n_correct"),
          Det.roundN(col("n_correct") * 1.0 / col("n"), 6).as("accuracy"))
        .orderBy("label")
    },

    // sf10 PARTIAL ORACLE for sim_knn_vote (VERDICT r13 item 5): the full
    // oracle's assignment window carries the 64-double emb array through
    // a corpus×cells sort — disk-fatal in DuckDB at sf10 (ARCHITECTURE
    // playbook #4) — so the headline ANN-vote item rode an sf1
    // extrapolation. This probe grades the REAL full-corpus engine
    // output on a deterministic vector sample (vec_id % 211 = 0, dense
    // ids — non-empty from sf0.001 up): the ENGINE builds the identical
    // full kNN graph (same √n IVF ladder) and filters to sampled
    // sources, emitting per-source prediction + winning-vote count +
    // neighbor count (v ≤ n_nb ≤ k, the vote-bound invariant, now
    // hashed). The ORACLE re-derives cell assignment as a SKINNY
    // max/min-tiebreak hash aggregate (no arrays through sorts, exactly
    // rn=1 of the full oracle's window), probes only the sampled
    // sources' top-2 cells, and ranks neighbors only among those cells'
    // members — oracle cost ~sample × cell population instead of
    // corpus × cells.
    QueryDef.sql(
      "sim_knn_vote_sf10_probe",
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |${Similarity.seedCentroidsCtes},
         |scored AS MATERIALIZED (
         |  SELECT e.vec_id, c.cell, ${cosSql("e.emb", "c.ce")} AS cs
         |  FROM e CROSS JOIN cent c),
         |best AS (SELECT vec_id, MAX(cs) AS mx FROM scored GROUP BY 1),
         |asg AS (
         |  SELECT s.vec_id, MIN(s.cell) AS cell
         |  FROM scored s JOIN best b ON b.vec_id = s.vec_id AND s.cs = b.mx
         |  GROUP BY 1),
         |pr AS (
         |  SELECT vec_id AS src, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS rn
         |    FROM scored WHERE vec_id % 211 = 0) WHERE rn <= 2),
         |mem AS (
         |  SELECT a.vec_id, a.cell, e.emb FROM asg a JOIN e USING (vec_id)
         |  WHERE a.cell IN (SELECT DISTINCT cell FROM pr)),
         |nbs AS (
         |  SELECT src, dst FROM (
         |    SELECT p.src, m.vec_id AS dst,
         |      row_number() OVER (PARTITION BY p.src
         |        ORDER BY ${roundN(cosSql("q.emb", "m.emb"), 6)} DESC,
         |          m.vec_id) AS rk
         |    FROM pr p JOIN e q ON q.vec_id = p.src
         |      JOIN mem m ON m.cell = p.cell
         |    WHERE m.vec_id <> p.src)
         |  WHERE rk <= 5),
         |votes AS (
         |  SELECT n.src, el.label AS nlabel, COUNT(*) AS v
         |  FROM nbs n JOIN e el ON el.vec_id = n.dst
         |  GROUP BY 1, 2),
         |nnb AS (SELECT src, COUNT(*) AS n_nb FROM nbs GROUP BY 1),
         |pred AS (
         |  SELECT src, nlabel AS predicted, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |      ORDER BY v DESC, nlabel) AS pr_rk
         |    FROM votes) WHERE pr_rk = 1)
         |SELECT p.src, e.label, p.predicted, p.v, nn.n_nb
         |FROM pred p JOIN nnb nn USING (src) JOIN e ON e.vec_id = p.src
         |ORDER BY p.src""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val nb = Similarity.knnGraph(emb, Similarity.seedCentroids(emb),
          k = 5, nProbe = 2)
        .filter(col("src") % 211 === 0)
        .staged
      val labels = emb.select(col("vec_id"), col("label"))
      val votes = nb.join(labels.select(col("vec_id").as("dst"),
          col("label").as("nlabel")), "dst")
        .groupBy("src", "nlabel").agg(count(lit(1)).as("v"))
      val nnb = nb.groupBy("src").agg(count(lit(1)).as("n_nb"))
      val pred = votes.withColumn("pr_rk",
          row_number().over(Window.partitionBy("src")
            .orderBy(desc("v"), col("nlabel"))))
        .filter(col("pr_rk") === 1)
        .select(col("src"), col("nlabel").as("predicted"), col("v"))
      pred.join(nnb, "src")
        .join(labels.select(col("vec_id").as("src"), col("label")), "src")
        .select(col("src"), col("label"), col("predicted"), col("v"),
          col("n_nb"))
        .orderBy("src")
    },

    // Leave-one-out source valuation: each source's marginal effect on
    // the corpus mean length and English share, in closed form from the
    // global and per-source sums — the cheap end of data-valuation
    // (no retraining, no resampling), exact and rankable. One aggregate
    // + a 1-row broadcast; deltas are pure arithmetic.
    QueryDef.sql(
      "t_loo_source_impact",
      s"""WITH per AS (
         |  SELECT source, COUNT(*) AS n,
         |    SUM(CAST(n_chars AS DECIMAL(18,2))) AS s1,
         |    COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en
         |  FROM documents GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(s1) AS ss,
         |    CAST(SUM(n_en) AS BIGINT) AS ee
         |  FROM per)
         |SELECT source, n,
         |  ${roundN("CAST(ss - s1 AS DOUBLE) / (nn - n)", 6)} AS mean_without,
         |  ${roundN(
             "CAST(ss - s1 AS DOUBLE) / (nn - n) - CAST(ss AS DOUBLE) / nn", 6)}
         |    AS delta_mean,
         |  ${roundN("(ee - n_en) * 1.0 / (nn - n)", 6)} AS en_share_without,
         |  ${roundN("(ee - n_en) * 1.0 / (nn - n) - ee * 1.0 / nn", 6)}
         |    AS delta_en_share
         |FROM per, tot ORDER BY source""".stripMargin) { (s, d) =>
      val dec2 = DecimalType(18, 2)
      val per = Tables.documents(s, d).groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast(dec2)).as("s1"),
        count(when(col("lang") === "en", 1)).as("n_en"))
      val tot = per.agg(sum("n").as("nn"), sum("s1").as("ss"),
        sum("n_en").as("ee"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          Det.roundN((col("ss") - col("s1")).cast("double")
            / (col("nn") - col("n")), 6).as("mean_without"),
          Det.roundN((col("ss") - col("s1")).cast("double")
            / (col("nn") - col("n"))
            - col("ss").cast("double") / col("nn"), 6).as("delta_mean"),
          Det.roundN((col("ee") - col("n_en")) * 1.0
            / (col("nn") - col("n")), 6).as("en_share_without"),
          Det.roundN((col("ee") - col("n_en")) * 1.0
            / (col("nn") - col("n"))
            - col("ee") * 1.0 / col("nn"), 6).as("delta_en_share"))
        .orderBy("source")
    }
  )
}
