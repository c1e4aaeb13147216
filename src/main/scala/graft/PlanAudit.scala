package graft

/** Dev tool: build every SparkEntry query against a (small) sfDir and
  * report scale-hostile physical operators — CartesianProduct and
  * BroadcastNestedLoopJoin — with the query that planned them. 1-row
  * scalar combines legitimately plan as BNLJ; anything else is a bug.
  * Also reports REDUNDANT SOURCE SCANS: a query whose plan reads the
  * same base table ≥3 times is usually recomputing a shared subtree that
  * should be staged (graft.engine.Stage) — each extra read is a full corpus
  * scan at 100 TB. Self-joins legitimately read twice; 3+ is the smell
  * (found the semantic-dedup triple assignment in round 5, plus rescans
  * in lm_score ×5, tfidf ×4, mix/shard/j2/top5 ×4, dup_spans ×3 — all
  * staged since).
  *
  * Deliberate residuals (audited round 5): quality suite = one scan per
  * table per check FAMILY (row-agg / unique-groupBy / freshness-max are
  * non-mergeable aggregate shapes, all column-pruned counts);
  * sim_ivf/kmeans/ann_recall and the similarity probe family = vec_id<16
  * codebook / query-vector reads (1-to-16-row pushdown-pruned scans —
  * preAssigned is the documented scale path); train_test_split =
  * one map-only filter pass per split (a production split writes all
  * splits in one pass via partitionBy on the sampled bucket).
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allDefs.foreach { q =>
      try {
        val plan = q.run(spark, sfDir).queryExecution.sparkPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin")
        if (cart || bnlj)
          println(s"[audit] ${q.name}: " +
            (if (cart) "CartesianProduct " else "") +
            (if (bnlj) "BroadcastNestedLoopJoin" else ""))
        val rescans = tables.map { t =>
          t -> s"$t.parquet".r.findAllIn(plan).length
        }.filter(_._2 >= 3)
        if (rescans.nonEmpty)
          println(s"[audit] ${q.name}: redundant scans " +
            rescans.map { case (t, c) => s"$t×$c" }.mkString(", "))
      } catch { case e: Throwable =>
        println(s"[audit] ${q.name}: PLAN FAILED ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    println("[audit] done")
    spark.stop()
  }
}
