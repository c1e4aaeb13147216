package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det

/** KMV (k-minimum-values) distinct-count sketch as a relation — the
  * DETERMINISTIC alternative to HyperLogLog (`approx_count_distinct`).
  *
  * HLL's register layout is engine-internal: the same data gives different
  * estimates in Spark, DuckDB, and a re-run after an upgrade, so an
  * HLL-based metric can never be hash-verified and silently shifts under
  * engine migrations. KMV keeps the k smallest [[Det.h56]] values of the
  * distinct keys per group — a pure function of the data that any engine
  * recomputes bit-for-bit, with the standard (k−1)·2^56/h_k estimator
  * (relative error ≈ 1/√(k−2)).
  *
  * The sketch IS a relation, (group, h) with ≤ k rows per group: store it
  * next to the corpus stats, merge increments by union + re-rank
  * (KmvSpec proves merge(sketch(A), sketch(B)) == sketch(A ∪ B)), estimate
  * with one aggregate. Scale shape: one distinct shuffle on (group, h) —
  * the same cost class as exact countDistinct's first phase — then
  * bounded-size top-k; a two-level rank (per (group, h mod 64) bucket
  * first) caps the final per-group sort at 64·k candidates, so a
  * billion-distinct group never funnels through one sort partition.
  */
object Kmv {

  /** Sketch relation: the k smallest distinct key hashes per group —
    * (grpCol, h). */
  def sketch(df: DataFrame, grpCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val hashed = df
      .select(col(grpCol), Det.h56(col(keyCol).cast("string")).as("h"))
      .distinct()
    bottomK(hashed, grpCol, k)
  }

  /** The ≤ k rows per `grpCol` group with the smallest `h`, ranked in two
    * levels: per (group, h mod 64) bucket first, so no group funnels its
    * full row set through one rank partition and the final per-group sort
    * sees at most 64·k candidates. [[QuantileSketch]] samples with it. */
  private[operators] def bottomK(hashed: DataFrame, grpCol: String,
      k: Int): DataFrame = {
    val pre = hashed
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(grpCol), pmod(col("h"), lit(64))).orderBy("h")))
      .filter(col("__rn") <= k)
      .drop("__rn")
    topK(pre, grpCol, k)
  }

  /** Merge two sketch relations into the sketch of the union corpus. */
  def merge(a: DataFrame, b: DataFrame, grpCol: String, k: Int): DataFrame =
    topK(a.unionByName(b).distinct(), grpCol, k)

  private def topK(sk: DataFrame, grpCol: String, k: Int): DataFrame =
    sk.withColumn("__rn",
        row_number().over(Window.partitionBy(grpCol).orderBy("h")))
      .filter(col("__rn") <= k)
      .drop("__rn")

  /** Set-operation estimates from two single-group sketch relations
    * (column `h`): the classic KMV algebra — the k smallest of the
    * union of the two k-sets IS the sketch of A ∪ B (→ est_union), and
    * the fraction ρ of that merged k-set present in BOTH input sketches
    * estimates the Jaccard similarity, so est_inter = ρ · est_union.
    * One row: (est_union, est_inter, jaccard_est). Everything is
    * rank/semi-join relational algebra over ≤ 3k hash rows —
    * oracle-checkable and cheap no matter how large the sketched
    * corpora were. */
  def setOps(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    import graft.engine.Stage.syntax._
    // staged: each side feeds the union-merge AND a membership semi-join
    // — unstaged, every consumer re-ran the side's whole sketch lineage
    // (12 base-table scans in a_kmv_set_ops' plan); a sketch is <= k
    // rows, so the stage is trivially cheap
    val ah = a.select(col("h")).distinct().staged
    val bh = b.select(col("h")).distinct().staged
    val tag = (df: DataFrame) => df.withColumn("__g", lit(1))
    val merged = topK(tag(ah).unionByName(tag(bh)).distinct(), "__g", k)
    val estU = estimate(merged, "__g", k)
    val inBoth = merged
      .join(ah, Seq("h"), "left_semi")
      .join(bh, Seq("h"), "left_semi")
    val stats = merged.groupBy("__g").agg(count(lit(1)).as("__n"))
      .join(inBoth.groupBy("__g").agg(count(lit(1)).as("__nb")),
        Seq("__g"), "left")
    estU.join(stats, Seq("__g"))
      .select(col("est_distinct").as("est_union"),
        Det.roundN(coalesce(col("__nb"), lit(0L)) * col("est_distinct")
          / col("__n"), 2).as("est_inter"),
        Det.roundN(coalesce(col("__nb"), lit(0L)) * lit(1.0) / col("__n"), 4)
          .as("jaccard_est"))
  }

  /** Counted KMV sketch for JOIN-SIZE estimation (the AKMV-with-counts
    * shape): the k smallest distinct-KEY hashes of one relation, each
    * carrying the key's exact row count — (h, cnt), ≤ k rows. Built once
    * per table/column, stored next to the corpus stats, and any two such
    * sketches answer "how big would this join be" in [[joinCardinality]]
    * without touching either table again — the planner-statistics
    * question (broadcast? salt? pre-aggregate?) at 100 TB, where an
    * exact pre-join count costs as much as the join. */
  def countedSketch(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val counted = df.groupBy(col(keyCol).cast("string").as("__key"))
      .agg(count(lit(1)).as("cnt"))
      .select(Det.h56(col("__key")).as("h"), col("cnt"), lit(1).as("__g"))
    bottomK(counted, "__g", k).drop("__g")
  }

  /** Join-cardinality estimate |A ⋈ B| from two [[countedSketch]]
    * relations built at the same k. KMV algebra: the k smallest of the
    * merged hash sets sketch the UNION of the key domains; the merged
    * hashes present in BOTH sketches are a uniform sample of A∩B keys,
    * each carrying its exact per-side counts, so
    *   est_join = est_union · Σ(cnt_a·cnt_b over sample) / |merged|
    * (the per-key product estimator over a distinct-value sample —
    * multiplicity skew in the sample is real skew in the join). One row:
    * (est_join, est_inter, sampled_keys). All rank/semi-join algebra
    * over ≤ 3k rows, engine-recomputable like the rest of the family. */
  def joinCardinality(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val ha = a.select(col("h"), col("cnt").as("cnt_a"))
    val hb = b.select(col("h"), col("cnt").as("cnt_b"))
    val merged = topK(
      ha.select("h").unionByName(hb.select("h")).distinct()
        .withColumn("__g", lit(1)), "__g", k)
    val st = merged.groupBy("__g")
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__hk"))
    val bs = merged.join(ha, Seq("h")).join(hb, Seq("h"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__nb"),
        sum(col("cnt_a") * col("cnt_b")).as("__ps"))
    st.join(bs, Seq("__g"), "left")
      .select(
        when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2, 56)) / col("__hk"))
          .as("__eu"),
        col("__n"),
        coalesce(col("__nb"), lit(0L)).as("__nb"),
        coalesce(col("__ps"), lit(0L)).as("__ps"))
      .select(
        Det.roundN(col("__eu") * col("__ps") / col("__n"), 2).as("est_join"),
        Det.roundN(col("__eu") * col("__nb") / col("__n"), 2).as("est_inter"),
        col("__nb").as("sampled_keys"))
  }

  /** (grpCol, est_distinct): exact when the group holds fewer than k
    * distinct keys, else (k−1)·2^56/h_k. `k` MUST be the k the sketch was
    * built with — a larger k makes every group read as "exact" at its
    * sketch size. */
  def estimate(sk: DataFrame, grpCol: String, k: Int): DataFrame =
    sk.groupBy(grpCol)
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__hk"))
      .select(col(grpCol),
        Det.roundN(
          when(col("__n") < k, col("__n").cast("double"))
            .otherwise(lit((k - 1).toDouble * math.pow(2, 56)) / col("__hk")),
          2).as("est_distinct"))
}
