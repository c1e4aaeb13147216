package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det

/** Benchmark decontamination: find corpus documents whose n-gram shingles
  * overlap an evaluation/benchmark set — the standard pre-training hygiene
  * pass (train/test leakage makes eval numbers meaningless). A corpus doc
  * is contaminated w.r.t. a benchmark doc when it contains at least
  * `threshold` of that benchmark doc's distinct shingles.
  *
  * Shape (same inverted-index discipline as [[Dedup.ngramJaccardDups]]):
  * explode both sides to distinct (id, shingle) rows once, cap the
  * CORPUS-side postings (a boilerplate shingle present in thousands of
  * corpus docs would both create a quadratic join bucket and signal
  * nothing — dropping ubiquitous n-grams is standard decontamination
  * practice), then one equi-join on the shingle + one count aggregate.
  * Shuffle volume is O(rows × shingles), never O(corpus × benchmark);
  * the benchmark side is typically small, so AQE broadcasts it.
  */
object Contamination {

  val Threshold = 0.5
  /** Shingles in more corpus docs than this are boilerplate, not overlap. */
  val MaxPosting = 1000

  /** Returns (doc_id, bench_id, overlap, bench_n, overlap_frac) for every
    * corpus/benchmark pair with overlap_frac >= threshold, where overlap
    * counts shared distinct shingles and bench_n is the benchmark doc's
    * distinct-shingle count. */
  def ngramOverlap(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = Dedup.ShingleSize,
      threshold: Double = Threshold): DataFrame = {
    val c = Dedup.explodedShingles(corpus, idCol, textCol, shingleSize,
      withHashes = false)
    val b = Dedup.explodedShingles(benchmark, idCol, textCol, shingleSize,
      withHashes = false)
    val benchSizes = b.groupBy(col("id").as("bench_id"))
      .agg(count(lit(1)).as("bench_n"))
    // hash-aggregate + join, not a count() window: the window form costs
    // Exchange + SORT of the full (id, shingle) relation; the aggregate
    // shuffles only the shingle column (map-side combined) and joins the
    // surviving shingles back against the staged relation
    val cOk = c.select("shingle")
      .groupBy("shingle").agg(count(lit(1)).as("__pn"))
      .filter(col("__pn") <= MaxPosting)
      .select("shingle")
    val cUseful = c.select(col("id").as("doc_id"), col("shingle"))
      .join(cOk, Seq("shingle"))
    val overlap = cUseful
      .join(b.select(col("id").as("bench_id"), col("shingle")), Seq("shingle"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("overlap"))
    overlap
      .join(benchSizes, Seq("bench_id"))
      .withColumn("overlap_frac",
        Det.roundN(col("overlap") / col("bench_n"), 4))
      .filter(col("overlap_frac") >= threshold)
      .select("doc_id", "bench_id", "overlap", "bench_n", "overlap_frac")
  }
}
