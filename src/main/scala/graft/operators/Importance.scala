package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.Det
import graft.engine.Stage.syntax._
import graft.functions.TextFunctions

/** Importance weighting for data selection (the DSIR idea: reweight a raw
  * corpus toward a target distribution by comparing feature likelihoods —
  * Xie et al., "Data Selection for Language Models via Importance
  * Resampling"). This variant scores each document by the average
  * per-token discriminant between the target and raw unigram
  * distributions over a bounded vocabulary:
  *
  *   weight(doc) = 1000 · Σ_{w ∈ doc ∩ V} (p_target(w) − p_raw(w)) / |doc|
  *
  * A linear discriminant instead of DSIR's log-likelihood ratio — rank
  * direction is the same (words over-represented in the target pull
  * positive) and the math stays in deterministic decimal/rational form
  * (ln is banned from oracled queries: libm last-ulp differences across
  * engines break hash parity).
  *
  * Scale shape: the vocabulary is top-`vocabSize` by corpus frequency —
  * bounded, broadcast; token counting is explode → hash-aggregate
  * (map-side combinable, words not documents cross the exchange); the
  * per-doc score is one broadcast join + keyed aggregate. The token
  * relation is staged once and feeds counts, lengths, and scores. At
  * 100 TB swap the exact vocabulary for hashed feature buckets (same
  * plan shape, no top-k pass) — bounded either way.
  */
object Importance {

  /** The most frequent tokens that carry an importance weight. */
  val VocabSize = 64

  /** Per-doc importance weights: (idCol, n_hits, weight). `targetCol` is
    * a boolean column marking rows of the target distribution. */
  def weights(docs: DataFrame, idCol: String, textCol: String,
      targetCol: String, vocabSize: Int = VocabSize): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), col(targetCol).as("__t"),
      explode(TextFunctions.tokens(col(textCol))).as("w")).staged
    val counts = toks.groupBy("w").agg(
      count(lit(1)).as("n_raw"),
      count(when(col("__t"), 1)).as("n_tgt"))
    val totals = toks.agg(count(lit(1)).as("nr"),
      count(when(col("__t"), 1)).as("nt"))
    val vocab = counts.orderBy(desc("n_raw"), col("w")).limit(vocabSize)
    val deltas = vocab.crossJoin(broadcast(totals))
      .select(col("w"),
        (col("n_tgt") * lit(1.0) / col("nt") -
          col("n_raw") * lit(1.0) / col("nr")).as("delta"))
    val docLen = toks.groupBy("id").agg(count(lit(1)).as("doc_len"))
    val hits = toks.join(broadcast(deltas), Seq("w"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"),
        // decimal-summed: a doc's deltas add order-independently
        sum(col("delta").cast(DecimalType(18, 12))).cast("double")
          .as("sum_delta"))
    docLen.join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        Det.roundN(coalesce(col("sum_delta"), lit(0.0)) * 1000.0 /
          col("doc_len"), 8).as("weight"))
  }
}
