package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.Det
import graft.expressions.GraftFunctions
import graft.engine.Stage.syntax._

/** Product quantization (PQ) — the vector-compression half of IVF-PQ, the
  * standard shape for ANN over corpora too large to keep raw vectors hot.
  * Each vector is split into `m` subvectors; each subspace gets its own
  * k-entry codebook (Lloyd-trained); a vector is stored as m small codes
  * (m × log2 k bits instead of dims × 32). Search runs ADC (asymmetric
  * distance computation): the query precomputes an m×k lookup table of
  * partial dot products against the codebooks, every encoded vector's
  * approximate score is a sum of m table entries — no float vector is
  * touched during the scan — then a bounded shortlist is rescored exactly.
  *
  * Scale shape: codebooks are m×k rows (driver-small, broadcast
  * everywhere); encoding is one broadcast join + codegen'd dot products
  * ([[graft.expressions.DotProduct]]) + a min_by aggregate; the ADC scan
  * is a join of the m×k LUT against the (id, sub, code) table and one
  * sum aggregate — shuffle O(rows × m), never O(rows × dims). The LUT
  * join carries no broadcast hint: its size estimate is past
  * BroadcastGuard's cap at every lake size, so AQE picks the strategy
  * from the runtime size.
  * Decimal-summed means keep refined codebooks bit-stable across
  * partitionings (same contract as [[Similarity.kmeansStep]]).
  */
object Pq {
  import Similarity.{EmbCol, IdCol}

  /** Long-form subvectors: (id, sub, sv: array<float>), sub in [0, m).
    * `dims` must be divisible by m. */
  def subVectors(df: DataFrame, m: Int, dims: Int,
      idCol: String = IdCol, embCol: String = EmbCol): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    df.select(col(idCol).as("id"),
      posexplode(array((0 until m).map(s =>
        slice(col(embCol), s * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))
  }

  /** Seed codebooks from the k lowest-id vectors: (sub, code, c_emb).
    * The window is over k rows post-limit (codebook-sized, not data-sized),
    * so the unpartitioned row_number is bounded by construction. */
  def seedCodebooks(df: DataFrame, m: Int, dims: Int, k: Int): DataFrame = {
    val seeds = df.orderBy(col(IdCol)).limit(k)
      .withColumn("__code",
        row_number().over(Window.orderBy(col(IdCol))) - 1)
    subVectors(seeds, m, dims, "__code", EmbCol)
      .select(col("sub"), col("id").cast("int").as("code"),
        col("sv").as("c_emb"))
  }

  /** Assign every (id, sub) to its nearest code by squared L2 distance
    * (ties → lowest code). Returns (id, sub, code). */
  def encode(subVecs: DataFrame, codebooks: DataFrame): DataFrame = {
    GraftFunctions.register(subVecs.sparkSession)
    val d2 = GraftFunctions.dot_product(col("sv"), col("sv")) -
      lit(2.0) * GraftFunctions.dot_product(col("sv"), col("c_emb")) +
      GraftFunctions.dot_product(col("c_emb"), col("c_emb"))
    subVecs.join(broadcast(codebooks), Seq("sub"))
      .withColumn("__d", d2)
      .groupBy("id", "sub")
      .agg(min_by(col("code"), struct(col("__d"), col("code"))).as("code"))
  }

  /** One Lloyd refine of the per-subspace codebooks. Codes that attracted
    * no members keep their previous centroid (the codebook never shrinks;
    * same contract as kmeansStep). Returns (sub, code, c_emb, n_members). */
  def pqStep(subVecs: DataFrame, codebooks: DataFrame): DataFrame = {
    val assigned = encode(subVecs, codebooks)
    val dimVals = assigned.join(subVecs, Seq("id", "sub"))
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
    val means = dimVals.groupBy("sub", "code", "dim")
      .agg((sum(col("x").cast(DecimalType(18, 9))).cast("double") /
        count(lit(1))).as("mv"), count(lit(1)).as("n"))
    val rebuilt = means.groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
        s => s.getField("mv").cast("float")).as("c_emb"),
        max(col("n")).as("n_members"))
    codebooks.select(col("sub"), col("code"), col("c_emb").as("__prev"))
      .join(rebuilt, Seq("sub", "code"), "left")
      .select(col("sub"), col("code"),
        coalesce(col("c_emb"), col("__prev")).as("c_emb"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
  }

  /** Train codebooks: seed from the k lowest-id vectors, run `iters`
    * Lloyd refinements. The subvector relation is staged once; each round
    * materializes a codebook-sized result. */
  def train(df: DataFrame, m: Int, dims: Int, k: Int, iters: Int): DataFrame = {
    val sv = subVectors(df, m, dims).stagedAlways
    var cb = seedCodebooks(df, m, dims, k).stagedAlways
    (0 until iters).foreach { _ =>
      cb = pqStep(sv, cb).select("sub", "code", "c_emb").stagedAlways
    }
    cb
  }

  /** ADC shortlist over a vector subset: score every encoded vector by
    * summing its m partial-dot LUT entries, keep the top `limit`.
    * Decimal-summed so the shortlist cutoff can't flutter on double
    * accumulation order at a rank boundary. Returns (id, adc_score). */
  private def adcShortlist(subset: DataFrame, codebooks: DataFrame,
      query: DataFrame, limit: Int, m: Int, dims: Int): DataFrame = {
    GraftFunctions.register(subset.sparkSession)
    val enc = encode(subVectors(subset, m, dims), codebooks)
    val qSubs = subVectors(query.select(lit(0L).as("__qid"), col("q_emb")),
      m, dims, "__qid", "q_emb").select(col("sub"), col("sv").as("qv"))
    val lut = codebooks.join(broadcast(qSubs), Seq("sub"))
      .select(col("sub"), col("code"),
        GraftFunctions.dot_product(col("c_emb"), col("qv")).as("pd"))
    enc.join(lut, Seq("sub", "code"))
      .groupBy("id")
      .agg(sum(col("pd").cast(DecimalType(18, 9))).cast("double")
        .as("adc_score"))
      .orderBy(desc("adc_score"), col("id"))
      .limit(limit)
  }

  /** Exact-cosine rescore of an ADC shortlist against the raw vectors.
    * Returns (vec_id, cosine, adc_score), cosine-ranked. */
  private def rescore(vectors: DataFrame, shortlist: DataFrame,
      query: DataFrame, kTop: Int): DataFrame =
    Similarity.cosineTopK(vectors.join(shortlist, col(IdCol) === col("id")),
        query, kTop, "cosine")
      .select(col(IdCol), col("cosine"),
        Det.roundN(col("adc_score"), 6).as("adc_score"))

  /** ADC top-k with exact rescoring: the query builds its m×k partial-dot
    * LUT against the codebooks, encoded vectors are scored by summing m
    * LUT entries, and the top kTop×rescoreFactor shortlist is rescored
    * with exact cosine against the raw vectors. Returns
    * (vec_id, cosine, adc_score) — cosine-ranked, ADC kept for diagnostics.
    * `query`: 1-row DataFrame with float-array column q_emb. */
  def adcTopK(df: DataFrame, codebooks: DataFrame, query: DataFrame,
      kTop: Int, m: Int, dims: Int, rescoreFactor: Int = 5): DataFrame = {
    val shortlist = adcShortlist(df, codebooks, query,
      kTop * rescoreFactor, m, dims)
    rescore(df, shortlist, query, kTop)
  }

  /** IVF-PQ: the coarse quantizer restricts the scan to the nProbe cells
    * nearest the query (partition pruning at rest — a cell is a partition
    * key), then the ADC scan + exact rescore runs over only those cells'
    * members. This is the standard composition for ANN over corpora too
    * large to scan flat: touched data = (nProbe / nCells) × corpus, and
    * the touched part is read as m-byte codes, not float vectors.
    *
    * This variant quantizes raw vectors against global codebooks (the
    * no-residual IVF-PQ); per-cell residual encoding sharpens recall at
    * the cost of a per-cell LUT and belongs in the same seam.
    *
    * `preAssigned`: the (id, cell, …) table from [[Similarity.assignCells]]
    * — pass it so assignment stays a one-time index-build step. */
  def ivfPqTopK(vectors: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, query: DataFrame, kTop: Int, nProbe: Int,
      m: Int, dims: Int, rescoreFactor: Int = 5,
      preAssigned: Option[DataFrame] = None): DataFrame = {
    val probes = Similarity.probeCells(centroids, query, nProbe)
    val assigned = preAssigned.getOrElse(
      Similarity.assignCells(vectors, centroids))
    val members = assigned.join(broadcast(probes), Seq("cell"))
      .select(col(IdCol), col(EmbCol))
    val shortlist = adcShortlist(members, codebooks, query,
      kTop * rescoreFactor, m, dims)
    rescore(members, shortlist, query, kTop)
  }
}
