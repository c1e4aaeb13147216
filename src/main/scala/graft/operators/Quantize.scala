package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 quantization of an embedding column — the
  * storage-scale play for vector corpora: 4× fewer bytes at rest and on
  * the wire than float32 (a 100 TB embedding store becomes 25 TB), at a
  * recall cost ANN rescoring absorbs. Complements [[Pq]] (which
  * compresses harder but needs trained codebooks): int8 is codebook-free,
  * so it survives distribution drift without retraining.
  *
  *   scale(v) = max_i |v_i| / 127
  *   q_i      = clamp(floor(v_i / scale + 0.5), -127, 127)   (int8 range)
  *   v̂_i      = float(q_i · scale)
  *
  * floor(x + 0.5) instead of round(): pure IEEE arithmetic, so the
  * quantized codes are bit-identical across engines (Spark round()
  * routes through BigDecimal; DuckDB rounds in float math — they
  * disagree on ties). All-zero vectors get scale 0 and all-zero codes.
  *
  * The per-element transform is a single non-nested HOF evaluated once
  * per vector at index-build time (not per query); search then runs on
  * the dequantized column through the codegen'd
  * [[graft.expressions.CosineSim]] scan exactly like the flat path.
  */
object Quantize {
  import Similarity.{EmbCol, IdCol}

  val QCol = "q_emb8"
  val ScaleCol = "q_scale"

  /** Adds ([[ScaleCol]], [[QCol]]: array<int> in [-127, 127]) to the frame. */
  def int8(df: DataFrame, embCol: String): DataFrame =
    df.withColumn(ScaleCol,
        (array_max(transform(col(embCol), x => abs(x))) / lit(127.0))
          .cast("double"))
      .withColumn(QCol,
        when(col(ScaleCol) > 0,
          transform(col(embCol), x =>
            least(greatest(floor(x / col(ScaleCol) + lit(0.5)), lit(-127.0)),
              lit(127.0)).cast("int")))
          .otherwise(transform(col(embCol), _ => lit(0))))

  /** Reconstruct the float vector from codes + scale. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, i => (i.cast("double") * scale).cast("float"))

  /** Binary (sign-bit) quantization — the bottom rung of the
    * float32 → int8 → 1-bit compression ladder: 32× smaller than float,
    * and candidate generation becomes XOR + popcount, the cheapest
    * distance a CPU can compute. Sign-of-coordinate is exactly the
    * SimHash/LSH random-hyperplane sketch with the identity projection,
    * so Hamming distance is a monotone proxy for angular distance; an
    * exact rerank over the small Hamming-candidate pool restores
    * precision (see [[hammingTopK]]).
    *
    * Layout: a LONG relation (id, word_idx, word) with 32 sign bits per
    * BIGINT word — not one 64-bit word — because (a) it generalizes to
    * any dimension count and (b) bit 63 would overflow DuckDB's checked
    * `<<`, and the whole point of the word relation is that any engine
    * can recompute it. Word values are sums of distinct powers of two:
    * exact integers, order-independent, hash-stable.
    *
    * Scale shape: one posexplode → hash-aggregate, O(rows × dims/32)
    * output; the signature store for a 100 TB corpus fits where the
    * float vectors never would, and the Hamming scan reads only it. */
  def signBits(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), posexplode(col(embCol)).as(Seq("__dim", "__x")))
      .groupBy(col(idCol), (col("__dim") / 32).cast("int").as("word_idx"))
      .agg(sum(when(col("__x") > 0,
          expr("shiftleft(1L, CAST(__dim % 32 AS INT))"))
        .otherwise(lit(0L))).as("word"))

  /** Hamming-candidate ANN: rank the corpus by popcount(sig XOR q_sig),
    * keep the `pool` best (id-tiebroken), then exact-cosine rerank the
    * pool to top `k`. The expensive float read touches only `pool` rows.
    * Returns (vec_id, hamming, cosine), cosine-ranked. */
  def hammingTopK(vectors: DataFrame, query: DataFrame, k: Int, pool: Int): DataFrame = {
    val sigs = signBits(vectors, IdCol, EmbCol)
    val qsig = signBits(query.select(lit(0L).as("__qid"), col("q_emb")),
        "__qid", "q_emb")
      .select(col("word_idx"), col("word").as("q_word"))
    val ham = sigs
      .join(broadcast(qsig), Seq("word_idx"))
      .groupBy(col(IdCol))
      .agg(sum(bit_count(col("word").bitwiseXOR(col("q_word"))))
        .as("hamming"))
    val cands = ham.orderBy(col("hamming"), col(IdCol)).limit(pool)
    Similarity.cosineTopK(vectors.join(broadcast(cands), Seq(IdCol)), query,
        k, "cosine")
      .select(col(IdCol), col("hamming"), col("cosine"))
  }
}
