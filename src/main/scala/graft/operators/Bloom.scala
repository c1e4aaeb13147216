package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Det

/** A Bloom filter AS A RELATION — (word_idx: long, bits: long) — for
  * ingest-time membership pre-filtering against a massive corpus key set.
  *
  * Why a relation and not a driver-side sketch: at 100 TB the corpus key
  * set is billions of hashes; a useful filter is gigabits. Holding that as
  * one driver object (Spark's `DataFrameStatFunctions.bloomFilter`) caps
  * at driver memory and must be rebuilt monolithically. As a relation the
  * filter shards by `word_idx` like any table (bucket it at rest), builds
  * with one map-side-combinable `bit_or` aggregate, merges across corpus
  * increments by union + re-`bit_or` (Bloom OR-composability), and probes
  * with an equi-join — every step an ordinary shuffle-bounded Spark plan.
  *
  * The k probe positions per key use the same affine md5 family as the
  * MinHash components (pos_j = h1 + j·h2 mod m over [[Det.h56]] spans), so
  * build AND probe are recomputable in oracle SQL — membership answers are
  * hash-checked against DuckDB, not just spec-checked.
  *
  * Contract: no false negatives (a present key always reports
  * maybe_present — BloomSpec proves it); false positives at the standard
  * (1 − e^(−kn/m))^k rate are expected and the caller verifies candidates
  * exactly (see `dedup_bloom_probe`'s exact ground-truth join).
  */
object Bloom {

  /** Probe position j for a key: (h1 + j·h2) mod mBits. j < 64 and
    * h1,h2 < 2^56 keep the sum under 2^62 — no overflow on either
    * engine. */
  def position(key: Column, j: Int, mBits: Long): Column =
    (Det.h56(key) + lit(j.toLong) * Det.h56(key, pos = 17)) % mBits

  /** (__k, p) rows — k probe positions per key. The two md5 spans are
    * computed ONCE per key in a projection BELOW the generate and the k
    * positions derive affinely from the projected columns: inlined into
    * the generator (the old shape), each of the k array elements carried
    * its own pair of md5 calls, and Generate is not a whole-stage-codegen
    * subexpression-elimination site — 2k md5 evaluations per key where 2
    * suffice (the md5 is this family's per-row hot loop; same
    * hash-once-then-affine discipline as Dedup.sigKeyed's __h1/__h2). */
  private def positionsOf(df: DataFrame, keyCol: String, mBits: Long,
      k: Int): DataFrame =
    df.select(col(keyCol).as("__k"),
        Det.h56(col(keyCol)).as("__h1"),
        Det.h56(col(keyCol), pos = 17).as("__h2"))
      .select(col("__k"),
        explode(array((0 until k).map(j =>
          (col("__h1") + lit(j.toLong) * col("__h2")) % mBits): _*)).as("p"))

  /** 65,536 bits × 5 probes: ≈ 1 % false positives up to ~6,600 keys. */
  val MBits = 65536L
  val K = 5
  val PerGroupMBits = 2048L

  /** Build the filter relation from a corpus key column: m/32 rows of
    * (word_idx, bits — 32 bits per word: bit 63 of a signed shift
    * overflows in ANSI engines while Spark wraps silently, so words stay
    * at 32 usable bits for identical cross-engine math). One distinct +
    * one explode(k) + one bit_or
    * aggregate — fully map-side combinable; merging two builds is
    * `union.groupBy(word_idx).agg(bit_or(bits))`. */
  def build(keys: DataFrame, keyCol: String, mBits: Long = MBits,
      k: Int = K): DataFrame = {
    require(mBits % 32 == 0 && mBits > 0, s"mBits must be a multiple of 32: $mBits")
    require(k >= 1 && k < 64, s"k out of range: $k")
    positionsOf(keys.select(keyCol).distinct(), keyCol, mBits, k)
      .groupBy(shiftright(col("p"), 5).as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))")
        .as("bits"))
  }

  /** Per-group filter relations — (groupCol, word_idx, bits) — the
    * FILE-LEVEL data-skipping index: one small Bloom per file/partition
    * over a high-cardinality column, where min/max zone maps are useless
    * for point lookups (every file spans most of the key domain unless
    * the layout sorts by exactly that column). Same affine-md5 bit math
    * as [[build]], one extra grouping key; merging increments per group
    * is the same union + bit_or. */
  def buildPerGroup(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    df.select(col(groupCol), col(keyCol)).distinct()
      .select(col(groupCol),
        Det.h56(col(keyCol)).as("__h1"),
        Det.h56(col(keyCol), pos = 17).as("__h2"))
      .select(col(groupCol),
        explode(array((0 until K).map(j =>
          (col("__h1") + lit(j.toLong) * col("__h2")) % PerGroupMBits): _*)).as("p"))
      .groupBy(col(groupCol), shiftright(col("p"), 5).as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))")
        .as("bits"))
  }

  /** Probe: annotate `batch` with `maybe_present` — true iff all k bit
    * positions of the key are set in the filter. The join is k rows per
    * distinct key against the word relation; absent words read as unset
    * bits (left join, null-safe). */
  def probe(batch: DataFrame, bloom: DataFrame, keyCol: String,
      mBits: Long = MBits, k: Int = K): DataFrame = {
    val pos = positionsOf(batch.select(keyCol).distinct(), keyCol, mBits, k)
      .withColumn("word_idx", shiftright(col("p"), 5))
    val hits = pos
      .join(bloom, Seq("word_idx"), "left")
      .groupBy("__k")
      .agg(min(when(
        expr("(bits >> CAST(p % 32 AS INT)) & 1") === 1, 1).otherwise(0))
        .as("__allset"))
    batch.join(hits, batch(keyCol) === hits("__k"), "left")
      .withColumn("maybe_present", coalesce(col("__allset"), lit(0)) === 1)
      .drop("__k", "__allset")
  }
}
