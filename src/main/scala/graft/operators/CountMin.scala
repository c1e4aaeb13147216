package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Det

/** Count-min sketch as a relation — (row_id, col_id, cnt) — for
  * approximate frequency queries over key streams too wide to hold exact
  * counts for.
  *
  * Same design stance as [[Bloom]] and [[Kmv]]: the sketch is a TABLE, not
  * a driver object. d·w cells build with one map-side-combinable count
  * aggregate, increments merge by union + re-sum (counter additivity),
  * and a point query is d lookups taking the min. Deterministic md5-affine
  * positions (col_j = (h1 + j·h2) mod w for hash row j) make estimates a
  * pure function of the data — recomputable by any engine, hash-checked in
  * oracle SQL.
  *
  * Contract: estimates never undercount; overcount ≤ 2N/w with
  * probability ≥ 1 − (1/2)^d (the classic CM bound). CountMinSpec proves
  * the never-undercount side exactly and bounds the overshoot.
  */
object CountMin {

  /** Column position of `key` in hash row j (same affine family as
    * Bloom/MinHash; j < 64). */
  def position(key: Column, j: Int, width: Int): Column =
    (Det.h56(key) + lit(j.toLong) * Det.h56(key, pos = 17)) % width

  private def cells(df: DataFrame, keyCol: String, width: Int,
      depth: Int): DataFrame = {
    val k = col(keyCol).cast("string")
    // null keys are excluded on BOTH sides: md5(null) is null, so a null
    // key would build null cell positions that estimate's equi-join can
    // never probe — counting it in the sketch but estimating it as 0
    // would violate the never-undercount contract. Excluding it from
    // build and estimate keeps the contract exact for every key the
    // sketch answers for.
    df.filter(k.isNotNull).select(k.as("__k"),
      posexplode(array((0 until depth).map(j =>
        position(k, j, width)): _*)).as(Seq("row_id", "col_id")))
  }

  val Width = 1024
  val Depth = 4

  /** Build the sketch from a key column (one row per occurrence):
    * (row_id, col_id, cnt), ≤ d·w rows. */
  def build(df: DataFrame, keyCol: String, width: Int = Width,
      depth: Int = Depth): DataFrame = {
    require(width > 0 && depth >= 1 && depth < 64,
      s"bad sketch shape: $width x $depth")
    cells(df, keyCol, width, depth)
      .groupBy("row_id", "col_id")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimate the frequency of each distinct key in `keys`:
    * (keyCol, est_count) = min over the d probed cells. Missing cells
    * read as 0 (left join — the key was never counted). `width`/`depth`
    * MUST equal the values the sketch was built with — different values
    * probe positions the build never wrote and silently under-read. */
  def estimate(keys: DataFrame, sketch: DataFrame, keyCol: String,
      width: Int = Width, depth: Int = Depth): DataFrame =
    cells(keys.select(keyCol).distinct(), keyCol, width, depth)
      .join(sketch, Seq("row_id", "col_id"), "left")
      .groupBy(col("__k").as(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
}
