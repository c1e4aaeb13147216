package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the most recent right row with
  * the same key whose timestamp is <= the left timestamp (the standard
  * time-series enrichment join — trades to quotes, events to latest
  * dimension version).
  *
  * Spark has no built-in as-of join. Preference ladder (SURVEY §7.3 /
  * build guide): this is case (a) — composable from built-ins with the
  * union + last-non-null-window trick, so no custom SparkPlan is needed:
  *
  *   1. tag left rows 1, right rows 0; union on (key, ts, tag, payload);
  *   2. one window per key ordered by (ts, tag): `last(payload_struct,
  *      ignoreNulls=true)` over unbounded-preceding..current carries the
  *      latest right payload forward (tag order makes a right row at
  *      exactly ts visible to the left row — inclusive <= semantics);
  *   3. keep the left rows, unpack the struct.
  *
  * The payload travels as ONE struct column, not per-column `last` calls:
  * a right row is matched or not matched as a unit, so a NULL payload
  * value in the matched row stays NULL in the output (per-column carry
  * would let an older row's non-NULL value bleed through — true as-of
  * semantics return all columns of the single matched row, like DuckDB's
  * native ASOF JOIN).
  *
  * Duplicate right rows per (key, ts) are resolved deterministically: the
  * window ordering extends to the payload struct itself, so among
  * equal-(key, ts) right rows the greatest payload (struct field-by-field
  * comparison) is the one carried — the same row on every run and every
  * partitioning, at zero extra cost (no separate dedup shuffle; it rides
  * the ordering the window already does). If a payload column is
  * non-orderable (map type), dedup the right side first (e.g. P9
  * keep-first) — the ordering then falls back to (ts, tag) only.
  *
  * Cost: ONE shuffle of |L|+|R| on the key (same as a sort-merge join's
  * shuffle) and one sorted window pass — no range cross-products, no
  * per-row probes. Skew behaves like any keyed window (AQE handles
  * moderate skew; salt the key upstream for pathological keys).
  */
object AsOfJoin {

  /** The one relation both as-of joins sort: left rows tagged 1 with a
    * NULL `__p` of `payloadType`, right rows tagged 0 with `__p` =
    * `rightPayload`, each with its key `__k` and time `__ts`; right rows
    * carry NULLs in the left-only columns. Returns the left columns plus
    * (__p, __k, __ts, __tag). */
  private def taggedUnion(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      payloadType: org.apache.spark.sql.types.StructType,
      rightPayload: Column): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
      .withColumn("__p", lit(null).cast(payloadType))
    val r0 = right
      .withColumn("__k", col(rightKey))
      .withColumn("__ts", col(rightTs))
      .withColumn("__tag", lit(0))
      .withColumn("__p", rightPayload)
    val rAligned = leftCols.foldLeft(r0)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val cols = leftCols ++ Seq("__p", "__k", "__ts", "__tag")
    l.select(cols.map(col): _*)
      .unionByName(rAligned.select(cols.map(col): _*))
  }

  /** @param left       rows to enrich
    * @param right      lookup rows (key, ts, payload columns)
    * @param leftKey    join key column name on the left
    * @param rightKey   join key column name on the right
    * @param leftTs     event-time column on the left
    * @param rightTs    event-time column on the right
    * @param payload    right columns to carry (must not clash with left)
    */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => right.schema(p).copy(name = p)))
    // the whole payload as one non-null struct: match-or-not is atomic
    val unioned = taggedUnion(left, right, leftKey, rightKey, leftTs,
      rightTs, payloadType, struct(payload.map(col): _*))
    // right rows (tag 0) sort before left rows at equal ts → inclusive <=;
    // the payload struct breaks ties among duplicate right rows at the
    // same (key, ts), making the carried row deterministic (left rows all
    // have a NULL payload, so their relative order stays irrelevant)
    val payloadOrderable = payloadType.forall(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
    val ordering =
      if (payloadOrderable) Seq(col("__ts"), col("__tag"), col("__p"))
      else Seq(col("__ts"), col("__tag"))
    val w = Window.partitionBy("__k").orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col(s"__p.$p").as(p)): _*)
  }

  /** Nearest-neighbor as-of: for every left row, the right row with the
    * same key MINIMIZING |left ts − right ts|, either direction — the
    * sensor-alignment / closest-touch variant of [[asof]]. Deterministic
    * contract: nearest by (|Δts|, right ts, right id) ascending, so a
    * backward and a forward candidate at equal distance resolve to the
    * earlier one, and equal-timestamp duplicates to the smallest id.
    *
    * Same single-union shape as [[asof]] with one window pass per
    * direction over the (key)-partitioned sort: `last` ascending carries
    * the latest right row at ts <= t (inclusive), `first` over the
    * reversed-tag ordering carries the earliest right row at ts >= t
    * (inclusive); the winner is `least(struct(diff, ts, id, payload))`,
    * a row-local comparison. Two sorted window passes, still ZERO joins
    * and no range cross-product. `leftTs`/`rightTs` must be numeric
    * (epoch micros — subtraction must be defined); `rightId` must be a
    * unique orderable right-row id. Left rows with no same-key right row
    * get NULLs.
    *
    * Returns left columns + payload columns + `nearest_diff` (|Δts| in
    * the ts unit).
    */
  def nearest(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, rightId: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // struct leads with (-id) so the WINDOW-ORDER maximum among
    // equal-(key, ts) right rows is the smallest id (the contract's
    // tiebreak); ts and payload ride along for extraction
    val innerFields = Seq("__negid", "__cts", "__cid") ++ payload
    val payloadType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__negid",
        right.schema(rightId).dataType) +:
        org.apache.spark.sql.types.StructField("__cts",
          right.schema(rightTs).dataType) +:
        org.apache.spark.sql.types.StructField("__cid",
          right.schema(rightId).dataType) +:
        payload.map(p => right.schema(p).copy(name = p)))
    val unioned = taggedUnion(left, right, leftKey, rightKey, leftTs,
      rightTs, payloadType, struct(
        (-col(rightId)).as("__negid") +: col(rightTs).as("__cts") +:
          col(rightId).as("__cid") +: payload.map(col): _*))
    // backward: right rows before left at equal ts (inclusive <=), max
    // window order among ties = min id via the leading -id field
    val wB = Window.partitionBy("__k")
      .orderBy(col("__ts"), col("__tag"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward: left rows first at equal ts (inclusive >=), first row
    // among equal-ts rights = max struct via desc = min id
    val wF = Window.partitionBy("__k")
      .orderBy(col("__ts"), col("__tag").desc, col("__p").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def cand(p: Column): Column =
      when(p.isNotNull, struct(
        abs(col("__ts") - p.getField("__cts")).as("diff"),
        p.getField("__cts").as("cts"),
        p.getField("__cid").as("cid"),
        p.dropFields("__negid", "__cts", "__cid").as("pay")))
    val winner = unioned
      .withColumn("__b", last(col("__p"), ignoreNulls = true).over(wB))
      .withColumn("__f", first(col("__p"), ignoreNulls = true).over(wF))
      .filter(col("__tag") === 1)
      .withColumn("__w", least(cand(col("__b")), cand(col("__f"))))
    winner.select(leftCols.map(col) ++
      payload.map(p => col(s"__w.pay.$p").as(p)) :+
      col("__w.diff").as("nearest_diff"): _*)
  }
}
