package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-salting for skewed joins and aggregations — the manual escape hatch
  * when AQE's runtime skew splitting isn't enough (e.g. one key holding
  * 10% of a 100 TB fact table).
  *
  * Pattern: the large side gets a deterministic salt in [0, salts) from a
  * hash of the whole row context; the small side is exploded `salts` ways
  * so every (key, salt) bucket finds its match. Join output is identical
  * to the unsalted join; the hot key's rows now spread over `salts`
  * reducers.
  */
object Salting {

  val JoinType = "inner"

  /** Salted inner/left equi-join of `large` with `small` on `key`. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id(), col(key)), lit(salts))
        .cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "__salt"), JoinType)
      .drop("__salt")
  }

  /** Two-phase salted aggregation: partial aggregate on (key, salt), then
    * final aggregate on key — a map-side-combine analog for sums/counts
    * when one group dominates. */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    // decimal partial sums: the salt assignment is row-order dependent, so
    // double partials would re-associate differently run to run — decimal
    // keeps the final total exact and salt-invariant
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol).cast(dec)).as("__ps"), count(lit(1)).as("__pc"))
      .groupBy(col(key))
      .agg(sum(col("__ps")).cast("double").as(s"sum_$valueCol"),
        sum(col("__pc")).as("n"))
  }
}
