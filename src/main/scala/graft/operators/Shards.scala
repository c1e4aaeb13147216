package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Output-shard assignment for training exports: map every document to one
  * of nShards shards so each shard carries a near-equal total token
  * weight. Training dataloaders read shards in parallel; a token-skewed
  * shard is the straggler that paces the whole epoch.
  *
  * Two-tier assignment, both deterministic (pure functions of the data —
  * reruns, retries, and repartitioning cannot move a doc between shards):
  *   - LIGHT rows (weight < heavyCutoff): stable-hash round robin,
  *     shard = h56(salt:id) mod nShards (cross-engine md5-derived hash —
  *     shard membership, like split membership, is a contract other
  *     engines must be able to recompute). Map-side only, no shuffle;
  *     by concentration the relative token imbalance this leaves is
  *     O(sqrt(heavyCutoff / totalWeight)) — negligible when the cutoff is
  *     chosen so no single doc is a meaningful fraction of a shard.
  *   - HEAVY rows (weight >= heavyCutoff): the tail that hash placement
  *     CAN'T balance (one 10M-token doc landing by luck next to another
  *     skews a shard). They are rank-ordered by (weight desc, id) and
  *     dealt round-robin. The global rank is DECOMPOSED so no full-row
  *     global sort survives: rank = (cumulative count of strictly
  *     heavier weight VALUES, a window over the distinct-weight
  *     aggregate) + (row_number within the row's weight group, a window
  *     partitioned by weight). Only (weight, count) pairs ever pass
  *     through a single reducer — 16 bytes per distinct heavy weight,
  *     not rows — and the caller still bounds the heavy population via
  *     heavyCutoff (pick a high quantile, e.g. p999, so heavies are
  *     ≲0.1% of rows).
  *
  * At rest, write with .repartition(col("shard")).write.partitionBy("shard")
  * so each shard is one file set.
  */
object Shards {

  val DefaultSalt = 0

  /** Adds a `shard` int column in [0, nShards). */
  def assign(df: DataFrame, idCol: String, weightCol: String, nShards: Int,
      heavyCutoff: Long = Long.MaxValue): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val light = df.filter(col(weightCol) < heavyCutoff)
      .withColumn("shard",
        pmod(Det.h56(concat(lit(s"$DefaultSalt:"), col(idCol).cast("string"))),
          lit(nShards)).cast("int"))
    val heavy0 = df.filter(col(weightCol) >= heavyCutoff)
    // global rank decomposition (see scaladoc): offsets from the
    // distinct-weight histogram, position from a per-weight window
    val offs = heavy0.groupBy(col(weightCol).as("__w"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum(col("__c")).over(Window.orderBy(desc("__w"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__w"), col("__off"))
    // no broadcast hint: offs is bounded by the DISTINCT heavy weights,
    // which is usually tiny but not provably — the equi-join shares the
    // weight key with the window's partitioning, so AQE picks broadcast
    // when the histogram is actually small
    val heavy = heavy0
      .join(offs, col(weightCol) === col("__w"))
      .withColumn("__rn", col("__off") +
        row_number().over(Window.partitionBy(weightCol).orderBy(idCol)))
      .withColumn("shard", pmod(col("__rn") - 1, lit(nShards)).cast("int"))
      .drop("__rn", "__w", "__off")
    light.unionByName(heavy)
  }

  /** Deterministic training-order shuffle: the global random permutation
    * a training run needs, WITHOUT a global sort surviving to runtime.
    * Order is by a salted h56 of the id — a pure function of the data, so
    * the epoch order is reproducible across reruns/engines (and
    * oracle-checkable) — materialized as (shard, shard_pos): shard = the
    * hash's range bucket, shard_pos = rank within the shard. Dataloaders
    * consume shards in parallel and read each sequentially; concatenating
    * shards 0..n-1 IS the global hash order, but no single node ever
    * ranks the full corpus — the window partitions by shard. New salt =
    * new independent epoch order. */
  def shuffled(df: DataFrame, idCol: String, nShards: Int,
      salt: Int = DefaultSalt): DataFrame = {
    require(nShards > 0 && ((1L << 56) % nShards == 0),
      s"nShards must divide 2^56 (use a power of two): $nShards")
    val width = (1L << 56) / nShards
    df.withColumn("__sh",
        Det.h56(concat(lit(s"shuffle$salt:"), col(idCol).cast("string"))))
      .withColumn("shard", expr(s"__sh div ${width}L").cast("int"))
      .withColumn("shard_pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__sh"), col(idCol))))
      .drop("__sh")
  }

  /** Per-shard totals + the relative imbalance (max shard weight over the
    * ideal equal split) — the number an export job alerts on. */
  def summary(assigned: DataFrame, weightCol: String): DataFrame = {
    // staged once (shard-count-sized): read by its own rollup AND the
    // final combine — otherwise the whole assignment recomputes twice
    val perShard = assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).cast("long").as("total_weight"))
      .staged
    // the global total rides as a broadcast 1-row aggregate — one plan,
    // no driver-side .first() actions recomputing the assignment
    val totals = perShard.agg(
      sum(col("total_weight")).as("__total"), count(lit(1)).as("__nsh"))
    perShard
      .crossJoin(broadcast(totals))
      .withColumn("imbalance", Det.roundN(
        col("total_weight") * col("__nsh") / col("__total"), 4))
      .select("shard", "n_docs", "total_weight", "imbalance")
  }

  /** Rendezvous (highest-random-weight) shard assignment — the
    * consistent-placement scheme for a GROWING shard set: each key goes
    * to argmax over shards of h56(key ":" shard). When a shard is added,
    * a key moves only if the NEW shard's hash beats all existing ones —
    * so exactly ~1/(n+1) of keys move, all of them TO the new shard, and
    * no key ever moves between two old shards. That structural guarantee
    * is what a 100 TB re-shard buys: adding capacity re-writes 1/(n+1)
    * of the corpus instead of (n-1)/n under mod-N.
    *
    * One constant-fanout explode (nShards rows/key) + one argmax
    * aggregate; h56 keeps the placement engine-recomputable. Ties are
    * impossible in practice (distinct md5 inputs) and broken by lower
    * shard id anyway. Returns the input plus `shard`. */
  def rendezvous(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= 4096, s"nShards: $nShards")
    val fanned = df.select(col(idCol),
        explode(sequence(lit(0), lit(nShards - 1))).as("__s"))
      .withColumn("__h", Det.h56(
        concat(col(idCol).cast("string"), lit(":"), col("__s").cast("string"))))
    df.join(
      fanned.groupBy(col(idCol))
        .agg(min_by(col("__s"), struct(-col("__h"), col("__s"))).as("shard")),
      Seq(idCol))
  }
}
