package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Itemsets, Shards}

/** Property defense for the two round-9 behavioral rewrites:
  *
  *   1. The A-priori lattice (absolute AND fractional threshold forms)
  *      must equal the brute-force triple enumeration on randomized
  *      basket data — the pruning lattice loses nothing, at any
  *      threshold, including thresholds the fractional form derives
  *      from the basket count in-plan.
  *   2. Shards.assign's decomposed heavy rank (distinct-weight-histogram
  *      offsets + per-weight row_number) must equal the global
  *      row_number over (weight desc, id) it replaced — including under
  *      heavy WEIGHT TIES, the case the decomposition's tie-handling
  *      must get right.
  *
  * Data is generated from a seeded deterministic stream (tests must not
  * flake), sized to stay collect-friendly.
  */
class ItemsetsPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** xorshift-ish deterministic ints in [0, bound). */
  private def det(seed: Long, i: Long, bound: Int): Int = {
    var x = seed * 6364136223846793005L + i * 1442695040888963407L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
    ((x & Long.MaxValue) % bound).toInt
  }

  private def randomBaskets(seed: Long, nBaskets: Int, itemDomain: Int,
      maxSize: Int): Seq[(Int, String)] =
    (0 until nBaskets).flatMap { b =>
      val size = det(seed, b * 1000L, maxSize + 1)
      (0 until size).map(j => (b, s"i${det(seed, b * 1000L + j + 1, itemDomain)}"))
    }.distinct

  private def naiveTriples(rows: Seq[(Int, String)], thr: Long)
    : Set[(String, String, String, Long)] = {
    val byBasket = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val counts = scala.collection.mutable.Map[(String, String, String), Long]()
    byBasket.foreach { case (_, items) =>
      for {
        i <- items.indices; j <- i + 1 until items.size
        k <- j + 1 until items.size
      } {
        val key = (items(i), items(j), items(k))
        counts(key) = counts.getOrElse(key, 0L) + 1
      }
    }
    counts.filter(_._2 >= thr).map { case ((a, b, c), n) => (a, b, c, n) }.toSet
  }

  test("A-priori lattice == brute force on randomized baskets, both threshold forms") {
    for (seed <- Seq(7L, 21L, 99L)) {
      val rows = randomBaskets(seed, nBaskets = 40, itemDomain = 12, maxSize = 6)
      val df = rows.toDF("bk", "it")
      val nBaskets = rows.map(_._1).distinct.size

      // floor form: under the default basketDenom (75,000) 40 baskets
      // derive ceil(40/75000) = 1, so the threshold is the floor itself
      for (thr <- Seq(2L, 3L)) {
        val got = Itemsets.frequentTriples(df, "bk", "it", floorSupport = thr)
          .as[(String, String, String, Long)].collect().toSet
        assert(got == naiveTriples(rows, thr),
          s"seed=$seed thr=$thr: lattice != brute force")
      }

      // fractional form: denom chosen so thr = ceil(nBaskets/denom) > floor
      val denom = 10L
      val derivedThr = math.max(2L, (nBaskets + denom - 1) / denom)
      val gotFrac = Itemsets.frequentTriples(df, "bk", "it",
          basketDenom = denom)
        .as[(String, String, String, Long)].collect().toSet
      assert(gotFrac == naiveTriples(rows, derivedThr),
        s"seed=$seed: fractional (derived thr=$derivedThr) != brute force")
    }
  }

  test("decomposed heavy rank == global (weight desc, id) rank under ties") {
    // many duplicate weights: the per-weight row_number + histogram
    // offsets must reproduce the exact global ranking the old global
    // window produced
    val n = 500
    val docs = (0 until n).map { i =>
      (i.toLong, (det(3L, i, 7) + 1) * 100L) // 7 distinct weights, heavy ties
    }
    val df = docs.toDF("doc_id", "w")
    val nShards = 4
    // everything heavy: heavyCutoff below the minimum weight
    val got = Shards.assign(df, "doc_id", "w", nShards, heavyCutoff = 1L)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    val expected = docs.sortBy { case (id, w) => (-w, id) }
      .zipWithIndex
      .map { case ((id, _), rank) => id -> (rank % nShards) }
      .toMap
    assert(got == expected, "decomposed rank diverged from global rank")
  }
}
