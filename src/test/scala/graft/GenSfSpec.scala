package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Scratch, Tables}

/** Contracts of the scale-factor generator (`GenSf`) — the tool every
  * sf≥1 scale claim rests on. Generates k=3 flat and skewed lakes from
  * the driver's sf0.001 once and asserts the documented invariants:
  * structure preservation (flat) and organic hostility (skew).
  */
class GenSfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val src = "/root/testdata/sf0.001"
  private val k = 3

  private lazy val flatDir = {
    val d = Scratch.dir("gensf-flat")
    GenSf.generate(spark, src, d, k)
    d
  }
  private lazy val skewDir = {
    val d = Scratch.dir("gensf-skew")
    GenSf.generate(spark, src, d, k, skew = true)
    d
  }

  private def t(dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  test("flat: every scaled table is exactly k x rows; dims verbatim") {
    for (name <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")) {
      assert(t(flatDir, name).count() === k * t(src, name).count(), name)
    }
    for (name <- Seq("region", "nation")) {
      assert(t(flatDir, name).count() === t(src, name).count(), name)
    }
  }

  test("flat: replica 0 is verbatim and FK structure is exact per replica") {
    val nD = t(src, "documents").count()
    // replica 0 text byte-identical
    val diff0 = t(flatDir, "documents").filter(col("doc_id") < nD)
      .select("doc_id", "text")
      .exceptAll(t(src, "documents").select("doc_id", "text")).count()
    assert(diff0 === 0L, "replica-0 documents must be verbatim")
    // no lineitem orphans against part in ANY replica (flat never
    // cross-links and offsets preserve FK structure exactly)
    val orphans = t(flatDir, "lineitem").join(t(flatDir, "part"),
      col("l_partkey") === col("p_partkey"), "left_anti").count()
    assert(orphans === 0L)
    // replicas never cross-link in flat mode: every lineitem's part
    // lives in the same replica block as its order
    val nO = t(src, "orders").count()
    val nP = t(src, "part").count()
    val cross = t(flatDir, "lineitem")
      .filter(floor(col("l_orderkey") / nO) =!= floor(col("l_partkey") / nP))
      .count()
    assert(cross === 0L, "flat replicas must not cross-link")
  }

  test("flat: embeddings are orthogonally mapped — norms bit-preserved " +
      "per replica, zero cross-replica duplicate texts") {
    val nV = t(src, "embeddings").count()
    // the orthogonal map moves and negates coordinates but never rounds:
    // the sorted |coordinate| multiset is permutation- AND sign-invariant,
    // so it must be BIT-identical per vector. (A sum-of-squares fold is
    // the wrong check — float addition order changes under permutation.)
    val sortedAbs = array_sort(transform(col("embedding"),
      x => abs(x)))
    val srcSig = t(src, "embeddings")
      .select(col("vec_id"), sortedAbs.as("sig"))
    val r1Sig = t(flatDir, "embeddings")
      .filter(col("vec_id") >= nV && col("vec_id") < 2 * nV)
      .select((col("vec_id") - nV).as("vec_id"), sortedAbs.as("sig"))
    assert(r1Sig.exceptAll(srcSig).count() === 0L,
      "permutation+sign-flip must preserve the coordinate multiset exactly")
    // the flat lake's documented weakness (and why skew mode exists):
    // zero cross-replica exact-duplicate texts
    val nD = t(src, "documents").count()
    val d = t(flatDir, "documents")
      .select(floor(col("doc_id") / nD).as("r"), col("text"))
    val crossDup = d.groupBy("text")
      .agg(countDistinct(col("r")).as("nr"))
      .filter(col("nr") > 1).count()
    assert(crossDup === 0L, "flat mode must not create cross-replica dups")
  }

  test("skew: hot keys concentrate fact-side mass way past uniform") {
    val li = t(skewDir, "lineitem")
    val n = li.count()
    val top = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .orderBy(desc("c")).limit(1).head().getLong(1)
    val nP = t(src, "part").count() * k
    // uniform share is n/nP; the Zipf hot set must give the top key an
    // order-of-magnitude multiple of it (30% redirect, rank-1 ~ ln2/ln64
    // of that, across k-1 of k replicas)
    assert(top.toDouble / n > 10.0 * (1.0 / nP),
      s"top part $top of $n is not a straggler key")
  }

  test("skew: duplicate clusters span replicas with near-dup text") {
    val nD = t(src, "documents").count()
    val d = t(skewDir, "documents")
      .select(floor(col("doc_id") / nD).as("r"),
        pmod(col("doc_id"), lit(nD)).as("base"), col("text"))
    // geometric duplication: ~half of source docs should have a replica-1
    // NEAR-copy (each word mutated with prob 1/32 → ≥80% of word
    // POSITIONS unchanged), the rest the bijection-permuted distinct
    // text (most positions changed — a random bijection on a ~31-word
    // closed vocab has ~1 expected fixed point). Positional match
    // fraction discriminates where word-SET overlap cannot: on a closed
    // vocab every doc contains most of the vocabulary.
    val r0 = d.filter(col("r") === 0)
      .select(col("base"), split(col("text"), " ").as("w0"))
    val r1 = d.filter(col("r") === 1)
      .select(col("base"), split(col("text"), " ").as("w1"))
    val m = r0.join(r1, "base")
      .select((size(filter(zip_with(col("w0"), col("w1"),
          (a, b) => a === b), x => x)).cast("double") /
        size(col("w0"))).as("posmatch"))
    val hi = m.filter(col("posmatch") >= 0.8).count()
    val all = m.count()
    // P(L>=1) = 1/2 → about half the docs carry a replica-1 near-copy
    assert(hi >= all / 4 && hi <= 3 * all / 4,
      s"$hi of $all replica-1 docs are positional near-dups of their " +
        "source; expected ~half (geometric level)")
    assert(hi > 0, "skew mode must create cross-replica near-dups")
  }

  test("skew: embeddings cluster onto replica-0 centroids (IVF imbalance)") {
    val embs = t(skewDir, "embeddings")
    val nV = t(src, "embeddings").count()
    val cents = t(skewDir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val r1 = embs.filter(col("vec_id") >= nV && col("vec_id") < 2 * nV)
    val dot = aggregate(zip_with(col("embedding"), col("cemb"),
      (a, b) => a.cast("double") * b.cast("double")), lit(0.0d),
      (acc, x) => acc + x)
    val norm = (c: String) => sqrt(aggregate(col(c), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val cos = r1.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (dot / (norm("embedding") * norm("cemb"))).as("cos"))
    // blended vectors sit at cosine ≥ ~0.7 of their centroid; unclustered
    // random high-dim vectors sit near 0. Half of replica-1 is blended,
    // Zipf-concentrated on the low ranks, so SOME vectors must be close
    // to centroid 0 and the per-centroid population must be imbalanced.
    val close = cos.filter(col("cos") > 0.6)
      .groupBy("cid").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(close.nonEmpty, "no replica-1 vectors near any centroid")
    assert(close.getOrElse(0L, 0L) > 2 * close.getOrElse(7L, 0L),
      s"Zipf cluster populations should be imbalanced: $close")
  }
}
