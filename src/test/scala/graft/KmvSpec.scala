package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Kmv

class KmvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val rows = spark.range(30000).select(
    (col("id") % 3).cast("string").as("grp"),
    // ~5000 distinct keys per group, with repeats
    concat(col("id") % 3, lit(":"), col("id") % 15000).as("key"))

  test("estimate within the KMV error envelope of the exact count") {
    val est = Kmv.estimate(Kmv.sketch(rows, "grp", "key", 256), "grp", 256)
      .as[(String, Double)].collect().toMap
    // 5000 distinct per group; 1/sqrt(k-2) ~ 6.3%, allow 4 sigma
    est.foreach { case (g, e) =>
      assert(math.abs(e - 5000) / 5000 < 0.25, s"grp $g: est $e vs 5000")
    }
  }

  test("small groups (n < k) are exact") {
    val small = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "z"))
      .toDF("grp", "key")
    val est = Kmv.estimate(Kmv.sketch(small, "grp", "key", 64), "grp", 64)
      .as[(String, Double)].collect().toMap
    assert(est == Map("a" -> 2.0, "b" -> 1.0))
  }

  test("merge law: merge(sketch(A), sketch(B)) == sketch(A union B)") {
    val a = rows.filter(col("id") % 2 === 0)
    val b = rows.filter(col("id") % 2 === 1)
    val merged = Kmv.merge(
      Kmv.sketch(a, "grp", "key", 128),
      Kmv.sketch(b, "grp", "key", 128), "grp", 128)
      .as[(String, Long)].collect().toSet
    val mono = Kmv.sketch(rows, "grp", "key", 128)
      .as[(String, Long)].collect().toSet
    assert(merged == mono)
  }

  test("setOps: union/intersection estimates track a planted overlap") {
    // A = keys 0..7999, B = keys 4000..11999 -> union 12000, inter 4000
    def side(lo: Int, hi: Int) = Kmv.sketch(
      (lo until hi).map(i => ("g", s"k$i")).toDF("grp", "key"),
      "grp", "key", 512)
    val got = Kmv.setOps(side(0, 8000), side(4000, 12000), 512)
      .as[(Double, Double, Double)].head()
    val (estU, estI, jac) = got
    assert(math.abs(estU - 12000) / 12000 < 0.2, s"union est $estU")
    assert(math.abs(estI - 4000) / 4000 < 0.35, s"inter est $estI")
    assert(math.abs(jac - 1.0 / 3) < 0.12, s"jaccard est $jac")
  }

  test("setOps: disjoint sets estimate zero intersection") {
    def side(lo: Int, hi: Int) = Kmv.sketch(
      (lo until hi).map(i => ("g", s"k$i")).toDF("grp", "key"),
      "grp", "key", 128)
    val (_, estI, jac) = Kmv.setOps(side(0, 3000), side(3000, 6000), 128)
      .as[(Double, Double, Double)].head()
    assert(estI == 0.0 && jac == 0.0)
  }

  test("sketch is deterministic under repartitioning") {
    val s1 = Kmv.sketch(rows, "grp", "key", 64)
      .as[(String, Long)].collect().toSet
    val s2 = Kmv.sketch(rows.repartition(17), "grp", "key", 64)
      .as[(String, Long)].collect().toSet
    assert(s1 == s2)
  }

  test("joinCardinality: exact when both key domains fit in k") {
    // A: keys 0..99 with count i%5+1; B: keys 50..149 with count 2
    val a = (0 until 100).flatMap(i => Seq.fill(i % 5 + 1)(("r", s"k$i")))
      .toDF("tag", "key")
    val b = (50 until 150).flatMap(i => Seq.fill(2)(("r", s"k$i")))
      .toDF("tag", "key")
    val exact = (50 until 100).map(i => (i % 5 + 1) * 2).sum.toDouble
    val got = Kmv.joinCardinality(
      Kmv.countedSketch(a, "key", 256),
      Kmv.countedSketch(b, "key", 256), 256)
      .as[(Double, Double, Long)].head()
    assert(got === ((exact, 50.0, 50L)), s"got $got")
  }

  test("joinCardinality: estimate tracks exact on a sketched domain") {
    // 6000-key sides with a 2000-key overlap and varying multiplicities
    val a = (0 until 6000).flatMap(i => Seq.fill(i % 3 + 1)(("r", s"k$i")))
      .toDF("tag", "key")
    val b = (4000 until 10000).flatMap(i => Seq.fill(i % 2 + 1)(("r", s"k$i")))
      .toDF("tag", "key")
    val exact = (4000 until 6000).map(i => (i % 3 + 1) * (i % 2 + 1)).sum
    val (est, _, nb) = Kmv.joinCardinality(
      Kmv.countedSketch(a, "key", 512),
      Kmv.countedSketch(b, "key", 512), 512)
      .as[(Double, Double, Long)].head()
    assert(nb > 0)
    assert(math.abs(est - exact) / exact < 0.4,
      s"est $est vs exact $exact (sampled $nb)")
  }

  test("joinCardinality: disjoint domains estimate zero") {
    val a = (0 until 3000).map(i => ("r", s"k$i")).toDF("tag", "key")
    val b = (3000 until 6000).map(i => ("r", s"k$i")).toDF("tag", "key")
    val (est, inter, nb) = Kmv.joinCardinality(
      Kmv.countedSketch(a, "key", 128),
      Kmv.countedSketch(b, "key", 128), 128)
      .as[(Double, Double, Long)].head()
    assert(est == 0.0 && inter == 0.0 && nb == 0L)
  }

  test("native kmv_sketch aggregate == relational sketch, any partitioning") {
    import graft.expressions.GraftFunctions.kmv_sketch
    import graft.engine.Det
    // duplicated keys across 3 groups; duplicates must NOT affect the
    // sketch (set semantics) and partitioning must not either (merge path)
    val rows = (0 until 5000).map(i => (s"g${i % 3}", s"k${i % 1700}"))
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("g", "key").repartition(parts)
      val native = df.groupBy("g")
        .agg(kmv_sketch(Det.h56(col("key")), 64).as("sk"))
        .as[(String, Seq[Long])].collect().toMap
      val rel = Kmv.sketch(rows.toDF("g", "key"), "g", "key", 64)
        .groupBy("g").agg(sort_array(collect_list("h")).as("hs"))
        .as[(String, Seq[Long])].collect().toMap
      assert(native.keySet == rel.keySet)
      native.foreach { case (g, sk) =>
        assert(sk == rel(g), s"group $g diverges at $parts partitions")
        assert(sk.length <= 64 && sk == sk.sorted && sk.distinct == sk)
      }
    }
  }

  test("native kmv_sketch under-k group returns all distinct hashes") {
    import graft.expressions.GraftFunctions.kmv_sketch
    import graft.engine.Det
    val df = Seq.tabulate(40)(i => ("g", s"k${i % 10}")).toDF("g", "key")
    val sk = df.groupBy("g")
      .agg(kmv_sketch(Det.h56(col("key")), 64).as("sk"))
      .as[(String, Seq[Long])].head()._2
    assert(sk.length == 10)
  }
}
