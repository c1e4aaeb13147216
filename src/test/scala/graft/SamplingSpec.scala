package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = spark.range(10000).select(
    col("id").as("doc_id"),
    (col("id") % 3).cast("string").as("stratum"))

  test("sample is deterministic and close to the requested fraction") {
    val a = Sampling.sample(docs, "doc_id", 0.2).select("doc_id")
      .as[Long].collect().toSet
    val b = Sampling.sample(docs, "doc_id", 0.2).select("doc_id")
      .as[Long].collect().toSet
    assert(a == b, "same call must select the same rows")
    assert(math.abs(a.size - 2000) < 200, s"got ${a.size} of expected ~2000")
    // different salt → an independent (different) sample
    val c = Sampling.sample(docs, "doc_id", 0.2, salt = 1).select("doc_id")
      .as[Long].collect().toSet
    assert(a != c)
  }

  test("split parts are disjoint and jointly complete") {
    val parts = Sampling.split(docs, "doc_id", Seq(0.8, 0.1, 0.1))
      .map(_.select("doc_id").as[Long].collect().toSet)
    assert(parts.map(_.size).sum == 10000)
    assert((parts(0) & parts(1)).isEmpty && (parts(0) & parts(2)).isEmpty &&
      (parts(1) & parts(2)).isEmpty)
    assert(math.abs(parts(0).size - 8000) < 400)
    // membership survives a repartition (partition-count independence)
    val re = Sampling.split(docs.repartition(13), "doc_id", Seq(0.8, 0.1, 0.1))
      .map(_.select("doc_id").as[Long].collect().toSet)
    assert(parts == re)
  }

  test("partIndex agrees with split() membership for every row") {
    val weights = Seq(0.8, 0.1, 0.1)
    val byFilter = Sampling.split(docs, "doc_id", weights).zipWithIndex
      .map { case (df, i) =>
        df.select(col("doc_id"), lit(i).as("pi"))
      }.reduce(_ unionByName _)
      .as[(Long, Int)].collect().toMap
    val byIndex = docs
      .select(col("doc_id"), Sampling.partIndex(col("doc_id"), weights).as("pi"))
      .as[(Long, Int)].collect().toMap
    assert(byFilter == byIndex)
  }

  test("stratified sampling applies per-stratum fractions, drops unlisted strata") {
    val rates = Seq("0" -> 0.5, "1" -> 0.1).toDF("stratum", "rate")
    val out = Sampling.sampleByRates(docs, "stratum", "doc_id", rates)
    val byStratum = out.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(!byStratum.contains("2"))
    assert(math.abs(byStratum("0") - 3333 * 0.5) < 170)
    assert(math.abs(byStratum("1") - 3333 * 0.1) < 100)
  }

  test("stratified threshold matches sample() exactly for the same fraction") {
    // both paths must round the bucket cutoff identically — a raw double
    // product (0.1 * 10000 = 1000.0000000000001) would admit an extra
    // bucket in one of them
    val uniform = Sampling.sample(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet
    val all = docs.withColumn("stratum", lit("s"))
    val strat = Sampling.sampleByRates(all, "stratum", "doc_id",
        Seq("s" -> 0.1).toDF("stratum", "rate"))
      .select("doc_id").as[Long].collect().toSet
    assert(uniform == strat)
  }

  test("relation-shaped rates select per stratum exactly the rows sample() keeps") {
    val fractions = Map("0" -> 0.5, "1" -> 0.1, "2" -> 0.97)
    val perStratum = fractions.toSeq.flatMap { case (k, f) =>
      Sampling.sample(docs.filter($"stratum" === k), "doc_id", f)
        .select("doc_id").as[Long].collect()
    }.toSet
    val rates = fractions.toSeq.toDF("stratum", "rate")
    val viaRel = Sampling.sampleByRates(docs, "stratum", "doc_id", rates)
      .select("doc_id").as[Long].collect().toSet
    assert(perStratum == viaRel, "per-stratum sample() and rates must agree exactly")
    // a stratum missing from the rates relation is dropped
    val partial = Sampling.sampleByRates(docs, "stratum", "doc_id",
      rates.filter($"stratum" =!= "2"))
    assert(partial.filter($"stratum" === "2").count() === 0)
  }

  test("capPerGroup keeps exactly k per group with deterministic boundary") {
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L), // 3-way tie on size
      ("a", 4L, 50L),
      ("b", 5L, 10L))
      .toDF("source", "doc_id", "n_chars")
    val out = Sampling.capPerGroup(rows, "source",
        Seq(col("n_chars").desc, col("doc_id")), k = 2)
      .collect().map(r => r.getLong(1) -> (r.getInt(3), r.getBoolean(4))).toMap
    // ties broken by doc_id: 1,2 kept; 3 over the cap despite equal size
    assert(out(1L) === ((1, true)))
    assert(out(2L) === ((2, true)))
    assert(out(3L) === ((3, false)))
    assert(out(4L) === ((4, false)))
    assert(out(5L) === ((1, true)), "small group entirely kept")
  }

  test("snapshot diff classifies all four statuses") {
    import graft.operators.Snapshot
    val oldSnap = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = Snapshot.diff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val sums = Snapshot.summary(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums === Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("importance weights pull target-typical docs positive") {
    import graft.operators.Importance
    // 'wiki wiki' dominates target rows; 'spam' dominates the raw rest
    val docs = Seq(
      (1L, "wiki wiki wiki", true),
      (2L, "wiki wiki spam", true),
      (3L, "spam spam spam", false),
      (4L, "spam spam wiki", false),
      (5L, "neutral words here", false))
      .toDF("doc_id", "text", "is_target")
    val w = Importance.weights(docs, "doc_id", "text", "is_target",
        vocabSize = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > 0, "all-target-vocab doc must score positive")
    assert(w(3L) < 0, "all-raw-vocab doc must score negative")
    assert(w(1L) > w(2L), s"more target mass must rank higher: $w")
    assert(w(3L) < w(4L), s"more raw mass must rank lower: $w")
  }
}
