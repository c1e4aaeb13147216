package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Quality
import graft.functions.TextFunctions

class QualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("check families count failures correctly on a known fixture") {
    val users = Seq(
      (1L, "a@b.com", 10.0),
      (2L, null.asInstanceOf[String], -5.0),
      (3L, "not-an-email", 0.0))
      .toDF("id", "email", "balance")
    val refs = Seq(1L, 2L).toDF("id")
    import Quality._
    val report = Quality.run(
      Map("users" -> users, "refs" -> refs).apply,
      Seq(
        NotNull("users", "email"),
        Format("users", "email", "^[^@]+@[^@]+\\.[a-z]+$"),
        Bounds("users", "balance", lit(0.0), lit(100.0)),
        Rule("users", "rule_negative_balance", col("balance") < 0),
        Referential("users", "id", "refs", "id"),
        Freshness("users", "balance", lit(1000.0))))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(report("null_check_email") === (3L, 1L))
    assert(report("format_check_email") === (3L, 2L)) // null + bad format
    assert(report("range_check_balance") === (3L, 1L))
    assert(report("rule_negative_balance") === (3L, 1L))
    assert(report("referential_check_id") === (3L, 1L)) // id=3 orphan
    assert(report("freshness_check_balance") === (1L, 1L)) // max 10 < 1000
  }

  test("unique check counts every member of a duplicated key group") {
    val rows = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (3L, "e"), (3L, "f"))
      .toDF("id", "v")
    import Quality._
    val out = Quality.run(Map("t" -> rows).apply, Seq(Unique("t", "id")))
      .collect().head
    assert(out.getLong(2) === 6L, "records_checked = all rows")
    assert(out.getLong(3) === 5L, "two dup groups of 2 and 3 rows fail")
    assert(out.getString(5) === "FAIL")
    val clean = Quality.run(
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")).apply,
      Seq(Unique("t", "id"))).collect().head
    assert(clean.getLong(3) === 0L && clean.getString(5) === "PASS")
  }

  test("score = percent of checks passed") {
    val df = Seq((1L, "x")).toDF("id", "v")
    import Quality._
    val rep = Quality.run(Map("t" -> df).apply,
      Seq(NotNull("t", "v"), Rule("t", "always_fail", lit(true))))
    val s = Quality.score(rep).collect().head
    assert(s.getLong(0) === 2 && s.getLong(1) === 1 && s.getDouble(2) === 50.0)
  }

  test("text functions: counts, quality, langid, fingerprint") {
    val t = "The quick brown fox, and the lazy dog!"
    val df = Seq((1L, t)).toDF("id", "text")
    val row = df.select(
      TextFunctions.wordCount(col("text")).as("wc"),
      TextFunctions.punctCount(col("text")).as("pc"),
      TextFunctions.tokenHits(col("text"), TextFunctions.stopwordsEn).as("sc"),
      TextFunctions.langId(TextFunctions.langHits(col("text"))).as("lang"),
      TextFunctions.hasLinks(col("text")).as("links")).collect().head
    assert(row.getLong(0) === 8)
    assert(row.getLong(1) === 2)
    assert(row.getInt(2) === 3) // the, and, the
    assert(row.getString(3) === "en")
    assert(!row.getBoolean(4))
    // fingerprint invariant under word order + duplication
    val fp = Seq((1L, "b a b"), (2L, "a b a a")).toDF("id", "text")
      .select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fp(0) === fp(1))
  }

  test("drift: shifted group flagged, in-family groups not, flat corpus silent") {
    import graft.operators.Drift
    // bulk groups a/b sit at 10±2; a SMALL group c at 30 — a clear mean
    // shift that barely moves the corpus moments (the realistic shape:
    // one bad source in a large corpus)
    val rows = (Seq.fill(20)(("a", 8L)) ++ Seq.fill(20)(("a", 12L)) ++
      Seq.fill(20)(("b", 9L)) ++ Seq.fill(20)(("b", 11L)) ++
      Seq.fill(5)(("c", 30L))).toDF("src", "v")
    val out = Drift.meanShift(rows, "src", "v")
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getBoolean(4))))
      .toMap
    assert(out("c")._2, s"shifted group must flag (got ${out("c")})")
    assert(!out("a")._2 && !out("b")._2, s"in-family groups must not flag: $out")
    assert(out("c")._1 === 30.0)
    // zero-variance corpus: stat 0 everywhere, nothing flagged
    val flat = Seq.fill(6)(("a", 5L)).++(Seq.fill(6)(("b", 5L)))
      .toDF("src", "v")
    assert(Drift.meanShift(flat, "src", "v")
      .filter(col("is_drifted")).count() === 0)
  }

  test("frozen-baseline drift catches a corpus-wide shift self-drift absorbs") {
    import graft.operators.Drift
    // baseline at 10±2; EVERY group in the current batch shifted to 20 —
    // the self-referential check sees identical groups (no relative
    // shift), the frozen-baseline check flags them all
    val baseline = (Seq.fill(20)(("a", 8L)) ++ Seq.fill(20)(("a", 12L)) ++
      Seq.fill(20)(("b", 9L)) ++ Seq.fill(20)(("b", 11L))).toDF("src", "v")
    val current = (Seq.fill(10)(("a", 20L)) ++ Seq.fill(10)(("b", 20L)))
      .toDF("src", "v")
    val ref = Drift.referenceMoments(baseline, "v")
    val vsRef = Drift.meanShiftAgainst(current, "src", "v", ref)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(vsRef("a") && vsRef("b"), s"corpus-wide shift must flag: $vsRef")
    val selfRef = Drift.meanShift(current, "src", "v")
      .filter(col("is_drifted")).count()
    assert(selfRef === 0, "self-referential check absorbs the shift")
    // in-distribution data (the baseline itself) stays quiet
    val calm = Drift.meanShiftAgainst(baseline, "src", "v", ref)
    assert(calm.filter(col("is_drifted")).count() === 0)
  }

  test("histogram drift flags a variance explosion the mean tests miss") {
    import graft.operators.Drift
    // baseline is a 40/60 mix (mean 50, real variance); group a matches
    // it; group b is split to the extremes 5/95 — SAME mean 50, totally
    // different shape
    val baseline = (Seq.fill(50)(("x", 40L)) ++ Seq.fill(50)(("x", 60L)))
      .toDF("src", "v")
    val current = (Seq.fill(15)(("a", 40L)) ++ Seq.fill(15)(("a", 60L)) ++
      Seq.fill(15)(("b", 5L)) ++ Seq.fill(15)(("b", 95L))).toDF("src", "v")
    val refH = Drift.referenceHistogram(baseline, "v", nBins = 10,
      lo = 0.0, hi = 100.0)
    val hist = Drift.histogramShift(current, "src", "v", refH,
        nBins = 10, lo = 0.0, hi = 100.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(!hist("a"), "matching shape stays quiet")
    assert(hist("b"), "variance explosion flagged")
    // ...while BOTH mean checks are blind to it
    val refM = Drift.referenceMoments(baseline, "v")
    val meanB = Drift.meanShiftAgainst(current.filter($"src" === "b"),
      "src", "v", refM).collect().head
    assert(!meanB.getBoolean(4), "mean-vs-baseline cannot see the split")
  }
}
