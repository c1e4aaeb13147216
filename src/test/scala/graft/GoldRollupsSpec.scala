package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.GoldRollups
import graft.engine.Scratch

class GoldRollupsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) =
    GoldRollups.defs.find(_.name == name).get.run(spark, sfDir)

  test("incremental gold merge equals full recompute, late events included") {
    import spark.implicits._
    import graft.engine.GoldMaintenance
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val all = Seq(
      (ts(1, 1), "click", 10.0), (ts(1, 2), "error", 5.0),
      (ts(2, 1), "click", 7.0), (ts(2, 2), "click", 1.5),
      (ts(3, 1), "view", 2.0),
      // the batch: all of day 4 plus a LATE event for day 1
      (ts(4, 1), "click", 9.0), (ts(4, 2), "error", 3.0),
      (ts(1, 5), "view", 4.0))
      .toDF("ts", "event_type", "value")
    // indices in (ts, event_type, value) sort order: the day-1 05:00 late
    // event sorts to 2; day 4's two events are 6 and 7
    val batchIdx = Set(2, 6, 7)
    val withIdx = all.withColumn("__i",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(
        "ts", "event_type", "value")) - 1)
    val batch = withIdx.filter(col("__i").isin(batchIdx.toSeq: _*))
    val existing = withIdx.filter(!col("__i").isin(batchIdx.toSeq: _*))
    val oldGold = GoldMaintenance.dailyAgg(existing)
    val touched = batch.select(to_date(col("ts")).as("touched_date")).distinct()
    // day 1 is touched (late event) → recomputed; days 2-3 pass through
    assert(touched.as[java.sql.Date].collect().map(_.toString).sorted.toSeq
      === Seq("2024-01-01", "2024-01-04"))
    val merged = GoldMaintenance.incrementalDaily(oldGold, all, touched)
      .orderBy("summary_date").collect().toSeq
    val full = GoldMaintenance.dailyAgg(all)
      .orderBy("summary_date").collect().toSeq
    assert(merged === full, "incremental maintenance must equal full recompute")
  }

  test("top5 JSON export is a rank-ordered list of {rank,country,confirmed} structs") {
    val row = run("q_gold_top5_json").collect().head
    val elem = StructType(Seq(
      StructField("rank", IntegerType),
      StructField("country", StringType),
      StructField("confirmed", DoubleType)))
    Seq("top_5_countries", "bottom_5_countries").foreach { c =>
      val js = row.getAs[String](c)
      assert(js.startsWith("[{") && js.endsWith("}]"), s"$c not a JSON list: $js")
      val parsed = spark.range(1).select(
        from_json(lit(js), ArrayType(elem)).as("a")).collect().head
      val items = parsed.getSeq[org.apache.spark.sql.Row](0)
      assert(items.size == 5, s"$c has ${items.size} entries")
      assert(items.map(_.getInt(0)) == Seq(1, 2, 3, 4, 5), s"$c ranks out of order")
    }
    // rank 1 of top list must dominate rank 5
    val top = row.getAs[String]("top_5_countries")
    val vals = spark.range(1).select(
        from_json(lit(top), ArrayType(elem)).as("a"))
      .select(explode(col("a")).as("e")).select("e.confirmed")
      .collect().map(_.getDouble(0)).toSeq
    assert(vals == vals.sorted.reverse, "top list not descending by confirmed")
  }

  test("weekly rollup: Monday week starts, bounded labels, peak >= avg") {
    val rows = run("q_gold_weekly_aggregates").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = r.getAs[java.sql.Date]("week_start_date")
      assert(ws.toLocalDate.getDayOfWeek == java.time.DayOfWeek.MONDAY)
      assert(Set("INCREASING", "DECREASING", "STABLE")
        .contains(r.getAs[String]("trend_direction")))
      assert(r.getAs[Long]("peak_day_records") >=
        math.floor(r.getAs[Double]("avg_daily_records")).toLong)
    }
  }

  test("monthly KPIs: new_users sums to distinct users overall, completeness in [0,100]") {
    val rows = run("q_gold_monthly_kpis").collect()
    assert(rows.nonEmpty)
    val totalNew = rows.map(_.getAs[Long]("new_users")).sum
    val distinctUsers = graft.engine.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(totalNew == distinctUsers,
      s"first-seen counts ($totalNew) must partition the $distinctUsers users")
    rows.foreach { r =>
      val c = r.getAs[Long]("data_completeness_score")
      assert(c >= 0 && c <= 100)
    }
  }

  // Edge semantics of the r12 window-edge-probe rewrite of linear
  // attribution (no purchase×touch pair relation). Pins exactly the
  // boundaries the cumulative-count probes encode: a touch EXACTLY 72 h
  // before the purchase is in-window; one microsecond-class earlier is
  // out; a same-instant touch counts iff its event_id is smaller than
  // the purchase's; no-touch purchases fall to '(direct)'; NULL purchase
  // values credit 0 but still count.
  test("linear attribution window edges: 72h boundary, same-ts tie, direct, NULL value") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val p1 = ts("2024-01-10 00:00:00") // user 1's purchase instant
    val events = Seq(
      // user 1: purchase id=100 value=6.0 with exactly 3 in-window touches
      (100L, p1, 1L, "purchase", Some(6.0)),
      (10L, ts("2024-01-07 00:00:00"), 1L, "click", None), // exactly −72h: IN
      (11L, ts("2024-01-06 23:59:59"), 1L, "view", None),  // past the edge: OUT
      (50L, p1, 1L, "click", None),                        // same ts, id<100: IN
      (150L, p1, 1L, "view", None),                        // same ts, id>100: OUT
      (60L, ts("2024-01-09 23:00:00"), 1L, "view", None),  // inside: IN
      // user 2: purchase with no touches at all → (direct)
      (200L, ts("2024-01-05 12:00:00"), 2L, "purchase", Some(5.0)),
      // user 3: NULL-value purchase with one in-window click
      (250L, ts("2024-01-08 11:00:00"), 3L, "click", None),
      (300L, ts("2024-01-08 12:00:00"), 3L, "purchase", None),
      // the ghost-channel case: 'email' touches exist but every one is
      // outside every purchase window, so the channel must emit NO
      // output row at all — not a (email, 0, 0.0) placeholder
      (400L, ts("2024-01-01 00:00:00"), 1L, "email", None),
      (401L, ts("2023-12-25 00:00:00"), 3L, "email", None),
      // negative event ids: the start-edge probe must still sort below
      // this same-instant-at-the-edge touch (exactly −72h from p1 → IN)
      (-7L, ts("2024-01-07 00:00:00"), 1L, "click", None))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
    val dir = java.nio.file.Paths.get(Scratch.dir("attr-fixture"))
    events.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val out = GoldRollups.defs.find(_.name == "q_attribution_linear").get
      .run(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // user 1: n=4 → credit 1.5 each (click×3 incl. the negative-id edge
    // touch, view×1); user 2 direct 5.0; user 3: click credit 0.0 (NULL
    // value) but still one credit row; email: touches exist but none
    // in-window anywhere → ABSENT from the output entirely
    assert(out === Seq(
      ("(direct)", 1L, 5.0),
      ("click", 4L, 4.5),
      ("view", 1L, 1.5)))
    assert(!out.exists(_._1 == "email"),
      "zero-credit channel must not emit a ghost row")
  }
}
