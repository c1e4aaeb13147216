package layerbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with LocalSpark {

  test("a write is attributed to a branch by the lake table it targets") {
    assert(Branches.of("/l/bronze/events").contains("bronze"))
    assert(Branches.of("file:/l/bronze/events_processed/").contains("bronze"))
    assert(Branches.of("/l/silver/covid_timeseries").contains("silver"))
    assert(Branches.of("/l/silver/clean_posts").contains("silver"))
    assert(Branches.of("/l/silver/quality_logs").contains("quality"))
    assert(Branches.of("/l/gold/daily_global_summary").contains("gold"))
    assert(Branches.of("/l/exports/daily_global_summary_csv").contains("export"))
    assert(Branches.of("/l/scratch/out").isEmpty)
    assert(Branches.of("events").isEmpty)
  }

  test("the tracer times pipeline writes per branch, and only inside a pipeline op") {
    val lake = Files.createTempDirectory("tracer-lake").toString
    val p = new graft.engine.Pipeline(spark, lake)
    val df = spark.range(100).toDF("id")
    val t = new Tracer(spark)
    t.attach()
    try {
      t.begin(pipeline = true)
      p.writeOverwrite(df, "gold", "g")
      p.writeAppend(df, "silver", "quality_logs")
      val (in, _) = t.end()
      assert(in.getOrElse("pipeline.gold_s", 0.0) > 0)
      assert(in.getOrElse("pipeline.quality_s", 0.0) > 0)
      assert(!in.contains("pipeline.bronze_s") && !in.contains("pipeline.silver_s"))
      assert(in("io.records_written") == 200)
      assert(in("scheduler.jobs") >= 2)

      t.begin(pipeline = false)
      p.writeOverwrite(df, "bronze", "b")
      val (out, _) = t.end()
      assert(!out.keys.exists(_.startsWith("pipeline.")))
    } finally t.detach()
  }

  test("plan shape counts read the final adaptive plan") {
    val t = new Tracer(spark)
    t.attach()
    try {
      t.begin(pipeline = false)
      val a = spark.range(1000).selectExpr("id % 10 AS k", "id AS v")
      val b = spark.range(10).selectExpr("id AS k")
      a.join(b, "k").groupBy("k").count().collect()
      val (c, _) = t.end()
      assert(c.getOrElse("plan.exchanges", 0.0) >= 1)
      assert(c.getOrElse("plan.broadcast_joins", 0.0) + c.getOrElse("plan.sort_merge_joins", 0.0) == 1)
      assert(c.getOrElse("catalyst.planning_s", -1.0) >= 0)

      t.begin(pipeline = false)
      a.groupBy("k").count().write.parquet(Files.createTempDirectory("tracer-out").toString + "/t")
      val (w, _) = t.end()
      assert(w.getOrElse("plan.exchanges", 0.0) >= 1, "a write's plan is counted too")
    } finally t.detach()
  }
}
