package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Scratch, Stage}
import graft.operators.Dedup

/** Staging is a cost choice, not a semantics one: the same pipeline must
  * produce identical results whether Stage materializes (`local`) or not
  * (`none`). Exercises both a multi-consumer staged intermediate (minhash
  * pair pipeline) and an iterative stagedAlways loop (connected
  * components), which covers the two staging shapes the engine uses. */
class StageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val words = (0 until 60).map(i => s"w$i")
  private val base = words.mkString(" ")
  private val docs = Seq(
    (1L, base),
    (2L, "  " + base.toUpperCase + "  "),
    (3L, (words.take(55) ++ Seq("x1", "x2", "x3", "x4", "x5")).mkString(" ")),
    (4L, (0 until 60).map(i => s"zz$i").mkString(" ")),
    (5L, base + " tail"))
    .toDF("doc_id", "text")

  private def withMode[A](mode: String)(f: => A): A = {
    val prev = spark.conf.getOption(Stage.modeKey)
    spark.conf.set(Stage.modeKey, mode)
    try f
    finally prev match {
      case Some(m) => spark.conf.set(Stage.modeKey, m)
      case None    => spark.conf.unset(Stage.modeKey)
    }
  }

  private def runPipeline(): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val pairSet = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val clusters = Dedup.connectedComponents(
      pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    (pairSet, clusters)
  }

  test("all staging modes produce identical results") {
    val reference = withMode("local")(runPipeline())
    assert(reference._1.nonEmpty && reference._2.nonEmpty)
    assert(withMode("none")(runPipeline()) === reference,
      "mode none diverged from local")
  }

  test("none mode skips materialization but iterative loops still cut lineage") {
    withMode("none") {
      val df = docs.select("doc_id")
      // materialize is a no-op → same plan object semantics (no new rdd scan)
      assert(Stage.materialize(df) eq df)
      // materializeAlways still stages (localCheckpoint fallback)
      assert(Stage.materializeAlways(df) ne df)
    }
  }

  test("unknown mode fails fast") {
    for (mode <- Seq("zeppelin", "reliable", "parquet")) withMode(mode) {
      for (stage <- Seq[DataFrame => DataFrame](
          Stage.materialize, Stage.materializeAlways)) {
        val e = intercept[IllegalArgumentException](stage(docs))
        assert(e.getMessage.contains("local | none"), e.getMessage)
      }
    }
  }

  test("spread repartitions an under-split scan-like frame") {
    // a genuine single-file parquet scan + a row-wise projection = the
    // under-split shape the guard exists for (coalesce(1) would not do:
    // Repartition is itself a non-scan-like node, correctly passed through)
    val dir = Scratch.dir("stage-spread")
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir).select($"doc_id",
      org.apache.spark.sql.functions.upper($"text").as("t"))
    val out = Stage.spread(one, $"doc_id")
    assert(out.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("spread passes composed plans through without probing them") {
    // a plan with an aggregate: under AQE, probing its partition count
    // via .rdd would EXECUTE every query stage eagerly (the r16 measured
    // pathology in the curation exports) — spread must return the frame
    // untouched, not add a repartition and not run the upstream chain
    val agg = docs.groupBy("doc_id").count()
    assert(Stage.spread(agg, $"doc_id") eq agg)
    val joined = docs.join(docs.select($"doc_id"), Seq("doc_id"))
    assert(Stage.spread(joined, $"doc_id") eq joined)
  }

  test("materializeIfComputed no-ops on at-rest frames, stages computed ones") {
    // scan-like (projection over a leaf): already at rest, no staging
    val atRest = docs.select($"doc_id")
    assert(Stage.materializeIfComputed(atRest) eq atRest)
    // aggregate output: multi-consumer reads would re-run it — staged
    val computed = docs.groupBy("doc_id").count()
    val staged = Stage.materializeIfComputed(computed)
    assert(staged ne computed)
    assert(staged.count() === computed.count())
  }
}
