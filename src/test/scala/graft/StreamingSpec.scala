package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.engine.Scratch

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val sourceDir = {
    // stage a small parquet file-stream source from testdata events
    val dir = Scratch.dir("stream-src")
    graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamingEvents = spark.readStream
    .schema(spark.read.parquet(sourceDir).schema)
    .parquet(sourceDir)

  test("windowed aggregation with watermark matches batch totals") {
    EventStreams.runToMemory(
      EventStreams.windowedAgg(streamingEvents, "1 hour", "1 hour", "2 hours"),
      "win_out")
    val streamed = spark.table("win_out")
      .agg(sum("n_events")).as[Long].collect().head
    val batch = spark.read.parquet(sourceDir).count()
    assert(streamed === batch, "no rows lost in windowing")
    assert(spark.table("win_out").count() > 100, "many distinct windows")
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    // duplicate the source file so every event_id appears twice
    val dir = Scratch.dir("stream-dup")
    val src = spark.read.parquet(sourceDir)
    src.coalesce(1).write.mode("append").parquet(dir)
    src.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(src.schema).parquet(dir)
    EventStreams.runToMemory(
      EventStreams.streamingDedup(stream).select("event_id"),
      "dedup_out", OutputMode.Append())
    val n = spark.table("dedup_out").count()
    assert(n === src.count(), s"expected ${src.count()} unique ids, got $n")
  }

  test("streaming near-dup ingest accumulates the full-corpus pair set") {
    import graft.streaming.NearDupIngest
    // 60-word docs: 2≈1 (tail swap, jaccard ~0.84), 4=3 exactly, 5 unrelated.
    // Split so each near-dup pair SPANS batches or sits within one: batch A
    // = {1, 3}, batch B = {2, 4, 5} → pair (1,2) is cross-batch, (3,4) too.
    val words = (0 until 60).map(i => s"n$i")
    val base = words.mkString(" ")
    val variant = (words.dropRight(5) ++ (0 until 5).map(i => s"x$i")).mkString(" ")
    val docsA = Seq((1L, base), (3L, "z " + base)).toDF("doc_id", "text")
    val docsB = Seq((2L, variant), (4L, "z " + base), (5L, (0 until 60)
      .map(i => s"q$i").mkString(" "))).toDF("doc_id", "text")
    val srcDir = Scratch.dir("neardup-src")
    docsA.coalesce(1).write.mode("append").parquet(srcDir)
    docsB.coalesce(1).write.mode("append").parquet(srcDir)
    val idxDir = Scratch.dir("neardup-idx") + "/idx"
    val pairsDir = Scratch.dir("neardup-pairs") + "/pairs"
    val stream = spark.readStream.schema(docsA.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    EventStreams.drain(NearDupIngest.writer(stream, "doc_id", "text",
      idxDir, pairsDir, threshold = 0.8))
    val streamed = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oneShot = graft.operators.Dedup.minhashNearDups(
        docsA.unionByName(docsB), "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot,
      s"streamed $streamed must equal one-shot $oneShot")
    assert(streamed.contains((3L, 4L)) || streamed.contains((1L, 2L)),
      "cross-batch pairs surface")
    // replaying the whole source against the SAME index/pairs dirs must
    // not duplicate anything (dynamic partition overwrite per batch_id)
    val stream2 = spark.readStream.schema(docsA.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    EventStreams.drain(NearDupIngest.writer(stream2, "doc_id", "text",
      idxDir, pairsDir, threshold = 0.8))
    val replayed = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(replayed === oneShot, "replay is idempotent")
    assert(spark.read.parquet(s"$idxDir/sizes").select("id").distinct()
      .count() === 5, "index holds every doc exactly once")
  }

  test("streaming Bloom-prefiltered exact dedup matches sequential ground truth") {
    import graft.streaming.BloomIngest
    // batch A: two distinct docs + an intra-batch duplicate of doc 1;
    // batch B: a cross-batch duplicate of doc 1, a new doc, a dup of 2
    val docsA = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "ALPHA  beta GAMMA")).toDF("doc_id", "text") // 3 normalizes == 1
    val docsB = Seq((4L, "alpha beta gamma"), (5L, "zeta eta theta"),
      (6L, "delta epsilon")).toDF("doc_id", "text")
    val srcDir = Scratch.dir("bloom-src")
    docsA.coalesce(1).write.mode("append").parquet(srcDir)
    docsB.coalesce(1).write.mode("append").parquet(srcDir)
    val stDir = Scratch.dir("bloom-state") + "/st"
    val outDir = Scratch.dir("bloom-out") + "/out"
    val stream = spark.readStream.schema(docsA.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    EventStreams.drain(
      BloomIngest.writer(stream, "doc_id", "text", stDir, outDir))
    val out = spark.read.parquet(outDir)
      .select("doc_id", "maybe_present", "batch_canonical", "is_new")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // is_new = content unseen in PRIOR batches (intra-batch dups are
    // still new; batch_canonical resolves them)
    assert(out(1L)._3 && out(2L)._3 && out(3L)._3, "batch A all new")
    assert(out(1L)._2 && !out(3L)._2, "intra-batch dup: first id canonical")
    assert(!out(4L)._3 && out(5L)._3 && !out(6L)._3, "cross-batch dups flagged")
    // the pre-filter contract: every prior-corpus dup was maybe_present
    assert(out(4L)._1 && out(6L)._1, "no false negatives")
    // replay against the same state must reproduce identical rows
    val stream2 = spark.readStream.schema(docsA.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    EventStreams.drain(
      BloomIngest.writer(stream2, "doc_id", "text", stDir, outDir))
    val replayed = spark.read.parquet(outDir)
      .select("doc_id", "is_new").as[(Long, Boolean)].collect().toMap
    assert(replayed === out.map { case (k, v) => k -> v._3 },
      "replay is idempotent")
    assert(spark.read.parquet(s"$stDir/hashes").select("doc_id")
      .distinct().count() === 6, "state holds every doc exactly once")
  }

  test("stream-static enrichment joins each micro-batch against the dim without state") {
    val dim = graft.engine.Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey"), col("c_mktsegment"))
    EventStreams.runToMemory(
      EventStreams.enrich(streamingEvents, dim, "user_id", "c_custkey")
        .select("event_id", "user_id", "c_mktsegment"),
      "enrich_out", OutputMode.Append())
    val out = spark.table("enrich_out")
    val batch = spark.read.parquet(sourceDir)
    assert(out.count() === batch.count(), "left join keeps every event")
    val expectedMatched = batch.join(dim,
      batch("user_id") === dim("c_custkey")).count()
    assert(out.filter(col("c_mktsegment").isNotNull).count() === expectedMatched)
  }

  test("stateful sessionization accumulates per-user state") {
    val sessions = EventStreams.sessionize(spark,
      streamingEvents.as[EventStreams.Event])
    EventStreams.runToMemory(sessions.toDF(), "sess_out", OutputMode.Update())
    val out = spark.table("sess_out")
    // a session's row count grows monotonically; its final size is the max
    // per (user, session_start), and the sessions partition the stream
    val totals = out.groupBy("user_id", "session_start")
      .agg(max("events").as("events"))
      .agg(sum("events")).as[Long].collect().head
    assert(totals === spark.read.parquet(sourceDir).count())
    val span = out.filter($"events" > 1).count()
    assert(span > 0, "sessions accumulate across events")
  }

  test("sliding windows place every event in windowLen/slide windows") {
    EventStreams.runToMemory(
      EventStreams.windowedAgg(streamingEvents, "2 hours", "1 hour", "2 hours"),
      "slide_out")
    val streamed = spark.table("slide_out")
      .agg(sum("n_events")).as[Long].collect().head
    val batch = spark.read.parquet(sourceDir).count()
    assert(streamed === 2 * batch,
      "2h windows sliding by 1h → each event in exactly 2 windows")
  }

  test("stream-stream interval join matches the batch join") {
    val src = spark.read.parquet(sourceDir)
    def side(tpe: String, k: String, t: String) = streamingEvents
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(k), col("ts").as(t))
    EventStreams.runToMemory(
      EventStreams.intervalJoin(
        side("click", "l_user", "l_ts"), side("purchase", "r_user", "r_ts"),
        "l_user", "r_user", "l_ts", "r_ts", maxDelay = "24 hours"),
      "ivj_out", OutputMode.Append())
    val batch = {
      val l = src.filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"))
      val r = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"))
      l.join(r, col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 24 hours")).count()
    }
    assert(spark.table("ivj_out").count() === batch,
      "every in-bound click→purchase pair emitted exactly once")
  }

  test("late event within watermark never rewinds the session boundary") {
    // batch 1: in-order events at 10:00 and 10:08. batch 2: a late event
    // at 10:03 (within watermark) then 10:15. With a 10-minute gap the
    // whole thing is ONE session — but if merging the late event rewound
    // last_seen to 10:03, the 10:15 event (12 min later) would wrongly
    // open a second session.
    import java.sql.Timestamp
    val dir = Scratch.dir("stream-late")
    def writeBatch(rows: Seq[(Long, String)]): Unit = {
      rows.map { case (id, t) =>
        EventStreams.Event(id, Timestamp.valueOf(t), 42L, "click", 1.0)
      }.toDS().coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct file mod-times → stable trigger order
    }
    writeBatch(Seq(1L -> "2020-01-01 10:00:00", 2L -> "2020-01-01 10:08:00"))
    writeBatch(Seq(3L -> "2020-01-01 10:03:00", 4L -> "2020-01-01 10:15:00"))
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", false)
      .parquet(dir)
    val sessions = EventStreams.sessionize(spark, stream.as[EventStreams.Event],
      gapMs = 10 * 60 * 1000L)
    EventStreams.runToMemory(sessions.toDF(), "late_out", OutputMode.Update())
    val out = spark.table("late_out").filter($"user_id" === 42L)
    val starts = out.select("session_start").distinct().count()
    assert(starts === 1L, "late event must not split the session")
    val finalEvents = out.agg(max("events")).as[Long].collect().head
    assert(finalEvents === 4L, "all four events land in the one session")
  }

  test("foreachBatch lake sink lands every event; replay does not duplicate") {
    val lake = Scratch.dir("stream-lake")
    val p = new graft.engine.Pipeline(spark, lake)
    val withDate = streamingEvents.withColumn("event_date",
      to_date(col("ts")))
    EventStreams.toLake(withDate, p, "bronze", "events_stream", "event_date")
    val landed = p.read("bronze", "events_stream")
    val src = spark.read.parquet(sourceDir)
    assert(landed.count() === src.count(), "every event landed exactly once")
    assert(landed.columns.contains("batch_id"), "replay key present")
    // simulate a replay of batch 0: rewriting the same partitions with the
    // same rows must leave the row count unchanged (idempotence)
    val batch0 = landed.filter(col("batch_id") === 0)
      .drop("batch_id", "event_date")
      .withColumn("event_date", to_date(col("ts")))
    p.upsertBatch(batch0, "bronze", "events_stream", "event_date", 0L)
    assert(p.read("bronze", "events_stream").count() === src.count(),
      "replaying a batch is a no-op")
  }

  test("streaming sessionization agrees with the batch operator") {
    val sessions = EventStreams.sessionize(spark,
      streamingEvents.as[EventStreams.Event])
    EventStreams.runToMemory(sessions.toDF(), "sess_eq_out", OutputMode.Update())
    // final state per session = last update row per (user, session_start)
    val streamed = spark.table("sess_eq_out")
      .groupBy("user_id", "session_start")
      .agg(max("events").as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    val batch = SparkEntry.queries("w_sessionize_batch")(
        spark, "/root/testdata/sf0.001")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "per-user session counts and sizes must match the batch operator")
  }

  test("native session_window agrees with the stateful sessionizer AND batch") {
    // Complete mode: the file source delivers one batch, so the
    // watermark never passes the tail sessions — Append would hold them
    // back forever; Complete emits the full (still-bounded) session set
    val sw = EventStreams.sessionWindowAgg(streamingEvents)
    EventStreams.runToMemory(sw, "sw_out", OutputMode.Complete())
    val viaWindow = spark.table("sw_out")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    val batch = SparkEntry.queries("w_sessionize_batch")(
        spark, "/root/testdata/sf0.001")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    assert(viaWindow.exceptAll(batch).isEmpty && batch.exceptAll(viaWindow).isEmpty,
      "session_window per-user sessions must match the batch operator")
  }
}
