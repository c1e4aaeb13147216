package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Scratch, Tables}
import graft.streaming.{BloomIngest, EventStreams, NearDupIngest}

/** Batch-driven, oracle-checked replays of the streaming ingest loops.
  *
  * The streaming family (graft.streaming) is spec-proven — replay
  * exactness, batch parity, no-false-negative — but specs only assert
  * properties. The END STATE of an ingest over a DETERMINISTIC batch
  * sequence is a pure function of the data: slice the documents table
  * into fixed batches, drive the real Structured Streaming query
  * (file source, maxFilesPerTrigger=1, mtime-ordered), read the lake it
  * wrote, and hash-check every per-doc flag against a DuckDB
  * re-derivation of the whole loop — the Bloom probe against
  * strictly-earlier batches' bits, the within-batch canonical choice,
  * and the novelty verdict. The streaming family's first oracle entry.
  */
object StreamingQueries {

  /** Batch count for the Bloom-dedup replay. Three is the minimum that
    * proves the full strictly-earlier contract — batch 2 must probe the
    * OR-MERGE of two earlier batches' filter words, not a single filter —
    * and each extra batch is another round of state writes + probes of
    * pure harness cost (r9 shave: 4 → 3 batches, ~25% off the replay,
    * same contract). */
  private val NumBatches = 3

  /** Run `f` with spark.sql.shuffle.partitions scoped down for a replay.
    *
    * Streaming state cost is per (partition × state store × micro-batch),
    * not per row: every stateful operator checkpoints one delta file per
    * state partition per batch, and every foreachBatch shuffle schedules
    * that many reducers. At replay volume (≤ tens of MB per batch) 32
    * partitions is pure checkpoint + scheduler overhead; a handful
    * carries the same rows. A streaming query pins its state
    * partitioning at first checkpoint anyway, so this is the explicit
    * form of what a tuned deployment sets per stream. History: the r9
    * shave ran the replays at 8 (six-replay family 33.6 s → ~27 s, the
    * stateful window/session replays roughly halved); the r12 job-count
    * pass re-tuned the default to 4, which halves delta-file count per
    * stateful stage again and measured 27.9 s → 25.0 s for the family —
    * identical hash-checked end states both times.
    * The compute-bound ingest loops (Bloom/NearDup foreachBatch joins)
    * instead run at 16 — 8 measured SLOWER than 32 for them because the
    * bottleneck is shingle/probe compute parallelism, not state files. */
  private def withReplayPartitions[T](s: SparkSession, n: Int,
      aqe: Boolean)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", n)
    if (!aqe) s.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** One run of a replay's stream: the frames staged as its next
    * micro-batches, and its shuffle-partition count. */
  private final case class Run(frames: Seq[DataFrame], partitions: Int = 4)

  /** The replay driver: every q_stream_* query is one call.
    *
    * Each run stages its frames as the next one-file batches of a single
    * file source ([[stageBatchFrames]]), then starts `sink(stream,
    * stateDir, outDir)` over the `maxFilesPerTrigger=1` stream under
    * [[withReplayPartitions]] at the run's partition count, processes
    * everything staged, and stops. All runs share one checkpoint, so a
    * later run is a restart that resumes where the previous one stopped.
    * Once the stream has stopped, the source, staging, checkpoint and
    * state directories are deleted. The output directory stays until the
    * JVM exits ([[Scratch]]), because the frame a query returns reads it
    * lazily; its path is returned. */
  private def replay(s: SparkSession, runs: Seq[Run], aqe: Boolean = true)(
      sink: (DataFrame, String, String) => DataStreamWriter[Row]): String = {
    val made = scala.collection.mutable.Buffer.empty[Path]
    def tmp(prefix: String): Path = {
      val p = Files.createTempDirectory(prefix)
      made += p
      p
    }
    val out = Scratch.dir("replay-out")
    try {
      val src = tmp("replay-src")
      val state = tmp("replay-state").toString
      val ck = tmp("replay-ck").toString
      val stream = s.readStream.schema(runs.head.frames.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      runs.foldLeft(0) { (staged, run) =>
        stageBatchFrames(run.frames, src, staged, tmp)
        withReplayPartitions(s, run.partitions, aqe) {
          EventStreams.drain(
            sink(stream, state, out).option("checkpointLocation", ck))
        }
        staged + run.frames.size
      }
      out
    } finally made.foreach(p => FileUtils.deleteDirectory(p.toFile))
  }

  /** Write each batch frame as a single deterministically-named and
    * -timestamped parquet file so the file source's mtime ordering is the
    * batch order by construction; `offset` batches are already staged.
    *
    * All batches are staged in ONE Spark job: the frames union under a
    * batch tag, a repartition on the tag gives each batch exactly one
    * task, and partitionBy splits the write back into one part file per
    * batch (the tag column is stored in the path, not the file, so the
    * staged schema stays the frame schema). The previous per-frame
    * coalesce(1) writes were n separate jobs of harness overhead per
    * replay. Scratch directories come from `tmp`. */
  private def stageBatchFrames(frames: Seq[DataFrame], srcDir: Path,
      offset: Int, tmp: String => Path): Unit = if (frames.nonEmpty) {
    def firstPart(dir: Path): Path = Files.list(dir)
      .filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    val stage = tmp("replay-stage")
    frames.zipWithIndex
      .map { case (f, i) => f.withColumn("__b", lit(i)) }
      .reduce(_ unionByName _)
      .repartition(col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(stage.toString)
    frames.indices.foreach { i0 =>
      val i = i0 + offset
      val dir = stage.resolve(s"__b=$i0")
      val dst = srcDir.resolve(f"batch-$i%02d.parquet")
      if (Files.isDirectory(dir)) Files.copy(firstPart(dir), dst)
      else {
        // an EMPTY batch frame writes no partition dir — stage it the
        // one-frame way so the micro-batch still exists (and still
        // advances watermarks) instead of crashing the replay
        val single = tmp(s"replay-b$i")
        frames(i0).coalesce(1).write.mode("overwrite")
          .parquet(single.toString)
        Files.copy(firstPart(single), dst)
      }
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1000000000000L + i * 60000L))
    }
  }

  /** The documents table cut into `n` batches by doc_id mod n. */
  private def docBatches(docs: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => docs.filter(pmod(col("doc_id"), lit(n)) === i))

  private val D1 = lit("2024-01-11").cast("timestamp")
  private val D2 = lit("2024-01-21").cast("timestamp")

  /** The events cut into three time-ordered 10-day micro-batches. */
  private def tenDayBatches(ev: DataFrame): Seq[DataFrame] = Seq(
    ev.filter(col("ts") < D1),
    ev.filter(col("ts") >= D1 && col("ts") < D2),
    ev.filter(col("ts") >= D2))

  /** Append each micro-batch under `out`, tagged with its batch id when
    * `tag` is set. */
  private def appendBatches(df: DataFrame, mode: String, out: String,
      tag: Boolean = true): DataStreamWriter[Row] =
    df.writeStream.outputMode(mode).foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        (if (tag) batch.withColumn("batch_id", lit(batchId)) else batch)
          .write.mode("append").parquet(out)
    }

  /** The late-data window replays: the 1h-window, 1-day-watermark
    * aggregate of [[EventStreams.windowedAgg]], in append mode into a
    * parquet sink, over four micro-batches. The three 10-day blocks come
    * without the stragglers (event_id % `stragglerMod` = 0, ts < Jan 9);
    * the stragglers arrive with the last block, long after their windows
    * were emitted, and Spark must drop them. The FIRST flush sentinel
    * rides inside that last data batch: the late-input filter for that
    * batch runs on the previous batch's watermark (straggler drops
    * unchanged), while its 2024-03-01 event time advances the watermark
    * past January for the final, sentinel-only batch — one sentinel-only
    * micro-batch instead of two, same end state (each extra micro-batch
    * is a round of state IO + scheduling; r9/r12 shave discipline).
    * `runs` cuts the four batches into the driver's runs. */
  private def lateWindowReplay(s: SparkSession, d: String,
      stragglerMod: Int)(runs: Seq[DataFrame] => Seq[Run]): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value").cast(DecimalType(18, 6))
          .as("value"))
    val straggler = pmod(col("event_id"), lit(stragglerMod)) === 0 &&
      col("ts") < lit("2024-01-09").cast("timestamp")
    def sentinel(ts: String) = s.range(1).select(
      lit(-1L).as("event_id"), lit(ts).cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit("flush").as("event_type"),
      lit(null).cast(DecimalType(18, 6)).as("value"))
    val batches = Seq(
      ev.filter(col("ts") < D1 && !straggler),
      ev.filter(col("ts") >= D1 && col("ts") < D2),
      ev.filter(col("ts") >= D2 || straggler)
        .unionByName(sentinel("2024-03-01 00:00:00")),
      sentinel("2024-03-02 00:00:00"))
    val out = replay(s, runs(batches)) { (stream, _, out) =>
      EventStreams
        .windowedAgg(stream, windowLen = "1 hour", watermark = "1 day")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
    }
    s.read.parquet(out)
      .filter(col("event_type") =!= "flush")
      .select(col("window_start"), col("window_end"), col("event_type"),
        col("n_events"), col("total_value").cast("double")
          .as("total_value"))
      .orderBy("window_start", "event_type")
  }

  val defs: Seq[QueryDef] = Seq(

    // End state of the Bloom-prefiltered exact-dedup ingest after
    // NumBatches deterministic micro-batches (batch b = doc_id mod
    // NumBatches). The oracle
    // re-derives, per doc: maybe_present — the k=5 affine-md5 bit probe
    // against the OR of strictly-earlier batches' filter words (bit p set
    // in the merged filter ⟺ some earlier key hashed to p: word/bit ↔
    // position is bijective, so no bit_or needed in SQL) — plus the
    // within-batch canonical flag and the novelty verdict (first batch to
    // carry the content hash). A Bloom false positive shows up as
    // maybe_present=true with is_new=true — the exact-verify path the
    // filter exists to bound, visible and hash-checked in the artifact.
    QueryDef.sql(
      "q_stream_replay",
      raw"""WITH hashed AS (
         |  SELECT doc_id, doc_id % $NumBatches AS batch_id,
         |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ch
         |  FROM documents),
         |keys AS (SELECT DISTINCT batch_id, ch FROM hashed),
         |jj AS (SELECT unnest(generate_series(0, 4)) AS j),
         |pos AS (
         |  SELECT batch_id, ch, j,
         |    (${Det.h56Sql("ch")} + j * ${Det.h56Sql("ch", 17)}) % 65536 AS p
         |  FROM keys, jj),
         |epos AS (SELECT DISTINCT batch_id, p FROM pos),
         |hit AS (
         |  SELECT q.batch_id, q.ch, q.j,
         |    MAX(CASE WHEN e.p IS NOT NULL THEN 1 ELSE 0 END) AS hit
         |  FROM pos q LEFT JOIN epos e
         |    ON e.p = q.p AND e.batch_id < q.batch_id
         |  GROUP BY 1, 2, 3),
         |mp AS (
         |  SELECT batch_id, ch, MIN(hit) = 1 AS maybe_present
         |  FROM hit GROUP BY 1, 2),
         |fb AS (SELECT ch, MIN(batch_id) AS first_batch FROM keys GROUP BY 1)
         |SELECT h.doc_id, h.batch_id, mp.maybe_present,
         |  row_number() OVER (PARTITION BY h.batch_id, h.ch
         |                     ORDER BY h.doc_id) = 1 AS batch_canonical,
         |  h.batch_id = fb.first_batch AS is_new
         |FROM hashed h
         |JOIN mp ON mp.batch_id = h.batch_id AND mp.ch = h.ch
         |JOIN fb ON fb.ch = h.ch
         |ORDER BY h.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // 16, not the stateful replays' 4: the Bloom/NearDup ingest loops
      // are compute-bound foreachBatch joins (shingle/probe relations),
      // not state-store-bound — 8 measured SLOWER than 16/32 here, and
      // 16 edged out 32 (less scheduler overhead, same parallelism at
      // this batch volume)
      val out = replay(s, Seq(Run(docBatches(docs, NumBatches), 16)),
          aqe = false) { (stream, state, out) =>
        BloomIngest.writer(stream, "doc_id", "text", state, out)
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("batch_id").cast("long").as("batch_id"),
          col("maybe_present"), col("batch_canonical"), col("is_new"))
        .orderBy("doc_id")
    },

    // End state of the MinHash near-dup ingest after 2 deterministic
    // micro-batches (batch b = doc_id mod 2). The streamed pair lake
    // must equal the one-shot corpus LSH run EXACTLY (the probe caps
    // buckets at the combined corpus+batch population, so prefix caps
    // can only be tighter; on these corpora no bucket approaches the cap
    // — max population 8 at sf0.1), with each pair attributed to the
    // batch where its LATER member arrived (exactly-once reporting).
    // Oracle = the same banded-LSH + exact-Jaccard re-derivation that
    // checks dedup_minhash_lsh, plus the arrival attribution.
    QueryDef.sql(
      "q_stream_neardup_replay",
      s"""${Extensions.minhashPairsCte}
         |SELECT id_a, id_b, jaccard,
         |  GREATEST(id_a % 2, id_b % 2) AS reported_batch
         |FROM mh_pairs WHERE jaccard >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // 16, not 4 — compute-bound ingest loop, see q_stream_replay
      val out = replay(s, Seq(Run(docBatches(docs, 2), 16)), aqe = false) {
        (stream, index, out) =>
          NearDupIngest.writer(stream, "doc_id", "text", index, out,
            threshold = 0.8)
      }
      s.read.parquet(out)
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("batch_id").cast("long").as("reported_batch"))
        .orderBy("id_a", "id_b")
    },

    // End state of the WATERMARKED tumbling-window aggregate under late
    // data — the EventStreams.windowedAgg path driven for real (append
    // mode, parquet sink) over 4 deterministic micro-batches: three
    // 10-day time blocks of the events table, with an h-selected straggler
    // slice (event_id % 17 = 0 from the first 8 days) arriving in block
    // 2 — by then the 1-day watermark sits ~10 days past their windows,
    // so Spark MUST drop them (their state was emitted batches ago).
    // The stragglers stop a full day before block 0's edge because
    // Spark's LATE-INPUT filter runs one batch behind its EVICTION
    // watermark (measured on the checkpoint offsets log: batch 2 filters
    // with batch 1's watermark but emits with batch 2's), and rows in
    // that one-batch gray zone would re-enter still-live state —
    // plus two far-future 'flush' sentinel rows whose only job is to push
    // the watermark past January so every real window is emitted before
    // the stream stops. The oracle is the windowed aggregate over exactly
    // the non-straggler rows: the hash check pins the drop semantics, the
    // exactly-once emission, and the per-window sums (DECIMAL-cast value
    // so stream-partial addition order can't smear the hash).
    QueryDef.sql(
      "q_stream_window_replay",
      s"""WITH e AS (
         |  SELECT event_id, ts, event_type, value,
         |    event_id % 17 = 0 AND ts < TIMESTAMP '2024-01-09'
         |      AS is_straggler
         |  FROM events)
         |SELECT date_trunc('hour', ts) AS window_start,
         |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         |  event_type, COUNT(*) AS n_events,
         |  ${Det.dsumSql("value", 6)} AS total_value
         |FROM e WHERE NOT is_straggler
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      lateWindowReplay(s, d, 17)(batches => Seq(Run(batches)))
    },

    // Exactly-once across a RESTART — the recovery axis the other five
    // replays never exercise. Phase 1 ingests two micro-batches of the
    // 1h-window aggregate and STOPS with open January windows still in
    // the state store; a brand-new query instance resumes from the SAME
    // checkpoint over two more batches (the remaining data + late
    // stragglers + a watermark flush), and a third instance restarts once
    // more with nothing left to read. One hash check pins four recovery
    // contracts at once:
    //   (a) no window is lost or duplicated across the stop/start
    //       boundary — FileStreamSink's _spark_metadata commit log is the
    //       read path, so a re-attempted file can never double-count, and
    //       the source's seen-files log keeps phase-1 files from
    //       re-ingesting even though they are still in the directory;
    //   (b) the EVENT-TIME WATERMARK is recovered state, not session
    //       state: the stragglers (event_id % 13, ts < Jan 9) are staged
    //       only AFTER the restart, so only the phase-1 watermark
    //       persisted in the offsets log (~Jan 20) can drop them — a
    //       query that came back with a fresh watermark would aggregate
    //       them and fail the hash;
    //   (c) the shuffle-partition count pinned at the first checkpoint
    //       wins over the restart session's different setting (phase 2/3
    //       run under 8, the checkpoint pins 4) — state re-keying across
    //       a conf drift would corrupt every open window;
    //   (d) an idle restart (phase 3) emits nothing.
    // The oracle is the plain windowed aggregate over the non-straggler
    // rows — identical end state to a never-interrupted run.
    QueryDef.sql(
      "q_stream_restart_replay",
      s"""WITH e AS (
         |  SELECT event_id, ts, event_type, value,
         |    event_id % 13 = 0 AND ts < TIMESTAMP '2024-01-09'
         |      AS is_straggler
         |  FROM events)
         |SELECT date_trunc('hour', ts) AS window_start,
         |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         |  event_type, COUNT(*) AS n_events,
         |  ${Det.dsumSql("value", 6)} AS total_value
         |FROM e WHERE NOT is_straggler
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      // phase 1: two batches, stop with open windows + watermark ~Jan 20;
      // phase 2: a NEW query instance resumes from the checkpoint, the
      // stragglers only exist from here on, and the session now asks for
      // 8 shuffle partitions — the checkpoint's pinned 4 must win;
      // phase 3: idle restart — nothing new to read, nothing new emitted
      lateWindowReplay(s, d, 13)(batches => Seq(Run(batches.take(2), 4),
        Run(batches.drop(2), 8), Run(Nil, 8)))
    },

    // End state of the flatMapGroupsWithState SESSIONIZER (Update mode via
    // foreachBatch, event-time timeout) over three time-ordered 10-day
    // micro-batches: the final update per (user, session_start) — sessions
    // straddling a batch edge must merge (the state survives because the
    // 30-min-gap timeout sits past the watermark), duplicate closed-session
    // emissions collapse under last-update-wins, and idle keys evict
    // silently. The oracle is the batch islands-and-gaps sessionization:
    // custom streaming STATE hash-equal to the declarative form. The
    // stream's per-session value accumulates double-sequentially in ts
    // order; events carry exact 2-decimal values, so the r6 pin and the
    // oracle's DECIMAL sum agree with ~1e-11 of float headroom.
    QueryDef.sql(
      "q_stream_session_replay",
      s"""WITH marked AS (
         |  SELECT user_id, event_id, ts, COALESCE(value, 0) AS value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessioned AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, MIN(ts) AS session_start,
         |  COUNT(*) AS n_events,
         |  ${Det.roundNSql(s"CAST(${Det.dsumSql("value", 6)} AS DOUBLE)", 6)}
         |    AS total_value,
         |  MAX(ts) AS last_seen
         |FROM sessioned GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      import s.implicits._
      // NULL-safe before the typed cast: Event.value is a non-nullable
      // Double, so a NULL value row (the events schema allows one) would
      // throw at runtime inside the stream. Pin NULL -> 0 contribution on
      // BOTH engines (the oracle COALESCEs identically above).
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      val out = replay(s, Seq(Run(tenDayBatches(ev)))) { (stream, _, out) =>
        appendBatches(EventStreams.sessionize(s,
            stream.as[EventStreams.Event], gapMs = 30 * 60 * 1000L,
            watermark = "10 minutes").toDF(), "update", out)
      }
      val updates = s.read.parquet(out)
      val wLast = Window.partitionBy("user_id", "session_start")
        .orderBy(desc("batch_id"))
      updates
        .withColumn("__rn", row_number().over(wLast))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("session_start"), col("events")
            .as("n_events"),
          Det.roundN(col("total_value"), 6).as("total_value"),
          col("last_seen"))
        .orderBy("user_id", "session_start")
    },

    // End state of a STREAM-STATIC broadcast-join enrichment — the
    // remaining core streaming pattern after dedup/window/session: each
    // micro-batch of the event stream joins the STATIC customer
    // dimension (user_id+1 = c_custkey, broadcast — stateless, no
    // watermark, re-resolved per batch exactly as a slowly-changing dim
    // would be), the enriched rows land append-only with their batch id,
    // and the lake is rolled up per (batch, mktsegment). Batch
    // boundaries are the same three 10-day cuts as the sessionizer, so
    // the end state is a pure function of the data; the oracle derives
    // the batch id from the SAME date cuts and replays the join+rollup
    // in SQL. Hash-checks that per-batch enrichment neither drops,
    // duplicates, nor cross-contaminates batches.
    QueryDef.sql(
      "q_stream_enrich_replay",
      s"""WITH e AS (
         |  SELECT user_id, COALESCE(value, 0) AS value,
         |    CASE WHEN ts <  TIMESTAMP '2024-01-11' THEN 0
         |         WHEN ts <  TIMESTAMP '2024-01-21' THEN 1
         |         ELSE 2 END AS batch_id
         |  FROM events),
         |j AS (
         |  SELECT e.batch_id, c.c_mktsegment, e.value
         |  FROM e JOIN customer c ON c.c_custkey = e.user_id + 1)
         |SELECT batch_id, c_mktsegment, COUNT(*) AS n_events,
         |  ${Det.roundNSql(
             s"CAST(${Det.dsumSql("value", 6)} AS DOUBLE)", 6)} AS total_value
         |FROM j GROUP BY 1, 2
         |ORDER BY batch_id, c_mktsegment""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          coalesce(col("value"), lit(0.0)).as("value"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val out = replay(s, Seq(Run(tenDayBatches(ev)))) { (stream, _, out) =>
        appendBatches(stream.join(broadcast(dim),
          col("c_custkey") === col("user_id") + 1), "append", out)
      }
      s.read.parquet(out)
        .groupBy(col("batch_id"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          Det.roundN(Det.dsum(col("value"), 6).cast("double"), 6)
            .as("total_value"))
        .orderBy("batch_id", "c_mktsegment")
    },

    // End state of the STREAM-STREAM interval join — click→purchase
    // attribution driven for real: ONE file-source stream (the three
    // 10-day batches) self-joined as its click and purchase sides, the
    // time bound in the join condition so Spark derives state retention
    // from the 2-hour watermarks, pairs appended via foreachBatch. A
    // boundary click must match purchases arriving in LATER micro-batches
    // out of buffered state (the property the oracle pins): the end
    // state must equal the batch interval join EXACTLY — every in-bound
    // pair once, nothing duplicated across batches, nothing evicted
    // early. Rolled up per user with decimal-exact lag sums.
    QueryDef.sql(
      "q_stream_join_replay",
      s"""WITH l AS (
         |  SELECT user_id, ts AS l_ts FROM events
         |  WHERE event_type = 'click'),
         |r AS (
         |  SELECT user_id, ts AS r_ts FROM events
         |  WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT l.user_id,
         |    epoch_us(r.r_ts) - epoch_us(l.l_ts) AS lag_us
         |  FROM l JOIN r ON r.user_id = l.user_id
         |    AND r.r_ts >= l.l_ts
         |    AND r.r_ts <= l.l_ts + INTERVAL 6 HOUR)
         |SELECT user_id, COUNT(*) AS n_pairs,
         |  ${Det.roundNSql(
           "CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) / 1000000.0", 6)}
         |    AS avg_lag_sec
         |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      // stream-stream join state cost is per (partition × side × store
      // kind × batch), not per row (4 state stores per partition per
      // batch) — see withReplayPartitions.
      val out = replay(s, Seq(Run(tenDayBatches(ev)))) { (stream, _, out) =>
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id").as("l_user"), col("ts").as("l_ts"))
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("r_user"), col("ts").as("r_ts"))
        appendBatches(EventStreams.intervalJoin(clicks, purchases, "l_user",
            "r_user", "l_ts", "r_ts", maxDelay = "6 hours",
            watermark = "2 hours"), "append", out, tag = false)
      }
      s.read.parquet(out)
        .select(col("l_user").as("user_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("l_ts")))
            .as("lag_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          Det.roundN(sum(col("lag_us")).cast("double") / count(lit(1))
            / lit(1000000.0), 6).as("avg_lag_sec"))
        .orderBy("user_id")
    },
  )
}
