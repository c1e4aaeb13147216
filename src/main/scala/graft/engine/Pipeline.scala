package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Medallion orchestrator (SURVEY §3.1): bronze → silver → gold over a
  * Parquet lake, replacing the reference's Postgres+MinIO split
  * (orchestration/medallion_pipeline.py) with one storage layer.
  *
  * Sink semantics mapped from SURVEY §2.2:
  *   K3 truncate-then-load        → mode(Overwrite)
  *   K2 chunked append            → mode(Append) (per-partition task writes)
  *   K4 keyed upsert              → dynamic partition overwrite on the date
  *                                  key ([[Pipeline.overwritePartitions]]):
  *                                  rewrites only the partitions present in
  *                                  the incoming batch — the reference's
  *                                  DELETE WHERE date=…; INSERT, at scale
  *   K5 object-store export       → csv/json writes under exports/
  *   K6 run metadata              → JSON file per run
  *   K7 quality-log append        → Append to quality_logs table
  *
  * Layer tables are partitioned by their date key where one exists, so
  * downstream reads get partition pruning + dynamic partition overwrite
  * gets its unit of idempotent rewrite.
  */
final class Pipeline(spark: SparkSession, lakeDir: String) {

  import Pipeline.overwritePartitions

  private def path(layer: String, table: String) = s"$lakeDir/$layer/$table"

  def writeOverwrite(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(layer, table))

  def writeAppend(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path(layer, table))

  /** K4: rewrite only the date partitions present in `df`. */
  def upsertByDate(df: DataFrame, layer: String, table: String,
      dateCol: String): Unit =
    overwritePartitions(df, path(layer, table), dateCol)

  /** Streaming-sink variant of K4: partitioned by (date, batch_id) so a
    * REPLAYED micro-batch dynamically overwrites exactly its own
    * partitions — idempotent under checkpoint-restart — while distinct
    * batches that touch the same date land in sibling partitions instead
    * of clobbering each other. */
  def upsertBatch(df: DataFrame, layer: String, table: String,
      dateCol: String, batchId: Long): Unit =
    Pipeline.overwriteBatch(df, path(layer, table), batchId, dateCol)

  def read(layer: String, table: String): DataFrame =
    spark.read.parquet(path(layer, table))

  /** Apply a CDC batch — the MERGE INTO equivalent over a partitioned
    * parquet lake. `changes` carries an op column ('I' insert, 'U'
    * update, 'D' delete) plus the full row image for I/U. Semantics:
    * every changed key's OLD version disappears (wherever it lived —
    * updates that move a row across partitions are handled, because
    * deletion goes by key, not by the new image's partition), then the
    * I/U images land in their partitions via partitioned append. Both
    * phases touch only partitions that carry a change.
    *
    * The batch must hold at most one change per key (the usual CDC
    * compaction contract); pass `seqCol` to keep-last dedup a raw feed
    * by that ordering first. */
  def applyCdc(layer: String, table: String, partCol: String,
      keyCol: String, changes: DataFrame,
      seqCol: Option[String] = None): (Long, Long) = {
    val batch = seqCol match {
      case Some(sc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol)
          .orderBy(col(sc).desc)
        changes.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => changes
    }
    val stats = deleteKeys(layer, table, partCol, keyCol,
      batch.select(keyCol))
    batch.filter(col(Pipeline.OpCol).isin("I", "U")).drop(Pipeline.OpCol)
      .repartition(col(partCol))
      .write.mode(SaveMode.Append).partitionBy(partCol)
      .parquet(path(layer, table))
    spark.catalog.refreshByPath(path(layer, table))
    stats
  }

  /** Targeted delete — the "right to be forgotten" / retention-purge
    * shape: remove every row whose `keyCol` appears in `keys` by
    * REWRITING ONLY the partitions that contain at least one such key.
    * Untouched partitions keep their files byte-for-byte (PipelineSpec
    * asserts unchanged mtimes), so a deletion list touching 3 of 3,000
    * date partitions rewrites 0.1% of the table — the property that makes
    * per-request deletion affordable at 100 TB.
    *
    * Dynamic partition overwrite only replaces partitions PRESENT in the
    * written frame, so a partition whose every row is deleted would
    * survive untouched — those are removed explicitly through the
    * filesystem (the collect is bounded by the deletion list's partition
    * count, driver-side metadata not data). Returns (partitions
    * rewritten, partitions dropped). */
  def deleteKeys(layer: String, table: String, partCol: String,
      keyCol: String, keys: DataFrame): (Long, Long) = {
    val t = read(layer, table)
    val k = broadcast(keys.select(col(keyCol)).distinct())
    val affected = t.join(k, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct().cache()
    val rewritten = t
      .join(broadcast(affected), Seq(partCol), "left_semi")
      .join(k, Seq(keyCol), "left_anti")
    val kept = rewritten.select(col(partCol)).distinct()
    // affected partitions with zero surviving rows: drop their dirs.
    // Every action on `affected` happens BEFORE the overwrite below —
    // its lineage scans the pre-delete file listing, so a post-write
    // recompute (cache eviction) would throw FILE_NOT_EXIST.
    val emptied = affected.join(kept, Seq(partCol), "left_anti")
      .collect().map(_.get(0))
    val nAffected = affected.count()
    // self-overwrite is safe here because the sink's repartition() forces
    // a shuffle barrier: the source scan completes before any file is
    // replaced
    overwritePartitions(rewritten, path(layer, table), partCol)
    affected.unpersist()
    val fs = new org.apache.hadoop.fs.Path(path(layer, table))
      .getFileSystem(spark.sessionState.newHadoopConf())
    emptied.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${path(layer, table)}/$partCol=$v"), true)
    }
    spark.catalog.refreshByPath(path(layer, table))
    (nAffected - emptied.length, emptied.length.toLong)
  }

  /** Bucketed layer table: pre-shuffled AT REST on the join/agg key.
    * Two tables bucketed on the same key with the same bucket count join
    * with NO exchange on either side — the shuffle is paid once at write
    * time instead of per downstream query, which is the 100 TB play for
    * fact tables that join the same key repeatedly. Bucketing needs the
    * catalog (file layout + metadata travel together), so this registers
    * an external table whose data lives in the lake. Size `buckets` so a
    * bucket fits an executor's memory at the target scale. */
  def writeBucketed(df: DataFrame, layer: String, table: String,
      key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path(layer, table))
      .saveAsTable(s"${layer}_$table")

  /** K5: export a gold table as CSV + JSON (the reference's single-object
    * export shape). `coalesce(1)` is a deliberate single-task write — the
    * contract is GOLD SUMMARIES ONLY. The row-count guard makes that
    * contract enforceable: routing a fact table through a one-task export
    * would serialize the whole table through one core (a driver-adjacent
    * bottleneck at scale), so it fails fast instead; use
    * [[archiveOrc]]/partitioned parquet for big tables. The guard's count
    * is a cheap aggregate pass — far cheaper than the single-task write
    * it prevents. */
  def export(df: DataFrame, name: String, maxRows: Long = 1000000L): Unit = {
    val n = df.count()
    require(n <= maxRows,
      s"export('$name') is a single-object (coalesce(1)) sink for gold " +
        s"summaries; got $n rows > $maxRows. Export large tables through " +
        "a partitioned sink (archiveOrc / parquet) instead.")
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$lakeDir/exports/${name}_csv")
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .json(s"$lakeDir/exports/${name}_json")
  }

  /** The training export at rest: token-balanced shards written as JSONL
    * text, one directory per shard — the physical layout a training run
    * mounts (shard directories of newline-delimited examples with
    * near-equal token mass). Assignment is [[graft.operators.Shards]]'
    * deterministic hash-bulk + ranked-heavies split; `lineCol` carries
    * the pre-rendered JSON line (e.g. the t_jsonl_export shape). The
    * repartition by shard makes each output directory a small number of
    * whole files instead of nShards slivers per input task. */
  def exportTrainingShards(df: DataFrame, idCol: String, weightCol: String,
      lineCol: String, nShards: Int): String = {
    val dir = s"$lakeDir/exports/training_shards"
    graft.operators.Shards
      .assign(df, idCol, weightCol, nShards)
      .select(col("shard"), col(lineCol).as("value"))
      .repartition(col("shard"))
      .write.mode(SaveMode.Overwrite).options(Pipeline.dynamicOverwrite)
      .partitionBy("shard").text(dir)
    dir
  }

  /** Small-file compaction: rewrite a lake table into files of
    * ~targetMB. Long-running append/upsert tables accrete small files
    * (every micro-batch or incremental run adds some); scan cost then
    * scales with file COUNT, not bytes — footer reads, task scheduling,
    * and row-group overhead dominate. Compaction = one distributed read +
    * repartition + atomic overwrite-in-place; run it off the hot path.
    * File count comes from actual on-disk bytes, not a guess. */
  def compact(layer: String, table: String, targetMB: Int = 128): Unit = {
    val dir = path(layer, table)
    val hPath = new org.apache.hadoop.fs.Path(dir)
    // resolve the path's OWN filesystem (local here, HDFS/object store on
    // a cluster) rather than assuming local
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, (bytes / (targetMB * 1024L * 1024L)).toInt)
    val df = spark.read.parquet(dir)
    // stage through a temp dir: Overwrite on the dir being read would
    // delete the input before the new files are written
    val tmp = new org.apache.hadoop.fs.Path(s"$dir.__compact")
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Swap via two renames, not delete-then-rename: the no-table window is
    // two metadata ops, not a recursive delete whose duration scales with
    // file count. A concurrent reader can still race the swap — the
    // contract here is SINGLE-WRITER, READERS-OFF-HOT-PATH (compaction is
    // maintenance); a multi-writer lake with live readers needs a
    // manifest-indirected table format (Delta/Iceberg) where the swap is
    // one atomic metadata commit.
    val old = new org.apache.hadoop.fs.Path(s"$dir.__old")
    fs.delete(old, true) // leftover from a crashed prior compact
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(s"compact: could not stage out $dir")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(old, hPath) // roll back so the table never stays missing
      throw new java.io.IOException(s"compact: could not swap in $tmp")
    }
    fs.delete(old, true)
  }

  /** Columnar archive sink in ORC: the interchange format when a consumer
    * warehouse doesn't read parquet. Same pushdown/pruning behavior; a
    * dedicated sink (not part of `export`) because archives keep the full
    * table partitioning rather than coalescing to one export file. */
  def archiveOrc(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(s"$lakeDir/archive/$name")

  /** Full run over the testdata tables: events-as-covid through the
    * flagship silver transform, gold models, quality suite, exports,
    * run metadata. Returns per-stage row counts.
    *
    * Counting discipline: each overwrite/upsert stage's count is an
    * OBSERVED METRIC on the written frame (Dataset.observe /
    * CollectMetricsExec) — it rides along the write job itself, so there
    * is no separate count action and no re-scan of the lake just written
    * (at 100 TB a post-write count is a full re-read of the sink). The
    * one append table (quality_logs) still counts by read-back: its
    * total legitimately includes prior runs' appends. */
  def run(sfDir: String): Map[String, Long] = run(sfDir, None)

  /** [[run]] with a P7 incremental feed filter: `batchSince` restricts the
    * events feed to `ts >= batchSince` — the incremental-deployment shape
    * where a run carries only the new slice, not the full history. Under
    * it the K4 property is PARTITION-MINIMAL end to end: silver upserts
    * only the batch's date partitions, and gold daily recomputes only
    * those dates (read-back semi-joined to the batch's dates below), so
    * every untouched gold partition keeps its files byte-for-byte
    * (PipelineSpec pins this). Bronze holds the batch as landed. */
  def run(sfDir: String, batchSince: Option[String]): Map[String, Long] = {
    val t0 = System.currentTimeMillis()

    // Stage row counts ride along the WRITE jobs as observed metrics
    // (CollectMetricsExec) instead of separate count() actions — zero
    // extra jobs, zero re-reads; Observation.get is already resolved by
    // the time the write returns. At 100 TB a post-write count is a full
    // re-scan of what was just written; this is free.
    def observed(df: DataFrame): (Observation, DataFrame) = {
      val o = Observation()
      (o, df.observe(o, count(lit(1)).as("n")))
    }
    def rows(o: Observation): Long = o.get("n").asInstanceOf[Long]

    // THE LAKE IS THE STAGE: every multi-consumer frame here is being
    // persisted to the lake anyway, so downstream stages read the
    // just-written table back instead of pinning a localCheckpoint copy.
    // The read-back is partitioned + columnar — consumers scan only the
    // columns (and date partitions) they need, where an RDD checkpoint
    // would rescan full-width rows — and at 100 TB "cache the table in
    // executor memory" isn't an option while "read the table you just
    // wrote, pruned" always is. (Wall-clock-neutral at fixture scale —
    // the run is bound by its ~12 sink actions — the win is the memory
    // and pruning shape at scale.)
    //
    // THE DAG RUNS ITS INDEPENDENT BRANCHES CONCURRENTLY: posts and
    // quality depend only on the raw tables; the silver chain and the
    // P11 rewrite depend only on bronze; engagement depends only on
    // posts. Spark schedules concurrent actions from separate threads
    // freely (jobs interleave at the task level), so the medallion runs
    // as the 3-branch DAG an orchestrator would schedule, not a serial
    // script — on a cluster this also keeps the task scheduler fed
    // while any one branch's small stages underfill it. Profiled at
    // sf0.1 local[32]: 6.1 s serial → ~4 s concurrent, same lake.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      // ---- branch A: bronze → {silver chain, P11 rewrite} --------------
      val events = batchSince.foldLeft(Tables.events(spark, sfDir)) {
        (ev, since) => ev.filter(col("ts") >= lit(since).cast("timestamp"))
      }
      val (oBronze, bronzeObs) =
        observed(Bronze.withAudit(Bronze.blanksToNull(events)))
      val fBronze = Future {
        writeOverwrite(bronzeObs, "bronze", "events")
      }
      val fSilverChain = fBronze.map { _ =>
        val bronzeEvents = read("bronze", "events")
        val pending = bronzeEvents
          .filter(col("validation_status") === "pending")
          .drop("ingestion_timestamp", "validation_status", "data_hash")
        val silver = SilverCovid.transform(
          SilverCovid.fromEvents(pending), SilverCovid.FixtureThresholds)
        val (oSilver, silverObs) = observed(silver)
        upsertByDate(silverObs, "silver", "covid_timeseries", "record_date")
        // gold daily reads only 4 of silver's columns — parquet pruning —
        // and is PARTITION-MINIMAL: the read-back is semi-joined to the
        // dates present in THIS batch's silver frame (a broadcast of the
        // batch's distinct dates — the q_gold_incremental pattern), so
        // the upsert below rewrites exactly the gold partitions whose
        // silver inputs changed and no others. With the fixture's full
        // feed every date is in the batch (the semi-join passes all rows
        // — same gold, same hashes); under a P7-filtered incremental
        // feed (run(sfDir, batchSince)) untouched gold partitions keep
        // their files byte-for-byte (PipelineSpec pins this).
        val batchDates = silver.select("record_date").distinct()
        val daily = read("silver", "covid_timeseries")
          .join(broadcast(batchDates), Seq("record_date"), "left_semi")
          .groupBy("record_date").agg(
            countDistinct(col("country")).as("n_countries"),
            Det.dsum(col("daily_new_cases")).as("total_new_cases"),
            Det.davg(col("mortality_rate")).as("avg_mortality_rate"))
        val (oDaily, dailyObs) = observed(daily)
        upsertByDate(dailyObs, "gold", "daily_global_summary", "record_date")
        // K5 export of the GOLD TABLE as written (truest to the
        // reference's object-store export of the materialized object)
        export(read("gold", "daily_global_summary"), "daily_global_summary")
        (oSilver, oDaily)
      }
      val fProcessed = fBronze.map { _ =>
        // P11: flip consumed rows to processed (state-column rewrite)
        writeOverwrite(
          read("bronze", "events")
            .withColumn("validation_status", lit("processed")),
          "bronze", "events_processed")
      }

      // ---- branch B: posts → engagement (raw documents only) -----------
      val fEngChain = Future {
        val posts = GoldEngagement.attribute(SilverPosts.transform(
          Tables.documents(spark, sfDir), titleCol = "source",
          bodyCol = "text"))
        val (oPosts, postsObs) = observed(posts)
        writeOverwrite(postsObs, "silver", "clean_posts")
        val engagement = GoldEngagement.transform(
          read("silver", "clean_posts"))
        val (oEng, engObs) = observed(engagement)
        upsertByDate(engObs, "gold", "user_engagement_metrics",
          "engagement_date")
        (oPosts, oEng)
      }

      // ---- branch C: quality checks over the raw tables (K7) -----------
      val fQuality = Future {
        val report = Quality.run(Tables(spark, sfDir, _), Seq(
          Quality.NotNull("events", "event_type"),
          Quality.Bounds("events", "value", lit(-1e6), lit(1e6)),
          Quality.Freshness("events", "ts",
            lit("2030-01-01").cast("timestamp"))))
          .withColumn("check_timestamp", current_timestamp())
        writeAppend(report, "silver", "quality_logs")
      }

      // Await ALL branches via Try before touching any result: a plain
      // sequential Await.result would rethrow the silver chain's failure
      // while branches B/C are still writing to the lake (run() must
      // never return — normally or exceptionally — with writes in
      // flight), and it would also sit on a slow silver chain while a
      // fast quality failure went unreported. Collect every outcome,
      // then rethrow the first failure with nothing left running.
      import scala.util.{Failure, Try}
      val rSilver = Try(Await.result(fSilverChain, Duration.Inf))
      val rEng = Try(Await.result(fEngChain, Duration.Inf))
      val rProcessed = Try(Await.result(fProcessed, Duration.Inf))
      val rQuality = Try(Await.result(fQuality, Duration.Inf))
      Seq[Try[Any]](rSilver, rEng, rProcessed, rQuality)
        .collectFirst { case Failure(e) => throw e }
      val (oSilver, oDaily) = rSilver.get
      val (oPosts, oEng) = rEng.get

      // ---- run metadata (K6) ------------------------------------------
      // quality_logs alone counts by read-back: its total legitimately
      // includes prior runs' appends, not just this run's write.
      val counts = Map(
        "bronze_events" -> rows(oBronze),
        "silver_covid" -> rows(oSilver),
        "silver_posts" -> rows(oPosts),
        "gold_daily" -> rows(oDaily),
        "gold_engagement" -> rows(oEng),
        "quality_checks" -> read("silver", "quality_logs").count())
      val meta =
        s"""{"pipeline":"graft-medallion","status":"SUCCESS",
           |"duration_ms":${System.currentTimeMillis() - t0},
           |"counts":{${counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}
           |""".stripMargin.replace("\n", "")
      Files.createDirectories(Paths.get(lakeDir))
      Files.writeString(Paths.get(s"$lakeDir/run_metadata.json"), meta)
      counts
    } finally pool.shutdown()
  }
}

object Pipeline {

  /** The change-operation column of a CDC batch: I, U or D. */
  val OpCol = "op"

  /** Dynamic partition overwrite as a WRITER option: it rewrites only the
    * partitions present in the written frame, and leaves the session's
    * `partitionOverwriteMode` — and so every other write in it — as it
    * was. */
  private[engine] val dynamicOverwrite = Map("partitionOverwriteMode" -> "dynamic")

  /** The engine's one partition-overwrite sink (K4): write `df` under
    * `path` partitioned by `partCols`, replacing only the partitions the
    * frame carries. Repartition by the partition columns first — otherwise
    * every task writes a sliver of every partition (tasks × partitions
    * small files); this way each partition is one file at this scale, and
    * at cluster scale the same move bounds file counts to partitions, not
    * tasks × partitions. A replayed micro-batch partitioned by its batch
    * id therefore rewrites exactly its own files: the idempotent sink the
    * streaming ingests and [[Pipeline.upsertBatch]] rely on. */
  def overwritePartitions(df: DataFrame, path: String,
      partCols: String*): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).options(dynamicOverwrite)
      .partitionBy(partCols: _*)
      .parquet(path)

  /** The replayed-batch sink: `df` tagged with `batch_id = batchId` and
    * written by [[overwritePartitions]] over `partCols` then batch_id, so
    * a replayed micro-batch overwrites exactly its own partitions. */
  def overwriteBatch(df: DataFrame, path: String, batchId: Long,
      partCols: String*): Unit =
    overwritePartitions(df.withColumn("batch_id", lit(batchId)), path,
      partCols :+ "batch_id": _*)

  /** Whether `path` exists on its own filesystem (local here, HDFS or an
    * object store on a cluster). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
}
