package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.operators.{Bloom, Dedup}
import graft.engine.Pipeline
import graft.engine.Stage.syntax._

/** Streaming exact-dedup ingest with a Bloom pre-filter — the
  * scan-saving shape at 100 TB: the corpus content-hash table is huge,
  * and MOST arriving keys are novel, so joining every batch against it
  * wastes the common case. Each micro-batch (1) probes the persistent
  * word relation — definitely-new keys (`!maybe_present`) skip the
  * corpus join entirely by the no-false-negative contract — (2) exact-
  * verifies only the maybe_present candidates against the hash table,
  * and (3) appends its own words + hashes to the state.
  *
  * Replay semantics split by structure: Bloom bits are OR-irrevocable
  * (a replayed batch finds its own and LATER batches' bits set), so the
  * filter is ONLY a conservative pre-filter — correctness always comes
  * from the exact verify, whose corpus side is restricted to STRICTLY
  * EARLIER batches (`batch_id < current`; id-based self-exclusion would
  * not suffice — a later batch can hold the same CONTENT under another
  * id, which a replayed early batch must still report as new). Replayed
  * batches therefore reproduce identical rows; state writes go through
  * [[Pipeline.overwritePartitions]] on batch_id, so restarts stay
  * exactly-once.
  */
object BloomIngest {

  /** Merge every appended batch's words into the current filter —
    * Bloom OR-composability as a groupBy. */
  def loadWords(spark: SparkSession, dir: String): DataFrame =
    if (Pipeline.exists(spark, s"$dir/words"))
      spark.read.parquet(s"$dir/words")
        .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
    else spark.range(0).select(col("id").as("word_idx"), col("id").as("bits"))

  /** The at-rest content-hash state WITH its batch_id column — callers
    * slice the temporal prefix they may legally see. */
  def loadHashes(spark: SparkSession, dir: String, idCol: String): DataFrame =
    if (Pipeline.exists(spark, s"$dir/hashes"))
      spark.read.parquet(s"$dir/hashes")
    else spark.range(0).select(col("id").as(idCol),
      lit("").as("content_hash"), col("id").as("batch_id")).limit(0)

  /** The ingest loop as an unstarted stream writer: run it with
    * `EventStreams.drain` (in production attach a checkpointLocation and
    * leave it running). Output rows land under `outDir`: (idCol,
    * content_hash, maybe_present, batch_canonical, is_new). */
  def writer(docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, outDir: String): DataStreamWriter[Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        def write(df: DataFrame, path: String): Unit =
          Pipeline.overwriteBatch(df, path, batchId)
        val w = Window.partitionBy("content_hash").orderBy(idCol)
        val b = batch.select(col(idCol),
            sha2(Dedup.normalize(col(textCol)), 256).as("content_hash"))
          .withColumn("batch_canonical", row_number().over(w) === 1)
          .staged
        // strictly-earlier batches only: replay-exact (see scaladoc)
        val corpus = loadHashes(spark, stateDir, idCol)
          .filter(col("batch_id") < batchId)
        val probed = Bloom.probe(b, loadWords(spark, stateDir),
          "content_hash")
        // the corpus join runs ONLY for maybe_present candidates — the
        // definitely-new majority short-circuits on the filter answer
        val seen = probed.filter(col("maybe_present"))
          .join(corpus.select(col("content_hash")).distinct()
            .withColumn("__seen", lit(true)), Seq("content_hash"), "left")
          .withColumn("is_new", col("__seen").isNull).drop("__seen")
        val out = probed.filter(!col("maybe_present"))
          .withColumn("is_new", lit(true))
          .unionByName(seen)
          .select(col(idCol), col("content_hash"), col("maybe_present"),
            col("batch_canonical"), col("is_new"))
        // out FIRST and alone: its probe plan reads the PRE-append state
        // (a parallel state write could rewrite partition files its
        // captured listing still references on replay). The two state
        // appends read only the staged batch and write distinct dirs —
        // concurrent jobs, max(write) wall instead of sum.
        write(out, outDir)
        NearDupIngest.parWrites(Seq(
          () => write(Bloom.build(b, "content_hash"),
            s"$stateDir/words"),
          () => write(b.select(col(idCol), col("content_hash")),
            s"$stateDir/hashes")))
      }
}
