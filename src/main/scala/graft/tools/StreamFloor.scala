package graft.tools

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.Tables
import graft.operators.Dedup
import graft.streaming.NearDupIngest

/** Dev tool: decompose `q_stream_neardup_replay`'s wall into its cost
  * layers, each driven warm (2 reps, second reported) in one session —
  * the floor analysis behind the streaming-family perf target (the ≤5 s
  * goal set in round 9 was carried two rounds without a measured
  * breakdown of harness floor vs plan cost). Layers, each a REAL
  * Structured Streaming query over the same 2-batch file source:
  *
  *   harness   — foreachBatch{count}: stream start/drain + per-batch
  *               scheduling, zero plan work
  *   family    — foreachBatch{build minhash family, count buckets}: adds
  *               the shingle→64-hash→band signature compute
  *   store     — foreachBatch{build + 3 dynamic-partition-overwrite
  *               parquet writes}: adds the index store append
  *   full      — NearDupIngest.start: adds index reload + self-exclusion
  *               + probe + pairs write (the shipped loop)
  *
  * Staging cost (stageBatches) is reported separately — it is test
  * fixture setup, not ingest. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.StreamFloor [sfDir] [reps]
  */
object StreamFloor {

  private def stageBatches(docs: DataFrame, srcDir: Path): Unit = {
    val tmp = Files.createTempDirectory("floor-stage")
    (0 until 2).map(i => docs.filter(pmod(col("doc_id"), lit(2)) === i)
        .withColumn("__b", lit(i)))
      .reduce(_ unionByName _)
      .repartition(col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(tmp.toString)
    (0 until 2).foreach { i =>
      val part = Files.list(tmp.resolve(s"__b=$i"))
        .filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      val dst = srcDir.resolve(f"batch-$i%02d.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1000000000000L + i * 60000L))
    }
  }

  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.engine.Session.local()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    def freshSrc(): Path = {
      val d = Files.createTempDirectory("floor-src")
      stageBatches(docs, d)
      d
    }

    def stream(src: Path): DataFrame =
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)

    def drive(f: DataFrame => Unit): Double = {
      val src = freshSrc()
      val parts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", 16)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try time(f(stream(src)))
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }

    def foreachDrain(body: (DataFrame, Long) => Unit)(s: DataFrame): Unit = {
      val q = s.writeStream.outputMode(OutputMode.Append)
        .foreachBatch(body).start()
      q.processAllAvailable(); q.stop()
    }

    val layers: Seq[(String, () => Double)] = Seq(
      "staging" -> (() => { val d = Files.createTempDirectory("floor-src")
        time(stageBatches(docs, d)) }),
      "harness" -> (() => drive(foreachDrain((b, _) => { b.count(); () }))),
      "family" -> (() => drive(foreachDrain { (b, _) =>
        Dedup.minhashIndex(b, "doc_id", "text").buckets.count(); () })),
      "store" -> (() => drive { s =>
        val idx = Files.createTempDirectory("floor-idx").toString
        foreachDrain { (b, bid) =>
          val m = Dedup.minhashIndex(b, "doc_id", "text")
          Seq("buckets" -> m.buckets, "shingles" -> m.shingles,
              "sizes" -> m.sizes).foreach { case (n, df) =>
            df.withColumn("batch_id", lit(bid))
              .repartition(col("batch_id"))
              .write.mode("overwrite").partitionBy("batch_id")
              .parquet(s"$idx/$n")
          }
        }(s)
      }),
      "full" -> (() => drive { s =>
        val idx = Files.createTempDirectory("floor-full-idx").toString
        val out = Files.createTempDirectory("floor-full-out").toString
        NearDupIngest.start(s, "doc_id", "text", idx, out, threshold = 0.8)
      })
    )

    // warm everything once untimed, then report per-rep timings
    layers.foreach { case (name, run) =>
      val warm = run()
      val times = (1 to reps).map(_ => run())
      println(f"[floor] $name%-8s cold=$warm%6.2fs warm=${times.min}%6.2fs " +
        times.map(t => f"$t%.2f").mkString("[", ", ", "]"))
    }
    spark.stop()
  }
}
