package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Pipeline
import graft.streaming.{BloomIngest, NearDupIngest}

/** The engine's writes change nothing beyond what they write: no session
  * setting, and no scratch directory left behind by a stream replay or
  * by source routing. */
class SideEffectSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private val modeKey = "spark.sql.sources.partitionOverwriteMode"

  test("lake and ingest writes leave the session's partitionOverwriteMode as it was") {
    val s = SparkTestSession.spark.newSession()
    import s.implicits._
    val before = s.conf.get(modeKey)
    val p = new Pipeline(s, Files.createTempDirectory("side-lake").toString)
    assert(s.conf.get(modeKey) === before, "after new Pipeline")
    p.run(sf)
    assert(s.conf.get(modeKey) === before, "after Pipeline.run")

    // two one-file batches, ingested twice against the same state: the
    // state keeps both batches exactly once although the session's mode
    // stays static, so the dynamic overwrite comes from the writer
    val src = Files.createTempDirectory("side-src").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    Seq((3L, "alpha beta gamma delta"), (4L, "iota kappa lambda mu"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    def stream = s.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(src)
    val state = Files.createTempDirectory("side-state").toString + "/st"
    val out = Files.createTempDirectory("side-out").toString + "/out"
    BloomIngest.start(stream, "doc_id", "text", state, out)
    BloomIngest.start(stream, "doc_id", "text", state, out)
    assert(s.conf.get(modeKey) === before, "after BloomIngest.start")
    assert(s.read.parquet(s"$state/hashes").count() === 4,
      "each batch's state partition survives the other's overwrite")
    assert(s.read.parquet(out).count() === 4)

    val idx = Files.createTempDirectory("side-idx").toString + "/idx"
    val pairs = Files.createTempDirectory("side-pairs").toString + "/pairs"
    NearDupIngest.start(stream, "doc_id", "text", idx, pairs)
    assert(s.conf.get(modeKey) === before, "after NearDupIngest.start")
    assert(s.read.parquet(s"$idx/sizes").count() === 4)
  }

  test("window and restart replays leave no directory behind but their output") {
    val spark = SparkTestSession.spark
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    def replayDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator.asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.contains("replay")).toSet
      finally ls.close()
    }
    val before = replayDirs()
    val outputs = Seq("q_stream_window_replay", "q_stream_restart_replay")
      .flatMap { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        assert(df.count() > 0, s"$q returned no rows")
        // the directory directly under tmpdir that holds the result
        df.inputFiles.map(f =>
          tmp.relativize(Paths.get(new URI(f))).getName(0).toString)
      }.toSet
    assert(outputs.size === 2, s"one output directory per replay: $outputs")
    val left = replayDirs() -- before
    assert(left === outputs, s"left behind: ${left -- outputs}")
  }

  test("source routing deletes its source files once they are landed") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def srcDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-src")).toSet
      finally ls.close()
    }
    val before = srcDirs()
    val df = SparkEntry.queries("s3_source_routing")(SparkTestSession.spark, sf)
    assert(df.count() === 2)
    assert(srcDirs() -- before === Set.empty[String])
  }
}
