package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.engine.{Session, Stage}

/** Dev profiler: runs queries `reps` times each in one warm session and
  * breaks each down by layer. Per rep it prints the wall and the row
  * count; per query one JSON line for its LAST rep:
  *
  *   - `build_ms`: building the DataFrame, including eager staging jobs;
  *   - `analysis_ms` / `optimization_ms` / `planning_ms`: the counting
  *     action's `QueryExecution.tracker` phases;
  *   - `jobs`, `stages`, `tasks`, `executor_run_ms`, shuffle read/write,
  *     memory/disk spill and peak execution memory: task metrics of the
  *     jobs the rep ran, from one `SparkListener`.
  *
  * A final `total` line carries the heap and the summed spill, so a run
  * under `SPARK_DRIVER_MEM=2g` is the constrained-memory spill table.
  * Staged blocks and the SQL cache are released between reps, as Bench
  * does between queries. With no query names, every query runs, in
  * declaration order. `PROFILE_PLAN=1` prints each query's formatted
  * plan before its reps.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <reps> [query…]
  */
object Profile {

  private val TagKey = "graft.profile.tag"

  /** Task-metric totals of the jobs started under `TagKey=query`. */
  private final class Listener extends SparkListener {
    private val sums = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val stageIds = mutable.Set.empty[Int]
    private var drainJob = -1
    @volatile private var drained = new CountDownLatch(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).map(_.getProperty(TagKey)).orNull match {
        case "query" => sums("jobs") += 1; stageIds ++= e.stageIds
        case "drain" => drainJob = e.jobId
        case _ => ()
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        if (stageIds(e.stageInfo.stageId)) sums("stages") += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = e.taskMetrics
      if (stageIds(e.stageId) && t != null) {
        sums("tasks") += 1
        sums("executor_run_ms") += t.executorRunTime
        sums("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
        sums("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
        sums("memory_spilled_bytes") += t.memoryBytesSpilled
        sums("disk_spilled_bytes") += t.diskBytesSpilled
        sums("peak_exec_bytes") = sums("peak_exec_bytes") max t.peakExecutionMemory
      }
    }

    /** Returns and clears the totals once every event posted so far has
      * been delivered: the listener bus is FIFO, so a marker job's end
      * arrives after everything that ran before it. */
    def drain(spark: SparkSession): Map[String, Long] = {
      val sc = spark.sparkContext
      drained = new CountDownLatch(1)
      sc.setLocalProperty(TagKey, "drain")
      sc.parallelize(Seq(0), 1).count()
      sc.setLocalProperty(TagKey, null)
      if (!drained.await(1, TimeUnit.MINUTES))
        System.err.println("[profile] listener bus not drained; totals may be partial")
      synchronized {
        val out = sums.toMap
        sums.clear(); stageIds.clear()
        out
      }
    }
  }

  private val Fields = Seq("jobs", "stages", "tasks", "executor_run_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "memory_spilled_bytes",
    "disk_spilled_bytes", "peak_exec_bytes")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    require(reps >= 1, "reps must be at least 1")
    val selected = SparkEntry.select(args.drop(2).toSet)
    val plan = sys.env.get("PROFILE_PLAN").contains("1")

    val spark = Session.local()
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    var memSpilled, diskSpilled = 0L
    val failed = mutable.Set.empty[String]

    selected.foreach { q =>
      val name = q.name
      val lines = (1 to reps).map { rep =>
        listener.drain(spark)
        sc.setLocalProperty(TagKey, "query")
        val t0 = System.nanoTime()
        val line = try {
          val df = q.run(spark, sfDir)
          val t1 = System.nanoTime()
          if (plan && rep == 1)
            println(s"==== $name ====\n" +
              df.queryExecution.explainString(FormattedMode))
          val counted = df.groupBy().count()
          val rows = counted.collect().head.getLong(0)
          val wall = (System.nanoTime() - t0) / 1e9
          sc.setLocalProperty(TagKey, null)
          println(f"[profile] $name%-28s rep $rep: $wall%8.3fs rows=$rows")
          val phases = counted.queryExecution.tracker.phases
          val m = listener.drain(spark).withDefaultValue(0L)
          memSpilled += m("memory_spilled_bytes")
          diskSpilled += m("disk_spilled_bytes")
          (Seq(s""""query":"$name","rep":$rep,"rows":$rows,"wall_s":$wall""",
              s""""build_ms":${(t1 - t0) / 1000000}""") ++
            Seq("analysis", "optimization", "planning").map(p =>
              s""""${p}_ms":${phases.get(p).map(_.durationMs).getOrElse(0L)}""") ++
            Fields.map(k => s""""$k":${m(k)}""")).mkString(",")
        } catch { case e: Throwable =>
          sc.setLocalProperty(TagKey, null)
          failed += name
          val msg = Option(e.getMessage).getOrElse("").take(200)
            .map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)
          println(s"[profile] $name rep $rep FAILED: $msg")
          s""""query":"$name","rep":$rep,"error":"${e.getClass.getSimpleName}: $msg""""
        }
        spark.catalog.clearCache()
        Stage.releaseStaged(spark)
        line
      }
      println(s"{${lines.last}}")
    }
    println(s"""{"total":{"heap_mb":${Runtime.getRuntime.maxMemory() / 1048576},""" +
      s""""queries":${selected.size},"failed":${failed.size},""" +
      s""""memory_spilled_bytes":$memSpilled,"disk_spilled_bytes":$diskSpilled}}""")
    spark.stop()
  }
}
