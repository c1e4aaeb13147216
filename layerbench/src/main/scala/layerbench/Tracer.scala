package layerbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.LayerbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Thread-safe named sums and maxima, read and reset once per op. */
final class Counters {
  private val m = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = m.merge(k, v, (a, b) => a + b)
  def max(k: String, v: Double): Unit = m.merge(k, v, (a, b) => math.max(a, b))
  def drain(): Map[String, Double] = synchronized {
    val out = m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    m.clear(); out
  }
}

/** Maps a write action of `Pipeline.run` to the branch that issued it, by
  * the lake table it targets: `<lake>/<layer>/<table>` or
  * `<lake>/exports/<name>`. */
object Branches {
  val Names = Seq("bronze", "silver", "gold", "export", "quality")

  def of(path: String): Option[String] =
    path.stripSuffix("/").split('/').takeRight(2) match {
      case Array("exports", _) => Some("export")
      case Array("silver", "quality_logs") => Some("quality")
      case Array(layer @ ("bronze" | "silver" | "gold"), _) => Some(layer)
      case _ => None
    }
}

/** The per-layer trace. Every number is read from outside the engine:
  * Spark's listener buses and each action's `QueryExecution`. Listeners are
  * attached only while a traced pass runs. */
final class Tracer(spark: SparkSession) {
  private val MB = 1024.0 * 1024.0
  private val counters = new Counters
  /** Set while a `Pipeline.run` op's events are delivered, so its writes
    * are attributed to branches and no other op's writes are. The listener
    * reads it when an event arrives, after the action, so it is changed only
    * once the bus is drained. */
  @volatile private var inPipeline = false
  private val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters.add("scheduler.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      counters.add("scheduler.stages", 1)
      if (e.stageInfo.attemptNumber() > 0) counters.add("scheduler.stage_retries", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.add("scheduler.tasks", 1)
      if (e.reason != org.apache.spark.Success) counters.add("scheduler.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        counters.add("scheduler.task_overhead_s",
          math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
        counters.add("executor.run_s", m.executorRunTime / 1e3)
        counters.add("executor.cpu_s", m.executorCpuTime / 1e9)
        counters.add("executor.gc_s", m.jvmGCTime / 1e3)
        counters.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        counters.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        counters.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        counters.add("memory.spill_mb", m.diskBytesSpilled / MB)
        counters.max("memory.peak_exec_mb", m.peakExecutionMemory / MB)
        counters.add("io.input_mb", m.inputMetrics.bytesRead / MB)
        counters.add("io.output_mb", m.outputMetrics.bytesWritten / MB)
        counters.add("io.records_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => counters.add(s"catalyst.${p}_s", s.durationMs / 1e3))
      }
      Tracer.countPlan(qe.executedPlan, counters)
      if (inPipeline)
        Tracer.targetPath(qe).flatMap(Branches.of).foreach { b =>
          counters.add(s"pipeline.${b}_s", durationNs / 1e9)
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      counters.add("streaming.batches", 1)
      counters.add("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
      counters.add("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
      counters.add("streaming.wal_commit_ms", d.getOrElse("walCommit", 0.0))
      d.get("triggerExecution").foreach(triggerMs.add)
      counters.max("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      counters.max("streaming.state_mem_mb", p.stateOperators.map(_.memoryUsedBytes).sum / MB)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private var compiles = LayerbenchAccess.codegenCompiles()

  /** Marks the start of an op: drops anything counted since the last read. */
  def begin(pipeline: Boolean): Unit = {
    LayerbenchAccess.drainListenerBus(spark.sparkContext)
    counters.drain(); triggerMs.clear()
    compiles = LayerbenchAccess.codegenCompiles()
    inPipeline = pipeline
  }

  /** Everything counted since [[begin]], once the listener bus has
    * delivered the op's events, plus its micro-batch trigger times. */
  def end(): (Map[String, Double], Seq[Double]) = {
    LayerbenchAccess.drainListenerBus(spark.sparkContext)
    inPipeline = false
    val (n1, ms1) = LayerbenchAccess.codegenCompiles()
    counters.add("codegen.compile_s", math.max(0.0, ms1 - compiles._2) / 1e3)
    counters.add("codegen.compiles", (n1 - compiles._1).toDouble)
    val trig = triggerMs.asScala.toSeq
    triggerMs.clear()
    (counters.drain(), trig)
  }
}

object Tracer {

  /** Adds the node counts of an executed plan. Adaptive plans are read in
    * their final form, query stages and command results through to the
    * plan they wrap, and subqueries are included. A reused exchange is not
    * a new one. */
  def countPlan(p: SparkPlan, c: Counters): Unit = p match {
    case a: AdaptiveSparkPlanExec => countPlan(a.executedPlan, c)
    case r: CommandResultExec => countPlan(r.commandPhysicalPlan, c)
    case s: QueryStageExec => countPlan(s.plan, c)
    case _: ReusedExchangeExec => ()
    case _ =>
      p match {
        case _: Exchange => c.add("plan.exchanges", 1)
        case _: BroadcastHashJoinExec => c.add("plan.broadcast_joins", 1)
        case _: SortMergeJoinExec => c.add("plan.sort_merge_joins", 1)
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
          c.add("plan.nested_loop_joins", 1)
        case _: InMemoryTableScanExec => c.add("plan.cached_scans", 1)
        case _ => ()
      }
      p.children.foreach(countPlan(_, c))
      p.subqueries.foreach(countPlan(_, c))
  }

  /** The path a write action targets, when it is a file sink. */
  def targetPath(qe: QueryExecution): Option[String] = {
    def inLogical(l: LogicalPlan): Option[String] = l.collectFirst {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
      case s: SaveIntoDataSourceCommand if s.options.contains("path") => s.options("path")
    }
    def inPhysical(p: SparkPlan): Option[String] = p.collectFirst {
      case w: DataWritingCommandExec => w.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString }
    inLogical(qe.logical)
      .orElse(scala.util.Try(inLogical(qe.commandExecuted)).toOption.flatten)
      .orElse(inPhysical(qe.executedPlan))
  }
}
