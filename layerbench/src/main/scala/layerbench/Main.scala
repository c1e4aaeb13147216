package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, then time passes over one workload's
  * ops in a closed loop on one client thread, checking every op's output
  * against its pinned digest. Prints a report line, then the result line.
  *
  * {{{
  * Main --workload read --seed 1 --seconds 5 --trace 0 \
  *      --lake <input lake> --scratch <empty dir> --digests <digests.json>
  * }}}
  */
object Main {

  /** Set-ups per run; the median is reported. */
  val Setups = 3
  /** An op still running after this long is cancelled and counts as failed. */
  val OpTimeoutS = 60L

  final case class OpRun(name: String, pipeline: Boolean, wallS: Double, buildS: Double,
      error: Option[String], bytes: Long, heapMb: Double, staged: Int,
      layers: Map[String, Double], triggerMs: Seq[Double])

  final case class Pass(traced: Boolean, ops: Seq[OpRun], clockS: Double,
      stealPct: Double, load1: Double, jitS: Double) {
    def wallS: Double = ops.map(_.wallS).sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.named(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val lake = Paths.get(arg("lake")).toAbsolutePath
    val scratch = Paths.get(arg("scratch")).toAbsolutePath
    val pinned = readDigests(Paths.get(arg("digests")))
    val cpus = Runtime.getRuntime.availableProcessors()
    val siblingsAtStart = Host.siblingJvms()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    require(tmp.startsWith(scratch), s"java.io.tmpdir $tmp must lie under the scratch dir $scratch")

    // set-up: session build and input registration, several times
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, scratch)
      Host.entries(lake).filter(_.toString.endsWith(".parquet"))
        .foreach(t => spark.read.parquet(t.toString).schema)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val coldSetupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - setupS.tail.sum
    val ctx = new OpContext(spark, lake.toString,
      prefix => Files.createTempDirectory(tmp, prefix).toString)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val order = workload.order(seed)
    val lakeBytes = Host.bytesSince(lake, 0L)
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "layerbench-watchdog"); t.setDaemon(true); t
    }
    val mismatches = ArrayBuffer.empty[String]

    def runOp(op: Op, traced: Boolean): OpRun = {
      val startMs = System.currentTimeMillis()
      tracer.filter(_ => traced).foreach(_.begin(op.isPipeline))
      val timeout = watchdog.schedule((() => {
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        spark.sparkContext.cancelAllJobs()
      }): Runnable, OpTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
      val t0 = System.nanoTime()
      var buildS = 0.0
      val outcome: Either[String, String] =
        try {
          val frames = op.build(ctx)
          buildS = (System.nanoTime() - t0) / 1e9
          Right(frames.map(f => Digest.of(f).toString).mkString("|"))
        } catch {
          case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(200))
        }
      val wallS = (System.nanoTime() - t0) / 1e9
      val timedOut = !timeout.cancel(false)
      val (layers, trig) = tracer.filter(_ => traced).map(_.end())
        .getOrElse((Map.empty[String, Double], Seq.empty[Double]))
      val error = outcome match {
        case _ if timedOut => Some(s"timeout after ${OpTimeoutS}s")
        case Left(e) => Some(e)
        case Right(d) if !pinned.get(op.name).contains(d) =>
          mismatches += s"${op.name}: got $d, pinned ${pinned.getOrElse(op.name, "nothing")}"
          Some("digest mismatch")
        case _ => None
      }
      val bytes = Host.bytesSince(scratch, startMs)
      val staged = spark.sparkContext.getPersistentRDDs.size +
        org.apache.spark.sql.LayerbenchAccess.cachedEntries(spark)
      // queued listener events still hold plans and metrics; deliver them
      // first so the heap reading after the GC is the live set
      org.apache.spark.sql.LayerbenchAccess.drainListenerBus(spark.sparkContext)
      val heap = liveHeapMb()
      spark.catalog.clearCache()
      graft.engine.Stage.releaseStaged(spark)
      OpRun(op.name, op.isPipeline, wallS, buildS, error, bytes, heap, staged, layers, trig)
    }

    // Entries under the temp dir that belong to the session, not to a pass.
    val keep = Host.entries(tmp).toSet
    def runPass(traced: Boolean): Pass = {
      val j0 = Host.cpuJiffies()
      val load = Host.load1()
      val jit = ManagementFactory.getCompilationMXBean
      val jit0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val ops = order.map(runOp(_, traced))
      val clock = (System.nanoTime() - t0) / 1e9
      Host.entries(tmp).filterNot(keep).foreach(Host.deleteTree)
      Pass(traced, ops, clock, Host.stealPct(j0, Host.cpuJiffies()), load,
        (jit.getTotalCompilationTime - jit0) / 1e3)
    }

    val warm = Seq.fill(workload.warmupPasses)(runPass(traced = false))
    val passes = ArrayBuffer.empty[Pass]
    // The workload's timed passes, then more until the op walls add up to
    // the budget. Only op walls count, so the harness's own per-op work
    // cannot change how many passes a run measures.
    def loop(traced: Boolean, budget: Double): Unit = {
      var measured = 0.0
      var n = 0
      while (n < workload.timedPasses || measured < budget) {
        val p = runPass(traced)
        passes += p
        measured += p.wallS
        n += 1
      }
    }
    if (trace) {
      loop(traced = false, seconds / 2)
      tracer.foreach(_.attach())
      loop(traced = true, seconds / 2)
      tracer.foreach(_.detach())
    } else loop(traced = false, seconds)
    watchdog.shutdownNow()
    val siblingsAtEnd = Host.siblingJvms()
    spark.stop()

    val plain = passes.filterNot(_.traced).toSeq
    val timed = passes.flatMap(_.ops).toSeq
    val failed = timed.count(_.error.nonEmpty)
    val warmFailed = warm.flatMap(_.ops).count(_.error.nonEmpty)
    val wallS = Stats.median(plain.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupS.toSeq), "s"),
        ("wall_s", wallS, "s"),
        ("op_p50_s", Stats.median(plain.flatMap(_.ops.map(_.wallS))), "s"),
        ("heap_live_mb", plain.flatMap(_.ops.map(_.heapMb)).max, "MB"),
        ("write_amp", Stats.median(plain.map(_.ops.map(_.bytes).sum.toDouble / lakeBytes)), "ratio"))
      else {
        val traced = passes.filter(_.traced).toSeq
        val perPass = traced.map(p => Layers.ofPass(p, cpus))
        Layers.All.map { case (name, unit) =>
          val v = if (name == "trace.overhead_frac")
            Stats.median(traced.map(_.wallS)) / wallS - 1.0
          else Stats.median(perPass.map(_.getOrElse(name, 0.0)))
          (name, v, unit)
        }
      }

    val report = Json.obj(
      "workload" -> Json.str(workload.name), "seed" -> seed.toString,
      "trace" -> trace.toString, "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "order" -> Json.arr(order.map(o => Json.str(o.name))),
      "setup_s" -> Json.arr(setupS.toSeq.map(Json.num)),
      "setup_from_process_start_s" -> Json.num(coldSetupS),
      "warmup" -> Json.arr(warm.map(passJson)),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "lake_bytes" -> lakeBytes.toString,
      "op_tail" -> Stats.highestTail(plain.flatMap(_.ops.map(_.wallS)))
        .map { case (q, v) => Json.obj("q" -> Json.num(q), "s" -> Json.num(v)) }.getOrElse("null"),
      "sibling_jvms" -> Json.arr(Seq(siblingsAtStart.toString, siblingsAtEnd.toString)),
      "warmup_failed" -> warmFailed.toString,
      "mismatches" -> Json.arr(mismatches.toSeq.map(Json.str)))
    println(Json.obj("report" -> report))
    val result = Json.obj(
      "correct" -> (failed == 0 && warmFailed == 0).toString,
      "attempted" -> timed.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    println(result)
  }

  /** Heap in use once garbage is gone. Spark frees broadcast and shuffle
    * blocks from a cleaner thread only after a GC has cleared their last
    * reference, so one GC can leave hundreds of MB that the next frees; GC
    * again until a GC 50 ms later frees less than 1 MB. */
  private def liveHeapMb(): Double = {
    def gcUsed() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = gcUsed()
    var next = last
    var rounds = 0
    do {
      last = next
      Thread.sleep(50)
      next = gcUsed()
      rounds += 1
    } while (last - next >= 1.0 && rounds < 5)
    next
  }

  def session(cpus: Int, scratch: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
      .tap(_.sparkContext.setLogLevel("WARN"))

  /** `{"op": "digest", ...}` as written by [[Pin]]. */
  def readDigests(p: Path): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap

  private def passJson(p: Pass): String = Json.obj(
    "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
    "clock_s" -> Json.num(p.clockS), "steal_pct" -> Json.num(p.stealPct),
    "load1" -> Json.num(p.load1), "jit_s" -> Json.num(p.jitS),
    "ops" -> Json.arr(p.ops.map { o =>
      Json.obj(Seq("name" -> Json.str(o.name), "wall_s" -> Json.num(o.wallS),
        "build_s" -> Json.num(o.buildS), "bytes" -> o.bytes.toString,
        "heap_mb" -> Json.num(o.heapMb), "staged" -> o.staged.toString,
        "error" -> o.error.map(Json.str).getOrElse("null")) ++
        (if (p.traced) Seq("layers" -> Json.obj(o.layers.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*)) else Nil): _*)
    }))
}

/** The per-layer metrics, with units, and how a traced pass yields them. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "codegen.compile_s" -> "s", "codegen.compiles" -> "count",
    "plan.exchanges" -> "count", "plan.broadcast_joins" -> "count",
    "plan.sort_merge_joins" -> "count", "plan.nested_loop_joins" -> "count",
    "plan.cached_scans" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.task_overhead_s" -> "s", "scheduler.tasks_failed" -> "count",
    "scheduler.stage_retries" -> "count",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_frac" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "memory.spill_mb" -> "MB", "memory.peak_exec_mb" -> "MB",
    "stage.staged_relations" -> "count",
    "io.input_mb" -> "MB", "io.output_mb" -> "MB", "io.records_written" -> "count",
    "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
    "pipeline.export_s" -> "s", "pipeline.quality_s" -> "s", "pipeline.overlap" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Counters whose pass value is the largest op value, not the sum. */
  private val Peaks = Set("memory.peak_exec_mb", "streaming.state_rows", "streaming.state_mem_mb")

  def ofPass(p: Main.Pass, cpus: Int): Map[String, Double] = {
    val keys = p.ops.flatMap(_.layers.keys).distinct
    val summed = keys.map { k =>
      val vs = p.ops.map(_.layers.getOrElse(k, 0.0))
      k -> (if (Peaks(k)) vs.max else vs.sum)
    }.toMap
    val pipelineWall = p.ops.filter(_.pipeline).map(_.buildS).sum
    val trig = p.ops.flatMap(_.triggerMs)
    summed ++ Map(
      "queries.build_s" -> p.ops.map(_.buildS).sum,
      "stage.staged_relations" -> p.ops.map(_.staged.toDouble).sum,
      "executor.busy_frac" -> summed.getOrElse("executor.run_s", 0.0) / (p.wallS * cpus),
      "pipeline.overlap" -> (if (pipelineWall == 0) 0.0
        else Branches.Names.map(b => summed.getOrElse(s"pipeline.${b}_s", 0.0)).sum / pipelineWall),
      "streaming.batch_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)))
  }
}

/** Minimal JSON writing: values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
