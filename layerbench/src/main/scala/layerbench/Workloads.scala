package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What an op needs besides the session: the input lake, and a way to make
  * a fresh directory under the run's scratch directory. */
final class OpContext(val spark: SparkSession, val inputLake: String,
    val newDir: String => String)

/** One unit of timed work. `build` calls the engine's public entry point
  * and returns the frames whose digests make the op's output; the harness
  * digests them inside the op's timed region. */
final case class Op(name: String, build: OpContext => Seq[DataFrame],
    isPipeline: Boolean = false)

/** A named set of ops, the untimed passes that warm the JVM first, and the
  * fewest timed passes a run makes. A fixed count keeps a pass whose wall
  * is near the time budget from measuring one pass in some runs and two in
  * others. `BENCHMARK.json` says why each workload exists. */
final case class Workload(name: String, warmupPasses: Int, timedPasses: Int,
    ops: Seq[Op]) {
  require(ops.map(_.name).distinct.size == ops.size, s"duplicate op in $name")

  /** The ops in the order `seed` fixes. No op of a workload depends on
    * another having run, so every order is valid. */
  def order(seed: Long): Seq[Op] = new scala.util.Random(seed).shuffle(ops)
}

object Workloads {

  private lazy val defs = graft.SparkEntry.allDefs.map(q => q.name -> q).toMap

  /** An op that is one registered query, run through `QueryDef.run`. */
  private def query(name: String): Op = {
    require(defs.contains(name), s"no query named $name")
    Op(name, c => Seq(defs(name).run(c.spark, c.inputLake)))
  }

  /** A full medallion run into a fresh lake: the stage counts it returns,
    * and the gold table it wrote, read back. The memoised `q_pipeline_run`
    * would time nothing after its first call. */
  val pipelineFull: Op = Op("pipeline_full", { c =>
    import c.spark.implicits._
    val lake = c.newDir("bench-lake")
    val pipeline = new graft.engine.Pipeline(c.spark, lake)
    val counts = pipeline.run(c.inputLake)
    Seq(counts.toSeq.sortBy(_._1).toDF("stage", "n_rows"),
      pipeline.read("gold", "daily_global_summary")
        .select("record_date", "n_countries", "total_new_cases", "avg_mortality_rate"))
  }, isPipeline = true)

  /** One warm-up pass: the second pass of a JVM already runs within 10 %
    * of the third. Two timed passes, as a pass takes about 5 s. */
  val read = Workload("read", 1, 2,
    Seq("q1_pricing_summary", "q18_large_orders", "q_covid_silver",
      "dedup_bloom_probe", "sim_knn_graph").map(query))

  /** Two warm-up passes: after one, JIT compilation still takes more CPU
    * time than the timed pass lasts, and the op walls spread about 20 %
    * from run to run. One timed pass, as a pass takes about 11 s. */
  val write = Workload("write", 2, 1,
    Seq(pipelineFull, query("q_stream_window_replay")))

  val all: Seq[Workload] = Seq(read, write)

  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}
