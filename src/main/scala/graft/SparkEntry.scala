package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's QueryDef (Spark program +
  * DuckDB oracle SQL) from the per-family modules under
  * graft.queries.
  */
object SparkEntry {

  val allDefs: Seq[QueryDef] =
    Relational.defs ++ Aggregates.defs ++ Windows.defs ++ Scalars.defs ++
      Composites.defs ++ GoldRollups.defs ++ QualityQueries.defs ++
      Extensions.defs ++ PipelineQueries.defs ++ ScaleOps.defs ++
      Curation.defs ++ StreamingQueries.defs ++ StatsOps.defs ++
      ExperimentOps.defs ++ AlignmentOps.defs ++ RobustOps.defs ++
      EvalOps.defs ++ AnalysisOps.defs ++ RevenueOps.defs ++
      AppliedOps.defs ++ TpchOps.defs

  require(allDefs.map(_.name).distinct.size == allDefs.size,
    "duplicate query names")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** The queries a harness main runs: every query when `names` is empty,
    * else the named ones; both in declaration order. An unknown name
    * throws, so a typo cannot run (and report) zero queries. */
  def select(names: Set[String]): Seq[QueryDef] = {
    val unknown = names -- allDefs.map(_.name)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(" ")}")
    allDefs.filter(q => names.isEmpty || names(q.name))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    allDefs.map(q => q.name -> q.oracle).toMap
}
