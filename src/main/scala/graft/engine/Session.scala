package graft.engine

import org.apache.spark.sql.SparkSession
import graft.expressions.GraftFunctions

/** The one local-session factory every main and the test suite builds
  * from, so they cannot drift apart on the settings the oracle compare
  * depends on. The session comes back with graft's native functions and
  * the [[graft.expressions.BroadcastGuard]] already registered, so every
  * query is planned under the guard, whatever runs first. */
object Session {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every available core. */
  lazy val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // non-ANSI: invalid casts → NULL, matching the DuckDB TRY_CAST
      // oracle semantics; divisions are zero-guarded in the queries
      .config("spark.sql.ansi.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS): read as long, normalized in
      // Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Runs `f` with the session conf `settings` in force, then gives each
    * key back its prior value, or unsets it if it had none. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(f: => T): T = {
    val set = s.conf.getAll
    val prior = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
