package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: query names after outDir restrict the run (local iteration)
    val defs = SparkEntry.select(args.drop(2).toSet)
    val spark = graft.engine.Session.local()
    new java.io.File(outDir).mkdirs()
    defs.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      // also free localCheckpoint blocks (see Bench.scala: the SQL cache
      // manager doesn't own them, and ContextCleaner lag lets them pile
      // into the storage fraction across 145 queries). Scoped to the
      // ids Stage registered, not all persistent RDDs.
      graft.engine.Stage.releaseStaged(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the FULL map, even on a restricted run: a second restricted Verify
    // into the same outDir must not shrink oracle_sql.json and demote the
    // first run's queries to rows-only (check.py looks up only the names
    // it is asked to grade, so extra keys are harmless)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
