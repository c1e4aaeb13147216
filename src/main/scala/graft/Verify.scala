package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string literal of `s`: escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in an oracle SQL string would
    * otherwise make a consumer's json.load fail and silently zero the
    * correctness compare. Bench writes its JSON with it. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: query names after outDir restrict the run (local iteration)
    val defs = SparkEntry.select(args.drop(2).toSet)
    val spark = graft.engine.Session.local()
    new java.io.File(outDir).mkdirs()
    defs.foreach { q =>
      // a query that throws before its write must leave no output behind:
      // a previous run's directory would be graded in its place
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/${q.name}"))
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
    // the FULL map, even on a restricted run: a second restricted Verify
    // into the same outDir must not shrink oracle_sql.json and leave the
    // first run's queries without an oracle (check.py looks up only the
    // names it is asked to grade, so extra keys are harmless)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
