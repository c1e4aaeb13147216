package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source operators (SURVEY §2.1): landed-file scans with the reference's
  * option quirks, filename routing, and the ingest step.
  *
  * The reference fetches HTTP JSON/CSV then loads local files
  * (ingest_bronze.py:56-150, load_bronze.py:223-333). Here ingest is a
  * driver-side URL→landing-dir copy (`land`, supports file:// and http(s)://
  * — this environment is egress-free, so tests use file://), and all scans
  * are Spark readers so they parallelize over many landed files at once —
  * the reference loads files one at a time in a Python loop; Spark globs
  * the whole landing dir into one distributed scan.
  */
object Sources {

  /** S1/S2 ingest: copy a URL's bytes into the landing dir, returning the
    * landed path. Timestamped name mirrors ingest_bronze.py:67.
    *
    * The landed file appears ATOMICALLY: bytes stream into a temp file in
    * the same directory, then one rename replaces the destination — a
    * concurrent reader (another Spark scan, the DuckDB oracle) sees the
    * old complete file or the new complete file, never a truncated one.
    * A failed fetch, copy or move deletes the temp file and rethrows; after
    * a successful move there is no temp file left to delete. */
  def land(url: String, landingDir: String, name: String): String = {
    Files.createDirectories(Paths.get(landingDir))
    val dest = Paths.get(landingDir, name)
    val tmp = Files.createTempFile(Paths.get(landingDir), s".$name.", ".tmp")
    try {
      val in = java.net.URI.create(url).toURL.openStream()
      try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      try Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally Files.deleteIfExists(tmp)
    dest.toString
  }

  /** S3 JSON scan, one distributed scan over all paths: multiLine (the
    * reference lands pretty-printed arrays, ingest_bronze.py:71);
    * scalar-or-list handled by Spark natively. */
  def jsonAll(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("multiLine", "true").json(paths: _*)

  /** S2/S5 CSV scan over all paths with header + inference in the given
    * encoding; [[csvLatin1Fallback]] picks the encoding
    * (load_bronze.py:329-333: UTF-8 then ISO-8859-1 retry). */
  def csvAll(spark: SparkSession, paths: Seq[String],
      encoding: String = "UTF-8"): DataFrame =
    spark.read
      .option("header", "true").option("inferSchema", "true")
      .option("encoding", encoding).option("mode", "PERMISSIVE")
      .csv(paths: _*)

  /** S5 encoding fallback. Spark's readers never throw on malformed
    * UTF-8 — the line reader passes invalid bytes straight through into
    * UTF8Strings — so a try/catch (or a first-row probe) cannot detect a
    * latin-1 file. Instead probe the WHOLE file with one distributed pass
    * over the raw lines, testing byte-level UTF-8 validity (limit(1)
    * short-circuits the scan), and re-read as ISO-8859-1 when any line is
    * invalid — mirroring the reference's whole-file retry on
    * UnicodeDecodeError. */
  def csvLatin1Fallback(spark: SparkSession, path: String): DataFrame = {
    val mangled = spark.read.text(path)
      .filter(!is_valid_utf8(col("value")))
      .limit(1).count() > 0
    csvAll(spark, Seq(path), if (mangled) "ISO-8859-1" else "UTF-8")
  }

  /** ORC scan — the second columnar lake format (predicate pushdown and
    * column pruning work the same as parquet; some warehouses hand data
    * over as ORC). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Evolving-schema scan: union the schemas of all footers (mergeSchema)
    * so files written before a column was added read as NULL for it —
    * the lake-side contract when a layer table gains columns over time.
    * mergeSchema is a per-file footer union at planning time; at 100 TB
    * prefer declaring the target schema explicitly (`.schema(...)`) once
    * it has settled, which skips the footer sweep. */
  def parquetEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S7+S8 glob discovery + filename routing: one distributed multi-path
    * read per route pattern over the landing dir; each row keeps its
    * source file (P3 audit). Routes = substring → loader over ALL matched
    * paths, like load_bronze.py:392-414. Files matching no route are
    * logged (the reference's "Unknown file type" behavior) rather than
    * silently dropped. */
  def route(landingDir: String,
      routes: Seq[(String, Seq[String] => DataFrame)]): Map[String, DataFrame] = {
    val dir = Paths.get(landingDir)
    // Hidden files are never routable: land()'s in-flight temp files are
    // named `.<name>.<rand>.tmp` IN this directory, so a substring route
    // key ("users") would otherwise match a concurrent JVM's half-written
    // `.users_1.json.….tmp` (or a stale one from a crashed land()) and
    // feed truncated bytes into a reader. Skipping dotfiles keeps the
    // land()→route() pair multi-JVM safe: routes see only completed,
    // atomically-renamed destinations.
    val files =
      if (Files.isDirectory(dir))
        Files.list(dir).iterator().asScala.map(_.toString).toSeq
          .filterNot(f => Paths.get(f).getFileName.toString.startsWith("."))
      else Seq.empty
    val unrouted = files.filterNot(f => routes.exists { case (k, _) => f.contains(k) })
    unrouted.foreach(f => System.err.println(s"[sources] unknown file type: $f"))
    routes.flatMap { case (key, loader) =>
      val matched = files.filter(_.contains(key)).sorted
      if (matched.isEmpty) None
      else Some(key -> loader(matched)
        .withColumn("source_filename", input_file_name()))
    }.toMap
  }
}
