package layerbench

import java.nio.file.{Files, Paths}

/** Writes the digest of every op's output, one run of each op in
  * declaration order, as the file [[Main]] checks against. With a
  * `--verify-dir` holding `graft.Verify`'s parquet dump of the same lake
  * (graded by `scripts/check.py`), it also checks each pinned digest against
  * the graded output of the query it stands for, and fails on a mismatch.
  *
  * {{{
  * Pin --lake <input lake> --scratch <empty dir> --out <digests.json> [--verify-dir <dir>]
  * }}}
  */
object Pin {

  /** Graded Verify outputs standing for each op's frames, in order. */
  private val graded: Map[String, Seq[String]] =
    Workloads.all.flatMap(_.ops).map(o => o.name -> Seq(o.name)).toMap ++ Map(
      "pipeline_full" -> Seq("q_pipeline_run", "q_pipeline_end_state"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val scratch = Paths.get(a("scratch")).toAbsolutePath
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), scratch)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val ctx = new OpContext(spark, Paths.get(a("lake")).toAbsolutePath.toString,
      prefix => Files.createTempDirectory(tmp, prefix).toString)
    val digests = Workloads.all.flatMap(_.ops).map { op =>
      val d = op.build(ctx).map(Digest.of(_).toString)
      spark.catalog.clearCache()
      graft.engine.Stage.releaseStaged(spark)
      op.name -> d
    }
    val bad = a.get("verify-dir").toSeq.flatMap { dir =>
      digests.flatMap { case (name, d) =>
        graded(name).zip(d).collect {
          case (q, got) if Digest.of(spark.read.parquet(s"$dir/$q")).toString != got =>
            s"$name: digest differs from the graded output of $q"
        }
      }
    }
    spark.stop()
    bad.foreach(System.err.println)
    if (bad.nonEmpty) sys.exit(1)
    Files.writeString(Paths.get(a("out")), Json.obj(digests.sortBy(_._1).map {
      case (n, d) => n -> Json.str(d.mkString("|")) }: _*).replace(",\"", ",\n  \"")
      .replace("{\"", "{\n  \"").stripSuffix("}") + "\n}\n")
    println(s"pinned ${digests.size} digests")
  }
}
