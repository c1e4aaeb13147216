package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources
import graft.engine.Scratch

class SourcesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def write(name: String, body: String, charset: String): String = {
    val dir = Paths.get(Scratch.dir("graft_srcspec"))
    val f = Paths.get(dir.toString, name)
    Files.write(f, body.getBytes(charset))
    f.toString
  }

  test("latin-1 byte past row 1 triggers the whole-file fallback") {
    // 0xE9 ('é') appears only in DATA row 3 — a first-row probe
    // would miss it
    val path = write("users_latin1.csv",
      "id,name\n1,alice\n2,bob\n3,café\n", "ISO-8859-1")
    val names = Sources.csvLatin1Fallback(spark, path)
      .collect().map(_.getString(1)).toSet
    assert(names.contains("café"), s"fallback not taken: $names")
  }

  test("schema evolution: mergeSchema reads old files with NULL for new columns") {
    import spark.implicits._
    val dir = Scratch.dir("graft_evolve")
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val df = Sources.parquetEvolving(spark, dir)
    assert(df.columns.toSet == Set("id", "name", "score"))
    val byId = df.select("id", "score").collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byId(1L) === None && byId(2L) === Some(9.5))
  }

  test("ORC round-trips with predicate pushdown reaching the scan") {
    import spark.implicits._
    val dir = Scratch.dir("graft_orc") + "/t"
    val df = spark.range(1000).select(
      $"id", ($"id" % 7).as("grp"), ($"id" * 2.5).as("score"))
    df.write.orc(dir)
    val back = Sources.orc(spark, dir)
    assert(back.count() === 1000)
    val filtered = back.filter($"grp" === 3).select("id", "score")
    assert(filtered.count() === df.filter($"grp" === 3).count())
    // the filter must reach the ORC reader, not run post-scan only
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("grp"),
      s"no pushed filter in plan:\n$plan")
  }

  test("ORC archive sink round-trips through the lake") {
    val lake = Scratch.dir("graft_lake")
    val p = new graft.engine.Pipeline(spark, lake)
    p.archiveOrc(spark.range(100).toDF("id"), "ids")
    assert(Sources.orc(spark, s"$lake/archive/ids").count() === 100)
  }

  test("a failed fetch throws and leaves no temp file in the landing dir") {
    val landing = Paths.get(Scratch.dir("graft_land"), "landing")
    val missing = Paths.get(Scratch.dir("graft_land_src"), "absent.json")
    intercept[java.io.IOException] {
      Sources.land(missing.toUri.toString, landing.toString, "users_1.json")
    }
    val left = landing.toFile.list().toSeq
    assert(left.isEmpty, s"landing dir not empty: $left")
  }

  test("valid UTF-8 file stays on the UTF-8 path") {
    val path = write("users_utf8.csv",
      "id,name\n1,alice\n2,café\n", "UTF-8")
    val names = Sources.csvLatin1Fallback(spark, path)
      .collect().map(_.getString(1)).toSet
    // read as UTF-8 the two-byte é survives; a wrong ISO-8859-1 re-read
    // would have produced 'cafÃ©'
    assert(names == Set("alice", "café"))
  }
}
