package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.{Bronze, Pipeline, Scratch, SilverPosts, SilverUsers}
import graft.sources.Sources
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("full medallion run produces all layers + metadata") {
    val lake = Scratch.dir("graft-lake")
    val counts = new Pipeline(spark, lake).run("/root/testdata/sf0.001")
    assert(counts("bronze_events") === 1000)
    assert(counts("silver_covid") > 0)
    assert(counts("gold_daily") > 0)
    assert(counts("silver_posts") > 0)
    // gold.user_engagement_metrics: keyed per (engagement_date, user_id),
    // so it has at most one row per clean_posts row and a populated schema
    assert(counts("gold_engagement") > 0 &&
      counts("gold_engagement") <= counts("silver_posts"))
    val eng = spark.read.parquet(s"$lake/gold/user_engagement_metrics")
    assert(eng.columns.toSet === Set("engagement_date", "user_id",
      "post_count", "avg_post_length", "total_words", "engagement_score",
      "activity_level", "last_active_date"))
    assert(counts("quality_checks") === 3)
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/run_metadata.json")))
    // K4 idempotency: second run must not duplicate date partitions
    val c2 = new Pipeline(spark, lake).run("/root/testdata/sf0.001")
    assert(c2("gold_daily") === counts("gold_daily"))
    assert(c2("gold_engagement") === counts("gold_engagement"))
    // exports landed
    assert(Files.list(java.nio.file.Paths.get(s"$lake/exports")).count() >= 2)
  }

  test("incremental run rewrites only the batch's gold partitions (K4 partition-minimal)") {
    // Full run, then a P7-filtered incremental run carrying only the last
    // three days. The K4 contract at the GOLD layer: every daily partition
    // OUTSIDE the batch keeps its files byte-for-byte (same names, same
    // bytes — dynamic partition overwrite never touched them), while the
    // batch's partitions are genuinely rewritten (fresh part files).
    val lake = Scratch.dir("graft-lake-incr")
    new Pipeline(spark, lake).run("/root/testdata/sf0.001")
    val goldDir = java.nio.file.Paths.get(s"$lake/gold/daily_global_summary")
    def partitionFiles(): Map[String, Map[String, Int]] = {
      import scala.jdk.CollectionConverters._
      Files.walk(goldDir).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toSeq
        .groupBy(p => goldDir.relativize(p).getName(0).toString)
        .map { case (part, files) =>
          part -> files.map(f => goldDir.relativize(f).toString ->
            java.util.Arrays.hashCode(Files.readAllBytes(f))).toMap
        }
    }
    val before = partitionFiles()
    val since = "2024-01-28"
    new Pipeline(spark, lake).run("/root/testdata/sf0.001", Some(since))
    val after = partitionFiles()
    assert(after.keySet === before.keySet, "partition set must not change")
    val touched = before.keySet.filter(_.stripPrefix("record_date=") >= since)
    val untouched = before.keySet -- touched
    assert(touched.nonEmpty && untouched.nonEmpty, s"split failed: $touched")
    untouched.foreach { part =>
      assert(after(part) === before(part),
        s"untouched partition $part was rewritten")
    }
    touched.foreach { part =>
      assert(after(part).keySet !== before(part).keySet,
        s"batch partition $part was not rewritten (stale files)")
    }
  }

  test("run() surfaces a branch failure only after every branch settles") {
    // sfDir with events but NO documents: branch B (posts→engagement)
    // fails at its scan while branches A (silver chain) and C (quality)
    // are healthy. run() must (1) rethrow the failure and (2) have
    // AWAITED the healthy branches first — the await-all-via-Try
    // contract, so no write is still in flight when run() throws and the
    // completed branches' lake tables are fully landed.
    val src = java.nio.file.Paths.get(Scratch.dir("pipe-fail-src"))
    Files.createSymbolicLink(src.resolve("events.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"))
    val lake = Scratch.dir("pipe-fail-lake")
    val e = intercept[Throwable] {
      new Pipeline(spark, lake).run(src.toString)
    }
    assert(Option(e.getMessage).exists(_.toLowerCase.contains("documents")),
      s"unexpected failure: $e")
    // branch A completed through gold + export before the rethrow
    assert(spark.read.parquet(s"$lake/gold/daily_global_summary").count() > 0)
    assert(spark.read.parquet(s"$lake/silver/quality_logs").count() === 3)
  }

  test("export refuses tables over the single-object row guard") {
    val lake = Scratch.dir("graft-export-guard")
    val p = new Pipeline(spark, lake)
    val big = spark.range(100).toDF("id")
    val e = intercept[IllegalArgumentException] {
      p.export(big, "too_big", maxRows = 10)
    }
    assert(e.getMessage.contains("single-object"))
    // at-or-under the guard still exports both formats
    p.export(big.limit(5), "small", maxRows = 10)
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/exports/small_csv")))
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/exports/small_json")))
  }

  test("sharded training export: one JSONL dir per shard, nothing lost") {
    val lake = Scratch.dir("graft-shard-export")
    val p = new Pipeline(spark, lake)
    val docs = spark.range(500).select(col("id").as("doc_id"),
      (col("id") % 97 + 1).as("tokens"),
      concat(lit("""{"doc_id":"""), col("id"), lit("}")).as("line"))
    val dir = p.exportTrainingShards(docs, "doc_id", "tokens", "line",
      nShards = 4)
    val back = spark.read.option("basePath", dir).text(s"$dir/shard=*")
      .withColumn("shard", regexp_extract(input_file_name(),
        "shard=(\\d+)", 1).cast("int"))
    assert(back.count() === 500, "every line lands")
    assert(back.select("value").distinct().count() === 500)
    val perShard = back.groupBy("shard").count()
      .as[(Int, Long)].collect().toMap
    assert(perShard.keySet === Set(0, 1, 2, 3), "all shard dirs populated")
    // re-export is idempotent overwrite
    p.exportTrainingShards(docs, "doc_id", "tokens", "line", nShards = 4)
    assert(spark.read.text(s"$dir/shard=*").count() === 500)
  }

  test("compaction shrinks file count without changing rows") {
    val lake = Scratch.dir("graft-compact")
    val p = new Pipeline(spark, lake)
    // 40 appends of tiny frames → 40+ small files
    (1 to 40).foreach { i =>
      p.writeAppend(Seq((i.toLong, s"row$i")).toDF("id", "v"), "bronze", "tiny")
    }
    def files() = Files.walk(java.nio.file.Paths.get(s"$lake/bronze/tiny"))
      .filter(_.toString.endsWith(".parquet")).count()
    val before = files()
    assert(before >= 40)
    val rows = p.read("bronze", "tiny").orderBy("id").collect().toSeq
    p.compact("bronze", "tiny", targetMB = 128)
    assert(files() < 5, s"still ${files()} files after compaction")
    assert(p.read("bronze", "tiny").orderBy("id").collect().toSeq === rows)
    // swap leaves no staging dirs behind (single-writer contract: the
    // no-table window is two renames; __old/__compact must not persist)
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/bronze/tiny.__old")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/bronze/tiny.__compact")))
    // a second compact works from the already-compacted state (and cleans
    // any leftover staging from a hypothetical crashed run)
    p.compact("bronze", "tiny", targetMB = 128)
    assert(p.read("bronze", "tiny").orderBy("id").collect().toSeq === rows)
  }

  test("deleteKeys rewrites only affected partitions, drops emptied ones") {
    val lake = Scratch.dir("graft-delete")
    val p = new Pipeline(spark, lake)
    // p=1: survivors+deleted mixed; p=2: untouched; p=3: fully deleted
    val rows = Seq(
      (1L, 10L, "p1"), (2L, 11L, "p1"), (3L, 10L, "p1"),
      (4L, 20L, "p2"), (5L, 21L, "p2"),
      (6L, 30L, "p3"), (7L, 30L, "p3"))
      .toDF("id", "key", "part")
    p.upsertByDate(rows, "silver", "dk", "part")
    def partFiles(pv: String) = {
      val dir = java.nio.file.Paths.get(s"$lake/silver/dk/part=$pv")
      if (!Files.exists(dir)) Map.empty[String, Long]
      else {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(dir).filter(_.toString.endsWith(".parquet"))
        try s.iterator().asScala
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
          .toMap
        finally s.close()
      }
    }
    val p2Before = partFiles("p2")
    assert(p2Before.nonEmpty)
    val (rewritten, dropped) = p.deleteKeys("silver", "dk", "part", "key",
      Seq(10L, 30L).toDF("key"))
    assert((rewritten, dropped) === ((1L, 1L)), "p1 rewritten, p3 dropped")
    assert(partFiles("p2") === p2Before,
      "untouched partition must keep its files byte-for-byte")
    assert(partFiles("p3").isEmpty, "fully-deleted partition dir removed")
    val left = p.read("silver", "dk").select("id").as[Long].collect().toSet
    assert(left === Set(2L, 4L, 5L), "only non-deleted keys survive")
  }

  test("applyCdc: deletes, in-place updates, partition-moving updates, inserts") {
    val lake = Scratch.dir("graft-cdc")
    val p = new Pipeline(spark, lake)
    val base = Seq(
      (1L, "v1", "p1"), (2L, "v2", "p1"), (3L, "v3", "p2"), (4L, "v4", "p2"))
      .toDF("id", "v", "part")
    p.upsertByDate(base, "silver", "cdc", "part")
    val changes = Seq(
      (1L, null.asInstanceOf[String], null.asInstanceOf[String], "D", 1L),
      (2L, "v2x", "p2", "U", 1L),      // update that MOVES p1 -> p2
      (3L, "v3x", "p2", "U", 1L),      // in-place update
      (5L, "v5", "p3", "I", 1L),       // insert into a new partition
      // raw feed: two changes for key 6, seq keeps the later one
      (6L, "stale", "p3", "I", 1L), (6L, "fresh", "p3", "U", 2L))
      .toDF("id", "v", "part", "op", "seq")
    p.applyCdc("silver", "cdc", "part", "id", changes, seqCol = Some("seq"))
    val got = p.read("silver", "cdc")
      .select("id", "v", "part").as[(Long, String, String)].collect().toSet
    assert(got === Set(
      (2L, "v2x", "p2"), (3L, "v3x", "p2"), (4L, "v4", "p2"),
      (5L, "v5", "p3"), (6L, "fresh", "p3")))
    // the moved row must not linger in its old partition
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/silver/cdc/part=p1")),
      "p1 lost both rows (one deleted, one moved) and must be dropped")
  }

  test("bucketed tables join with no exchange on either side") {
    val lake = Scratch.dir("graft-bucketed")
    val p = new Pipeline(spark, lake)
    val sf = "/root/testdata/sf0.001"
    p.writeBucketed(graft.engine.Tables.orders(spark, sf),
      "silver", "b_orders", "o_custkey", 4)
    p.writeBucketed(
      graft.engine.Tables.customer(spark, sf)
        .withColumnRenamed("c_custkey", "o_custkey"),
      "silver", "b_customer", "o_custkey", 4)
    // force the sort-merge path (broadcast would trivially skip shuffles)
    val joined = spark.table("silver_b_orders").hint("merge")
      .join(spark.table("silver_b_customer"), "o_custkey")
    val plan = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n$plan")
    val expected = graft.engine.Tables.orders(spark, sf)
      .join(graft.engine.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey")).count()
    assert(joined.count() === expected)
    spark.sql("DROP TABLE silver_b_orders")
    spark.sql("DROP TABLE silver_b_customer")
  }

  test("sources: land file:// url, route by filename, json/csv scans") {
    val land = Scratch.dir("graft-landing")
    val src = java.nio.file.Paths.get(Scratch.dir("graft-src"))
    val usersJson =
      """[{"id": 1, "name": "A", "email": "a@b.co",
        |  "address": {"geo": {"lat": "1.5", "lng": "oops"}}},
        | {"id": 2, "name": "B", "email": "bad",
        |  "address": {"geo": {"lat": null, "lng": "2.5"}}}]""".stripMargin
    Files.writeString(src.resolve("users_1.json"), usersJson)
    Files.writeString(src.resolve("covid_1.csv"),
      "Date,Country/Region,Confirmed\n2020-01-01,US,10\n2020-01-02,US,\n")
    Sources.land(src.resolve("users_1.json").toUri.toString, land, "users_1.json")
    // land the same users file twice → multi-path route must scan both
    Sources.land(src.resolve("users_1.json").toUri.toString, land, "users_2.json")
    Sources.land(src.resolve("covid_1.csv").toUri.toString, land, "covid_1.csv")
    val routed = Sources.route(land, Seq(
      "users" -> (ps => Sources.jsonAll(spark, ps)),
      "covid" -> (ps => Sources.csvAll(spark, ps)),
      "posts" -> (ps => Sources.jsonAll(spark, ps))))
    assert(routed.keySet === Set("users", "covid"))
    assert(routed("users").count() === 4, "both landed files scanned")
    assert(routed("users").select("source_filename").distinct.count() === 2)
    assert(routed("users").columns.contains("source_filename"))
    assert(routed("covid").count() === 2)
  }

  test("bronze cleaning: sanitize, blanks→null, schema coercion") {
    import org.apache.spark.sql.types._
    val raw = Seq(("1", " ", "x y"), ("oops", "B", "z"))
      .toDF("Count#1", "name col", "9lead")
    val clean = Bronze.sanitizeColumns(raw)
    assert(clean.columns.toSeq === Seq("count_1", "name_col", "col_9lead"))
    val nulled = Bronze.blanksToNull(clean)
    assert(nulled.filter(col("name_col").isNull).count() === 1)
    val coerced = Bronze.coerceTo(nulled,
      StructType(Seq(StructField("count_1", IntegerType))),
      zeroDefaultInts = Set("count_1"))
    assert(coerced.columns.toSeq === Seq("count_1"))
    assert(coerced.as[Int].collect().sorted.toSeq === Seq(0, 1))
  }

  test("silver users: nested extraction, geo default 0.0, validity, dedup") {
    val usersJson =
      """[{"id": 1, "name": " Ann ", "username": "ann", "email": "ANN@x.com",
        |  "phone": "1-770-736-8031", "website": "w",
        |  "address": {"street": "s", "suite": "1", "city": "c", "zipcode": "z",
        |              "geo": {"lat": "1.5", "lng": "bogus"}},
        |  "company": {"name": "Acme", "catchPhrase": "cp", "bs": "bs"}},
        | {"id": 1, "name": "Dup", "username": "d", "email": "dup@x.com",
        |  "phone": "123", "website": "w",
        |  "address": {"street": "s", "suite": "1", "city": "c", "zipcode": "z",
        |              "geo": {"lat": "0", "lng": "0"}},
        |  "company": {"name": "Acme", "catchPhrase": "cp", "bs": "bs"}},
        | {"id": 2, "name": "Bob", "username": "bob", "email": "not-an-email",
        |  "phone": "no digits", "website": "w",
        |  "address": {"street": "s", "suite": "1", "city": "c", "zipcode": "z",
        |              "geo": {"lat": "3.25", "lng": "4.5"}},
        |  "company": {"name": "Beta", "catchPhrase": "cp", "bs": "bs"}}]""".stripMargin
    val tmp = java.nio.file.Paths.get(Scratch.dir("users"))
    Files.writeString(tmp.resolve("users.json"), usersJson)
    val out = SilverUsers.transform(
      Sources.jsonAll(spark, Seq(tmp.resolve("users.json").toString)))
    assert(out.count() === 2, "dedup on user_id keeps first")
    val ann = out.filter($"user_id" === 1).collect().head
    assert(ann.getAs[String]("email") === "ann@x.com")
    assert(ann.getAs[Boolean]("email_valid"))
    assert(ann.getAs[String]("email_domain") === "x.com")
    assert(ann.getAs[Double]("latitude") === 1.5)
    assert(ann.getAs[Double]("longitude") === 0.0, "bogus lng → 0.0")
    assert(ann.getAs[Int]("data_quality_score") === 100)
    val bob = out.filter($"user_id" === 2).collect().head
    assert(!bob.getAs[Boolean]("email_valid"))
    assert(!bob.getAs[Boolean]("phone_valid"))
    assert(bob.getAs[Int]("data_quality_score") === 50)
  }

  test("silver posts: declared-gap feature set") {
    val posts = Seq(
      (1L, 1L, "Title", "this is a good fast new thing see https://x.co now"),
      (2L, 1L, "T2", ""),
      (3L, 2L, "T3", "bad slow old error stuff"))
      .toDF("id", "userId", "title", "body")
    val out = SilverPosts.transform(posts).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("word_count") === 10)
    assert(out(1L).getAs[Boolean]("has_links"))
    assert(out(1L).getAs[Double]("sentiment_score") > 0)
    assert(out(3L).getAs[Double]("sentiment_score") < 0)
    assert(out(2L).getAs[Double]("sentiment_score") === 0.0)
  }
}
