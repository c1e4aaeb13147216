package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{Det, GoldEngagement, Pipeline, Scratch, SilverPosts, SilverUsers, Tables}
import graft.functions.TextFunctions.{hitsSql, tokensSql}
import graft.sources.Sources

/** Queries exposing the medallion modules (Bronze/Silver/Gold/Pipeline)
  * through the driver surface. */
object PipelineQueries {

  /** Fixed landing dir for [[s3_source_routing]]: the oracle SQL is a
    * static string, so DuckDB can only re-read the landed files if their
    * path is deterministic. Per-user (multi-user /tmp would otherwise mix
    * ownership — the user name interpolates identically into the query
    * and its oracle because both strings are built in this JVM), and
    * concurrent JVMs landing the same fixture bytes are safe because
    * [[Sources.land]] replaces files atomically. */
  private val routingLandingDir = {
    val user = System.getProperty("user.name", "anon")
      .replaceAll("[^A-Za-z0-9_-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_s3_routing_landing_$user"
  }

  /** ONE medallion run per (JVM, sfDir), shared by q_pipeline_run (stage
    * counts) and q_pipeline_end_state (gold lake hash check): the end
    * state of `Pipeline.run` is a pure function of the input tables, and
    * checking a pipeline's output means reading the lake it wrote — not
    * executing the pipeline a second time. Also keeps the append-only
    * quality_logs count deterministic (a second run into the same lake
    * would double it; a second lake would double the work). */
  private object SharedLake {
    private val lakes =
      scala.collection.concurrent.TrieMap[String, (String, Map[String, Long])]()
    def runOnce(s: org.apache.spark.sql.SparkSession,
        sfDir: String): (String, Map[String, Long]) =
      lakes.getOrElseUpdate(sfDir, {
        val lake = Scratch.dir("graft-lake")
        (lake, new Pipeline(s, lake).run(sfDir))
      })
  }

  /** Force-build the session-memoized medallion lake for `sfDir` NOW.
    * Benchmark harnesses call this before their timed region so the
    * whole-lake build is charged to an explicit setup line item instead
    * of whichever pipeline-family query happens to run first (the
    * memoization otherwise makes per-query timings order-dependent —
    * an 0.06 s → 5 s phantom "regression" whenever the recorded attempt
    * wasn't memo-warm). */
  def warmSharedLake(s: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = { SharedLake.runOnce(s, sfDir); () }

  val defs: Seq[QueryDef] = Seq(

    // SilverPosts: the reference's declared-but-never-built clean_posts
    // feature set (transform_silver.py:82-95), on documents(title=source,
    // body=text).
    QueryDef.sql(
      "q_silver_posts", {
        raw"""WITH f AS (
             |  SELECT doc_id, source, text,
             |    len(${tokensSql("text")}) AS wc,
             |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
             |    ${hitsSql("text", SilverPosts.positiveWords)} AS pos,
             |    ${hitsSql("text", SilverPosts.negativeWords)} AS neg
             |  FROM documents)
             |SELECT doc_id, length(source) AS title_length,
             |  length(text) AS body_length, CAST(wc AS BIGINT) AS word_count,
             |  CASE WHEN wc > 0 THEN ${Det.roundNSql("chars * 1.0 / wc", 2)} ELSE 0.0 END AS avg_word_length,
             |  contains(text, 'http://') OR contains(text, 'https://') AS has_links,
             |  CASE WHEN wc > 0 THEN ${Det.roundNSql("(pos - neg) * 1.0 / wc", 4)} ELSE 0.0 END AS sentiment_score
             |FROM f ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      SilverPosts.transform(
          Tables.documents(s, d), titleCol = "source", bodyCol = "text")
        .select("doc_id", "title_length", "body_length", "word_count",
          "avg_word_length", "has_links", "sentiment_score")
        .orderBy("doc_id")
    },

    // SilverUsers over a synthesized nested users frame (testdata has no
    // nested users table): customer → {id, name, email, phone, address
    // {geo{lat,lng}}, company} with deliberate invalid branches, then the
    // full nested-extraction transform. The oracle rebuilds the same
    // synthetic frame as flat columns and mirrors every derivation —
    // double→string→try_cast round-trips agree because both engines use
    // shortest-roundtrip double formatting in this value range.
    QueryDef.sql(
      "q_silver_users",
      raw"""WITH nested AS (
         |  SELECT c_custkey AS id, c_name AS name,
         |    lower(c_name) || '_u' AS username,
         |    CASE WHEN c_custkey % 4 = 0
         |         THEN regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') || '.nodomain'
         |         ELSE regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') || '@example.com'
         |    END AS email,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'no digits here'
         |         ELSE '1-' || CAST(c_custkey AS VARCHAR) END AS phone,
         |    'example.org' AS website, '1 Main St' AS street,
         |    c_mktsegment AS city, '00000' AS zipcode,
         |    CASE WHEN c_custkey % 3 = 0 THEN 'not-a-number'
         |         ELSE CAST(c_acctbal / 100 AS VARCHAR) END AS lat,
         |    CAST(c_nationkey * 1.5 AS VARCHAR) AS lng,
         |    c_mktsegment AS company_name, 'cp' AS catchphrase
         |  FROM customer),
         |t AS (
         |  SELECT CAST(id AS BIGINT) AS user_id,
         |    lower(trim(name)) AS full_name, username,
         |    lower(trim(email)) AS email,
         |    regexp_matches(lower(trim(email)),
         |      '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$$') AS email_valid,
         |    CASE WHEN contains(lower(trim(email)), '@')
         |         THEN split_part(lower(trim(email)), '@', 2) END AS email_domain,
         |    CAST(length(lower(trim(name))) AS BIGINT) AS name_length,
         |    phone,
         |    phone IS NOT NULL AND regexp_matches(phone, '[0-9]') AS phone_valid,
         |    regexp_replace(phone, '[^0-9]', '', 'g') AS phone_digits,
         |    website, street, city, zipcode,
         |    COALESCE(TRY_CAST(lat AS DOUBLE), 0.0) AS latitude,
         |    COALESCE(TRY_CAST(lng AS DOUBLE), 0.0) AS longitude,
         |    company_name, catchphrase AS company_catchphrase,
         |    GREATEST(0, 100
         |      - CASE WHEN NOT regexp_matches(lower(trim(email)),
         |          '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$$')
         |          THEN 30 ELSE 0 END
         |      - CASE WHEN NOT (phone IS NOT NULL AND regexp_matches(phone, '[0-9]'))
         |          THEN 20 ELSE 0 END) AS data_quality_score
         |  FROM nested)
         |SELECT * FROM t ORDER BY user_id""".stripMargin) { (s, d) =>
      val nested = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        concat(lower(col("c_name")), lit("_u")).as("username"),
        when(col("c_custkey") % 4 === 0,
          concat(regexp_replace(lower(col("c_name")), "[^a-z0-9]", ""), lit(".nodomain")))
          .otherwise(concat(regexp_replace(lower(col("c_name")), "[^a-z0-9]", ""),
            lit("@example.com"))).as("email"),
        when(col("c_custkey") % 5 === 0, lit("no digits here"))
          .otherwise(concat(lit("1-"), col("c_custkey").cast("string"))).as("phone"),
        lit("example.org").as("website"),
        struct(
          lit("1 Main St").as("street"), lit("Apt 1").as("suite"),
          col("c_mktsegment").as("city"), lit("00000").as("zipcode"),
          struct(
            when(col("c_custkey") % 3 === 0, lit("not-a-number"))
              .otherwise((col("c_acctbal") / 100).cast("string")).as("lat"),
            (col("c_nationkey") * 1.5).cast("string").as("lng")).as("geo"))
          .as("address"),
        struct(col("c_mktsegment").as("name"), lit("cp").as("catchPhrase"),
          lit("bs").as("bs")).as("company"))
      SilverUsers.transform(nested).orderBy("user_id")
    },

    // Sources family end-to-end (S1 land, S3 multiLine JSON, S5 CSV with
    // inference, S7 glob discovery, S8 filename routing): lands two files
    // into a FIXED landing dir, routes by filename substring, scans each
    // with the right reader, and reports per-route row counts, the full
    // inferred+audit column set, and a value checksum. Oracled: DuckDB
    // re-reads THE SAME LANDED FILES (read_json_auto / read_csv on the
    // fixed path — static SQL, which is why the landing dir can't be a
    // per-run temp dir), so the hash check pins Spark's multiLine-JSON
    // and header/inference CSV scans, the substring routing, and the
    // audit-column attach against an independent reader of the bytes the
    // engine actually scanned. The per-route collect is bounded by the
    // ROUTE COUNT (a harness aggregate, not data).
    QueryDef.sql(
      "s3_source_routing",
      s"""WITH u AS (
         |  SELECT * FROM read_json_auto('$routingLandingDir/users_1.json')),
         |c AS (
         |  SELECT * FROM read_csv('$routingLandingDir/covid_1.csv',
         |                         header=true)),
         |ucols AS (
         |  SELECT list_sort(list_append(json_keys(to_json(u)),
         |    'source_filename')) AS ks
         |  FROM u LIMIT 1),
         |ccols AS (
         |  SELECT list_sort(list_append(json_keys(to_json(c)),
         |    'source_filename')) AS ks
         |  FROM c LIMIT 1)
         |SELECT 'covid' AS route,
         |  (SELECT COUNT(*) FROM c) AS n_rows,
         |  (SELECT list_aggregate(ks, 'string_agg', ',') FROM ccols) AS cols,
         |  (SELECT CAST(SUM(Confirmed) + SUM(Deaths) AS BIGINT) FROM c)
         |    AS checksum
         |UNION ALL
         |SELECT 'users',
         |  (SELECT COUNT(*) FROM u),
         |  (SELECT list_aggregate(ks, 'string_agg', ',') FROM ucols),
         |  (SELECT CAST(SUM(id) AS BIGINT) FROM u)
         |ORDER BY route""".stripMargin) { (s, d) =>
      import s.implicits._
      // the source files live only until land has copied them
      val src = java.nio.file.Files.createTempDirectory("graft-src")
      try {
        java.nio.file.Files.writeString(src.resolve("users_1.json"),
          """[{"id": 1, "name": "Ann", "email": "a@b.co",
            |  "address": {"city": "X", "geo": {"lat": "1.5", "lng": "2"}}},
            | {"id": 2, "name": "Bob", "email": null,
            |  "address": {"city": "Y", "geo": {"lat": null, "lng": "q"}}}]""".stripMargin)
        java.nio.file.Files.writeString(src.resolve("covid_1.csv"),
          "Date,Country/Region,Province/State,Confirmed,Deaths\n" +
            "2020-01-01,US,,10,0\n2020-01-02,US,,15,1\n2020-01-01,FR,,3,0\n")
        Sources.land(src.resolve("users_1.json").toUri.toString,
          routingLandingDir, "users_1.json")
        Sources.land(src.resolve("covid_1.csv").toUri.toString,
          routingLandingDir, "covid_1.csv")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(src.toFile)
      val routed = Sources.route(routingLandingDir, Seq(
        "users" -> (ps => Sources.jsonAll(s, ps)),
        "covid" -> (ps => Sources.csvAll(s, ps)),
        "posts" -> (ps => Sources.jsonAll(s, ps))))
      routed.toSeq.sortBy(_._1)
        .map { case (k, df) =>
          val chk = k match {
            case "covid" => df.agg((sum(col("Confirmed")) + sum(col("Deaths")))
              .cast("long")).head.getLong(0)
            case _ => df.agg(sum(col("id")).cast("long")).head.getLong(0)
          }
          (k, df.count(), df.columns.sorted.mkString(","), chk)
        }
        .toDF("route", "n_rows", "cols", "checksum")
    },

    // Bucketed co-located join, surfaced in the bench: both sides are
    // written via writeBucketed on the join key, so the sort-merge join
    // runs with NO exchange on either side — the shuffle is paid once at
    // write time, the 100 TB play for fact tables that join the same key
    // repeatedly. PipelineSpec asserts the no-Exchange plan for exactly
    // this construction; here the result is oracled against a plain DuckDB
    // join, so the co-located path is also value-verified.
    QueryDef.sql(
      "q_bucketed_join",
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${Det.dsumSql("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val lake = Scratch.dir("graft-bucketed-lake")
      val p = new Pipeline(s, lake)
      p.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        "silver", "bj_orders", "o_custkey", 8)
      p.writeBucketed(
        Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "silver", "bj_customer", "o_custkey", 8)
      // merge hint forces the sort-merge path so the co-located layout is
      // what's exercised (a broadcast join would trivially avoid shuffles)
      s.table("silver_bj_orders").hint("merge")
        .join(s.table("silver_bj_customer"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // Targeted delete over a partitioned lake table — the
    // right-to-be-forgotten shape: land events partitioned by date,
    // delete every row of a deterministic key set, read the survivors
    // back. Only partitions containing a deleted key are rewritten
    // (PipelineSpec asserts untouched partitions keep their files
    // byte-for-byte); the oracle is the plain anti-join the lake state
    // must equal.
    QueryDef.sql(
      "q_delete_propagation",
      s"""SELECT event_id, user_id FROM events
         |WHERE user_id % 37 <> 0
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      val lake = Scratch.dir("graft-delete-lake")
      val p = new Pipeline(s, lake)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("event_date"))
      p.upsertByDate(ev, "silver", "del_events", "event_date")
      val doomed = ev.filter(col("user_id") % 37 === 0)
        .select("user_id").distinct()
      p.deleteKeys("silver", "del_events", "event_date", "user_id", doomed)
      p.read("silver", "del_events")
        .select("event_id", "user_id")
        .orderBy("event_id")
    },

    // CDC apply — MERGE INTO over the partitioned lake: one batch
    // carrying deletes, in-place updates, and inserts lands atomically
    // as delete-by-key (partition-minimal rewrite) + partitioned append
    // of the new images. The lake end state hash-checks against the
    // plain SQL statement of the merge semantics.
    QueryDef.sql(
      "q_cdc_apply",
      s"""WITH ev AS (
         |  SELECT event_id, user_id, value, CAST(ts AS DATE) AS d
         |  FROM events)
         |SELECT event_id, user_id,
         |  CASE WHEN event_id % 7 = 0 THEN value + 1000.0 ELSE value END
         |    AS value
         |FROM ev WHERE d <= DATE '2024-01-20' AND event_id % 11 <> 0
         |UNION ALL
         |SELECT event_id, user_id, value FROM ev
         |WHERE d > DATE '2024-01-20'
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      val lake = Scratch.dir("graft-cdc-lake")
      val p = new Pipeline(s, lake)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("event_date"))
      val cut = lit("2024-01-20").cast("date")
      val base = ev.filter(col("event_date") <= cut)
      p.upsertByDate(base, "silver", "cdc_events", "event_date")
      val del = base.filter(col("event_id") % 11 === 0)
        .withColumn("op", lit("D"))
      val upd = base
        .filter(col("event_id") % 11 =!= 0 && col("event_id") % 7 === 0)
        .withColumn("value", col("value") + 1000.0)
        .withColumn("op", lit("U"))
      val ins = ev.filter(col("event_date") > cut).withColumn("op", lit("I"))
      p.applyCdc("silver", "cdc_events", "event_date", "event_id",
        del.unionByName(upd).unionByName(ins))
      p.read("silver", "cdc_events")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    },

    // Full medallion pipeline run (bronze→silver→gold over a parquet lake,
    // K3/K4/K5/K6/K7 sinks) returning per-stage counts — the §3.1
    // orchestration as an observable query. The LAKE STATE this run
    // produces is hash-checked by the sibling q_pipeline_end_state below;
    // THIS query's stage-count report is oracled too: every count is
    // re-derivable from the raw tables (bronze = events, silver covid =
    // the daily grouping's cardinality, posts = documents, gold daily =
    // distinct dates, engagement = the deterministic user/date stand-in's
    // distinct pairs, quality = one row per configured check — the
    // append-only log holds exactly one run's rows because SharedLake
    // executes the pipeline once per session).
    QueryDef.sql(
      "q_pipeline_run",
      s"""SELECT 'bronze_events' AS stage,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows FROM events
         |UNION ALL SELECT 'gold_daily',
         |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
         |UNION ALL SELECT 'gold_engagement', CAST(COUNT(*) AS BIGINT)
         |  FROM (SELECT DISTINCT doc_id % ${GoldEngagement.nUsers},
         |          doc_id % ${GoldEngagement.nDays} FROM documents)
         |UNION ALL SELECT 'quality_checks', CAST(3 AS BIGINT)
         |UNION ALL SELECT 'silver_covid', CAST(COUNT(*) AS BIGINT)
         |  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)
         |UNION ALL SELECT 'silver_posts',
         |  CAST(COUNT(*) AS BIGINT) FROM documents
         |ORDER BY stage""".stripMargin) { (s, d) =>
      import s.implicits._
      val (_, counts) = SharedLake.runOnce(s, d)
      counts.toSeq.sortBy(_._1).toDF("stage", "n_rows")
    },

    // Pipeline END STATE, oracled: read back the
    // gold.daily_global_summary TABLE AS WRITTEN by the session's one
    // shared Pipeline.run() (SharedLake — executed here if
    // q_pipeline_run hasn't already)
    // (through the bronze overwrite → silver date-partitioned upsert →
    // gold upsert, i.e. three lake round-trips); the oracle re-derives the
    // whole bronze→silver→gold chain from raw events in SQL — blank→NULL
    // bronze sanitize, the covid silver lineage (coerce → cumulative
    // windows → derive → diff/rolling windows → score — the q_covid_silver
    // CTE chain verbatim), then the gold rollup. Hash equality proves the
    // orchestrated, partitioned, observe-metered lake path computes exactly
    // the declarative composition — K3/K4 sinks and read-backs lose
    // nothing. (q_covid_silver checks the silver FRAME; this checks what
    // the LAKE holds after the full run.)
    QueryDef.sql(
      "q_pipeline_end_state",
      s"""WITH ev AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN trim(event_type) = '' THEN NULL ELSE event_type END
         |      AS event_type
         |  FROM events),
         |daily AS (
         |  SELECT user_id AS country, CAST(ts AS DATE) AS record_date,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS new_cases,
         |    SUM(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS new_deaths
         |  FROM ev GROUP BY 1, 2),
         |cum AS (
         |  SELECT country, record_date,
         |    CAST(SUM(new_cases) OVER w AS DOUBLE) AS confirmed,
         |    CAST(SUM(new_deaths) OVER w AS DOUBLE) AS deaths
         |  FROM daily
         |  WINDOW w AS (PARTITION BY country ORDER BY record_date
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |win AS (
         |  SELECT country, record_date,
         |    CASE WHEN confirmed > 0 THEN ${Det.roundNSql("deaths / confirmed * 100", 2)} ELSE 0.0 END AS mortality_rate,
         |    ${Det.roundNSql("COALESCE(confirmed - lag(confirmed, 1) OVER (PARTITION BY country ORDER BY record_date), 0.0)", 2)} AS daily_new_cases
         |  FROM cum)
         |SELECT record_date,
         |  COUNT(DISTINCT country) AS n_countries,
         |  ${Det.dsumSql("daily_new_cases")} AS total_new_cases,
         |  ${Det.davgSql("mortality_rate")} AS avg_mortality_rate
         |FROM win GROUP BY record_date
         |ORDER BY record_date""".stripMargin) { (s, d) =>
      val (lake, _) = SharedLake.runOnce(s, d)
      new Pipeline(s, lake).read("gold", "daily_global_summary")
        .select("record_date", "n_countries", "total_new_cases",
          "avg_mortality_rate")
        .orderBy("record_date")
    },

    // gold.user_engagement_metrics: the reference's declared-but-never-
    // populated engagement rollup (model_gold.py:93-103, indexed at :132)
    // over silver clean_posts — per (engagement_date, user_id) counts /
    // lengths / additive score / activity CASE / last-active window. The
    // oracle rebuilds GoldEngagement.attribute's deterministic user/date
    // stand-in (the reference's posts feed carries userId natively).
    // The SAME oracle also checks the LAKE end state of this table below
    // (q_pipeline_engagement_state).
    QueryDef.sql(
      "q_user_engagement",
      engagementOracleSql) { (s, d) =>
      val posts = SilverPosts.transform(
        Tables.documents(s, d), titleCol = "source", bodyCol = "text")
      GoldEngagement.transform(GoldEngagement.attribute(posts))
        .orderBy("engagement_date", "user_id")
    },

    // Pipeline END STATE of the SECOND gold table: read
    // gold.user_engagement_metrics back from the shared medallion lake
    // (documents → silver.clean_posts overwrite → engagement upsert by
    // engagement_date → read-back) and hash-check it against the SAME
    // DuckDB re-derivation that checks the in-memory frame
    // (q_user_engagement). Together with q_pipeline_end_state this
    // hash-pins every gold table Pipeline.run() writes.
    QueryDef.sql(
      "q_pipeline_engagement_state",
      engagementOracleSql) { (s, d) =>
      val (lake, _) = SharedLake.runOnce(s, d)
      new Pipeline(s, lake).read("gold", "user_engagement_metrics")
        .select("engagement_date", "user_id", "post_count",
          "avg_post_length", "total_words", "engagement_score",
          "activity_level", "last_active_date")
        .orderBy("engagement_date", "user_id")
    },
  )

  /** Shared oracle for gold.user_engagement_metrics — used by BOTH the
    * in-memory lineage check (q_user_engagement) and the lake end-state
    * check (q_pipeline_engagement_state), so the two can never drift. */
  private def engagementOracleSql: String =
      raw"""WITH f AS (
           |  SELECT doc_id, length(text) AS body_length,
           |    len(${tokensSql("text")}) AS word_count
           |  FROM documents),
           |posts AS (
           |  SELECT CAST(doc_id % ${GoldEngagement.nUsers} + 1 AS BIGINT) AS user_id,
           |    DATE '${GoldEngagement.epoch}' + CAST(doc_id % ${GoldEngagement.nDays} AS INTEGER) AS engagement_date,
           |    body_length, word_count
           |  FROM f),
           |agg AS (
           |  SELECT engagement_date, user_id, COUNT(*) AS post_count,
           |    ${Det.roundNSql(Det.davgSql("body_length"), 2)} AS avg_post_length,
           |    CAST(SUM(word_count) AS BIGINT) AS total_words
           |  FROM posts GROUP BY 1, 2)
           |SELECT engagement_date, user_id, post_count, avg_post_length,
           |  total_words,
           |  CAST(FLOOR(CAST(post_count * 1000 + total_words * 10
           |      AS DECIMAL(28,2))
           |    + CAST(avg_post_length * 5 AS DECIMAL(28,2))
           |    + CAST(0.5 AS DECIMAL(28,2))) AS DOUBLE) / 100.0
           |    AS engagement_score,
           |  CASE WHEN post_count >= 5 THEN 'power_user'
           |       WHEN post_count >= 3 THEN 'active'
           |       WHEN post_count >= 2 THEN 'casual'
           |       ELSE 'occasional' END AS activity_level,
           |  MAX(engagement_date) OVER (PARTITION BY user_id) AS last_active_date
           |FROM agg ORDER BY engagement_date, user_id""".stripMargin
}
