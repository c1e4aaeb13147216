package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{Det, Tables}
import graft.functions.{TextFunctions, UrlFunctions}
import graft.functions.TextFunctions.{hitsSql, tokensSql}
import graft.operators.{BradleyTerry, RangeJoin, Similarity}

/** The preference / alignment layer of a training-data pipeline: building
  * preference pairs from scored candidates, fitting pairwise strengths
  * (Bradley-Terry, the model behind battle-style LLM leaderboards),
  * cross-source score calibration by quantile normalization, crawl URL
  * canonicalization dedup, radius-bounded ANN retrieval, and feature-wise
  * embedding standardization.
  *
  * Every query is oracle-hash-checked; float work follows the engine's
  * determinism contract (Det.roundN pins, DECIMAL sums, IEEE sqrt).
  */
object AlignmentOps {

  private val roundN = Det.roundNSql _
  private def r12s(e: String) = Det.roundNSql(e, 12)

  private val cosSql = Similarity.cosineOracleSql _

  /** The qualityFeatures additive score as DuckDB CTEs (f → g → q), with
    * source/lang carried through — shared by the preference-pair and
    * Bradley-Terry oracles so they score docs identically to
    * t_text_quality. */
  private def qualityCtes: String = {
    raw"""${TextFunctions.qualityFeaturesSql(Seq("source", "lang"))},
       |g AS (
       |  SELECT doc_id, source, lang, words, stop_hits,
       |    CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END AS awl,
       |    punct * 1.0 / GREATEST(length(text), 1) AS punct_ratio
       |  FROM f),
       |q AS (
       |  SELECT doc_id, source, lang,
       |    ${TextFunctions.qualityScoreSql("words", "punct_ratio", "awl", "stop_hits")} AS quality_score
       |  FROM g)""".stripMargin
  }

  /** The 5 unrolled Bradley-Terry MM iterations as chained CTEs
    * (d_k → x_k → m_k → r_k), mirroring [[BradleyTerry.fit]] term for
    * term: r12-pinned edge terms, DECIMAL(38,18) sums, virtual-opponent
    * regularization, mean-1 rescale. */
  // Every CTE in the unrolled chain is AS MATERIALIZED: DuckDB inlines
  // plain CTEs at each reference, and r_k referencing r_{k-1} twice would
  // re-expand the whole upstream scoring pipeline 2^rounds times (measured:
  // the inlined form never finishes at sf0.01; materialized runs in 0.4 s).
  private def btIterCtes(rounds: Int): String =
    (1 to rounds).map { k =>
      val prev = s"r${k - 1}"
      s"""d$k AS MATERIALIZED (
         |  SELECT e.i, pi.p AS p_i,
         |    CAST(SUM(CAST(${r12s("CAST(e.n AS DOUBLE) / (pi.p + pj.p)")} AS DECIMAL(38,18))) AS DOUBLE) AS den
         |  FROM edges e
         |  JOIN $prev pi ON pi.player = e.i
         |  JOIN $prev pj ON pj.player = e.j
         |  GROUP BY 1, 2),
         |x$k AS MATERIALIZED (
         |  SELECT d.i AS player,
         |    ${r12s(s"(CAST(t.wins AS DOUBLE) + 0.5) / (d.den + ${r12s("1.0 / (d.p_i + 1.0)")})")} AS p
         |  FROM d$k d JOIN totals t ON t.i = d.i),
         |m$k AS MATERIALIZED (SELECT CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mu FROM x$k),
         |r$k AS MATERIALIZED (SELECT player, ${r12s("p / mu")} AS p FROM x$k, m$k)""".stripMargin
    }.mkString(",\n")

  val defs: Seq[QueryDef] = Seq(

    // RLHF-style preference-pair construction: within each (source, lang)
    // candidate group, chosen = highest additive quality score (ties →
    // lowest doc_id), rejected = lowest (ties → highest doc_id); pairs kept
    // only with a clear margin (>= 20, one full rule step). One hash
    // aggregate with struct argmax/argmin — no window, no self-join, so the
    // shape is a single map-side-combinable shuffle at any corpus size.
    QueryDef.sql(
      "t_preference_pairs",
      s"""WITH $qualityCtes,
         |c AS (
         |  SELECT source, lang, doc_id, quality_score,
         |    row_number() OVER (PARTITION BY source, lang
         |      ORDER BY quality_score DESC, doc_id ASC) AS rc,
         |    row_number() OVER (PARTITION BY source, lang
         |      ORDER BY quality_score ASC, doc_id DESC) AS rr,
         |    COUNT(*) OVER (PARTITION BY source, lang) AS n_candidates
         |  FROM q)
         |SELECT ch.source, ch.lang, ch.n_candidates,
         |  ch.doc_id AS chosen_doc, ch.quality_score AS chosen_score,
         |  rj.doc_id AS rejected_doc, rj.quality_score AS rejected_score,
         |  ch.quality_score - rj.quality_score AS margin
         |FROM (SELECT * FROM c WHERE rc = 1) ch
         |JOIN (SELECT * FROM c WHERE rr = 1) rj USING (source, lang)
         |WHERE ch.n_candidates >= 2
         |  AND ch.quality_score - rj.quality_score >= 20
         |ORDER BY source, lang""".stripMargin) { (s, d) =>
      val feats = TextFunctions.qualityFeatures(
        Tables.documents(s, d), "doc_id", "text")
      feats.groupBy("source", "lang").agg(
          count(lit(1)).as("n_candidates"),
          max(struct(col("quality_score"),
            (-col("doc_id")).as("negid"))).as("__c"),
          min(struct(col("quality_score"),
            (-col("doc_id")).as("negid"))).as("__r"))
        .select(col("source"), col("lang"), col("n_candidates"),
          (-col("__c").getField("negid")).as("chosen_doc"),
          col("__c").getField("quality_score").as("chosen_score"),
          (-col("__r").getField("negid")).as("rejected_doc"),
          col("__r").getField("quality_score").as("rejected_score"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .filter(col("n_candidates") >= 2 && col("margin") >= 20)
        .select("source", "lang", "n_candidates", "chosen_doc",
          "chosen_score", "rejected_doc", "rejected_score", "margin")
        .orderBy("source", "lang")
    },

    // Bradley-Terry strength fitting over deterministic doc "battles":
    // within each lang, docs are paired by h56 rank (2i-1 vs 2i); the
    // higher quality score wins (ties → lower doc_id); matches between
    // same-source docs are dropped; outcomes aggregate to a per-source-pair
    // win matrix and 5 MM iterations recover per-source strengths. The
    // whole fit — every iterate — is hash-checked against the unrolled SQL.
    // Match generation uses a per-lang ranking window (bounded fan-in per
    // lang); the FIT itself is pure keyed joins + aggregates and scales to
    // millions of players.
    QueryDef.sql(
      "a_bradley_terry",
      s"""WITH $qualityCtes,
         |rk AS MATERIALIZED (
         |  SELECT doc_id, source, lang, quality_score,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${Det.h56Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM q),
         |mt AS MATERIALIZED (
         |  SELECT l.doc_id AS l_doc, l.source AS l_src, l.quality_score AS l_q,
         |         r.doc_id AS r_doc, r.source AS r_src, r.quality_score AS r_q
         |  FROM (SELECT * FROM rk WHERE rn % 2 = 1) l
         |  JOIN (SELECT * FROM rk WHERE rn % 2 = 0) r
         |    ON r.lang = l.lang AND (r.rn + 1) // 2 = (l.rn + 1) // 2
         |  WHERE l.source <> r.source),
         |res AS MATERIALIZED (
         |  SELECT LEAST(l_src, r_src) AS a, GREATEST(l_src, r_src) AS b,
         |    CASE WHEN l_q > r_q OR (l_q = r_q AND l_doc < r_doc)
         |         THEN l_src ELSE r_src END AS winner
         |  FROM mt),
         |games AS MATERIALIZED (
         |  SELECT a, b, COUNT(*) AS n,
         |    COUNT(CASE WHEN winner = a THEN 1 END) AS wins_a
         |  FROM res GROUP BY 1, 2),
         |edges AS MATERIALIZED (
         |  SELECT a AS i, b AS j, n, wins_a AS w FROM games
         |  UNION ALL
         |  SELECT b AS i, a AS j, n, n - wins_a AS w FROM games),
         |totals AS MATERIALIZED (
         |  SELECT i, CAST(SUM(n) AS BIGINT) AS games,
         |    CAST(SUM(w) AS BIGINT) AS wins
         |  FROM edges GROUP BY 1),
         |r0 AS (SELECT i AS player, CAST(1.0 AS DOUBLE) AS p FROM totals),
         |${btIterCtes(5)}
         |SELECT t.i AS source, t.games, t.wins, ${roundN("r.p", 6)} AS rating
         |FROM totals t JOIN r5 r ON r.player = t.i
         |ORDER BY source""".stripMargin) { (s, d) =>
      val feats = TextFunctions.qualityFeatures(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("source"), col("lang"),
          col("quality_score"))
      val ranked = feats
        .withColumn("__h", Det.h56(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("__h"), col("doc_id"))))
        .withColumn("m", expr("(rn + 1) DIV 2"))
      val l = ranked.filter(col("rn") % 2 === 1)
        .select(col("lang"), col("m"), col("doc_id").as("l_doc"),
          col("source").as("l_src"), col("quality_score").as("l_q"))
      val r = ranked.filter(col("rn") % 2 === 0)
        .select(col("lang"), col("m"), col("doc_id").as("r_doc"),
          col("source").as("r_src"), col("quality_score").as("r_q"))
      val games = l.join(r, Seq("lang", "m"))
        .filter(col("l_src") =!= col("r_src"))
        .withColumn("winner",
          when(col("l_q") > col("r_q") ||
            (col("l_q") === col("r_q") && col("l_doc") < col("r_doc")),
            col("l_src")).otherwise(col("r_src")))
        .withColumn("a", least(col("l_src"), col("r_src")))
        .withColumn("b", greatest(col("l_src"), col("r_src")))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n"),
          count(when(col("winner") === col("a"), 1)).as("wins_a"))
      BradleyTerry.fit(games, rounds = 5)
        .select(col("player").as("source"), col("games"), col("wins"),
          Det.roundN(col("rating"), 6).as("rating"))
        .orderBy("source")
    },

    // Cross-source quantile normalization — map every doc's length onto
    // the GLOBAL length distribution at its within-source rank (type-1
    // inverse-ECDF quantile), the calibration that makes per-source scores
    // comparable before mixing. All rank math is integer (ceil via
    // (a+b-1) DIV b), so the target rank is engine-exact; the global
    // quantile function is a VALUE-BOUNDED histogram relation (one row per
    // distinct length) probed with a banded range join — no corpus-sized
    // broadcast, no global row sort. Note: the exact rank product
    // (src_rank-1)*(N-1) overflows past ~3e9 rows; at that scale the same
    // join shape runs on a fixed G-point quantile grid instead.
    QueryDef.sql(
      "t_quantile_normalize",
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |s AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS src_rank,
        |    COUNT(*) OVER (PARTITION BY source) AS src_n
        |  FROM d),
        |t AS (SELECT COUNT(*) AS nn FROM d),
        |k AS (
        |  SELECT s.*, CASE WHEN src_n = 1 THEN 1 + nn // 2
        |    ELSE 1 + ((src_rank - 1) * (nn - 1) + src_n - 2) // (src_n - 1)
        |    END AS target_rank
        |  FROM s, t),
        |b AS (SELECT n_chars AS q_value, COUNT(*) AS cnt FROM d GROUP BY 1),
        |c AS (
        |  SELECT q_value,
        |    SUM(cnt) OVER (ORDER BY q_value) - cnt + 1 AS lo,
        |    SUM(cnt) OVER (ORDER BY q_value) + 1 AS hi_excl
        |  FROM b)
        |SELECT k.doc_id, k.source, k.n_chars,
        |  CAST(k.src_rank AS BIGINT) AS src_rank,
        |  CAST(k.src_n AS BIGINT) AS src_n,
        |  CAST(k.target_rank AS BIGINT) AS target_rank,
        |  c.q_value AS qnorm
        |FROM k JOIN c ON k.target_rank >= c.lo AND k.target_rank < c.hi_excl
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val d0 = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = d0
        .withColumn("src_rank", row_number().over(
          Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id")))
          .cast("long"))
        .withColumn("src_n",
          count(lit(1)).over(Window.partitionBy("source")))
      val nn = d0.agg(count(lit(1)).as("nn"))
      val points = ranked.crossJoin(broadcast(nn))
        .withColumn("target_rank",
          when(col("src_n") === 1, expr("1L + nn DIV 2"))
            .otherwise(expr(
              "1L + ((src_rank - 1) * (nn - 1) + src_n - 2) DIV (src_n - 1)")))
      val bins = d0.select(col("n_chars").as("q_value"))
        .groupBy("q_value").agg(count(lit(1)).as("cnt"))
        .withColumn("hi", sum("cnt").over(Window.orderBy("q_value")))
        .select(col("q_value"), (col("hi") - col("cnt") + 1).as("lo"),
          (col("hi") + 1).as("hi_excl"))
      RangeJoin.pointInInterval(points, bins,
          "target_rank", "lo", "hi_excl", bucketWidth = 64.0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("src_rank"), col("src_n"), col("target_rank"),
          col("q_value").as("qnorm"))
        .orderBy("doc_id")
    },

    // Crawl URL canonicalization dedup: each doc is "fetched" under two
    // deterministic URL disguises (host-case variant, trailing-slash +
    // utm param, utm-prefixed query + fragment, fragment-only); the
    // canonicalizer must collapse both onto one canonical URL per doc.
    // The hash check verifies the full canonical string, the collapse
    // count (n_raw = 2 distinct variants), and the kept representative.
    // Pure map-side regex work + one hash aggregate.
    QueryDef.sql(
      "dedup_url_canonical",
      s"""WITH v AS (
         |  SELECT doc_id,
         |    ['https://' || upper(source) || '.Example.COM/docs/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang,
         |     'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '/?lang=' || lang || '&utm_source=feed',
         |     'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&lang=' || lang || '#frag',
         |     'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang || '#section-2'
         |    ] AS forms
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, forms[CAST(doc_id % 4 AS INT) + 1] AS raw_url FROM v
         |  UNION ALL
         |  SELECT doc_id, forms[CAST((doc_id + 2) % 4 AS INT) + 1] AS raw_url FROM v),
         |c AS (
         |  SELECT doc_id, raw_url,
         |    ${UrlFunctions.canonicalUrlSql("raw_url")} AS canonical_url
         |  FROM r)
         |SELECT canonical_url, COUNT(*) AS n_raw,
         |  CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_variants,
         |  MIN(raw_url) AS first_raw
         |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin) { (s, d) =>
      val id = col("doc_id").cast("string")
      val forms = array(
        concat(lit("https://"), upper(col("source")), lit(".Example.COM/docs/"),
          id, lit("?lang="), col("lang")),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          id, lit("/?lang="), col("lang"), lit("&utm_source=feed")),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          id, lit("?utm_campaign=x&lang="), col("lang"), lit("#frag")),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          id, lit("?lang="), col("lang"), lit("#section-2")))
      Tables.documents(s, d)
        .select(col("doc_id"), forms.as("forms"))
        .select(col("doc_id"), explode(array(
          element_at(col("forms"), (col("doc_id") % 4 + 1).cast("int")),
          element_at(col("forms"), ((col("doc_id") + 2) % 4 + 1).cast("int"))))
          .as("raw_url"))
        .withColumn("canonical_url", UrlFunctions.canonicalUrl(col("raw_url")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct("raw_url").as("n_variants"),
          min("raw_url").as("first_raw"))
        .orderBy("canonical_url")
    },

    // Radius-bounded IVF retrieval: every vector with cosine >= 0.25 of
    // each of the 8 query vectors, searched in the 4 probed cells —
    // "find all near-duplicates of these suspects", where result size is
    // data-dependent and no per-query sort runs at all. The oracle
    // re-derives assignment, probe choice, and the rounded threshold
    // decision.
    QueryDef.sql(
      "sim_range_search",
      s"""WITH ${Fixtures.probedBatchCtes},
         |${Fixtures.probedHitsCte}
         |SELECT query_id, vec_id, cell, cosine FROM hits
         |WHERE cosine >= 0.25 AND vec_id <> query_id
         |ORDER BY query_id, vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      val qs = Fixtures.queryBatch(emb)
      Similarity.ivfRangeSearch(emb, centroids, qs, tau = 0.25, nProbe = 4)
        .orderBy("query_id", "vec_id")
    },

    // Feature-wise embedding standardization (per-dimension z-scoring —
    // the whitening-lite every embedding pipeline applies before distance
    // math), VERIFIED: the query recomputes the standardized column's
    // per-dimension moments and hash-checks that post_mean ≈ 0 and
    // post_std ≈ 1 to 6 places. Two explode → hash-aggregate passes plus
    // a 64-row broadcast — no arrays cross an exchange.
    QueryDef.sql(
      "sim_feature_scale",
      s"""WITH dims AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |st AS (
         |  SELECT dim, COUNT(*) AS n,
         |    CAST(SUM(CAST(${r12s("x")} AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mean,
         |    CAST(SUM(CAST(${r12s("x*x")} AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m2
         |  FROM dims GROUP BY 1),
         |st2 AS (
         |  SELECT dim, n, mean, sqrt(GREATEST(m2 - mean * mean, 0.0)) AS std
         |  FROM st),
         |z AS (
         |  SELECT d.dim,
         |    CASE WHEN s.std > 0 THEN (d.x - s.mean) / s.std ELSE 0.0 END AS zv
         |  FROM dims d JOIN st2 s USING (dim)),
         |p AS (
         |  SELECT dim,
         |    CAST(SUM(CAST(${r12s("zv")} AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS post_mean,
         |    CAST(SUM(CAST(${r12s("zv*zv")} AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS post_m2
         |  FROM z GROUP BY 1)
         |SELECT CAST(s.dim AS BIGINT) AS dim, s.n,
         |  ${roundN("s.mean", 6)} AS mean, ${roundN("s.std", 6)} AS std,
         |  ${roundN("p.post_mean", 6)} AS post_mean,
         |  ${roundN("sqrt(GREATEST(p.post_m2 - p.post_mean * p.post_mean, 0.0))", 6)} AS post_std
         |FROM st2 s JOIN p USING (dim) ORDER BY dim""".stripMargin) { (s, d) =>
      def r12(c: org.apache.spark.sql.Column) = Det.roundN(c, 12)
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col").cast("double").as("x"))
      val stats = dims.groupBy("dim").agg(
          count(lit(1)).as("n"),
          (sum(r12(col("x")).cast(DecimalType(38, 18))).cast("double")
            / count(lit(1))).as("mean"),
          (sum(r12(col("x") * col("x")).cast(DecimalType(38, 18)))
            .cast("double") / count(lit(1))).as("m2"))
        .withColumn("std",
          sqrt(greatest(col("m2") - col("mean") * col("mean"), lit(0.0))))
      val z = dims
        .join(broadcast(stats.select("dim", "mean", "std")), Seq("dim"))
        .withColumn("zv", when(col("std") > 0,
          (col("x") - col("mean")) / col("std")).otherwise(lit(0.0)))
      val post = z.groupBy("dim").agg(
          (sum(r12(col("zv")).cast(DecimalType(38, 18))).cast("double")
            / count(lit(1))).as("post_mean"),
          (sum(r12(col("zv") * col("zv")).cast(DecimalType(38, 18)))
            .cast("double") / count(lit(1))).as("post_m2"))
      stats.join(post, Seq("dim"))
        .select(col("dim"), col("n"),
          Det.roundN(col("mean"), 6).as("mean"),
          Det.roundN(col("std"), 6).as("std"),
          Det.roundN(col("post_mean"), 6).as("post_mean"),
          Det.roundN(sqrt(greatest(
            col("post_m2") - col("post_mean") * col("post_mean"),
            lit(0.0))), 6).as("post_std"))
        .orderBy("dim")
    }
  )
}
