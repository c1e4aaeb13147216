package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.{hitsSql, tokensSql}
import graft.operators.{Chunking, Contamination, Dedup, Mixing, Sampling, Scd2, Shards}
import graft.engine.Stage.syntax._

/** Warehouse history merge + the remaining training-data curation passes:
  * SCD2 dimension versioning, benchmark decontamination, per-language
  * quality-quantile gating, token-balanced output sharding.
  */
object Curation {

  private val roundN = Det.roundNSql _

  /** The SCD2 update batch over `customer`: keys % 3, of which keys % 6
    * change segment (suffix `_V2`) and the rest are no-ops. */
  private def segmentUpdates(cust: DataFrame): DataFrame =
    cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 6 === 0, concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))

  /** DuckDB form of [[segmentUpdates]]: CTE `upd`. */
  private val segmentUpdatesCte =
    """upd AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 6 = 0 THEN c_mktsegment || '_V2'
      |              ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0)""".stripMargin

  /** DuckDB form of `Contamination.ngramOverlap` with docs % 20 as the
    * benchmark and the rest as the corpus: the CTEs `s` (shingles),
    * `corp`, `bench`, `bn(bench_id, bench_n)`, `cu` (the capped corpus
    * postings) and `ov(doc_id, bench_id, ov_n)`. */
  private val benchOverlapCtes =
    s"""${Dedup.shinglesSql("doc_id", "doc_id")},
       |corp AS (SELECT doc_id, shingle FROM s WHERE doc_id % 20 <> 0),
       |bench AS (SELECT doc_id AS bench_id, shingle FROM s WHERE doc_id % 20 = 0),
       |bn AS (SELECT bench_id, COUNT(*) AS bench_n FROM bench GROUP BY 1),
       |cu AS (
       |  ${Dedup.cappedPostingsSql("doc_id", "corp", "pn <= 1000")}),
       |ov AS (
       |  SELECT cu.doc_id, b.bench_id, COUNT(*) AS ov_n
       |  FROM cu JOIN bench b USING (shingle) GROUP BY 1, 2)""".stripMargin

  /** The docs of `docs` at or above their language's 25th-percentile
    * quality score: (doc_id, lang, quality_score, lang_p25). */
  private def qualityGated(docs: DataFrame): DataFrame = {
    // staged once: both the threshold aggregate and the gate join read
    // this narrow (id, lang, score) relation — without the stage the
    // whole explode→aggregate scoring lineage runs twice
    val scored = TextFunctions.qualityFeatures(docs, "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .staged
    // 4 languages → a tiny threshold table; broadcast it so the corpus
    // side joins map-side with zero extra shuffle
    val th = scored.groupBy("lang")
      .agg(Det.roundN(expr("percentile(quality_score, 0.25D)"), 4)
        .as("lang_p25"))
    scored.join(broadcast(th), Seq("lang"))
      .filter(col("quality_score") >= col("lang_p25"))
  }

  /** DuckDB form of [[qualityGated]]'s scores and thresholds over the
    * features CTE `f`: the CTEs `g`, `q(doc_id, lang, quality_score)` and
    * `th(lang, lang_p25)`. */
  private val langP25Ctes =
    s"""g AS (
       |  SELECT doc_id, lang, words, stop_hits,
       |    CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END AS avg_word_len,
       |    punct * 1.0 / GREATEST(length(text), 1) AS punct_ratio
       |  FROM f),
       |q AS (
       |  SELECT doc_id, lang,
       |    ${TextFunctions.qualityScoreSql("words", "punct_ratio", "avg_word_len", "stop_hits")} AS quality_score
       |  FROM g),
       |th AS (
       |  SELECT lang, ${roundN("quantile_cont(quality_score, 0.25)", 4)} AS lang_p25
       |  FROM q GROUP BY lang)""".stripMargin

  /** DuckDB form of `Chunking.byTokens` at chunk 32, overlap 8 over a
    * relation `src(doc_id, t)` of token arrays: CTE `st`, one row per
    * chunk start (stride 24). */
  private def chunkStartsCte(src: String): String =
    s"""st AS (
       |  SELECT doc_id, t,
       |    unnest(generate_series(0, GREATEST(len(t) - 1, 0), 24)) AS start
       |  FROM $src)""".stripMargin

  /** The chunk columns over `st`: doc_id, chunk_id, chunk_text,
    * n_tokens. */
  private val chunkColsSql =
    """doc_id, start // 24 AS chunk_id,
      |  array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
      |  CAST(len(t[start + 1 : start + 32]) AS BIGINT) AS n_tokens""".stripMargin

  /** `textCol` of `docs` chunked at 32/8, each chunk one JSON line with a
    * fixed key order: (doc_id, chunk_id, line), ordered. */
  private def jsonl(docs: DataFrame, textCol: String): DataFrame =
    Chunking.byTokens(docs, "doc_id", textCol, chunk = 32, overlap = 8)
      .select(col("id").as("doc_id"), col("chunk_id"),
        to_json(struct(col("id").as("doc_id"), col("chunk_id"),
          col("n_tokens"), col("chunk_text").as("text"))).as("line"))
      .orderBy("doc_id", "chunk_id")

  /** DuckDB form of [[jsonl]] over `st`: CTE `ch`, then the lines. */
  private val jsonlSql =
    s"""ch AS (
       |  SELECT $chunkColsSql
       |  FROM st)
       |SELECT doc_id, chunk_id,
       |  to_json(struct_pack(doc_id := doc_id, chunk_id := chunk_id,
       |    n_tokens := n_tokens, text := chunk_text)) AS line
       |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** DuckDB form of `Mixing.temperatureWeights`' inputs: CTEs
    * `per(source, total_weight)` and `tot(t)`. */
  private val sourceWeightCtes =
    s"""per AS (
       |  SELECT source, ${Det.dsumSql("n_chars", 0)} AS total_weight
       |  FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(SUM(CAST(total_weight AS DECIMAL(18,0))) AS DOUBLE) AS t
       |  FROM per)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // SCD2 merge over a customer dimension snapshot: keys % 3 arrive in the
    // update batch, of which % 6 changed segment (close + reopen), the rest
    // are no-ops; keys above the current table's range are brand-new.
    QueryDef.sql(
      "scd2_merge",
      s"""WITH cur AS (
        |  SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS valid_from,
        |         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM customer WHERE c_custkey <= 1200),
        |$segmentUpdatesCte
        |SELECT c.c_custkey, c.c_mktsegment, c.valid_from, c.valid_to, c.is_current
        |FROM cur c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
        |WHERE u.c_custkey IS NULL OR u.c_mktsegment = c.c_mktsegment
        |UNION ALL
        |SELECT c.c_custkey, c.c_mktsegment, c.valid_from, DATE '2021-06-01', FALSE
        |FROM cur c JOIN upd u ON u.c_custkey = c.c_custkey
        |WHERE u.c_mktsegment <> c.c_mktsegment
        |UNION ALL
        |SELECT c.c_custkey, u.c_mktsegment, DATE '2021-06-01', CAST(NULL AS DATE), TRUE
        |FROM cur c JOIN upd u ON u.c_custkey = c.c_custkey
        |WHERE u.c_mktsegment <> c.c_mktsegment
        |UNION ALL
        |SELECT u.c_custkey, u.c_mktsegment, DATE '2021-06-01', CAST(NULL AS DATE), TRUE
        |FROM upd u LEFT JOIN cur c ON c.c_custkey = u.c_custkey
        |WHERE c.c_custkey IS NULL
        |ORDER BY c_custkey, valid_from""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      val current = cust.filter(col("c_custkey") <= 1200)
        .select(col("c_custkey"), col("c_mktsegment"),
          lit("2020-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(true).as("is_current"))
      val updates = segmentUpdates(cust)
      Scd2.merge(current, updates, "c_custkey", Seq("c_mktsegment"),
          lit("2021-06-01").cast("date"))
        .orderBy("c_custkey", "valid_from")
    },

    // Temporal dimension lookup: facts joined to the SCD2 history version
    // that was CURRENT at each fact's date — the consumption side of
    // scd2_merge. An equi-join on the key plus a range predicate on
    // (valid_from, valid_to]; since a key carries only its few versions,
    // this stays a plain hash/sort-merge join (the range filter runs
    // inside the matched key group — no interval cross-product). Orders
    // before the 1995 merge date see the original segment, later ones the
    // updated one.
    QueryDef.sql(
      "j_temporal_lookup",
      s"""WITH cur AS (
        |  SELECT c_custkey, c_mktsegment, DATE '1990-01-01' AS valid_from,
        |         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM customer),
        |$segmentUpdatesCte,
        |dim AS (
        |  SELECT c.c_custkey, c.c_mktsegment, c.valid_from, c.valid_to
        |  FROM cur c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
        |  WHERE u.c_custkey IS NULL OR u.c_mktsegment = c.c_mktsegment
        |  UNION ALL
        |  SELECT c.c_custkey, c.c_mktsegment, c.valid_from, DATE '1995-01-01'
        |  FROM cur c JOIN upd u ON u.c_custkey = c.c_custkey
        |  WHERE u.c_mktsegment <> c.c_mktsegment
        |  UNION ALL
        |  SELECT c.c_custkey, u.c_mktsegment, DATE '1995-01-01', CAST(NULL AS DATE)
        |  FROM cur c JOIN upd u ON u.c_custkey = c.c_custkey
        |  WHERE u.c_mktsegment <> c.c_mktsegment)
        |SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |       d.c_mktsegment AS segment_at_order, d.valid_from
        |FROM orders o JOIN dim d ON d.c_custkey = o.o_custkey
        |WHERE CAST(o.o_orderdate AS DATE) >= d.valid_from
        |  AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      val current = cust
        .select(col("c_custkey"), col("c_mktsegment"),
          lit("1990-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(true).as("is_current"))
      val updates = segmentUpdates(cust)
      val dim = Scd2.merge(current, updates, "c_custkey", Seq("c_mktsegment"),
        lit("1995-01-01").cast("date"))
      val facts = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("order_date"))
      facts.join(dim,
          col("o_custkey") === col("c_custkey") &&
            col("order_date") >= col("valid_from") &&
            (col("valid_to").isNull || col("order_date") < col("valid_to")))
        .select(col("o_orderkey"), col("o_custkey"), col("order_date"),
          col("c_mktsegment").as("segment_at_order"), col("valid_from"))
        .orderBy("o_orderkey")
    },

    // Benchmark decontamination: docs % 20 form the held-out benchmark,
    // the rest are the training corpus; flag corpus docs carrying >= half
    // of a benchmark doc's distinct 3-gram shingles. Oracle mirrors the
    // operator's inverted-index semantics (distinct shingles, corpus-side
    // posting cap, overlap from co-occurrence counts).
    QueryDef.sql(
      "t_contamination",
      raw"""WITH $benchOverlapCtes,
         |f AS (
         |  SELECT doc_id, bench_id, ov_n AS overlap, bench_n,
         |    ${roundN("ov_n * 1.0 / bench_n", 4)} AS overlap_frac
         |  FROM ov JOIN bn USING (bench_id))
         |SELECT doc_id, bench_id, overlap, bench_n, overlap_frac
         |FROM f WHERE overlap_frac >= 0.5 ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Contamination.ngramOverlap(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text")
        .orderBy("doc_id", "bench_id")
    },

    // Per-language quality gating: keep docs at or above their language's
    // 25th-percentile quality score — corpus filtering that respects
    // language mix instead of letting a high-resource language's
    // distribution set one global bar. Exact R-7 percentile here; at
    // 100 TB flip to percentile_approx (the a_approx_percentiles toggle).
    QueryDef.sql(
      "t_quantile_filter",
      raw"""WITH ${TextFunctions.qualityFeaturesSql(Seq("lang"))},
         |$langP25Ctes
         |SELECT doc_id, q.lang, CAST(quality_score AS BIGINT) AS quality_score, lang_p25
         |FROM q JOIN th ON th.lang = q.lang
         |WHERE quality_score >= lang_p25
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      qualityGated(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          col("quality_score").cast("long").as("quality_score"),
          col("lang_p25"))
        .orderBy("doc_id")
    },

    // Ingest-time incremental dedup: docs % 10 = 7 arrive as the new
    // batch; each is flagged against the existing corpus's content-hash
    // set (is_new) and against earlier rows of its own batch
    // (batch_canonical).
    QueryDef.sql(
      "dedup_incremental",
      raw"""WITH hashed AS (
         |  SELECT doc_id,
         |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash
         |  FROM documents),
         |batch AS (SELECT * FROM hashed WHERE doc_id % 10 = 7),
         |corpus AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 10 <> 7)
         |SELECT b.doc_id, b.content_hash,
         |  row_number() OVER (PARTITION BY b.content_hash ORDER BY b.doc_id) = 1
         |    AS batch_canonical,
         |  c.content_hash IS NULL AS is_new
         |FROM batch b LEFT JOIN corpus c ON c.content_hash = b.content_hash
         |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("content_hash",
          sha2(graft.operators.Dedup.normalize(col("text")), 256))
      Dedup.incrementalExact(docs.filter(col("doc_id") % 10 === 7), corpus,
          "doc_id", "text")
        .select("doc_id", "content_hash", "batch_canonical", "is_new")
        .orderBy("doc_id")
    },

    // Ingest-time incremental NEAR-dup: the arriving batch (doc_id % 10 =
    // 7) probes the stored corpus band-bucket index — batch×bucket joins
    // only, never a corpus×corpus re-run. The probe's contract is
    // probe ≡ full re-run restricted to batch-involving pairs (DedupSpec
    // proves it mechanically), and the oracle checks exactly that
    // contract: the full MinHash chain over corpus ∪ batch (the shared
    // CTE — combined bucket populations, same cap) filtered to pairs
    // with at least one batch side.
    QueryDef.sql(
      "dedup_incremental_minhash",
      s"""${Extensions.minhashPairsCte}
         |SELECT id_a, id_b, jaccard FROM mh_pairs
         |WHERE jaccard >= 0.8 AND (id_a % 10 = 7 OR id_b % 10 = 7)
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val index = Dedup.minhashIndex(docs.filter(col("doc_id") % 10 =!= 7),
        "doc_id", "text")
      Dedup.minhashProbe(docs.filter(col("doc_id") % 10 === 7), index,
          "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Corpus vocabulary: per-term document frequency banded to
    // [3, ceil(0.75·n_docs)] (in-plan), top 100 terms — the min_df/max_df
    // vectorizer contract with sklearn's FLOAT max_df: an absolute
    // ceiling rejects every common term once corpus df outgrows it (the
    // former [3, 200] band matched nothing from sf0.1 up); min_df stays
    // absolute (a per-term evidence floor).
    QueryDef.sql(
      "t_vocabulary",
      raw"""WITH t AS (
         |  SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS term
         |  FROM documents),
         |md AS (SELECT ${TextFunctions.vocabMaxDfOracleSql(
              "COUNT(DISTINCT doc_id)")} AS maxdf FROM t),
         |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term)
         |SELECT term, df FROM d, md WHERE df BETWEEN 3 AND md.maxdf
         |ORDER BY df DESC, term LIMIT 100""".stripMargin) { (s, d) =>
      TextFunctions.vocabulary(Tables.documents(s, d), "doc_id", "text",
        minDf = 3, maxTerms = 100)
    },

    // Per-doc top-3 keywords by smoothed rational tf-idf (log-free: libm
    // ln differs across engines in the last ulp; (N+1)/(df+1) ranks
    // identically and is bit-deterministic).
    QueryDef.sql(
      "t_tfidf_keywords",
      raw"""WITH t AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
         |dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM t GROUP BY 1),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, df.df,
         |    ${roundN("(cnt * 1.0 / doc_len) * ((nd + 1.0) / (df + 1.0))", 6)} AS tfidf
         |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank,
         |    term, tfidf, df
         |  FROM scored)
         |SELECT doc_id, rank, term, tfidf, df FROM ranked WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      TextFunctions.tfidfKeywords(Tables.documents(s, d), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rank")
    },

    // Context-window chunking: 32-token chunks overlapping by 8 (step 24).
    // Chunk generation is a pure map-side expression — the oracle mirrors
    // the slice semantics exactly (1-based inclusive, tail-clamped).
    QueryDef.sql(
      "t_chunking",
      raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |${chunkStartsCte("toks")}
         |SELECT $chunkColsSql
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Chunking.byTokens(Tables.documents(s, d), "doc_id", "text",
          chunk = 32, overlap = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")
    },

    // JSONL export serialization — the literal bytes a training run
    // reads: each context chunk rendered as one JSON line with a fixed
    // key order. to_json parity (compact separators, int64-as-number,
    // string escaping, struct field order) holds byte-for-byte across
    // Spark and DuckDB, so the EXPORT FORMAT itself is hash-checked —
    // not just the rows behind it.
    QueryDef.sql(
      "t_jsonl_export",
      raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |${chunkStartsCte("toks")},
         |$jsonlSql""".stripMargin) { (s, d) =>
      jsonl(Tables.documents(s, d), "text")
    },

    // The round-5 composed curation chain, hash-checked end-to-end:
    // exact-substring dedup REWRITE (drop positions covered by corpus-
    // duplicated 8-spans; window 8 because 4-token spans over the closed
    // ~31-word vocab collide organically at scale — on the sf1 lake they
    // covered nearly every position and the whole export went empty,
    // while duplicated-8-span counts scale exactly replica-linearly) →
    // content gate (≥20 surviving tokens) → context chunking of the
    // CLEANED text → JSONL lines. Every stage reuses an operator verified
    // on its own above; the oracle re-derives the whole chain including
    // the literal export bytes.
    QueryDef.sql(
      "t_curation_export_v2",
      raw"""WITH ${Dedup.stripDuplicateSpansSql(8)},
         |ct AS (
         |  SELECT doc_id, str_split_regex(clean_text, '\s+') AS t
         |  FROM rebuilt WHERE n_kept >= 20),
         |${chunkStartsCte("ct")},
         |$jsonlSql""".stripMargin) { (s, d) =>
      val stripped = graft.operators.Dedup.stripDuplicateSpans(
        Tables.documents(s, d), "doc_id", "text", window = 8)
      val gated = stripped
        .filter(col("n_tokens") - col("n_removed") >= 20)
        .select(col("doc_id"), col("clean_text"))
      jsonl(gated, "clean_text")
    },

    // The sampling step that CONSUMES the mixing weights: per-source
    // keep-rates derived plan-side (mix_weight/share, normalized so the
    // most-upweighted source keeps everything), then deterministic
    // hash-bucket stratified sampling through the relation-shaped
    // sampleByRates — no driver-side fraction map, no collect. The oracle
    // recomputes the whole chain: temperature weights → relative
    // keep-rates → per-doc h56 bucket membership → per-source counts;
    // SamplingSpec additionally proves map ≡ relation variants.
    QueryDef.sql(
      "t_temperature_sample",
      s"""WITH $sourceWeightCtes,
         |sc AS (
         |  SELECT source,
         |    CASE WHEN t > 0 THEN total_weight / t ELSE 0.0 END AS share,
         |    sqrt(CASE WHEN t > 0 THEN total_weight / t ELSE 0.0 END) AS raw
         |  FROM per, tot),
         |rs AS (
         |  SELECT CAST(SUM(CAST(raw AS DECIMAL(18,12))) AS DOUBLE) AS rsum
         |  FROM sc),
         |w AS (
         |  SELECT source, ${roundN("share", 6)} AS share_r,
         |    ${roundN("CASE WHEN rsum > 0 THEN raw / rsum ELSE 0.0 END", 6)} AS mixw
         |  FROM sc, rs),
         |rel AS (SELECT source, mixw / share_r AS r FROM w WHERE share_r > 0),
         |mx AS (SELECT MAX(r) AS m FROM rel),
         |rates AS (SELECT source, ${roundN("r / m", 6)} AS rate FROM rel, mx),
         |samp AS (
         |  SELECT d.source FROM documents d JOIN rates USING (source)
         |  WHERE ${Sampling.bucketSql("d.doc_id")}
         |        < CAST(FLOOR(rate * ${Sampling.Buckets} + 0.5) AS BIGINT))
         |SELECT s.source, COUNT(*) AS n_sampled, r.rate
         |FROM samp s JOIN rates r USING (source)
         |GROUP BY s.source, r.rate ORDER BY s.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // staged once (source-count-sized): feeds the max rollup + rates
      val w = graft.operators.Mixing
        .temperatureWeights(docs, "source", "n_chars")
        .filter(col("share") > 0)
        .withColumn("__rel", col("mix_weight") / col("share"))
        .staged
      val rates = w.crossJoin(broadcast(w.agg(max(col("__rel")).as("__mx"))))
        .select(col("source"), Det.roundN(col("__rel") / col("__mx"), 6)
          .as("rate"))
      graft.operators.Sampling.sampleByRates(docs, "source", "doc_id", rates)
        .groupBy("source").agg(count(lit(1)).as("n_sampled"))
        .join(rates, Seq("source"))
        .orderBy("source")
    },

    // Temperature-scaled source mixing (alpha = 1/T = 0.5): per-source
    // token-mass shares flattened by sqrt and renormalized — the sampling
    // weights a multi-source training run feeds to stratified sampling.
    QueryDef.sql(
      "t_mix_weights",
      s"""WITH $sourceWeightCtes,
         |sc AS (
         |  SELECT source, total_weight, total_weight / t AS share,
         |    sqrt(total_weight / t) AS raw
         |  FROM per, tot),
         |rs AS (
         |  SELECT CAST(SUM(CAST(raw AS DECIMAL(18,12))) AS DOUBLE) AS rsum
         |  FROM sc)
         |SELECT source, CAST(total_weight AS BIGINT) AS total_weight,
         |  ${roundN("share", 6)} AS share,
         |  ${roundN("raw / rsum", 6)} AS mix_weight
         |FROM sc, rs ORDER BY source""".stripMargin) { (s, d) =>
      Mixing.temperatureWeights(Tables.documents(s, d), "source", "n_chars")
        .orderBy("source")
    },

    // The composed training-export pipeline: per-language quality gate
    // (p25 over the TRAINING corpus only) → drop benchmark-contaminated
    // docs → chunk the survivors into 32/8 context windows → per-doc
    // chunk/token counts. Every stage is the same operator the standalone
    // queries exercise; the oracle recomposes their SQL CTEs, so the whole
    // chain is hash-checked end-to-end.
    QueryDef.sql(
      "t_training_export",
      raw"""WITH ${TextFunctions.qualityFeaturesSql(Seq("lang"), "documents WHERE doc_id % 20 <> 0")},
         |$langP25Ctes,
         |gated AS (
         |  SELECT doc_id FROM q JOIN th ON th.lang = q.lang
         |  WHERE quality_score >= lang_p25),
         |$benchOverlapCtes,
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM ov JOIN bn USING (bench_id)
         |  WHERE ${roundN("ov_n * 1.0 / bench_n", 4)} >= 0.5),
         |clean AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |st AS (
         |  SELECT toks.doc_id, t,
         |    unnest(generate_series(0, GREATEST(len(t) - 1, 0), 24)) AS start
         |  FROM toks JOIN clean ON clean.doc_id = toks.doc_id)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(len(t[start + 1 : start + 32])) AS BIGINT) AS total_tokens
         |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val gated = qualityGated(corpus).select("doc_id")
      val contaminated = Contamination.ngramOverlap(corpus, bench,
          "doc_id", "text")
        .select("doc_id").distinct()
      val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
      Chunking.byTokens(docs.join(clean, Seq("doc_id")),
          "doc_id", "text", chunk = 32, overlap = 8)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy("doc_id")
    },

    // Token-balanced shard packing: hash round robin for the bulk, rank
    // round robin for the heavy tail (n_chars >= 500 ≈ the p95 here).
    // The oracle re-derives both tiers — h56 mod for the bulk, global
    // weight-rank round robin for the tail — plus the summary rollup;
    // ShardsSpec proves completeness/disjointness and bounds imbalance.
    QueryDef.sql(
      "t_shard_pack",
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    CAST(${Det.h56Sql("'0:' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
         |  FROM documents WHERE n_chars < 500
         |  UNION ALL
         |  SELECT doc_id, n_chars,
         |    CAST((row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1) % 8 AS INT) AS shard
         |  FROM documents WHERE n_chars >= 500),
         |per AS (
         |  SELECT shard, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_weight
         |  FROM u GROUP BY shard),
         |tot AS (SELECT SUM(total_weight) AS t, COUNT(*) AS nsh FROM per)
         |SELECT shard, n_docs, total_weight,
         |  ${roundN("total_weight * nsh / t", 4)} AS imbalance
         |FROM per, tot ORDER BY shard""".stripMargin) { (s, d) =>
      val assigned = Shards.assign(Tables.documents(s, d), "doc_id",
        "n_chars", nShards = 8, heavyCutoff = 500)
      Shards.summary(assigned, "n_chars").orderBy("shard")
    },

    // Deterministic epoch shuffle: the training order as (shard,
    // shard_pos) — hash-range buckets ranked within shard, so
    // concatenating shards IS the global salted-hash permutation but no
    // node ever sorts the full corpus. Reproducible across engines
    // (h56), so the exact order every loader will see is hash-checked.
    QueryDef.sql(
      "t_corpus_shuffle",
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${Det.h56Sql("'shuffle0:' || CAST(doc_id AS VARCHAR)")} AS sh
         |  FROM documents)
         |SELECT doc_id, CAST(sh // ${(1L << 56) / 8} AS INT) AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY sh // ${(1L << 56) / 8}
         |    ORDER BY sh, doc_id) AS INT) AS shard_pos
         |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Shards.shuffled(Tables.documents(s, d), "doc_id", nShards = 8)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    },

    // Dataset card: the per-source datasheet a curation run ships with
    // its export — volume, language spread, token mass, exact-dup rate,
    // mean quality — every number composed from the SAME operators the
    // standalone queries exercise (qualityFeatures scoring, sha256 exact
    // dedup), so the card can never disagree with the pipeline it
    // describes. Fully hash-checked.
    QueryDef.sql(
      "t_dataset_card",
      raw"""WITH f AS (
         |  SELECT doc_id,
         |    len(${tokensSql("text")}) AS words,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
         |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
         |    ${hitsSql("text", TextFunctions.stopwordsEn)} AS stop_hits,
         |    punct * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
         |    CASE WHEN len(${tokensSql("text")}) > 0
         |      THEN ${Det.roundNSql(raw"length(regexp_replace(text, '\s+', '', 'g')) * 1.0 / len(${tokensSql("text")})", 2)}
         |      ELSE 0.0 END AS avg_word_len
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, words,
         |    ${TextFunctions.qualityScoreSql("words", "punct_ratio", "avg_word_len", "stop_hits")} AS score
         |  FROM f),
         |canon AS (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
         |    ORDER BY doc_id) = 1 AS is_canonical
         |  FROM documents),
         |per AS (
         |  SELECT d.source, COUNT(*) AS n_docs,
         |    COUNT(DISTINCT d.lang) AS n_langs,
         |    CAST(SUM(s.words) AS BIGINT) AS total_words,
         |    COUNT(CASE WHEN c.is_canonical THEN 1 END) AS n_unique,
         |    CAST(SUM(s.score) AS BIGINT) AS score_sum
         |  FROM documents d
         |  JOIN sc s ON s.doc_id = d.doc_id
         |  JOIN canon c ON c.doc_id = d.doc_id
         |  GROUP BY d.source)
         |SELECT source, n_docs, n_langs, total_words, n_unique,
         |  ${Det.roundNSql("(n_docs - n_unique) * 1.0 / n_docs", 4)} AS dup_rate,
         |  ${Det.roundNSql("score_sum * 1.0 / n_docs", 2)} AS avg_quality
         |FROM per ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val q = TextFunctions.qualityFeatures(docs, "doc_id", "text")
        .select(col("doc_id"), col("word_count"), col("quality_score"))
      val e = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical"))
      docs.select("doc_id", "source", "lang")
        .join(q, Seq("doc_id")).join(e, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("word_count")).cast("long").as("total_words"),
          count(when(col("is_canonical"), 1)).as("n_unique"),
          sum(col("quality_score")).cast("long").as("__score_sum"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("total_words"), col("n_unique"),
          Det.roundN((col("n_docs") - col("n_unique"))
            * lit(1.0) / col("n_docs"), 4).as("dup_rate"),
          Det.roundN(col("__score_sum") * lit(1.0) / col("n_docs"), 2)
            .as("avg_quality"))
        .orderBy("source")
    },

    // Per-domain cap (the RefinedWeb/C4 move): at most 15 docs per
    // source, ranked longest-first (n_chars DESC, doc_id tiebreak) —
    // stops an over-crawled source from dominating the mix. Full per-doc
    // annotation is hash-checked, cap boundary included.
    QueryDef.sql(
      "t_source_cap",
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS group_rank,
        |  CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) <= 15 AS is_kept
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.capPerGroup(Tables.documents(s, d), "source",
          Seq(col("n_chars").desc, col("doc_id")), k = 15)
        .select("doc_id", "source", "group_rank", "is_kept")
        .orderBy("doc_id")
    },

    // Corpus snapshot diff — dataset versioning: old = 90% of the corpus
    // (ids % 10 != 0 — the rest read as `added`), new = current corpus
    // with every 7th doc revised (`changed`); removed is exercised by ids
    // present only in old (none here — full-outer join still proves the
    // branch). Content compared by sha256 so document bytes never cross
    // the exchange.
    QueryDef.sql(
      "t_snapshot_diff",
      """WITH snap_old AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 10 != 0),
        |snap_new AS (
        |  SELECT doc_id, sha256(
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
        |  FROM documents)
        |SELECT COALESCE(snap_old.doc_id, snap_new.doc_id) AS doc_id,
        |  CASE WHEN snap_old.h IS NULL THEN 'added'
        |       WHEN snap_new.h IS NULL THEN 'removed'
        |       WHEN snap_old.h != snap_new.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM snap_old FULL OUTER JOIN snap_new ON snap_old.doc_id = snap_new.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      graft.operators.Snapshot.diff(oldSnap, newSnap, "doc_id", "text")
        .select(col("id").as("doc_id"), col("status"))
        .orderBy("doc_id")
    },

    // Sequence packing: per-source contiguous fill into 128-token training
    // sequences — each doc lands in the sequence where its first token
    // falls (window cumulative sum per shard; no global sort). Full
    // per-doc (seq_id, offset) assignment is hash-checked.
    QueryDef.sql(
      "t_seq_pack",
      raw"""WITH t AS (
         |  SELECT doc_id, source,
         |    len(${tokensSql("text")}) AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, toks,
         |    COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
         |  FROM t)
         |SELECT doc_id, source, CAST(toks AS BIGINT) AS toks,
         |  CAST(FLOOR(tokens_before * 1.0 / 128) AS BIGINT) AS seq_id,
         |  CAST(tokens_before
         |    - CAST(FLOOR(tokens_before * 1.0 / 128) AS BIGINT) * 128 AS BIGINT) AS offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("toks", TextFunctions.wordCount(col("text")))
      graft.operators.Packing.contiguous(docs, "source", "doc_id",
          "toks", maxTokens = 128)
        .select("doc_id", "source", "toks", "seq_id", "offset")
        .orderBy("doc_id")
    },

    // DSIR-style importance weights: per-doc average per-token
    // discriminant between the target distribution (sources src0..src4)
    // and the raw corpus over the top-64 vocabulary. Decimal-summed
    // deltas, rational math only — the full per-doc weight table is
    // hash-checked.
    QueryDef.sql(
      "t_importance_weights",
      raw"""WITH toks AS (
         |  SELECT doc_id,
         |    source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS t,
         |    unnest(${tokensSql("text")}) AS w
         |  FROM documents),
         |counts AS (
         |  SELECT w, COUNT(*) AS n_raw,
         |    COUNT(CASE WHEN t THEN 1 END) AS n_tgt
         |  FROM toks GROUP BY 1),
         |totals AS (
         |  SELECT COUNT(*) AS nr, COUNT(CASE WHEN t THEN 1 END) AS nt
         |  FROM toks),
         |vocab AS (SELECT w, n_raw, n_tgt FROM counts
         |  ORDER BY n_raw DESC, w LIMIT 64),
         |deltas AS (
         |  SELECT w, n_tgt * 1.0 / nt - n_raw * 1.0 / nr AS delta
         |  FROM vocab CROSS JOIN totals),
         |dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY 1),
         |hits AS (
         |  SELECT toks.doc_id, COUNT(*) AS n_hits,
         |    CAST(SUM(CAST(delta AS DECIMAL(18,12))) AS DOUBLE) AS sum_delta
         |  FROM toks JOIN deltas ON toks.w = deltas.w GROUP BY 1)
         |SELECT dl.doc_id, COALESCE(n_hits, 0) AS n_hits,
         |  ${roundN("COALESCE(sum_delta, 0.0) * 1000.0 / doc_len", 8)} AS weight
         |FROM dl LEFT JOIN hits ON dl.doc_id = hits.doc_id
         |ORDER BY dl.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("is_target",
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
      graft.operators.Importance.weights(docs, "doc_id", "text",
          "is_target")
        .orderBy("doc_id")
    },

    // Exact equal-frequency binning of order value into 10 bins: edge i is
    // the value at global rank ceil(i·n/10), found by Binning's bucketed
    // two-pass (histogram + in-bucket rank scan) — never a global row
    // sort. The oracle recomputes the same multiset statistic with the
    // textbook row_number formulation this operator replaces at scale,
    // then both sides band rows by edge count and profile each bin.
    QueryDef.sql(
      "t_feature_binning",
      s"""WITH t AS (SELECT o_totalprice AS v FROM orders),
         |n AS (SELECT COUNT(*) AS c FROM t),
         |ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t),
         |edges AS (
         |  SELECT i, min(v) AS e
         |  FROM ranked, (SELECT unnest(range(1, 10)) AS i), n
         |  WHERE rn = CAST(ceil(i * c / 10.0) AS BIGINT)
         |  GROUP BY i),
         |binned AS (
         |  SELECT v, (SELECT COUNT(*) FROM edges WHERE e <= t.v) AS bin
         |  FROM t)
         |SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n_rows,
         |  ${roundN("MIN(v)", 2)} AS min_value,
         |  ${roundN("MAX(v)", 2)} AS max_value,
         |  ${Det.davgSql("v")} AS avg_value
         |FROM binned GROUP BY bin
         |ORDER BY bin""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d).select(col("o_totalprice").as("v"))
      val edges = graft.operators.Binning.equalFrequencyEdges(
        orders, "v", k = 10, bucketWidth = 5000.0)
      graft.operators.Binning.assign(orders, "v", edges, "bin")
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"),
          Det.roundN(min(col("v")), 2).as("min_value"),
          Det.roundN(max(col("v")), 2).as("max_value"),
          Det.davg(col("v")).as("avg_value"))
        .orderBy("bin")
    },

    // RFM customer segmentation: recency / frequency / monetary per
    // customer, each scored 1-5 by exact quintile edges from
    // Binning.equalFrequencyEdges (three INDEPENDENT edge computations
    // over the already-aggregated per-customer relation — tiny next to
    // the orders scan), then a CASE segment label. The oracle repeats the
    // rank-edge definition per metric; score = 1 + #{edges <= v} on both
    // sides, so heavy tie runs (frequency is small-integer) band
    // identically by construction.
    QueryDef.sql(
      "q_rfm_segmentation", {
        def edgesSql(metric: String) =
          s"""SELECT i, MIN(v) AS e FROM
             |    (SELECT $metric AS v, row_number() OVER (ORDER BY $metric) AS rn FROM rfm) r,
             |    (SELECT unnest(range(1, 5)) AS i) i,
             |    (SELECT COUNT(*) AS c FROM rfm) n
             |  WHERE rn = CAST(ceil(i * c / 5.0) AS BIGINT) GROUP BY i""".stripMargin
        s"""WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
           |rfm AS (
           |  SELECT o_custkey AS c_custkey,
           |    date_diff('day', CAST(MAX(o_orderdate) AS DATE),
           |              CAST(MAX(maxd) AS DATE)) AS recency,
           |    COUNT(*) AS frequency,
           |    ${Det.dsumSql("o_totalprice")} AS monetary
           |  FROM orders, mx GROUP BY o_custkey),
           |re AS (${edgesSql("recency")}),
           |fe AS (${edgesSql("frequency")}),
           |me AS (${edgesSql("monetary")}),
           |scored AS (
           |  SELECT c_custkey, recency, frequency, monetary,
           |    CAST(5 - (SELECT COUNT(*) FROM re WHERE e <= rfm.recency) AS INT) AS r_score,
           |    CAST(1 + (SELECT COUNT(*) FROM fe WHERE e <= rfm.frequency) AS INT) AS f_score,
           |    CAST(1 + (SELECT COUNT(*) FROM me WHERE e <= rfm.monetary) AS INT) AS m_score
           |  FROM rfm)
           |SELECT c_custkey, recency, frequency, monetary,
           |  r_score, f_score, m_score,
           |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
           |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
           |       WHEN r_score <= 2 THEN 'hibernating'
           |       WHEN f_score >= 4 THEN 'loyal'
           |       WHEN m_score >= 4 THEN 'big_spender'
           |       ELSE 'regular' END AS segment
           |FROM scored
           |ORDER BY c_custkey""".stripMargin
      }) { (s, d) =>
      import graft.operators.Binning
      val orders = Tables.orders(s, d)
      val mx = orders.agg(max(col("o_orderdate")).as("maxd"))
      val rfm = orders.crossJoin(broadcast(mx))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(
          datediff(max(col("maxd")).cast("date"),
            max(col("o_orderdate")).cast("date")).as("recency"),
          count(lit(1)).as("frequency"),
          Det.dsum(col("o_totalprice")).as("monetary"))
        .staged
      def score(df: org.apache.spark.sql.DataFrame, metric: String,
          width: Double, scoreCol: String, invert: Boolean) = {
        val edges = Binning.equalFrequencyEdges(rfm, metric, 5, width)
        val binned = Binning.assign(df, metric, edges, "__b")
        val sc = if (invert) lit(5) - col("__b") else lit(1) + col("__b")
        binned.withColumn(scoreCol, sc.cast("int")).drop("__b")
      }
      // recency inverts: small recency (recent) = high score
      val scored = score(score(score(rfm,
        "recency", 50.0, "r_score", invert = true),
        "frequency", 2.0, "f_score", invert = false),
        "monetary", 5000.0, "m_score", invert = false)
      scored.withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4 &&
            col("m_score") >= 4, "champion")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .when(col("r_score") <= 2, "hibernating")
            .when(col("f_score") >= 4, "loyal")
            .when(col("m_score") >= 4, "big_spender")
            .otherwise("regular"))
        .select("c_custkey", "recency", "frequency", "monetary",
          "r_score", "f_score", "m_score", "segment")
        .orderBy("c_custkey")
    },

    // BM25 keyword search: the standard IR ranking a data-curation stack
    // uses to pull topical subsets out of a 100 TB corpus ("give me the
    // top-k docs about X"). Log-free rational IDF keeps the ranking
    // hash-checkable (see TextFunctions.bm25Search); tf saturation (k1)
    // and length normalization (b) are real BM25.
    QueryDef.sql(
      "t_bm25_search",
      raw"""WITH t AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS term
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
         |       WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
         |sc AS (
         |  SELECT tf.doc_id,
         |    ${roundN(TextFunctions.bm25ScoreSql(), 6)} AS s
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st)
         |SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS bm25,
         |  COUNT(*) AS n_terms
         |FROM sc GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      TextFunctions.bm25Search(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "vector", "stream"), k = 20)
    },
  )
}
