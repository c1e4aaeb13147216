package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{Det, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.{hitsSql, langHitsSql, tokensSql}
import graft.operators.{Bloom, Dedup, Multimodal, Sampling, Similarity}
import graft.engine.Stage.syntax._

/** Training-data-pipeline extensions (BASELINE.json north star): text
  * analysis, dedup family, similarity search, multimodal plumbing — each
  * over the `documents` / `embeddings` fixtures, each with its DuckDB
  * oracle; unit specs also check the LSH/ANN operators against
  * brute-force ground truth.
  */
object Extensions {

  private val roundN = Det.roundNSql _

  private val cosSql = Similarity.cosineOracleSql _

  /** Squared L2 between two DOUBLE[] lists, in the exact expression order
    * the Spark PQ encoder computes it. */
  private def pqD2(v: String, c: String) =
    s"list_dot_product($v, $v) - 2.0 * list_dot_product($v, $c)" +
      s" + list_dot_product($c, $c)"

  /** One Lloyd refinement of the PQ codebooks: L2-argmin encode vs cb$p
    * (lowest-code tiebreak), per-(sub,code,dim) decimal means, rebuild
    * with float (REAL) rounding — the Spark side stores float arrays —
    * and dead-code retention via LEFT JOIN/COALESCE. */
  private def pqLloyd(n: Int, p: Int) =
    s"""enc$n AS (
       |  SELECT id, sub, code FROM (
       |    SELECT s.id, s.sub, c.code, row_number() OVER (
       |      PARTITION BY s.id, s.sub
       |      ORDER BY ${pqD2("s.v", "c.cv")}, c.code) AS rn
       |    FROM sv s JOIN cb$p c ON s.sub = c.sub)
       |  WHERE rn = 1),
       |m$n AS (
       |  SELECT x.sub, x.code, x.dim,
       |    CAST(SUM(CAST(x.xv AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mv
       |  FROM (
       |    SELECT s.sub, n.code, generate_subscripts(s.v, 1) - 1 AS dim,
       |           unnest(s.v) AS xv
       |    FROM enc$n n JOIN sv s ON n.id = s.id AND n.sub = s.sub) x
       |  GROUP BY 1, 2, 3),
       |cb$n AS (
       |  SELECT c.sub, c.code, COALESCE(r.cv, c.cv) AS cv
       |  FROM cb$p c LEFT JOIN (
       |    SELECT sub, code,
       |      list(CAST(CAST(mv AS REAL) AS DOUBLE) ORDER BY dim) AS cv
       |    FROM m$n GROUP BY sub, code) r
       |    ON c.sub = r.sub AND c.code = r.code)""".stripMargin

  /** Shared PQ-oracle prefix mirroring Pq.train(m=8, dims=64, k=16,
    * iters=2) bit-for-bit: double-cast embeddings `e`, query vector `q`,
    * long-form subvectors `sv`, seed codebooks `cb0` from the 16
    * lowest-id vectors, two unrolled Lloyd refinements → trained
    * codebooks `cb2`, plus the query's subvectors `qsv` and its
    * per-(sub, code) partial-dot LUT `lut`. Used by both sim_pq_topk and
    * sim_ivfpq_topk so the two oracles cannot drift apart. */
  private val pqTrainCte =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
       |subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       |sv AS (
       |  SELECT vec_id AS id, sub, list_slice(emb, sub*8 + 1, sub*8 + 8) AS v
       |  FROM e CROSS JOIN subs),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, emb
       |  FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16)),
       |cb0 AS (
       |  SELECT sub, code, list_slice(emb, sub*8 + 1, sub*8 + 8) AS cv
       |  FROM seeds CROSS JOIN subs),
       |${pqLloyd(1, 0)},
       |${pqLloyd(2, 1)},
       |qsv AS (
       |  SELECT sub, list_slice(qe, sub*8 + 1, sub*8 + 8) AS qv
       |  FROM q CROSS JOIN subs),
       |lut AS (
       |  SELECT c.sub, c.code, list_dot_product(c.cv, s.qv) AS pd
       |  FROM cb2 c JOIN qsv s ON c.sub = s.sub)""".stripMargin

  /** Shared oracle prefix: ngram-Jaccard pairs (inverted index, RELATIVE
    * posting cap [[graft.operators.Dedup.postingCapOracleSql]], threshold
    * 0.8) → recursive min-label transitive closure →
    * `clusters(id, cluster_id)`. Three queries build on this chain
    * (closure itself, canonical-source selection, soft weights), so the
    * CTE is defined once — the SQL stays in lockstep with
    * [[graft.operators.Dedup.ngramJaccardDups]] +
    * [[graft.operators.Dedup.connectedComponents]]. `pairs` is
    * AS MATERIALIZED: inlined into the recursive walk, DuckDB re-ran the
    * whole shingle→postings→pair pipeline on every closure iteration
    * (fine at sf0.1, but 280 s+ / a disk-filling spill on the sf1
    * lake); materialized, the closure iterates over the pair list
    * alone. */
  /** The pairs of CTE `inter` whose Jaccard over `sizes`, pinned to 4
    * places, is at least 0.8: (id_a, id_b, jaccard), ordered. */
  private val jaccardPairsSql =
    s"""j AS (
       |  SELECT id_a, id_b,
       |    ${roundN("inter * 1.0 / (sa.n + sb.n - inter)", 4)} AS jaccard
       |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** CTE `f(doc_id, words, chars, stop_hits)`: the document measurements
    * the rule filters read. */
  private val ruleFeaturesCte =
    raw"""f AS (
       |  SELECT doc_id,
       |    len(${tokensSql("text")}) AS words,
       |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
       |    ${hitsSql("text", TextFunctions.stopwordsEn)} AS stop_hits
       |  FROM documents)""".stripMargin

  /** The tail of the BPE oracles' word CTE: each document's non-empty
    * tokens as `words`, from `documents`. */
  private val bpeWordsSql =
    s"""list_filter(${tokensSql("text")},
       |                x -> x <> '') AS words
       |  FROM documents),""".stripMargin

  private val ngramClusterCte: String =
    raw"""WITH RECURSIVE ${Dedup.shingleSizesSql},
       |${Dedup.usefulPostingsSql},
       |${Dedup.pairInterSql("useful")},
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |  WHERE ${Det.roundNSql("inter * 1.0 / (sa.n + sb.n - inter)", 4)} >= 0.8),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |walk(id, label) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.id
       |  WHERE w.label < e.v),
       |clusters AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)""".stripMargin

  /** Shared MinHash-LSH oracle chain mirroring
    * [[graft.operators.Dedup.minhashNearDups]] (the Dedup geometry
    * constants) bit-for-bit: distinct 3-gram shingles
    * (whole-text fallback), two 56-bit md5 spans per shingle, affine
    * component family h1 + i·h2, 16 bands of 4 comma-joined components,
    * bucket cap on band-key population, exact-Jaccard verify from
    * co-occurrence counts. Ends with `mh_pairs(id_a, id_b, jaccard)` —
    * UNTHRESHOLDED; callers apply their own threshold/scope filters.
    * Used by both the full-corpus and the incremental-probe oracles so
    * the two cannot drift apart. */
  private[queries] val minhashPairsCte: String = {
    val bandRows = Dedup.NumHashes / Dedup.Bands
    raw"""WITH ${Dedup.shingleSizesSql},
       |shh AS (
       |  SELECT id, shingle, ${Det.h56Sql("shingle")} AS h1,
       |    ${Det.h56Sql("shingle", 17)} AS h2
       |  FROM s),
       |comp AS (
       |  SELECT id, i, MIN((h1 + i * h2) % ${Dedup.MinhashPrime}) AS c
       |  FROM shh, (SELECT unnest(generate_series(0, ${Dedup.NumHashes - 1})) AS i) ii
       |  GROUP BY id, i),
       |keyed AS (
       |  SELECT id, i // $bandRows AS band_id,
       |    string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS band_hash
       |  FROM comp GROUP BY id, i // $bandRows),
       |bsized AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bn
       |  FROM keyed),
       |okb AS (SELECT id, band_id, band_hash FROM bsized WHERE bn <= ${Dedup.MaxBucket}),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM okb a JOIN okb b USING (band_id, band_hash) WHERE a.id < b.id),
       |minter AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS inter
       |  FROM cands c
       |  JOIN s sa ON sa.id = c.id_a
       |  JOIN s sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT id_a, id_b,
       |    ${Det.roundNSql("inter * 1.0 / (sa.n + sb.n - inter)", 4)} AS jaccard
       |  FROM minter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- text analysis -------------------------------------------------

    QueryDef.sql(
      "t_token_count",
      raw"""SELECT doc_id,
         |  CAST(len(${tokensSql("text")}) AS BIGINT) AS word_count,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.bpePattern}')) AS BIGINT) AS bpe_count,
         |  CAST(length(text) AS BIGINT) AS char_count
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.wordCount(col("text")).as("word_count"),
          TextFunctions.bpeTokenCount(col("text")).as("bpe_count"),
          length(col("text")).cast("long").as("char_count"))
        .orderBy("doc_id")
    },

    // Rendezvous (HRW) re-shard movement matrix: assign every doc under
    // 8 and under 9 shards, count (shard_before, shard_after) pairs.
    // The output EXHIBITS the minimal-movement guarantee — every row has
    // shard_after = shard_before or shard_after = 8 (the new shard), and
    // the moved mass is ~1/9 — which is what adding capacity costs under
    // HRW vs rewriting (n−1)/n of the corpus under mod-N placement.
    QueryDef.sql(
      "t_rendezvous_shards", {
        def assign(n: Int, alias: String) =
          s"""$alias AS (
             |  SELECT doc_id, s FROM (
             |    SELECT doc_id, s, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY h DESC, s) AS rn
             |    FROM (
             |      SELECT doc_id, ss.s,
             |        ${Det.h56Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(ss.s AS VARCHAR)")} AS h
             |      FROM documents,
             |        (SELECT unnest(generate_series(0, ${n - 1})) AS s) ss))
             |  WHERE rn = 1)""".stripMargin
        s"""WITH ${assign(8, "a8")},
           |${assign(9, "a9")}
           |SELECT a8.s AS shard_before, a9.s AS shard_after,
           |  COUNT(*) AS n_docs
           |FROM a8 JOIN a9 USING (doc_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val a8 = graft.operators.Shards.rendezvous(docs, "doc_id", 8)
        .withColumnRenamed("shard", "shard_before")
      val a9 = graft.operators.Shards.rendezvous(docs, "doc_id", 9)
        .withColumnRenamed("shard", "shard_after")
      a8.join(a9, Seq("doc_id"))
        .groupBy("shard_before", "shard_after")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("shard_before", "shard_after")
    },

    // Priority sampling (Duffield-Lund-Thorup): weighted-without-
    // replacement sample of 50 docs by token mass, with unbiased ŵ =
    // max(w, τ) estimation weights. Chosen over Efraimidis-Spirakis
    // u^(1/w) keys because E-S needs libm pow (engines disagree in the
    // last ulp — a rank-boundary hash landmine); here hash, +1, one
    // multiply, one divide are all IEEE correctly-rounded, so SAMPLE
    // MEMBERSHIP itself is engine-reproducible.
    QueryDef.sql(
      "t_priority_sample",
      s"""WITH pr AS (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) * 7.2057594037927936e16
         |      / CAST((${Det.h56Sql("CAST(doc_id AS VARCHAR)")} + 1) AS DOUBLE) AS p
         |  FROM documents),
         |top AS (SELECT * FROM pr ORDER BY p DESC, doc_id LIMIT 51),
         |rk AS (
         |  SELECT *, row_number() OVER (ORDER BY p DESC, doc_id) AS rn
         |  FROM top),
         |tau AS (SELECT MAX(CASE WHEN rn = 51 THEN p END) AS t FROM rk)
         |SELECT doc_id, n_chars, rn AS sample_rank,
         |  ${roundN("p", 4)} AS priority,
         |  ${roundN("GREATEST(CAST(n_chars AS DOUBLE), COALESCE(t, 0.0))", 4)} AS w_hat
         |FROM rk CROSS JOIN tau WHERE rn <= 50
         |ORDER BY sample_rank""".stripMargin) { (s, d) =>
      Sampling.prioritySample(Tables.documents(s, d), "doc_id", "n_chars",
          k = 50)
        .orderBy("sample_rank")
    },

    // Exact phrase search over a positional inverted index: the
    // (id, pos, token) postings relation answers "value table" as
    // ADJACENT tokens via an equi-join on (doc, pos+1) — each side
    // pre-filtered to its phrase token, so only matching postings
    // shuffle. The oracle derives positions with the identical
    // tokenizer, so the index build is hash-verified, not approximated
    // by LIKE.
    QueryDef.sql(
      "t_phrase_search",
      raw"""WITH toks AS (
         |  SELECT doc_id,
         |    generate_subscripts(${tokensSql("text")}, 1) - 1 AS pos,
         |    unnest(${tokensSql("text")}) AS token
         |  FROM documents),
         |m AS (
         |  SELECT a.doc_id, a.pos
         |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  WHERE a.token = 'value' AND b.token = 'table')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
         |  MIN(pos) AS first_pos
         |FROM m GROUP BY doc_id
         |ORDER BY n_matches DESC, doc_id""".stripMargin) { (s, d) =>
      TextFunctions.phraseSearch(Tables.documents(s, d), "doc_id", "text",
        Seq("value", "table"))
    },

    // Feature hashing (the hashing trick, Weinberger et al. 2009): token
    // → h56 mod 1024 feature index with a ±1 sign hash (second md5 span,
    // low bit) to debias collisions — the fixed-width featurizer that
    // needs NO vocabulary broadcast, which is the whole point at corpus
    // scale: the feature space is a constant, not a learned artifact.
    // Output is the sparse (doc, feature, value) relation, fully
    // hash-checked since both engines compute identical md5 spans.
    QueryDef.sql(
      "t_feature_hashing",
      raw"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS tk
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id,
         |    ${Det.h56Sql("tk")} % 1024 AS feature_idx,
         |    1 - 2 * (${Det.h56Sql("tk", 17)} % 2) AS sgn
         |  FROM toks)
         |SELECT doc_id, CAST(feature_idx AS BIGINT) AS feature_idx,
         |  CAST(SUM(sgn) AS BIGINT) AS value
         |FROM hashed GROUP BY 1, 2
         |ORDER BY doc_id, feature_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tk"))
        .select(col("doc_id"),
          (Det.h56(col("tk")) % 1024).as("feature_idx"),
          (lit(1) - lit(2) * (Det.h56(col("tk"), 17) % 2)).as("sgn"))
        .groupBy("doc_id", "feature_idx")
        .agg(sum(col("sgn")).as("value"))
        .orderBy("doc_id", "feature_idx")
    },

    // Flesch-Kincaid readability — the grade-level filter a pretraining
    // mix uses to stratify by difficulty (and to spot OCR sludge: absurd
    // grades mean broken sentence structure). Dictionary-free syllables =
    // vowel-group runs; sentences = terminal-punctuation runs; both
    // single-character-class regexes where Java and RE2 agree. Ratios are
    // plain IEEE from identical integers, formula constants are identical
    // literals — only the two ratio divisions are rounded (6) at output.
    QueryDef.sql(
      "t_readability",
      raw"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_words,
         |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
         |    CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (
         |  SELECT doc_id, n_words, n_sentences, n_syllables,
         |    n_words * 1.0 / n_sentences AS wps,
         |    n_syllables * 1.0 / GREATEST(n_words, 1) AS spw
         |  FROM f)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  ${roundN("0.39 * wps + 11.8 * spw - 15.59", 6)} AS fk_grade,
         |  ${roundN("206.835 - 1.015 * wps - 84.6 * spw", 6)} AS reading_ease
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextFunctions.wordCount(col("text")).as("n_words"),
          greatest(TextFunctions.sentenceCount(col("text")), lit(1L))
            .as("n_sentences"),
          greatest(TextFunctions.syllableCount(col("text")), lit(1L))
            .as("n_syllables"))
        .withColumn("wps", col("n_words") * lit(1.0) / col("n_sentences"))
        .withColumn("spw",
          col("n_syllables") * lit(1.0) / greatest(col("n_words"), lit(1L)))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          Det.roundN(lit(0.39) * col("wps") + lit(11.8) * col("spw")
            - lit(15.59), 6).as("fk_grade"),
          Det.roundN(lit(206.835) - lit(1.015) * col("wps")
            - lit(84.6) * col("spw"), 6).as("reading_ease"))
        .orderBy("doc_id")
    },

    QueryDef.sql(
      "t_text_quality",
      raw"""WITH ${TextFunctions.qualityFeaturesSql(Nil)},
         |g AS (
         |  SELECT doc_id, words, stop_hits,
         |    CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END AS avg_word_len,
         |    punct * 1.0 / GREATEST(length(text), 1) AS punct_ratio
         |  FROM f)
         |SELECT doc_id, CAST(words AS BIGINT) AS word_count, avg_word_len,
         |  CASE WHEN words > 0 THEN ${roundN("stop_hits * 1.0 / words", 4)} ELSE 0.0 END AS stopword_ratio,
         |  ${TextFunctions.qualityScoreSql("words", "punct_ratio", "avg_word_len", "stop_hits")} AS quality_score
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      // single-pass token aggregate (explode → one hash agg) + one char-
      // level regex per row — not the per-metric HOF helpers, which would
      // re-tokenize the corpus 4×. qualityFeatures is the shared scoring
      // source so t_quantile_filter gates on bit-identical scores.
      TextFunctions.qualityFeatures(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "word_count", "avg_word_len", "stopword_ratio",
          "quality_score")
        .orderBy("doc_id")
    },

    // Gopher-style HARD rule gate — named boolean rules, not the additive
    // score: length band, degenerate word length, no-stopword word salad.
    // Every rule flag plus the conjunction is hash-checked per doc; the
    // feature source is the same qualityFeatures aggregate as the score
    // and the quantile gate, so the three filters can never disagree on
    // the underlying measurements.
    QueryDef.sql(
      "t_rule_gate",
      raw"""WITH $ruleFeaturesCte,
         |g AS (
         |  SELECT doc_id, words,
         |    CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END AS awl,
         |    CASE WHEN words > 0 THEN ${roundN("stop_hits * 1.0 / words", 4)} ELSE 0.0 END AS sr
         |  FROM f)
         |SELECT doc_id,
         |  words < 30 AS fail_short,
         |  words > 80 AS fail_long,
         |  awl < 3.0 OR awl > 10.0 AS fail_word_len,
         |  sr = 0.0 AS fail_no_stopwords,
         |  NOT (words < 30 OR words > 80 OR awl < 3.0 OR awl > 10.0 OR sr = 0.0) AS passes
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val failShort = col("word_count") < 30
      val failLong = col("word_count") > 80
      val failWl = col("avg_word_len") < 3.0 || col("avg_word_len") > 10.0
      val failStop = col("stopword_ratio") === 0.0
      TextFunctions.qualityFeatures(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"),
          failShort.as("fail_short"), failLong.as("fail_long"),
          failWl.as("fail_word_len"), failStop.as("fail_no_stopwords"),
          (!(failShort || failLong || failWl || failStop)).as("passes"))
        .orderBy("doc_id")
    },

    // Curation observability: the FILTER FUNNEL — the rule-gate flags
    // re-aggregated as an ordered attrition report (who kills what, in
    // pipeline order: short → long → word-len → stopwords), the first
    // chart any data-quality review asks for. ONE conditional aggregate
    // produces every funnel count; the 4-row unpivot is constant-size.
    // Marginal attribution is order-dependent by design (a doc failing
    // two rules charges the FIRST), so n_in/n_out telescope exactly.
    QueryDef.sql(
      "t_filter_funnel",
      raw"""WITH $ruleFeaturesCte,
         |g AS (
         |  SELECT doc_id, words < 30 AS f1, words > 80 AS f2,
         |    (CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END < 3.0
         |     OR CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END > 10.0) AS f3,
         |    CASE WHEN words > 0 THEN ${roundN("stop_hits * 1.0 / words", 4)} ELSE 0.0 END = 0.0 AS f4
         |  FROM f),
         |c AS (
         |  SELECT COUNT(*) AS total,
         |    COUNT(CASE WHEN f1 THEN 1 END) AS k1,
         |    COUNT(CASE WHEN NOT f1 AND f2 THEN 1 END) AS k2,
         |    COUNT(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 END) AS k3,
         |    COUNT(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 END) AS k4
         |  FROM g),
         |u(rule_order, rule, n_killed, n_in) AS (
         |  SELECT 1, 'too_short', k1, total FROM c
         |  UNION ALL SELECT 2, 'too_long', k2, total - k1 FROM c
         |  UNION ALL SELECT 3, 'word_len', k3, total - k1 - k2 FROM c
         |  UNION ALL SELECT 4, 'no_stopwords', k4, total - k1 - k2 - k3 FROM c)
         |SELECT CAST(rule_order AS BIGINT) AS rule_order, rule,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_killed AS BIGINT) AS n_killed,
         |  CAST(n_in - n_killed AS BIGINT) AS n_out,
         |  ${roundN("CAST(n_killed AS DOUBLE) / n_in", 6)} AS kill_rate
         |FROM u ORDER BY rule_order""".stripMargin) { (s, d) =>
      val q = TextFunctions.qualityFeatures(Tables.documents(s, d),
        "doc_id", "text")
      val f1 = col("word_count") < 30
      val f2 = col("word_count") > 80
      val f3 = col("avg_word_len") < 3.0 || col("avg_word_len") > 10.0
      val f4 = col("stopword_ratio") === 0.0
      val c = q.agg(count(lit(1)).as("total"),
        count(when(f1, 1)).as("k1"),
        count(when(!f1 && f2, 1)).as("k2"),
        count(when(!f1 && !f2 && f3, 1)).as("k3"),
        count(when(!f1 && !f2 && !f3 && f4, 1)).as("k4"))
      c.select(expr(
          """stack(4,
            |  1L, 'too_short',    k1, total,
            |  2L, 'too_long',     k2, total - k1,
            |  3L, 'word_len',     k3, total - k1 - k2,
            |  4L, 'no_stopwords', k4, total - k1 - k2 - k3)
            |  AS (rule_order, rule, n_killed, n_in)""".stripMargin))
        .select(col("rule_order"), col("rule"), col("n_in"),
          col("n_killed"), (col("n_in") - col("n_killed")).as("n_out"),
          Det.roundN(col("n_killed").cast("double") / col("n_in"), 6)
            .as("kill_rate"))
        .orderBy("rule_order")
    },

    // Real merge-table BPE (not the regex proxy in t_token_count),
    // oracle-hash-checked: the codebook is Bpe.pinnedMerges, learned
    // once per JVM from a frozen corpus word-frequency snapshot — the
    // same table the oracle interpolates. Cluster-side learning is
    // t_bpe_learn_distributed's subject, not this query's. The
    // oracle replays merge application in DuckDB via Bpe.encodeSqlDuck
    // (rank-ordered single-pass replaces over separator-wrapped symbols
    // ≡ the greedy lowest-rank-first encode loop — see the scaladoc
    // proof). Encoding streams through the mapPartitions seam, so no
    // corpus row reaches the driver.
    QueryDef.sql(
      "t_bpe_tokenize",
      s"""WITH w AS (
         |  SELECT doc_id,
         |    $bpeWordsSql
         |t AS (
         |  SELECT doc_id, len(words) AS n_words,
         |    flatten(list_transform(words,
         |      bw -> ${graft.functions.Bpe.encodeSqlDuck("bw")})) AS toks
         |  FROM w)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
         |  array_to_string(toks[1:8], ' ') AS first_tokens
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.functions.Bpe.tokenize(s, docs, "doc_id", "text",
          graft.functions.Bpe.pinnedMerges).toDF()
        .select(col("id").as("doc_id"), col("n_words").cast("long"),
          col("n_bpe_tokens").cast("long"),
          concat_ws(" ", slice(col("tokens"), 1, 8)).as("first_tokens"))
        .orderBy("doc_id")
    },

    // BPE tokens feeding context-window chunking: the token-balance
    // numbers a training export actually needs are in learned subword
    // units, not whitespace words. Same zero-shuffle chunk generator
    // (Chunking.byArray: explode over sequence starts, O(chunk) slice
    // per row); the oracle mirrors the start grid with range() and the
    // slice length with LEAST/GREATEST over the replayed token counts.
    QueryDef.sql(
      "t_bpe_chunking",
      s"""WITH w AS (
         |  SELECT doc_id,
         |    $bpeWordsSql
         |t AS (
         |  SELECT doc_id,
         |    len(flatten(list_transform(words,
         |      bw -> ${graft.functions.Bpe.encodeSqlDuck("bw")}))) AS L
         |  FROM w),
         |c AS (
         |  SELECT doc_id, L,
         |    unnest(range(0, greatest(L - 1, 0) + 1, 24)) AS start
         |  FROM t)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(LEAST(GREATEST(L - start, 0), 32)) AS BIGINT)
         |    AS total_bpe_tokens
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = graft.functions.Bpe.tokenize(s, docs, "doc_id", "text",
        graft.functions.Bpe.pinnedMerges).toDF().select(col("id"), col("tokens"))
      graft.operators.Chunking.byArray(toks, "id", "tokens",
          chunk = 32, overlap = 8)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").cast("long").as("total_bpe_tokens"))
        .orderBy("doc_id")
    },

    // Tokenizer FERTILITY per language — tokens/word and chars/token
    // under the pinned codebook: the standard tokenizer-quality report
    // (a vocabulary trained on one language family fragments the others;
    // fertility quantifies it, and drives per-language token budgeting).
    // Integer sums per language, ratios only at the end — hash-exact.
    QueryDef.sql(
      "t_bpe_fertility",
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    $bpeWordsSql
         |t AS (
         |  SELECT doc_id, lang, len(words) AS n_words,
         |    flatten(list_transform(words,
         |      bw -> ${graft.functions.Bpe.encodeSqlDuck("bw")})) AS toks
         |  FROM w),
         |pd AS (
         |  SELECT lang, n_words, len(toks) AS n_toks,
         |    CAST(list_sum(list_transform(toks, x -> length(x)))
         |      AS BIGINT) AS n_chars
         |  FROM t)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS words,
         |  CAST(SUM(n_toks) AS BIGINT) AS bpe_tokens,
         |  ${Det.roundNSql(
           "CAST(SUM(n_toks) AS DOUBLE) / SUM(n_words)", 6)} AS fertility,
         |  ${Det.roundNSql(
           "CAST(SUM(n_chars) AS DOUBLE) / SUM(n_toks)", 6)} AS chars_per_token
         |FROM pd GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = graft.functions.Bpe.tokenize(s, docs, "doc_id", "text",
          graft.functions.Bpe.pinnedMerges).toDF()
        .select(col("id").as("doc_id"), col("n_words"),
          col("n_bpe_tokens").as("n_toks"),
          aggregate(col("tokens"), lit(0L),
            (acc, x) => acc + length(x)).as("n_chars"))
      docs.select(col("doc_id"), col("lang")).join(toks, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("words"),
          sum("n_toks").cast("long").as("bpe_tokens"),
          Det.roundN(sum("n_toks").cast("double") / sum("n_words"), 6)
            .as("fertility"),
          Det.roundN(sum("n_chars").cast("double") / sum("n_toks"), 6)
            .as("chars_per_token"))
        .orderBy("lang")
    },

    // FULLY-DISTRIBUTED BPE learning over the corpus — the scale path
    // when the vocabulary must not be truncated (Bpe.learnDistributed):
    // the corpus is scanned ONCE into the distinct-word relation, which
    // then stays on the cluster for all 12 merge rounds (pair-count
    // aggregate → 1-row argmax collect → replace-rewrite, re-staged per
    // round). The oracle replays the identical loop in DuckDB as 12
    // unrolled MATERIALIZED rounds over the same separator-wrapped
    // representation, so the hash check pins every round's winner AND
    // tie-break — not just the final table. Complements t_bpe_tokenize
    // (pinned-codebook ENCODING); BpeSpec separately proves
    // learnDistributed ≡ the driver-side learn loop on an untruncated
    // vocabulary.
    QueryDef.sql(
      "t_bpe_learn_distributed",
      graft.functions.Bpe.learnSqlDuck(numMerges = 12)) { (s, d) =>
      import s.implicits._
      val merges = graft.functions.Bpe.learnDistributed(
        Tables.documents(s, d), "text", numMerges = 12)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy("merge_rank")
    },

    QueryDef.sql(
      "t_langid", {
        raw"""WITH h AS (
           |  SELECT doc_id, lang AS declared_lang,
           |    ${langHitsSql("text")}
           |  FROM documents)
           |SELECT doc_id, declared_lang,
           |  ${TextFunctions.langIdSql} AS detected_lang
           |FROM h ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val feats = TextFunctions.tokenFeatures(docs, "doc_id", "text")
      docs.join(feats, "doc_id")
        .select(col("doc_id"), col("lang").as("declared_lang"),
          TextFunctions.langId(TextFunctions.featureHits).as("detected_lang"))
        .orderBy("doc_id")
    },

    QueryDef.sql(
      "t_fingerprint",
      s"""SELECT doc_id,
        |  sha256(array_to_string(list_sort(list_distinct(
        |    ${tokensSql("text")})), ' ')) AS fingerprint,
        |  contains(text, 'http://') OR contains(text, 'https://') AS has_links
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fingerprint"),
          TextFunctions.hasLinks(col("text")).as("has_links"))
        .orderBy("doc_id")
    },

    // Corpus-frequency boilerplate strip — the rewrite stage: tokens in
    // more than 78% of documents are removed and each doc reassembled in
    // original order. Oracle re-derives df counts, the integer-exact
    // threshold, and the ordered string_agg reassembly; the cleaned TEXT
    // itself is hash-checked, not just the counts.
    QueryDef.sql(
      "t_boilerplate_strip",
      raw"""WITH tok AS (
         |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks
         |        FROM documents)),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |boiler AS (SELECT tok FROM dfreq, n WHERE df * 100 > n_docs * 78),
         |rebuilt AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM tok WHERE tok NOT IN (SELECT tok FROM boiler) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(len(${tokensSql("d.text")}) AS BIGINT) AS n_tokens,
         |  CAST(len(${tokensSql("d.text")}) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextFunctions.stripBoilerplate(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Repetition detection (the Gopher/RefinedWeb-style filter signal):
    // distinct-token ratio + most-frequent-trigram share per doc. Trigram
    // counts via the explode → lead-window → hash-agg shape (NOT the
    // distinct shingle set — repetition needs multiplicities).
    QueryDef.sql(
      "t_repetition",
      raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |tokstats AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
         |  FROM tok GROUP BY 1),
         |tri AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS tri
         |  FROM toks WHERE len(t) >= 3),
         |counts AS (SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2),
         |stats AS (SELECT doc_id, SUM(c) AS n_trigrams, MAX(c) AS top_count FROM counts GROUP BY 1)
         |SELECT s.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  ${roundN("n_distinct * 1.0 / n_tokens", 4)} AS distinct_token_ratio,
         |  ${roundN("top_count * 1.0 / n_trigrams", 4)} AS top_trigram_ratio,
         |  ${roundN("top_count * 1.0 / n_trigrams", 4)} > 0.04 AS is_repetitive
         |FROM stats s JOIN tokstats USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d).select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "t0")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val counts = tok
        .withColumn("t1", lead(col("t0"), 1).over(w))
        .withColumn("t2", lead(col("t0"), 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", col("t0"), col("t1"), col("t2")).as("tri"))
        .groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
      val stats = counts.groupBy("doc_id")
        .agg(sum(col("c")).as("n_trigrams"), max(col("c")).as("top_count"))
      val tokStats = tok.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("t0")).as("n_distinct"))
      val topRatio = Det.roundN(col("top_count") * 1.0 / col("n_trigrams"), 4)
      stats.join(tokStats, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          Det.roundN(col("n_distinct") * 1.0 / col("n_tokens"), 4)
            .as("distinct_token_ratio"),
          topRatio.as("top_trigram_ratio"),
          (topRatio > 0.04).as("is_repetitive"))
        .orderBy("doc_id")
    },

    // Per-source mean-shift drift report — corpus monitoring: flag
    // sources whose mean document length sits far from the corpus mean,
    // scaled by corpus variance and group size (squared z-score, so no
    // sqrt/abs — plain IEEE arithmetic over decimal-summed integer
    // inputs keeps the whole report hash-checkable). One scan: corpus
    // totals are re-aggregated from the group rows, not a second pass.
    QueryDef.sql(
      "t_source_drift",
      s"""WITH g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS s,
         |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6)) * CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sq
         |  FROM documents GROUP BY 1),
         |c AS (
         |  SELECT SUM(n_docs) AS n_all,
         |    CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS s_all,
         |    CAST(SUM(CAST(sq AS DECIMAL(28,6))) AS DOUBLE) AS sq_all
         |  FROM g),
         |sel AS (
         |  SELECT source, n_docs, s, s / n_docs AS mg, s_all / n_all AS ma,
         |    sq_all / n_all - (s_all / n_all) * (s_all / n_all) AS va
         |  FROM g, c),
         |st AS (
         |  SELECT source, n_docs, s, mg,
         |    CASE WHEN va > 0
         |      THEN ${roundN("n_docs * (mg - ma) * (mg - ma) / va", 6)}
         |      ELSE 0.0 END AS drift_stat
         |  FROM sel)
         |SELECT source, n_docs, ${roundN("mg", 4)} AS mean_val,
         |  drift_stat, drift_stat > 4.0 AS is_drifted
         |FROM st ORDER BY source""".stripMargin) { (s, d) =>
      graft.operators.Drift.meanShift(Tables.documents(s, d),
          "source", "n_chars")
        .orderBy("source")
    },

    // Drift against a FROZEN baseline — the production monitoring shape:
    // reference moments computed over the "training-time" half of the
    // corpus (doc_id%8<=3 — id parity correlates with source here), each arriving source tested against THEM —
    // a corpus-wide shift can't hide in the batch's own mean. Both the
    // reference derivation and the per-source test are hash-checked.
    QueryDef.sql(
      "t_drift_vs_baseline",
      s"""WITH ref AS (
         |  SELECT COUNT(*) AS ref_n,
         |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS s,
         |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6)) * CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sq
         |  FROM documents WHERE doc_id % 8 <= 3),
         |r2 AS (
         |  SELECT s / ref_n AS ref_mean,
         |    sq / ref_n - (s / ref_n) * (s / ref_n) AS ref_var
         |  FROM ref),
         |g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS s
         |  FROM documents WHERE doc_id % 8 > 3 GROUP BY 1),
         |sel AS (
         |  SELECT source, n_docs, s / n_docs AS mg, ref_mean, ref_var
         |  FROM g, r2),
         |st AS (
         |  SELECT source, n_docs, mg,
         |    CASE WHEN ref_var > 0
         |      THEN ${roundN("n_docs * (mg - ref_mean) * (mg - ref_mean) / ref_var", 6)}
         |      ELSE 0.0 END AS drift_stat
         |  FROM sel)
         |SELECT source, n_docs, ${roundN("mg", 4)} AS mean_val,
         |  drift_stat, drift_stat > 4.0 AS is_drifted
         |FROM st ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val ref = graft.operators.Drift.referenceMoments(
        docs.filter(col("doc_id") % 8 <= 3), "n_chars")
      graft.operators.Drift.meanShiftAgainst(
          docs.filter(col("doc_id") % 8 > 3), "source", "n_chars", ref)
        .orderBy("source")
    },

    // Embedding-space drift: cosine of each label segment's centroid vs
    // the corpus centroid — the representation monitor that catches an
    // encoder bump or a content shift long before scalar metrics move.
    // Per-dim means AND the dot/norm folds are decimal-summed, so the
    // cosine itself is hash-checked against the SQL re-derivation.
    QueryDef.sql(
      "t_embedding_drift",
      s"""WITH dims AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |per AS (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
         |  FROM dims GROUP BY 1, 2),
         |gcent AS (
         |  SELECT dim,
         |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS g
         |  FROM dims GROUP BY 1),
         |dots AS (
         |  SELECT label,
         |    CAST(SUM(CAST(m * g AS DECIMAL(38,30))) AS DOUBLE) AS dot,
         |    CAST(SUM(CAST(m * m AS DECIMAL(38,30))) AS DOUBLE) AS na,
         |    CAST(SUM(CAST(g * g AS DECIMAL(38,30))) AS DOUBLE) AS ng
         |  FROM per JOIN gcent USING (dim) GROUP BY label),
         |nv AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1)
         |SELECT label, n_vecs,
         |  ${roundN("CASE WHEN sqrt(na) * sqrt(ng) > 0 THEN dot / (sqrt(na) * sqrt(ng)) ELSE 0.0 END", 6)} AS centroid_cosine
         |FROM dots JOIN nv USING (label)
         |ORDER BY label""".stripMargin) { (s, d) =>
      graft.operators.Drift.embeddingDrift(Tables.embeddings(s, d), "label")
        .orderBy("label")
    },

    // Histogram (chi-square) drift — the distribution-SHAPE check the
    // mean tests can't see. Reference bin fractions from the id-block
    // half (doc_id%8<=3 — parity correlates with source in the fixture), per-source observed fractions from the odd-id half, Pearson
    // statistic in rational form with the empty-bin completion. Both the
    // reference histogram and every per-source statistic hash-checked.
    QueryDef.sql(
      "t_histogram_drift",
      s"""WITH ref0 AS (
         |  SELECT CAST(least(greatest(floor((n_chars - 0.0) / 100.0), 0), 9) AS BIGINT) AS bin
         |  FROM documents WHERE doc_id % 8 <= 3),
         |refn AS (SELECT COUNT(*) AS n FROM ref0),
         |ref AS (
         |  SELECT bin, CAST(COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE) AS p_exp
         |  FROM ref0, refn GROUP BY bin, n),
         |cur AS (
         |  SELECT source, CAST(least(greatest(floor((n_chars - 0.0) / 100.0), 0), 9) AS BIGINT) AS bin
         |  FROM documents WHERE doc_id % 8 > 3),
         |oc AS (SELECT source, bin, COUNT(*) AS c FROM cur GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM oc GROUP BY 1),
         |frame AS (
         |  SELECT source, n_docs, CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin
         |  FROM tot),
         |terms AS (
         |  SELECT f.source, f.n_docs,
         |    (COALESCE(o.c, 0) / f.n_docs - r.p_exp) * (COALESCE(o.c, 0) / f.n_docs - r.p_exp) / r.p_exp AS term
         |  FROM frame f
         |  LEFT JOIN oc o ON o.source = f.source AND o.bin = f.bin
         |  JOIN ref r ON r.bin = f.bin AND r.p_exp > 0)
         |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |  ${roundN("MAX(n_docs) * CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE)", 6)} AS drift_stat,
         |  ${roundN("MAX(n_docs) * CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE)", 6)} > 20.0 AS is_drifted
         |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val ref = graft.operators.Drift.referenceHistogram(
        docs.filter(col("doc_id") % 8 <= 3), "n_chars",
        nBins = 10, lo = 0.0, hi = 1000.0)
      graft.operators.Drift.histogramShift(
          docs.filter(col("doc_id") % 8 > 3), "source", "n_chars", ref,
          nBins = 10, lo = 0.0, hi = 1000.0)
        .orderBy("source")
    },

    // LM-based quality scoring (the CCNet-style filter signal): corpus
    // bigram/unigram counts → per-doc mean Laplace-smoothed conditional
    // probability. Log-free rational form keeps the whole train+score
    // chain oracle-checkable (libm ln differs across engines; this
    // ranks documents identically for filtering).
    QueryDef.sql(
      "t_lm_score",
      raw"""WITH tok AS (
         |  SELECT doc_id,
         |    unnest(${tokensSql("text")}) AS w,
         |    generate_subscripts(${tokensSql("text")}, 1) AS pos
         |  FROM documents),
         |bi AS (SELECT * FROM (
         |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w_prev
         |  FROM tok) WHERE w_prev IS NOT NULL),
         |uni AS (SELECT w AS w_prev, COUNT(*) AS cu FROM tok GROUP BY 1),
         |big AS (SELECT w_prev, w, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
         |v AS (SELECT COUNT(DISTINCT w) AS vs FROM tok),
         |sc AS (
         |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         |    ${roundN(
             "CAST(SUM(CAST((COALESCE(cb, 0) + 1.0) / (COALESCE(cu, 0) + vs) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)",
             8)} AS lm_score
         |  FROM bi b LEFT JOIN big USING (w_prev, w)
         |            LEFT JOIN uni USING (w_prev) CROSS JOIN v
         |  GROUP BY b.doc_id)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
         |  COALESCE(lm_score, 0.0) AS lm_score
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextFunctions.bigramLmScores(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // PII redaction: find-and-mask emails / phone numbers with global
    // regexp_replace, plus per-row found-counts — the scrubbing pass a
    // training corpus runs before release. PII is synthesized from
    // customer rows (the corpus fixtures contain none), exercising hit and
    // miss branches.
    QueryDef.sql(
      "t_pii_redact", {
        val emailPat = raw"[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
        val phonePat = raw"\+1-[0-9]{10}"
        raw"""WITH notes AS (
           |  SELECT c_custkey,
           |    'Contact ' || lower(trim(c_name)) ||
           |    CASE WHEN c_custkey % 4 = 0 THEN ' <' || lower(trim(c_name)) || '.nodomain>'
           |         WHEN c_custkey % 4 = 1 THEN ' <' || lower(trim(c_name)) || '@nodot>'
           |         ELSE ' <' || lower(trim(c_name)) || '@example.com>' END ||
           |    ' or +1-' || lpad(CAST((c_custkey * 7919) % 10000000000 AS VARCHAR), 10, '0') AS note
           |  FROM customer)
           |SELECT c_custkey, note,
           |  regexp_replace(regexp_replace(note, '$emailPat', '[EMAIL]', 'g'), '$phonePat', '[PHONE]', 'g') AS redacted,
           |  CAST(len(regexp_extract_all(note, '$emailPat')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(note, '$phonePat')) AS BIGINT) AS n_phones
           |FROM notes ORDER BY c_custkey""".stripMargin
      }) { (s, d) =>
      val emailPat = raw"[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
      val phonePat = raw"\+1-[0-9]{10}"
      val base = lower(trim(col("c_name")))
      val email = when(col("c_custkey") % 4 === 0, concat(base, lit(".nodomain")))
        .when(col("c_custkey") % 4 === 1, concat(base, lit("@nodot")))
        .otherwise(concat(base, lit("@example.com")))
      val note = concat(lit("Contact "), base, lit(" <"), email, lit("> or +1-"),
        lpad((col("c_custkey") * 7919 % 10000000000L).cast("string"), 10, "0"))
      Tables.customer(s, d)
        .select(col("c_custkey"), note.as("note"))
        .select(col("c_custkey"), col("note"),
          regexp_replace(regexp_replace(col("note"), emailPat, "[EMAIL]"),
            phonePat, "[PHONE]").as("redacted"),
          size(regexp_extract_all(col("note"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("note"), lit(phonePat), lit(0)))
            .cast("long").as("n_phones"))
        .orderBy("c_custkey")
    },

    // ---- dedup ---------------------------------------------------------

    QueryDef.sql(
      "dedup_exact",
      """SELECT doc_id,
        |  sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
        |  row_number() OVER (PARTITION BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |                     ORDER BY doc_id) = 1 AS is_canonical
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "content_hash", "is_canonical")
        .orderBy("doc_id")
    },

    // Full-chain MinHash-LSH oracle (shared CTE above): the candidate
    // generation — signatures, banding, bucket cap — AND the exact-Jaccard
    // verify are all recomputed in DuckDB, so the pair set is hash-checked
    // end-to-end; DedupSpec additionally proves recall vs brute force.
    QueryDef.sql(
      "dedup_minhash_lsh",
      s"""$minhashPairsCte
         |SELECT id_a, id_b, jaccard FROM mh_pairs WHERE jaccard >= ${Dedup.JaccardThreshold}
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // LSH quality eval: precision/recall/F1 of the banded-MinHash
    // candidate set vs the UNCAPPED exact shingle-co-occurrence ground
    // truth — the (bands, rows, cap) tuning metric, run on a fixture
    // before committing a corpus-scale dedup. Shares the full-chain
    // minhash CTE with dedup_minhash_lsh so the evaluated family can't
    // drift from the shipped one; one hash-checked summary row.
    QueryDef.sql(
      "dedup_lsh_eval",
      s"""$minhashPairsCte,
         |gt AS (
         |  SELECT sa.id AS id_a, sb.id AS id_b, COUNT(*) AS inter
         |  FROM s sa JOIN s sb ON sb.shingle = sa.shingle AND sa.id < sb.id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT id_a, id_b
         |  FROM gt JOIN sizes za ON za.id = id_a JOIN sizes zb ON zb.id = id_b
         |  WHERE ${Det.roundNSql("inter * 1.0 / (za.n + zb.n - inter)", 4)} >= ${Dedup.JaccardThreshold}),
         |m AS (
         |  SELECT COUNT(*) AS n_candidates,
         |    COUNT(CASE WHEN jaccard >= ${Dedup.JaccardThreshold} THEN 1 END) AS tp
         |  FROM mh_pairs),
         |g AS (SELECT COUNT(*) AS n_truth FROM truth),
         |pr AS (
         |  SELECT n_candidates, n_truth, tp,
         |    ${Det.roundNSql("CASE WHEN n_candidates > 0 THEN tp * 1.0 / n_candidates ELSE 0.0 END", 6)} AS prec,
         |    ${Det.roundNSql("CASE WHEN n_truth > 0 THEN tp * 1.0 / n_truth ELSE 0.0 END", 6)} AS rec
         |  FROM m CROSS JOIN g)
         |SELECT n_candidates, n_truth, tp, prec, rec,
         |  ${Det.roundNSql("CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END", 6)} AS f1
         |FROM pr""".stripMargin) { (s, d) =>
      Dedup.lshEval(Tables.documents(s, d), "doc_id", "text")
    },

    // Bloom-filter membership pre-check — the ingest-time shape that
    // SKIPS the corpus join for the overwhelmingly-common novel key: the
    // corpus content-hash set is folded into a sharded (word_idx, bits)
    // relation; an arriving batch probes k bit positions per key and only
    // maybe_present keys need exact verification. The oracle rebuilds the
    // filter AND the probe bit math in SQL, and the query carries the
    // exact ground truth alongside so the no-false-negative contract is
    // itself hash-checked (every is_dup row must be maybe_present).
    QueryDef.sql(
      "dedup_bloom_probe",
      raw"""WITH hashed AS (
         |  SELECT doc_id,
         |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ch
         |  FROM documents),
         |ck AS (SELECT DISTINCT ch FROM hashed WHERE doc_id % 10 <> 7),
         |jj AS (SELECT unnest(generate_series(0, 4)) AS j),
         |bpos AS (
         |  SELECT ch,
         |    (${Det.h56Sql("ch")} + j * ${Det.h56Sql("ch", 17)}) % 65536 AS p
         |  FROM ck, jj),
         |bloom AS (
         |  SELECT p >> 5 AS word_idx,
         |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS BIGINT) AS bits
         |  FROM bpos GROUP BY 1),
         |batch AS (SELECT doc_id, ch FROM hashed WHERE doc_id % 10 = 7),
         |bk AS (SELECT DISTINCT ch FROM batch),
         |qpos AS (
         |  SELECT ch,
         |    (${Det.h56Sql("ch")} + j * ${Det.h56Sql("ch", 17)}) % 65536 AS p
         |  FROM bk, jj),
         |hit AS (
         |  SELECT ch, MIN(CASE WHEN (b.bits >> CAST(p % 32 AS INT)) & 1 = 1
         |                      THEN 1 ELSE 0 END) AS allset
         |  FROM qpos q LEFT JOIN bloom b ON b.word_idx = (q.p >> 5)
         |  GROUP BY ch)
         |SELECT t.doc_id, h.allset = 1 AS maybe_present,
         |  c.ch IS NOT NULL AS is_dup,
         |  (h.allset = 1 AND c.ch IS NULL) AS false_positive
         |FROM batch t
         |JOIN hit h USING (ch)
         |LEFT JOIN ck c ON c.ch = t.ch
         |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), sha2(Dedup.normalize(col("text")), 256).as("ch"))
      val corpus = hashed.filter(col("doc_id") % 10 =!= 7)
      val batch = hashed.filter(col("doc_id") % 10 === 7)
      val bloom = Bloom.build(corpus, "ch")
      val truthKeys = corpus.select("ch").distinct()
        .withColumn("__in", lit(true))
      Bloom.probe(batch, bloom, "ch")
        .join(truthKeys, Seq("ch"), "left")
        .select(col("doc_id"), col("maybe_present"),
          col("__in").isNotNull.as("is_dup"),
          (col("maybe_present") && col("__in").isNull).as("false_positive"))
        .orderBy("doc_id")
    },

    // Full-chain SimHash oracle: per-token h56 → 56 signed bit sums →
    // majority-vote pack → 4×14-bit band buckets (cap 256) → xor/popcount
    // Hamming verify. Every stage is plain bit math both engines compute
    // identically, so the pair set is hash-checked, not just spec-checked.
    QueryDef.sql(
      "dedup_simhash",
      raw"""WITH toks AS (
         |  SELECT doc_id AS id, unnest(${tokensSql("text")}) AS tk
         |  FROM documents),
         |th AS (SELECT id, ${Det.h56Sql("tk")} AS h FROM toks),
         |bits AS (
         |  SELECT id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM th, (SELECT unnest(generate_series(0, 55)) AS b) bb
         |  GROUP BY id, b),
         |sig AS (
         |  SELECT id, CAST(SUM(
         |    CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY id),
         |keyed AS (
         |  SELECT id, simhash, band_id,
         |    (simhash >> (14 * band_id)) & 16383 AS band_hash
         |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b),
         |sized AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bn
         |  FROM keyed),
         |ok AS (SELECT * FROM sized WHERE bn <= 256)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM ok a JOIN ok b USING (band_id, band_hash)
         |WHERE a.id < b.id AND bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Oracle mirrors the operator's inverted-index semantics exactly —
    // distinct 3-gram shingles (whole-text fallback for short docs),
    // postings pruned to [2, relative cap] (32 per 5,000 docs, in-plan;
    // the absolute cap 32 measured ZERO pairs on the sf1 lake because
    // discriminative shingles' document frequency grows with the corpus),
    // Jaccard from co-occurrence counts.
    QueryDef.sql(
      "dedup_ngram_jaccard",
      raw"""WITH ${Dedup.shingleSizesSql},
         |${Dedup.usefulPostingsSql},
         |${Dedup.pairInterSql("useful")},
         |$jaccardPairsSql""".stripMargin) { (s, d) =>
      Dedup.ngramJaccardDups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Directed containment C(A→B) = |A∩B|/|A| — the snippet-inside-page
    // duplication Jaccard can't see (a contained excerpt scores J≈|A|/|B|
    // but containment 1.0). Same capped inverted index as
    // dedup_ngram_jaccard; each undirected intersection count fans out
    // into its two directed containment rows.
    QueryDef.sql(
      "dedup_containment",
      raw"""WITH ${Dedup.shingleSizesSql},
         |${Dedup.usefulPostingsSql},
         |${Dedup.pairInterSql("useful")},
         |dirs AS (
         |  SELECT id_a AS id_sub, id_b AS id_sup,
         |    ${roundN("inter * 1.0 / sa.n", 4)} AS containment
         |  FROM inter JOIN sizes sa ON sa.id = id_a
         |  UNION ALL
         |  SELECT id_b, id_a, ${roundN("inter * 1.0 / sb.n", 4)}
         |  FROM inter JOIN sizes sb ON sb.id = id_b)
         |SELECT id_sub, id_sup, containment FROM dirs
         |WHERE containment >= 0.9
         |ORDER BY id_sub, id_sup""".stripMargin) { (s, d) =>
      Dedup.containmentDups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_sub", "id_sup")
    },

    // EXACT similarity join (prefix filtering): the oracle is the full
    // uncapped all-pairs Jaccard — no posting cap, no banding, no
    // approximation to mirror. The operator must reproduce the complete
    // ground truth through candidate pruning alone, which is exactly the
    // zero-false-negative claim the prefix filter makes.
    QueryDef.sql(
      "dedup_prefix_join",
      raw"""WITH ${Dedup.shingleSizesSql},
         |${Dedup.pairInterSql("s")},
         |$jaccardPairsSql""".stripMargin) { (s, d) =>
      Dedup.prefixJaccardJoin(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Substring-level duplication: share of each doc's 8-token spans that
    // occur more than once corpus-wide — catches the duplicated quote
    // inside an otherwise unique doc, which doc-hash and shingle-set
    // Jaccard both miss. Counts, not pairs → no quadratic anywhere.
    QueryDef.sql(
      "dedup_dup_spans",
      raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
         |sp AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+7], ' ') for i in generate_series(1, len(t)-7)]) AS span
         |  FROM toks WHERE len(t) >= 8),
         |counts AS (SELECT span, COUNT(*) AS n_occ FROM sp GROUP BY 1),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_spans,
         |    COUNT(CASE WHEN n_occ >= 2 THEN 1 END) AS n_dup_spans
         |  FROM sp JOIN counts USING (span) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans,
         |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN COALESCE(n_spans, 0) > 0
         |       THEN ${roundN("n_dup_spans * 1.0 / n_spans", 4)}
         |       ELSE 0.0 END AS dup_fraction
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // The REMOVAL on top of the detection above: drop every token
    // position covered by an 8-token span occurring ≥2 times corpus-wide,
    // reassemble the survivors in order — exact-substring dedup's "delete
    // the duplicated substring, keep the unique prose". The cleaned TEXT
    // is hash-checked. Window 8, matching the detection above: the span
    // length is the PRECISION knob of exact-substring dedup (the
    // literature's ~50-char windows make organic collisions vanishingly
    // rare) — 4-token spans over this corpus's closed ~31-word vocabulary
    // collide organically as the corpus grows (80% of distinct 4-spans
    // are duplicated on the sf1 lake — noise, not duplication — vs an
    // exactly replica-linear duplicated-8-span count), so window 8 is
    // what keeps the rewrite meaningful at scale.
    QueryDef.sql(
      "dedup_strip_spans",
      raw"""WITH ${Dedup.stripDuplicateSpansSql(8)}
         |SELECT d.doc_id,
         |  CAST(len(${tokensSql("d.text")}) AS BIGINT) AS n_tokens,
         |  CAST(len(${tokensSql("d.text")}) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.stripDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
          window = 8)
        .orderBy("doc_id")
    },

    // (A former `dedup_clusters` entry ran the same closure over MinHash
    // pairs; retired as redundant — the pair generation is DedupSpec-
    // verified, the closure is hash-verified below over the ngram pair
    // set, and the minhash→closure COMPOSITION is exercised across all
    // staging modes by StageSpec — so the no-oracle list stays honest.)

    // Transitive-closure operator over the ngram-Jaccard
    // pair set — whose generation is itself hash-verified above and is
    // hash-INDEPENDENT (no xxhash64 in the pair semantics), so the whole
    // pairs → connected-components → canonical-per-cluster chain is
    // oracle-able. DuckDB side: recursive min-label propagation — `walk`
    // accumulates every (node, label-reachable-from-node) pair (pruned to
    // labels below the node id; the component minimum always survives the
    // prune), MIN(label) per node = the component's canonical id. This is
    // the closure the rows-only minhash variant above relies on.
    QueryDef.sql(
      "dedup_clusters_ngram",
      s"""$ngramClusterCte
         |SELECT id, cluster_id, id = cluster_id AS is_canonical
         |FROM clusters ORDER BY cluster_id, id""".stripMargin) { (s, d) =>
      val pairs = Dedup.ngramJaccardDups(Tables.documents(s, d),
        "doc_id", "text")
      Dedup.connectedComponents(pairs)
        .withColumn("is_canonical", col("id") === col("cluster_id"))
        .orderBy("cluster_id", "id")
    },

    // Soft dedup — downweight, don't drop: every cluster member samples
    // at 1/|cluster| so duplicated content contributes one doc's worth of
    // training mass; unclustered docs keep weight 1. The full per-doc
    // weight table is hash-checked on top of the shared closure oracle.
    QueryDef.sql(
      "dedup_soft_weights",
      s"""$ngramClusterCte,
         |cs AS (SELECT cluster_id, COUNT(*) AS n_dups FROM clusters GROUP BY 1),
         |lab AS (
         |  SELECT c.id, c.cluster_id, s.n_dups
         |  FROM clusters c JOIN cs s USING (cluster_id))
         |SELECT d.doc_id,
         |  COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         |  COALESCE(l.n_dups, 1) AS n_dups,
         |  ${roundN("1.0 / COALESCE(l.n_dups, 1)", 6)} AS weight
         |FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardDups(docs, "doc_id", "text"))
      Dedup.duplicationWeights(clusters, docs, idCol = "doc_id")
        .orderBy("doc_id")
    },

    // Canonical-representative selection composed onto the oracled
    // ngram-Jaccard closure: within each near-dup cluster keep the member
    // from the most-preferred source (priority = the source's numeric
    // suffix — "curated dump beats crawl"), ties by id. The oracle
    // re-derives pairs → closure → priority-argmin end-to-end, so the
    // keep-rule itself is hash-checked, not just the clustering.
    QueryDef.sql(
      "dedup_canonical_source",
      raw"""$ngramClusterCte,
         |ranked AS (
         |  SELECT c.id, c.cluster_id, d.source,
         |    CAST(regexp_extract(d.source, 'src(\d+)', 1) AS BIGINT) AS prio
         |  FROM clusters c JOIN documents d ON d.doc_id = c.id),
         |sel AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY prio, id) AS rn FROM ranked),
         |canon AS (SELECT cluster_id, id AS canon_id FROM sel WHERE rn = 1)
         |SELECT r.id, r.cluster_id, r.source, c.canon_id,
         |  r.id = c.canon_id AS is_canonical
         |FROM ranked r JOIN canon c USING (cluster_id)
         |ORDER BY cluster_id, id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardDups(docs, "doc_id", "text"))
      val priorities = docs.select(col("source")).distinct()
        .withColumn("priority",
          regexp_extract(col("source"), "src(\\d+)", 1).cast("long"))
      Dedup.canonicalSelection(clusters,
          docs.withColumnsRenamed(Map("doc_id" -> "id")), priorities)
        .orderBy("cluster_id", "id")
    },

    // Leakage-safe 80/20 split: split membership decided per near-dup
    // CLUSTER, so no near-duplicate pair straddles train/eval (the
    // contamination a doc-hash split cannot prevent). The oracle
    // re-derives the whole chain — ngram pairs → recursive closure →
    // per-CLUSTER h56 bucket membership → per-split counts; DedupSpec
    // additionally proves co-location, completeness, and the singleton
    // degradation to the plain split.
    QueryDef.sql(
      "t_leakage_safe_split",
      s"""$ngramClusterCte,
         |lab AS (
         |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS g
         |  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id),
         |parts AS (
         |  SELECT doc_id,
         |    CASE WHEN ${Sampling.bucketSql("g")} < 8000 THEN 0 ELSE 1 END AS sid
         |  FROM lab)
         |SELECT CAST(sid AS BIGINT) AS split_id, COUNT(*) AS n_docs,
         |  COUNT(c.cluster_id) AS n_clustered
         |FROM parts p LEFT JOIN clusters c ON c.id = p.doc_id
         |GROUP BY 1 ORDER BY split_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.connectedComponents(
          Dedup.ngramJaccardDups(docs, "doc_id", "text"))
        .staged
      Dedup.leakageSafeSplit(clusters, docs, "doc_id", Seq(0.8, 0.2))
        .zipWithIndex.map { case (df, i) =>
          df.join(clusters.withColumnsRenamed(Map("id" -> "doc_id")),
              Seq("doc_id"), "left")
            .agg(count(lit(1)).as("n_docs"),
              count(col("cluster_id")).as("n_clustered"))
            .select(lit(i).cast("long").as("split_id"), col("n_docs"),
              col("n_clustered"))
        }.reduce(_ unionByName _).orderBy("split_id")
    },

    // Embedding near-dup via sign-LSH + cosine verify. The synthetic
    // embeddings have no true near-dups (max cos ≈ 0.51), so this reports
    // the top-20 most-similar LSH-candidate pairs instead of a threshold
    // cut — always non-empty, same plan shape. Band geometry is
    // CORPUS-RELATIVE (Similarity.lshBandBitsSql — 8-bit prefixes at the
    // 2,048-vector anchor, +1 bit per corpus doubling, cap 22): a fixed
    // width is quadratic in candidates until buckets trip the maxBucket
    // cap, then silently lossy — measured 10.2x wall at sf1 and
    // cap-dropped buckets at sf10 before this ladder. The oracle
    // re-derives the whole chain: md5-bit Rademacher signs, DECIMAL-exact
    // projections (sign can't flip between engines), the SAME ladder text
    // deciding the prefix width, band buckets + cap, dim-aligned dot/norm
    // cosine verify.
    {
    // ONE definition of the sign-LSH geometry serves engine and oracle:
    // Similarity's constants are interpolated into the oracle SQL below
    // and are embeddingNearDups' defaults, so the two cannot diverge.
    import Similarity.{LshBands, LshBitsPerBand, LshMaxBucket}
    val lshNBits = LshBands * LshBitsPerBand
    QueryDef.sql(
      "dedup_embedding_cosine",
      s"""WITH dims AS (
         |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |dh AS (
         |  SELECT DISTINCT dim, ${Det.h56Sql("CAST(dim AS VARCHAR)")} AS dhash,
         |    ${Det.h56Sql("CAST(dim AS VARCHAR)", 17)} AS dhash2
         |  FROM dims),
         |nr AS (
         |  SELECT LEAST($LshBitsPerBand, ${Similarity.lshBandBitsSql(
              "SELECT COUNT(*) FROM embeddings")}) AS r),
         |proj AS (
         |  SELECT id, p,
         |    SUM(CASE WHEN (CASE WHEN p < 56
         |                        THEN (dhash >> LEAST(p, 55)) & 1
         |                        ELSE (dhash2 >> GREATEST(p - 56, 0)) & 1
         |                   END) = 1
         |             THEN CAST(x AS DECIMAL(18,9))
         |             ELSE -CAST(x AS DECIMAL(18,9)) END) AS s
         |  FROM dims JOIN dh USING (dim),
         |       (SELECT unnest(generate_series(0, ${lshNBits - 1})) AS p) pp
         |  GROUP BY id, p),
         |sig AS (
         |  SELECT id, p // $LshBitsPerBand AS band_id,
         |    substring(
         |      string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p),
         |      1, (SELECT r FROM nr)) AS band_hash
         |  FROM proj GROUP BY id, p // $LshBitsPerBand),
         |bsized AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bn
         |  FROM sig),
         |okb AS (SELECT id, band_id, band_hash FROM bsized WHERE bn <= $LshMaxBucket),
         |cands AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM okb a JOIN okb b USING (band_id, band_hash) WHERE a.id < b.id),
         |norms AS (SELECT id, sqrt(SUM(x * x)) AS nrm FROM dims GROUP BY id),
         |dots AS (
         |  SELECT c.id_a, c.id_b, SUM(da.x * db.x) AS dot
         |  FROM cands c
         |  JOIN dims da ON da.id = c.id_a
         |  JOIN dims db ON db.id = c.id_b AND db.dim = da.dim
         |  GROUP BY 1, 2),
         |cs AS (
         |  SELECT id_a, id_b,
         |    ${roundN("CASE WHEN na.nrm * nb.nrm > 0 THEN dot / (na.nrm * nb.nrm) ELSE 0.0 END", 6)} AS cosine
         |  FROM dots JOIN norms na ON na.id = id_a JOIN norms nb ON nb.id = id_b)
         |SELECT id_a, id_b, cosine FROM cs WHERE cosine >= -1.0
         |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin) { (s, d) =>
      Similarity.embeddingNearDups(Tables.embeddings(s, d), threshold = -1.0)
        .orderBy(desc("cosine"), col("id_a"), col("id_b"))
        .limit(20)
    }
    },

    // ---- similarity search --------------------------------------------

    QueryDef.sql(
      "sim_bruteforce_topk",
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id,
         |  ${roundN(cosSql("embedding::DOUBLE[]", "qe"), 6)} AS cosine
         |FROM embeddings, q
         |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, q, 11)
    },

    // Maximum-inner-product retrieval: rank by RAW dot product (no norm)
    // — the scoring for inner-product-trained embeddings, where
    // magnitude carries relevance and cosine would erase it. Same
    // broadcast-query scan as sim_bruteforce_topk; list_dot_product is
    // the whole oracle.
    QueryDef.sql(
      "sim_mips_topk",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
         |SELECT vec_id,
         |  ${roundN("list_dot_product(emb, qe)", 6)} AS score
         |FROM e, q
         |ORDER BY score DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      Similarity.mipsTopK(emb, q, 11)
    },

    // Oracle re-derives the whole IVF computation in SQL: argmax-centroid
    // assignment (sim DESC, cell ASC tiebreak = the operator's max_by),
    // nProbe=4 cell restriction, cosine top-11.
    QueryDef.sql(
      "sim_ivf_topk", {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
           |${Fixtures.codebookCte},
           |probes AS (
           |  SELECT cell FROM cent, q
           |  ORDER BY (${cosSql("ce", "qe")}) DESC, cell LIMIT 4),
           |${Fixtures.assignedCtes}
           |SELECT a.vec_id, a.cell, ${roundN(cosSql("a.emb", "qe"), 6)} AS cosine
           |FROM assigned a JOIN probes USING (cell) CROSS JOIN q
           |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      Similarity.ivfTopK(emb, centroids, q, k = 11, nProbe = 4)
    },

    // Batched IVF: 8 query vectors answered in one pass — per-query probe
    // selection windowed over the broadcast centroid×query grid, members
    // fanned only to the queries probing their cell, per-query top-5 via
    // a window partitioned by query_id. The oracle re-derives the whole
    // thing (assignment argmax, per-query probe rank, rounded-cosine
    // rank), so the batch fan-out shape is hash-verified, not just
    // recall-checked.
    QueryDef.sql(
      "sim_ivf_batch",
      s"""WITH ${Fixtures.probedBatchCtes},
         |${Fixtures.probedHitsCte}
         |${Fixtures.topFiveSql("hits")}""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      val qs = Fixtures.queryBatch(emb)
      Similarity.ivfTopKBatch(emb, centroids, qs, k = 5, nProbe = 4)
        .orderBy(col("query_id"), desc("cosine"), col("vec_id"))
    },

    // One Lloyd iteration refreshing the IVF codebook: assignment argmax +
    // decimal-summed dimension means. Long (cell, dim) output so the
    // oracle compares scalars, not arrays.
    QueryDef.sql(
      "sim_kmeans_step",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |${Fixtures.codebookCte},
         |${Fixtures.assignedCtes},
         |dims AS (
         |  SELECT cell, generate_subscripts(emb, 1) - 1 AS dim, unnest(emb) AS x
         |  FROM assigned),
         |means AS (
         |  SELECT cell, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m,
         |    COUNT(*) AS n
         |  FROM dims GROUP BY 1, 2),
         |cdims AS (
         |  SELECT cell, generate_subscripts(ce, 1) - 1 AS dim, unnest(ce) AS pv
         |  FROM cent)
         |SELECT c.cell, CAST(c.dim AS BIGINT) AS dim,
         |  ${roundN("COALESCE(m, pv)", 6)} AS c_val,
         |  COALESCE(n, 0) AS n_members
         |FROM cdims c LEFT JOIN means m ON m.cell = c.cell AND m.dim = c.dim
         |ORDER BY c.cell, c.dim""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      Similarity.kmeansStep(emb, centroids)
        .select(col("cell"), col("n_members"),
          posexplode(col("c_emb")).as(Seq("dim", "c_val")))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          Det.roundN(col("c_val"), 6).as("c_val"), col("n_members"))
        .orderBy("cell", "dim")
    },

    // Corpus-wide kNN graph (3 neighbors, 2-probe IVF): the all-pairs
    // self-join reshaped as a cell-keyed equi-join — member side carries
    // each vector once, query side nProbe times; nothing corpus-sized is
    // broadcast. The cell count is CORPUS-RELATIVE (√n rule,
    // [[graft.operators.Similarity.ivfCellsSql]]): a fixed 16 cells
    // means per-cell population — and so in-cell candidate pairs — grows
    // with the corpus (23× wall for 10× data on the sf1 sweep); 16
    // cells up to the 2,500-vector anchor, first doubling at
    // n ≥ 10,000 and every 4× after, keeps candidate volume
    // n·nProbe·√n. Oracle re-derives the cell-count ladder, assignment,
    // probe choice, in-cell ranking on the pinned cosine. The graph
    // SemDeDup clustering and kNN label propagation consume.
    QueryDef.sql(
      "sim_knn_graph",
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |${Similarity.seedCentroidsCtes},
         |${Similarity.knnProbeCtes(2)},
         |nb AS (
         |  SELECT src, dst, cosine FROM (
         |    SELECT p.src, a.vec_id AS dst,
         |      ${roundN(cosSql("p.qe", "a.emb"), 6)} AS cosine,
         |      row_number() OVER (PARTITION BY p.src
         |        ORDER BY ${roundN(cosSql("p.qe", "a.emb"), 6)} DESC,
         |          a.vec_id) AS rk
         |    FROM pr p JOIN asg a USING (cell)
         |    WHERE a.vec_id <> p.src)
         |  WHERE rk <= 3)
         |SELECT src, dst, cosine FROM nb
         |ORDER BY src, dst""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.knnGraph(emb, Similarity.seedCentroids(emb),
          k = 3, nProbe = 2)
        .orderBy("src", "dst")
    },

    // Full Lloyd TRAINING loop (3 rounds, k=16) — the codebook-build
    // iteration behind every IVF/PQ query, verified as a LOOP: per-round
    // decimal means pinned to 6 decimals feed the next round's
    // assignment, so the whole trajectory is engine-identical and the
    // oracle replays all three rounds as unrolled CTEs (the PageRank
    // discipline applied to centroid training). Empty cells carry their
    // previous pinned position forward on both sides.
    QueryDef.sql(
      "sim_kmeans_train", {
        def round(r: Int, prev: String) =
          s"""sc$r AS (
             |  SELECT e.vec_id, e.emb, c.cell,
             |    ${cosSql("e.emb", "(c.ce::DOUBLE[])")} AS sim
             |  FROM e CROSS JOIN $prev c),
             |asg$r AS (
             |  SELECT vec_id, emb, cell FROM (
             |    SELECT *, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY sim DESC, cell ASC) AS rn
             |    FROM sc$r) WHERE rn = 1),
             |mn$r AS (
             |  SELECT cell, dim,
             |    ${roundN(
                  "CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)",
                  Similarity.KmeansScale)} AS mv,
             |    COUNT(*) AS n
             |  FROM (
             |    SELECT cell, generate_subscripts(emb, 1) - 1 AS dim,
             |      unnest(emb) AS x
             |    FROM asg$r)
             |  GROUP BY 1, 2),
             |cent$r AS (
             |  SELECT p.cell,
             |    list(CAST(COALESCE(m.mv, ${roundN("p.pv", Similarity.KmeansScale)}) AS REAL)
             |      ORDER BY p.dim) AS ce,
             |    COALESCE(MAX(m.n), 0) AS n
             |  FROM (
             |    SELECT cell, generate_subscripts(ce, 1) - 1 AS dim,
             |      unnest(ce) AS pv
             |    FROM $prev) p
             |  LEFT JOIN mn$r m ON m.cell = p.cell AND m.dim = p.dim
             |  GROUP BY p.cell)""".stripMargin
        s"""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |cent0 AS (
           |  SELECT vec_id AS cell, emb AS ce, 0 AS n FROM e
           |  WHERE vec_id < ${Fixtures.CodebookSize}),
           |${round(1, "cent0")},
           |${round(2, "cent1")},
           |${round(3, "cent2")}
           |SELECT cell,
           |  CAST(generate_subscripts(ce, 1) - 1 AS BIGINT) AS dim,
           |  unnest(ce) AS c_val, n AS n_members
           |FROM cent3 ORDER BY cell, dim""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val init = Fixtures.codebook(emb)
      Similarity.kmeansIterate(emb, init, rounds = 3)
        .select(col("cell"), col("n_members"),
          posexplode(col("c_emb")).as(Seq("dim", "c_val")))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          col("c_val"), col("n_members"))
        .orderBy("cell", "dim")
    },

    // Product-quantized ANN: per-subspace codebooks (8 subspaces × 8 dims,
    // 16 codes — 64 floats compressed to 8 bytes per vector), ADC scan
    // summing m LUT entries per vector, exact rescore of the 220-deep
    // shortlist. PqSpec proves recall ≥ 0.9 vs the brute-force scan; the
    // oracle recomposes the full train→encode→ADC→rescore chain over the
    // shared pqTrainCte (every step is deterministic decimal/double math).
    QueryDef.sql(
      "sim_pq_topk",
      s"""WITH $pqTrainCte,
         |menc AS (
         |  SELECT id, sub, code FROM (
         |    SELECT s.id, s.sub, c.code, row_number() OVER (
         |      PARTITION BY s.id, s.sub
         |      ORDER BY ${pqD2("s.v", "c.cv")}, c.code) AS rn
         |    FROM sv s JOIN cb2 c ON s.sub = c.sub)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT n.id, CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adc_score
         |  FROM menc n JOIN lut l ON n.sub = l.sub AND n.code = l.code
         |  GROUP BY n.id ORDER BY adc_score DESC, n.id LIMIT 220)
         |SELECT e.vec_id, ${roundN(cosSql("e.emb", "qe"), 6)} AS cosine,
         |  ${roundN("a.adc_score", 6)} AS adc_score
         |FROM e JOIN adc a ON e.vec_id = a.id CROSS JOIN q
         |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).staged
      val cb = graft.operators.Pq.train(emb, m = 8, dims = 64, k = 16,
        iters = 2)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      // rescoreFactor 20: the synthetic embeddings are near-uniform random
      // (no cluster structure — the ADC worst case), so the shortlist is
      // deepened; it remains O(kTop), independent of corpus size
      graft.operators.Pq.adcTopK(emb, cb, q, kTop = 11, m = 8, dims = 64,
        rescoreFactor = 20)
    },

    // Int8-quantized cosine top-k: per-vector symmetric quantization
    // (scale = max|x|/127, floor(x/scale + 0.5) codes), search over the
    // DEQUANTIZED column against the full-precision query — the
    // codebook-free 4×-compression path. The oracle recomputes codes and
    // reconstruction per element, so quantize → dequantize → rank is
    // hash-verified end-to-end (float-rounded reconstruction included).
    QueryDef.sql(
      "sim_int8_topk",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |sc AS (
         |  SELECT vec_id, emb,
         |    list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
         |  FROM e),
         |dq AS (
         |  SELECT vec_id, scale,
         |    CASE WHEN scale > 0 THEN list_transform(emb, x ->
         |      CAST(CAST(least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale AS REAL) AS DOUBLE))
         |    ELSE list_transform(emb, x -> 0.0) END AS demb
         |  FROM sc)
         |SELECT vec_id, ${roundN(cosSql("demb", "qe"), 6)} AS cosine,
         |  ${roundN("scale", 9)} AS q_scale
         |FROM dq CROSS JOIN q
         |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      graft.expressions.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val quantized = graft.operators.Quantize.int8(emb, "embedding")
        .withColumn("demb", graft.operators.Quantize.dequantize(
          col("q_emb8"), col("q_scale")))
      quantized.crossJoin(broadcast(q))
        .withColumn("cosine", Det.roundN(
          graft.expressions.GraftFunctions.cosine_sim(col("demb"), col("q_emb")), 6))
        .select(col("vec_id"), col("cosine"),
          Det.roundN(col("q_scale"), 9).as("q_scale"))
        .orderBy(desc("cosine"), col("vec_id"))
        .limit(11)
    },

    // Binary (sign-bit) quantization + Hamming-candidate search — the
    // bottom rung of the float → int8 → 1-bit ladder: 32 sign bits per
    // BIGINT word in a (vec_id, word_idx, word) relation, popcount(XOR)
    // ranking over the tiny signature store, exact-cosine rerank over the
    // 50-candidate pool only. Word values are sums of distinct powers of
    // two (exact integers), so the whole quantize → Hamming-rank → rerank
    // path is hash-verified. 32-bit words, not 64: bit 63 overflows
    // DuckDB's checked `<<`, and the signature relation's contract is
    // that any engine can recompute it.
    QueryDef.sql(
      "sim_binary_hamming",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         |dims AS (
         |  SELECT vec_id, generate_subscripts(emb, 1) - 1 AS dim,
         |         unnest(emb) AS x
         |  FROM e),
         |words AS (
         |  SELECT vec_id, CAST(dim // 32 AS INT) AS word_idx,
         |    CAST(SUM(CASE WHEN x > 0 THEN (1::BIGINT << CAST(dim % 32 AS INT))
         |             ELSE 0::BIGINT END) AS BIGINT) AS word
         |  FROM dims GROUP BY 1, 2),
         |qw AS (SELECT word_idx, word AS q_word FROM words WHERE vec_id = 0),
         |ham AS (
         |  SELECT w.vec_id,
         |    CAST(SUM(bit_count(xor(w.word, qw.q_word))) AS BIGINT) AS hamming
         |  FROM words w JOIN qw USING (word_idx) GROUP BY 1),
         |cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 50)
         |SELECT c.vec_id, c.hamming, ${roundN(cosSql("e.emb", "qe"), 6)} AS cosine
         |FROM cand c JOIN e USING (vec_id) CROSS JOIN q
         |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      graft.operators.Quantize.hammingTopK(emb, q, k = 11, pool = 50)
    },

    // MMR diverse top-k: greedy maximal-marginal-relevance selection of 8
    // diverse results from the 30-candidate retrieval pool (λ=0.7). Sims
    // pinned to 6 decimals before every comparison, id tiebreaks — so the
    // oracle can replay the EXACT selection trajectory as 8 unrolled CTE
    // steps (NOT-IN the previous selection, correlated MAX over its
    // pairwise sims). The 1−λ literal is interpolated from the same Scala
    // double (1.0-0.7 != 0.3 in IEEE), keeping score arithmetic
    // bit-identical across engines.
    QueryDef.sql(
      "sim_mmr_diverse", {
        val lam = 0.7
        val steps = (2 to 8).map { n =>
          s"""s$n AS (
             |  SELECT p.vec_id, $n AS sel_rank,
             |    $lam * p.rel - ${1.0 - lam} * COALESCE((
             |      SELECT MAX(sim) FROM ps WHERE ps.ia = p.vec_id
             |        AND ps.ib IN (SELECT vec_id FROM sel${n - 1})), 0.0) AS mmr
             |  FROM pool p
             |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
             |  ORDER BY mmr DESC, p.vec_id LIMIT 1),
             |sel$n AS MATERIALIZED (
             |  SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
           |pool AS MATERIALIZED (
           |  SELECT vec_id, ${roundN(cosSql("emb", "qe"), 6)} AS rel, emb
           |  FROM e CROSS JOIN q ORDER BY rel DESC, vec_id LIMIT 30),
           |ps AS MATERIALIZED (
           |  SELECT a.vec_id AS ia, b.vec_id AS ib,
           |    ${roundN(cosSql("a.emb", "b.emb"), 6)} AS sim
           |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
           |sel1 AS (
           |  SELECT vec_id, 1 AS sel_rank, $lam * rel AS mmr
           |  FROM pool ORDER BY mmr DESC, vec_id LIMIT 1),
           |$steps
           |SELECT vec_id, sel_rank, ${roundN("mmr", 6)} AS mmr
           |FROM sel8 ORDER BY sel_rank""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      Similarity.mmrDiverseTopK(emb, q, k = 8, poolSize = 30, lambda = 0.7)
        .withColumnRenamed("rank", "sel_rank")
    },

    // Simplified (centroid-based) silhouette over the 16-cell IVF
    // partition — clustering-quality QC: a = distance to own centroid,
    // b = min distance to any other, s = (b−a)/max(a,b), mean per cell.
    // O(N·cells), never O(N²); distances pinned to 6 decimals, means
    // decimal-summed, so the oracle replays it exactly.
    QueryDef.sql(
      "sim_silhouette",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |${Fixtures.codebookCte},
         |d AS (
         |  SELECT e.vec_id, c.cell,
         |    ${roundN(s"1.0 - (${cosSql("e.emb", "c.ce")})", 6)} AS dd
         |  FROM e CROSS JOIN cent c),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cell) AS rn
         |  FROM d),
         |pv AS (
         |  SELECT vec_id,
         |    MIN(CASE WHEN rn = 1 THEN dd END) AS a,
         |    MIN(CASE WHEN rn = 1 THEN cell END) AS cell,
         |    MIN(CASE WHEN rn > 1 THEN dd END) AS b
         |  FROM r GROUP BY 1),
         |s AS (
         |  SELECT cell,
         |    ${roundN("CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b) ELSE 0.0 END", 6)} AS sil
         |  FROM pv)
         |SELECT cell, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(sil AS DECIMAL(18,9))) AS DOUBLE) / COUNT(sil) AS mean_silhouette
         |FROM s GROUP BY cell ORDER BY cell""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      Similarity.silhouetteByCell(emb, centroids)
    },

    // Grid-density (DBSCAN-style) clustering on the first two embedding
    // coordinates: eps-cells, dense = ≥5 points, clusters = connected
    // dense cells under 8-neighbor adjacency (9-offset constant-fanout
    // equi-join — never a range join), components via the convergent
    // pointer-doubling CC. Sparse-cell points are noise (−1). The oracle
    // recomputes the components as a recursive closure, so the full
    // per-point labeling — noise included — is hash-checked.
    QueryDef.sql(
      "sim_density_clusters",
      s"""WITH RECURSIVE pts AS (
         |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
         |         CAST(embedding[2] AS DOUBLE) AS y
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id, CAST(FLOOR(x / 0.1) AS INT) AS cx,
         |         CAST(FLOOR(y / 0.1) AS INT) AS cy
         |  FROM pts),
         |dense AS (
         |  SELECT cx, cy,
         |    CAST(cx + 512 AS BIGINT) * 1048576 + CAST(cy + 512 AS BIGINT) AS cid
         |  FROM (SELECT cx, cy, COUNT(*) AS n FROM cells GROUP BY 1, 2)
         |  WHERE n >= 5),
         |adjd AS (
         |  SELECT a.cid AS id_a, b.cid AS id_b
         |  FROM dense a,
         |    (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
         |  JOIN dense b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
         |  WHERE a.cid < b.cid),
         |sym AS (
         |  SELECT id_a, id_b FROM adjd
         |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM adjd),
         |reach(cell, lab) AS (
         |  SELECT cid, cid FROM dense
         |  UNION
         |  SELECT s.id_b, r.lab FROM sym s JOIN reach r ON r.cell = s.id_a),
         |comp AS (SELECT cell, MIN(lab) AS c FROM reach GROUP BY 1),
         |percell AS (
         |  SELECT d.cx, d.cy, c.c AS cluster
         |  FROM dense d JOIN comp c ON c.cell = d.cid)
         |SELECT cells.vec_id, COALESCE(pc.cluster, -1) AS cluster
         |FROM cells LEFT JOIN percell pc USING (cx, cy)
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val pts = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").getItem(0).as("x"),
          col("embedding").getItem(1).as("y"))
      graft.operators.Density.gridCluster(pts, "vec_id", "x", "y",
          eps = 0.1, minPts = 5L)
        .orderBy("vec_id")
    },

    // Per-label embedding centroids — the pooling aggregate behind class
    // prototypes, cluster summaries, and mean-pooled doc embeddings:
    // posexplode to (label, dim, x), decimal-summed per-dim means, long
    // output so the oracle compares scalars. Shuffle O(rows × dims),
    // map-side combinable.
    QueryDef.sql(
      "sim_label_centroids",
      s"""WITH e AS (
         |  SELECT label, generate_subscripts(embedding::DOUBLE[], 1) - 1 AS dim,
         |         unnest(embedding::DOUBLE[]) AS x
         |  FROM embeddings)
         |SELECT label, CAST(dim AS BIGINT) AS dim,
         |  ${Det.roundNSql(
           "CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)", 6)} AS c_val,
         |  COUNT(*) AS n_members
         |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(Det.roundN(
            sum(col("x").cast("double")
              .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
              .cast("double") / count(lit(1)), 6).as("c_val"),
          count(lit(1)).as("n_members"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("c_val"), col("n_members"))
        .orderBy("label", "dim")
    },

    // SemDeDup-style semantic dedup: cluster by nearest centroid, prune
    // near-identical vectors within clusters only (keep-lowest-id). The
    // oracle re-derives assignment, the cluster-size guard, and the pair
    // prune in SQL — the full 500-row annotation is hash-checked.
    QueryDef.sql(
      "dedup_semantic", {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |${Fixtures.codebookCte},
           |${Fixtures.assignedCtes},
           |sized AS (
           |  SELECT *, COUNT(*) OVER (PARTITION BY cell) AS cn FROM assigned),
           |p AS (SELECT * FROM sized WHERE cn <= 512),
           |dropped AS (
           |  SELECT DISTINCT b.vec_id AS dup_id
           |  FROM p a JOIN p b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${Det.roundNSql(cosSql("a.emb", "b.emb"), 6)} >= 0.3)
           |SELECT s.vec_id, s.cell,
           |  CAST(CASE WHEN d.dup_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
           |FROM sized s LEFT JOIN dropped d ON s.vec_id = d.dup_id
           |ORDER BY s.vec_id""".stripMargin
      }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = Fixtures.codebook(emb)
      Similarity.semanticDedup(emb, centroids, threshold = 0.3)
        .orderBy("vec_id")
    },

    // The full IVF-PQ composition — coarse cells prune the scan to
    // nProbe/nCells of the corpus, PQ codes make the touched part bytes
    // instead of floats, exact rescore bounds the approximation: the
    // standard 100 TB ANN stack end-to-end. Assignment is passed in
    // pre-computed (the one-time index build), mirroring sim_ivf_topk.
    //
    // The oracle recomposes the ENTIRE chain in SQL: seed codebooks from
    // the 16 lowest-id vectors, two unrolled Lloyd refinements (L2-argmin
    // encode with lowest-code tiebreak, decimal-summed dimension means,
    // REAL-rounded centroids — the Spark side stores float arrays —
    // dead-code retention via LEFT JOIN/COALESCE), coarse-probe selection,
    // ADC (query LUT per (sub, code), decimal-summed per-id score, 220-deep
    // shortlist), exact-cosine rescore. Every step is deterministic double/
    // decimal math, so it hash-matches bit-for-bit.
    QueryDef.sql(
      "sim_ivfpq_topk",
      s"""WITH $pqTrainCte,
         |${Fixtures.codebookCte},
         |probes AS (
         |  SELECT cell FROM cent, q
         |  ORDER BY (${cosSql("ce", "qe")}) DESC, cell LIMIT 8),
         |${Fixtures.assignedCtes},
         |members AS (
         |  SELECT a.vec_id AS id, a.emb FROM assigned a JOIN probes USING (cell)),
         |menc AS (
         |  SELECT id, sub, code FROM (
         |    SELECT s.id, s.sub, c.code, row_number() OVER (
         |      PARTITION BY s.id, s.sub
         |      ORDER BY ${pqD2("s.v", "c.cv")}, c.code) AS rn
         |    FROM sv s JOIN members mm ON s.id = mm.id
         |    JOIN cb2 c ON s.sub = c.sub)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT n.id, CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adc_score
         |  FROM menc n JOIN lut l ON n.sub = l.sub AND n.code = l.code
         |  GROUP BY n.id ORDER BY adc_score DESC, n.id LIMIT 220)
         |SELECT m.id AS vec_id, ${roundN(cosSql("m.emb", "qe"), 6)} AS cosine,
         |  ${roundN("a.adc_score", 6)} AS adc_score
         |FROM members m JOIN adc a ON m.id = a.id CROSS JOIN q
         |ORDER BY cosine DESC, vec_id LIMIT 11""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).staged
      val centroids = Fixtures.codebook(emb)
      val assigned = Similarity.assignCells(emb, centroids)
      val cb = graft.operators.Pq.train(emb, m = 8, dims = 64, k = 16,
        iters = 2)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      graft.operators.Pq.ivfPqTopK(emb, centroids, cb, q, kTop = 11,
        nProbe = 8, m = 8, dims = 64, rescoreFactor = 20,
        preAssigned = Some(assigned))
    },

    // The composed corpus-curation pipeline a training-data run ships:
    // quality filter → language filter → exact dedup (canonical per
    // content hash among SURVIVORS) → deterministic 80% sample. Every
    // stage reuses an operator verified above; the oracle re-derives the
    // whole chain, so composition itself is hash-checked end-to-end.
    QueryDef.sql(
      "t_corpus_pipeline", {
        raw"""WITH f AS (
           |  SELECT doc_id, text,
           |    len(${tokensSql("text")}) AS words,
           |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
           |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
           |    ${hitsSql("text", TextFunctions.stopwordsEn)} AS stop_hits,
           |    ${langHitsSql("text")}
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, text, words, stop_hits,
           |    CASE WHEN words > 0 THEN ${roundN("chars * 1.0 / words", 2)} ELSE 0.0 END AS awl,
           |    punct * 1.0 / GREATEST(length(text), 1) AS punct_ratio,
           |    ${TextFunctions.langIdSql} AS detected_lang
           |  FROM f),
           |scored AS (
           |  SELECT doc_id, text, detected_lang,
           |    ${TextFunctions.qualityScoreSql("words", "punct_ratio", "awl", "stop_hits")} AS quality_score
           |  FROM g),
           |kept AS (
           |  SELECT * FROM scored WHERE quality_score >= 90 AND detected_lang = 'en'),
           |deduped AS (
           |  SELECT doc_id, detected_lang, quality_score,
           |    row_number() OVER (
           |      PARTITION BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
           |      ORDER BY doc_id) = 1 AS is_canonical
           |  FROM kept)
           |SELECT doc_id, detected_lang, quality_score
           |FROM deduped WHERE is_canonical AND doc_id % 10 < 8
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val feats = TextFunctions.tokenFeatures(docs, "doc_id", "text")
      val wc = col("word_count_t")
      val awl = when(wc > 0,
        Det.roundN(col("chars_nospace").cast("double") / wc, 2)).otherwise(0.0)
      val punctRatio = TextFunctions.punctCount(col("text")).cast("double") /
        greatest(length(col("text")).cast("double"), lit(1.0))
      val scored = docs.join(feats, "doc_id")
        .select(col("doc_id"), col("text"),
          TextFunctions.langId(TextFunctions.featureHits).as("detected_lang"),
          TextFunctions.qualityScore(wc, punctRatio, awl, col("stop_hits"))
            .as("quality_score"))
      val kept = scored
        .filter(col("quality_score") >= 90 && col("detected_lang") === "en")
      Dedup.exact(kept, "doc_id", "text")
        .filter(col("is_canonical") && col("doc_id") % 10 < 8)
        .select("doc_id", "detected_lang", "quality_score")
        .orderBy("doc_id")
    },

    // ---- deterministic sampling / splits -------------------------------

    // Hash-bucket sample: membership is a pure function of the key, so the
    // same docs are kept on any cluster size / retry (rand() is neither).
    // The bucket hash is the cross-engine md5-derived h56, so the EXACT
    // membership set is hash-checked against DuckDB — the oracle
    // recomputes which docs are in the sample, not just how many.
    QueryDef.sql(
      "t_hash_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.bucketSql("doc_id")} < 1000
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.sample(Tables.documents(s, d), "doc_id", fraction = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // 80/10/10 train/val/test split summary: disjoint contiguous bucket
    // ranges over the key hash, oracle-recomputed per doc. Single-scan
    // form (Sampling.partIndex), not one filtered scan per part — the
    // k-scans shape the plan rescan check flagged; split() itself
    // remains the right API when each part is materialized separately.
    QueryDef.sql(
      "t_train_test_split",
      s"""WITH b AS (SELECT ${Sampling.bucketSql("doc_id")} AS bk FROM documents)
         |SELECT CASE WHEN bk < 8000 THEN 'train'
         |            WHEN bk < 9000 THEN 'val' ELSE 'test' END AS part,
         |  COUNT(*) AS n_docs
         |FROM b GROUP BY 1 ORDER BY part""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(element_at(array(lit("train"), lit("val"), lit("test")),
          Sampling.partIndex(col("doc_id"), Seq(0.8, 0.1, 0.1)) + 1)
          .as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_docs"))
        .orderBy("part")
    },

    // ---- multimodal ----------------------------------------------------

    // Feature extraction through the mapPartitions codec seam. The stub
    // decode is a REAL feature (L1-normalized byte histogram — a standard
    // content fingerprint), so the whole row — metadata + first histogram
    // bin — is oracle-checked: DuckDB recounts high-nibble-0 bytes via the
    // hex expansion of the payload. A neural codec swapped into the seam
    // would drop this entry back to rows-only; the plumbing (schema,
    // batching, partitioning) is what the operator actually claims.
    QueryDef.sql(
      "mm_features",
      s"""WITH m AS (
         |  SELECT doc_id AS id, encode(text) AS media,
         |    (['png','jpeg','webp'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
         |    CAST(${Det.h56Sql("'w:' || CAST(doc_id AS VARCHAR)")} % 1920 + 1 AS INT) AS width,
         |    CAST(${Det.h56Sql("'h:' || CAST(doc_id AS VARCHAR)")} % 1080 + 1 AS INT) AS height
         |  FROM documents),
         |f AS (
         |  SELECT id, format, CAST(octet_length(media) AS INT) AS byte_len,
         |    width, height,
         |    len([i for i in generate_series(1, GREATEST(len(hex(media)), 1), 2)
         |         if hex(media)[i:i] = '0']) AS n0
         |  FROM m)
         |SELECT id, format, byte_len, width, height,
         |  ${roundN("n0 * 1.0 / GREATEST(byte_len, 1)", 6)} AS hist_bin_0
         |FROM f ORDER BY id""".stripMargin) { (s, d) =>
      val media = Multimodal.toMediaTable(Tables.documents(s, d), "doc_id", "text")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("id"), col("format"), col("byte_len"), col("width"),
          col("height"),
          Det.roundN(element_at(col("features"), 1), 6).as("hist_bin_0"))
        .orderBy("id")
    },

    // Aspect-preserving resize planning: fit every media row into
    // 512×512 (never upscale), predict the resized payload as the
    // pixel-proportional byte share — all integer DIV arithmetic on
    // positive operands, so the whole plan hash-checks. The payload
    // transformation runs behind the mapPartitions codec seam
    // (resizeStub; MultimodalSpec pins payload length == plan).
    QueryDef.sql(
      "mm_resize_plan",
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
         |    CAST(${Det.h56Sql("'w:' || CAST(doc_id AS VARCHAR)")} % 1920 + 1 AS INT) AS width,
         |    CAST(${Det.h56Sql("'h:' || CAST(doc_id AS VARCHAR)")} % 1080 + 1 AS INT) AS height
         |  FROM documents),
         |p AS (SELECT *, GREATEST(width, height) AS md FROM m),
         |r AS (
         |  SELECT id, orig_bytes, width, height,
         |    CASE WHEN md <= 512 THEN width
         |      ELSE GREATEST(1, CAST(width * 512 // md AS INT)) END AS new_width,
         |    CASE WHEN md <= 512 THEN height
         |      ELSE GREATEST(1, CAST(height * 512 // md AS INT)) END AS new_height
         |  FROM p)
         |SELECT id, orig_bytes, width, height, new_width, new_height,
         |  CAST(CASE WHEN orig_bytes = 0 THEN 0
         |    ELSE (orig_bytes * new_width * new_height - 1)
         |         // (CAST(width AS BIGINT) * height) + 1 END AS BIGINT)
         |    AS resized_bytes
         |FROM r ORDER BY id""".stripMargin) { (s, d) =>
      val media = Multimodal.toMediaTable(Tables.documents(s, d),
        "doc_id", "text")
      Multimodal.resizePlan(media, maxDim = 512)
        .select("id", "orig_bytes", "width", "height", "new_width",
          "new_height", "resized_bytes")
        .orderBy("id")
    },

    // Frame sampling is pure offset arithmetic + byte slicing — no decode
    // involved — so frame positions, lengths, and content hashes are all
    // oracle-checked. The oracle slices the VARCHAR because DuckDB v1.0
    // can't slice BLOBs; the corpus is ASCII (bytes == chars) and the
    // operator itself stays byte-correct for any payload.
    QueryDef.sql(
      "mm_frame_sample",
      s"""WITH m AS (
         |  SELECT doc_id AS id, text, octet_length(encode(text)) AS blen
         |  FROM documents),
         |fr AS (
         |  SELECT id, f AS frame_id,
         |    substring(text,
         |      CAST(trunc(f * GREATEST(blen - 32, 1) / 3.0 + 1) AS INT),
         |      32) AS fb
         |  FROM m, (SELECT unnest(generate_series(0, 3)) AS f) ff)
         |SELECT id, frame_id, CAST(length(fb) AS INT) AS frame_len,
         |  substring(sha256(fb), 1, 16) AS frame_hash
         |FROM fr ORDER BY id, frame_id""".stripMargin) { (s, d) =>
      val media = Multimodal.toMediaTable(Tables.documents(s, d), "doc_id", "text")
      Multimodal.frameSample(media, nFrames = 4, frameBytes = 32)
        .select(col("id"), col("frame_id"), col("frame_len"),
          sha2(col("frame_bytes"), 256).substr(1, 16).as("frame_hash"))
        .orderBy("id", "frame_id")
    },

    // Video SCENE-CUT detection over the decoded-frame metadata stream:
    // per-media frame count from the (stubbed-decode) header, per-frame
    // luma as the deterministic hash stand-in for the decoder's output,
    // a cut wherever consecutive-frame luma jumps past the threshold
    // (the classic frame-differencing detector), scene count and mean
    // scene length per media. Frame fanout is CODEC-BOUNDED (≤ 150 per
    // media — metadata, not corpus, decides it) and the lag window is
    // partitioned per media, so the plan is embarrassingly parallel at
    // any corpus size.
    QueryDef.sql(
      "mm_video_scene_detect",
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CAST(${Det.h56Sql("'nf:' || CAST(doc_id AS VARCHAR)")} % 120 + 30
         |      AS INT) AS n_frames
         |  FROM documents),
         |fr AS (
         |  SELECT id, n_frames, f,
         |    ${Det.h56Sql(
             "'luma:' || CAST(id AS VARCHAR) || ':' || CAST(f AS VARCHAR)")}
         |      % 256 AS luma
         |  FROM m, LATERAL (SELECT unnest(range(0, n_frames)) AS f) ff),
         |d AS (
         |  SELECT id, n_frames, f, luma,
         |    CASE WHEN abs(luma - lag(luma) OVER (PARTITION BY id ORDER BY f))
         |           > 96 THEN 1 ELSE 0 END AS cut
         |  FROM fr)
         |SELECT id, MAX(n_frames) AS n_frames,
         |  CAST(SUM(cut) + 1 AS BIGINT) AS n_scenes,
         |  ${Det.roundNSql(
           "CAST(MAX(n_frames) AS DOUBLE) / (SUM(cut) + 1)", 6)}
         |    AS avg_scene_len
         |FROM d GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables.documents(s, d).select(col("doc_id").as("id"),
        (Det.h56(concat(lit("nf:"), col("doc_id").cast("string"))) % 120 + 30)
          .cast("int").as("n_frames"))
      val fr = m.select(col("id"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("f"))
        .withColumn("luma", Det.h56(concat(lit("luma:"),
          col("id").cast("string"), lit(":"), col("f").cast("string"))) % 256)
      val w = Window.partitionBy("id").orderBy("f")
      fr.withColumn("cut",
          when(abs(col("luma") - lag(col("luma"), 1).over(w)) > 96, 1)
            .otherwise(0))
        .groupBy("id")
        .agg(max("n_frames").as("n_frames"),
          (sum("cut") + 1).cast("long").as("n_scenes"),
          Det.roundN(max("n_frames").cast("double") / (sum("cut") + 1), 6)
            .as("avg_scene_len"))
        .orderBy("id")
    },

    // The full multimodal → ANN composition on the 100 TB path: media
    // bytes → decoded features (mapPartitions codec seam) → deterministic
    // projection to a normalized float embedding → IVF index build (Lloyd
    // refine of seed centroids + one-time cell assignment) → probe-only
    // top-k. Decoder is the disclosed stub; every Spark seam downstream of
    // it is the real shape. The O(N) brute-force scan this replaced
    // remains the recall baseline in SimilaritySpec (recall@10 ≥ 0.9).
    // The oracle recomposes the ENTIRE chain in SQL — byte histograms via
    // hex expansion, the same Rademacher matrix (signs interpolated from
    // Multimodal.rademacherSign, so plan and oracle share one source of
    // truth), left-assoc float normalization, decimal-summed Lloyd means
    // with REAL rounding + dead-cell retention, assignment argmax, and
    // the probe-restricted cosine top-10.
    QueryDef.sql(
      "mm_embedding_search", {
        def chain(terms: Seq[String]) = terms.reduce((a, b) => s"($a + $b)")
        val fcols = (0 until 16).map { b =>
          val dch = "0123456789ABCDEF".charAt(b)
          s"len([i for i in generate_series(1, GREATEST(len(h), 1), 2) " +
            s"if h[i:i] = '$dch']) * 1.0 / GREATEST(blen, 1) AS f$b"
        }.mkString(",\n         |    ")
        val comps = (0 until 8).map { j =>
          chain((0 until 16).map(i =>
            s"(f$i * ${Multimodal.rademacherSign(j, i)})")) + s" AS c$j"
        }.mkString(",\n         |    ")
        val nrm = s"sqrt(${chain((0 until 8).map(j => s"(c$j * c$j)"))})"
        val emList = "[" + (0 until 8).map(j =>
          s"CAST(CASE WHEN nrm > 0 THEN c$j / nrm ELSE 0.0 END AS REAL)")
          .mkString(", ") + "]"
        s"""WITH hx AS (
           |  SELECT doc_id AS id, hex(encode(text)) AS h,
           |    octet_length(encode(text)) AS blen
           |  FROM documents),
           |ft AS (
           |  SELECT id,
           |    $fcols
           |  FROM hx),
           |cp AS (
           |  SELECT id,
           |    $comps
           |  FROM ft),
           |nr AS (SELECT *, $nrm AS nrm FROM cp),
           |em AS (SELECT id, ($emList)::DOUBLE[] AS emb FROM nr),
           |cent0 AS (SELECT id AS cell, emb AS ce FROM em WHERE id <= 16),
           |sc0 AS (
           |  SELECT em.id, em.emb, cent0.cell, ${cosSql("em.emb", "ce")} AS sim
           |  FROM em CROSS JOIN cent0),
           |as0 AS (
           |  SELECT id, emb, cell FROM (
           |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell ASC) AS rn
           |    FROM sc0) WHERE rn = 1),
           |mdims AS (
           |  SELECT cell, generate_subscripts(emb, 1) - 1 AS dim, unnest(emb) AS x
           |  FROM as0),
           |means AS (
           |  SELECT cell, dim,
           |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS m
           |  FROM mdims GROUP BY 1, 2),
           |cdims AS (
           |  SELECT cell, generate_subscripts(ce, 1) - 1 AS dim, unnest(ce) AS pv
           |  FROM cent0),
           |cb AS (
           |  SELECT c.cell,
           |    list(CAST(CAST(COALESCE(m.m, c.pv) AS REAL) AS DOUBLE) ORDER BY c.dim) AS ce
           |  FROM cdims c LEFT JOIN means m ON m.cell = c.cell AND m.dim = c.dim
           |  GROUP BY c.cell),
           |q AS (SELECT emb AS qe FROM em WHERE id = 1),
           |probes AS (
           |  SELECT cell FROM cb, q
           |  ORDER BY (${cosSql("ce", "qe")}) DESC, cell LIMIT 4),
           |sc AS (
           |  SELECT em.id, em.emb, cb.cell, ${cosSql("em.emb", "ce")} AS sim
           |  FROM em CROSS JOIN cb),
           |asg AS (
           |  SELECT id, emb, cell FROM (
           |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell ASC) AS rn
           |    FROM sc) WHERE rn = 1)
           |SELECT a.id AS vec_id, a.cell, ${roundN(cosSql("a.emb", "qe"), 6)} AS cosine
           |FROM asg a JOIN probes USING (cell) CROSS JOIN q
           |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      val media = Multimodal.toMediaTable(Tables.documents(s, d), "doc_id", "text")
      // staged once: seeds, the Lloyd refine, assignment, and the final
      // probe all re-read this relation
      val emb = Multimodal.pseudoEmbed(Multimodal.extractFeatures(s, media).toDF())
        .select(col("id").as("vec_id"), col("embedding"))
        .staged
      val seeds = emb.filter(col("vec_id") <= 16)
        .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
      // one Lloyd step turns arbitrary seed docs into data-shaped
      // centroids; float cast because the codegen CosineSim is typed
      // array<float> (codebook is 16 rows — interpreted transform is off
      // the hot path)
      val codebook = Similarity.kmeansStep(emb, seeds)
        .select(col("cell"),
          transform(col("c_emb"), x => x.cast("float")).as("c_emb"))
        .staged
      // index-build step: assignment happens ONCE here (at rest this is
      // the table's partition key), not per query
      val assigned = Similarity.assignCells(emb, codebook)
      val q = emb.filter(col("vec_id") === 1)
        .select(col("embedding").as("q_emb"))
      Similarity.ivfTopK(emb, codebook, q, k = 10, nProbe = 4,
        preAssigned = Some(assigned))
    },
  )
}
