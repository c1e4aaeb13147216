package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._

/** Text-analysis primitives for large-scale corpus pipelines: tokenization,
  * token counting, quality scoring, language ID, fingerprinting. All pure
  * Catalyst column expressions (codegen'd, no UDFs) so they run inside
  * whole-stage codegen over a 100 TB documents table.
  *
  * These extend the reference's declared-but-never-built posts analytics
  * (silver.clean_posts: word_count, avg_word_length, has_links —
  * /root/reference/scripts/silver/transform_silver.py:82-95) into the full
  * training-data-pipeline feature set.
  */
object TextFunctions {

  /** Whitespace tokens of the trimmed, lowercased text (trim first —
    * leading whitespace would otherwise produce an empty first token). */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** DuckDB-dialect mirror of [[tokens]] over a SQL text expression. */
  def tokensSql(text: String): String =
    raw"str_split_regex(trim(lower($text)), '\s+')"

  def wordCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword proxy: alpha runs, single digits, single punctuation —
    * the standard pre-tokenizer shape. */
  val bpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpePattern)).cast("long")

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("long")

  /** Characters-per-word (whitespace removed / word count), 2 decimals. */
  def avgWordLength(text: Column): Column = {
    val chars = length(regexp_replace(text, "\\s+", ""))
    val words = size(tokens(text))
    when(words > 0, Det.roundN(chars.cast("double") / words, 2)).otherwise(0.0)
  }

  val stopwordsEn = Seq("the", "a", "an", "and", "of", "to", "in", "is",
    "on", "for", "with")

  /** How many of the text's [[tokens]] are in `words` (int). */
  def tokenHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** DuckDB-dialect mirror of [[tokenHits]] over a SQL text expression. */
  def hitsSql(text: String, words: Seq[String]): String =
    s"len(list_filter(${tokensSql(text)}, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  def hasLinks(text: Column): Column = text.rlike("https?://")

  /** Sentence count: runs of terminal punctuation (`[.!?]+` so "?!" or
    * "..." end ONE sentence). Floor of 1 applied at the formula site. */
  def sentenceCount(text: Column): Column =
    regexp_count(text, lit("[.!?]+")).cast("long")

  /** Syllable estimate: vowel-group runs `[aeiouy]+` over the lowercased
    * text — the standard dictionary-free heuristic. Runs can't span
    * whitespace (a space is no vowel), so counting over the whole text
    * equals summing per word; single simple character class keeps Java
    * and RE2 regex semantics identical. */
  def syllableCount(text: Column): Column =
    regexp_count(lower(text), lit("[aeiouy]+")).cast("long")

  /** Marker-word language ID. N-gram/stopword heuristic: count hits from
    * tiny per-language marker sets, pick the max with a fixed precedence
    * order for ties. Cheap, deterministic, single-pass. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "los", "las", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "la", "et", "est"))

  def langHits(text: Column): Map[String, Column] =
    langMarkers.map { case (l, ws) => l -> tokenHits(text, ws).cast("long") }.toMap

  /** DuckDB-dialect mirror of [[langHits]]: one hit-count column per
    * language, named by the language, as a SELECT list. */
  def langHitsSql(text: String): String =
    langMarkers.map { case (l, ws) => s"${hitsSql(text, ws)} AS $l" }.mkString(", ")

  /** The per-language hit columns of [[tokenFeatures]], keyed as in
    * [[langMarkers]]. */
  def featureHits: Map[String, Column] =
    langMarkers.map { case (l, _) => l -> col(s"hits_$l") }.toMap

  /** The language whose marker-hit count is highest, from the per-language
    * hit columns keyed as in [[langMarkers]]. */
  def langId(h: Map[String, Column]): Column =
    when(h("en") >= h("es") && h("en") >= h("de") && h("en") >= h("fr"), "en")
      .when(h("es") >= h("de") && h("es") >= h("fr"), "es")
      .when(h("de") >= h("fr"), "de")
      .otherwise("fr")

  /** DuckDB-dialect mirror of [[langId]] over hit-count columns named
    * `en`, `es`, `de` and `fr`. */
  val langIdSql: String =
    """CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
      |     WHEN es >= de AND es >= fr THEN 'es'
      |     WHEN de >= fr THEN 'de' ELSE 'fr' END""".stripMargin

  /** The 0-100 additive text-quality score: from 100, −40 under 5 words,
    * −20 punctuation ratio over 0.2, −20 average word length outside
    * [3, 12], −20 no stopword. */
  def qualityScore(words: Column, punctRatio: Column, avgWordLen: Column,
      stopHits: Column): Column =
    greatest(lit(0), lit(100)
      - when(words < 5, 40).otherwise(0)
      - when(punctRatio > 0.2, 20).otherwise(0)
      - when(avgWordLen < 3.0 || avgWordLen > 12.0, 20).otherwise(0)
      - when(stopHits === 0, 20).otherwise(0))

  /** DuckDB form of the text-quality features: the CTE
    * `f(doc_id, <carry>…, text, words, punct, chars, stop_hits)` over
    * `from` — word count, non-alphanumeric characters, non-space
    * characters and stopword hits, the inputs of [[qualityScoreSql]]. */
  def qualityFeaturesSql(carry: Seq[String],
      from: String = "documents"): String =
    raw"""f AS (
       |  SELECT ${("doc_id" +: carry :+ "text").mkString(", ")},
       |    len(${tokensSql("text")}) AS words,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
       |    length(regexp_replace(text, '\s+', '', 'g')) AS chars,
       |    ${hitsSql("text", stopwordsEn)} AS stop_hits
       |  FROM $from)""".stripMargin

  /** DuckDB-dialect mirror of [[qualityScore]] over SQL expressions. */
  def qualityScoreSql(words: String, punctRatio: String, avgWordLen: String,
      stopHits: String): String =
    s"""GREATEST(0, 100
       |  - CASE WHEN $words < 5 THEN 40 ELSE 0 END
       |  - CASE WHEN $punctRatio > 0.2 THEN 20 ELSE 0 END
       |  - CASE WHEN $avgWordLen < 3.0 OR $avgWordLen > 12.0 THEN 20 ELSE 0 END
       |  - CASE WHEN $stopHits = 0 THEN 20 ELSE 0 END)""".stripMargin

  /** Content fingerprint: sha256 over the sorted distinct token set — the
    * classic normalization fingerprint (whitespace/order/dup insensitive). */
  def fingerprint(text: Column): Column =
    sha2(concat_ws(" ", array_sort(array_distinct(tokens(text)))), 256)

  /** Corpus-scale path for every token-derived metric: explode tokens
    * ONCE, then a single codegen'd hash aggregate computes word count,
    * non-whitespace char count, stopword hits, and all language-marker
    * hits. The per-row Column helpers above re-run the tokenize regex per
    * metric (array HOFs are interpreted, no CSE) — fine for composition
    * and small batches, wrong shape for a 100 TB documents scan.
    * Output: one row per id with columns word_count_t (long),
    * chars_nospace (long), stop_hits (long), hits_<lang> (long). */
  def tokenFeatures(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // spread the (usually single-file, hence single-task) scan before the
    // token explode + stopword/marker membership tests — the per-row
    // compute here is the family's hot loop (guide §2.5 input-split fix)
    val tok = graft.engine.Stage.spread(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val markerCols = langMarkers.map { case (l, ws) =>
      count(when(col("__t").isin(ws: _*), 1)).as(s"hits_$l")
    }
    val aggCols = Seq(
      count(lit(1)).as("word_count_t"),
      sum(length(col("__t"))).cast("long").as("chars_nospace"),
      count(when(col("__t").isin(stopwordsEn: _*), 1)).as("stop_hits")) ++
      markerCols
    tok.groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Relative max_df for [[vocabulary]]: ceil(0.75·n_docs) — the
    * sklearn float-max_df form (a term in more than three quarters of
    * documents is boilerplate at any corpus size). Expressed as exact
    * integer arithmetic so engine and oracle can't disagree on a
    * rounding. */
  val VocabMaxDfNum = 3L
  val VocabMaxDfDen = 4L
  def vocabMaxDfExprSql(nDocsExpr: String): String =
    s"(($nDocsExpr) * $VocabMaxDfNum + ${VocabMaxDfDen - 1}) div $VocabMaxDfDen"
  /** DuckDB-dialect mirror of [[vocabMaxDfExprSql]]. */
  def vocabMaxDfOracleSql(nDocsExpr: String): String =
    s"(($nDocsExpr) * $VocabMaxDfNum + ${VocabMaxDfDen - 1}) // $VocabMaxDfDen"

  /** Corpus vocabulary by document frequency: distinct (doc, term) pairs →
    * per-term df, banded to [minDf, max_df] (drop hapaxes and boilerplate —
    * the min_df/max_df vectorizer contract), top maxTerms by (df desc,
    * term asc). One explode + two hash aggregates + a TakeOrdered — no
    * unpartitioned windows, no driver-side vocabulary.
    *
    * max_df is RELATIVE to the corpus size ([[vocabMaxDfExprSql]],
    * sklearn's float max_df, the vectorizer norm): a fixed absolute
    * ceiling rejects every common term once corpus df scales past it —
    * the absolute band [3, 200] matched NOTHING from sf0.1 up — while a
    * proportional ceiling keeps "boilerplate" meaning "appears in more
    * than a fixed SHARE of documents" at every scale. min_df stays
    * absolute (its job is dropping hapaxes/noise, a per-term evidence
    * floor, sklearn's int form). The ceiling is computed in-plan as a
    * 1-row broadcast — same discipline as
    * [[graft.operators.Itemsets.thresholdExprSql]]. */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDf: Long, maxTerms: Int)
      : org.apache.spark.sql.DataFrame = {
    val pairs = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .distinct()
    val maxDf = pairs.agg(
      expr(vocabMaxDfExprSql(s"count(DISTINCT `$idCol`)"))
        .cast("long").as("__maxdf"))
    pairs
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(maxDf))
      .filter(col("df").between(lit(minDf), col("__maxdf")))
      .select("term", "df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxTerms)
  }

  /** A token in more than this percentage of documents is boilerplate. */
  val BoilerplateMaxDfPct = 78

  /** Corpus-frequency boilerplate strip — the CCNet-style rewrite that
    * removes ubiquitous segments (here: tokens whose document frequency
    * exceeds BoilerplateMaxDfPct% of the corpus) and reassembles each document in
    * original token order. Unlike [[vocabulary]] (which only reports the
    * band), this is the REWRITE: the cleaned text ships downstream.
    *
    * Shape: one posexplode staged once (two consumers: the df aggregate
    * and the reassembly join), distinct → hash-agg for per-token df, and a
    * broadcast anti-join to drop boilerplate tokens. The boilerplate set
    * is provably small — a token needs df > BoilerplateMaxDfPct% · N, and a doc has
    * L_avg tokens, so at most ~L_avg / (BoilerplateMaxDfPct/100) tokens can qualify —
    * which is what makes the broadcast safe at any corpus size.
    * Reassembly is a per-doc collect_list(struct(pos, tok)) → array_sort —
    * bounded by document length, never corpus-wide. Returns every input
    * doc: (idCol, n_tokens, n_removed, clean_text); a fully-boilerplate
    * doc yields an empty clean_text. */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .staged
    val total = df.agg(count(lit(1)).as("__n_docs"))
    val boiler = tok.select("id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(total))
      // integer-exact threshold: df/N > pct/100 without float rounding
      .filter(col("__df") * 100 > col("__n_docs") * BoilerplateMaxDfPct)
      .select("tok")
    val rebuilt = tok.join(broadcast(boiler), Seq("tok"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).as("clean_text"))
    df.select(col(idCol).as("id"), wordCount(col(textCol)).as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-document top-k keywords by tf-idf. The idf is the SMOOTHED
    * RATIONAL form (N+1)/(df+1) — deliberately log-free: ln/pow are libm
    * calls whose last-ulp behavior differs across engines, while rational
    * arithmetic on the same inputs is bit-identical (the ranking is the
    * same either way — log is monotone). Shape: one explode → (doc, term)
    * counts → term df aggregate → score join → per-doc top-k window
    * (partitioned by doc, WindowGroupLimit prunes below the exchange). */
  def tfidfKeywords(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    // staged once: terms feeds tf and docLen; tf feeds dfreq and the
    // score join — unstaged, the documents scan ran four times
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .staged
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .staged
    val docLen = terms.groupBy(col(idCol)).agg(count(lit(1)).as("doc_len"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val scored = tf
      .join(docLen, idCol)
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", Det.roundN(
        (col("cnt").cast("double") / col("doc_len")) *
          ((col("__n").cast("double") + 1.0) / (col("df").cast("double") + 1.0)),
        6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("__rk").as("rank"), col("term"),
        col("tfidf"), col("df"))
  }

  /** Bigram language-model likelihood score — the LM-based quality filter
    * (CCNet-style: docs scoring far from the corpus LM are boilerplate or
    * word salad). Trains corpus bigram/unigram counts and scores each doc
    * by the MEAN Laplace-smoothed conditional probability of its tokens:
    *   p(w | prev) = (c(prev, w) + 1) / (c(prev) + |V|)
    * Deliberately log-free: the mean-probability score ranks documents
    * the same way as mean log-prob for filtering purposes, and rational
    * arithmetic is bit-identical across engines while libm `ln` is not —
    * so the whole train+score pipeline stays oracle-checkable.
    *
    * Shape: one explode, one per-doc lag window (partitioned by doc), two
    * hash aggregates for the count tables, a sort-merge join on the
    * bigram key, decimal-summed mean. Shuffle O(rows × tokens); the LM
    * "model" is two aggregate tables, never driver-side.
    *
    * Returns (idCol, n_bigrams, lm_score) for EVERY input doc — docs with
    * fewer than 2 tokens score 0.0 with n_bigrams 0. */
  def bigramLmScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // staged once: tok feeds the bigram window, the unigram counts, and
    // the vocab size; bi feeds the bigram counts AND the scoring join —
    // unstaged, the documents scan ran five times (plan rescan check)
    val tok = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .staged
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val bi = tok.withColumn("w_prev", lag(col("w"), 1).over(w))
      .filter(col("w_prev").isNotNull)
      .staged
    val uni = tok.groupBy(col("w").as("w_prev"))
      .agg(count(lit(1)).as("cu"))
    val big = bi.groupBy("w_prev", "w").agg(count(lit(1)).as("cb"))
    val vocab = tok.agg(countDistinct(col("w")).as("__v"))
    val p = (coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
      (coalesce(col("cu"), lit(0L)).cast("double") + col("__v"))
    val scored = bi
      .join(big, Seq("w_prev", "w"), "left")
      .join(uni, Seq("w_prev"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        Det.roundN(
          sum(p.cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") / count(lit(1)), 8).as("lm_score"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
  }

  /** Corpus-scale quality scoring over [[tokenFeatures]]: every input
    * column EXCEPT textCol, plus word_count (long), avg_word_len,
    * stopword_ratio, and the 0-100 quality_score — the single source of
    * truth for score-derived queries (direct report + quantile gating must
    * agree to the bit).
    *
    * The text column is deliberately absent from the output: char-level
    * features (punct ratio) are computed map-side in a projection that
    * drops text BEFORE the join with the token aggregate, so only narrow
    * columns cross the join's exchange. At corpus scale `feats` has the
    * same row count as `df` — the join is sort-merge, and carrying the
    * document bytes through it would shuffle the whole corpus (the
    * measured round-3 regression: 0.41s → 1.60s at sf0.1). */
  def qualityFeatures(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val feats = tokenFeatures(df, idCol, textCol)
    val wc = col("word_count_t")
    val awl = when(wc > 0,
      Det.roundN(col("chars_nospace").cast("double") / wc, 2)).otherwise(0.0)
    val punctRatio = col("__punct_ratio")
    val keep = df.columns.filterNot(_ == textCol)
    val narrow = df.select(keep.map(col) :+
      (punctCount(col(textCol)).cast("double") /
        greatest(length(col(textCol)).cast("double"), lit(1.0)))
        .as("__punct_ratio"): _*)
    narrow.join(feats, idCol)
      .select(keep.map(col) ++ Seq(
        wc.as("word_count"),
        awl.as("avg_word_len"),
        when(wc > 0, Det.roundN(col("stop_hits").cast("double") / wc, 4))
          .otherwise(0.0).as("stopword_ratio"),
        qualityScore(wc, punctRatio, awl, col("stop_hits")).as("quality_score")): _*)
  }

  /** Okapi BM25's usual saturation (k1) and length normalization (b). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 keyword-search ranking (Robertson k1/b saturation), log-free.
    *
    * Classic BM25 multiplies a log-IDF into the saturated-TF term; `ln` is
    * a libm call whose last-ulp behavior differs across engines, so — like
    * [[tfidfKeywords]] and [[lmScore]] — this uses the monotone rational
    * IDF `(N - df + 0.5) / (df + 0.5) + 1` instead: same per-term document
    * ordering, bit-identical across engines, so the whole ranking stays
    * oracle-checkable. Per-term scores round to 6 places and sum as
    * DECIMAL, making each document's score order-independent.
    *
    * Shape at scale: one explode over the corpus; the query-term filter
    * prunes the (doc, term) relation to |Q| terms BEFORE any join; doc
    * lengths are one narrow aggregate; df and the corpus stats are tiny
    * broadcasts. Text bytes never cross an exchange — only (id, term,
    * count) rows shuffle, and the final ranking is a TakeOrdered, not a
    * global sort.
    */
  def bm25Search(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    // staged once: the exploded terms feed both doc-length and tf
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .staged
    val dl = terms.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tf = terms.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .staged
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    // constants are computed ONCE here and interpolated into the oracle SQL
    // by the caller (bm25ConstSql) so both engines parse identical doubles
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) +
      lit(1.0)
    val rel = (col("dl") * col("n_docs")) / col("total_len")
    val score = idf * (col("tf") * lit(Bm25K1 + 1.0)) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * rel))
    tf.join(dl, idCol)
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__s", Det.roundN(score, 6))
      .groupBy(col(idCol))
      .agg(Det.dsum(col("__s"), 6).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
  }

  /** The oracle-side per-term BM25 score expression, with the SAME Scala
    * doubles interpolated (Double.toString round-trips, so DuckDB parses
    * the identical IEEE values Spark's literals hold). */
  def bm25ScoreSql(): String =
    s"((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * ${Bm25K1 + 1.0}) / " +
      s"(tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * (dl * n_docs) / total_len))"

  /** Exact phrase search over a POSITIONAL inverted index — what BM25's
    * bag-of-words postings can't answer ("value table" as adjacent
    * tokens, not co-occurrence). The index is (id, pos, token); an
    * n-word phrase is n−1 equi-joins on (id, pos + offset) — each side
    * pre-filtered to ITS phrase token, so only matching postings ever
    * shuffle and the join is keyed, never positional-window. substring
    * false-positives of LIKE-style matching can't occur: positions come
    * from the same whitespace tokenizer as the rest of the text stack.
    *
    * Returns (idCol, n_matches, first_pos) for matching docs,
    * match-count-ranked. */
  def phraseSearch(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.size >= 2, "phrase needs at least two tokens")
    val postings = df
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .staged
    val first = postings.filter(col("token") === phrase.head)
      .select(col(idCol), col("pos"))
    val matches = phrase.tail.zipWithIndex.foldLeft(first) {
      case (acc, (w, i)) =>
        val nxt = postings.filter(col("token") === w)
          .select(col(idCol), (col("pos") - lit(i + 1)).as("pos"))
        acc.join(nxt, Seq(idCol, "pos"))
    }
    matches
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .orderBy(desc("n_matches"), col(idCol))
  }
}
