package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer with a learned merge table — the real
  * subword algorithm behind GPT-2/RoBERTa-style vocabularies (word-internal
  * character BPE; no end-of-word marker, whitespace pre-tokenization via
  * [[TextFunctions.tokens]]).
  *
  * Scale shape, mirroring how production tokenizer training actually
  * splits: LEARNING runs on the word-frequency table — [[learn]] is the
  * classic pair-count loop over a driver-side table, [[learnDistributed]]
  * the same loop with the table kept on the cluster. ENCODING streams the
  * corpus through a mapPartitions seam: the merge-rank map is built once
  * per partition, rows are tokenized with the greedy lowest-rank-first
  * merge loop — no per-row UDF re-initialization, no driver involvement.
  *
  * Determinism: pair selection breaks count ties lexicographically, so the
  * merge table is a pure function of the word-frequency table; encoding is
  * a pure function of (text, merge table). Same corpus → same tokens on
  * any cluster size.
  */
object Bpe {

  /** Learn `numMerges` merges from a word-frequency table. Pure Scala —
    * the input is the REDUCED vocabulary (distinct words), not the corpus.
    * Ties broken by (count desc, pair lexicographic) for determinism. */
  def learn(wordCounts: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    // each vocab entry: current symbol sequence + frequency
    var vocab: Vector[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
              out += merged; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.result(), c)
        }
        i += 1
      }
    }
    merges.result()
  }

  /** FULLY-DISTRIBUTED learn: no vocabulary truncation, no corpus-sized
    * driver state. The word-frequency relation (distinct words — bounded
    * sublinearly by the corpus' vocabulary, not its size) stays ON THE
    * CLUSTER for the whole loop; each of the `numMerges` rounds is:
    *
    *   1. one distributed aggregate: adjacent symbol pairs exploded from
    *      every word, weighted by word count, `groupBy(pair).sum` —
    *      map-side-combinable, vocabulary-bounded;
    *   2. a 1-ROW argmax collect (count desc, pair lexicographic — the
    *      exact tie discipline of [[learn]]): the only driver traffic
    *      per round is the winning pair;
    *   3. a distributed rewrite: every word's symbol string merges the
    *      winning pair via one `replace` over the separator-wrapped
    *      representation of [[encodeSqlDuck]] (`⟂a⟂⟂b⟂` → `⟂ab⟂` —
    *      whole-symbol-safe, non-overlapping left-to-right like the
    *      Scala loop), re-staged so the iterative lineage stays flat.
    *
    * At 100 TB the corpus is touched exactly once (the initial word
    * count); the loop's cost is numMerges shuffles over the vocabulary
    * relation. Same corpus → same merges as [[learn]] over the corpus'
    * untruncated word counts (BpeSpec pins the equivalence; the
    * t_bpe_learn_distributed oracle replays the full loop in DuckDB). */
  def learnDistributed(df: DataFrame, textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    import graft.engine.Stage.syntax._
    val S = "\u001f"
    val base = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(regexp_replace(col("w"), "(.)", S + "$1" + S).as("s"), col("c"))
      .staged
    // The loop's per-round cost is DOMINATED by fixed job overhead
    // (shuffle stages + a staging materialization per round), not data -
    // the vocabulary relation is bounded by distinct words, usually tiny
    // next to the corpus. Two overhead cuts, neither of which can move
    // the learned merges (exact long sums + a total-order argmax are
    // partition-invariant, the crosspart gate's axis):
    //   1. a small vocabulary (< ~100k words) collapses to ONE partition,
    //      so each round's pair-count aggregate is a narrow 1-partition
    //      job instead of a full-width shuffle;
    //   2. the replace-rewrite re-stages only every 12 rounds -
    //      in-between rounds grow a shallow nested-replace lineage that
    //      CollapseProject folds into a single projection; staging at a
    //      fixed stride bounds the plan depth for long learns without
    //      paying a localCheckpoint job per round.
    val vocabSize = base.count()
    val small = vocabSize < 100000
    var words = if (small) base.coalesce(1).staged else base
    // Small-vocab rounds are pure fixed overhead: AQE's stage-by-stage
    // replanning and a 32-way exchange add ~150ms/round to a job whose
    // data is a handful of KB. Scope both DOWN for the loop (restored
    // after it): AQE off, one shuffle partition. Partition count and
    // AQE cannot move the merges (exact long sums + total-order argmax;
    // the crosspart gate pins partition-count invariance suite-wide).
    // The flip is session-scoped for the loop's duration — callers
    // running concurrent queries on the SAME session during a learn
    // would see it; Verify/Bench run queries sequentially.
    val scoped = if (!small) Nil else Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1",
      // every round is a FRESH plan (the round's merge literal differs),
      // so whole-stage codegen compiles ~50ms of Janino per round to run
      // over a few KB — interpreted execution wins outright here
      "spark.sql.codegen.wholeStage" -> "false")
    graft.engine.Session.withConf(df.sparkSession, scoped: _*) {
      val merges = Seq.newBuilder[(String, String)]
      var r = 0
      var done = false
      var sinceStage = 0
      while (r < numMerges && !done) {
        val top = words
          .select(col("c"), split(trim(col("s"), S), S + S).as("a"))
          .filter(size(col("a")) >= 2)
          .select(col("c"), explode(expr(
            "transform(sequence(0, size(a) - 2)," +
              " i -> struct(a[i] AS lhs, a[i + 1] AS rhs))")).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("c")).as("pc"))
          .orderBy(desc("pc"), asc("lhs"), asc("rhs"))
          .limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val rewritten = words.select(
            replace(col("s"), lit(S + a + S + S + b + S), lit(S + a + b + S))
              .as("s"), col("c"))
          sinceStage += 1
          words =
            if (sinceStage >= 12) { sinceStage = 0; rewritten.staged }
            else rewritten
          r += 1
        }
      }
      merges.result()
    }
  }

  /** DuckDB replay of [[learnDistributed]]: `numMerges` unrolled
    * MATERIALIZED rounds (without materialization the w-chain
    * re-evaluates once per referencing CTE — the k-means-trajectory
    * oracle precedent), each round = pair counts from the wrapped-symbol
    * strings → argmax with the (count desc, lexicographic) tie-break →
    * one `replace` rewrite. Returns the full SELECT producing
    * (merge_rank BIGINT, lhs, rhs). */
  def learnSqlDuck(numMerges: Int): String = {
    val S = "\u001f"
    def l(s: String) = "'" + s.replace("'", "''") + "'"
    val ctes = Seq.newBuilder[String]
    ctes += s"""wc AS MATERIALIZED (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(list_filter(${TextFunctions.tokensSql("text")},
      |                              x -> x <> '')) AS w
      |    FROM documents) GROUP BY w)""".stripMargin
    ctes += s"""w0 AS MATERIALIZED (
      |  SELECT regexp_replace(w, '(.)', ${l(S + "\\1" + S)}, 'g') AS s, c FROM wc)""".stripMargin
    for (r <- 1 to numMerges) {
      ctes += s"""p$r AS MATERIALIZED (
        |  SELECT l[u.i] AS lhs, l[u.i + 1] AS rhs, SUM(c) AS c
        |  FROM (SELECT string_split(trim(s, ${l(S)}), ${l(S + S)}) AS l, c
        |        FROM w${r - 1}) lw,
        |       UNNEST(generate_series(1, len(l) - 1)) AS u(i)
        |  GROUP BY 1, 2)""".stripMargin
      ctes += s"m$r AS MATERIALIZED (SELECT lhs, rhs FROM p$r ORDER BY c DESC, lhs, rhs LIMIT 1)"
      ctes += s"""w$r AS MATERIALIZED (
        |  SELECT replace(s, ${l(S)} || lhs || ${l(S + S)} || rhs || ${l(S)},
        |                 ${l(S)} || lhs || rhs || ${l(S)}) AS s, c
        |  FROM w${r - 1}, m$r)""".stripMargin
    }
    val union = (1 to numMerges)
      .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs FROM m$r")
      .mkString("\nUNION ALL ")
    "WITH " + ctes.result().mkString(",\n") + "\n" + union + " ORDER BY merge_rank"
  }

  /** Encode one word with the learned ranks: greedy lowest-rank-first
    * merging (the GPT-2 encode loop). Unknown characters stay as
    * single-character symbols. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) continue = false
      else {
        // merge every adjacent occurrence of the chosen pair, left to right
        val a = syms(bestIdx); val b = syms(bestIdx + 1)
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
            out += (a + b); k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.result()
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Frozen word-frequency snapshot of the documents corpus (the sf0.01
    * top words by count, captured once) — the seed the PINNED codebook is
    * learned from. Freezing the vocabulary makes the merge table a
    * compile-time constant: the LEARNING loop (iterative pair-count
    * argmax) is not expressible as one SQL query, but ENCODING under a
    * fixed merge table is — so pinning the codebook is what lets the
    * tokenize/chunking queries be oracle-hash-checked instead of
    * rows-only. Learning itself stays exercised end-to-end by BpeSpec
    * (golden merges; distributed corpus learn ≡ driver loop). */
  val seedVocab: Seq[(String, Long)] = Seq(
    "join" -> 964L, "hash" -> 947L, "row" -> 943L, "batch" -> 937L,
    "scan" -> 936L, "column" -> 934L, "customer" -> 934L, "filter" -> 933L,
    "small" -> 928L, "merge" -> 918L, "slow" -> 918L, "order" -> 912L,
    "vector" -> 912L, "line" -> 910L, "data" -> 908L, "table" -> 908L,
    "agg" -> 901L, "value" -> 897L, "key" -> 896L, "stream" -> 888L,
    "window" -> 886L, "a" -> 880L, "spark" -> 880L, "group" -> 878L,
    "part" -> 878L, "big" -> 876L, "sort" -> 872L, "query" -> 871L,
    "fast" -> 854L, "the" -> 840L, "dup" -> 26L)

  /** The pinned 48-merge codebook: [[learn]] over [[seedVocab]] at class
    * init — deterministic (count-desc, lexicographic tie-break), so the
    * same table on every JVM, every run, every cluster size. */
  val pinnedMerges: Seq[(String, String)] = learn(seedVocab, 48)

  /** DuckDB replay of [[encodeWord]] under [[pinnedMerges]], as a scalar
    * SQL expression over `wordExpr` returning the token LIST.
    *
    * Encode-equivalence: applying the merges sequentially in RANK order,
    * each as one left-to-right non-overlapping pass, yields exactly the
    * greedy lowest-rank-first loop's output — a later merge can never
    * create an occurrence of an earlier pair, because the later token's
    * constituent pair was necessarily learned after both its parts
    * existed (rank monotone in creation order). A left-to-right
    * non-overlapping pass is precisely SQL `replace()`.
    *
    * Representation: each symbol is wrapped in U+001F separators
    * (`⟂sym⟂`, concatenated), so the adjacency `(a,b)` is the literal
    * substring `⟂a⟂⟂b⟂` — whole-symbol-safe, and consecutive matches
    * share no characters so `replace` merges every adjacent occurrence
    * in one pass, like the Scala loop. Constraint: input text must not
    * contain U+001F (true of any text corpus that strips control
    * chars). */
  def encodeSqlDuck(wordExpr: String): String = {
    val S = "\u001f"
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val wrapped =
      s"regexp_replace($wordExpr, '(.)', ${lit(S + "\\1" + S)}, 'g')"
    val chain = pinnedMerges.foldLeft(wrapped) { case (e, (a, b)) =>
      s"replace($e, ${lit(S + a + S + S + b + S)}, ${lit(S + a + b + S)})"
    }
    s"string_split(trim($chain, ${lit(S)}), ${lit(S + S)})"
  }

  final case class BpeTokens(id: Long, n_words: Int, n_bpe_tokens: Int,
      tokens: Array[String])

  /** Tokenize a corpus with a learned merge table through the
    * mapPartitions seam: the rank map is materialized once per partition
    * (the trie/table-init the per-row UDF shape would pay per row), rows
    * stream through the encode loop. Output: (id, n_words, n_bpe_tokens,
    * tokens) — callers chunk/count from the token array. */
  def tokenize(spark: SparkSession, df: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): Dataset[BpeTokens] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toVector)
    val typed = df.select(col(idCol).cast("long"),
      TextFunctions.tokens(col(textCol))).as[(Long, Seq[String])]
    typed.mapPartitions { rows =>
      // per-partition init: rank lookup built once, shared by all rows
      val ranks: Map[(String, String), Int] =
        bc.value.zipWithIndex.map { case (p, i) => p -> i }.toMap
      rows.map { case (id, words) =>
        val ws = words.filter(_.nonEmpty)
        val toks = ws.iterator.flatMap(w => encodeWord(w, ranks)).toArray
        BpeTokens(id, ws.length, toks.length, toks)
      }
    }
  }
}
