package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join over a string column — "which
  * values are misspellings / near-variants of each other", the blocking
  * primitive behind entity resolution and catalog reconciliation (the
  * reference normalizes free-text columns row-at-a-time, e.g.
  * scripts/silver/model_silver.py:61-67; pairwise reconciliation is the
  * missing cross-row half of that cleanup).
  *
  * A naive formulation is the all-pairs cross join with a
  * `levenshtein(a, b) <= d` predicate — O(n²) comparisons, a
  * BroadcastNestedLoopJoin that cannot survive any real vocabulary. This
  * operator makes candidate generation an EQUI-join via positional
  * q-gram prefix filtering (the Ed-Join scheme, Xiao et al., PVLDB 2008):
  *
  *   1. explode each string into its q-gram MULTISET (posexplode keeps
  *      duplicate grams as distinct rows);
  *   2. compute global gram document-frequencies — one map-side-combinable
  *      aggregate — and rank each string's grams rarest-first (freq, gram,
  *      pos: a total order);
  *   3. keep each string's first `q*d + 1` grams (its prefix). One edit
  *      destroys at most q grams, so two strings within distance d share
  *      at least `max(|ga|,|gb|) - q*d` grams; whenever that count bound
  *      is >= 1, their rarest-first prefixes must intersect — the
  *      inverted-index join on prefix grams is therefore LOSSLESS;
  *   4. hash-join prefixes on gram, length-filter `| |a| - |b| | <= d`
  *      (d edits change length by at most d), dedupe pairs;
  *   5. verify candidates with the exact codegen'd `levenshtein`.
  *
  * Strings too short for the bound (`len < q*d + q`, where the longer
  * side's gram count `len - q + 1` can be <= q*d and a within-distance
  * pair may share zero grams) are routed through an explicit short-string
  * bucket: a self-cross of ONLY those strings. That set is bounded by the
  * alphabet (every member is shorter than q*d + q chars), so the cross is
  * a broadcast of a few thousand rows at worst, and losslessness holds
  * overall: long×long pairs via the prefix index, short×short via the
  * bucket, and a short×long pair within distance d forces the long side's
  * bound positive, so the prefix index covers it (both sides emit
  * prefixes regardless of length).
  *
  * Shuffle volume: O(total grams) for the frequency join + rank, then
  * O(candidates) for verification — candidates, not n², is the scaling
  * term, and rare-gram prefixes keep posting lists short without any
  * lossy cap. Returns (str_a, str_b, edit_dist), str_a < str_b.
  */
object FuzzyJoin {

  /** The distinct non-empty strings of `c` as (__s, __len). */
  private def clean(df: DataFrame, c: String): DataFrame =
    df.select(col(c).cast("string").as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) >= 1)
      .distinct()
      .withColumn("__len", length(col("__s")))

  /** Each string's positional `q`-gram multiset (__s, __len, __pos, __g);
    * strings shorter than q emit none (they are all in the short bucket
    * anyway). */
  private def grams(strs: DataFrame, q: Int): DataFrame = strs
    .select(col("__s"), col("__len"), posexplode(
      expr(s"transform(sequence(1, greatest(__len - $q + 1, 0)), " +
        s"i -> substring(__s, i, $q))")).as(Seq("__pos", "__g")))

  /** Each string's `prefixLen` rarest grams by the global gram document
    * frequencies `freq` (__g, __df), ties by gram then position — a total
    * order; the per-string window partitions are gram counts (string
    * length), never corpus-sized. Returns (__s, __len, __g). */
  private def prefix(g: DataFrame, freq: DataFrame,
      prefixLen: Int): DataFrame = g.join(freq, Seq("__g"))
    .withColumn("__rk", row_number().over(
      Window.partitionBy("__s").orderBy(col("__df"), col("__g"),
        col("__pos"))))
    .filter(col("__rk") <= prefixLen)
    .select(col("__s"), col("__len"), col("__g"))

  /** The strings shorter than `minLongLen`, below the prefix bound's
    * reach, as (`name`, `lenName`). */
  private def short(strs: DataFrame, minLongLen: Int, name: String,
      lenName: String): DataFrame =
    strs.filter(col("__len") < minLongLen)
      .select(col("__s").as(name), col("__len").as(lenName))

  /** Gram size of the q-gram filters; bigrams suit short fields. */
  val Q = 2

  /** @param df      relation carrying the string column (deduplicated
    *                internally; pass the projected column)
    * @param strCol  string column to join on
    * @param maxDist inclusive Levenshtein threshold d >= 1
    */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val prefixLen = Q * maxDist + 1
    val minLongLen = Q * maxDist + Q // gram count > Q*d ⇔ len >= Q*d + Q

    val strs = clean(df, strCol)

    // 1-3. positional gram multiset, rarest-first prefix per string
    val g = grams(strs, Q)
    val freq = g.groupBy("__g").agg(count(lit(1)).as("__df"))
    val pre = prefix(g, freq, prefixLen)

    // 4. inverted-index candidate join + length filter.
    val indexed = pre
      .select(col("__s").as("str_a"), col("__len").as("__la"), col("__g"))
      .join(pre
        .select(col("__s").as("str_b"), col("__len").as("__lb"), col("__g")),
        Seq("__g"))
      .filter(col("str_a") < col("str_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select("str_a", "str_b").distinct()

    // Short×short fallback: both sides below the bound's reach.
    val shortPairs = short(strs, minLongLen, "str_a", "__la")
      .crossJoin(short(strs, minLongLen, "str_b", "__lb"))
      .filter(col("str_a") < col("str_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select("str_a", "str_b")

    // 5. exact verification on the candidate set only.
    indexed.union(shortPairs).distinct()
      .withColumn("edit_dist", levenshtein(col("str_a"), col("str_b")))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Bipartite best-match lookup — for each distinct probe string, the
    * closest dictionary string within `maxDist` (ties broken by the
    * lexicographically smallest match): the entity-resolution shape, a
    * dirty feed reconciled against a canonical vocabulary.
    *
    * Same lossless machinery as [[editDistancePairs]] with the two sides
    * kept asymmetric: gram document-frequencies come from the UNION of
    * both sides (the prefix theorem needs one shared global gram order,
    * not two), each side emits its own `q*d + 1` rarest-gram prefix, and
    * the short-string fallback crosses short probes against short
    * dictionary entries only. The final argmin is a map-side-combinable
    * `min(struct(dist, match))` — no window over the probe set.
    * Returns (probe, match, edit_dist); probes with no match within
    * `maxDist` are absent (left-join downstream if needed).
    */
  def editDistanceLookup(probes: DataFrame, dict: DataFrame,
      probeCol: String, dictCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val prefixLen = Q * maxDist + 1
    val minLongLen = Q * maxDist + Q

    val p = clean(probes, probeCol)
    val d = clean(dict, dictCol)
    val pg = grams(p, Q)
    val dg = grams(d, Q)
    val freq = pg.select("__g").union(dg.select("__g"))
      .groupBy("__g").agg(count(lit(1)).as("__df"))

    val indexed = prefix(pg, freq, prefixLen)
      .select(col("__s").as("probe"), col("__len").as("__lp"), col("__g"))
      .join(prefix(dg, freq, prefixLen)
        .select(col("__s").as("match"), col("__len").as("__ld"), col("__g")),
        Seq("__g"))
      .filter(abs(col("__lp") - col("__ld")) <= maxDist)
      .select("probe", "match").distinct()

    val shortPairs = short(p, minLongLen, "probe", "__lp")
      .crossJoin(short(d, minLongLen, "match", "__ld"))
      .filter(abs(col("__lp") - col("__ld")) <= maxDist)
      .select("probe", "match")

    indexed.union(shortPairs).distinct()
      .withColumn("edit_dist", levenshtein(col("probe"), col("match")))
      .filter(col("edit_dist") <= maxDist)
      .groupBy("probe")
      .agg(min(struct(col("edit_dist"), col("match"))).as("__m"))
      .select(col("probe"), col("__m.match").as("match"),
        col("__m.edit_dist").as("edit_dist"))
  }
}
