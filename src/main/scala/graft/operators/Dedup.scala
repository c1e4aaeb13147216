package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.functions.TextFunctions
import graft.engine.Stage.syntax._

/** Deduplication operators for corpus-scale pipelines: exact, MinHash-LSH,
  * SimHash, n-gram-Jaccard (inverted-index blocking), all shuffle-bounded
  * with no UDFs and no driver-side loops.
  *
  * Implementation shape note (measured, not theoretical): Spark's
  * higher-order functions (transform/filter/aggregate over arrays) are
  * interpreted — no whole-stage codegen, no common-subexpression
  * elimination — so nested-HOF signatures re-evaluate their inputs per
  * lambda application (a collapsed projection re-ran the tokenize→shingle
  * regex ~1000× per row; single-task minutes-long stalls). Every operator
  * here therefore uses the explode → hash-aggregate shape: one generator,
  * one codegen'd aggregate with N plain columns, band keys from plain
  * columns. That shape is also the scalable one — map-side combinable,
  * shuffle volume O(rows × tokens), never O(rows²).
  *
  * Scale behavior:
  *   exact:    1 hash-aggregate shuffle on content hash.
  *   minhash:  explode shingles → 64 min() aggregate → band buckets →
  *             candidate pairs → intersection counts via the SAME exploded
  *             relation (no array materialization), Jaccard from counts.
  *   simhash:  explode tokens → 64 signed-bit sums → pack → band buckets →
  *             xor-popcount verify.
  *   ngram:    inverted index with postings cap (the 100 TB skew guard: a
  *             boilerplate shingle would otherwise create a quadratic
  *             bucket) → co-occurrence counts → Jaccard from counts.
  */
object Dedup {

  /** Canonical text normalization before hashing: lowercase, trim,
    * collapse whitespace. */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Exact dedup: sha256 of normalized content, keep the lowest id per
    * hash (deterministic keep-first — SURVEY §7.4.3). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(idCol)
    df.withColumn("content_hash", sha2(normalize(col(textCol)), 256))
      .withColumn("__rn", row_number().over(w))
      .withColumn("is_canonical", col("__rn") === 1)
      .drop("__rn")
  }

  /** One (id, shingle) row per distinct shingle per doc. The token array
    * is materialized FIRST (Stage.materialize): that boundary stops
    * CollapseProject from inlining the tokenize regex into the shingle
    * lambda (inlined, the regex re-runs once per shingle — the measured
    * round-1 pathology), so the single non-nested `transform` below only
    * does O(1) `element_at` reads per shingle. This replaces the previous
    * posexplode → window-lead construction — same output, one less
    * shuffle+sort over the exploded relation. Docs shorter than the
    * shingle size fall back to one whole-text shingle, selected by token
    * count.
    *
    * The result is itself staged — every caller feeds it into
    * 2-3 different shuffles (signatures, co-occurrence joins, sizes), so
    * it is computed exactly once, its lineage is truncated, and AQE has
    * already sized its partitions to the real (post-explode) row count.
    * Blocks are released by the ContextCleaner when the result goes out
    * of scope, so library callers don't leak executor cache. */
  private[operators] def explodedShingles(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    explodedShingles(df, idCol, textCol, shingleSize, withHashes = true)

  /** `withHashes = false` skips the two md5 spans: the ngram-Jaccard /
    * containment / prefix-join consumers never read `__h1`/`__h2`
    * (only the minhash family does), so computing and staging them
    * there was two wasted md5 calls per shingle plus 16 bytes per row
    * through every downstream exchange. */
  private[operators] def explodedShingles(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, withHashes: Boolean): DataFrame = {
    // lazy persist, not an eager localCheckpoint: the relation has exactly
    // one consumer (the shingle projection below), so it needs the
    // CollapseProject BARRIER — without one the tokenize regex inlines
    // into the shingle lambda and re-runs per element_at — but not its own
    // materialization job; the staging job for `rel` below computes the
    // token arrays on its way through the cache.
    val toks = graft.engine.Stage.cache(
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .spreadBy(col("id"))
        .select(col("id"), TextFunctions.tokens(col("__text")).as("toks")))
    val shingle = transform(
      sequence(lit(0), size(col("toks")) - shingleSize),
      i => concat_ws(" ",
        (0 until shingleSize).map(j => element_at(col("toks"), i + j + 1)): _*))
    // per-doc distinct via array_distinct INSIDE the row, not a global
    // distinct() of the exploded relation: the dedup is per (id, shingle)
    // and every id's shingles come from one row, so the set is identical —
    // without the full-width exchange + hash aggregate the distinct()
    // cost. The short-doc fallback rides the same CASE (evaluated lazily
    // per branch), replacing the former full/short union's second scan.
    val shingles = when(size(col("toks")) >= shingleSize,
        array_distinct(shingle))
      .otherwise(array(concat_ws(" ", col("toks"))))
    // __h1/__h2: the shingle string hashed ONCE into the staged relation
    // (two independent 56-bit md5 spans). Consumers that derive
    // per-component hashes (minhash) combine these affinely instead of
    // rehashing the string per component — an expression in the aggregate
    // would be re-evaluated per component (no CSE across aggregate
    // functions; measured 1.7× slower) — and the md5 basis makes the
    // whole LSH family recomputable in oracle SQL.
    val rel = toks.select(col("id"), explode(shingles).as("shingle"))
    (if (withHashes) rel
        .withColumn("__h1", Det.h56(col("shingle")))
        .withColumn("__h2", Det.h56(col("shingle"), pos = 17))
      else rel)
      .staged
  }

  private def dropHashes(df: DataFrame): DataFrame = df.drop("__h1", "__h2")

  /** Jaccard from intersection count + per-doc set sizes:
    * |A∩B| / (|A| + |B| − |A∩B|). */
  private def jaccardFromCounts(pairsWithInter: DataFrame,
      sizes: DataFrame): DataFrame =
    pairsWithInter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "n_b")), Seq("id_b"))
      .withColumn("jaccard", Det.roundN(
        col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))

  /** Candidate pairs from (id, band_id, band_hash) rows, bucket-capped,
    * id-ordered, deduped.
    *
    * `keyed` is staged first: it is the OUTPUT of the signature aggregate
    * (the 64-min() minhash loop / the 56-sum simhash pack), and the
    * bucket self-join below consumes it on BOTH sides — unstaged,
    * Catalyst evaluates the whole aggregate + posexplode + window subtree
    * once per side (AQE reuses only the exchange, not the post-shuffle
    * window stage). The staged relation is tiny (rows × bands). */
  private def pairsFromBuckets(keyed0: DataFrame, maxBucket: Int): DataFrame = {
    val keyed = graft.engine.Stage.materialize(keyed0)
    val sized = keyed
      .withColumn("__bn",
        count(lit(1)).over(Window.partitionBy("band_id", "band_hash")))
      .filter(col("__bn") <= maxBucket)
    val l = sized.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
    val r = sized.select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Largest prime below 2^56 — the affine MinHash family's modulus.
    * WITHOUT the mod, h1 + i·h2 is order-preserving in h2 for large i, so
    * every component past the first few is minimized by each doc's
    * min-h2 shingle — and every doc containing the corpus-wide min-h2
    * COMMON shingle lands in one band mega-bucket. The cap filters those
    * (recall survives) but the per-bucket count window degenerates to
    * 100k+-row single-task partitions first (measured: 5× on the 11×
    * probe). Reducing mod a prime wraps i·h2 around, restoring the
    * classic universal family ((a + i·b) mod p) with independent minima
    * per component. Sum stays under 2^62 — exact on both engines. */
  val MinhashPrime = 72057594037927931L

  /** MinHash signatures + LSH band keys from a staged shingle relation.
    * One codegen'd aggregate computes every minhash component + set size.
    * The component family is the affine construction
    * h_i = (h1 + i·h2) mod [[MinhashPrime]] over the two staged 56-bit
    * md5 spans (`__h1`/`__h2`) — the standard two-base-hash MinHash
    * family, overflow-free, pure arithmetic in the aggregate (cheaper
    * than a per-component hash call), and — because both engines compute
    * md5 identically — recomputable in oracle SQL end-to-end. Band keys
    * are the plain comma-joined component strings (no re-hash: the
    * string IS a unique key for the band's component vector).
    * Returns (sizes: (id, n), keyed: (id, band_id, band_hash)). */
  private[operators] def sigKeyed(exploded: DataFrame, numHashes: Int,
      bands: Int): (DataFrame, DataFrame) = {
    // overflow guard: h1,h2 < 2^56, so h1 + i·h2 stays under 2^63 only
    // for i ≤ 64 — beyond that the Long wraps negative and Spark's %
    // keeps the sign, silently corrupting components (degraded recall
    // with no error). Bloom/CountMin carry the same k<64 guard.
    require(numHashes <= 64 && numHashes >= 1,
      s"numHashes=$numHashes out of the overflow-safe range [1,64] " +
        "for the affine h1+i*h2 family")
    require(bands >= 1 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    val minCols = (0 until numHashes).map(i =>
      min((col("__h1") + lit(i.toLong) * col("__h2")) % MinhashPrime)
        .as(s"__h$i"))
    val sigs = exploded.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      concat_ws(",",
        (0 until rows).map(r => col(s"__h${b * rows + r}").cast("string")): _*)
    }
    val keyed = sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_hash")))
    // sizes as a SEPARATE count-only aggregate over the staged exploded
    // relation, not a projection of `sigs`: sizes and keyed always land in
    // different shuffles (Jaccard denominators vs band buckets), so a
    // shared `sigs` subtree is evaluated once per consumer anyway — and
    // every evaluation of `sigs` pays the full 64-min() update loop. The
    // count-only plan computes identical n (exploded is distinct per
    // (id, shingle) by construction) at 1/65th the aggregate state.
    val sizes = exploded.groupBy(col("id")).agg(count(lit(1)).as("n"))
    (sizes, keyed)
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) for pairs ≥ threshold. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, maxBucket: Int = 64): DataFrame = {
    val exploded = explodedShingles(df, idCol, textCol, shingleSize)
    val (sizes, keyed) = sigKeyed(exploded, numHashes, bands)
    val cands = pairsFromBuckets(keyed, maxBucket)
    // exact intersection counts via the exploded relation. No broadcast
    // hint on the candidate side: its cardinality is data-dependent and
    // unbounded at corpus scale, and a forced broadcast would fail the job
    // past the 8 GB cap — AQE picks a broadcast join at runtime when the
    // candidate set actually is small.
    val inter = cands
      .join(dropHashes(exploded).withColumnsRenamed(Map("id" -> "id_a")), Seq("id_a"))
      .join(dropHashes(exploded).withColumnsRenamed(Map("id" -> "id_b")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, sizes)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH quality evaluation — precision/recall/F1 of the banded MinHash
    * CANDIDATE set against exact ground truth, the metric pair that
    * decides (bands, rows, maxBucket) tuning before a 100 TB dedup run:
    * recall < 1 means the band scheme drops true near-dups (more bands /
    * shorter rows needed); low precision means wasted exact-verify work.
    *
    * Ground truth is the UNCAPPED shingle co-occurrence index over the
    * same corpus: any pair with Jaccard ≥ threshold > 0 shares ≥ 1
    * shingle, so the inverted index enumerates G completely — exact, but
    * posting-quadratic, which is why it's the eval harness (run on a
    * fixture/sample) and never the production path. tp = candidates
    * whose exact Jaccard clears the threshold, i.e. |C ∩ G| (the
    * verify step already computes exact Jaccard per candidate).
    *
    * Returns ONE row: (n_candidates, n_truth, tp, prec, rec, f1) —
    * corpus-size-independent output, rounded after division so both
    * engines compare identical doubles. */
  def lshEval(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, maxBucket: Int = 64): DataFrame = {
    val exploded = explodedShingles(df, idCol, textCol, shingleSize)
    val (sizes, keyed) = sigKeyed(exploded, numHashes, bands)
    val cands = pairsFromBuckets(keyed, maxBucket)
    val e = dropHashes(exploded)
    val inter = cands
      .join(e.withColumnsRenamed(Map("id" -> "id_a")), Seq("id_a"))
      .join(e.withColumnsRenamed(Map("id" -> "id_b")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val candJ = jaccardFromCounts(inter, sizes)
      .select("id_a", "id_b", "jaccard")
    val gInter = e.withColumnsRenamed(Map("id" -> "id_a"))
      .join(e.withColumnsRenamed(Map("id" -> "id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val truth = jaccardFromCounts(gInter, sizes)
      .filter(col("jaccard") >= threshold)
    val m = candJ.agg(
      count(lit(1)).as("n_candidates"),
      count(when(col("jaccard") >= threshold, 1)).as("tp"))
    val g = truth.agg(count(lit(1)).as("n_truth"))
    m.crossJoin(g)
      .withColumn("prec", Det.roundN(
        when(col("n_candidates") > 0,
          col("tp") * lit(1.0) / col("n_candidates")).otherwise(0.0), 6))
      .withColumn("rec", Det.roundN(
        when(col("n_truth") > 0,
          col("tp") * lit(1.0) / col("n_truth")).otherwise(0.0), 6))
      .withColumn("f1", Det.roundN(
        when(col("prec") + col("rec") > 0,
          lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))
          .otherwise(0.0), 6))
      .select("n_candidates", "n_truth", "tp", "prec", "rec", "f1")
  }

  /** The at-rest MinHash-LSH corpus index for ingest-time near-dup checks:
    * band buckets (the probe target), the per-doc distinct shingle relation
    * (the exact-verify source), and per-doc set sizes. On a cluster these
    * three relations live as parquet/Delta tables bucketed by
    * (band_id, band_hash) resp. id; a new batch probes them without ever
    * re-running corpus×corpus LSH. The LSH parameters ride along so a probe
    * can't silently use a different hash family than the index build. */
  final case class MinhashLshIndex(buckets: DataFrame, shingles: DataFrame,
      sizes: DataFrame, numHashes: Int, bands: Int, shingleSize: Int)

  /** Build the [[MinhashLshIndex]] for an existing corpus — the one-time
    * (or incrementally maintained) index-build job. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3): MinhashLshIndex = {
    val exploded = explodedShingles(corpus, idCol, textCol, shingleSize)
    val (sizes, keyed) = sigKeyed(exploded, numHashes, bands)
    MinhashLshIndex(keyed, dropHashes(exploded), sizes,
      numHashes, bands, shingleSize)
  }

  /** Incremental MinHash near-dup: probe an arriving batch against a stored
    * corpus index — the ingest-time shape at 100 TB. Shuffle work is
    * O(|batch| + touched buckets), NEVER corpus×corpus: batch band keys
    * look up only their own buckets in the index, and the exact-Jaccard
    * verify joins the (small) candidate set against the shingle relations,
    * which AQE turns into a broadcast-side lookup of the corpus table.
    *
    * Returns (id_a, id_b, jaccard) for every near-dup pair with AT LEAST
    * ONE batch side — batch×corpus and batch×batch (an arriving batch can
    * duplicate itself); corpus×corpus pairs are by construction out of
    * scope (they were reported when THOSE docs arrived). The bucket cap is
    * applied to the COMBINED (corpus + batch) bucket size, so the result
    * is identical to re-running [[minhashNearDups]] over corpus ∪ batch
    * and keeping the batch-involving pairs — DedupSpec proves it. */
  def minhashProbe(batch: DataFrame, index: MinhashLshIndex, idCol: String,
      textCol: String, threshold: Double = 0.8,
      maxBucket: Int = 64): DataFrame = {
    // both bucket relations are multi-consumer inside the probe (batch 3×,
    // corpus 2×) and on THIS path they are unstaged sigKeyed outputs —
    // each consumer would re-run the full 64-min signature aggregate.
    // Staged here, at the path that builds them in-session, and NOT
    // inside minhashProbeIndexed: the ingest loop hands that one
    // parquet-backed relations whose corpus side it anti-joins per
    // micro-batch, and staging O(corpus) buckets every batch is exactly
    // the wrong trade at ingest rates.
    def stagedKeyed(ix: MinhashLshIndex) = MinhashLshIndex(
      graft.engine.Stage.materializeIfComputed(ix.buckets),
      ix.shingles, ix.sizes, ix.numHashes, ix.bands, ix.shingleSize)
    minhashProbeIndexed(
      stagedKeyed(minhashIndex(batch, idCol, textCol, index.numHashes,
        index.bands, index.shingleSize)),
      stagedKeyed(index), threshold, maxBucket)
  }

  /** [[minhashProbe]] with the batch's OWN index pre-built: callers that
    * also append the batch to the store (the ingest loop,
    * [[graft.streaming.NearDupIngest]]) build the batch's
    * shingle→minhash family exactly once and pass it to both the probe
    * and the store append — the family is the dominant cost per batch,
    * so recomputing it inside the probe doubled every micro-batch. */
  def minhashProbeIndexed(batch: MinhashLshIndex, index: MinhashLshIndex,
      threshold: Double = 0.8, maxBucket: Int = 64): DataFrame = {
    require(batch.numHashes == index.numHashes && batch.bands == index.bands
      && batch.shingleSize == index.shingleSize,
      "batch and corpus indexes were built with different LSH parameters")
    // multi-consumer bucket relations (batch 3×, corpus 2×): callers that
    // build them in-session stage them first (see minhashProbe); the
    // ingest loop's are parquet-backed and cheap to re-read.
    val bKeyed = batch.buckets
    val cKeyed = index.buckets
    val bSizes = batch.sizes
    // combined per-bucket population = stored corpus count + batch count;
    // only buckets the batch touches are ever aggregated on the corpus
    // side (the semi-join below), and every group has >= 1 batch member
    // by construction, so ONE aggregation over the union replaces the
    // former touched->corpus-counts->join chain — one fewer sequential
    // broadcast job per probe (micro-batch cost is job-count-bound:
    // harness floor 0.97 s of 6.67 s at sf0.1, r16).
    //
    // Every relation derived from the BATCH side (touched keys, surviving
    // bucket keys, batch members) is explicitly broadcast: the batch's
    // staged frame is a LogicalRDD without stats, so Spark's size
    // estimate defaults to "huge" and auto-broadcast never fires — each
    // hint below replaces a full shuffle of the CORPUS-sized relation
    // with a map-side lookup, and every hinted side is batch-bounded
    // (<= |batch| x bands rows), the same boundedness class as the
    // ingest loop's self-exclusion id broadcast.
    val touchedKeys = bKeyed.select("band_id", "band_hash").distinct()
    val okBuckets = bKeyed.select("band_id", "band_hash")
      .unionByName(cKeyed
        .join(broadcast(touchedKeys), Seq("band_id", "band_hash"),
          "left_semi")
        .select("band_id", "band_hash"))
      .groupBy("band_id", "band_hash").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band_id", "band_hash")
    val bM = bKeyed.join(broadcast(okBuckets), Seq("band_id", "band_hash"))
    val cM = cKeyed.join(broadcast(okBuckets), Seq("band_id", "band_hash"))
    // batch × (batch ∪ corpus) members of surviving buckets — the corpus
    // side is only ever the probed buckets' members
    val cands = broadcast(bM)
      .join(bM.unionByName(cM).withColumnsRenamed(Map("id" -> "id_r")),
        Seq("band_id", "band_hash"))
      .select(least(col("id"), col("id_r")).as("id_a"),
        greatest(col("id"), col("id_r")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    val shingles = batch.shingles.unionByName(index.shingles)
    val sizes = bSizes.unionByName(index.sizes)
    val inter = cands
      .join(shingles.withColumnsRenamed(Map("id" -> "id_a")), Seq("id_a"))
      .join(shingles.withColumnsRenamed(Map("id" -> "id_b")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, sizes)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs: 56-bit majority-vote signatures (explode →
    * 56 signed sums → pack), 4×14-bit band blocking, xor-popcount verify.
    *
    * 56 bits, not 64: the per-token hash is the cross-engine md5-derived
    * [[Det.h56]], which makes the ENTIRE pipeline — signatures, banding,
    * bucket cap, Hamming verify — expressible in oracle SQL and therefore
    * hash-checked against DuckDB, not just spec-checked. The 8 lost bits
    * shift the Hamming-distance-per-cosine-angle scale by 56/64 ≈ 0.9 —
    * immaterial next to end-to-end verifiability. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Int = 256): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), Det.h56(col("t")).as("h"))
    val bitSums = (0 until 56).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"__s$b"))
    val packed = tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 56).map(b =>
          when(col(s"__s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), 14 * b).bitwiseAND(lit(16383L)))
    // carry the signature through the bucket join so the Hamming filter
    // runs INSIDE the join — only surviving pairs reach the distinct,
    // instead of shuffling every bucket collision first. Staged for the
    // same reason as pairsFromBuckets: both self-join sides read it, and
    // unstaged the 56-sum pack aggregate evaluates once per side.
    val keyed = graft.engine.Stage.materialize(
      packed.select(col("id"), col("simhash"),
        posexplode(array(bandCols: _*)).as(Seq("band_id", "band_hash"))))
    val sized = keyed
      .withColumn("__bn",
        count(lit(1)).over(Window.partitionBy("band_id", "band_hash")))
      .filter(col("__bn") <= maxBucket)
    val l = sized.select(col("band_id"), col("band_hash"),
      col("id").as("id_a"), col("simhash").as("sim_a"))
    val r = sized.select(col("band_id"), col("band_hash"),
      col("id").as("id_b"), col("simhash").as("sim_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** Connected components over near-dup pairs: the step after pair
    * generation — duplicates form chains (A≈B, B≈C), and keeping one doc
    * per CLUSTER needs transitive closure, not pairs. Label propagation
    * with pointer doubling: every node starts labeled with its own id and
    * each round adopts the minimum of (own label, neighbors' labels, label
    * of its own label) — the extra label-of-label hop makes label
    * information travel two steps per round, so convergence takes
    * O(log diameter) rounds instead of O(diameter). The canonical doc of a
    * cluster is its minimum id.
    *
    * Scale shape: the (possibly expensive) pair pipeline is materialized
    * exactly once via Stage.materializeAlways, which also truncates lineage
    * — round N's plan reads two small flat relations, not an
    * N-times-nested join tree — and lets AQE size shuffle partitions to
    * the real (post-LSH) edge count rather than the input's. ONE
    * materializing job per round — the convergence count rides the same
    * job via an accumulator instead of a second scan. Each round's staged
    * blocks are released by the ContextCleaner once the next round no
    * longer references them.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`. Logs a
    * warning if maxIter rounds were not enough to converge (with doubling
    * that needs a component of diameter > 2^maxIter). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .stagedAlways
    // seed each node's label with min(id, min neighbor) instead of id:
    // the same one-aggregate shuffle as the former distinct() init, but
    // it IS the first min-propagation round, so near-clique components
    // (the dedup norm — diameter 1-2) converge one staged round earlier
    var labels = edges.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("__nm"))
      .select(col("id"), least(col("id"), col("__nm")).as("cluster_id"))
      .stagedAlways
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnsRenamed(Map("id" -> "id_a")), Seq("id_a"))
        .groupBy(col("id_b").as("id"))
        .agg(min(col("cluster_id")).as("nmin"))
      val hop = labels
        .join(labels.select(col("id").as("cluster_id"), col("cluster_id").as("lmin")),
          Seq("cluster_id"))
        .select(col("id"), col("lmin"))
      val next0 = labels
        .join(neighborMin, Seq("id"), "left")
        .join(hop, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("__old"),
          least(col("cluster_id"),
            coalesce(col("nmin"), col("cluster_id")),
            coalesce(col("lmin"), col("cluster_id"))).as("cluster_id"))
      // Convergence count folded into the round's materialization: rows
      // stream through a LongAccumulator on their way into the staged
      // blocks — ONE job per round instead of materialize + count-scan.
      // Task retries can only over-count a nonzero round (a retried task
      // re-adds); a converged round adds nothing from any attempt, so the
      // changed==0 exit is exact, and over-counting a nonzero round only
      // repeats the (idempotent) label refinement.
      val acc = pairs.sparkSession.sparkContext
        .longAccumulator(s"graft_cc_changed_$iter")
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(next0.schema)
      val next = next0.map { r =>
        if (r.get(1) != r.get(2)) acc.add(1L)
        r
      }.stagedAlways
      changed = acc.value
      labels = next.select("id", "cluster_id")
      iter += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); cluster_ids may split one component")
    labels
  }

  /** Incremental exact dedup: the ingest-time variant — an arriving batch
    * is checked against the existing corpus's content hashes, not against
    * the whole corpus re-hashed. Returns the batch rows with `is_new`
    * (content unseen in the corpus) and `batch_canonical` (first row per
    * hash WITHIN the batch, so intra-batch duplicates collapse too). At
    * rest the corpus hash set is a bucketed/Z-ordered hash column the
    * anti-join prunes against; here it is one left-anti-shaped join on
    * the 64-hex hash — shuffle O(|batch| + |corpus hashes|), broadcast
    * when the batch is small. */
  def incrementalExact(batch: DataFrame, corpusHashes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(idCol)
    val hashed = batch
      .withColumn("content_hash", sha2(normalize(col(textCol)), 256))
      .withColumn("batch_canonical", row_number().over(w) === 1)
    hashed.join(
        corpusHashes.select(col("content_hash")).distinct()
          .withColumn("__seen", lit(true)),
        Seq("content_hash"), "left")
      .withColumn("is_new", col("__seen").isNull)
      .drop("__seen")
  }

  /** Exact substring-duplication signal: every length-`window` token span
    * in every document, counted corpus-wide; a document's duplication
    * fraction is the share of its spans that occur more than once in the
    * corpus (in another doc or repeated locally). This is the
    * substring-level dedup flag (the train-data-dedup literature's exact
    * substring match, at fixed window length) that doc-level hashing and
    * shingle-set Jaccard both miss: a long quote inside an otherwise
    * unique document.
    *
    * Shape: one posexplode, a (window−1)-lead per-doc window to form
    * spans, one corpus-wide hash aggregate for span counts, one
    * sort-merge join back, one per-doc aggregate — shuffle O(rows ×
    * tokens), no pair enumeration anywhere (counts, not pairs, so no
    * posting cap is needed). Returns every input doc:
    * (idCol, n_spans, n_dup_spans, dup_fraction); docs shorter than
    * `window` tokens report zeros. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "t0")))
    val w = Window.partitionBy("id").orderBy("pos")
    val spanCols = (1 until window).map(i =>
      lead(col("t0"), i).over(w).as(s"t$i"))
    // spans is read twice (corpus-wide count + count-join) but NOT staged:
    // the 11× probe measured recomputing the tokenize+window subtree
    // (3.4s) strictly cheaper than materializing the rows×spans string
    // relation (5.3s) — the checkpoint-vs-recompute call goes the other
    // way here than for the narrow aggregates staged elsewhere
    val spans = tok.select(col("id") +: col("pos") +: col("t0") +: spanCols: _*)
      .filter(col(s"t${window - 1}").isNotNull)
      .select(col("id"),
        concat_ws(" ", (0 until window).map(i => col(s"t$i")): _*).as("span"))
    val counts = spans.groupBy("span").agg(count(lit(1)).as("n_occ"))
    val agg = spans.join(counts, Seq("span"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("n_occ") >= 2, 1)).as("n_dup_spans"))
    df.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) > 0,
          Det.roundN(col("n_dup_spans").cast("double") / col("n_spans"), 4))
          .otherwise(0.0).as("dup_fraction"))
  }

  /** Exact-substring dedup REWRITE (the removal step on top of
    * [[duplicateSpans]]' detection): every token position covered by at
    * least one `window`-token span that occurs ≥2 times corpus-wide is
    * dropped, and each document is reassembled from its surviving tokens
    * in order — the "delete the duplicated substring itself, keep the
    * unique prose" dedup of the exact-substring line of work.
    *
    * Shape: per-doc token arrays cached once; spans WITH their start
    * position built in-row from the arrays (transform + posexplode, no
    * shuffle, cached for their two consumers); one corpus-wide span-count
    * hash aggregate whose ≥2 set joins back; coverage = explode of
    * `window` offsets per duplicated span occurrence (bounded:
    * O(dup_spans × window)); then an (id, pos) anti-join and a per-doc
    * ordered reassembly. Counts and positions only — no pair
    * enumeration, no posting caps needed. Returns every input doc:
    * (idCol, n_tokens, n_removed, clean_text). */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4): DataFrame = {
    // Token ARRAYS, staged once (lazy persist: the barrier stops
    // CollapseProject from inlining the tokenize regex into the span
    // lambda — explodedShingles' measured pathology): spans and the
    // reassembly tokens both derive from the arrays map-side, so the old
    // posexplode → Exchange + Sort + Window(lead×(w−1)) span build — run
    // TWICE, once per spans consumer (dup-set aggregate and coverage
    // join; only the exchange is AQE-reused, not the window stage) — is
    // replaced by a shuffle-free in-row transform, the same shape
    // explodedShingles moved to in r15.
    val toks = graft.engine.Stage.cache(
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .spreadBy(col("id"))
        .select(col("id"), TextFunctions.tokens(col("__text")).as("toks")))
    val spanArr = transform(
      sequence(lit(0), size(col("toks")) - window),
      i => concat_ws(" ",
        (0 until window).map(j => element_at(col("toks"), i + j + 1)): _*))
    // spans cached lazily: both consumers (dup-set aggregate, coverage
    // join) read it, and the per-span concat_ws would otherwise run once
    // per consumer; the first consumer's pass materializes the cache
    val spans = graft.engine.Stage.cache(
      toks.filter(size(col("toks")) >= window)
        .select(col("id"), posexplode(spanArr).as(Seq("start", "span"))))
    val tok = toks.select(col("id"),
      posexplode(col("toks")).as(Seq("pos", "t0")))
    // duplicated-span set via hash aggregate + join, not a count()
    // window: the window form exchanges AND sorts the full wide
    // (id, start, span) relation; the aggregate shuffles only the span
    // column (map-side combined), and the surviving >= 2 set is the
    // SELECTIVE side — small enough that the join back is a broadcast,
    // so the span relation itself is never exchanged here at all
    val dupSet = spans.select("span")
      .groupBy("span").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select("span")
    val covered = spans.join(dupSet, Seq("span"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + lit(window - 1)))
          .as("pos"))
      .distinct()
    val rebuilt = tok.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("t0")))),
            s => s.getField("t0"))).as("clean_text"))
    // n_tokens from the cached arrays (size ≡ wordCount by definition),
    // not a second tokenize pass over the raw text
    toks.select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Relative posting-list cap for the inverted-index similarity ops:
    * `greatest(base, ceil(n_docs·base/per))` — 32 postings per 5,000 docs
    * at the anchor, so the cap GROWS with the corpus. The absolute form
    * degenerates under corpus growth over a bounded shingle namespace:
    * discriminative shingles' document frequency scales with the corpus
    * (boilerplate and topical phrasing recur corpus-wide), so a fixed cap
    * eventually rejects every posting list and the index silently goes
    * empty — measured on the generated sf1 lake, where cap 32 yields ZERO
    * pairs and the relative cap (320) restores the exact per-replica pair
    * structure (256×10). Same in-plan 1-row-broadcast discipline as
    * [[Itemsets.thresholdExprSql]]; DF-ratio pruning is the similarity-
    * join literature's standard form of this knob. */
  val PostingCapBase = 32L
  val PostingCapPerDocs = 5000L
  def postingCapExprSql(nDocsExpr: String, base: Long = PostingCapBase,
      per: Long = PostingCapPerDocs): String =
    s"greatest($base, ($nDocsExpr * $base + ${per - 1}) div $per)"
  /** DuckDB-dialect mirror of [[postingCapExprSql]]. */
  def postingCapOracleSql(nDocsExpr: String, base: Long = PostingCapBase,
      per: Long = PostingCapPerDocs): String =
    s"GREATEST($base, ($nDocsExpr * $base + ${per - 1}) // $per)"

  /** Posting-cap strategy for the inverted-index ops: a literal stays a
    * plain pushable filter (no join in the plan at all); the relative form
    * is a corpus-count aggregate broadcast into the filter as a 1-row
    * relation so the cap is decided in-plan, never on the driver. */
  private sealed trait Cap
  private case class LiteralCap(maxPosting: Int) extends Cap
  private case object RelativeCap extends Cap

  /** Postings banded to [2, cap] under the given [[Cap]] strategy.
    *
    * Shape: hash-aggregate the per-shingle document frequency and join the
    * surviving shingles back, NOT a count() window — the window form costs
    * Exchange + SORT + Window, and because `useful` feeds BOTH sides of
    * the candidate self-join, that sort ran twice (once per consumer
    * stage; only the exchange itself is AQE-reused). The aggregate form
    * sorts nothing, its join keys both sides of the candidate join on the
    * same shingle partitioning, and the map side of the postings exchange
    * is reused across the two consumers.
    *
    * `docs` is the operator's SOURCE relation; the relative cap's corpus
    * count is `count(1)` over it — value-identical to the oracle's
    * COUNT(DISTINCT id) over the shingle CTE (ids are unique per source
    * row and every doc emits ≥ 1 shingle row, including the short-doc
    * whole-text fallback) but plan-cheap: a column-less parquet count
    * instead of a two-phase count-distinct exchange over the full
    * exploded relation. */
  private def usefulPostings(exploded: DataFrame, cap: Cap,
      docs: DataFrame): DataFrame = {
    // project before the exchange (guide §2.3): minhash callers'
    // __h1/__h2 are dead weight here
    val counts = exploded.select("shingle")
      .groupBy("shingle").agg(count(lit(1)).as("__pn"))
    val ok = (cap match {
      case LiteralCap(m) =>
        counts.filter(col("__pn").between(lit(2L), lit(m.toLong)))
      case RelativeCap =>
        counts
          .crossJoin(broadcast(docs
            .agg(expr(postingCapExprSql("count(1)"))
              .cast("long").as("__cap"))))
          .filter(col("__pn").between(lit(2L), col("__cap")))
    }).select("shingle")
    exploded.select("id", "shingle").join(ok, Seq("shingle"))
  }

  /** N-gram Jaccard via inverted-index blocking: prune shingles to useful
    * postings (2..maxPosting docs), self-join the postings to count
    * co-occurrences — |A∩B| directly, no arrays — then Jaccard from
    * counts. Fixed-cap form for fixed-corpus analyses and as the scale
    * probes' degeneration control; production callers use
    * [[ngramJaccardDupsFrac]]. */
  def ngramJaccardDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxPosting: Int = 32): DataFrame =
    ngramJaccard(df, idCol, textCol, threshold, shingleSize,
      LiteralCap(maxPosting))

  /** [[ngramJaccardDups]] with the posting cap derived from the corpus
    * size in-plan ([[postingCapExprSql]]) — the scale-correct default. */
  def ngramJaccardDupsFrac(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3): DataFrame =
    ngramJaccard(df, idCol, textCol, threshold, shingleSize, RelativeCap)

  private def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int, cap: Cap): DataFrame = {
    val exploded = explodedShingles(df, idCol, textCol, shingleSize,
      withHashes = false)
    val sizes = exploded.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val useful = usefulPostings(exploded, cap, df)
    val inter = useful.withColumnsRenamed(Map("id" -> "id_a"))
      .join(useful.withColumnsRenamed(Map("id" -> "id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, sizes)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family: order each doc's shingles by global rarity, and only the
    * first `|set| - ceil(t·|set|) + 1` tokens of each doc generate
    * candidates). Complements [[ngramJaccardDups]]: the inverted-index
    * pass caps posting lists at `maxPosting` (a skew guard that can DROP
    * true pairs whose only shared shingles are boilerplate), while this
    * join is provably complete — if J(a,b) ≥ t then |A∩B| ≥ t·max(|A|,|B|),
    * so prefixes of the stated length must share a token, and every true
    * pair survives candidate generation. Exactness with NO posting cap is
    * affordable because prefixes hold each doc's RAREST shingles: a
    * shingle's candidate-join fan-out is its prefix-posting count, and
    * frequent (boilerplate) shingles sit at the tail of the order where
    * they are never indexed. Worst-case fan-out is a clone cluster
    * sharing rare shingles — O(cluster²) pairs, which is the true output
    * size, not accidental skew. Two more standard prunes bound the
    * verify set: the length filter (J ≥ t ⟹ min(n) ≥ t·max(n)) at
    * candidate time, and intersection counting on the shared exploded
    * relation (never array materialization).
    *
    * Threshold arithmetic nudges the safe way: `ceil(t·n)` and the
    * length filter subtract 1e-9 before rounding, so binary-double noise
    * (0.8·5 = 4.000000000000001 would otherwise ceil to 5) can only
    * lengthen a prefix / keep a candidate — false positives the exact
    * verify removes, never false negatives.
    *
    * Reference's near-dup pass (scripts/silver/clean_covid.py:61) keeps
    * pandas' first-of-exact-duplicates; this is the corpus-scale exact
    * generalization. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3): DataFrame = {
    val exploded = explodedShingles(df, idCol, textCol, shingleSize,
      withHashes = false)
    val sizes = exploded.groupBy(col("id")).agg(count(lit(1)).as("n")).staged
    // global total order on tokens: rarest first (document frequency asc,
    // shingle asc — total because shingle is unique in the freq relation)
    val freq = exploded.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val prefix = exploded.join(freq, Seq("shingle"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("shingle"))))
      .join(sizes, Seq("id"))
      .filter(col("__pos") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select("id", "shingle", "n")
      // deliberately NOT staged even though both sides of the candidate
      // self-join read it: recomputing the rank window from the staged
      // exploded relation beats materializing the prefix rows (measured
      // 9.7s vs 14.0s at sf0.1, 55s vs 62s at 11x) — same
      // stage-vs-recompute call as duplicateSpans
    val cands = prefix
      .select(col("id").as("id_a"), col("shingle"), col("n").as("__na"))
      .join(prefix
        .select(col("id").as("id_b"), col("shingle"), col("n").as("__nb")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")) >=
        lit(threshold) * greatest(col("__na"), col("__nb")) - lit(1e-9))
      .select("id_a", "id_b").distinct()
    val inter = cands
      .join(exploded.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(exploded.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    jaccardFromCounts(inter, sizes)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directed containment detection — C(A→B) = |A∩B| / |A| over n-gram
    * shingle sets: flags documents SUBSUMED by a larger one (quoted
    * articles, excerpt pages, boilerplate-wrapped copies) that symmetric
    * Jaccard misses entirely — a 200-token snippet inside a 5000-token
    * page has J ≈ 0.04 but containment 1.0, and snippet-in-page is the
    * duplication shape crawl corpora are full of.
    *
    * Same inverted-index shape as [[ngramJaccardDups]] (posting lists
    * capped at `maxPosting`, co-occurrence counted on the exploded
    * relation, never array intersections); each undirected candidate
    * pair then emits up to two DIRECTED rows (sub → super per side) from
    * the single intersection count, so the asymmetry costs one explode,
    * not a second join. Returns (id_sub, id_sup, containment) where
    * id_sub's shingle set is ≥ `threshold`-contained in id_sup's. */
  def containmentDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleSize: Int = 3,
      maxPosting: Int = 32): DataFrame =
    containment(df, idCol, textCol, threshold, shingleSize,
      LiteralCap(maxPosting))

  /** [[containmentDups]] with the posting cap derived from the corpus
    * size in-plan ([[postingCapExprSql]]) — the scale-correct default. */
  def containmentDupsFrac(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleSize: Int = 3): DataFrame =
    containment(df, idCol, textCol, threshold, shingleSize, RelativeCap)

  private def containment(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int, cap: Cap): DataFrame = {
    val exploded = explodedShingles(df, idCol, textCol, shingleSize,
      withHashes = false)
    val sizes = exploded.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val useful = usefulPostings(exploded, cap, df)
    val inter = useful.withColumnsRenamed(Map("id" -> "id_a"))
      .join(useful.withColumnsRenamed(Map("id" -> "id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), Seq("id_b"))
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_sup"),
          Det.roundN(col("inter") * lit(1.0) / col("__na"), 4)
            .as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_sup"),
          Det.roundN(col("inter") * lit(1.0) / col("__nb"), 4)
            .as("containment")))).as("__dir"))
      .select(col("__dir.id_sub").as("id_sub"),
        col("__dir.id_sup").as("id_sup"), col("__dir.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Soft dedup — downweight duplicates instead of dropping them: every
    * member of a near-dup cluster gets sampling weight 1/|cluster|, so a
    * document duplicated n times contributes ONE document's worth of
    * probability mass to training sampling, while singletons keep weight
    * 1. The drop-vs-downweight choice is a curation policy; this is the
    * policy the "dedup hurts rare data" line of work prefers.
    *
    * `clusters` is (id, cluster_id) — [[connectedComponents]] output over
    * any pair generator; `docs` supplies the full corpus so un-clustered
    * docs surface with n_dups 1. One cluster-keyed count + two
    * unique-keyed joins; shuffle O(rows). Returns (idCol, cluster_id —
    * the doc's own id when unclustered, n_dups, weight). */
  def duplicationWeights(clusters: DataFrame, docs: DataFrame,
      idCol: String = "id"): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_dups"))
    val labeled = clusters.join(sizes, Seq("cluster_id"))
      .withColumnsRenamed(Map("id" -> "__cid"))
    docs.select(col(idCol).as("__cid"))
      .join(labeled, Seq("__cid"), "left")
      .select(col("__cid").as(idCol),
        coalesce(col("cluster_id"), col("__cid")).as("cluster_id"),
        coalesce(col("n_dups"), lit(1L)).as("n_dups"),
        Det.roundN(lit(1.0) / coalesce(col("n_dups"), lit(1L)), 6)
          .as("weight"))
  }

  /** Leakage-safe dataset splitting: assign train/val/test BY NEAR-DUP
    * CLUSTER, not by document — a near-duplicate pair straddling the
    * split leaks training data into evaluation (the eval-contamination
    * failure mode doc-level hash splits cannot prevent). Every cluster
    * member inherits its cluster's split; singletons split by their own
    * id, so the operator degrades to the plain [[Sampling.split]] when no
    * duplicates exist.
    *
    * `clusters` is (id, cluster_id) — [[connectedComponents]] output.
    * One left join + the usual map-side hash-bucket filters; split
    * membership stays a pure function of the data (stable under
    * re-runs, partitioning, and cluster size). Returns one DataFrame per
    * weight, complete and disjoint. */
  def leakageSafeSplit(clusters: DataFrame, docs: DataFrame, idCol: String,
      weights: Seq[Double], salt: Int = 0): Seq[DataFrame] = {
    val labeled = docs
      .join(clusters.withColumnsRenamed(Map("id" -> idCol)), Seq(idCol),
        "left")
      .withColumn("__split_g", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
      // staged once: every split's filter re-reads the labeled relation
      .staged
    Sampling.split(labeled, "__split_g", weights, salt)
      .map(_.drop("__split_g"))
  }

  /** Canonical-representative selection over dedup clusters by SOURCE
    * preference — the production rule is rarely "keep the lowest id": a
    * curated dump beats a crawl of the same content. Within each cluster
    * the member with the best (priority asc, id asc) wins; ties inside a
    * source fall back to id, so selection stays total and deterministic.
    *
    * `clusters` is (id, cluster_id) — [[connectedComponents]] output;
    * `attrs` maps id → source; `priorities` (source → priority asc =
    * better) is a dimension-sized table, broadcast. A source missing from
    * the dim ranks last (Long.MaxValue), never wins by accident. One
    * equi-join per input plus a cluster-keyed min — shuffle O(cluster
    * rows), no pair enumeration. Returns (id, cluster_id, source,
    * canon_id, is_canonical) for every cluster member. */
  def canonicalSelection(clusters: DataFrame, attrs: DataFrame,
      priorities: DataFrame, idCol: String = "id",
      sourceCol: String = "source"): DataFrame = {
    // staged once (cluster-member-sized): feeds the per-cluster argmin
    // AND the final annotation join — otherwise the attrs join (a corpus
    // scan at rest) runs twice
    val ranked = clusters
      .join(attrs.select(col(idCol).as("id"), col(sourceCol).as("source")),
        Seq("id"))
      .join(broadcast(priorities), Seq("source"), "left")
      .withColumn("__prio", coalesce(col("priority"), lit(Long.MaxValue)))
      .staged
    val canon = ranked.groupBy("cluster_id")
      .agg(min(struct(col("__prio"), col("id"))).as("__best"))
      .select(col("cluster_id"), col("__best.id").as("canon_id"))
    ranked.join(canon, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("source"), col("canon_id"),
        (col("id") === col("canon_id")).as("is_canonical"))
  }
}
