package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Det, Stage}
import graft.expressions.GraftFunctions
import graft.engine.Stage.syntax._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Two paths:
  *  - brute-force cosine top-k: broadcast the query vector, one map-only
  *    pass computing cosine (the native [[graft.expressions.CosineSim]],
  *    a double-precision left-to-right fold), then a
  *    TakeOrderedAndProject top-k. Exact; the O(N) baseline.
  *  - IVF (inverted-file) top-k: the 100 TB path. Vectors are assigned to
  *    their nearest centroid once (a broadcast join against a small
  *    codebook — at rest this becomes the partitioning key), and a query
  *    probes only the nProbe nearest cells. Recall < 1 is traded for
  *    scanning nProbe/nCells of the data.
  *  - embeddingNearDups: sign-LSH (deterministic Rademacher hyperplanes
  *    seeded by the per-dim md5 hash) → corpus-relative banded buckets
  *    (prefix width from [[lshBandBitsSql]]) → exact cosine verification.
  *
  * All cosine math is done in DOUBLE after casting the float elements, with
  * left-to-right folds — the same association an oracle computes, so
  * results are bit-comparable.
  */
object Similarity {

  /** The id and embedding columns of every vector relation. */
  val IdCol = "vec_id"
  val EmbCol = "embedding"

  /** Cast array<float> → array<double>. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** DuckDB-dialect mirror of [[graft.expressions.CosineSim]] over two
    * DOUBLE[] list expressions, zero-guarded the same way. */
  def cosineOracleSql(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)) > 0" +
      s" THEN list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)))" +
      s" ELSE 0.0 END"

  /** Exact top-k by cosine against one query vector (given as a 1-row
    * DataFrame with float-array column `q_emb`, broadcast). The per-row
    * cosine is the native codegen'd [[graft.expressions.CosineSim]] — the
    * innermost ANN loop stays in whole-stage codegen instead of
    * interpreted higher-order functions; identical double math. */
  def bruteForceTopK(vectors: DataFrame, query: DataFrame, k: Int): DataFrame =
    cosineTopK(vectors, query, k, "cosine")
      .select(col(IdCol), col("cosine"))

  /** The top `k` rows of `vectors` by `score` against the 1-row `query`
    * (broadcast): the score pinned to 6 decimals into `scoreCol`, ranked
    * descending, ties to the lower [[IdCol]]. Every column of both sides
    * rides along. */
  private[operators] def topKAgainst(vectors: DataFrame, query: DataFrame,
      k: Int, scoreCol: String, score: Column): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    vectors
      .crossJoin(broadcast(query))
      .withColumn(scoreCol, Det.roundN(score, 6))
      .orderBy(desc(scoreCol), col(IdCol))
      .limit(k)
  }

  /** [[topKAgainst]] by the cosine of [[EmbCol]] and the query's `q_emb`. */
  private[operators] def cosineTopK(vectors: DataFrame, query: DataFrame,
      k: Int, scoreCol: String): DataFrame =
    topKAgainst(vectors, query, k, scoreCol,
      GraftFunctions.cosine_sim(col(EmbCol), col("q_emb")))

  /** Maximum-inner-product top-k: rank by the RAW dot product, no norm —
    * the retrieval scoring for embeddings trained with inner-product
    * objectives (two-tower recommenders), where a vector's magnitude IS
    * part of its relevance and cosine's normalization would erase it.
    * Same broadcast-query scan shape as [[bruteForceTopK]]; at corpus
    * scale the IVF cell restriction composes in front identically. */
  def mipsTopK(vectors: DataFrame, query: DataFrame, k: Int): DataFrame =
    topKAgainst(vectors, query, k, "score",
        GraftFunctions.dot_product(col(EmbCol), col("q_emb")))
      .select(col(IdCol), col("score"))

  /** Assign each vector to its nearest centroid (broadcast codebook).
    * Returns the input plus `cell` (centroid id). */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val scored = vectors
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", GraftFunctions.cosine_sim(col(EmbCol), col("c_emb")))
    scored
      .groupBy(col(IdCol))
      .agg(
        max_by(col("cell"), struct(col("__sim"), -col("cell"))).as("cell"),
        first(col(EmbCol)).as(EmbCol))
  }

  /** IVF top-k: probe the nProbe cells nearest to the query, brute-force
    * only within them. `centroids` has (cell, c_emb: array<float>).
    *
    * `preAssigned` is the point of IVF at scale: cell assignment is an
    * index-build step done ONCE (and used as the table's partitioning key
    * at rest), not per query — pass the assigned table here so a query
    * touches only nProbe/nCells of the data. When absent (ad-hoc use)
    * assignment is computed inline, which costs a full codebook scan. */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, query: DataFrame,
      k: Int, nProbe: Int,
      preAssigned: Option[DataFrame] = None): DataFrame = {
    val probes = probeCells(centroids, query, nProbe)
    val assigned = preAssigned.getOrElse(
      assignCells(vectors, centroids))
    cosineTopK(assigned.join(broadcast(probes), Seq("cell")), query, k,
        "cosine")
      .select(col(IdCol), col("cell"), col("cosine"))
  }

  /** The `nProbe` cells of `centroids` (cell, c_emb) nearest the 1-row
    * `query` by cosine, ties to the lower cell: (cell). */
  private[operators] def probeCells(centroids: DataFrame, query: DataFrame,
      nProbe: Int): DataFrame = {
    GraftFunctions.register(centroids.sparkSession)
    centroids
      .crossJoin(broadcast(query))
      .withColumn("__sim", GraftFunctions.cosine_sim(col("c_emb"), col("q_emb")))
      .orderBy(desc("__sim"), col("cell"))
      .limit(nProbe)
      .select("cell")
  }

  /** [[probeCells]] for a batch of `queries` (query_id, q_emb): each
    * query's `nProbe` nearest cells, ranked by a window over the
    * broadcast centroid × query grid. Returns (query_id, cell, q_emb). */
  private def probeCellsBatch(centroids: DataFrame, queries: DataFrame,
      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id")
      .orderBy(desc("__sim"), col("cell"))
    centroids
      .crossJoin(broadcast(queries))
      .withColumn("__sim", GraftFunctions.cosine_sim(col("c_emb"), col("q_emb")))
      .withColumn("__rk", row_number().over(probeW))
      .filter(col("__rk") <= nProbe)
      .select(col("query_id"), col("cell"), col("q_emb"))
  }

  /** Batched IVF top-k: N query vectors answered in ONE pass — the
    * fan-out shape a real retrieval workload needs (a training run
    * resolves thousands of queries per batch, not one). `queries` has
    * (query_id, q_emb).
    *
    * Shape: the centroid×query grid is broadcast-small (codebook × batch),
    * so per-query probe selection is a window over that grid; the big side
    * (cell-assigned members) is then touched once, each member row joining
    * only the queries that probe its cell — work is Σ_cell members(cell) ×
    * queries-probing(cell), never members × batch. The final per-query
    * top-k is a window partitioned by query_id (shuffle cardinality =
    * batch size). */
  def ivfTopKBatch(vectors: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val probes = probeCellsBatch(centroids, queries, nProbe)
    val assigned = assignCells(vectors, centroids)
    val topW = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), col(IdCol))
    // no broadcast hint on probes: its estimate (codebook × query batch
    // through a window) is past BroadcastGuard's cap at every lake size,
    // so AQE picks the join from the runtime size
    assigned
      .join(probes, Seq("cell"))
      .withColumn("cosine",
        Det.roundN(GraftFunctions.cosine_sim(col(EmbCol), col("q_emb")), 6))
      .withColumn("__rk", row_number().over(topW))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col(IdCol), col("cell"), col("cosine"))
  }

  /** IVF RANGE search: every vector within a cosine radius of each query
    * (`cosine >= tau`), not a fixed top-k — the primitive behind
    * "find all near-duplicates of these N suspect documents" and
    * radius-bounded retrieval, where result-set size is data-dependent.
    *
    * Same probe discipline as [[ivfTopKBatch]]: per-query nProbe nearest
    * cells from the broadcast codebook×query grid, members fanned only to
    * the queries probing their cell. The only differences are the
    * threshold filter replacing the rank window (no per-query sort at
    * all — a range search needs no ordering shuffle) and self-match
    * removal. Cosine is pinned via Det.roundN(6) BEFORE the threshold so
    * the boundary decision is engine-identical.
    *
    * Shape at scale: broadcast codebook + query batch; the member side is
    * scanned once; output is the qualifying pairs only. Nothing
    * corpus-sized is broadcast and no global sort runs — the final
    * ORDER BY is the caller's presentation choice.
    *
    * Returns (query_id, vec_id, cell, cosine) for cosine >= tau,
    * excluding the query row itself. */
  def ivfRangeSearch(vectors: DataFrame, centroids: DataFrame,
      queries: DataFrame, tau: Double, nProbe: Int): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val probes = probeCellsBatch(centroids, queries, nProbe)
    // no broadcast hint on probes, as in ivfTopKBatch
    assignCells(vectors, centroids)
      .join(probes, Seq("cell"))
      .withColumn("cosine",
        Det.roundN(GraftFunctions.cosine_sim(col(EmbCol), col("q_emb")), 6))
      .filter(col("cosine") >= tau && col(IdCol) =!= col("query_id"))
      .select(col("query_id"), col(IdCol), col("cell"), col("cosine"))
  }

  /** One Lloyd (k-means) iteration over an embedding column: assign every
    * vector to its nearest centroid by cosine (broadcast codebook), then
    * recompute each cell's centroid as the member mean — the index-build /
    * refine step for the IVF path.
    *
    * Shape: one broadcast-join assignment pass + one explode →
    * hash-aggregate over (cell, dim) — shuffle O(rows × dims), map-side
    * combinable, no arrays in the aggregate. Dimension means are summed in
    * DECIMAL so the refreshed centroids are partition-order-independent
    * (bit-stable across cluster sizes / reruns). The per-cell array is
    * rebuilt only at the end over #cells × dims rows (codebook-sized, so
    * the interpreted transform is off the hot path).
    *
    * A cell that attracted no members keeps its PREVIOUS centroid (with
    * n_members = 0) instead of vanishing — the codebook never shrinks
    * across Lloyd iterations, so downstream cell ids stay stable and the
    * caller can choose to reseed dead cells explicitly.
    *
    * Returns (cell, c_emb: array<double>, n_members). */
  def kmeansStep(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assignCells(vectors, centroids)
    val dimMeans = assigned
      .select(col("cell"), posexplode(col(EmbCol)).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double") / count(lit(1))).as("c_mean"),
        count(lit(1)).as("n_members"))
    val refined = dimMeans
      .groupBy("cell")
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("c_mean")))),
          s => s.getField("c_mean")).as("c_emb"),
        max(col("n_members")).as("n_members"))
    // left-join back over the codebook (cells × 1 rows, trivially small):
    // empty cells resurface with their old embedding and a zero count
    centroids
      .select(col("cell"), asDouble(col("c_emb")).as("__prev"))
      .join(refined, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("c_emb"), col("__prev")).as("c_emb"),
        coalesce(col("n_members"), lit(0L)).as("n_members"))
  }

  /** Decimals each training round pins centroid values to. */
  val KmeansScale = 6

  /** Full Lloyd iteration — [[kmeansStep]] repeated `rounds` times, the
    * IVF codebook TRAINING loop (the single step is the refine primitive;
    * this is what actually builds a codebook from scratch).
    *
    * Each round's centroid values are PINNED — `Det.roundN(KmeansScale)` then a
    * float cast, the PQ-codebook discipline — before feeding the next
    * assignment: with per-round decimal means and pinned values, every
    * engine computes the identical assignment trajectory, so the whole
    * multi-round loop is oracle-replayable as unrolled SQL (round +
    * `CAST AS REAL` mirror), and the trained codebook is exactly the
    * float array the IVF/PQ consumers store. (Pinning is idempotent
    * through the float roundtrip: re-pinning a pinned value is a no-op,
    * which is what makes the empty-cell carry-forward path safe.)
    *
    * Scale shape: `rounds` × (broadcast assign + one (cell, dim)
    * hash-aggregate); [[Stage.materializeAlways]] cuts lineage every
    * round so round r's plan never embeds r−1's. The codebook relation
    * (cells × dims) is the only thing staged — vectors are re-scanned
    * per round, never cached, so the loop holds at any corpus size. */
  def kmeansIterate(vectors: DataFrame, initCentroids: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds: $rounds")
    val p = math.pow(10, KmeansScale)
    var cent = initCentroids
    for (_ <- 1 to rounds) {
      val stepped = kmeansStep(vectors, cent)
      cent = Stage.materializeAlways(
        stepped.select(col("cell"),
          transform(col("c_emb"),
            x => (floor(x * p + 0.5) / p).cast("float")).as("c_emb"),
          col("n_members")))
    }
    cent
  }

  /** kNN GRAPH over the whole corpus — every vector gets its k nearest
    * neighbors by cosine, searched IVF-style in its nProbe nearest cells.
    * The all-pairs self-join no engine can afford becomes a cell-keyed
    * equi-join of two corpus-sized relations: the member side carries
    * each vector once (its assigned cell), the query side carries each
    * vector nProbe times (the cells it probes), and per-cell work is
    * O(|cell| × probes-into-cell) — the graph-construction primitive
    * behind SemDeDup clustering, graph-based curation, and kNN label
    * propagation. Neighbor lists are exact within the probed cells;
    * recall vs brute force is the usual IVF trade (spec-measured).
    *
    * Unlike [[ivfTopKBatch]] nothing corpus-sized is broadcast — only
    * the codebook — so the shape survives any corpus. A vector appears
    * in exactly one cell, so no cross-probe dedup is needed. Returns
    * (src, dst, cosine) with cosine pinned via Det.roundN(6) (ranking
    * runs on the pinned value — engine-identical). */
  /** Corpus-relative IVF cell count: 16 cells up to the 2,500-vector
    * anchor (≤ ~156/cell), doubling every 4× corpus — the √n rule
    * (per-cell population ~√n·c, candidate volume n·nProbe·√n instead of
    * the fixed-cell-count n²·nProbe/cells the sf1 sweep measured at 23×
    * wall for 10× data), floor-quantized to powers of two so the count
    * is an exact integer CASE ladder — the SAME text parses in Spark SQL
    * and DuckDB, so engine and oracle share one definition. Capped at
    * 4096 cells (n ≥ 164M vectors) — past that, raise the anchor. */
  def ivfCellsSql(nExpr: String): String =
    "16" + (1 to 8).map(j =>
      s" * (CASE WHEN ($nExpr) >= ${2500L * (1L << (2 * j))} THEN 2 ELSE 1 END)")
      .mkString

  /** First-K-by-id seed codebook with K = [[ivfCellsSql]](corpus count),
    * decided in-plan: the 1-row K relation broadcasts into the id
    * filter, so the codebook grows with the corpus without a driver-side
    * count. Returns (cell, c_emb).
    *
    * CONTRACT: `vec_id` must be dense 0..N-1 (the lake's layout —
    * the same assumption the previous hardcoded `vec_id < 16` made). A
    * sparse or offset id space selects fewer than K rows (possibly zero
    * → an empty kNN graph with no error); for such corpora seed via a
    * rank instead, e.g.
    * `row_number().over(Window.orderBy(vec_id)) <= __k`. */
  def seedCentroids(vectors: DataFrame): DataFrame = {
    val kRel = vectors
      .agg(expr(ivfCellsSql("count(1)")).cast("long").as("__k"))
    vectors.crossJoin(broadcast(kRel))
      .filter(col(IdCol) < col("__k"))
      .select(col(IdCol).as("cell"), col(EmbCol).as("c_emb"))
  }

  /** DuckDB form of [[seedCentroids]] over a CTE `e(vec_id, emb, …)`:
    * the CTEs `kk(k)` and `cent(cell, ce)`. */
  val seedCentroidsCtes: String =
    s"""kk AS (SELECT ${ivfCellsSql("COUNT(*)")} AS k FROM e),
       |cent AS (SELECT vec_id AS cell, emb AS ce FROM e, kk
       |  WHERE vec_id < kk.k)""".stripMargin

  /** DuckDB form of [[knnGraph]]'s probing over the CTEs `e` and `cent`,
    * each vector's cells ranked by cosine, ties to the lower cell: `rk`,
    * then `asg(vec_id, emb, cell)`, its own cell, and `pr(src, qe,
    * cell)`, its `nProbe` probed cells. */
  def knnProbeCtes(nProbe: Int): String =
    s"""rk AS (
       |  SELECT e.vec_id, e.emb, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosineOracleSql("e.emb", "c.ce")} DESC, c.cell) AS rn
       |  FROM e CROSS JOIN cent c),
       |asg AS (SELECT vec_id, emb, cell FROM rk WHERE rn = 1),
       |pr AS (SELECT vec_id AS src, emb AS qe, cell FROM rk WHERE rn <= $nProbe)""".stripMargin

  def knnGraph(vectors: DataFrame, centroids: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    // one corpus scan: the (id, emb) projection feeds both the probe
    // choice and the member assignment; the codebook is read once too
    val base = vectors.select(col(IdCol), col(EmbCol)).staged
    val cents = centroids.staged
    val probeW = Window.partitionBy(IdCol)
      .orderBy(desc("__sim"), col("cell"))
    val probes = base
      .crossJoin(broadcast(cents))
      .withColumn("__sim",
        GraftFunctions.cosine_sim(col(EmbCol), col("c_emb")))
      .withColumn("__rk", row_number().over(probeW))
      .filter(col("__rk") <= nProbe)
      .select(col(IdCol).as("src"), col("cell"), col(EmbCol).as("__q"))
    val members = assignCells(base, cents)
      .select(col("cell"), col(IdCol).as("dst"), col(EmbCol).as("__m"))
    val topW = Window.partitionBy("src")
      .orderBy(desc("cosine"), col("dst"))
    probes.join(members, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        Det.roundN(GraftFunctions.cosine_sim(col("__q"), col("__m")), 6))
      .withColumn("__rk", row_number().over(topW))
      .filter(col("__rk") <= k)
      .select(col("src"), col("dst"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication: assign every vector to its
    * nearest centroid (broadcast codebook), then prune WITHIN each cluster
    * only — a vector is dropped when a lower-id vector in the same cluster
    * has cosine ≥ threshold. The whole point of clustering first is the
    * scale bound: pair enumeration is per-cell O(c²) instead of corpus
    * O(N²), and the codebook granularity (k grows with N) keeps c roughly
    * constant. `maxCluster` is the explicit guard: an over-full cell
    * (degenerate codebook, all-near-zero vectors) is exempted from pruning
    * rather than allowed to quadratically explode — its members are kept
    * and the cell is left for a finer codebook pass.
    *
    * Deterministic end-to-end (argmax assignment tie-broken on cell id,
    * keep-lowest-id pruning, cosine rounded before the threshold), so the
    * full annotation is oracle-able. Returns every input vector:
    * (vec_id, cell, is_kept: 0/1 bigint). */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame,
      threshold: Double, maxCluster: Int = 512): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    // staged once: the assignment pass (a full corpus scan against the
    // codebook) feeds BOTH sides of the pair self-join and the final
    // annotation join — without the checkpoint Catalyst recomputes the
    // whole subtree three times (three corpus scans at 100 TB)
    val assigned = assignCells(vectors, centroids)
      .withColumn("__cn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cell")))
      .staged
    val prunable = assigned.filter(col("__cn") <= maxCluster)
    // equi-join on cell: shuffles by cluster, pairs never leave a cell
    val l = prunable.select(col("cell"), col(IdCol).as("id_a"),
      col(EmbCol).as("__e_a"))
    val r = prunable.select(col("cell"), col(IdCol).as("id_b"),
      col(EmbCol).as("__e_b"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(Det.roundN(GraftFunctions.cosine_sim(col("__e_a"), col("__e_b")), 6)
        >= threshold)
      .select(col("id_b").as("__dup_id")).distinct()
    assigned
      .join(dropped, assigned(IdCol) === dropped("__dup_id"), "left")
      .select(col(IdCol), col("cell"),
        when(col("__dup_id").isNull, 1L).otherwise(0L).as("is_kept"))
  }

  /** Corpus-relative sign-LSH band width, the sign-LSH analogue of the
    * IVF √n cell ladder [[ivfCellsSql]]: 8 bits per band up to the
    * 2,048-vector anchor (expected band-bucket occupancy n/2^bits ≈ 8),
    * +1 bit per corpus doubling — holding expected occupancy ~constant
    * instead of letting it grow linearly with the corpus (a FIXED band
    * width is quadratic in candidate volume until buckets trip the
    * maxBucket cap, then silently lossy — the cap starts DROPPING most
    * of the corpus). Quantized to integer bit counts via an exact CASE
    * ladder so the SAME text parses in Spark SQL and DuckDB — one
    * definition serves engine and oracle. Tops out at 22 bits per band
    * (n ≈ 33.5M vectors, 4 bands × 22 = 88 of the 112 bits two md5
    * spans provide; past that expected occupancy grows again — raise
    * the anchor / add a third hash family, as with ivfCellsSql's
    * 4096-cell cap). */
  def lshBandBitsSql(nExpr: String): String =
    "8" + (1 to 14).map(j =>
      s" + (CASE WHEN ($nExpr) >= ${2048L * (1L << j)} THEN 1 ELSE 0 END)")
      .mkString

  /** Sign-LSH geometry: 4 bands × 22 bits (88 of 112 md5 bits), 256 cap. */
  val LshBands = 4
  val LshBitsPerBand = 22
  val LshMaxBucket = 256

  /** Near-duplicate vector pairs: banded sign-LSH candidates + exact
    * cosine ≥ threshold. Returns (id_a, id_b, cosine).
    *
    * Sign-LSH bit p = sign of the projection onto a deterministic
    * Rademacher hyperplane (±1 entries = bit p of the dim's two 56-bit
    * md5 spans — [[graft.engine.Det.h56]] at hex offsets 1 and 17, so
    * 112 independent bits per dim; bits 0-55 read span 1, bits 56-111
    * span 2 — a family both engines can recompute, so bucket membership
    * is oracle-checkable; bands·maxBitsPerBand ≤ 112). The projections
    * sum DECIMAL(18,9)-
    * quantized components, not raw doubles: a double sum is
    * partial-aggregation-order-dependent, and a projection near zero
    * could flip its SIGN (hence its bucket) between engines — decimal
    * sums are exact, and a binary float can never sit exactly on a
    * decimal rounding boundary, so the quantization itself is also
    * engine-identical. Computed in the codegen-friendly explode shape —
    * one posexplode of the vector, one aggregate with the signed-sum
    * columns — not nested HOFs (see Dedup's scaladoc for why).
    *
    * Bucketing is CORPUS-RELATIVE: each band materializes its full
    * maxBitsPerBand-bit sign string, but candidates bucket on a PREFIX
    * whose width comes from [[lshBandBitsSql]] — decided in-plan from a
    * broadcast 1-row count relation, no driver-side count. Expected
    * band-bucket occupancy stays ~8-16 at any corpus size up to ~33.5M
    * vectors, so candidate volume grows ~linearly and the maxBucket cap
    * is a degenerate-data safety valve (all-equal vectors), not the
    * operator's geometry. */
  def embeddingNearDups(vectors: DataFrame, threshold: Double,
      bands: Int = LshBands, maxBitsPerBand: Int = LshBitsPerBand,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val nBits = bands * maxBitsPerBand
    require(nBits <= 112,
      s"bands*maxBitsPerBand must fit the two 56-bit dim hash spans: $nBits")
    val bits = maxBitsPerBand
    // consumed by 3 downstream shuffles (signature agg, dot join, norms) —
    // staged once via Stage.materialize: computed exactly once, lineage
    // truncated, partitions AQE-sized, and blocks are released by the
    // ContextCleaner when the result goes out of scope (no cache leak into
    // library callers).
    val dims = Stage.spread(
        vectors.select(col(IdCol).as("id"), col(EmbCol).as("__emb")),
        col("id"))
      .select(col("id"), posexplode(col("__emb")).as(Seq("dim", "x")))
      .select(col("id"), col("dim"), col("x").cast("double").as("x"))
      .staged
    // Scaled-long projection components: the DECIMAL(18,9) quantization
    // is kept (it decides the cross-engine sign contract), but the value
    // each of the `nBits` sums accumulates is the EXACT integer
    // 1e9 · __xq as a long — sum(±long) ≥ 0 ⟺ sum(±decimal) ≥ 0, since
    // the scaling is lossless (a 9-dp decimal times 10^9 is integral) and
    // both sums are exact. Spark's sum over DECIMAL(18,9) widens past the
    // compact-Long decimal representation, so every one of the 88
    // accumulations per input row went through BigDecimal; the long form
    // is plain codegen'd integer adds (measured ~1.5x on the whole
    // query). The decimal cast itself runs once per (id, dim) row.
    val dimsH = dims
      .withColumn("__dh", Det.h56(col("dim").cast("string")))
      .withColumn("__dh2", Det.h56(col("dim").cast("string"), 17))
      .withColumn("__xl",
        (col("x").cast(org.apache.spark.sql.types.DecimalType(18, 9))
          * lit(1000000000L)).cast("long"))
    val projCols = (0 until nBits).map { p =>
      // bits 0-55 read md5 span 1, 56-111 span 2 (plan-time pick)
      val bit =
        if (p < 56) shiftright(col("__dh"), p)
        else shiftright(col("__dh2"), p - 56)
      sum(when(bit.bitwiseAND(1) === 1, col("__xl"))
        .otherwise(-col("__xl"))).as(s"__p$p")
    }
    val sig = dimsH.groupBy(col("id")).agg(projCols.head, projCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      concat_ws("",
        (0 until bits).map(r =>
          when(col(s"__p${b * bits + r}") >= 0, "1").otherwise("0")): _*)
    }
    // prefix width from the corpus-relative ladder, decided in-plan: the
    // 1-row count relation broadcasts into the substring, so the band
    // geometry tracks the corpus without a driver-side count (same
    // pattern as seedCentroids' in-plan K)
    val rRel = vectors.agg(expr(
      s"least($maxBitsPerBand, ${lshBandBitsSql("count(1)")})")
      .cast("int").as("__r"))
    // staged: the bucket self-join below reads `keyed` on BOTH sides, and
    // unstaged the 88-decimal-sum signature aggregate + posexplode
    // evaluates once per side (AQE reuses the exchange, not the
    // post-shuffle stage). The staged relation is rows × bands — tiny.
    val keyed = Stage.materialize(sig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_full")))
      .crossJoin(broadcast(rRel))
      .select(col("id"), col("band_id"),
        col("band_full").substr(lit(1), col("__r")).as("band_hash")))
    val cands = Dedup.bucketPairs(keyed, maxBucket)
    // exact-cosine verification in codegen form: dot products via a
    // dim-aligned join over the exploded relation, norms from one
    // aggregate — no per-pair array lambdas. No broadcast hint on the
    // candidate side: its cardinality is data-dependent and unbounded at
    // corpus scale (a forced broadcast would fail past the 8 GB cap); AQE
    // picks a broadcast join at runtime when the set actually is small.
    val norms = dims.groupBy(col("id"))
      .agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
    val dots = cands
      .join(dims.withColumnsRenamed(Map("id" -> "id_a", "x" -> "x_a")), Seq("id_a"))
      .join(dims.withColumnsRenamed(Map("id" -> "id_b", "x" -> "x_b")),
        Seq("id_b", "dim"))
      .groupBy("id_a", "id_b").agg(sum(col("x_a") * col("x_b")).as("dot"))
    dots
      .join(norms.withColumnsRenamed(Map("id" -> "id_a", "nrm" -> "n_a")), Seq("id_a"))
      .join(norms.withColumnsRenamed(Map("id" -> "id_b", "nrm" -> "n_b")), Seq("id_b"))
      .withColumn("cosine", Det.roundN(
        when(col("n_a") * col("n_b") > 0, col("dot") / (col("n_a") * col("n_b")))
          .otherwise(0.0), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Maximal-marginal-relevance diverse top-k — the curation-side answer
    * to "don't hand the model k near-copies of the best document": greedy
    * selection over a bounded ANN candidate pool, each step picking
    *
    *   argmax_d  λ·rel(d) − (1−λ)·max_{s ∈ selected} sim(d, s)
    *
    * (Carbonell & Goldstein, SIGIR'98). The exponential-cost part of MMR
    * is only over the POOL, never the corpus: relevance comes from any
    * top-`poolSize` retrieval (here the brute-force scan; IVF composes in
    * front identically), and the pool's pairwise-cosine matrix is
    * poolSize² rows — constant-bounded, computed once via a constant-key
    * equi-join (a hash join, not a cartesian) and staged. The k greedy
    * rounds are then joins over ≤ poolSize-row relations: at 100 TB the
    * corpus is touched exactly once, by the retrieval scan.
    *
    * Every similarity is pinned to 6 decimals before the greedy compares
    * scores (ties broken by id), so the selection trajectory — not just
    * the final scores — is engine-reproducible; the DuckDB oracle replays
    * the identical k steps as unrolled CTEs.
    *
    * Returns (vec_id, rank 1..k, mmr) in selection order. */
  def mmrDiverseTopK(vectors: DataFrame, query: DataFrame, k: Int,
      poolSize: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= poolSize, s"k=$k poolSize=$poolSize")
    GraftFunctions.register(vectors.sparkSession)
    val pool = cosineTopK(vectors, query, poolSize, "rel")
      .select(col(IdCol), col("rel"), col(EmbCol))
      .staged
    // poolSize² pairwise cosines via a constant-key hash join (both sides
    // bounded); NOT a BNLJ — PlanShapeSpec's discipline
    val a = pool.select(col(IdCol).as("__ia"), col(EmbCol).as("__ea"),
      lit(1).as("__k"))
    val b = pool.select(col(IdCol).as("__ib"), col(EmbCol).as("__eb"),
      lit(1).as("__k"))
    val pairSims = a.join(b, Seq("__k")).filter(col("__ia") =!= col("__ib"))
      .select(col("__ia"), col("__ib"),
        Det.roundN(GraftFunctions.cosine_sim(col("__ea"), col("__eb")), 6)
          .as("sim"))
      .staged
    val poolSlim = pool.select(col(IdCol), col("rel"))
    var selected = poolSlim
      .orderBy(desc("rel"), col(IdCol)).limit(1)
      .select(col(IdCol), lit(1).as("rank"),
        (lit(lambda) * col("rel")).as("mmr"))
    for (r <- 2 to k) {
      val selIds = selected.select(col(IdCol))
      val maxSim = pairSims
        .join(selIds.withColumnRenamed(IdCol, "__ib"), Seq("__ib"))
        .groupBy(col("__ia")).agg(max(col("sim")).as("__ms"))
      val pick = poolSlim
        .join(selIds, Seq(IdCol), "left_anti")
        .join(maxSim.withColumnRenamed("__ia", IdCol), Seq(IdCol), "left")
        .withColumn("mmr", lit(lambda) * col("rel") -
          lit(1.0 - lambda) * coalesce(col("__ms"), lit(0.0)))
        .orderBy(desc("mmr"), col(IdCol))
        .limit(1)
        .select(col(IdCol), lit(r).as("rank"), col("mmr"))
      // a real cut even under stage.mode=none: `selected` feeds the next
      // round twice, so an uncut plan doubles every round
      selected = selected.union(pick).stagedAlways
    }
    selected.select(col(IdCol), col("rank"), Det.roundN(col("mmr"), 6).as("mmr"))
      .orderBy(col("rank"))
  }

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * gate for the IVF/SemDeDup partition: for each vector, with cosine
    * distance d = 1 − cos to every centroid,
    *
    *   a = d(x, nearest centroid)   (its own cell)
    *   b = min over OTHER cells of d(x, c)
    *   s = (b − a) / max(a, b)      (0 when both distances are 0)
    *
    * — the O(N·cells) variant of silhouette (full silhouette is
    * O(N²) pairwise and dies at scale; centroid distances are the
    * standard proxy, cf. the "simplified silhouette" of Hruschka et al.).
    * Mean s per cell ≈ how separated that cell is; s near 0 across the
    * board (as on this synthetic near-uniform fixture) says the
    * clustering is carrying no structure — exactly the signal a curation
    * pipeline needs before trusting SemDeDup cell-local decisions.
    *
    * Shape: one broadcast-codebook scan, a 16-row-per-vector window, one
    * aggregate. Distances pinned to 6 decimals pre-comparison; means are
    * decimal-summed — fully oracle-replayable.
    *
    * Returns (cell, n_members, mean_silhouette) by cell. */
  def silhouetteByCell(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val scored = vectors
      .crossJoin(broadcast(centroids))
      .withColumn("__d",
        Det.roundN(lit(1.0) - GraftFunctions.cosine_sim(col(EmbCol), col("c_emb")), 6))
    val w = Window.partitionBy(col(IdCol)).orderBy(col("__d"), col("cell"))
    val perVec = scored
      .withColumn("__rn", row_number().over(w))
      .groupBy(col(IdCol))
      .agg(
        min(when(col("__rn") === 1, col("__d"))).as("a"),
        min(when(col("__rn") === 1, col("cell"))).as("cell"),
        min(when(col("__rn") > 1, col("__d"))).as("b"))
    perVec
      .withColumn("sil", Det.roundN(
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(0.0), 6))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("sil").cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double") / count(col("sil"))).as("mean_silhouette"))
      .orderBy(col("cell"))
  }
}
