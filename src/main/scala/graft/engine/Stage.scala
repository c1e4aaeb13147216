package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's single staging primitive: cut lineage and materialize an
  * intermediate exactly once, so iterative algorithms (connected
  * components, k-means/PQ training) and multi-consumer intermediates
  * (ngram pair sets, minhash signatures) don't recompute or grow an
  * unbounded plan.
  *
  * There is one materialization: `localCheckpoint`, executor blocks at
  * MEMORY_AND_DISK. The blocks are not recomputable, so losing an
  * executor mid-job fails the query; on the `local[N]` master every
  * session uses, the executor is the driver JVM, so no other
  * materialization would outlive that failure either. Harness mains
  * release the blocks between queries ([[releaseStaged]]); elsewhere the
  * ContextCleaner frees them once the staged frame is unreachable.
  *
  * `spark.graft.stage.mode` takes two values:
  *   - `local` (default): materialize as above.
  *   - `none`: [[materialize]] returns its input, so a plan audit sees
  *     the full lineage behind every staging boundary. Iterative callers
  *     (pointer-doubling closure, PQ training) still need a real lineage
  *     cut to avoid exponential plans, so they use [[materializeAlways]],
  *     which treats `none` as `local`.
  * Any other value fails the next staging call. StageSpec proves both
  * values give equal results.
  */
object Stage {

  val modeKey = "spark.graft.stage.mode"

  // ids of persistent RDDs created by staging (a localCheckpoint leaves
  // its blocks registered in sparkContext.getPersistentRDDs).
  // Harness mains (Bench/Verify/Profile) unpersist exactly these
  // between queries instead of sweeping ALL persistent RDDs — a global
  // sweep would silently evict any intentionally long-lived cache and
  // re-inflate timings with no error.
  private val stagedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Atomically return-and-clear the staged-block ids accumulated since
    * the last drain. Harness cleanup loops call this after each query. */
  def drainStagedIds(): Set[Int] = {
    val it = stagedIds.iterator()
    val b = Set.newBuilder[Int]
    while (it.hasNext) { b += it.next(); it.remove() }
    b.result()
  }

  /** Unpersist exactly the staged blocks created since the last call —
    * the between-queries cleanup for harness mains. `blocking=true` so
    * the freed storage memory is actually free before the caller's next
    * timed region starts (a non-blocking release leaves the blocks
    * squeezing the unified-memory execution fraction for however long
    * the async BlockManager round-trip takes). */
  def releaseStaged(spark: org.apache.spark.sql.SparkSession): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    drainStagedIds().foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
  }

  /** Run `body`, recording any persistent-RDD ids it registered. */
  private def tracked(df: DataFrame)(body: => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (sc.getPersistentRDDs.keySet -- before).foreach(stagedIds.add(_))
    out
  }

  /** True when `spark.graft.stage.mode` is `none`; rejects any value
    * other than `local` or `none`. */
  private def skipping(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(modeKey).getOrElse("local") match {
      case "local" => false
      case "none"  => true
      case other =>
        throw new IllegalArgumentException(
          s"$modeKey=$other (expected local | none)")
    }

  /** Materialize `df` unless the mode is `none`. */
  def materialize(df: DataFrame): DataFrame =
    if (skipping(df)) df else force(df)

  /** Like [[materialize]] but never a no-op — iterative algorithms call
    * this: without a genuine lineage cut each round's plan would embed
    * the previous round's, going exponential. */
  def materializeAlways(df: DataFrame): DataFrame = {
    skipping(df) // validates the mode: a stale value fails here too
    force(df)
  }

  private def force(df: DataFrame): DataFrame =
    tracked(df)(df.localCheckpoint())

  /** Persist-based staging for a frame that is consumed a bounded number
    * of times within one job and can safely be recomputed on block loss —
    * cheaper than a checkpoint (no copy), recomputable (cluster-safe),
    * but does NOT cut lineage, so not for iterative loops. */
  def cache(df: DataFrame): DataFrame =
    tracked(df)(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Scan-parallelism guard (optimization guide §2.5, "input skew: one
    * huge unsplittable file ... repartition immediately after the read").
    *
    * The fixture lake ships each table as ONE single-row-group parquet
    * file, so every scan stage is a single task — per-row compute
    * directly over the scan (tokenize, shingle explode, md5) serializes
    * on one core of however many the session has (measured: the staged
    * shingle pass of the ngram family runs 1.5-1.7 s as one task at
    * sf0.1 while 31 cores idle; a row-group-less file cannot be split by
    * maxPartitionBytes — byte ranges just yield empty tasks). A hash
    * repartition on the row key right after the read unlocks the cores
    * for one tiny local shuffle of the raw rows.
    *
    * Scale-adaptive, not local-tuned: the target is
    * `defaultParallelism` (total executor cores on a cluster) and the
    * shuffle fires ONLY when the source under-splits — a 100 TB
    * many-file scan already has ≥ cores partitions, so this is a no-op
    * exactly where the extra shuffle would be a disaster. Hash (not
    * round-robin) keeps the row→partition map deterministic under task
    * retries (SPARK-38388 class of bugs) and skips round-robin's
    * sort-before-repartition. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // Probe the partition count ONLY for scan-like plans (leaf +
    // project/filter/generate): that is the under-split shape this guard
    // exists for, and on such plans `.rdd` is pure planning. On any plan
    // that already contains a shuffle-inducing operator the probe itself
    // is a trap — under AQE, `.rdd` materializes every query stage
    // EAGERLY, so asking a composed pipeline (e.g. the curation exports'
    // strip→gate→chunk chain) for its partition count ran the whole
    // upstream chain once per spread call (measured: t_curation_export_v2
    // carried two full extra executions of the strip chain). Those plans
    // exit through exchanges sized by shuffle.partitions/AQE, so the
    // guard is a no-op for them by construction — exactly as it is for a
    // well-split 100 TB scan.
    if (want > 1 && scanLike(df) && df.rdd.getNumPartitions < want)
      df.repartition(want, key)
    else df
  }

  /** Leaf + project/filter/generate only — a relation already at rest
    * (parquet scan, staged blocks, local relation), possibly re-shaped
    * row-wise. Such plans are cheap to re-evaluate and safe to probe
    * with `.rdd`. Accepted gap: a `Union` is rejected even when every
    * branch is a scan, so an under-split union of scans passes through
    * [[spread]] unspread. */
  private def scanLike(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.analyzed.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter]
        || p.isInstanceOf[Generate] || p.isInstanceOf[SubqueryAlias]
        || p.isInstanceOf[LeafNode]) => p
    }.isDefined
  }

  /** [[materialize]] unless the plan is scan-like: multi-consumer
    * intermediates that are OUTPUTS of aggregates/joins re-evaluate the
    * whole subtree once per consumer and want staging, but when the same
    * relation arrives already at rest (e.g. the streaming ingest loop
    * hands the probe parquet-backed index relations), staging would only
    * copy it. */
  def materializeIfComputed(df: DataFrame): DataFrame =
    if (scanLike(df)) df else materialize(df)

  /** `import graft.engine.Stage.syntax._` for chainable `.staged` /
    * `.stagedAlways` at the former `.localCheckpoint()` call sites. */
  object syntax {
    implicit class StageOps(private val df: DataFrame) extends AnyVal {
      def staged: DataFrame = materialize(df)
      def stagedAlways: DataFrame = materializeAlways(df)
      def spreadBy(key: org.apache.spark.sql.Column): DataFrame =
        Stage.spread(df, key)
    }
  }
}
