package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materializes a larger scale factor from a driver-generated one by
  * k-fold structure-preserving replication (default k=10: sf0.1 → sf1).
  *
  * The test lakes come at sf0.001/sf0.01/sf0.1 only (TESTDATA.md). This main
  * materializes a full coherent lake so the ENTIRE verify + bench suite
  * can run at sf1 — measured evidence, not extrapolated.
  *
  * Replication mirrors the driver's own SF progression (observed
  * sf0.001→sf0.01→sf0.1):
  *   - `region`/`nation` are fixed-size dimensions at every SF (5/25 rows,
  *     like TPC-H dbgen) → copied verbatim.
  *   - every other table grows ~10× with DENSE 0..N-1 keys → replica r
  *     offsets each key by r·N, and every foreign key by r·N(parent), so
  *     referential structure (orders→customer, lineitem→orders/part/
  *     supplier, events→user population) is exactly preserved per replica
  *     and replicas never cross-link.
  *   - replica 0 is the source rows VERBATIM (keys, names, text, vectors
  *     byte-identical), so fixture-literal predicates in queries still
  *     match their rows.
  *   - keyed display names (`Customer#%09d`, `Supplier#%09d`) are
  *     re-derived from the offset key, preserving the name↔key invariant.
  *   - `events.ts` gains a per-replica deterministic jitter (r·137 ms) so
  *     the scaled stream has realistic near-distinct timestamps instead of
  *     10 exact copies of each instant (the driver's own SF progression
  *     densifies the same one-month window with fresh instants). Window
  *     and watermark boundaries move by <1.3 s inside a 30-day span.
  *   - `documents.text` is rewritten under a per-replica VOCABULARY
  *     PERMUTATION (the corpus uses a closed ~31-word lowercase vocab,
  *     `^[a-z ]+$`). A bijection on words is a corpus isomorphism: every
  *     within-replica word-set Jaccard/shingle relationship (the dedup
  *     operators' subject matter) is preserved exactly, while cross-replica
  *     similarity collapses to the permutation's fixed-point density — the
  *     scaled corpus has the SAME dup structure 10× over, not a 10×
  *     all-pairs-duplicate pathology that no real 10× corpus exhibits.
  *     `n_chars` is recomputed (= length(text), the source invariant).
  *   - `embeddings.embedding` is transformed per replica by a seeded
  *     coordinate permutation + sign-flip — an ORTHOGONAL map applied
  *     without arithmetic error (floats are moved and negated, never
  *     rounded): within-replica norms, dot products, cosines, cluster
  *     geometry are bit-exactly preserved; cross-replica similarity is
  *     scrambled. ANN/k-means operators meet the same local geometry at
  *     10× the corpus.
  *
  * Output layout is a DIRECTORY per table (`<out>/<name>.parquet/part-*`)
  * with file counts sized so sf1 scans parallelize like a real multi-file
  * lake rather than one fat file. `Tables` reads directories transparently;
  * scripts/check.py globs them for DuckDB.
  *
  * SKEW MODE (`skew` as 4th arg, round 12): the flat replication above is
  * ideal for invariance proofs but structurally incapable of exhibiting
  * skew-induced straggling or cross-shard duplication — every key is
  * uniform and replicas never share content. Skew mode keeps replica 0
  * verbatim and the PK/offset discipline identical, but makes replicas
  * r ≥ 1 organically hostile:
  *   - FACT-SIDE HOT KEYS (orders.o_custkey, lineitem.l_partkey/
  *     l_suppkey, events.user_id): 30% of replica-r rows redirect their FK
  *     to a GLOBAL hot set (replica-0 keys 0..H-1) under a Zipf(1) rank
  *     drawn via inverse CDF floor(H^u)-1 — the hottest key absorbs
  *     ~ln2/lnH of redirected volume corpus-WIDE, so joins and groupBys
  *     meet real stragglers and AQE's skew handling runs on volume, not
  *     on the AqeSkewSpec fixture.
  *   - CROSS-REPLICA NEAR-DUP DOCUMENTS: each source doc draws a
  *     geometric duplication level L (P(L≥j)=2^-j, capped at k-1);
  *     replicas r ≤ L carry a NEAR-copy of the original (each word
  *     mutated with prob 1/32 through the replica bijection — shingle
  *     Jaccard ≈ 0.8 vs the original, occasionally an exact copy when no
  *     word mutates), replicas r > L carry the bijection-permuted
  *     distinct text as in flat mode. Duplicate-cluster sizes are
  *     power-law (half singletons, a heavy tail up to k) and clusters
  *     SPAN replicas — the cross-shard dedup shape the flat lake can't
  *     produce.
  *   - CLUSTERED EMBEDDINGS: half of each replica-r≥1's vectors blend
  *     50/50 with a Zipf-chosen replica-0 centroid (64 candidate
  *     centroids) AFTER the orthogonal map; cluster populations are
  *     power-law, so IVF cells go imbalanced and in-cell candidate
  *     volume concentrates — the ANN-straggler case.
  *
  * Usage: runMain graft.GenSf <srcDir> <outDir> [k] [skew]
  *   e.g.  runMain graft.GenSf /root/testdata/sf0.1 testdata/sf1 10
  *         runMain graft.GenSf /root/testdata/sf0.1 testdata/sf1skew 10 skew
  */
object GenSf {

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val spark = graft.engine.Session.local()
    // write micros (not INT96) so DuckDB and Spark read identical instants
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    generate(spark, srcDir, outDir, k, skew)
    spark.stop()
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               k: Int, skew: Boolean = false): Unit = {
    def src(name: String): DataFrame = graft.engine.Tables(spark, srcDir, name)

    // dense-key cardinality of each scaled table (keys are 0..N-1 by
    // driver construction; count == max+1 is asserted below)
    def card(df: DataFrame, key: String): Long = {
      val r = df.agg(count(lit(1)), max(col(key))).head()
      val (n, mx) = (r.getLong(0), r.getLong(1))
      require(n == mx + 1, s"$key not dense 0..N-1: n=$n max=$mx")
      n
    }

    val customer = src("customer")
    val supplier = src("supplier")
    val part     = src("part")
    val orders   = src("orders")
    val lineitem = src("lineitem")
    val events   = src("events")
    val docs     = src("documents")
    val embs     = src("embeddings")

    val nC = card(customer, "c_custkey")
    val nS = card(supplier, "s_suppkey")
    val nP = card(part, "p_partkey")
    val nO = card(orders, "o_orderkey")
    val nE = card(events, "event_id")
    val nD = card(docs, "doc_id")
    val nV = card(embs, "vec_id")
    // event user population is its own dense id space (≠ customer keys)
    val nU = events.agg(max(col("user_id"))).head().getLong(0) + 1

    // replica axis: a k-row broadcast-cross-joined range. Each replica's
    // rows are the source partition-for-partition — the cross join
    // multiplies rows inside existing partitions, no shuffle.
    val rep = broadcast(spark.range(k).toDF("__r"))
    def replicate(df: DataFrame): DataFrame = df.crossJoin(rep)
    def off(key: String, n: Long): Column =
      (col(key) + col("__r") * lit(n)).as(key)

    // --- skew machinery (all draws are seeded h56 hashes of the row's PK
    // + replica, so the lake is a pure function of (src, k)) -------------
    import graft.engine.Det
    def u01(tag: String, pk: Column, r: Column): Column =
      (pmod(Det.h56(concat_ws(":", lit(tag), pk.cast("string"),
        r.cast("string"))), lit(1048576L)) + lit(0.5)) / lit(1048576.0)
    // Zipf(1) rank over [0, hotN) via inverse CDF: P(rank=x) ∝ 1/(x+1)
    def zipfRank(tag: String, pk: Column, r: Column, hotN: Int): Column =
      (floor(org.apache.spark.sql.functions.pow(lit(hotN.toDouble),
        u01(tag, pk, r))) - 1).cast("long")
    /** `base` FK, except in skew mode `pct`% of replica-r≥1 rows redirect
      * to a global hot key (replica-0 id in [0, hotN), Zipf-ranked). */
    def skewFk(tag: String, pk: Column, base: Column, hotN: Int,
        pct: Int): Column =
      if (!skew) base
      else when(col("__r") > 0 &&
          pmod(Det.h56(concat_ws(":", lit(tag + ":sel"), pk.cast("string"),
            col("__r").cast("string"))), lit(100L)) < pct,
          zipfRank(tag, pk, col("__r"), hotN))
        .otherwise(base)

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gensf] wrote $name x$k → $outDir/$name.parquet ($files files)")
    }

    // fixed dims: verbatim copy
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    write(replicate(customer).select(
      off("c_custkey", nC),
      format_string("Customer#%09d", col("c_custkey") + col("__r") * nC)
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 2)

    write(replicate(supplier).select(
      off("s_suppkey", nS),
      format_string("Supplier#%09d", col("s_suppkey") + col("__r") * nS)
        .as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    write(replicate(part).select(
      off("p_partkey", nP), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")),
      "part", 2)

    write(replicate(orders).select(
      off("o_orderkey", nO),
      skewFk("sk:ocust", col("o_orderkey"),
        col("o_custkey") + col("__r") * nC, 64, 30).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders", 4)

    val liPk = concat_ws("_", col("l_orderkey"), col("l_linenumber"))
    write(replicate(lineitem).select(
      off("l_orderkey", nO),
      skewFk("sk:lpart", liPk,
        col("l_partkey") + col("__r") * nP, 64, 30).as("l_partkey"),
      skewFk("sk:lsupp", liPk,
        col("l_suppkey") + col("__r") * nS, 16, 30).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")),
      "lineitem", 8)

    write(replicate(events).select(
      off("event_id", nE),
      // cast back to NTZ before writing: Tables.events normalizes the scan
      // to a UTC-adjusted TIMESTAMP, but the driver's own SFs ship ts as
      // parquet isAdjustedToUTC=false — writing the adjusted form would make
      // DuckDB read the generated SF as TIMESTAMPTZ (tz-aware in pandas),
      // unlike every driver SF. Session zone is UTC, so the wall-clock
      // micros are unchanged; Tables.events re-normalizes NTZ on read.
      (col("ts") + expr("make_interval(0,0,0,0,0,0,0.137) * __r"))
        .cast("timestamp_ntz").as("ts"),
      skewFk("sk:euser", col("event_id"),
        col("user_id") + col("__r") * nU, 64, 30).as("user_id"),
      col("event_type"), col("value"), col("props")),
      "events", 4)

    // --- documents: per-replica vocabulary permutation ---------------
    // closed vocab, collected once (bounded: the corpus generator uses a
    // ~31-word pool; guarded so a future fixture can't blow the driver)
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
      .orderBy("w").collect().map(_.getString(0))
    require(vocab.length <= 10000, s"vocab unexpectedly large: ${vocab.length}")

    def vocabMap(r: Int): Column = {
      // bijection: sorted vocab → vocab re-sorted by seeded shuffle
      val rng = new scala.util.Random(42L + r)
      val shuffled = rng.shuffle(vocab.toVector)
      map(vocab.zip(shuffled).flatMap { case (a, b) =>
        Seq(lit(a), lit(b)) }: _*)
    }

    val docReplicas = (0 until k).map { r =>
      val permuted =
        if (r == 0) col("text")
        else array_join(
          transform(split(col("text"), " "),
            w => coalesce(element_at(vocabMap(r), w), w)), " ")
      val txt =
        if (!skew || r == 0) permuted
        else {
          // geometric duplication level per SOURCE doc: P(L ≥ j) = 2^-j
          // (k-1-capped) — replicas r ≤ L carry a near-copy (each word
          // mutated with prob 1/32 through the bijection; shingle
          // Jaccard ≈ 0.8, sometimes an exact copy), r > L the distinct
          // permuted text. Duplicate clusters are power-law-sized and
          // span replicas.
          val u = (pmod(Det.h56(concat(lit("dup:"),
            col("doc_id").cast("string"))), lit(1048576L)) + lit(0.5)) /
            lit(1048576.0)
          val level = least(floor(-log2(u)), lit((k - 1).toDouble))
          val nearDup = array_join(transform(split(col("text"), " "),
            w => when(pmod(Det.h56(concat_ws(":", lit("mut"), w,
                lit(r.toString), col("doc_id").cast("string"))),
                lit(32L)) === 0,
              coalesce(element_at(vocabMap(r), w), w)).otherwise(w)), " ")
          when(lit(r.toDouble) <= level, nearDup).otherwise(permuted)
        }
      docs.select(
        (col("doc_id") + lit(r.toLong * nD)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }
    write(docReplicas.reduce(_ unionAll _), "documents", 2)

    // --- embeddings: per-replica orthogonal transform -----------------
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    // skew mode: 64 candidate centroids = replica-0 vectors 0..63,
    // broadcast; half of each r≥1 replica's vectors blend 50/50 with a
    // Zipf-chosen centroid, so cluster populations are power-law and IVF
    // cells go imbalanced.
    val cents = broadcast(embs.filter(col("vec_id") < 64)
      .select(col("vec_id").as("__cid"), col("embedding").as("__cemb")))
    val embReplicas = (0 until k).map { r =>
      val vec =
        if (r == 0) col("embedding")
        else {
          val rng = new scala.util.Random(4242L + r)
          val perm = rng.shuffle((1 to dim).toVector) // 1-based element_at
          val sign = Vector.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
          zip_with(
            transform(array(perm.map(lit): _*),
              p => element_at(col("embedding"), p)),
            array(sign.map(lit): _*),
            (a, b) => a * b)
        }
      if (!skew || r == 0)
        embs.select(
          (col("vec_id") + lit(r.toLong * nV)).as("vec_id"),
          vec.cast("array<float>").as("embedding"),
          col("label"))
      else {
        val clustered = pmod(Det.h56(concat_ws(":", lit("clsel"),
          col("vec_id").cast("string"), lit(r.toString))), lit(100L)) < 50
        embs
          .withColumn("__cid",
            when(clustered,
              zipfRank("sk:cl", col("vec_id"), lit(r), 64))
            .otherwise(lit(-1L)))
          .join(cents, Seq("__cid"), "left")
          .select(
            (col("vec_id") + lit(r.toLong * nV)).as("vec_id"),
            when(col("__cemb").isNotNull,
              zip_with(vec, col("__cemb"),
                (a, b) => a * lit(0.5f) + b * lit(0.5f)))
              .otherwise(vec)
              .cast("array<float>").as("embedding"),
            col("label"))
      }
    }
    write(embReplicas.reduce(_ unionAll _), "embeddings", 2)

    println(s"[gensf] done: $outDir (k=$k from $srcDir)")
  }
}
