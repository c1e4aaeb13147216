package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Library robustness: every operator must accept an EMPTY input relation
  * (a filtered-out partition, a cold-start incremental run) and return an
  * empty, correctly-shaped result — not throw. */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family on an empty corpus") {
    assert(Dedup.exact(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashNearDups(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashNearDups(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.ngramJaccardDups(noDocs, "doc_id", "text").count() === 0)
    val cc = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(cc.count() === 0)
    assert(cc.columns.toSeq === Seq("id", "cluster_id"))
  }

  test("similarity family on empty vectors") {
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q_emb")
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("cell", "c_emb")
    assert(Similarity.bruteForceTopK(noVecs, q, 5).count() === 0)
    assert(Similarity.ivfTopK(noVecs, cents, q, k = 5, nProbe = 1).count() === 0)
    // the codebook never shrinks: with no members every cell survives
    // with its previous centroid and a zero member count
    val km = Similarity.kmeansStep(noVecs, cents).collect()
    assert(km.length === 1 && km.head.getLong(2) === 0L)
    assert(Similarity.embeddingNearDups(noVecs, threshold = 0.5).count() === 0)
  }

  test("sketch and layout family on empty inputs") {
    val noKeys = Seq.empty[Tuple1[String]].toDF("k")
    val emptyBloom = Bloom.build(noKeys, "k")
    assert(emptyBloom.count() === 0)
    // probing an empty filter: nothing can be present
    val probed = Bloom.probe(Seq(Tuple1("x")).toDF("k"), emptyBloom, "k")
    assert(probed.filter(col("maybe_present")).count() === 0)
    assert(Bloom.probe(noKeys, emptyBloom, "k").count() === 0)
    assert(Kmv.estimate(Kmv.sketch(
      Seq.empty[(String, String)].toDF("grp", "key"), "grp", "key", 16),
      "grp", 16).count() === 0)
    assert(CountMin.build(noKeys, "k").count() === 0)
    assert(CountMin.estimate(Seq(Tuple1("x")).toDF("k"),
      CountMin.build(noKeys, "k"), "k")
      .select("est_count").as[Long].head() === 0L)
    assert(ZOrder.fileStats(ZOrder.fileLayout(
      Seq.empty[(Long, Long)].toDF("a", "id"),
      Seq(col("a"), col("id")), 10), Seq("a")).count() === 0)
    assert(Shards.shuffled(noDocs, "doc_id", nShards = 8).count() === 0)
  }

  test("curation family on empty inputs") {
    import java.sql.Date
    assert(Contamination.ngramOverlap(noDocs, noDocs, "doc_id", "text")
      .count() === 0)
    assert(Chunking.byTokens(noDocs, "doc_id", "text", chunk = 8).count() === 0)
    assert(Mixing.temperatureWeights(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars"),
      "source", "n_chars").count() === 0)
    assert(Shards.assign(
      Seq.empty[(Long, Long)].toDF("doc_id", "n"), "doc_id", "n", 4)
      .count() === 0)
    assert(graft.functions.TextFunctions.vocabulary(
      noDocs, "doc_id", "text", 1, 10).count() === 0)
    assert(graft.functions.TextFunctions.tfidfKeywords(
      noDocs, "doc_id", "text", 3).count() === 0)
    assert(Dedup.incrementalExact(noDocs,
      Seq.empty[Tuple1[String]].toDF("content_hash"), "doc_id", "text")
      .count() === 0)
    // empty update batch: history passes through unchanged
    val cur = Seq((1L, "gold", Date.valueOf("2020-01-01"),
      None: Option[Date], true))
      .toDF("cust_id", "tier", "valid_from", "valid_to", "is_current")
    val upd = Seq.empty[(Long, String)].toDF("cust_id", "tier")
    val merged = Scd2.merge(cur, upd, "cust_id", Seq("tier"),
      lit("2021-01-01").cast("date"))
    assert(merged.count() === 1)
    assert(merged.collect().head.getBoolean(4))
  }

  test("round-5 operators on empty inputs") {
    // empty BATCH probing a populated index: nothing to report
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    assert(Dedup.minhashProbe(noDocs, index, "doc_id", "text").count() === 0)
    // populated batch probing an EMPTY index (cold-start corpus): only
    // intra-batch pairs can surface; a single doc yields none
    val emptyIndex = Dedup.minhashIndex(noDocs, "doc_id", "text")
    assert(Dedup.minhashProbe(corpus, emptyIndex, "doc_id", "text").count() === 0)
    // BPE: learning from nothing yields no merges; tokenizing nothing
    // yields no rows; encoding with an empty table falls back to chars
    assert(graft.functions.Bpe.learnDistributed(noDocs, "text", 10) === Seq.empty)
    assert(graft.functions.Bpe.tokenize(spark, noDocs, "doc_id", "text",
      Seq.empty).count() === 0)
    assert(graft.functions.Bpe.encodeWord("ab", Map.empty) === Vector("a", "b"))
    // chunking over an empty pre-tokenized relation
    assert(Chunking.byArray(
      Seq.empty[(Long, Seq[String])].toDF("doc_id", "toks"),
      "doc_id", "toks", chunk = 8).count() === 0)
    // boilerplate strip of an empty corpus: no rows, no div-by-zero
    assert(graft.functions.TextFunctions.stripBoilerplate(
      noDocs, "doc_id", "text").count() === 0)
    // semantic dedup with empty vectors and a populated codebook
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cb = Seq((0L, Array(1.0f, 0.0f))).toDF("cell", "c_emb")
    assert(Similarity.semanticDedup(noVecs, cb, 0.9).count() === 0)
    // drift / weights / canonical selection over empty inputs
    assert(graft.operators.Drift.meanShift(
      Seq.empty[(String, Long)].toDF("src", "v"), "src", "v").count() === 0)
    val noClusters = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    assert(Dedup.duplicationWeights(noClusters, noDocs.select(
      col("doc_id").as("id"))).count() === 0)
    assert(Dedup.canonicalSelection(noClusters,
      Seq.empty[(Long, String)].toDF("id", "source"),
      Seq.empty[(String, Long)].toDF("source", "priority")).count() === 0)
  }

  test("joins and sampling on empty sides") {
    val pts = Seq.empty[Tuple1[Double]].toDF("v")
    val ivs = Seq((1L, 5L)).toDF("lo", "hi")
    assert(RangeJoin.pointInInterval(pts, ivs, "v", "lo", "hi", 2.0).count() === 0)
    assert(RangeJoin.pointInInterval(
      Seq(Tuple1(3.0)).toDF("v"),
      Seq.empty[(Long, Long)].toDF("lo", "hi"), "v", "lo", "hi", 2.0).count() === 0)
    val left = Seq.empty[(Long, java.sql.Timestamp)].toDF("k", "ts")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k2", "ts2", "p")
    assert(AsOfJoin.asof(left, right, "k", "k2", "ts", "ts2", Seq("p")).count() === 0)
    assert(Sampling.sample(noDocs, "doc_id", 0.5).count() === 0)
    assert(Sampling.split(noDocs, "doc_id", Seq(0.5, 0.5)).map(_.count()).sum === 0)
  }

  test("session-3 operators on empty inputs") {
    val noStrs = Seq.empty[Tuple1[String]].toDF("s")
    assert(FuzzyJoin.editDistancePairs(noStrs, "s", 2).count() === 0)
    // empty dict: no probe can match; empty probes: nothing to match
    val dict = Seq(Tuple1("red bolt")).toDF("d")
    assert(FuzzyJoin.editDistanceLookup(noStrs, dict, "s", "d", 2)
      .count() === 0)
    assert(FuzzyJoin.editDistanceLookup(dict, noStrs, "d", "s", 2)
      .count() === 0)
    // interval overlap with an empty side
    val ivs2 = Seq((1L, 5L)).toDF("rlo", "rhi")
    val noIvs = Seq.empty[(Long, Long)].toDF("llo", "lhi")
    assert(RangeJoin.intervalOverlap(noIvs, ivs2,
      "llo", "lhi", "rlo", "rhi", 2.0).count() === 0)
    // binning / gini: no rows → no edges, no gini row blow-ups
    val noVals = Seq.empty[Tuple1[Double]].toDF("v")
    assert(Binning.equalFrequencyEdges(noVals, "v", 4, 10.0).count() === 0)
    assert(Binning.assign(noVals, "v",
      Binning.equalFrequencyEdges(noVals, "v", 4, 10.0), "bin")
      .count() === 0)
    assert(Binning.groupedEqualFrequencyEdges(
      Seq.empty[(String, Double)].toDF("g", "v"), "g", "v", 4, 10.0)
      .count() === 0)
    val gr = Inequality.gini(noVals, "v", 10.0).collect()
    assert(gr.length === 1 && gr.head.getLong(0) === 0L)
    // k-core with no edges: nothing survives
    assert(Graph.kcore(spark.range(3).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"), "id", 2, 3).count() === 0)
    // nearest with an empty right side: left rows kept with NULLs
    val probes = Seq((1L, 1L, 10L)).toDF("pid", "key", "pts")
    val noCands = Seq.empty[(Long, Long, Long)].toDF("cid", "ckey", "cts")
    val n = AsOfJoin.nearest(probes, noCands, "key", "ckey",
      "pts", "cts", "cid", Seq("cid")).collect()
    assert(n.length === 1 && n.head.isNullAt(3))
  }

  test("session-4 operators on empty inputs") {
    val q = Seq(Tuple1(Array.fill(64)(1.0f))).toDF("q_emb")
    assert(Quantize.signBits(noVecs, "vec_id", "embedding").count() === 0)
    assert(Quantize.hammingTopK(noVecs, q, k = 5, pool = 10).count() === 0)
    val cents = Seq((0L, Array.fill(64)(1.0f))).toDF("cell", "c_emb")
    assert(Similarity.silhouetteByCell(noVecs, cents).count() === 0)
    // the in-plan threshold aggregate over ZERO baskets must still
    // produce a (greatest-floored) scalar, not a null that silently
    // drops everything downstream
    assert(Itemsets.frequentTriples(
      Seq.empty[(Long, Long)].toDF("bk", "it"), "bk", "it",
      basketDenom = 75000L).count() === 0)
    val noNodes = Seq.empty[Tuple1[Long]].toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.labelPropagation(noNodes, noEdges, "id", 2).count() === 0)
    assert(Graph.betweenness(noNodes, noEdges, "id",
      isSource = col("id") === 0, depth = 2).count() === 0)
    assert(Graph.harmonicFromSources(noNodes, noEdges, "id",
      isSource = col("id") === 0, depth = 2).count() === 0)
    assert(Graph.personalizedPagerank(
      spark.range(2).toDF("id"), noEdges, "id",
      isSource = col("id") === 0, iterations = 2).count() === 2)
    val noSeries = Seq.empty[(String, java.sql.Date, Double)]
      .toDF("k", "d", "v")
    assert(TimeSeries.holt(noSeries, "k", "d", "v", 0.3, 0.1).count() === 0)
    assert(graft.functions.TextFunctions.phraseSearch(noDocs, "doc_id",
      "text", Seq("a", "b")).count() === 0)
    val lshe = Dedup.lshEval(noDocs, "doc_id", "text").collect()
    assert(lshe.length === 1 && lshe.head.getLong(0) === 0L)
    // empty population: sample is empty, no tau blow-up
    assert(Sampling.prioritySample(noDocs.withColumn("w", lit(1L)),
      "doc_id", "w", k = 5).count() === 0)
    assert(Shards.rendezvous(noDocs.select("doc_id"), "doc_id", 8)
      .count() === 0)
    assert(Density.gridCluster(
      Seq.empty[(Long, Double, Double)].toDF("id", "x", "y"),
      "id", "x", "y", eps = 0.1, minPts = 2).count() === 0)
  }

  test("session-5 operators on empty and null inputs") {
    // hilbert walk on an empty relation keeps its shape
    val noPts = Seq.empty[(Long, Long)].toDF("x", "y")
    val hil = Hilbert.index(noPts, "x", "y", 8, "d")
    assert(hil.count() === 0)
    assert(hil.columns.toSeq === Seq("x", "y", "d"))
    // jaro_winkler: NULL propagates, never throws
    import graft.expressions.GraftFunctions
    val jw = Seq((Some("abc"), None: Option[String]),
        (None: Option[String], Some("x")), (Some(""), Some("")))
      .toDF("a", "b")
      .select(GraftFunctions.jaro_winkler(col("a"), col("b")).as("jw"))
      .as[Option[Double]].collect()
    assert(jw.toSeq === Seq(None, None, Some(0.0)))
  }

  test("session-7 operators on empty and degenerate inputs") {
    // Bradley-Terry: an empty match relation yields an empty leaderboard
    val noGames = Seq.empty[(String, String, Long, Long)]
      .toDF("a", "b", "n", "wins_a")
    val bt = BradleyTerry.fit(noGames, rounds = 2)
    assert(bt.count() === 0)
    assert(bt.columns.toSeq === Seq("player", "games", "wins", "rating"))
    // range search with no queries / no vectors
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("cell", "c_emb")
    val noQs = Seq.empty[(Long, Array[Float])].toDF("query_id", "q_emb")
    assert(Similarity.ivfRangeSearch(noVecs, cents, noQs,
      tau = 0.5, nProbe = 1).count() === 0)
    val q1 = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "q_emb")
    assert(Similarity.ivfRangeSearch(noVecs, cents, q1,
      tau = 0.5, nProbe = 1).count() === 0)
    // URL canonicalizer: null propagates; non-URL strings pass through
    // the regex pipeline without throwing
    import graft.functions.UrlFunctions
    val urls = Seq(Option("not a url"), None)
      .toDF("u").select(UrlFunctions.canonicalUrl(col("u")).as("c"))
      .as[Option[String]].collect()
    assert(urls.length === 2 && urls(1).isEmpty)
  }

  test("round-8 operators on empty and degenerate inputs") {
    import graft.functions.Bpe
    // BPE pinned-codebook encode: empty text → zero words, zero tokens;
    // whitespace-only likewise (the tokens() filter drops empties)
    val texts = Seq((1L, ""), (2L, "   "), (3L, "x")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(spark, texts, "doc_id", "text", Bpe.pinnedMerges)
      .collect().map(t => t.id -> ((t.n_words, t.n_bpe_tokens))).toMap
    assert(toks(1L) === ((0, 0)) && toks(2L) === ((0, 0)))
    assert(toks(3L) === ((1, 1)))
    // native kmv_sketch over an empty relation: no groups, no rows —
    // and over all-null hashes: empty sketch, not a crash
    import graft.expressions.GraftFunctions.kmv_sketch
    val noRows = Seq.empty[(String, Long)].toDF("g", "h")
    assert(noRows.groupBy("g").agg(kmv_sketch(col("h"), 8)).count() === 0)
    val nulls = Seq(("g", None), ("g", Some(5L)))
      .toDF("g", "h").select(col("g"), col("h").cast("long").as("h"))
    val sk = nulls.groupBy("g").agg(kmv_sketch(col("h"), 8).as("sk"))
      .as[(String, Seq[Long])].head()._2
    assert(sk === Seq(5L), "null hashes must be skipped, not counted")
  }
}
