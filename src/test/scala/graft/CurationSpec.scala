package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Chunking, Contamination, Dedup, Mixing, Shards}

class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("contamination flags the planted benchmark copy, not clean docs") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim copy with a prefix → contains every benchmark shingle
      (1L, "breaking news the quick brown fox jumps over the lazy dog tonight"),
      // partial overlap below threshold
      (2L, "the quick brown fox sleeps"),
      // clean
      (3L, "completely unrelated text about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(corpus, bench, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toList
    assert(out.map(_._1) === List(1L), s"got $out")
    assert(out.head._3 === 1.0, "verbatim copy carries every shingle")
  }

  test("chunking windows overlap correctly and clamp the tail") {
    // 10 tokens, chunk 4, overlap 2 → starts 0,2,4,6,8
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Chunking.byTokens(doc, "doc_id", "text", chunk = 4, overlap = 2)
      .orderBy("chunk_id")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.length === 5)
    assert(out(0) === ((0L, "w1 w2 w3 w4", 4L)))
    assert(out(1) === ((1L, "w3 w4 w5 w6", 4L)), "2-token overlap")
    assert(out(4) === ((4L, "w9 w10", 2L)), "tail chunk clamped")
    // every token survives: union of chunks covers the doc
    val covered = out.flatMap(_._2.split(" ")).toSet
    assert(covered === (1 to 10).map(i => s"w$i").toSet)
  }

  test("mix weights: alpha=1 is proportional, alpha=0.5 flattens, sums to 1") {
    val docs = Seq.tabulate(100)(i =>
      (i.toLong, if (i < 90) "big" else "small", 100L))
      .toDF("doc_id", "source", "n_chars")
    def weights(a: Double) =
      Mixing.temperatureWeights(docs, "source", "n_chars", alpha = a)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val prop = weights(1.0)
    assert(math.abs(prop("big") - 0.9) < 1e-6)
    val flat = weights(0.5)
    assert(flat("big") < 0.9 && flat("small") > 0.1,
      "temperature upweights the low-resource source")
    assert(math.abs(flat.values.sum - 1.0) < 1e-6)
  }

  test("incremental dedup flags corpus-seen and intra-batch duplicates") {
    val corpus = Seq((1L, "the original document text"))
      .toDF("doc_id", "text")
      .withColumn("content_hash",
        sha2(Dedup.normalize(col("text")), 256))
    val batch = Seq(
      (10L, "THE  original document TEXT"), // normalizes to corpus doc 1
      (11L, "a genuinely new document"),
      (12L, "a genuinely new document"))    // intra-batch dup of 11
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_new"), r.getAs[Boolean]("batch_canonical"))).toMap
    assert(out(10L) === ((false, true)), "seen in corpus, first in batch")
    assert(out(11L) === ((true, true)))
    assert(out(12L) === ((true, false)), "intra-batch duplicate")
  }

  test("bigram LM score ranks in-distribution text above word salad") {
    // 9 docs of the same fluent sentence train strong bigram counts; the
    // salad doc's token SET overlaps but its bigrams are unseen, so its
    // mean conditional probability must land far below the fluent docs'
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val docs = ((1L to 9L).map(i => (i, fluent)) :+
      (10L, "rug the on dog mat cat the sat and on the the sat") :+
      (11L, "x"))  // single token → no bigrams → score 0
      .toDF("doc_id", "text")
    val out = TextFunctions.bigramLmScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._2 === out(9L)._2, "identical docs score identically")
    assert(out(1L)._2 > out(10L)._2 * 2,
      s"fluent ${out(1L)._2} should dwarf salad ${out(10L)._2}")
    assert(out(11L) === ((0L, 0.0)), "sub-bigram doc scores 0 with 0 bigrams")
  }

  test("tf-idf surfaces each doc's distinctive term above shared boilerplate") {
    val docs = Seq(
      (1L, "common words plus zebra zebra"),
      (2L, "common words plus quasar"),
      (3L, "common words plus nothing else"))
      .toDF("doc_id", "text")
    val top = TextFunctions.tfidfKeywords(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top(1L) === "zebra")
    assert(top(2L) === "quasar")
    // 3 docs: max_df = ceil(0.75·3) = 3
    val vocab = TextFunctions.vocabulary(docs, "doc_id", "text",
      minDf = 2, maxTerms = 10)
      .collect().map(_.getString(0)).toSet
    assert(vocab === Set("common", "words", "plus"), s"got $vocab")
  }

  test("vocabulary: max_df = ceil(0.75·n_docs), in-plan") {
    // 4 docs → max_df = 3: 'everywhere' (df 4) is boilerplate, banded
    // terms with df in [2, 3] survive, hapaxes fail min_df
    val docs = Seq(
      (1L, "everywhere shared rare1"),
      (2L, "everywhere shared other"),
      (3L, "everywhere shared other"),
      (4L, "everywhere solo"))
      .toDF("doc_id", "text")
    val got = TextFunctions.vocabulary(docs, "doc_id", "text",
        minDf = 2, maxTerms = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("shared" -> 3L, "other" -> 2L), s"got $got")
    // the expression at the anchor points (engine dialect)
    val md = (n: Long) => spark.sql(
      s"SELECT ${TextFunctions.vocabMaxDfExprSql(n.toString)} AS m")
      .head().getLong(0)
    assert(md(4L) === 3L)
    assert(md(5000L) === 3750L)
    assert(md(50000L) === 37500L)
  }

  test("boilerplate strip removes ubiquitous tokens, preserves order") {
    // "filler" is in 4/4 docs (df 100% > 78%) → stripped; everything else
    // survives in original order. Doc 4 is ONLY filler → empty clean text.
    val docs = Seq(
      (1L, "alpha filler beta"),
      (2L, "filler gamma alpha filler"),
      (3L, "delta filler"),
      (4L, "filler filler"))
      .toDF("doc_id", "text")
    val out = TextFunctions.stripBoilerplate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 1L, "alpha beta")))
    assert(out(2L) === ((4L, 2L, "gamma alpha")))
    assert(out(3L) === ((2L, 1L, "delta")))
    assert(out(4L) === ((2L, 2L, "")), "fully-boilerplate doc goes empty")
  }

  test("shard assignment partitions the corpus and balances weight") {
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      // heavy tail: 10 docs carry 50x weight
      when(col("id") < 10, 5000L).otherwise(lit(100L)).as("tokens"))
    val a = Shards.assign(docs, "doc_id", "tokens", nShards = 4,
      heavyCutoff = 1000)
    // complete + disjoint: every doc exactly once
    assert(a.count() === 2000)
    assert(a.select("doc_id").distinct().count() === 2000)
    assert(a.filter(col("shard") < 0 || col("shard") >= 4).count() === 0)
    // deterministic under repartitioning
    val b = Shards.assign(docs.repartition(13), "doc_id", "tokens",
      nShards = 4, heavyCutoff = 1000)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the 10 heavies deal 3-3-2-2 round-robin; with hash placement alone
    // a shard could have drawn 4+ of them
    val heavyPerShard = a.filter(col("tokens") === 5000L)
      .groupBy("shard").count().as[(Int, Long)].collect().toMap
    assert(heavyPerShard.values.max <= 3, s"got $heavyPerShard")
    // total-weight imbalance stays tight
    val imb = Shards.summary(a, "tokens")
      .agg(max("imbalance")).as[Double].collect().head
    assert(imb < 1.25, s"max shard carries ${imb}x the ideal share")
  }

  test("shuffled: a complete permutation, reproducible, salt-independent") {
    val docs = spark.range(2000).select(col("id").as("doc_id"))
    val a = Shards.shuffled(docs, "doc_id", nShards = 8)
    // complete + disjoint: every doc exactly once, positions dense 1..n
    assert(a.count() === 2000)
    assert(a.select("doc_id").distinct().count() === 2000)
    val dense = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("shard_pos").as("mx"))
      .filter(col("n") =!= col("mx")).count()
    assert(dense === 0, "shard_pos must be dense 1..n per shard")
    // reproducible under repartitioning
    val b = Shards.shuffled(docs.repartition(13), "doc_id", nShards = 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a different salt is a genuinely different epoch order
    val c = Shards.shuffled(docs, "doc_id", nShards = 8, salt = 1)
    assert(a.exceptAll(c).count() > 0)
    // id order and shuffle order decorrelated: the first 10 of shard 0
    // are not simply the 10 lowest ids
    val first = a.filter(col("shard") === 0 && col("shard_pos") <= 10)
      .select("doc_id").as[Long].collect().toSet
    assert(first != (0L until 10L).toSet)
  }

  test("contiguous packing fills sequences in order, overflow bounded") {
    import graft.operators.Packing
    val docs = Seq(
      // shard s: 60+60 fill seq 0 to 120; 30 starts at offset 120 of seq 0
      // (first token before the 128 boundary), 100 starts seq 1+
      ("s", 1L, 60L), ("s", 2L, 60L), ("s", 3L, 30L), ("s", 4L, 100L),
      ("r", 9L, 300L), ("r", 10L, 5L)) // oversized doc owns its start bin
      .toDF("shard", "doc_id", "toks")
    val out = Packing.contiguous(docs, "shard", "doc_id", "toks", 128)
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) === ((0L, 0L)))
    assert(out(2L) === ((0L, 60L)))
    assert(out(3L) === ((0L, 120L)), "doc starting before the boundary stays")
    assert(out(4L) === ((1L, 22L)), "next doc lands past the overflow")
    assert(out(9L) === ((0L, 0L)), "shards pack independently")
    assert(out(10L) === ((2L, 44L)), "300-token doc pushes successor to seq 2")
  }
}
