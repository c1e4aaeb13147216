package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 60 distinct words; doc3 swaps the last 5 → shingle Jaccard ≈ 0.84
  private val words = (0 until 60).map(i => s"w$i")
  private val base = words.mkString(" ")
  private val docs = Seq(
    (1L, base),
    (2L, "  " + base.toUpperCase + "  "),                    // exact dup after normalize
    (3L, (words.take(55) ++ Seq("x1", "x2", "x3", "x4", "x5")).mkString(" ")),
    (4L, (0 until 60).map(i => s"zz$i").mkString(" ")))      // unrelated
    .toDF("doc_id", "text")

  test("exact: normalized duplicates share a hash, lowest id canonical") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "content_hash", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 === byId(2L)._2, "same hash for normalized dups")
    assert(byId(1L)._3 === true)
    assert(byId(2L)._3 === false)
    assert(byId(3L)._2 !== byId(1L)._2)
  }

  test("minhash LSH finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near dup not found: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash jaccard matches brute-force shingle jaccard") {
    def sh(t: String) = {
      val w = t.toLowerCase.split("\\s+").toSeq
      w.sliding(3).map(_.mkString(" ")).toSet
    }
    val expected = {
      val a = sh(docs.collect()(0).getString(1))
      val b = sh(docs.collect()(2).getString(1))
      math.floor(a.intersect(b).size.toDouble / a.union(b).size * 10000 + 0.5) / 10000
    }
    val got = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.1)
      .filter($"id_a" === 1 && $"id_b" === 3)
      .select("jaccard").as[Double].collect()
    assert(got.length === 1 && math.abs(got.head - expected) < 1e-9,
      s"got ${got.toSeq}, expected $expected")
  }

  test("simhash: identical docs at hamming 0; near dups within 6") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram inverted-index blocking finds the same verified pairs") {
    val got = Dedup.ngramJaccardDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("relative posting cap: floors at 32 below the anchor, grows " +
      "ceil-linearly above") {
    // the in-plan expression at the anchor points (engine dialect)
    val cap = (n: Long) => spark.sql(
      s"SELECT ${Dedup.postingCapExprSql(n.toString)} AS c")
      .head().getLong(0)
    assert(cap(0L) === 32L)
    assert(cap(5000L) === 32L)
    assert(cap(5001L) === 33L)
    assert(cap(50000L) === 320L)
  }

  test("relative posting cap admits corpus-frequency-scaled postings " +
      "that the absolute cap rejects") {
    // 40 shared-shingle docs: posting length 40 > 32 — at 40 docs the
    // cap floors at 32 and drops the shingles entirely (zero pairs); a
    // larger corpus admits them, so check the expression directly
    // instead of building a 5k-doc corpus: the admitting cap for a
    // 40-long posting needs n_docs ≥ 6,250.
    val many = (0 until 40)
      .map(i => (i.toLong, (0 until 60).map(j => s"c$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccardDups(many, "doc_id", "text", 0.9).count() === 0)
    val admitting = spark.sql(
      s"SELECT ${Dedup.postingCapExprSql("6250")} AS c").head().getLong(0)
    assert(admitting >= 40L)
  }

  test("minhash probe vs stored index == full re-run restricted to batch pairs") {
    // corpus: 1≈2 near-dup (corpus-internal — must NOT appear in the
    // probe), 3 unrelated, 4 is the stored near-dup of arriving batch doc
    // 101; batch: 101≈4 (batch×corpus), 102≈103 (batch-internal — an
    // arriving batch duplicating itself), 104 unrelated
    val w = (0 until 60).map(i => s"q$i")
    def drift(n: Int, tag: String) =
      (w.take(60 - n) ++ (0 until n).map(i => s"$tag$i")).mkString(" ")
    val corpus = Seq(
      (1L, w.mkString(" ")), (2L, drift(3, "a")),
      (3L, (0 until 60).map(i => s"yy$i").mkString(" ")),
      (4L, drift(5, "b"))).toDF("doc_id", "text")
    val batch = Seq(
      (101L, drift(6, "b")),
      (102L, drift(4, "c")), (103L, drift(5, "c")),
      (104L, (0 until 60).map(i => s"kk$i").mkString(" ")))
      .toDF("doc_id", "text")
    val th = 0.5
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val probed = Dedup.minhashProbe(batch, index, "doc_id", "text",
        threshold = th)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDups(corpus.unionByName(batch),
        "doc_id", "text", threshold = th)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchIds = Set(101L, 102L, 103L, 104L)
    val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(probed === expected,
      s"probe=$probed expected=$expected full=$full")
    assert(probed.exists(p => p._1 == 4L && p._2 == 101L), "batch×corpus pair")
    assert(probed.exists(p => p._1 == 102L && p._2 == 103L), "batch-internal pair")
    assert(!probed.exists(p => p._1 == 1L && p._2 == 2L),
      "corpus-internal pair must stay out of probe scope")
    assert(full.exists(p => p._1 == 1L && p._2 == 2L),
      "fixture sanity: corpus-internal near-dup exists")
  }

  test("duplicate spans flag the shared quote, not the unique prose") {
    // docs 1 and 2 are globally dissimilar (doc-level dedup misses them)
    // but share one 10-token quote; doc 3 is fully unique; doc 4 repeats
    // its own phrase (intra-doc duplication counts too)
    val quote = (0 until 10).map(i => s"q$i").mkString(" ")
    val ds = Seq(
      (1L, (0 until 40).map(i => s"a$i").mkString(" ") + " " + quote),
      (2L, (0 until 40).map(i => s"b$i").mkString(" ") + " " + quote),
      (3L, (0 until 50).map(i => s"c$i").mkString(" ")),
      (4L, ((0 until 8).map(i => s"r$i").mkString(" ") + " ") * 3))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(ds, "doc_id", "text", window = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the 10-token quote yields 3 fully-inside-quote 8-spans per doc
    assert(out(1L)._2 === 3, s"doc1 dup spans ${out(1L)}")
    assert(out(2L)._2 === 3)
    assert(out(3L)._2 === 0, "unique doc clean")
    assert(out(4L)._2 > 0, "self-repetition flagged")
    assert(out(1L)._1 === 43, "50-token doc → 43 spans of 8")
  }

  test("strip spans removes the shared quote, keeps unique prose in order") {
    // the 4-token quote "q1 q2 q3 q4" appears in docs 1 and 2; every other
    // token is unique corpus-wide, so exactly the quote's positions go
    val docs = Seq(
      (1L, "a1 a2 q1 q2 q3 q4 a3 a4"),
      (2L, "b1 q1 q2 q3 q4 b2"),
      (3L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "doc_id", "text", window = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((8L, 4L, "a1 a2 a3 a4")))
    assert(out(2L) === ((6L, 4L, "b1 b2")))
    assert(out(3L) === ((5L, 0L, "c1 c2 c3 c4 c5")), "untouched doc intact")
    // intra-doc repetition is also removal-worthy: the span repeats
    // within ONE doc, so both occurrences' positions are covered
    val rep = Seq((9L, "r1 r2 r3 r4 x r1 r2 r3 r4")).toDF("doc_id", "text")
    val r9 = Dedup.stripDuplicateSpans(rep, "doc_id", "text", window = 4)
      .collect().head
    assert(r9.getString(3) === "x" && r9.getLong(2) === 8L)
  }

  test("connected components: chains collapse to min-id clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("canonical selection prefers source priority over lowest id") {
    // cluster {1,2,3}: doc 3 comes from the preferred source → canonical
    // despite the highest id; cluster {7,9}: equal priority → lowest id
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster_id")
    val attrs = Seq((1L, "crawl"), (2L, "crawl"), (3L, "curated"),
      (7L, "crawl"), (9L, "crawl")).toDF("id", "source")
    val prio = Seq(("curated", 0L), ("crawl", 5L)).toDF("source", "priority")
    val out = Dedup.canonicalSelection(clusters, attrs, prio)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(3L) === ((3L, true)), "curated source wins the cluster")
    assert(out(1L) === ((3L, false)) && out(2L) === ((3L, false)))
    assert(out(7L) === ((7L, true)) && out(9L) === ((7L, false)),
      "priority tie falls back to lowest id")
    // a source absent from the dim ranks last, never wins
    val out2 = Dedup.canonicalSelection(clusters, attrs,
        prio.filter($"source" =!= "crawl"))
      .filter($"cluster_id" === 7L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out2 === Map(7L -> true, 9L -> false))
  }

  test("leakage-safe split co-locates near-dup clusters, stays complete") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster_id")
    val docs = (0L until 50L).toDF("doc_id")
    val splits = Dedup.leakageSafeSplit(clusters, docs, "doc_id",
      Seq(0.5, 0.5))
    val sets = splits.map(_.select("doc_id").as[Long].collect().toSet)
    // complete + disjoint over all 50 docs
    assert(sets.map(_.size).sum === 50)
    assert((sets(0) ++ sets(1)).size === 50)
    // every cluster lands whole in exactly one split
    for (cluster <- Seq(Set(1L, 2L, 3L), Set(7L, 9L)))
      assert(cluster.subsetOf(sets(0)) || cluster.subsetOf(sets(1)),
        s"cluster $cluster straddles the split")
    // with no clusters at all, identical to the plain doc-id split
    val noClusters = Seq.empty[(Long, Long)].toDF("id", "cluster_id")
    val plain = graft.operators.Sampling.split(docs, "doc_id", Seq(0.5, 0.5))
      .map(_.select("doc_id").as[Long].collect().toSet)
    val degraded = Dedup.leakageSafeSplit(noClusters, docs, "doc_id",
      Seq(0.5, 0.5)).map(_.select("doc_id").as[Long].collect().toSet)
    assert(degraded === plain)
  }

  test("duplication weights: 1/cluster-size for members, 1 for singletons") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster_id")
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("id")
    val out = Dedup.duplicationWeights(clusters, docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((1L, 3L, 0.333333)) && out(3L)._3 === 0.333333)
    assert(out(7L) === ((7L, 2L, 0.5)) && out(9L)._3 === 0.5)
    assert(out(5L) === ((5L, 1L, 1.0)), "unclustered doc keeps weight 1")
  }

  test("connected components matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until 90).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), maxIter = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial diverged from union-find")
    }
  }

  test("connected components converges on a long chain (pointer doubling)") {
    // a 40-node path has diameter 39 — naive min-neighbor propagation
    // needs 39 rounds; doubling must finish within 10
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 40 && cc.values.forall(_ == 0L))
  }

  test("bucket cap drops a pathological bucket instead of exploding") {
    // 50 docs sharing the boilerplate shingles: their 50-long postings
    // exceed the cap (32 at 50 docs), which must keep the pair count far
    // below C(50,2)
    val many = (1L to 50L).map(i =>
      (i, s"shared boiler plate prefix unique$i tail$i word$i"))
      .toDF("doc_id", "text")
    val n = Dedup.ngramJaccardDups(many, "doc_id", "text",
      threshold = 0.0).count()
    assert(n < 100, s"cap failed: $n pairs")
  }

  // brute-force ground truth with the operators' exact tokenize/shingle
  // semantics: lowercase+trim, \s+ split, distinct 3-grams, whole-text
  // fallback for short docs
  private def bruteJaccardPairs(rows: Seq[(Long, String)],
      threshold: Double): Set[(Long, Long, Double)] = {
    def sh(t: String): Set[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val sets = rows.map { case (id, t) => id -> sh(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = sa.intersect(sb).size
      j = math.floor(inter.toDouble / (sa.size + sb.size - inter) * 10000 + 0.5) / 10000
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  test("prefix join equals brute-force exact jaccard (no approximation)") {
    // sliding windows over a word line → a spread of pairwise jaccards
    // crossing the threshold, plus exact dups and a short-doc fallback
    val ws = (0 until 80).map(i => s"t$i")
    val rows = (0 until 20).map(i =>
      (i.toLong, ws.slice(i * 3, i * 3 + 24).mkString(" "))) ++
      Seq((100L, ws.slice(0, 24).mkString(" ")),         // exact dup of 0
          (101L, "only two"), (102L, "only two"))        // short-doc fallback
    val df = rows.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.prefixJaccardJoin(df, "doc_id", "text", threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === bruteJaccardPairs(rows, t), s"threshold $t")
    }
  }

  test("prefix join finds the boilerplate-only pair the posting cap drops") {
    // docs 1,2 are clones; 33 more docs carry every base shingle plus a
    // unique tail — all base postings exceed the cap, so the inverted
    // index drops the (1,2) pair entirely; the prefix join, which needs
    // no cap (prefixes index only each doc's rarest shingles), keeps its
    // completeness guarantee
    val rows = Seq((1L, base), (2L, base)) ++ (3L to 35L).map(i =>
      (i, base + " " + (0 until 40).map(j => s"u${i}_$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    assert(Dedup.ngramJaccardDups(df, "doc_id", "text",
      threshold = 0.8).count() === 0L)
    val got = Dedup.prefixJaccardJoin(df, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 1.0)))
  }

  test("containment flags the snippet inside the page, one direction only") {
    // doc 10 is the first 30 words of doc 11 (a 90-word page); doc 4 is
    // unrelated. Jaccard(10,11) ≈ 28/88 — far below any dedup threshold —
    // but containment(10→11) = 1.0. The reverse direction must NOT flag.
    val page = (0 until 90).map(i => s"w$i").mkString(" ")
    val snippet = (0 until 30).map(i => s"w$i").mkString(" ")
    val df = Seq((10L, snippet), (11L, page),
      (4L, (0 until 60).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardDups(df, "doc_id", "text",
      threshold = 0.8).count() === 0L, "jaccard is blind to the snippet")
    val got = Dedup.containmentDups(df, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 11L, 1.0)), s"got $got")
  }
}
