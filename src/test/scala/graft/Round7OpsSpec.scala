package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Graph, Itemsets, Quantize, Similarity, TimeSeries}

/** Specs for the round-7 session-4 operators: binary quantization, MMR,
  * silhouette, itemsets, LPA, personalized PageRank, Holt, phrase search,
  * LSH eval, readability counters. */
class Round7OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- binary quantization ------------------------------------------

  test("signBits packs 32 sign bits per word, exactly") {
    // dims 0..35: positive exactly where dim % 3 == 0
    val emb = (0 until 36).map(i => if (i % 3 == 0) 1.0f else -1.0f)
    val df = Seq((7L, emb)).toDF("vec_id", "embedding")
    val words = Quantize.signBits(df, "vec_id", "embedding")
      .orderBy("word_idx").as[(Long, Int, Long)].collect()
    val expected0 = (0 until 32).filter(_ % 3 == 0)
      .map(i => 1L << i).sum
    val expected1 = (32 until 36).filter(_ % 3 == 0)
      .map(i => 1L << (i - 32)).sum
    assert(words.toSeq == Seq((7L, 0, expected0), (7L, 1, expected1)))
  }

  test("hammingTopK: identical vector is the top hit with hamming 0") {
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val vecs = (0L to 20L).map { id =>
      (id, base.map(x => x + (if (id == 0) 0f else 0.3f * ((id + 3) % 7 - 3))))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val top = Quantize.hammingTopK(vecs, q, k = 3, pool = 10)
      .as[(Long, Long, Double)].collect()
    assert(top.head._1 == 0L && top.head._2 == 0L && top.head._3 == 1.0)
  }

  // ---- MMR ----------------------------------------------------------

  test("MMR skips the near-copy of the first pick") {
    // q = x-axis; v1 = v2 (clones, rel .9); v3 rel .85 but far from v1 —
    // at λ=0.5 the clone's redundancy penalty (−.5·1.0) loses to v3's
    // (−.5·.765): diversity beats raw relevance at rank 2
    def vec(a: Double, b: Double, c: Double): Seq[Float] =
      (Seq(a, b, c) ++ Seq.fill(61)(0.0)).map(_.toFloat)
    val vecs = Seq(
      (1L, vec(0.9, 0.436, 0.0)), (2L, vec(0.9, 0.436, 0.0)),
      (3L, vec(0.85, 0.0, 0.527)))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(vec(1.0, 0.0, 0.0))).toDF("q_emb")
    val sel = Similarity.mmrDiverseTopK(vecs, q, k = 2, poolSize = 3,
        lambda = 0.5)
      .as[(Long, Int, Double)].collect()
    assert(sel.map(_._1).toSeq == Seq(1L, 3L),
      s"rank-2 must be the diverse v3, not the v1 clone: ${sel.toSeq}")
  }

  // ---- silhouette ---------------------------------------------------

  test("silhouette separates tight clusters, flags the overlap") {
    def vec(a: Double, b: Double): Seq[Float] =
      (Seq(a, b) ++ Seq.fill(6)(0.0)).map(_.toFloat)
    // centroids: cell 0 = x-axis, cell 1 = y-axis; members hug their cell
    val cents = Seq((0L, vec(1, 0)), (1L, vec(0, 1)))
      .toDF("cell", "c_emb")
    val vecs = Seq(
      (10L, vec(1.0, 0.05)), (11L, vec(1.0, -0.05)),
      (20L, vec(0.05, 1.0)), (21L, vec(-0.05, 1.0)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.silhouetteByCell(vecs, cents)
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(0L, 1L))
    rows.foreach { case (_, n, s) =>
      assert(n == 2L)
      assert(s > 0.9, s"tight clusters must score near 1, got $s")
    }
  }

  // ---- itemsets -----------------------------------------------------

  test("frequentTriples matches hand count and prunes below support") {
    val baskets = Seq(
      (1, "a"), (1, "b"), (1, "c"), (1, "d"),
      (2, "a"), (2, "b"), (2, "c"),
      (3, "a"), (3, "b"), (3, "d"),
      (4, "x"), (4, "y"), (4, "z")).toDF("bk", "it")
    // support 2: the floor, as 4 baskets derive ceil(4/75000) = 1
    val t = Itemsets.frequentTriples(baskets, "bk", "it", floorSupport = 2)
      .as[(String, String, String, Long)].collect()
    // {a,b,c} in baskets 1,2; {a,b,d} in baskets 1,3; nothing else twice
    assert(t.toSet == Set(("a", "b", "c", 2L), ("a", "b", "d", 2L)))
  }

  // ---- label propagation --------------------------------------------

  test("LPA: two triangles with one bridge stay two communities") {
    val nodes = spark.range(6).select(col("id"))
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
    val edges = (tri :+ (2L, 3L)).toDF("src", "dst")
    val com = Graph.labelPropagation(nodes, edges, "id", rounds = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(com(0L) == com(1L) && com(1L) == com(2L))
    assert(com(3L) == com(4L) && com(4L) == com(5L))
    assert(com(0L) != com(3L),
      s"bridge must not merge the triangles: $com")
  }

  // ---- personalized pagerank ----------------------------------------

  test("PPR: mass concentrates on/near the seed, zero off-component") {
    val nodes = spark.range(6).select(col("id"))
    // 0→1→2 chain; 3→4→5 chain; seed = 0
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val ppr = Graph.personalizedPagerank(nodes, edges, "id",
        isSource = col("id") === 0, iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(ppr(0L) > ppr(1L) && ppr(1L) > ppr(2L))
    Seq(3L, 4L, 5L).foreach(i =>
      assert(ppr(i) == 0.0, s"node $i unreachable from seed: ${ppr(i)}"))
  }

  // ---- grid density clustering --------------------------------------

  test("gridCluster separates two blobs, flags stragglers as noise") {
    // blob A near (0.05, 0.05), blob B near (1.05, 1.05), 2 far points
    val a = (0 until 8).map(i => (i.toLong, 0.05 + 0.001 * i, 0.05))
    val b = (0 until 8).map(i => (100L + i, 1.05 + 0.001 * i, 1.05))
    val noise = Seq((900L, 5.0, 5.0), (901L, -5.0, -5.0))
    val pts = (a ++ b ++ noise).toDF("id", "x", "y")
    val out = graft.operators.Density
      .gridCluster(pts, "id", "x", "y", eps = 0.1, minPts = 5L)
      .as[(Long, Long)].collect().toMap
    val ca = (0 until 8).map(i => out(i.toLong)).toSet
    val cb = (0 until 8).map(i => out(100L + i)).toSet
    assert(ca.size == 1 && cb.size == 1, s"each blob is one cluster: $out")
    assert(ca != cb, "blobs must be distinct clusters")
    assert(out(900L) == -1L && out(901L) == -1L, "far points are noise")
  }

  // ---- betweenness --------------------------------------------------

  test("betweenness on a path graph matches Brandes by hand") {
    // 0→1→2→3, source {0}, depth 3: σ=1 on the path;
    // δ(2)=1·(1+0)=1, δ(1)=1·(1+δ(2))=2, bc(3)=0
    val nodes = spark.range(4).select(col("id"))
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val bc = Graph.betweenness(nodes, edges, "id",
        isSource = col("id") === 0, depth = 3)
      .as[(Long, Double)].collect().toMap
    assert(bc == Map(0L -> 0.0, 1L -> 2.0, 2L -> 1.0, 3L -> 0.0), s"$bc")
  }

  test("betweenness: diamond splits path counts through both middles") {
    // 0→{1,2}→3: σ(3)=2; δ(1)=δ(2)=1/2·(1+0)=0.5
    val nodes = spark.range(4).select(col("id"))
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val bc = Graph.betweenness(nodes, edges, "id",
        isSource = col("id") === 0, depth = 3)
      .as[(Long, Double)].collect().toMap
    assert(bc(1L) == 0.5 && bc(2L) == 0.5 && bc(3L) == 0.0, s"$bc")
  }

  // ---- Holt ---------------------------------------------------------

  test("Holt on a constant series: level pins to it, trend stays 0") {
    val df = (1 to 10).map(i => ("k", f"2024-01-$i%02d", 5.0))
      .toDF("k", "d", "v").withColumn("d", to_date(col("d")))
    val h = TimeSeries.holt(df, "k", "d", "v", alpha = 0.3, beta = 0.1)
      .as[(String, java.sql.Date, Double, Double, Double)].collect()
    h.foreach { case (_, _, _, l, b) =>
      assert(l == 5.0 && b == 0.0, s"constant series drifted: l=$l b=$b")
    }
  }

  test("Holt tracks a linear trend upward") {
    val df = (1 to 20).map(i => ("k", f"2024-01-$i%02d", i.toDouble))
      .toDF("k", "d", "v").withColumn("d", to_date(col("d")))
    val last = TimeSeries.holt(df, "k", "d", "v", alpha = 0.5, beta = 0.3)
      .orderBy(desc("d")).limit(1)
      .as[(String, java.sql.Date, Double, Double, Double)].collect().head
    assert(last._5 > 0.5, s"trend should be clearly positive: ${last._5}")
    assert(math.abs(last._4 - 20.0) < 2.0,
      s"level should track the series end: ${last._4}")
  }

  // ---- phrase search ------------------------------------------------

  test("phraseSearch counts adjacent occurrences only") {
    val docs = Seq(
      (1L, "big data big data pipeline"),
      (2L, "data big small"),
      (3L, "big data")).toDF("doc_id", "text")
    val hits = TextFunctions.phraseSearch(docs, "doc_id", "text",
        Seq("big", "data"))
      .as[(Long, Long, Int)].collect()
    assert(hits.toSeq == Seq((1L, 2L, 0), (3L, 1L, 0)))
  }

  // ---- LSH eval -----------------------------------------------------

  test("lshEval: exact duplicates land in truth and candidates") {
    val docs = (0L to 9L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta run $i"
      (i, if (i < 2) "alpha beta gamma delta epsilon zeta eta theta shared"
          else base)
    }.toDF("doc_id", "text")
    val m = Dedup.lshEval(docs, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    val (nc, nt, tp, prec, rec, f1) = m
    assert(nt >= 1L, "the duplicate pair must be in the ground truth")
    assert(tp >= 1L && tp <= nc)
    assert(prec >= 0.0 && prec <= 1.0 && rec >= 0.0 && rec <= 1.0)
    assert(f1 >= 0.0 && f1 <= 1.0)
  }

  // ---- readability counters -----------------------------------------

  test("sentence and syllable counters") {
    val df = Seq(Tuple1("Hello world. How are you?! Fine... yes")).toDF("t")
    val r = df.select(
      TextFunctions.sentenceCount(col("t")).as("s"),
      TextFunctions.syllableCount(col("t")).as("y"))
      .as[(Long, Long)].collect().head
    // runs: ". " "?!" "..." → 3 sentence enders
    assert(r._1 == 3L, s"sentences: ${r._1}")
    // hello(e,o) world(o) how(o) are(a,e) you(ou) fine(i,e) yes(e) → 10
    assert(r._2 == 10L, s"syllables: ${r._2}")
  }
}
