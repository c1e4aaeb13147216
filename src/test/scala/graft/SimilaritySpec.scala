package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import graft.engine.Stage
import graft.operators.{Multimodal, Similarity}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f)),  // near-dup of 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine with the query first") {
    val q = vecs.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
    val out = Similarity.bruteForceTopK(vecs, q, 3)
      .select("vec_id").as[Long].collect()
    assert(out.head === 0L, "self first")
    assert(out(1) === 1L, "near-dup second")
  }

  test("cosine math matches hand computation") {
    val q = vecs.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
    val cos = Similarity.bruteForceTopK(vecs, q, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cos(0L) === 1.0)
    assert(cos(4L) === -1.0)
    assert(cos(2L) === 0.0)
    val expected1 = 0.99 / math.sqrt(0.99 * 0.99 + 0.1 * 0.1)
    assert(math.abs(cos(1L) - expected1) < 1e-4)
  }

  test("IVF with all-cells probe equals brute force") {
    val centroids = vecs.select($"vec_id".as("cell"),
      $"embedding".as("c_emb"))
    val q = vecs.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
    val ivf = Similarity.ivfTopK(vecs, centroids, q, k = 3, nProbe = 5)
      .select("vec_id").as[Long].collect()
    val bf = Similarity.bruteForceTopK(vecs, q, 3)
      .select("vec_id").as[Long].collect()
    assert(ivf.toSeq === bf.toSeq)
  }

  test("batched IVF matches per-query IVF for every query in the batch") {
    val centroids = vecs.select($"vec_id".as("cell"),
      $"embedding".as("c_emb"))
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val batch = Similarity.ivfTopKBatch(vecs, centroids, qs,
        k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- Seq(0L, 1L, 2L)) {
      val q = vecs.filter($"vec_id" === qid).select($"embedding".as("q_emb"))
      val single = Similarity.ivfTopK(vecs, centroids, q, k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(qid) === single, s"query $qid diverged")
    }
  }

  test("int8 quantization: codes in range, reconstruction close, zero-safe") {
    import graft.operators.Quantize
    val withZero = vecs.unionByName(
      Seq((9L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val q = Quantize.int8(withZero, "embedding")
      .withColumn("demb",
        Quantize.dequantize(col("q_emb8"), col("q_scale")))
      .select("vec_id", "q_emb8", "q_scale", "demb")
    val rows = q.collect().map { r =>
      r.getLong(0) -> (r.getSeq[Int](1), r.getDouble(2), r.getSeq[Float](3))
    }.toMap
    for ((id, (codes, scale, demb)) <- rows) {
      assert(codes.forall(c => c >= -127 && c <= 127), s"$id codes $codes")
      if (id == 9L) {
        assert(scale === 0.0 && codes.forall(_ == 0) && demb.forall(_ == 0f))
      } else {
        assert(codes.exists(c => math.abs(c) == 127),
          s"$id max-magnitude element must hit the int8 edge")
        val orig = vecs.filter($"vec_id" === id)
          .select("embedding").collect()(0).getSeq[Float](0)
        orig.zip(demb).foreach { case (o, d) =>
          assert(math.abs(o - d) <= scale / 2 + 1e-6,
            s"$id reconstruction error beyond half a step")
        }
      }
    }
  }

  test("lshBandBitsSql ladder: 8 bits at the anchor, +1 per doubling, " +
      "flat at 22 past 33.5M") {
    // evaluated in Spark SQL — the same text the DuckDB oracle embeds
    val ladder = (n: Long) =>
      spark.sql(s"SELECT LEAST(22, ${Similarity.lshBandBitsSql(n.toString)}) AS r")
        .collect()(0).getInt(0)
    assert(ladder(0L) === 8, "empty corpus floors at the anchor width")
    assert(ladder(2000L) === 8)
    assert(ladder(4096L) === 9)
    assert(ladder(20000L) === 11, "sf0.1 lake (20k vectors): 2048 buckets")
    assert(ladder(200000L) === 14, "sf1 lake: 16384-bucket bands")
    assert(ladder(2000000L) === 17, "sf10 lake (2M vectors): ~15/bucket")
    assert(ladder(33554432L) === 22 && ladder(1000000000L) === 22,
      "caps at 22 bits (4 bands x 22 = 88 of the 112 two-span hash bits)")
    // the invariant the ladder exists for: expected band-bucket occupancy
    // n / 2^r stays bounded (~8-16) across four decades of corpus size
    Seq(2000L, 20000L, 200000L, 2000000L, 33554432L).foreach { n =>
      val occ = n.toDouble / (1L << ladder(n))
      assert(occ <= 16.0, s"expected occupancy $occ at n=$n exceeds 16")
    }
  }

  test("embedding near-dup LSH surfaces the planted pair") {
    val pairs = Similarity.embeddingNearDups(vecs, threshold = 0.9,
      bands = 4, maxBitsPerBand = 2, maxBucket = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)), s"got $pairs")
  }

  test("semanticDedup prunes within clusters only, keeps lowest id") {
    // centroids at x and y axes: {0,1,4} cluster to cell 0 or 4-ish, 2 to y.
    // 1 is a near-dup of 0 in the same cluster → dropped; 4 is opposite
    // (cosine -1) so it survives despite sharing a nearest centroid side.
    val centroids = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cell", "c_emb")
    val out = Similarity.semanticDedup(vecs, centroids, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(0L) === 1L, "lowest id kept")
    assert(out(1L) === 0L, "near-dup of 0 dropped")
    assert(out(2L) === 1L && out(3L) === 1L && out(4L) === 1L,
      "orthogonal/opposite vectors survive")
  }

  test("semanticDedup exempts over-cap clusters from pruning") {
    val centroids = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("cell", "c_emb")
    val out = Similarity.semanticDedup(vecs, centroids, threshold = 0.9,
        maxCluster = 2)
      .select(sum("is_kept")).collect().head.getLong(0)
    assert(out === 5L, "single over-cap cell: nothing pruned")
  }

  test("kmeansStep retains empty cells with their previous centroid") {
    // centroid 9 points away from every vector, so it attracts no members;
    // a Lloyd step must keep it (old embedding, n_members = 0), not shrink
    // the codebook
    val centroids = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (9L, Array(-1.0f, -1.0f, -1.0f)))
      .toDF("cell", "c_emb")
    val members = vecs.filter($"vec_id" =!= 4) // drop the vector nearest cell 9
    val out = Similarity.kmeansStep(members, centroids)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(out.keySet === Set(0L, 9L))
    assert(out(9L)._2 === 0L)
    assert(out(9L)._1 === Seq(-1.0, -1.0, -1.0), "dead cell keeps old centroid")
    assert(out(0L)._2 === 4L)
  }

  test("knnGraph with all cells probed equals brute-force neighbors") {
    val centroids = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cell", "c_emb")
    val got = Similarity.knnGraph(vecs, centroids, k = 2, nProbe = 2)
      .select("src", "dst").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute force with the operator's semantics: rank by round6(cosine)
    // desc then dst asc, self excluded
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb > 0) dot / (na * nb) else 0.0
    }
    val rows = vecs.as[(Long, Array[Float])].collect()
    val expected = rows.map { case (id, v) =>
      id -> rows.filter(_._1 != id)
        .map { case (j, w) =>
          (math.floor(cos(v, w) * 1e6 + 0.5) / 1e6, j) }
        .sortBy { case (c, j) => (-c, j) }.take(2).map(_._2).toSet
    }.toMap
    assert(got === expected)
  }

  test("kmeansIterate: one round equals a pinned kmeansStep") {
    val init = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
    def pinned(df: org.apache.spark.sql.DataFrame) = df
      .select($"cell", transform($"c_emb",
        x => (floor(x * 1e6 + 0.5) / 1e6).cast("float")).as("c_emb"),
        $"n_members")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
      .toSet
    val one = Similarity.kmeansIterate(vecs, init, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
      .toSet
    assert(one === pinned(Similarity.kmeansStep(vecs, init)))
  }

  test("kmeansIterate converges on separated clusters") {
    // two tight clusters around the x and y axes; init centroids both
    // inside cluster 1 — iteration must migrate one to cluster 2 and
    // then sit still (round 3 == round 2: the fixed point)
    val pts = Seq(
      (0L, Array(1.0f, 0.05f, 0f)), (1L, Array(1.0f, -0.05f, 0f)),
      (2L, Array(0.95f, 0.0f, 0f)), (3L, Array(0.05f, 1.0f, 0f)),
      (4L, Array(-0.05f, 1.0f, 0f)), (5L, Array(0.0f, 0.95f, 0f)))
      .toDF("vec_id", "embedding")
    val init = pts.filter($"vec_id" <= 1)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
    def state(r: Int) = Similarity.kmeansIterate(pts, init, rounds = r)
      .collect().map(x => (x.getLong(0), x.getSeq[Float](1), x.getLong(2)))
      .toSet
    val r2 = state(2)
    assert(r2 === state(3), "fixed point by round 2")
    assert(r2.map(_._3) === Set(3L), "3 members per cluster")
  }

  test("media embeddings: unit norm, self-similarity 1.0, deterministic") {
    val media = Multimodal.toMediaTable(
      Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "completely different content here"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val emb = Multimodal.pseudoEmbed(Multimodal.extractFeatures(spark, media).toDF())
      .select($"id".as("vec_id"), $"embedding")
    val norms = emb.collect().map(r =>
      math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-5, s"norm $n"))
    // identical media → identical embedding → cosine 1 with each other
    val q = emb.filter($"vec_id" === 1).select($"embedding".as("q_emb"))
    val top = Similarity.bruteForceTopK(emb, q, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.take(2).map(_._2).forall(_ === 1.0), "docs 1,2 tie at 1.0")
  }

  test("IVF probe path recall@10 >= 0.9 vs brute force on media embeddings") {
    // the mm_embedding_search composition: pseudo-embedded media → Lloyd-
    // refined codebook → one-time assignment → probe-only search, judged
    // against the exact O(N) scan it replaces
    val docs = (1L to 300L).map { i =>
      // varied deterministic text so byte histograms (and embeddings) spread
      (i, s"doc $i " + ("word " * (i % 17).toInt) + ("x" * (i % 13).toInt) +
        (if (i % 3 == 0) " the quick brown fox" else " lazy dog jumps"))
    }.toDF("doc_id", "text")
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    val emb = Multimodal.pseudoEmbed(Multimodal.extractFeatures(spark, media).toDF())
      .select($"id".as("vec_id"), $"embedding")
      .localCheckpoint()
    val seeds = emb.filter($"vec_id" <= 16)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
    val codebook = Similarity.kmeansStep(emb, seeds)
      .select($"cell", transform($"c_emb", x => x.cast("float")).as("c_emb"))
      .localCheckpoint()
    val assigned = Similarity.assignCells(emb, codebook)
    val q = emb.filter($"vec_id" === 1).select($"embedding".as("q_emb"))
    val ivf = Similarity.ivfTopK(emb, codebook, q, k = 10, nProbe = 4,
        preAssigned = Some(assigned))
      .select("vec_id").as[Long].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = ivf.intersect(bf).size / 10.0
    assert(recall >= 0.9, s"recall@10 $recall (ivf=$ivf bf=$bf)")
  }

  test("multimodal: features deterministic, frame sampling shapes") {
    val media = Multimodal.toMediaTable(
      Seq((7L, "abcdefgh" * 16)).toDF("doc_id", "text"), "doc_id", "text")
    val f = Multimodal.extractFeatures(spark, media).collect().head
    assert(f.byte_len === 128)
    assert(math.abs(f.features.sum - 1.0) < 1e-9, "histogram L1-normalized")
    val frames = Multimodal.frameSample(media, nFrames = 4, frameBytes = 16)
    assert(frames.count() === 4)
    assert(frames.select(max(col("frame_len"))).as[Int].collect().head === 16)
  }

  test("multimodal resize: plan invariants, stub payload matches plan") {
    val media = Multimodal.toMediaTable(
      (0L to 30L).map(i => (i, "x" * (i.toInt * 50))).toDF("doc_id", "text"),
      "doc_id", "text")
    val plan = Multimodal.resizePlan(media, maxDim = 512)
      .collect().map(r => r.getLong(0) -> r).toMap
    plan.values.foreach { r =>
      val (w, h, nw, nh, ob, nb) = (r.getInt(2), r.getInt(3), r.getInt(5),
        r.getInt(6), r.getLong(4), r.getLong(7))
      assert(math.max(nw, nh) <= math.max(512, math.max(w, h)))
      assert(nw <= w && nh <= h, "never upscale")
      if (math.max(w, h) > 512) assert(math.max(nw, nh) <= 512)
      else assert((nw, nh) === ((w, h)), "small media untouched")
      assert(nb <= ob && (ob == 0 || nb >= 1),
        "payload plan within bounds, nonempty stays nonempty")
    }
    val out = Multimodal.resizeStub(spark, media, maxDim = 512).collect()
    out.foreach { r =>
      assert(r.media.length.toLong ===
        plan(r.id).getLong(7), s"payload length == plan for id ${r.id}")
    }
  }

  test("MMR's greedy rounds cut lineage under stage.mode=none too") {
    // each round feeds `selected` into the next twice (the union and the
    // anti-join), so uncut rounds double the plan: k = 8 would nest 127
    // Unions. The plan is checked before anything executes.
    val none = spark.newSession()
    none.conf.set(Stage.modeKey, "none")
    def mmr(s: SparkSession) = {
      val vs = s.createDataFrame((0 until 12).map(i => (i.toLong,
          Array(math.cos(i).toFloat, math.sin(i).toFloat, (i % 3).toFloat, 1f))))
        .toDF("vec_id", "embedding")
      val q = vs.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      Similarity.mmrDiverseTopK(vs, q, k = 8, poolSize = 10)
    }
    val unstaged = mmr(none)
    val plan = unstaged.queryExecution.analyzed
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
    assert(plan.collect { case p => p }.size < 10, plan.treeString)
    val rows = unstaged.collect().toSeq
    assert(rows.map(_.getInt(1)) === (1 to 8))
    assert(rows === mmr(spark).collect().toSeq)
  }
}
