package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Bpe

class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the classic worked example: vocab {hug:10, pug:5, pun:12, bun:4,
  // hugs:5}. Hand-computed pair counts give merges, in order:
  //   1. (u,g)  count 20  (hug 10 + pug 5 + hugs 5)
  //   2. (u,n)  count 16  (pun 12 + bun 4)
  //   3. (h,ug) count 15  (hug 10 + hugs 5)
  private val wordCounts = Seq(
    ("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
  private val golden = Seq(("u", "g"), ("u", "n"), ("h", "ug"))

  test("merge learning matches the hand-computed golden merges") {
    assert(Bpe.learn(wordCounts, 3) === golden)
  }

  test("learning stops when no pairs remain; ties break deterministically") {
    // single-char words have no pairs → zero merges regardless of budget
    assert(Bpe.learn(Seq(("a", 5L), ("b", 3L)), 10) === Seq.empty)
    // tie on count (ab vs cd both 5) → lexicographically smaller pair first
    assert(Bpe.learn(Seq(("ab", 5L), ("cd", 5L)), 1) === Seq(("a", "b")))
  }

  test("encode applies lowest-rank-first merges; unknown chars stay single") {
    val ranks = golden.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.encodeWord("hugs", ranks) === Vector("hug", "s"))
    assert(Bpe.encodeWord("bug", ranks) === Vector("b", "ug"))
    assert(Bpe.encodeWord("pun", ranks) === Vector("p", "un"))
    // 'm' never seen in training: stays a lone symbol, rest still merges
    assert(Bpe.encodeWord("mug", ranks) === Vector("m", "ug"))
    assert(Bpe.encodeWord("x", ranks) === Vector("x"))
  }

  test("pinned codebook is stable and the oracle replay equivalence holds") {
    // the t_bpe_* oracles embed Bpe.pinnedMerges as literal replace
    // chains — a drift in seedVocab or learn() must fail HERE, not as an
    // opaque hash mismatch in the driver's compare
    val m = Bpe.pinnedMerges
    assert(m.length === 48)
    // spot-pin the head (full determinism is learn()'s golden test above)
    assert(m.take(4) === Seq(("e", "r"), ("i", "n"), ("o", "w"), ("o", "r")))
    assert(m.distinct.length === m.length, "duplicate merge learned")
    // rank-monotone creation order — the property the SQL replay's
    // sequential-pass ≡ greedy-loop equivalence proof rests on: every
    // merge's parts are single chars or tokens created by EARLIER merges
    val created = scala.collection.mutable.Set.empty[String]
    m.foreach { case (a, b) =>
      assert(a.length == 1 || created(a), s"part '$a' not yet created")
      assert(b.length == 1 || created(b), s"part '$b' not yet created")
      created += (a + b)
    }
    // sequential single-pass application in rank order == greedy encode,
    // on every seed word and on words with unseen chars
    val ranks = m.zipWithIndex.map { case (p, i) => p -> i }.toMap
    def sequential(word: String): Vector[String] = {
      var syms = word.map(_.toString).toVector
      m.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
            out += (a + b); k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val words = Bpe.seedVocab.map(_._1) ++
      Seq("joins", "hashjoin", "xyzzy", "sorted", "a", "windowing", "qq")
    words.foreach { w =>
      assert(sequential(w) === Bpe.encodeWord(w, ranks),
        s"sequential replay diverges from greedy encode on '$w'")
    }
  }

  test("corpus learning + distributed tokenize match the driver-side loop") {
    // corpus whose word frequencies reproduce the golden vocab
    val rows = wordCounts.flatMap { case (w, c) =>
      (0L until c).map(i => (w.hashCode.toLong * 1000 + i, w))
    }
    val df = rows.toDF("doc_id", "text")
    val merges = Bpe.learn(wordCounts, 3)
    val out = Bpe.tokenize(spark, df, "doc_id", "text", merges)
      .collect().map(t => t.id -> t.tokens.toSeq).toMap
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    rows.foreach { case (id, w) =>
      assert(out(id) === Bpe.encodeWord(w, ranks),
        s"distributed tokens for '$w' diverge from driver encode")
    }
    // multi-word rows concatenate per-word encodings in order
    val multi = Seq((1L, "hugs bug pun")).toDF("doc_id", "text")
    val got = Bpe.tokenize(spark, multi, "doc_id", "text", merges)
      .collect().head
    assert(got.tokens.toSeq === Seq("hug", "s", "b", "ug", "p", "un"))
    assert(got.n_words === 3 && got.n_bpe_tokens === 6)
  }

  test("fully-distributed learn matches the driver loop, merge for merge") {
    val rows = wordCounts.flatMap { case (w, c) =>
      (0L until c).map(i => (w.hashCode.toLong * 1000 + i, w))
    }
    val df = rows.toDF("doc_id", "text")
    // golden vocabulary: all three merges, in order, from the cluster loop
    assert(Bpe.learnDistributed(df, "text", numMerges = 3) === golden)
    // a budget past exhaustion stops at the same point as the driver loop
    val exhausted = Bpe.learnDistributed(df, "text", numMerges = 50)
    assert(exhausted === Bpe.learn(wordCounts, 50))
    // multi-char merged symbols keep rewriting correctly (h+ug at rank 3
    // proves the wrapped-string replace handles non-single-char symbols);
    // overlap semantics: "aaa" under (a,a) merges left-to-right to (aa, a)
    val tripleA = Seq((1L, "aaa")).toDF("doc_id", "text")
    assert(Bpe.learnDistributed(tripleA, "text", numMerges = 2)
      === Seq(("a", "a"), ("aa", "a")))
    assert(Bpe.learn(Seq(("aaa", 1L)), 2) === Seq(("a", "a"), ("aa", "a")))
  }

  test("property: distributed learn ≡ driver loop on random corpora") {
    // seeded-random word multisets over a tiny alphabet — small words +
    // high collision rates force repeated-pair, tie-break, overlap, and
    // exhaustion paths (the scalacheck-less PropertiesSpec convention)
    val rnd = new scala.util.Random(20260815)
    (1 to 5).foreach { trial =>
      val alphabet = "abc"
      val words = (1 to (3 + rnd.nextInt(6))).map { _ =>
        (1 to (1 + rnd.nextInt(5)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val counts = words.groupBy(identity)
        .map { case (w, ws) => (w, ws.size.toLong * (1 + rnd.nextInt(3))) }
        .toSeq
      val rows = counts.zipWithIndex.flatMap { case ((w, c), wi) =>
        (0L until c).map(i => (wi * 1000L + i, w))
      }
      val expect = Bpe.learn(counts, 6)
      val got = Bpe.learnDistributed(rows.toDF("doc_id", "text"), "text", 6)
      assert(got === expect, s"trial $trial over $counts")
    }
  }
}
