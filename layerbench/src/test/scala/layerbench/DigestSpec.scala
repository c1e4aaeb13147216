package layerbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with LocalSpark {

  private def nested: DataFrame = spark.sql(
    """SELECT * FROM VALUES
      |  (1, 'a', 1.5D, map('x', 1, 'y', 2), array(1, 2), named_struct('k', 1, 'm', map('p', 1))),
      |  (2, 'b', 2.5D, map('z', 3), array(3), named_struct('k', 2, 'm', map('q', 2, 'r', 3))),
      |  (3, NULL, NULL, NULL, NULL, NULL)
      |AS t(id, s, d, m, a, st)""".stripMargin)

  test("the digest ignores row order and partitioning") {
    val df = nested
    val d = Digest.of(df)
    assert(Digest.of(df.orderBy(desc("id"))) == d)
    assert(Digest.of(df.repartition(3, col("id"))) == d)
    assert(d.rows == 3)
  }

  test("map columns hash by content, not entry order") {
    val a = spark.sql("SELECT map('x', 1, 'y', 2) AS m, array(map('b', 1, 'a', 2)) AS am")
    val b = spark.sql("SELECT map('y', 2, 'x', 1) AS m, array(map('a', 2, 'b', 1)) AS am")
    assert(Digest.of(a) == Digest.of(b))
  }

  test("changing any one value of any column changes the digest") {
    val base = Digest.of(nested)
    val edits = Seq(
      "id" -> "CASE WHEN id = 2 THEN 20 ELSE id END",
      "s" -> "CASE WHEN id = 1 THEN 'A' ELSE s END",
      "d" -> "CASE WHEN id = 2 THEN 2.25D ELSE d END",
      "m" -> "CASE WHEN id = 1 THEN map('x', 1, 'y', 3) ELSE m END",
      "a" -> "CASE WHEN id = 1 THEN array(2, 1) ELSE a END",
      "st" -> "CASE WHEN id = 2 THEN named_struct('k', 2, 'm', map('q', 2, 'r', 4)) ELSE st END")
    edits.foreach { case (c, e) =>
      assert(Digest.of(nested.withColumn(c, expr(e))) != base, s"edit of $c went unseen")
    }
  }

  test("duplicate rows, dropped rows and renamed columns change the digest") {
    val df = nested
    val d = Digest.of(df)
    assert(Digest.of(df.union(df.filter(col("id") === 1))) != d)
    assert(Digest.of(df.filter(col("id") =!= 3)) != d)
    assert(Digest.of(df.withColumnRenamed("s", "s2")) != d)
  }
}
