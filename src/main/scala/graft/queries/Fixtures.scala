package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Inputs several queries derive from the lake the same way, each with its
  * Spark form and its DuckDB oracle form side by side, so the two engines
  * read one definition. */
object Fixtures {

  /** Centroids in the fixed IVF codebook: the first embeddings by id. */
  val CodebookSize = 16

  /** The fixed IVF codebook over `embeddings`: (cell, c_emb), one row per
    * embedding with `vec_id < CodebookSize`. */
  def codebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < CodebookSize)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))

  /** DuckDB form of [[codebook]]: CTE `cent(cell, ce)` over a CTE
    * `e(vec_id, emb)`. */
  val codebookCte: String =
    s"cent AS (SELECT vec_id AS cell, emb AS ce FROM e WHERE vec_id < $CodebookSize)"

  /** DuckDB form of [[Similarity.assignCells]]: CTE `assigned(vec_id, emb,
    * cell)`, each `e` row's highest-cosine `cent` cell, ties to the lower
    * cell, via the intermediate CTE `scored`. */
  val assignedCtes: String =
    s"""scored AS (
       |  SELECT e.vec_id, e.emb, cent.cell, ${Similarity.cosineOracleSql("e.emb", "ce")} AS sim
       |  FROM e CROSS JOIN cent),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
       |    FROM scored) WHERE rn = 1)""".stripMargin

  /** DuckDB form of [[Similarity.ivfTopKBatch]]'s probe choice for the
    * fixed query batch: the CTEs `qs(query_id, qe)`, the `e` rows with
    * `vec_id < 8`, and `probes(query_id, cell, qe)`, each query's 4
    * highest-cosine `cent` cells, ties to the lower cell. */
  val queryProbesCtes: String =
    s"""qs AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 8),
       |probes AS (
       |  SELECT query_id, cell, qe FROM (
       |    SELECT q.query_id, c.cell, q.qe,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (${Similarity.cosineOracleSql("c.ce", "q.qe")}) DESC, c.cell) AS rk
       |    FROM cent c CROSS JOIN qs q) WHERE rk <= 4)""".stripMargin

  /** Out-links of the synthetic document link graph: doc d links to
    * (d·p + j) mod n for the j-th multiplier p (j from 1), n the document
    * count. */
  private val linkMultipliers = Seq(31, 97, 211)

  /** The synthetic link graph over `docs(doc_id)`: (src, dst), three rows
    * per document, self-loops and repeats included (the graph operators
    * drop them). */
  def linkGraph(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("__en"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), explode(array(
        linkMultipliers.zipWithIndex.map { case (p, i) =>
          (col("doc_id") * p + (i + 1)) % col("__en")
        }: _*)).as("dst"))
  }

  /** DuckDB form of [[linkGraph]] as the CTEs `nd(doc_id)`, `cnt(n)`, `e0`
    * and `edges(src, dst)`, the last distinct and without self-loops. */
  def linkGraphCtes(edges: String): String = {
    val m = linkMultipliers.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""nd AS (SELECT doc_id FROM documents),
       |cnt AS (SELECT COUNT(*) AS n FROM nd),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id * p + j) % cnt.n AS dst
       |  FROM nd, cnt, (VALUES $m) m(j, p)),
       |$edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)""".stripMargin
  }
}
