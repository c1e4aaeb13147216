package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Det
import graft.engine.Stage.syntax._
import graft.operators.{Similarity, ZOrder}

/** Inputs several queries derive from the lake the same way, each with its
  * Spark form and its DuckDB oracle form side by side, so the two engines
  * read one definition. */
object Fixtures {

  /** Centroids in the fixed IVF codebook: the first embeddings by id. */
  val CodebookSize = 16

  /** Vectors in the fixed query batch: the first embeddings by id. */
  val QueryBatchSize = 8

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
    s"""qs AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < $QueryBatchSize),
       |probes AS (
       |  SELECT query_id, cell, qe FROM (
       |    SELECT q.query_id, c.cell, q.qe,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (${Similarity.cosineOracleSql("c.ce", "q.qe")}) DESC, c.cell) AS rk
       |    FROM cent c CROSS JOIN qs q) WHERE rk <= 4)""".stripMargin

  /** The fixed query batch over `embeddings`: (query_id, q_emb). */
  def queryBatch(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < QueryBatchSize)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** The DuckDB inputs of the batched IVF queries: the CTEs `e(vec_id,
    * emb)`, [[codebookCte]], [[queryProbesCtes]] and [[assignedCtes]]. */
  val probedBatchCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |$codebookCte,
       |$queryProbesCtes,
       |$assignedCtes""".stripMargin

  /** CTE `hits(query_id, vec_id, cell, cosine)`: every vector in a cell
    * its query probes, with the cosine pinned to 6 places. */
  val probedHitsCte: String =
    s"""hits AS (
       |  SELECT p.query_id, a.vec_id, a.cell,
       |    ${Det.roundNSql(Similarity.cosineOracleSql("a.emb", "p.qe"), 6)} AS cosine
       |  FROM assigned a JOIN probes p USING (cell))""".stripMargin

  /** The five highest-cosine rows per query of a relation `rel(query_id,
    * vec_id, cell, cosine)`, ties to the lower vec_id, ordered. */
  def topFiveSql(rel: String): String =
    s"""SELECT query_id, vec_id, cell, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rk FROM $rel)
       |WHERE rk <= 5
       |ORDER BY query_id, cosine DESC, vec_id""".stripMargin

  /** Per-user daily value totals of `events`: (user_id, d, v), staged —
    * every user of it reads it more than once. */
  def userDaily(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(Det.dsum(col("value")).as("v"))
      .staged

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

  /** `ZOrder.fileStats` over (user_id, day) of file layouts given by
    * name, each row tagged with its `layout`. */
  def layoutStats(layouts: (String, DataFrame)*): DataFrame =
    layouts.map { case (name, files) =>
      ZOrder.fileStats(files, Seq("user_id", "day"))
        .withColumn("layout", lit(name))
    }.reduce(_ unionByName _)

  /** The files and rows each of three query boxes over (user_id, day)
    * scans under each file layout of [[layoutStats]]: a file is scanned
    * when its min/max stats overlap the box. (query_name, layout,
    * n_files, files_scanned, rows_scanned), ordered. */
  def boxScans(stats: DataFrame): DataFrame = {
    val s = stats.sparkSession
    import s.implicits._
    val boxes = Seq(
      ("user_only", 40L, 70L, 0L, 1000000000L),
      ("day_only", 0L, 1000000000L, 19732L, 19734L),
      ("both", 40L, 70L, 19732L, 19734L))
      .toDF("query_name", "a_lo", "a_hi", "b_lo", "b_hi")
    val tot = stats.groupBy("layout").agg(count(lit(1)).as("n_files"))
    stats.join(broadcast(boxes),
        col("min_user_id") <= col("a_hi") && col("max_user_id") >= col("a_lo")
          && col("min_day") <= col("b_hi") && col("max_day") >= col("b_lo"))
      .groupBy("query_name", "layout")
      .agg(count(lit(1)).as("files_scanned"),
        sum("n_rows").as("rows_scanned"))
      .join(tot, "layout")
      .select(col("query_name"), col("layout"), col("n_files"),
        col("files_scanned"), col("rows_scanned"))
      .orderBy("query_name", "layout")
  }

  /** DuckDB form of [[layoutStats]] then [[boxScans]] over two layouts,
    * each a name and a CTE of (user_id, day, file_id): the CTEs `stats`,
    * `boxes`, `tot` and `sc`, then the final SELECT. */
  def boxScansSql(a: (String, String), b: (String, String)): String =
    s"""stats AS (
      |  SELECT '${a._1}' AS layout, file_id, COUNT(*) AS n_rows,
      |    MIN(user_id) AS min_u, MAX(user_id) AS max_u,
      |    MIN(day) AS min_d, MAX(day) AS max_d
      |  FROM ${a._2} GROUP BY 2
      |  UNION ALL
      |  SELECT '${b._1}', file_id, COUNT(*),
      |    MIN(user_id), MAX(user_id), MIN(day), MAX(day)
      |  FROM ${b._2} GROUP BY 2),
      |boxes(query_name, a_lo, a_hi, b_lo, b_hi) AS (VALUES
      |  ('user_only', 40, 70, 0, 1000000000),
      |  ('day_only', 0, 1000000000, 19732, 19734),
      |  ('both', 40, 70, 19732, 19734)),
      |tot AS (SELECT layout, COUNT(*) AS n_files FROM stats GROUP BY 1),
      |sc AS (
      |  SELECT b.query_name, s.layout, COUNT(*) AS files_scanned,
      |    CAST(SUM(s.n_rows) AS BIGINT) AS rows_scanned
      |  FROM stats s JOIN boxes b
      |    ON s.min_u <= b.a_hi AND s.max_u >= b.a_lo
      |   AND s.min_d <= b.b_hi AND s.max_d >= b.b_lo
      |  GROUP BY 1, 2)
      |SELECT query_name, layout, n_files, files_scanned, rows_scanned
      |FROM sc JOIN tot USING (layout)
      |ORDER BY query_name, layout""".stripMargin
}
