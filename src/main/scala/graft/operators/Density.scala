package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Stage.syntax._

/** Grid-density clustering (GDBSCAN / DBSCAN on a grid): bucket points
  * into eps-cells, call a cell dense when it holds >= minPts points, and
  * let clusters be connected components of dense cells under 8-neighbor
  * adjacency; points in sparse cells are noise. The grid quantization is
  * what makes density clustering distributable: the O(n²)
  * neighbor-query of classic DBSCAN becomes one hash-aggregate (cell
  * counts) + a CONSTANT-FANOUT 9-offset equi-join over the (small) dense-
  * cell relation — no range join, no BNLJ, nothing quadratic in points.
  * Cell components reuse [[Dedup.connectedComponents]] (pointer-doubling
  * min-label, run to convergence), so cluster ids are the component-min
  * cell id — engine-reproducible, and the oracle can recompute them with
  * a recursive closure.
  *
  * Sensitivity to eps matches grid-DBSCAN's documented behavior (two
  * points eps·√2 apart can land in non-adjacent cells); that coarseness
  * is the price of the scale shape and is standard (cf. GriT-DBSCAN /
  * cell-based DBSCAN literature).
  */
object Density {

  /** Shifts grid coordinates so negative cells pack into one id too. */
  val GridOffset = 512

  /** Cluster on two coordinate columns. Cell ids are linearized as
    * (cx+GridOffset)·2^20 + (cy+GridOffset) — exact integers, identical in any
    * engine; coordinates must land within ±GridOffset cells.
    *
    * Returns per-point (idCol, cluster) where cluster is the component's
    * min cell id, or -1 for noise. */
  def gridCluster(points: DataFrame, idCol: String, xCol: String,
      yCol: String, eps: Double, minPts: Long): DataFrame = {
    require(eps > 0 && minPts >= 1, s"eps=$eps minPts=$minPts")
    val cx = floor(col(xCol).cast("double") / eps).cast("int")
    val cy = floor(col(yCol).cast("double") / eps).cast("int")
    val cells = points
      .select(col(idCol), cx.as("cx"), cy.as("cy"))
      .staged
    def cellId(cxc: org.apache.spark.sql.Column, cyc: org.apache.spark.sql.Column) =
      ((cxc + GridOffset).cast("long") * (1L << 20)) + (cyc + GridOffset).cast("long")
    val dense = cells.groupBy("cx", "cy")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPts)
      .withColumn("cid", cellId(col("cx"), col("cy")))
      .staged
    // 9-offset constant fanout → equi-join; id_a < id_b dedupes the pair
    val offsets = Seq(-1, 0, 1).flatMap(dx => Seq(-1, 0, 1).map(dy => (dx, dy)))
    val fanned = dense
      .select(col("cx").as("ax"), col("cy").as("ay"), col("cid").as("id_a"))
      .withColumn("o", explode(array(offsets.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy"))
      }: _*)))
      .select(col("id_a"), (col("ax") + col("o.dx")).as("cx"),
        (col("ay") + col("o.dy")).as("cy"))
      .join(dense.select(col("cx"), col("cy"), col("cid").as("id_b")),
        Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.connectedComponents(fanned)
    val perCell = dense
      .join(comp, dense("cid") === comp("id"), "left")
      .select(col("cx"), col("cy"), col("cid"),
        coalesce(col("cluster_id"), col("cid")).as("cluster"))
    cells
      .join(perCell.select(col("cx"), col("cy"), col("cluster")),
        Seq("cx", "cy"), "left")
      .select(col(idCol), coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
