package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, KernelFns}

import graft.functions.gf

/** Polygon subdivision along the shared cell grid — the big-polygon fix
  * for spatial joins (ST_Subdivide's role in PostGIS, the reference's
  * cutline/tile clip machinery re-aimed at join cost): a continental
  * polygon makes every PIP refine O(V) with V huge and concentrates all
  * its points on one probe geometry; clipping it into per-cell pieces
  * bounds the refine cost by the vertices that actually fall in each
  * cell, and the pieces distribute across the join like any other rows.
  *
  * Semantics: piece(cell) = polygon ∩ bbox(cell) over the polygon's join
  * cover ([[graft.cell.CellId.joinCover]], which holds the cell of every
  * point of the envelope; st_clip_bbox = the g15 clip path).
  * The union of pieces is the polygon, so a point STRICTLY interior to
  * the polygon and not on a cell cut line matches exactly the piece of
  * its own cell; a point exactly ON an internal cut line (measure-zero
  * for continuous coordinates) sits on two pieces' clipped boundaries and
  * the strict ray-crossing rule may classify it differently than the
  * unsubdivided polygon — the g65 gate's equality against the direct
  * closed-form oracle is the check that the corpus never hits this, and
  * downstream callers needing boundary-exact semantics should refine
  * against the ORIGINAL geometry after the piece-level join (the
  * two-phase filter pattern).
  */
object Subdivide {

  /** Per-cell pieces of a polygon layer with a `wkb` column; empty
    * clips (cover cells whose bbox only touches the envelope, not the
    * polygon) are dropped. Keeps all other columns; adds `cell`. */
  def byCells(polys: DataFrame, z: Int): DataFrame =
    polys.withColumn("cell", explode(ColumnBridge.column(
        KernelFns("st_join_cover")(ColumnBridge.expression(col("wkb")), Literal(z)))))
      .withColumn("env", gf.st_cell_env(col("cell")))
      .withColumn("wkb", gf.st_clip_bbox(col("wkb"),
        element_at(col("env"), 1), element_at(col("env"), 2),
        element_at(col("env"), 3), element_at(col("env"), 4)))
      .where(!gf.st_isempty(col("wkb")))
      .drop("env")
}
