package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.geom.{Buffer, Geom, MultiPolygon, Polygon, Wkb}
import scala.collection.mutable.ArrayBuffer

/** Raster footprint: the polygon of valid-data pixels (reference:
  * gdal_footprint, /root/reference/apps/gdal_footprint_lib.cpp — mask →
  * polygonize → union). Spark shape: each tile independently unions its
  * valid-pixel RUN rectangles (global pixel coordinates, so tile outlines
  * share exact edges), then a tree-merge union Aggregator dissolves the
  * per-tile outlines into the dataset footprint. Per-tile work is bounded
  * by tile size; the merge shuffles one geometry per tile. */
object Footprint {

  /** Per-tile outline: union of maximal per-row run rectangles, with
    * vertically-stacked identical runs pre-merged (fewer union pieces). */
  def tileOutline(t: Tile, isValid: Double => Boolean): Geom = {
    // collect runs per row: (x0, x1exclusive, y)
    val runs = new ArrayBuffer[(Int, Int, Int)]()
    var y = 0
    while (y < t.h) {
      var x = 0
      while (x < t.w) {
        if (isValid(t.pixels(y * t.w + x))) {
          val x0 = x
          while (x < t.w && isValid(t.pixels(y * t.w + x))) x += 1
          runs += ((x0, x, y))
        } else x += 1
      }
      y += 1
    }
    if (runs.isEmpty) return MultiPolygon(Array.empty)
    // stack identical spans on consecutive rows into one rect
    val rects = new ArrayBuffer[(Int, Int, Int, Int)]() // x0, x1, y0, y1excl
    val byRow = runs.groupBy(_._3)
    val ys = byRow.keys.toArray.sorted
    val active = scala.collection.mutable.HashMap[(Int, Int), Int]() // span -> y0
    var lastRow: Set[(Int, Int)] = Set.empty
    var lastY = -2
    ys.foreach { yy =>
      val spans = byRow(yy).map(r => (r._1, r._2)).toSet
      if (yy != lastY + 1) {
        // gap: flush all
        active.foreach { case (sp, y0) => rects += ((sp._1, sp._2, y0, lastY + 1)) }
        active.clear()
      } else {
        // flush spans that ended
        (lastRow -- spans).foreach { sp =>
          rects += ((sp._1, sp._2, active(sp), yy))
          active.remove(sp)
        }
      }
      spans.foreach { sp => if (!active.contains(sp)) active(sp) = yy }
      lastRow = spans; lastY = yy
    }
    active.foreach { case (sp, y0) => rects += ((sp._1, sp._2, y0, lastY + 1)) }

    val gx0 = t.x.toLong * t.w; val gy0 = t.y.toLong * t.h
    val pieces = new ArrayBuffer[Geom](rects.length)
    rects.foreach { case (x0, x1, ry0, ry1) =>
      val a = (gx0 + x0).toDouble; val b = (gx0 + x1).toDouble
      val c = (gy0 + ry0).toDouble; val d = (gy0 + ry1).toDouble
      pieces += Polygon(Array(Array(a, c, b, c, b, d, a, d, a, c)))
    }
    Buffer.unionAll(pieces)
  }

  /** Dataset-level footprint: one WKB row. */
  def footprint(tiles: Dataset[Tile], isValid: Double => Boolean): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(t => Wkb.write(tileOutline(t, isValid)))
      .toDF("wkb")
      .agg(Dissolve.unionCol(col("wkb")).as("footprint"))
  }
}
