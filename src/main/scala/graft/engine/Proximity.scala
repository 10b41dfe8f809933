package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}

/** Distributed proximity raster: per-pixel euclidean distance (in pixels)
  * to the nearest target pixel, exact within a max search radius R ≤ tile
  * size (SURVEY.md §2.G `proximity`).
  *
  * Reference: GDALComputeProximity
  * (/root/reference/alg/gdalproximity.cpp:94) — scanline passes carrying
  * nearest-target coordinates, `MAXDIST` bounding the search. Spark shape:
  * the shared halo exchange ([[Gather.halo]]) with R-wide strips, whose
  * supplied pixels are scanned for targets — any target within R of a pixel
  * lies inside the tile's R-padded window, so one strip shuffle makes the
  * per-tile computation exact. Pixels with no target within R get
  * `nodata` (reference default 65535). Shuffle volume ≈ (1 + 4R/ts)× the
  * raster.
  */
object Proximity {

  /** `isTarget` classifies pixel values; result pixels = distance in
    * pixel units to the nearest target (0 on targets), or nodata if none
    * within `radius`. Requires 0 <= radius <= tile size; a negative radius
    * is refused at the call. */
  def proximity(tiles: Dataset[Tile], radius: Int, isTarget: Double => Boolean,
                nodata: Double = 65535.0): Dataset[Tile] = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val spark = tiles.sparkSession
    import spark.implicits._
    val r = radius
    Gather.halo(tiles, r, r, r, r) { halo =>
      val w = halo.w; val h = halo.h
      // target coordinates in centre-tile pixels, halo included
      val tx = new scala.collection.mutable.ArrayBuffer[Int]()
      val ty = new scala.collection.mutable.ArrayBuffer[Int]()
      halo.foreach { (px, py, v) => if (isTarget(v)) { tx += px; ty += py } }
      val txA = tx.toArray; val tyA = ty.toArray
      val r2 = r * r
      val out = new Array[Double](w * h)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          var best = Int.MaxValue
          var i = 0
          while (i < txA.length) {
            val ddx = txA(i) - xx; val ddy = tyA(i) - yy
            val d2 = ddx * ddx + ddy * ddy
            if (d2 < best) best = d2
            i += 1
          }
          out(yy * w + xx) =
            if (best <= r2) math.sqrt(best.toDouble) else nodata
          xx += 1
        }
        yy += 1
      }
      Iterator.single(Tile(halo.z, halo.x, halo.y, halo.band, w, h, out))
    }
  }
}
