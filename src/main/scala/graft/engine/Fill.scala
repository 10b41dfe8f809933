package graft.engine

import org.apache.spark.sql.Dataset

/** fill-nodata: inverse-distance-weighted inpainting of nodata pixels from
  * valid pixels within a search radius R ≤ tile size (SURVEY.md §2.G
  * `fill-nodata`; reference: GDALFillNodata IDW interpolation,
  * /root/reference/alg/rasterfill.cpp:394). R-wide halo strips → one
  * shuffle (the shared halo exchange, [[Gather.halo]]) → per-tile window
  * pass over the padded frame: out = Σ v/d² / Σ 1/d² over valid
  * pixels with 0 < d² ≤ R² (nodata kept when no valid pixel in range).
  */
object Fill {

  def fillNodata(tiles: Dataset[Tile], radius: Int, nodata: Double): Dataset[Tile] = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val spark = tiles.sparkSession
    import spark.implicits._
    val r = radius
    Gather.halo(tiles, r, r, r, r) { halo =>
      val w = halo.w; val h = halo.h
      val pw = w + 2 * r
      val pad = halo.padded
      val r2 = r * r
      val out = new Array[Double](w * h)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val v = pad((yy + r) * pw + (xx + r))
          out(yy * w + xx) =
            if (v != nodata) v
            else {
              var num = 0.0; var den = 0.0
              var dy2 = -r
              while (dy2 <= r) {
                var dx2 = -r
                while (dx2 <= r) {
                  val d2 = dx2 * dx2 + dy2 * dy2
                  if (d2 > 0 && d2 <= r2) {
                    val nv = pad((yy + r + dy2) * pw + (xx + r + dx2))
                    if (!java.lang.Double.isNaN(nv) && nv != nodata) {
                      num += nv / d2
                      den += 1.0 / d2
                    }
                  }
                  dx2 += 1
                }
                dy2 += 1
              }
              if (den > 0.0) num / den else nodata
            }
          xx += 1
        }
        yy += 1
      }
      Iterator.single(Tile(halo.z, halo.x, halo.y, halo.band, w, h, out))
    }
  }
}
