package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed contour extraction (marching squares) over Dataset[Tile]
  * (SURVEY.md §2.G `contour`).
  *
  * Reference: marching-squares contour writer
  * (/root/reference/alg/contour.cpp:569, /root/reference/alg/marching_squares/).
  * A contour cell is the 2×2 pixel square whose top-left pixel is (gx,gy);
  * cells on tile seams need the right/bottom neighbor's first column/row —
  * a 1-pixel halo through the shared exchange ([[Gather.halo]] with
  * (0, 0, 1, 1): right col + bottom row + corner pixel shipped, one
  * shuffle). Per cell the standard 16-case table yields 0–2 segments with
  * linearly interpolated edge endpoints in LOCAL cell coordinates; saddle
  * cases 5/10 use the fixed (left,top)+(right,bottom) /
  * (left,bottom)+(top,right) pairing. Output per (tile, level): segment
  * count and the exact integer sum of floor(len·1e6+0.5) per segment
  * (order-independent, so distributed summation is deterministic).
  */
object Contour {

  /** (nSegments, Σ floor(len·1e6+0.5)) for one cell at one level.
    * Corners: tl tr / bl br; >= level counts as inside. All four edge
    * interpolants are computed unconditionally (unused ones may be ±inf —
    * mirrored by the SQL oracle). */
  def cellSegments(tl: Double, tr: Double, br: Double, bl: Double,
                   level: Double): (Int, Long) = {
    val idx = (if (tl >= level) 8 else 0) + (if (tr >= level) 4 else 0) +
      (if (br >= level) 2 else 0) + (if (bl >= level) 1 else 0)
    val tTop = (level - tl) / (tr - tl)
    val tRight = (level - tr) / (br - tr)
    val tBot = (level - bl) / (br - bl)
    val tLeft = (level - tl) / (bl - tl)
    def len(dx: Double, dy: Double): Long =
      math.floor(math.sqrt(dx * dx + dy * dy) * 1000000.0 + 0.5).toLong
    def leftBottom = len(tBot - 0.0, 1.0 - tLeft)
    def bottomRight = len(1.0 - tBot, tRight - 1.0)
    def leftRight = len(1.0, tRight - tLeft)
    def topRight = len(1.0 - tTop, tRight - 0.0)
    def topBottom = len(tBot - tTop, 1.0)
    def leftTop = len(tTop, 0.0 - tLeft)
    def rightBottom = len(tBot - 1.0, 1.0 - tRight)
    idx match {
      case 0 | 15 => (0, 0L)
      case 1 | 14 => (1, leftBottom)
      case 2 | 13 => (1, bottomRight)
      case 3 | 12 => (1, leftRight)
      case 4 | 11 => (1, topRight)
      case 6 | 9  => (1, topBottom)
      case 7 | 8  => (1, leftTop)
      case 5      => (2, leftTop + rightBottom)
      case 10     => (2, leftBottom + topRight)
    }
  }

  /** gdal_contour -p polygon mode (contour.cpp polygon writer, elev_min /
    * elev_max attributes): pixels classify into fixed-interval elevation
    * bands, and each band's connected regions come from the existing
    * distributed polygonize CCL — the same regions the reference's ring
    * writer traces, as labeled components with band bounds. One extra
    * map over the tiles; the CCL's cross-tile merge is already the
    * distributed large-star/small-star path.
    *
    * Nodata: NaN pixels (e.g. from Raster.maskNodata) band to NaN; since
    * NaN != NaN every such pixel is its own CCL singleton, and they are
    * dropped after labeling — nodata areas emit NO polygons, matching
    * gdal_contour's skip of nodata pixels (contour.cpp nodata guard).
    * The result comes back cached and materialized; the components' cache
    * is released. */
  def contourPolygons(tiles: Dataset[Tile], interval: Double, width: Long,
                      conn: Int = 4): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, isnan, not}
    val banded = tiles.map { t =>
      t.copy(pixels = t.pixels.map(v => math.floor(v / interval)))
    }
    val caches = new GraphOps.CallCaches
    caches.result(caches.own(Polygonize.components(banded, width, conn))
      .where(not(isnan(col("value"))))
      .withColumn("elev_min", col("value") * interval)
      .withColumn("elev_max", (col("value") + 1.0) * interval))
  }

  /** Per (tile, level): (z, x, y, level, n_segments, len_u). Cells whose
    * 2×2 square crosses the global raster edge are skipped (no data). */
  def contour(tiles: Dataset[Tile], levels: Seq[Double]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val lv = levels.toArray
    Gather.halo(tiles, 0, 0, 1, 1) { halo =>
      val w = halo.w; val h = halo.h
      val pw = w + 1
      val pad = halo.padded
      val n = new Array[Long](lv.length)
      val lenU = new Array[Long](lv.length)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val tl = pad(yy * pw + xx); val tr = pad(yy * pw + xx + 1)
          val bl = pad((yy + 1) * pw + xx); val br = pad((yy + 1) * pw + xx + 1)
          if (!java.lang.Double.isNaN(tl) && !java.lang.Double.isNaN(tr) &&
              !java.lang.Double.isNaN(bl) && !java.lang.Double.isNaN(br)) {
            var li = 0
            while (li < lv.length) {
              val (cn, cl) = cellSegments(tl, tr, br, bl, lv(li))
              n(li) += cn; lenU(li) += cl
              li += 1
            }
          }
          xx += 1
        }
        yy += 1
      }
      lv.indices.iterator.map(li => (halo.z, halo.x, halo.y, lv(li), n(li), lenU(li)))
    }.toDF("z", "x", "y", "level", "n_segments", "len_u")
  }
}
