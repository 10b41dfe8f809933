package graft.engine

import org.apache.spark.sql.{Dataset, Encoder}

/** One border strip in a halo exchange: pixels (x0.., y0..) of size sw×sh
  * of the tile at (x − dx, y − dy), shipped to the tile at (x, y). The
  * centre record (dx = dy = 0) is the receiver's own tile. */
case class HaloStrip(z: Int, x: Int, y: Int, band: Int,
                     dx: Int, dy: Int, x0: Int, y0: Int,
                     sw: Int, sh: Int, strip: Array[Double])

/** A tile and the strips its neighbours shipped it. One placement rule
  * (strip pixel (sx, sy) sits at (x0 + sx − dx·w, y0 + sy − dy·h) in
  * centre-tile coordinates) read in two forms: `foreach` over the supplied
  * pixels, and `padded`, the frame widened by the halo. */
final class Halo(val z: Int, val x: Int, val y: Int, val band: Int,
                 val w: Int, val h: Int, left: Int, top: Int, right: Int, bottom: Int,
                 strips: Array[HaloStrip]) {

  /** `g(px, py, v)` for every pixel some tile supplied, (px, py) in
    * centre-tile coordinates (negative or ≥ w/h in the halo). */
  def foreach(g: (Int, Int, Double) => Unit): Unit = strips.foreach { s =>
    val ox = s.x0 - s.dx * w; val oy = s.y0 - s.dy * h
    var sy = 0
    while (sy < s.sh) {
      var sx = 0
      while (sx < s.sw) { g(ox + sx, oy + sy, s.strip(sy * s.sw + sx)); sx += 1 }
      sy += 1
    }
  }

  /** Row-major (left + w + right)×(top + h + bottom) frame, centre pixel
    * (px, py) at (left + px, top + py); NaN where no tile supplied a pixel
    * (global border, missing neighbour). */
  def padded: Array[Double] = {
    val pw = left + w + right; val ph = top + h + bottom
    val pad = Array.fill(pw * ph)(Double.NaN)
    strips.foreach { s =>
      val fx = s.x0 - s.dx * w + left; val fy = s.y0 - s.dy * h + top
      // clip to the frame: a neighbour of another size may overhang it
      val lo = math.max(0, -fx); val hi = math.min(s.sw, pw - fx)
      var sy = math.max(0, -fy)
      while (sy < math.min(s.sh, ph - fy) && hi > lo) {
        System.arraycopy(s.strip, sy * s.sw + lo, pad, (fy + sy) * pw + fx + lo, hi - lo)
        sy += 1
      }
    }
    pad
  }
}

/** The source tiles routed to destination tile (dx, dy) of a warp, on a
  * dense local tile grid so that a pixel read is two array indexes (the
  * kernels read the window several times per destination pixel). `band`
  * is the band of the routed tiles, 1 when none was routed. */
final class SrcWindow private[engine] (val dx: Int, val dy: Int, val band: Int,
                                       ts: Int, srcW: Long, srcH: Long, tiles: Array[Tile]) {
  private val tx0 = if (tiles.isEmpty) 0 else tiles.map(_.x).min
  private val ty0 = if (tiles.isEmpty) 0 else tiles.map(_.y).min
  private val gw = if (tiles.isEmpty) 0 else tiles.map(_.x).max - tx0 + 1
  private val gh = if (tiles.isEmpty) 0 else tiles.map(_.y).max - ty0 + 1
  private val grid = new Array[Array[Double]](gw * gh)
  tiles.foreach(t => grid((t.y - ty0) * gw + (t.x - tx0)) = t.pixels)

  /** Source pixel (gx, gy); NaN outside the source raster or the routed
    * tiles. */
  def pix(gx: Long, gy: Long): Double = {
    if (gx < 0 || gy < 0 || gx >= srcW || gy >= srcH) return Double.NaN
    val tx = (gx / ts).toInt - tx0; val ty = (gy / ts).toInt - ty0
    if (tx < 0 || ty < 0 || tx >= gw || ty >= gh) return Double.NaN
    val p = grid(ty * gw + tx)
    if (p == null) Double.NaN
    else p(((gy % ts) * ts + (gx % ts)).toInt)
  }
}

/** Cross-tile gathering for the raster operators: the three Spark shapes
  * that meet tiles from different places in one shuffle. Each takes the
  * caller's per-tile function, so the caller's plan is one shuffle and one
  * per-group pass. */
object Gather {

  /** Halo exchange: each tile ships, to each of its 8 neighbours, the
    * border strip that neighbour's frame needs, and one `groupByKey` on
    * (z, x, y, band) meets every tile with the strips it received. The
    * frame is padded by `left` columns on the left, `top` rows on top and
    * so on: a tile ships its right `left` columns to the tile on its
    * right and its left `right` columns to the tile on its left (rows
    * alike); zero-width strips are not shipped. Shuffle volume is the
    * raster plus its strips, e.g. ≈ (1 + 2r/ts)² for (r, r, r, r). A
    * tile with no centre record yields nothing. */
  def halo[U: Encoder](tiles: Dataset[Tile], left: Int, top: Int, right: Int, bottom: Int)
                      (f: Halo => IterableOnce[U]): Dataset[U] = {
    require(left >= 0 && top >= 0 && right >= 0 && bottom >= 0,
      s"halo widths must be >= 0, got ($left, $top, $right, $bottom)")
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      require(math.max(left, right) <= t.w && math.max(top, bottom) <= t.h,
        s"halo ($left, $top, $right, $bottom) exceeds tile ${t.w}x${t.h}")
      for {
        dy <- -1 to 1
        dx <- -1 to 1
        sw = if (dx == 0) t.w else if (dx == 1) left else right
        sh = if (dy == 0) t.h else if (dy == 1) top else bottom
        if (dx == 0 && dy == 0) || (sw > 0 && sh > 0)
      } yield {
        val x0 = if (dx == 1) t.w - left else 0
        val y0 = if (dy == 1) t.h - top else 0
        val strip =
          if (dx == 0 && dy == 0) t.pixels
          else {
            val s = new Array[Double](sw * sh)
            var yy = 0
            while (yy < sh) {
              System.arraycopy(t.pixels, (y0 + yy) * t.w + x0, s, yy * sw, sw)
              yy += 1
            }
            s
          }
        HaloStrip(t.z, t.x + dx, t.y + dy, t.band, dx, dy, x0, y0, sw, sh, strip)
      }
    }
      .groupByKey(c => (c.z, c.x, c.y, c.band))
      .flatMapGroups { (key, it) =>
        val (z, x, y, band) = key
        val parts = it.toArray
        parts.find(c => c.dx == 0 && c.dy == 0) match {
          case None => Iterator.empty
          case Some(c) => f(new Halo(z, x, y, band, c.sw, c.sh, left, top, right, bottom, parts))
        }
      }
  }

  /** Warp source window: `contrib` routes source tiles of size ts×ts to
    * destination tiles as (dx, dy, tile), and one `groupByKey` on (dx, dy)
    * meets every tile of the nDstX×nDstY destination grid with the tiles
    * routed to it; a destination tile with none gets an empty window. The
    * routing (which source tiles a destination needs) is the caller's. */
  def window[U: Encoder](contrib: Dataset[(Int, Int, Tile)], nDstX: Int, nDstY: Int,
                         ts: Int, srcW: Long, srcH: Long)
                        (f: SrcWindow => IterableOnce[U]): Dataset[U] = {
    val spark = contrib.sparkSession
    import spark.implicits._
    // one band −1 marker per destination tile, so every tile has a group
    val marker = spark.range(0, nDstX.toLong * nDstY, 1, math.min(nDstX * nDstY, 64))
      .map { id =>
        ((id % nDstX).toInt, (id / nDstX).toInt,
          Tile(0, 0, 0, -1, 0, 0, Array.emptyDoubleArray))
      }
    contrib.union(marker)
      .groupByKey(c => (c._1, c._2))
      .flatMapGroups { (key, it) =>
        val tiles = it.map(_._3).filter(_.band != -1).toArray
        f(new SrcWindow(key._1, key._2, if (tiles.isEmpty) 1 else tiles.last.band,
          ts, srcW, srcH, tiles))
      }
  }

  /** Tile stack: source i's tiles tagged band i, unioned, grouped by
    * (z, x, y) in one shuffle; `f(z, x, y, w, h, pixels)` gets the pixel
    * arrays in source order, only where every source has the tile. Tiles
    * of one (z, x, y) that differ in size are refused. */
  def stack[U: Encoder](srcs: Seq[Dataset[Tile]])
                       (f: (Int, Int, Int, Int, Int, Array[Array[Double]]) => IterableOnce[U])
      : Dataset[U] = {
    require(srcs.nonEmpty)
    val spark = srcs.head.sparkSession
    import spark.implicits._
    val n = srcs.length
    srcs.zipWithIndex
      .map { case (ds, i) => ds.map(t => t.copy(band = i)) }
      .reduce(_ union _)
      .groupByKey(t => (t.z, t.x, t.y))
      .flatMapGroups { (key, it) =>
        val (z, x, y) = key
        val bands = new Array[Array[Double]](n)
        var tw = -1; var th = -1
        it.foreach { t =>
          require(tw < 0 || (t.w == tw && t.h == th),
            s"tile ($z, $x, $y): stacked sources differ in size, ${tw}x$th vs ${t.w}x${t.h}")
          bands(t.band) = t.pixels; tw = t.w; th = t.h
        }
        if (bands.exists(_ == null)) Iterator.empty else f(z, x, y, tw, th, bands)
      }
  }
}
