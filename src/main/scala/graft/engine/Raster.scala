package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.Mercator

/** A raster tile as a row: GDAL's block grid becomes the row grid
  * (SURVEY.md §1.2). Pixels are row-major doubles (w*h). */
case class Tile(z: Int, x: Int, y: Int, band: Int, w: Int, h: Int, pixels: Array[Double])

/** Distributed raster ops over Dataset[Tile]: rasterize points, pyramid
  * reduce with the Average kernel, and the reference checksum oracle. */
object Raster {

  final val TileSize = 256

  /** Rasterize points into per-tile count grids at zoom z (the raster leg of
    * the north rule). Reference: scanline rasterizer burn step
    * (/root/reference/alg/gdalrasterize.cpp:878, llrasterize.cpp:58) — for
    * point geometries the burn is a single-pixel increment. One shuffle
    * (groupByKey on tile), then per-tile dense fill. */
  def rasterizePoints(pts: DataFrame, z: Int): Dataset[Tile] = {
    val spark = pts.sparkSession
    import spark.implicits._
    val tileSize = TileSize
    val mapSize = (1L << z) * tileSize // PixelsToRaster top-left flip (gdal2tiles.py:470)
    val pix = pts.select(col("lon").cast("double"), col("lat").cast("double"))
      .as[(Double, Double)]
      .flatMap { case (lon, lat) =>
        // exact gdal2tiles pixel pipeline — floor(pyXyz/256) agrees with
        // tile_y's ceil-based TMS tile + flip at every boundary
        val px = Mercator.metersToPixelX(Mercator.lonToX(lon), z)
        val pyXyz = mapSize - Mercator.metersToPixelY(Mercator.latToY(lat), z)
        if (px >= 0 && px < mapSize && pyXyz >= 0 && pyXyz < mapSize)
          Some((math.floor(px).toLong, math.floor(pyXyz).toLong))
        else None
      }
    pix
      .groupByKey { case (ipx, ipy) => (ipx / tileSize, ipy / tileSize) }
      .mapGroups { (key: (Long, Long), rows: Iterator[(Long, Long)]) =>
        val (tx, ty) = key
        val px = new Array[Double](tileSize * tileSize)
        rows.foreach { case (ipx, ipy) =>
          val cx = (ipx - tx * tileSize).toInt
          val cy = (ipy - ty * tileSize).toInt
          px(cy * tileSize + cx) += 1.0
        }
        Tile(z, tx.toInt, ty.toInt, 1, tileSize, tileSize, px)
      }
  }

  /** Deterministic synthetic raster: full z-level tile grid with pixel
    * values from a closed-form f(globalX, globalY) — the analytic-oracle
    * input for focal/warp tests (any engine can recompute f directly). */
  def syntheticTiles(spark: SparkSession, z: Int, band: Int = 1,
                     tileSize: Int = TileSize)(f: (Long, Long) => Double): Dataset[Tile] = {
    import spark.implicits._
    val n = 1 << z
    val ts = tileSize
    spark.range(0, n.toLong * n, 1, math.min(n * n, 64)).map { id =>
      val tx = (id % n).toInt; val ty = (id / n).toInt
      val px = new Array[Double](ts * ts)
      var y = 0
      while (y < ts) {
        var x = 0
        while (x < ts) {
          px(y * ts + x) = f(tx.toLong * ts + x, ty.toLong * ts + y)
          x += 1
        }
        y += 1
      }
      Tile(z, tx, ty, band, ts, ts, px)
    }
  }

  /** One pyramid level up: each parent tile is the Average-kernel reduction
    * of its <=4 children (reference: MosaicDataset + Average,
    * gdalalg_raster_tile.cpp:2003-2060, kernels gdalwarper.h:45). For count
    * rasters use sum=false to average, true to sum. */
  def pyramidUp(tiles: Dataset[Tile], sum: Boolean = false): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.groupByKey(t => (t.z - 1, t.x / 2, t.y / 2, t.band))
      .mapGroups { (key: (Int, Int, Int, Int), ts: Iterator[Tile]) =>
        val (z, px, py, band) = key
        val children = ts.toArray
        val w = children(0).w; val h = children(0).h
        val out = new Array[Double](w * h)
        children.foreach { c =>
          val ox = (c.x - px * 2) * w / 2 // child quadrant offset in parent
          val oy = (c.y - py * 2) * h / 2
          var cy = 0
          while (cy < h) {
            var cx = 0
            while (cx < w) {
              // 2x2 box filter into the parent quadrant
              if ((cx & 1) == 0 && (cy & 1) == 0) {
                val a = c.pixels(cy * w + cx)
                val b = if (cx + 1 < w) c.pixels(cy * w + cx + 1) else 0.0
                val d = if (cy + 1 < h) c.pixels((cy + 1) * w + cx) else 0.0
                val e = if (cx + 1 < w && cy + 1 < h) c.pixels((cy + 1) * w + cx + 1) else 0.0
                val v = if (sum) a + b + d + e else (a + b + d + e) / 4.0
                out((oy + cy / 2) * w + (ox + cx / 2)) = v
              }
              cx += 1
            }
            cy += 1
          }
        }
        Tile(z, px, py, band, w, h, out)
      }
  }

  /** Partial overview refresh, one level up — `gdal raster overview
    * refresh --bbox/--like/--use-source-timestamp`
    * (/root/reference/apps/gdalalg_raster_overview_refresh.cpp
    * PartialRefresh :68, PartialRefreshFromSourceExtent :279): recompute
    * ONLY the parent tiles whose footprint intersects the dirty child
    * region and reuse every other tile of the existing overview level.
    *
    * `dirty` holds the dirty child keys as (dx, dy) at the CHILD level;
    * returns the refreshed parent level plus the parent-level dirty keys
    * (feed them to the next level up). The recompute cost is proportional
    * to the dirty area, not the raster — the incremental path a 10^12-tile
    * pyramid needs after a localized update. */
  def refreshLevelUp(oldParents: Dataset[Tile], children: Dataset[Tile],
                     dirty: DataFrame, sum: Boolean = false): (Dataset[Tile], DataFrame) = {
    val spark = children.sparkSession
    import spark.implicits._
    val dirtyParents = dirty
      .select(expr("dx div 2").cast("int").as("dx"), expr("dy div 2").cast("int").as("dy"))
      .distinct()
    val affectedChildren = children
      .join(dirtyParents.withColumnRenamed("dx", "__px").withColumnRenamed("dy", "__py"),
        expr("x div 2") === col("__px") && expr("y div 2") === col("__py"), "left_semi")
      .as[Tile]
    val recomputed = pyramidUp(affectedChildren, sum)
    val kept = oldParents
      .join(dirtyParents, col("x") === col("dx") && col("y") === col("dy"), "left_anti")
      .as[Tile]
    (kept.unionByName(recomputed), dirtyParents)
  }

  /** One complex pyramid level up with the AVERAGE_MAGPHASE kernel
    * (GDALRegenerateOverviewsInternal complex path,
    * /root/reference/gcore/overview.cpp:4527-4580): the parent pixel is the
    * componentwise mean of its 2×2 source block, rescaled so its magnitude
    * equals the mean of the source magnitudes — preserving average power in
    * SAR-style data where opposite-phase samples would otherwise cancel.
    * The reference's CFloat32 stores are mirrored exactly: the averaged
    * components are cast to float, the ratio multiply is a float×float
    * multiply. Magnitude uses sqrt(re²+im²); std::hypot differs only as an
    * overflow guard and is identical for values whose squared sum is exact.
    * A complex band is an (re, im) tile pair (the r46 convention); BOTH
    * bands reduce in ONE groupByKey shuffle keyed (z−1, x/2, y/2) with the
    * band ids carried in the values, so the complex pyramid costs the same
    * single shuffle per level as the real-valued [[pyramidUp]]. */
  def pyramidUpMagphase(tiles: Dataset[Tile], reBand: Int, imBand: Int): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.filter(t => t.band == reBand || t.band == imBand)
      .groupByKey(t => (t.z - 1, t.x / 2, t.y / 2))
      .flatMapGroups { (key: (Int, Int, Int), ts: Iterator[Tile]) =>
        val (z, px, py) = key
        val children = ts.toArray
        val w = children(0).w; val h = children(0).h
        val outRe = new Array[Double](w * h)
        val outIm = new Array[Double](w * h)
        for (((cx0, cy0), pair) <- children.groupBy(c => (c.x, c.y))) {
          val ox = (cx0 - px * 2) * w / 2
          val oy = (cy0 - py * 2) * h / 2
          val reP = pair.find(_.band == reBand).map(_.pixels).orNull
          val imP = pair.find(_.band == imBand).map(_.pixels).orNull
          var cy = 0
          while (cy < h) {
            var cx = 0
            while (cx < w) {
              if ((cx & 1) == 0 && (cy & 1) == 0) {
                // 2x2 block totals in the reference's row-major order
                var totR = 0.0; var totI = 0.0; var totM = 0.0
                var n = 0
                var dy = 0
                while (dy < 2) {
                  var dx = 0
                  while (dx < 2) {
                    val xx = cx + dx; val yy = cy + dy
                    if (xx < w && yy < h) {
                      val idx = yy * w + xx
                      val r = if (reP != null) reP(idx) else 0.0
                      val i = if (imP != null) imP(idx) else 0.0
                      totR += r; totI += i
                      totM += math.sqrt(r * r + i * i)
                      n += 1
                    }
                    dx += 1
                  }
                  dy += 1
                }
                val nR = (totR / n).toFloat
                val nI = (totI / n).toFloat
                val m = math.sqrt(nR.toDouble * nR.toDouble + nI.toDouble * nI.toDouble)
                val desired = totM / n
                val ratio = if (m != 0.0) desired / m else 1.0
                val rf = ratio.toFloat
                val oIdx = (oy + cy / 2) * w + (ox + cx / 2)
                outRe(oIdx) = (nR * rf).toDouble
                outIm(oIdx) = (nI * rf).toDouble
              }
              cx += 1
            }
            cy += 1
          }
        }
        Seq(Tile(z, px, py, reBand, w, h, outRe),
          Tile(z, px, py, imBand, w, h, outIm))
      }
  }

  /** GDALCopyWord rounding: half away from zero, then clamp to the output
    * type's range (/root/reference/gcore/gdal_priv_templates.hpp:262-345). */
  private def clampFun(outType: String): Double => Double = {
    def r(v: Double): Double = if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)
    outType.toLowerCase match {
      case "byte"    => v => math.min(255.0, math.max(0.0, r(v)))
      case "int8"    => v => math.min(127.0, math.max(-128.0, r(v)))
      case "uint16"  => v => math.min(65535.0, math.max(0.0, r(v)))
      case "int16"   => v => math.min(32767.0, math.max(-32768.0, r(v)))
      case "uint32"  => v => math.min(4294967295.0, math.max(0.0, r(v)))
      case "int32"   => v => math.min(Int.MaxValue.toDouble, math.max(Int.MinValue.toDouble, r(v)))
      case "float32" => v => v.toFloat.toDouble
      case "float64" => v => v
      case other     => throw new IllegalArgumentException(s"output type $other")
    }
  }

  /** gdal_translate composition: -b band select, -srcwin crop, -outsize
    * resize, -r kernel (GDAL default NEAREST), -scale (a·x + b), -ot
    * output-type clamp. Reference: /root/reference/apps/gdal_translate_lib.cpp
    * (srcwin+outsize window math :2600-2700, scale :3026, type clamp via
    * GDALCopyWord). A translate IS an affine warp — src_px =
    * (dst_px + ½)·(size/outsize) + off − ½ — so it reuses warpAffine's
    * single forward-mapped replication shuffle (the 100-TB path); scale and
    * clamp are narrow per-pixel maps on top. Pixels of edge tiles beyond
    * outW×outH are zeroed so partial extents round-trip exactly. */
  def translate(src: Dataset[Tile], xoff: Double, yoff: Double,
                xsize: Double, ysize: Double, outW: Int, outH: Int,
                srcW: Long, srcH: Long, kernel: String = "near",
                bandSel: Int = -1, scale: Option[(Double, Double)] = None,
                outType: Option[String] = None,
                tileSize: Int = TileSize): Dataset[Tile] = {
    import src.sparkSession.implicits._
    val b = bandSel
    val in = if (b >= 0) src.filter(_.band == b) else src
    val aff = WarpAffine(xsize / outW, ysize / outH, xoff, yoff)
    val nX = (outW + tileSize - 1) / tileSize
    val nY = (outH + tileSize - 1) / tileSize
    val ts = tileSize; val ow = outW; val oh = outH
    val warped = warpAffine(in, 0, nX, nY, aff, kernel, srcW, srcH, tileSize)
    val scaled = scale match {
      case Some((a, c)) => mapPixels(warped)(v => a * v + c)
      case None => warped
    }
    val typed = outType match {
      case Some(tn) => val f = clampFun(tn); mapPixels(scaled)(f)
      case None => scaled
    }
    // zero the out-of-extent margin of edge tiles (padding, not data) —
    // after scale/clamp so -scale's offset can't re-fill it
    typed.map { t =>
      if ((t.x + 1) * ts <= ow && (t.y + 1) * ts <= oh) t
      else {
        val out = t.pixels.clone()
        var cy = 0
        while (cy < t.h) {
          var cx = 0
          while (cx < t.w) {
            if (t.x.toLong * ts + cx >= ow || t.y.toLong * ts + cy >= oh)
              out(cy * t.w + cx) = 0.0
            cx += 1
          }
          cy += 1
        }
        Tile(t.z, t.x, t.y, t.band, t.w, t.h, out)
      }
    }
  }

  /** Per-pixel band algebra (gdal raster calc / VRT pixel functions,
    * /root/reference/frmts/vrt/pixelfunctions.cpp): narrow map, no shuffle. */
  def mapPixels(tiles: Dataset[Tile], band: Int = -1)(f: Double => Double): Dataset[Tile] = {
    import tiles.sparkSession.implicits._
    tiles.map { t =>
      val out = new Array[Double](t.pixels.length)
      var i = 0
      while (i < out.length) { out(i) = f(t.pixels(i)); i += 1 }
      Tile(t.z, t.x, t.y, if (band >= 0) band else t.band, t.w, t.h, out)
    }
  }

  /** Two-band pixel combine (sum/diff/norm-diff family) over the tile
    * stack ([[Gather.stack]]): one shuffle, tiles of one (z, x, y) that
    * differ in size are refused. */
  def combineBands(a: Dataset[Tile], b: Dataset[Tile], outBand: Int = 1)
                  (f: (Double, Double) => Double): Dataset[Tile] =
    PixelFuncs.combineN(Seq(a, b), outBand)(v => f(v(0), v(1)))

  /** dst pixel-center → src pixel-center affine: srcPx = (dstPx+0.5)·s + t − 0.5. */
  case class WarpAffine(sx: Double, sy: Double, tx: Double, ty: Double)

  /** GDAL cubic-convolution weights (alg/gdalwarpkernel.cpp:3234
    * GWKCubicComputeWeights, Keys a=-0.5). */
  private def cubicWeights(x: Double): Array[Double] = {
    val halfX = 0.5 * x; val threeX = 3.0 * x; val halfX2 = halfX * x
    Array(halfX * (-1.0 + x * (2.0 - x)),
      1.0 + halfX2 * (-5.0 + threeX),
      halfX * (1.0 + x * (4.0 - threeX)),
      halfX2 * (-1.0 + x))
  }

  /** GDAL cubic B-spline basis (alg/gdalwarpkernel.cpp GWKBSpline; the
    * reference omits the 1/6 factor and normalizes by the weight sum in
    * GWKResample — we do the same). */
  private def bspline(x: Double): Double = {
    val xp2 = x + 2.0; val xp1 = x + 1.0; val xm1 = x - 1.0
    var v = 0.0
    if (xp2 > 0.0) {
      v = xp2 * xp2 * xp2
      if (xp1 > 0.0) {
        v += -4.0 * xp1 * xp1 * xp1
        if (x > 0.0) {
          v += 6.0 * x * x * x
          if (xm1 > 0.0) v += -4.0 * xm1 * xm1 * xm1
        }
      }
    }
    v
  }

  /** Lanczos windowed sinc, radius 3 (alg/gdalwarpkernel.cpp:3677). */
  private def lanczosSinc(x: Double): Double = {
    if (x == 0.0) 1.0
    else if (math.abs(x) >= 3.0) 0.0
    else {
      val px = math.Pi * x
      val px3 = px / 3.0
      (math.sin(px) / px) * (math.sin(px3) / px3)
    }
  }

  /** Resampling kernels and their source support radius in src pixels
    * (reference: GDALResampleAlg, alg/gdalwarper.h:35-67). Point kernels
    * sample around the inverse-mapped center; area kernels reduce the dst
    * pixel's source footprint rect (GWKAverageOrMode,
    * alg/gdalwarpkernel.cpp:6845). */
  private val pointKernels = Set("near", "bilinear", "cubic", "cubicspline", "lanczos")
  private val areaKernels = Set("average", "sum", "rms", "min", "max", "med", "q1", "q3", "mode")

  /** GAUSS overview kernel matrices (gcore/overview.cpp:2032-2042): fixed
    * integer binomial kernels selected by the downscale factor —
    * factor ≤2 → 3×3, ≤4 → 5×5, else 7×7. */
  private val gaussMatrix3: Array[Double] =
    Array(1, 2, 1, 2, 4, 2, 1, 2, 1).map(_.toDouble)
  private val gaussMatrix5: Array[Double] =
    Array(1, 4, 6, 4, 1, 4, 16, 24, 16, 4, 6, 24, 36, 24, 6,
      4, 16, 24, 16, 4, 1, 4, 6, 4, 1).map(_.toDouble)
  private val gaussMatrix7: Array[Double] =
    Array(1, 6, 15, 20, 15, 6, 1, 6, 36, 90, 120, 90, 36, 6,
      15, 90, 225, 300, 225, 90, 15, 20, 120, 300, 400, 300, 120, 20,
      15, 90, 225, 300, 225, 90, 15, 6, 36, 90, 120, 90, 36, 6,
      1, 6, 15, 20, 15, 6, 1).map(_.toDouble)
  private def gaussDimFor(scale: Double): Int = {
    val f = (0.5 + math.abs(scale)).toInt // nResYFactor, overview.cpp:2045
    if (f <= 2) 3 else if (f <= 4) 5 else 7
  }
  private def gaussMatrixFor(dim: Int): Array[Double] =
    if (dim == 3) gaussMatrix3 else if (dim == 5) gaussMatrix5 else gaussMatrix7

  private def kernelRadius(kernel: String, scale: Double): Int = kernel match {
    case "near"                     => 1
    case "bilinear"                 => 1
    case "cubic" | "cubicspline"    => 2
    case "lanczos"                  => 3
    case "gauss"                    => math.ceil(math.abs(scale)).toInt + gaussDimFor(scale)
    case _                          => math.ceil(math.abs(scale)).toInt + 1
  }

  /** gdalwarp -srcnodata: mark matching source pixels invalid (NaN) so
    * every kernel applies GDAL's nodata semantics — area kernels reduce
    * over the VALID footprint subset only (GWKAverageOrMode's
    * pafFoundDensity guard, alg/gdalwarpkernel.cpp:6845), near propagates
    * the miss, and a dst pixel with no valid contributor gets the engine's
    * dstnodata convention (0). A narrow map before the warp shuffle —
    * nodata handling costs nothing extra at scale. */
  def maskNodata(src: Dataset[Tile], nodata: Double): Dataset[Tile] = {
    val spark = src.sparkSession
    import spark.implicits._
    src.map(t => t.copy(pixels = t.pixels.map(v => if (v == nodata) Double.NaN else v)))
  }

  /** gdalwarp -cutline (binary crop, blend distance 0,
    * /root/reference/alg/gdalwarpoperation.cpp cutline mask path): pixels
    * whose CENTER falls outside the cutline polygon take dstnodata (0) —
    * the same pixel-center rule as the rasterize fill. The cutline rides
    * along as a closure capture (one small WKB per task, the broadcast
    * degenerate case); the pass is a narrow map over tiles with BOTH
    * envelope fast paths: fully-outside tiles zero without per-pixel
    * tests, and tiles whose rectangle lies entirely inside the polygon
    * (all four corners in, no boundary segment crossing the tile) pass
    * through untouched — interior tiles of a large cutline cost O(ring
    * vertices), not O(ts²·vertices).
    *
    * Note: value 0.0 is treated as already-nodata and skipped inside the
    * per-pixel branch — this engine's dstnodata convention is 0, so data
    * pixels that legitimately hold 0 are indistinguishable from nodata
    * (same conflation as feeding gdalwarp a source whose nodata equals a
    * real data value). */
  def cutline(tiles: Dataset[Tile], cutWkb: Array[Byte],
              tileSize: Int = TileSize): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val env = graft.geom.Wkb.read(cutWkb).envelope
    tiles.map { t =>
      val x0 = t.x.toLong * tileSize; val y0 = t.y.toLong * tileSize
      val x1 = x0 + t.w.toDouble; val y1 = y0 + t.h.toDouble
      val tileEnv = graft.geom.Envelope(x0, y0, x1, y1)
      if (!env.intersects(tileEnv)) t.copy(pixels = new Array[Double](t.w * t.h))
      else if (rectInsidePolygon(cutWkb, x0, y0, x1, y1)) t
      else {
        val out = new Array[Double](t.w * t.h)
        var yy = 0
        while (yy < t.h) {
          var xx = 0
          while (xx < t.w) {
            val i = yy * t.w + xx
            if (t.pixels(i) != 0.0 &&
                graft.geom.WkbPip.containsPoint(cutWkb, x0 + xx + 0.5, y0 + yy + 0.5))
              out(i) = t.pixels(i)
            xx += 1
          }
          yy += 1
        }
        t.copy(pixels = out)
      }
    }
  }

  /** Is the axis-aligned rectangle entirely inside the (multi)polygon?
    * Sufficient exact test: all four corners inside AND no ring segment
    * intersects the rectangle (a boundary crossing is the only way a
    * polygon with corners-inside can exclude interior rectangle points).
    * O(total ring vertices). */
  private[graft] def rectInsidePolygon(wkb: Array[Byte], x0: Double, y0: Double,
                                        x1: Double, y1: Double): Boolean = {
    val pip = graft.geom.WkbPip
    if (!pip.containsPoint(wkb, x0, y0) || !pip.containsPoint(wkb, x1, y0) ||
        !pip.containsPoint(wkb, x0, y1) || !pip.containsPoint(wkb, x1, y1)) return false
    def rings(g: graft.geom.Geom): Iterator[Array[Double]] = g match {
      case p: graft.geom.Polygon => p.rings.iterator
      case mp: graft.geom.MultiPolygon => mp.polys.iterator.flatMap(_.rings)
      case _ => Iterator.empty
    }
    // segment-rectangle overlap via separating-axis on the segment's bbox
    // plus the line test (both rectangle-side straddles)
    def segIntersectsRect(ax: Double, ay: Double, bx: Double, by: Double): Boolean = {
      if (math.max(ax, bx) < x0 || math.min(ax, bx) > x1 ||
          math.max(ay, by) < y0 || math.min(ay, by) > y1) return false
      // bbox overlaps; segment misses the rect only if all 4 corners lie
      // strictly on one side of the segment's supporting line
      val dx = bx - ax; val dy = by - ay
      def side(px: Double, py: Double): Double = dx * (py - ay) - dy * (px - ax)
      val s1 = side(x0, y0); val s2 = side(x1, y0)
      val s3 = side(x0, y1); val s4 = side(x1, y1)
      !((s1 > 0 && s2 > 0 && s3 > 0 && s4 > 0) ||
        (s1 < 0 && s2 < 0 && s3 < 0 && s4 < 0))
    }
    !rings(graft.geom.Wkb.read(wkb)).exists { ring =>
      var i = 0
      var hit = false
      while (i + 3 < ring.length && !hit) {
        hit = segIntersectsRect(ring(i), ring(i + 1), ring(i + 2), ring(i + 3))
        i += 2
      }
      hit
    }
  }

  /** Output-driven warp between tile grids (gdalwarp architecture,
    * /root/reference/alg/gdalwarpoperation.cpp:103-144: chunk destination,
    * compute source window, inverse-map each dst pixel, apply kernel).
    * Spark shape: each SRC tile is shipped to every dst tile whose
    * source window overlaps it (replication factor ≈ (1/s)² + halo — cheap
    * for down/up-scales near 1), one shuffle groups each dst tile with its
    * source window, then per-tile inverse mapping + kernel.
    *
    * Kernels: the full GDALResampleAlg set — point kernels "near",
    * "bilinear", "cubic" (Keys convolution, gdalwarpkernel.cpp:3220),
    * "cubicspline" (B-spline, weight-sum-normalized), "lanczos" (sinc·sinc/3,
    * radius 3, weight-sum-normalized); area kernels "average"/"sum"/"rms"
    * (coverage-weighted, GWKAverageOrMode COMPUTE_WEIGHT semantics),
    * "min"/"max" (unweighted), "med"/"q1"/"q3" (sorted, idx=ceil(q·n−1),
    * gdalwarpkernel.cpp:8337), "mode" (weighted counts, first-encounter tie,
    * GWKTS_First). Out-of-source / no-valid-contributor pixels → 0
    * (nodata), matching the oracle convention. */
  def warpAffine(src: Dataset[Tile], dstZ: Int, nDstX: Int, nDstY: Int,
                 aff: WarpAffine, kernel: String,
                 srcW: Long, srcH: Long, tileSize: Int = TileSize): Dataset[Tile] = {
    val spark = src.sparkSession
    import spark.implicits._
    warpAffineMulti(src, dstZ, nDstX, nDstY, aff, Seq(kernel), srcW, srcH, tileSize)
      .map(_._2)
  }

  /** N kernels over ONE source shuffle (same batching rationale as
    * focal3x3Multi: at scale the src-tile replication shuffle dominates, so
    * kernels share it). Output key = kernel index. */
  def warpAffineMulti(src: Dataset[Tile], dstZ: Int, nDstX: Int, nDstY: Int,
                 aff: WarpAffine, kernels: Seq[String],
                 srcW: Long, srcH: Long, tileSize: Int = TileSize): Dataset[(Int, Tile)] = {
    val spark = src.sparkSession
    import spark.implicits._
    val ts = tileSize
    kernels.foreach(k => require(pointKernels.contains(k) || areaKernels.contains(k) ||
      k == "gauss", s"kernel $k"))
    val rad = kernels.map(k => math.max(kernelRadius(k, aff.sx), kernelRadius(k, aff.sy))).max

    // dst tile → src pixel window → src tile range (with kernel-radius halo)
    def srcTileRange(dx: Int, dy: Int): (Int, Int, Int, Int) = {
      def sx(d: Double) = (d + 0.5) * aff.sx + aff.tx - 0.5
      def sy(d: Double) = (d + 0.5) * aff.sy + aff.ty - 0.5
      val xs = Seq(sx(dx.toLong * ts), sx(dx.toLong * ts + ts - 1))
      val ys = Seq(sy(dy.toLong * ts), sy(dy.toLong * ts + ts - 1))
      ((math.floor(xs.min - rad).toLong / ts).toInt, (math.floor(ys.min - rad).toLong / ts).toInt,
       (math.floor(xs.max + rad).toLong / ts).toInt, (math.floor(ys.max + rad).toLong / ts).toInt)
    }

    val contrib = src.flatMap { t =>
      // forward-map this src tile's pixel bbox (+kernel halo) into dst
      // pixel space, emit to the covered dst tiles — O(replication), not
      // O(nDstTiles), so the plan survives arbitrarily large grids
      def dstPxX(sp: Double) = (sp + 0.5 - aff.tx) / aff.sx - 0.5
      def dstPxY(sp: Double) = (sp + 0.5 - aff.ty) / aff.sy - 0.5
      val xs = Seq(dstPxX(t.x.toLong * ts - rad - 1), dstPxX(t.x.toLong * ts + ts + rad))
      val ys = Seq(dstPxY(t.y.toLong * ts - rad - 1), dstPxY(t.y.toLong * ts + ts + rad))
      val dx0 = math.max(0, (math.floor(xs.min) / ts).toInt)
      val dx1 = math.min(nDstX - 1, (math.floor(xs.max) / ts).toInt)
      val dy0 = math.max(0, (math.floor(ys.min) / ts).toInt)
      val dy1 = math.min(nDstY - 1, (math.floor(ys.max) / ts).toInt)
      for {
        dy <- dy0 to dy1
        dx <- dx0 to dx1
        // exact membership check via the dst tile's own source window
        (x0, y0, x1, y1) = srcTileRange(dx, dy)
        if t.x >= x0 && t.x <= x1 && t.y >= y0 && t.y <= y1
      } yield (dx, dy, t)
    }
    Gather.window(contrib, nDstX, nDstY, ts, srcW, srcH) { win =>
      import win.{band, dx, dy, pix}
      // point-kernel separable resample: rows convolved with wx then wy
      // (exact operation order of the reference's CONVOL4 — left-assoc
      // dot products — so an SQL twin writing the same expression is
      // bit-identical)
      def convolve(sxp: Double, syp: Double, wOf: Double => Array[Double],
                   halfWidth: Int, normalize: Boolean): Double = {
        val bx = math.floor(sxp); val by = math.floor(syp)
        val fx = sxp - bx; val fy = syp - by
        val wx = wOf(fx); val wy = wOf(fy)
        val n = 2 * halfWidth
        var acc = 0.0; var wsum = 0.0
        var j = 0
        var bad = false
        while (j < n && !bad) {
          var rowAcc = 0.0; var i = 0
          while (i < n && !bad) {
            val v = pix(bx.toLong + i - (halfWidth - 1), by.toLong + j - (halfWidth - 1))
            if (java.lang.Double.isNaN(v)) bad = true
            else rowAcc += wx(i) * v
            i += 1
          }
          acc += wy(j) * rowAcc
          j += 1
        }
        if (bad) Double.NaN
        else if (normalize) {
          var i = 0
          var sx0 = 0.0; var sy0 = 0.0
          while (i < n) { sx0 += wx(i); sy0 += wy(i); i += 1 }
          wsum = sx0 * sy0
          if (wsum == 0.0) Double.NaN else acc / wsum
        } else acc
      }

      // GWKResample mask semantics for the convolution kernels
      // (alg/gdalwarpkernel.cpp:4027-4180): in-source nodata pixels drop
      // from both accumulators and the result renormalizes by the
      // surviving weight unless it is within 1e-5 of 1; surviving weight
      // < 1e-6 -> dstnodata. Windows crossing the SOURCE EDGE keep the
      // engine's out-of-source -> 0 convention (GDAL's no-mask kernels;
      // the masks-enabled reference path renormalizes there too --
      // documented deviation, bilinear implements that variant).
      def convolveMasked(sxp: Double, syp: Double, wOf: Double => Array[Double],
                         halfWidth: Int): Double = {
        val bx = math.floor(sxp); val by = math.floor(syp)
        val x0 = bx.toLong - (halfWidth - 1); val y0 = by.toLong - (halfWidth - 1)
        if (x0 < 0 || y0 < 0 || bx.toLong + halfWidth >= srcW ||
            by.toLong + halfWidth >= srcH) return 0.0
        val fx = sxp - bx; val fy = syp - by
        val wx = wOf(fx); val wy = wOf(fy)
        val n = 2 * halfWidth
        var acc = 0.0; var wsum = 0.0
        var j = 0
        while (j < n) {
          var rowAcc = 0.0; var rowW = 0.0
          var i = 0
          while (i < n) {
            val v = pix(x0 + i, y0 + j)
            if (!java.lang.Double.isNaN(v)) { rowAcc += wx(i) * v; rowW += wx(i) }
            i += 1
          }
          acc += wy(j) * rowAcc
          wsum += wy(j) * rowW
          j += 1
        }
        if (wsum < 0.000001) 0.0
        else if (wsum < 0.99999 || wsum > 1.00001) acc / wsum
        else acc
      }

      val eps = 1e-10
      val outs = Array.fill(kernels.length)(new Array[Double](ts * ts))
      val vbuf = new scala.collection.mutable.ArrayBuffer[Double](64)
      // pixel-outer loop: point kernels computed individually, area
      // kernels share ONE footprint-rect scan per pixel (two accumulator
      // chains — plain and squared — so each kernel's value is
      // bit-identical to the single-kernel path)
      val areaIdxs = kernels.indices.filter(i => areaKernels.contains(kernels(i))).toArray
      val pointIdxs = kernels.indices.filter(i => pointKernels.contains(kernels(i))).toArray
      val gaussIdxs = kernels.indices.filter(i => kernels(i) == "gauss").toArray
      val gaussDim = gaussDimFor(aff.sy)
      val gaussW = gaussMatrixFor(gaussDim)
      val needSorted = areaIdxs.exists(i => kernels(i) == "med" || kernels(i) == "q1" || kernels(i) == "q3")
      val needMode = areaIdxs.exists(i => kernels(i) == "mode")
      var modeVals: Array[Double] = null
      var modeCounts: Array[Double] = null
      var yy = 0
      while (yy < ts) {
        val gyD = dy.toLong * ts + yy
        val syp = (gyD + 0.5) * aff.sy + aff.ty - 0.5
        var xx = 0
        while (xx < ts) {
          val gxD = dx.toLong * ts + xx
          val sxp = (gxD + 0.5) * aff.sx + aff.tx - 0.5
          val pidx = yy * ts + xx
          var pi2 = 0
          while (pi2 < pointIdxs.length) {
            val ki = pointIdxs(pi2)
            val v: Double = kernels(ki) match {
              case "near" =>
                val v0 = pix(math.floor(sxp + 0.5).toLong, math.floor(syp + 0.5).toLong)
                if (java.lang.Double.isNaN(v0)) 0.0 else v0
              case "bilinear" =>
                val x0 = math.floor(sxp); val y0 = math.floor(syp)
                val wx = sxp - x0; val wy = syp - y0
                val v00 = pix(x0.toLong, y0.toLong); val v10 = pix(x0.toLong + 1, y0.toLong)
                val v01 = pix(x0.toLong, y0.toLong + 1); val v11 = pix(x0.toLong + 1, y0.toLong + 1)
                val anyNaN = java.lang.Double.isNaN(v00) || java.lang.Double.isNaN(v10) ||
                  java.lang.Double.isNaN(v01) || java.lang.Double.isNaN(v11)
                if (!anyNaN)
                  (1.0 - wy) * ((1.0 - wx) * v00 + wx * v10) +
                    wy * ((1.0 - wx) * v01 + wx * v11)
                else {
                  // mask-aware path (GWKBilinearResample4Sample,
                  // alg/gdalwarpkernel.cpp:2952-3030): accumulate valid
                  // samples UL,UR,LL,LR with their weights, renormalize
                  // by the valid-weight divisor; all-invalid -> nodata 0
                  var acc = 0.0; var div = 0.0
                  if (!java.lang.Double.isNaN(v00)) {
                    val m = (1.0 - wx) * (1.0 - wy); acc += v00 * m; div += m
                  }
                  if (!java.lang.Double.isNaN(v10)) {
                    val m = wx * (1.0 - wy); acc += v10 * m; div += m
                  }
                  if (!java.lang.Double.isNaN(v01)) {
                    val m = (1.0 - wx) * wy; acc += v01 * m; div += m
                  }
                  if (!java.lang.Double.isNaN(v11)) {
                    val m = wx * wy; acc += v11 * m; div += m
                  }
                  if (div == 1.0) acc
                  else if (div < 0.00001) 0.0
                  else acc / div
                }
              case "cubic" =>
                val r = convolve(sxp, syp, cubicWeights, 2, normalize = false)
                if (java.lang.Double.isNaN(r)) convolveMasked(sxp, syp, cubicWeights, 2) else r
              case "cubicspline" =>
                val wOf = (f: Double) =>
                  Array(bspline(f + 1.0), bspline(f), bspline(f - 1.0), bspline(f - 2.0))
                val r = convolve(sxp, syp, wOf, 2, normalize = true)
                if (java.lang.Double.isNaN(r)) convolveMasked(sxp, syp, wOf, 2) else r
              case "lanczos" =>
                val wOf = (f: Double) =>
                  Array(lanczosSinc(f + 2.0), lanczosSinc(f + 1.0), lanczosSinc(f),
                    lanczosSinc(f - 1.0), lanczosSinc(f - 2.0), lanczosSinc(f - 3.0))
                val r = convolve(sxp, syp, wOf, 3, normalize = true)
                if (java.lang.Double.isNaN(r)) convolveMasked(sxp, syp, wOf, 3) else r
            }
            outs(ki)(pidx) = v
            pi2 += 1
          }
          if (gaussIdxs.nonEmpty) {
            // GAUSS window (overview.cpp:2100-2160): the dst pixel's base
            // source footprint [int(0.5+left), int(0.5+right)+1) recentred
            // to the matrix dim, truncated at the source edges with the
            // matrix index shifted when the window clips at 0. Weighted
            // mean over valid pixels, weight-count normalized; no valid
            // contributor → nodata (0). Whole-image processing, so the
            // reference's chunk pre-clamp branch never fires (documented:
            // synthetic gates use non-negative footprints).
            def gWindow(d0: Double, d1: Double, srcN: Long): (Int, Int, Int) = {
              var off = (0.5 + d0).toInt
              val off2base = (0.5 + d1).toInt + 1
              val size = off2base - off
              off = off + size / 2 - gaussDim / 2
              val off2 = math.min(srcN, off.toLong + gaussDim).toInt
              var shift = 0
              if (off < 0) { shift = -off; off = 0 }
              (off, off2, shift)
            }
            val (gx0, gx1, shx) = gWindow(gxD * aff.sx + aff.tx, (gxD + 1) * aff.sx + aff.tx, srcW)
            val (gy0, gy1, shy) = gWindow(gyD * aff.sy + aff.ty, (gyD + 1) * aff.sy + aff.ty, srcH)
            var tot = 0.0; var cnt = 0.0
            var iy = gy0
            while (iy < gy1) {
              var ix = gx0
              while (ix < gx1) {
                val v = pix(ix.toLong, iy.toLong)
                if (!java.lang.Double.isNaN(v)) {
                  val w0 = gaussW((shy + iy - gy0) * gaussDim + (shx + ix - gx0))
                  tot += v * w0; cnt += w0
                }
                ix += 1
              }
              iy += 1
            }
            val res = if (cnt == 0.0) 0.0 else tot / cnt
            var gi = 0
            while (gi < gaussIdxs.length) { outs(gaussIdxs(gi))(pidx) = res; gi += 1 }
          }
          if (areaIdxs.nonEmpty) {
            // area footprint rect (GWKAverageOrModeComputeSourceCoords,
            // gdalwarpkernel.cpp:6990: edge transform e·s+t,
            // EPSILON=1e-10 floor/ceil, degenerate rects widened by one)
            val xMin = gxD * aff.sx + aff.tx; val xMax = (gxD + 1) * aff.sx + aff.tx
            val yMin = gyD * aff.sy + aff.ty; val yMax = (gyD + 1) * aff.sy + aff.ty
            val (dfXMin, dfXMax) = if (xMin <= xMax) (xMin, xMax) else (xMax, xMin)
            val (dfYMin, dfYMax) = if (yMin <= yMax) (yMin, yMax) else (yMax, yMin)
            if (!(dfXMax > -eps && dfXMin < srcW + eps) ||
                !(dfYMax > -eps && dfYMin < srcH + eps)) {
              var ai = 0
              while (ai < areaIdxs.length) { outs(areaIdxs(ai))(pidx) = 0.0; ai += 1 }
            } else {
              var iXMin = math.max(math.floor(dfXMin + eps), 0.0).toInt
              var iXMax = math.min(math.ceil(dfXMax - eps), srcW.toDouble).toInt
              if (iXMin == iXMax && iXMax < srcW) iXMax += 1
              var iYMin = math.max(math.floor(dfYMin + eps), 0.0).toInt
              var iYMax = math.min(math.ceil(dfYMax - eps), srcH.toDouble).toInt
              if (iYMin == iYMax && iYMax < srcH) iYMax += 1
              def weightY(iy: Int): Double =
                if (iy == iYMin) { if (iYMin + 1 == iYMax) 1.0 else 1.0 - (dfYMin - iYMin) }
                else if (iy + 1 == iYMax) 1.0 - (iYMax - dfYMax)
                else 1.0
              def weightX(ix: Int, wy: Double): Double =
                if (ix == iXMin) { if (iXMin + 1 == iXMax) wy else wy * (1.0 - (dfXMin - iXMin)) }
                else if (ix + 1 == iXMax) wy * (1.0 - (iXMax - dfXMax))
                else wy
              var totP = 0.0; var totS = 0.0; var totW = 0.0
              var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
              var any = false
              vbuf.clear()
              var nBins = 0; var iMode = -1
              if (needMode && modeVals == null) {
                modeVals = new Array[Double](64); modeCounts = new Array[Double](64)
              }
              var iy = iYMin
              while (iy < iYMax) {
                val wy0 = weightY(iy)
                var ix = iXMin
                while (ix < iXMax) {
                  val pv = pix(ix.toLong, iy.toLong)
                  if (!java.lang.Double.isNaN(pv)) {
                    any = true
                    val w = weightX(ix, wy0)
                    totP += w * pv
                    totS += w * (pv * pv)
                    totW += w
                    if (pv < mn) mn = pv
                    if (pv > mx) mx = pv
                    if (needSorted) vbuf += pv
                    if (needMode) {
                      var i = 0; var found = false
                      while (i < nBins && !found) {
                        if (modeVals(i) == pv) {
                          modeCounts(i) += w
                          if (modeCounts(i) > modeCounts(iMode)) iMode = i
                          found = true
                        }
                        i += 1
                      }
                      if (!found) {
                        if (nBins == modeVals.length) {
                          modeVals = java.util.Arrays.copyOf(modeVals, nBins * 2)
                          modeCounts = java.util.Arrays.copyOf(modeCounts, nBins * 2)
                        }
                        modeVals(nBins) = pv; modeCounts(nBins) = w
                        if (iMode < 0 || modeCounts(nBins) > modeCounts(iMode)) iMode = nBins
                        nBins += 1
                      }
                    }
                  }
                  ix += 1
                }
                iy += 1
              }
              var sortedArr: Array[Double] = null
              if (needSorted && any) {
                sortedArr = vbuf.toArray
                java.util.Arrays.sort(sortedArr)
              }
              var ai = 0
              while (ai < areaIdxs.length) {
                val ki = areaIdxs(ai)
                outs(ki)(pidx) =
                  if (!any) 0.0
                  else kernels(ki) match {
                    case "average" => totP / totW
                    case "sum"     => totP
                    case "rms"     => math.sqrt(totS / totW)
                    case "min"     => mn
                    case "max"     => mx
                    case "mode"    => modeVals(iMode)
                    case q =>
                      val quant = if (q == "med") 0.5 else if (q == "q1") 0.25 else 0.75
                      sortedArr(math.ceil(quant * sortedArr.length - 1).toInt)
                  }
                ai += 1
              }
            }
          }
          xx += 1
        }
        yy += 1
      }
      outs.iterator.zipWithIndex.map { case (o, i) =>
        (i, Tile(dstZ, dx, dy, band, ts, ts, o))
      }
    }
  }

  /** Warp under an ARBITRARY dst→src pixel transform (GCP polynomial, TPS,
    * or any smooth mapping) — the non-affine half of gdalwarp's transformer
    * stack (GDALCreateGCPTransformer / GDALCreateTPSTransformer,
    * /root/reference/alg/gdaltransformer.cpp:96-160).
    *
    * `toSrc` maps dst pixel-index coords (integer = pixel center) to src
    * pixel-index coords; it must be a pure serializable function of small
    * driver-fitted state (a PolyModel / TpsModel closure).
    *
    * Spark shape: with no closed-form inverse, the source window of each
    * dst tile is found by SAMPLING the transform on a 9×9 grid over the
    * tile (the GDALSuggestedWarpOutput2 edge-walk idea,
    * gdaltransformer.cpp:96-160) padded by the kernel radius + a safety
    * margin. Each dst tile emits (srcTile → dstTile) need-rows computed
    * distributively — nothing driver-side, replication ∝ window area in
    * tiles — then one shuffle joins src tiles to the dst tiles that need
    * them and a per-dst-tile pixel loop applies the kernel. Same
    * out-of-source → 0 convention as warpAffine. */
  def warpTransformed(src: Dataset[Tile], dstZ: Int, nDstX: Int, nDstY: Int,
                      toSrc: (Double, Double) => (Double, Double),
                      kernel: String, srcW: Long, srcH: Long,
                      tileSize: Int = TileSize): Dataset[Tile] = {
    val spark = src.sparkSession
    import spark.implicits._
    val ts = tileSize
    require(Set("near", "bilinear", "cubic").contains(kernel), s"kernel $kernel")
    val rad = if (kernel == "cubic") 2 else 1
    val margin = rad + 4.0 // sampling slack: curvature between grid samples
    val nSrcTX = ((srcW + ts - 1) / ts).toInt
    val nSrcTY = ((srcH + ts - 1) / ts).toInt

    // (srcTileX, srcTileY, dstTileX, dstTileY) need-rows, executor-side
    val needs = spark.range(0, nDstX.toLong * nDstY, 1, math.min(nDstX * nDstY, 64))
      .flatMap { id =>
        val dx = (id % nDstX).toInt; val dy = (id / nDstX).toInt
        var xMin = Double.MaxValue; var xMax = Double.MinValue
        var yMin = Double.MaxValue; var yMax = Double.MinValue
        var j = 0
        while (j <= 8) {
          var i = 0
          while (i <= 8) {
            val (sx, sy) = toSrc(dx.toLong * ts + i * (ts - 1) / 8.0,
                                 dy.toLong * ts + j * (ts - 1) / 8.0)
            if (sx < xMin) xMin = sx; if (sx > xMax) xMax = sx
            if (sy < yMin) yMin = sy; if (sy > yMax) yMax = sy
            i += 1
          }
          j += 1
        }
        val tx0 = math.max(0, (math.floor(xMin - margin) / ts).toInt)
        val tx1 = math.min(nSrcTX - 1, (math.floor(xMax + margin) / ts).toInt)
        val ty0 = math.max(0, (math.floor(yMin - margin) / ts).toInt)
        val ty1 = math.min(nSrcTY - 1, (math.floor(yMax + margin) / ts).toInt)
        for (sty <- ty0 to ty1; stx <- tx0 to tx1) yield (stx, sty, dx, dy)
      }

    val contrib = needs
      .joinWith(src, needs("_1") === src("x") && needs("_2") === src("y"))
      .map { case ((_, _, dx, dy), t) => (dx, dy, t) }
    Gather.window(contrib, nDstX, nDstY, ts, srcW, srcH) { win =>
      import win.{band, dx, dy, pix}
      val out = new Array[Double](ts * ts)
      var yy = 0
      while (yy < ts) {
        var xx = 0
        while (xx < ts) {
          val (sxp, syp) = toSrc(dx.toLong * ts + xx, dy.toLong * ts + yy)
          val v: Double = kernel match {
            case "near" =>
              val v0 = pix(math.floor(sxp + 0.5).toLong, math.floor(syp + 0.5).toLong)
              if (java.lang.Double.isNaN(v0)) 0.0 else v0
            case "bilinear" =>
              val x0 = math.floor(sxp); val y0 = math.floor(syp)
              val wx = sxp - x0; val wy = syp - y0
              val v00 = pix(x0.toLong, y0.toLong); val v10 = pix(x0.toLong + 1, y0.toLong)
              val v01 = pix(x0.toLong, y0.toLong + 1); val v11 = pix(x0.toLong + 1, y0.toLong + 1)
              if (java.lang.Double.isNaN(v00) || java.lang.Double.isNaN(v10) ||
                  java.lang.Double.isNaN(v01) || java.lang.Double.isNaN(v11)) 0.0
              else (1.0 - wy) * ((1.0 - wx) * v00 + wx * v10) +
                wy * ((1.0 - wx) * v01 + wx * v11)
            case _ => // cubic (Keys), same CONVOL4 order as warpAffine
              val bx = math.floor(sxp); val by = math.floor(syp)
              val wxs = cubicWeights(sxp - bx); val wys = cubicWeights(syp - by)
              var acc = 0.0; var j2 = 0; var bad = false
              while (j2 < 4 && !bad) {
                var rowAcc = 0.0; var i2 = 0
                while (i2 < 4 && !bad) {
                  val pv = pix(bx.toLong + i2 - 1, by.toLong + j2 - 1)
                  if (java.lang.Double.isNaN(pv)) bad = true
                  else rowAcc += wxs(i2) * pv
                  i2 += 1
                }
                acc += wys(j2) * rowAcc
                j2 += 1
              }
              if (bad) 0.0 else acc
          }
          out(yy * ts + xx) = v
          xx += 1
        }
        yy += 1
      }
      Iterator.single(Tile(dstZ, dx, dy, band, ts, ts, out))
    }
  }

  /** gdaldem color-relief (reference: GDALColorReliefGetRGBA,
    * /root/reference/apps/gdaldem_lib.cpp:1740-1800, interpolation mode):
    * per-pixel linear interpolation between sorted (value → r,g,b) stops,
    * channel = clamp(int(0.5 + lo + ratio·(hi − lo)), 0, 255); values
    * below the first / above the last stop take the boundary color.
    * Narrow map per band — no shuffle. */
  def colorRelief(tiles: Dataset[Tile], stops: Seq[(Double, Int, Int, Int)]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val sorted = stops.sortBy(_._1).toArray
    tiles.flatMap { t =>
      val n = t.pixels.length
      val outs = Array.fill(3)(new Array[Double](n))
      var i = 0
      while (i < n) {
        val v = t.pixels(i)
        var hi = 0
        while (hi < sorted.length && sorted(hi)._1 < v) hi += 1
        val (r, g, b) =
          if (hi == 0) (sorted(0)._2, sorted(0)._3, sorted(0)._4)
          else if (hi >= sorted.length) {
            val l = sorted(sorted.length - 1); (l._2, l._3, l._4)
          } else {
            val lo = sorted(hi - 1); val h = sorted(hi)
            val ratio = (v - lo._1) / (h._1 - lo._1)
            def interp(a: Int, b0: Int): Int =
              math.min(255, math.max(0, (0.5 + a + ratio * (b0 - a)).toInt))
            (interp(lo._2, h._2), interp(lo._3, h._3), interp(lo._4, h._4))
          }
        outs(0)(i) = r; outs(1)(i) = g; outs(2)(i) = b
        i += 1
      }
      (0 until 3).iterator.map(bi => Tile(t.z, t.x, t.y, bi + 1, t.w, t.h, outs(bi)))
    }
  }

  /** Weighted-Brovey pansharpening (reference: GDALPansharpenOperation::
    * WeightedBrovey3, /root/reference/alg/gdalpansharpen.cpp:592-630):
    * pseudo-pan = Σ wᵢ·spectralᵢ, factor = pan/pseudo (0 when pseudo = 0),
    * outᵢ = spectralᵢ·factor. Spectral bands must be on the pan grid
    * (upsample with warpAffine first — GDAL does the same internally).
    * Spark shape: the shared tile stack ([[Gather.stack]], pan first),
    * ONE shuffle groups each (z,x,y) cell, per-tile arithmetic; output
    * band i = sharpened spectral i. */
  def pansharpen(pan: Dataset[Tile], spectral: Seq[Dataset[Tile]],
                 weights: Seq[Double]): Dataset[Tile] = {
    val spark = pan.sparkSession
    import spark.implicits._
    require(spectral.nonEmpty && spectral.length == weights.length)
    val w = weights.toArray
    val nSp = spectral.length
    Gather.stack(pan +: spectral) { (z, x, y, tw, th, byBand) =>
      val n = tw * th
      val outs = Array.fill(nSp)(new Array[Double](n))
      var j = 0
      while (j < n) {
        var pseudo = 0.0
        var i = 0
        while (i < nSp) { pseudo += w(i) * byBand(i + 1)(j); i += 1 }
        val factor = if (pseudo == 0.0) 0.0 else byBand(0)(j) / pseudo
        i = 0
        while (i < nSp) { outs(i)(j) = byBand(i + 1)(j) * factor; i += 1 }
        j += 1
      }
      outs.iterator.zipWithIndex.map { case (px, i) =>
        Tile(z, x, y, i + 1, tw, th, px)
      }
    }
  }

  /** `gdal raster as-features`: tiles → one row per pixel with global
    * coordinates and value (gdalalg_raster_as_features.cpp; the raster →
    * point-feature bridge). Narrow flatMap — no shuffle; downstream callers
    * filter/aggregate before anything wide. `skipNodata` drops NaN pixels
    * (the alg's -skip-nodata flag). */
  def asFeatures(tiles: Dataset[Tile], skipNodata: Boolean = false): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      val base = (0 until t.w * t.h).iterator.map { i =>
        (t.z, t.band, t.x.toLong * t.w + i % t.w, t.y.toLong * t.h + i / t.w,
          t.pixels(i))
      }
      if (skipNodata) base.filter(r => !java.lang.Double.isNaN(r._5)) else base
    }.toDF("z", "band", "gx", "gy", "v")
  }

  /** Exact port of GDALChecksumImage for one tile's pixel window
    * (/root/reference/alg/gdalchecksum.cpp:36-57,175-188):
    * primes {7,...,43}; value += int(v) % prime[(y*W+x) % 11]; accumulator
    * masked with 0xffff after each ROW. Float conversion: +0.5, clamp to
    * ±2147483647, floor; non-finite → INT_MIN. isFloat=false takes values
    * as exact ints (integer-typed band path). */
  def checksum(pixels: Array[Double], w: Int, h: Int, isFloat: Boolean = true): Int = {
    val primes = Array(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43)
    var cks = 0
    var y = 0
    while (y < h) {
      var iPrime = (y.toLong * w % 11).toInt
      var x = 0
      while (x < w) {
        val d = pixels(y * w + x)
        val v: Int =
          if (isFloat) {
            if (!java.lang.Double.isFinite(d)) Int.MinValue
            else {
              val s = d + 0.5
              if (s < -2147483647.0) -2147483647
              else if (s > 2147483647.0) 2147483647
              else math.floor(s).toInt
            }
          } else d.toInt
        cks += v % primes(iPrime)
        iPrime += 1
        if (iPrime > 10) iPrime = 0
        x += 1
      }
      cks &= 0xffff
      y += 1
    }
    cks
  }

}
