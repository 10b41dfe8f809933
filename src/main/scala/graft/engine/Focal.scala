package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed 3×3 focal (neighborhood) raster ops over Dataset[Tile] with
  * halo exchange — the cross-tile-border machinery for DEM analysis and
  * focal filters (SURVEY.md §2.G).
  *
  * Reference: gdaldem slope/aspect/hillshade 3×3 windows
  * (/root/reference/apps/gdaldem_lib.cpp:1184-1517) and the neighbors
  * focal-convolution step (/root/reference/apps/gdalalg_raster_neighbors.cpp:207-253).
  * GDAL streams scanlines with a 1-row lookahead; the Spark-native shape is
  * the shared halo exchange ([[Gather.halo]]): every tile contributes its
  * border strips to its 8 neighbors, one shuffle groups each tile with its
  * halo, then the window op runs per-tile on the padded frame. Pixels whose 3×3 window reaches
  * outside the dataset (global border / missing neighbor) yield `nodataOut`
  * — the reference writes the src nodata there too.
  */
object Focal {

  /** Apply a 3×3 window function to every pixel. `f` receives the window
    * as a row-major 9-array (a b c / d e f / g h i). */
  def focal3x3(tiles: Dataset[Tile], f: Array[Double] => Double,
               nodataOut: Double = 0.0): Dataset[Tile] = {
    val spark0 = tiles.sparkSession
    import spark0.implicits._
    focal3x3Multi(tiles, Seq(f), nodataOut).map(_._2)
  }

  /** N window kernels over ONE halo exchange: the shuffle ships each border
    * strip once however many kernels consume it (gdaldem computes one
    * derivative per pass; at 100 TB the halo shuffle dominates, so batching
    * kernels is the Spark-native win). Output key = kernel index. Input must
    * be single-band; the Tile.band field carries the input band through. */
  def focal3x3Multi(tiles: Dataset[Tile], fns: Seq[Array[Double] => Double],
                    nodataOut: Double = 0.0): Dataset[(Int, Tile)] =
    focalMulti(tiles, fns, 3, nodataOut)

  /** General odd NxN windows (gdalalg_raster_neighbors `size` 3..99,
    * reference :209): halo strips widen to (size-1)/2 pixels — shuffle
    * volume ~(1 + 2·hw/tileSize)², still far below whole-tile replication. */
  def focalMulti(tiles: Dataset[Tile], fns: Seq[Array[Double] => Double],
                 size: Int, nodataOut: Double = 0.0): Dataset[(Int, Tile)] = {
    require(size >= 3 && size % 2 == 1, s"odd size >= 3, got $size")
    val hw = (size - 1) / 2
    val spark = tiles.sparkSession
    import spark.implicits._
    Gather.halo(tiles, hw, hw, hw, hw) { halo =>
      val w = halo.w; val h = halo.h
      val pw = w + 2 * hw
      val pad = halo.padded
      val outs = Array.fill(fns.length)(new Array[Double](w * h))
      val win = new Array[Double](size * size)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          var ok = true
          var k = 0
          var wy = 0
          while (wy < size) {
            var wx = 0
            while (wx < size) {
              val v = pad((yy + wy) * pw + (xx + wx))
              if (java.lang.Double.isNaN(v)) ok = false
              win(k) = v
              k += 1
              wx += 1
            }
            wy += 1
          }
          var fi = 0
          while (fi < fns.length) {
            outs(fi)(yy * w + xx) = if (ok) fns(fi)(win) else nodataOut
            fi += 1
          }
          xx += 1
        }
        yy += 1
      }
      outs.iterator.zipWithIndex.map { case (out, fi) =>
        (fi, Tile(halo.z, halo.x, halo.y, halo.band, w, h, out))
      }
    }
  }

  /** Horn slope in degrees (gdaldem slope semantics, scale=1, z=1):
    * dx = ((a+2d+g) - (c+2f+i)) / 8, dy = ((a+2b+c) - (g+2h+i)) / 8,
    * slope = atan(sqrt(dx²+dy²)) in degrees. */
  def slopeWindow(w: Array[Double]): Double = {
    val dx = ((w(0) + 2.0 * w(3) + w(6)) - (w(2) + 2.0 * w(5) + w(8))) / 8.0
    val dy = ((w(0) + 2.0 * w(1) + w(2)) - (w(6) + 2.0 * w(7) + w(8))) / 8.0
    math.atan(math.sqrt(dx * dx + dy * dy)) * 180.0 / math.Pi
  }

  /** Hillshade (gdaldem hillshade, ZevenbergenThorne off, default
    * az=315 alt=45, scaled 1..255 with 0 reserved for nodata). */
  def hillshadeWindow(az: Double = 315.0, alt: Double = 45.0)(w: Array[Double]): Double = {
    val d2r = math.Pi / 180.0
    val dx = ((w(0) + 2.0 * w(3) + w(6)) - (w(2) + 2.0 * w(5) + w(8))) / 8.0
    val dy = ((w(0) + 2.0 * w(1) + w(2)) - (w(6) + 2.0 * w(7) + w(8))) / 8.0
    val slopeRad = math.atan(math.sqrt(dx * dx + dy * dy))
    val aspectRad = math.atan2(dy, -dx)
    val azRad = az * d2r; val altRad = alt * d2r
    val v = math.sin(altRad) * math.cos(slopeRad) +
      math.cos(altRad) * math.sin(slopeRad) * math.cos(azRad - math.Pi / 2.0 - aspectRad)
    1.0 + 254.0 * math.max(0.0, v)
  }

  /** Focal mean over the 3×3 window (gdalalg_raster_neighbors mean). */
  def meanWindow(w: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 9) { s += w(i); i += 1 }
    s / 9.0
  }

  /** Aspect as compass azimuth in degrees (gdaldem aspect defaults,
    * /root/reference/apps/gdaldem_lib.cpp:1441-1479): unweighted-corner
    * gradient dx=(c+2f+i)-(a+2d+g), dy=(g+2h+i)-(a+2b+c),
    * atan2(dy,-dx)→deg, then 90-a / 450-a azimuth fold; flat (dx=dy=0) →
    * `flat` nodata; 360 folds to 0. Double arithmetic (the reference runs
    * the window in float32; values agree to well below checksum rounding). */
  def aspectWindow(flat: Double = -9999.0)(w: Array[Double]): Double = {
    val dx = (w(2) + 2.0 * w(5) + w(8)) - (w(0) + 2.0 * w(3) + w(6))
    val dy = (w(6) + 2.0 * w(7) + w(8)) - (w(0) + 2.0 * w(1) + w(2))
    if (dx == 0.0 && dy == 0.0) flat
    else {
      val a = math.atan2(dy, -dx) * 180.0 / math.Pi
      val az = if (a > 90.0) 450.0 - a else 90.0 - a
      if (az == 360.0) 0.0 else az
    }
  }

  /** TPI: center minus mean of the 8 neighbors
    * (/root/reference/apps/gdaldem_lib.cpp:2352-2360). */
  def tpiWindow(w: Array[Double]): Double =
    w(4) - ((w(0) + w(1) + w(2) + w(3) + w(5) + w(6) + w(7) + w(8)) * 0.125)

  /** TRI, Riley et al. 1999 (gdaldem tri default, terrestrial):
    * sqrt of the sum of squared center-neighbor differences
    * (/root/reference/apps/gdaldem_lib.cpp:2330-2346). */
  def triRileyWindow(w: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 9) {
      if (i != 4) { val d = w(i) - w(4); s += d * d }
      i += 1
    }
    math.sqrt(s)
  }

  /** TRI, Wilson et al. 2007 (bathymetric): mean |center-neighbor|
    * (/root/reference/apps/gdaldem_lib.cpp:2316-2326). */
  def triWilsonWindow(w: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 9) {
      if (i != 4) s += math.abs(w(i) - w(4))
      i += 1
    }
    s * 0.125
  }

  /** Roughness: max-min over the window
    * (/root/reference/apps/gdaldem_lib.cpp:2366-2386). */
  def roughnessWindow(w: Array[Double]): Double = {
    var mn = w(0); var mx = w(0); var i = 1
    while (i < 9) {
      if (w(i) > mx) mx = w(i)
      if (w(i) < mn) mn = w(i)
      i += 1
    }
    mx - mn
  }

  // gdalalg_raster_neighbors methods (reference :207 SetChoices list):
  // mean/sum/min/max/stddev/median/mode over the window.

  def sumWindow(w: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < 9) { s += w(i); i += 1 }
    s
  }

  def minWindow(w: Array[Double]): Double = {
    var m = w(0); var i = 1
    while (i < 9) { if (w(i) < m) m = w(i); i += 1 }
    m
  }

  def maxWindow(w: Array[Double]): Double = {
    var m = w(0); var i = 1
    while (i < 9) { if (w(i) > m) m = w(i); i += 1 }
    m
  }

  /** Population stddev; the exact fold order (index 0..8, sums first) is
    * fixed so an SQL twin writing the same left-assoc expression is
    * bit-identical. */
  def stddevWindow(w: Array[Double]): Double = {
    var s = 0.0; var sq = 0.0; var i = 0
    while (i < 9) { s += w(i); i += 1 }
    i = 0
    while (i < 9) { sq += w(i) * w(i); i += 1 }
    val m = s / 9.0
    math.sqrt(sq / 9.0 - m * m)
  }

  /** Middle of the 9 sorted values. */
  def medianWindow(w: Array[Double]): Double = {
    val c = w.clone(); java.util.Arrays.sort(c); c(4)
  }

  /** Most frequent value; ties break to the smallest value (deterministic
    * for distributed runs; the reference's VRT-kernel mode is
    * iteration-order-dependent on ties). */
  def modeWindow(w: Array[Double]): Double = {
    val c = w.clone(); java.util.Arrays.sort(c)
    var best = c(0); var bestN = 1
    var cur = c(0); var curN = 1
    var i = 1
    while (i < 9) {
      if (c(i) == cur) curN += 1
      else { cur = c(i); curN = 1 }
      if (curN > bestN) { best = cur; bestN = curN }
      i += 1
    }
    best
  }

  // ---- gdaldem algorithm variants (-alg ZevenbergenThorne, -combined,
  // -multidirectional, -igor, slope -p). All assume the unit north-up grid
  // the gates use (ewres=1, nsres=-1, xscale=yscale=1, z configurable), so
  // the reference's inv_nsres sign flip is folded into the dy expressions.

  /** Horn gradient as the reference computes it pre-z-division
    * (/root/reference/apps/gdaldem_lib.cpp:783-796; x,y already include
    * the inv_ewres=1 / inv_nsres=-1 factors). */
  @inline private def hornX(w: Array[Double]): Double =
    (w(0) + 2.0 * w(3) + w(6)) - (w(2) + 2.0 * w(5) + w(8))
  @inline private def hornY(w: Array[Double]): Double =
    (w(0) + 2.0 * w(1) + w(2)) - (w(6) + 2.0 * w(7) + w(8))

  /** Zevenbergen–Thorne gradient (gdaldem_lib.cpp:798-806). */
  @inline private def ztX(w: Array[Double]): Double = w(3) - w(5)
  @inline private def ztY(w: Array[Double]): Double = w(1) - w(7)

  /** Slope as percent (gdaldem slope -p, gdaldem_lib.cpp:1365-1387):
    * 100/8 · √(dx²+dy²) on the Horn gradient. */
  def slopePercentWindow(w: Array[Double]): Double = {
    val x = hornX(w); val y = hornY(w)
    (100.0 / 8.0) * math.sqrt(x * x + y * y)
  }

  /** Zevenbergen–Thorne slope in degrees (gdaldem_lib.cpp:1390-1407):
    * gradient z-factor is /2, not Horn's /8. */
  def slopeZTWindow(w: Array[Double]): Double = {
    val x = ztX(w); val y = ztY(w)
    math.atan(math.sqrt(x * x + y * y) * 0.5) * 180.0 / math.Pi
  }

  /** Zevenbergen–Thorne aspect as azimuth (gdaldem_lib.cpp:1482-1516):
    * same fold as Horn aspect over the 2-point gradient. */
  def aspectZTWindow(flat: Double = -9999.0)(w: Array[Double]): Double = {
    val dx = w(5) - w(3)
    val dy = w(7) - w(1)
    if (dx == 0.0 && dy == 0.0) flat
    else {
      val a = math.atan2(dy, -dx) * 180.0 / math.Pi
      val az = if (a > 90.0) 450.0 - a else 90.0 - a
      if (az == 360.0) 0.0 else az
    }
  }

  /** Aspect in trigonometric convention (gdaldem aspect WITHOUT
    * -azimuth; gdaldem_lib.cpp:1466-1472 bAngleAsAzimuth=false): raw
    * atan2 degrees, negatives folded +360, 360 → 0, flat → nodata. */
  def aspectTrigWindow(flat: Double = -9999.0)(w: Array[Double]): Double = {
    val dx = (w(2) + 2.0 * w(5) + w(8)) - (w(0) + 2.0 * w(3) + w(6))
    val dy = (w(6) + 2.0 * w(7) + w(8)) - (w(0) + 2.0 * w(1) + w(2))
    if (dx == 0.0 && dy == 0.0) flat
    else {
      var a = math.atan2(dy, -dx) * 180.0 / math.Pi
      if (a < 0.0) a += 360.0
      if (a == 360.0) 0.0 else a
    }
  }

  /** Standard hillshade over either gradient, reference's rationalized
    * one-sqrt form (gdaldem_lib.cpp:1016-1039): cang = (sin α − (y·cos A −
    * x·sin A)·cos α·zf) / √(1 + zf²(x²+y²)), scaled to 1..255 with ≤0 → 1. */
  def hillshadeAlgWindow(az: Double = 315.0, alt: Double = 45.0, z: Double = 1.0,
                         zt: Boolean = false)(w: Array[Double]): Double = {
    val d2r = math.Pi / 180.0
    val zf = z / (if (zt) 2.0 else 8.0)
    val x = if (zt) ztX(w) else hornX(w)
    val y = if (zt) ztY(w) else hornY(w)
    val sinAlt = math.sin(alt * d2r); val cosAltZ = math.cos(alt * d2r) * zf
    val num = sinAlt - (y * math.cos(az * d2r) * cosAltZ - x * math.sin(az * d2r) * cosAltZ)
    val cang = num / math.sqrt(1.0 + zf * zf * (x * x + y * y))
    if (254.0 * cang <= 0.0) 1.0 else 1.0 + 254.0 * cang
  }

  /** Combined shading (gdaldem hillshade -combined,
    * gdaldem_lib.cpp:1153-1181): cang = 1 − acos(shade)·atan(√slope)·4/π². */
  def hillshadeCombinedWindow(az: Double = 315.0, alt: Double = 45.0, z: Double = 1.0,
                              zt: Boolean = false)(w: Array[Double]): Double = {
    val d2r = math.Pi / 180.0
    val zf = z / (if (zt) 2.0 else 8.0)
    val x = if (zt) ztX(w) else hornX(w)
    val y = if (zt) ztY(w) else hornY(w)
    val slope = (x * x + y * y) * zf * zf
    val sinAlt = math.sin(alt * d2r); val cosAltZ = math.cos(alt * d2r) * zf
    val num = sinAlt - (y * math.cos(az * d2r) * cosAltZ - x * math.sin(az * d2r) * cosAltZ)
    val arg = math.max(-1.0, math.min(1.0, num / math.sqrt(1.0 + slope)))
    val cang = 1.0 - math.acos(arg) * math.atan(math.sqrt(slope)) *
      (4.0 / (math.Pi * math.Pi))
    if (cang <= 0.0) 1.0 else 1.0 + 254.0 * cang
  }

  /** Multidirectional hillshade (USGS OF 92-422; gdaldem hillshade
    * -multidirectional, gdaldem_lib.cpp:1415-1478 weighting): four shades
    * at az 225/270/315/360 blended by sin²(aspect−az) weights. */
  def hillshadeMultiWindow(alt: Double = 45.0, z: Double = 1.0,
                           zt: Boolean = false)(w: Array[Double]): Double = {
    val d2r = math.Pi / 180.0
    val zf = z / (if (zt) 2.0 else 8.0)
    val x = if (zt) ztX(w) else hornX(w)
    val y = if (zt) ztY(w) else hornY(w)
    val sinAlt = math.sin(alt * d2r)
    val xxyy = x * x + y * y
    if (xxyy == 0.0) 1.0 + 254.0 * sinAlt
    else {
      val cosAltZ = math.cos(alt * d2r) * zf
      val c225 = math.cos(225.0 * d2r) * cosAltZ
      val v225 = math.max(0.0, sinAlt + (x - y) * c225)
      val v270 = math.max(0.0, sinAlt - x * cosAltZ)
      val v315 = math.max(0.0, sinAlt + (x + y) * c225)
      val v360 = math.max(0.0, sinAlt - y * cosAltZ)
      val w225 = 0.5 * xxyy - x * y
      val w270 = x * x
      val w315 = xxyy - w225
      val w360 = y * y
      1.0 + 127.0 * ((w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360) / xxyy) /
        math.sqrt(1.0 + zf * zf * xxyy)
    }
  }

  /** Igor's shading (gdaldem hillshade -igor, gdaldem_lib.cpp:947-1013):
    * shadowness = 1 − slopeStrength·aspectStrength on the Horn gradient,
    * scaled to 0..255 (flat ground = 255, no nodata reservation). */
  def hillshadeIgorWindow(az: Double = 315.0, z: Double = 1.0)(w: Array[Double]): Double = {
    val d2r = math.Pi / 180.0
    val x = hornX(w); val y = hornY(w)
    val slopeDeg = math.atan(math.sqrt(x * x + y * y) * (z / 8.0)) * 180.0 / math.Pi
    // reference aspect inputs: dx2 = -x, dy2 = -y (gdaldem_lib.cpp:983-996)
    val aspect = math.atan2(-y, x)
    val slopeStrength = slopeDeg / 90.0
    val target = math.Pi * 1.5 - az * d2r
    val twoPi = 2.0 * math.Pi
    def norm(a: Double): Double = { val m = a % twoPi; if (m < 0) m + twoPi else m }
    var diff = math.abs(norm(aspect) - norm(target))
    if (diff > math.Pi) diff = twoPi - diff
    val aspectStrength = 1.0 - diff / math.Pi
    255.0 * (1.0 - slopeStrength * aspectStrength)
  }

  def slope(tiles: Dataset[Tile]): Dataset[Tile] = focal3x3(tiles, slopeWindow)
  def hillshade(tiles: Dataset[Tile]): Dataset[Tile] = focal3x3(tiles, hillshadeWindow())
  def aspect(tiles: Dataset[Tile]): Dataset[Tile] = focal3x3(tiles, aspectWindow())
  def tpi(tiles: Dataset[Tile]): Dataset[Tile] = focal3x3(tiles, tpiWindow)
  def tri(tiles: Dataset[Tile], alg: String = "Riley"): Dataset[Tile] =
    focal3x3(tiles, if (alg == "Wilson") triWilsonWindow else triRileyWindow)
}
