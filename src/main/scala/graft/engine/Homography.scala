package graft.engine

/** Homography transformer (reference: alg/gdal_homography.cpp, GDAL 3.11's
  * projective alternative to the GCP polynomial transformer).
  *
  * Reference pipeline mirrored in [[fromGcps]] (GDALGCPsToHomography,
  * gdal_homography.cpp:141-330):
  *  - <4 GCPs falls back to the affine geotransform fit (line 144-151; here
  *    [[GcpTransform.fitPoly]] order 1, the same least squares);
  *  - pixel/line and geo ranges normalize both sides to [0,1] (degenerate
  *    extent in any dimension → error, EPSILON 1e-12);
  *  - the 8-dof DLT normal equations AtA (9×9 symmetric accumulation of
  *    Ax/Ay outer products) with the rank-fix row h[6]=1 (lines 230-268);
  *  - solve, reject |h6|<1e-15, check the unit square maps to a CONVEX
  *    quadrilateral via the cross12*cross23 sign test (lines 289-310);
  *  - compose pl_normalize ∘ h_normalized ∘ inv_geo_normalize (line 322-327).
  *
  * [[applyH]], [[compose]], [[invert]] are GDALApplyHomography /
  * GDALComposeHomographies / GDALInvHomography with the exact coefficient
  * order and the no-rotation fast path. Coefficient layout is GDAL's:
  * x' = (h0 + x*h1 + y*h2) / w, y' = (h3 + x*h4 + y*h5) / w,
  * w = h6 + x*h7 + y*h8. */
object Homography {

  /** GDALApplyHomography (gdal_homography.cpp:410-427); None when |w|<1e-15. */
  def applyH(h: Array[Double], x: Double, y: Double): Option[(Double, Double)] = {
    val w = h(6) + x * h(7) + y * h(8)
    if (math.abs(w) < 1.0e-15) None
    else Some(((h(0) + x * h(1) + y * h(2)) / w,
               (h(3) + x * h(4) + y * h(5)) / w))
  }

  /** GDALComposeHomographies (gdal_homography.cpp:349-375): h1 then h2. */
  def compose(h1: Array[Double], h2: Array[Double]): Array[Double] = {
    val o = new Array[Double](9)
    o(1) = h2(1) * h1(1) + h2(2) * h1(4) + h2(0) * h1(7)
    o(2) = h2(1) * h1(2) + h2(2) * h1(5) + h2(0) * h1(8)
    o(0) = h2(1) * h1(0) + h2(2) * h1(3) + h2(0) * h1(6)
    o(4) = h2(4) * h1(1) + h2(5) * h1(4) + h2(3) * h1(7)
    o(5) = h2(4) * h1(2) + h2(5) * h1(5) + h2(3) * h1(8)
    o(3) = h2(4) * h1(0) + h2(5) * h1(3) + h2(3) * h1(6)
    o(7) = h2(7) * h1(1) + h2(8) * h1(4) + h2(6) * h1(7)
    o(8) = h2(7) * h1(2) + h2(8) * h1(5) + h2(6) * h1(8)
    o(6) = h2(7) * h1(0) + h2(8) * h1(3) + h2(6) * h1(6)
    o
  }

  /** GDALInvHomography (gdal_homography.cpp:446-499). */
  def invert(h: Array[Double]): Option[Array[Double]] = {
    val o = new Array[Double](9)
    // no-rotation fast path
    if (h(2) == 0.0 && h(4) == 0.0 && h(1) != 0.0 && h(5) != 0.0 &&
        h(7) == 0.0 && h(8) == 0.0 && h(6) != 0.0) {
      o(0) = -h(0) / h(1) / h(6); o(1) = 1.0 / h(1); o(2) = 0.0
      o(3) = -h(3) / h(5) / h(6); o(4) = 0.0; o(5) = 1.0 / h(5)
      o(6) = 1.0 / h(6); o(7) = 0.0; o(8) = 0.0
      return Some(o)
    }
    val det = h(1) * h(5) * h(6) - h(2) * h(4) * h(6) +
              h(2) * h(3) * h(7) - h(0) * h(5) * h(7) +
              h(0) * h(4) * h(8) - h(1) * h(3) * h(8)
    val magnitude = math.max(math.max(math.abs(h(1)), math.abs(h(2))),
                             math.max(math.abs(h(4)), math.abs(h(5))))
    if (math.abs(det) <= 1e-10 * magnitude * magnitude) return None
    val inv = 1.0 / det
    o(1) = (h(5) * h(6) - h(3) * h(8)) * inv
    o(4) = (h(3) * h(7) - h(4) * h(6)) * inv
    o(7) = (h(4) * h(8) - h(5) * h(7)) * inv
    o(2) = (h(0) * h(8) - h(2) * h(6)) * inv
    o(5) = (h(1) * h(6) - h(0) * h(7)) * inv
    o(8) = (h(2) * h(7) - h(1) * h(8)) * inv
    o(0) = (h(2) * h(3) - h(0) * h(5)) * inv
    o(3) = (h(0) * h(4) - h(1) * h(3)) * inv
    o(6) = (h(1) * h(5) - h(2) * h(4)) * inv
    Some(o)
  }

  /** GDALGCPsToHomography: fit (pixel,line)→(geoX,geoY). Throws on the
    * reference's failure conditions. */
  def fromGcps(gcps: Seq[GcpTransform.Gcp]): Array[Double] = {
    require(gcps.nonEmpty, "no GCPs")
    if (gcps.size < 4) {
      // affine geotransform fallback (gdal_homography.cpp:144-151);
      // PolyModel's order-1 coefficients live in its normalized frame
      // ((v-v0)*s) — unpack to plain affine terms
      val m = GcpTransform.fitPoly(gcps, order = 1)
      val h = new Array[Double](9)
      h(0) = m.cx(0) - m.cx(1) * m.x0 * m.s - m.cx(2) * m.y0 * m.s
      h(1) = m.cx(1) * m.s; h(2) = m.cx(2) * m.s
      h(3) = m.cy(0) - m.cy(1) * m.x0 * m.s - m.cy(2) * m.y0 * m.s
      h(4) = m.cy(1) * m.s; h(5) = m.cy(2) * m.s
      h(6) = 1.0; h(7) = 0.0; h(8) = 0.0
      return h
    }
    val eps = 1.0e-12
    val minP = gcps.map(_.px).min; val maxP = gcps.map(_.px).max
    val minL = gcps.map(_.py).min; val maxL = gcps.map(_.py).max
    val minX = gcps.map(_.sx).min; val maxX = gcps.map(_.sx).max
    val minY = gcps.map(_.sy).min; val maxY = gcps.map(_.sy).max
    require(math.abs(maxP - minP) >= eps && math.abs(maxL - minL) >= eps &&
            math.abs(maxX - minX) >= eps && math.abs(maxY - minY) >= eps,
      "GCPs degenerate in at least one dimension")

    def norm(min0: Double, max0: Double, min1: Double, max1: Double): Array[Double] =
      Array(-min0 / (max0 - min0), 1.0 / (max0 - min0), 0.0,
            -min1 / (max1 - min1), 0.0, 1.0 / (max1 - min1),
            1.0, 0.0, 0.0)
    val plNorm = norm(minP, maxP, minL, maxL)
    val geoNorm = norm(minX, maxX, minY, maxY)
    val invGeoNorm = invert(geoNorm).getOrElse(
      throw new IllegalArgumentException("GDALInvHomography failed"))

    val ata = Array.fill(9, 10)(0.0)
    ata(6)(6) = 1.0; ata(6)(9) = 1.0 // rank fix h[6]=1 (rhs in col 9)
    gcps.foreach { g =>
      val (px, py) = applyH(plNorm, g.px, g.py).get
      val (gx, gy) = applyH(geoNorm, g.sx, g.sy).get
      val ax = Array(1.0, px, py, 0.0, 0.0, 0.0, -gx, -gx * px, -gx * py)
      val ay = Array(0.0, 0.0, 0.0, 1.0, px, py, -gy, -gy * px, -gy * py)
      var j = 0
      while (j < 9) {
        var k = j
        while (k < 9) { ata(j)(k) += ax(j) * ax(k) + ay(j) * ay(k); k += 1 }
        j += 1
      }
    }
    var j = 0
    while (j < 9) { var k = 0; while (k < j) { ata(j)(k) = ata(k)(j); k += 1 }; j += 1 }

    val hN = GcpTransform.solve(ata, "homography system not invertible")
    require(math.abs(hN(6)) >= 1.0e-15, "homography h6 ~ 0")

    // convex-quadrilateral check on the unit square (lines 289-310)
    val xs = Array(0.0, 1.0, 1.0, 0.0); val ys = Array(0.0, 0.0, 1.0, 1.0)
    var i = 0
    while (i < 4) {
      val p = applyH(hN, xs(i), ys(i)).getOrElse(
        throw new IllegalArgumentException("homography degenerate at corner"))
      xs(i) = p._1; ys(i) = p._2; i += 1
    }
    i = 3
    while (i >= 0) { xs(i) -= xs(0); ys(i) -= ys(0); i -= 1 }
    val cross12 = xs(1) * ys(2) - xs(2) * ys(1)
    val cross23 = xs(2) * ys(3) - xs(3) * ys(2)
    require(cross12 * cross23 > 0.0,
      "homography does not map the unit square to a convex quadrilateral")

    compose(compose(plNorm, hN), invGeoNorm)
  }
}
