package graft.engine

/** Ground-control-point transformers for non-affine warps: polynomial
  * (orders 1-3) and thin-plate-spline, the two GCP modes of gdalwarp.
  *
  * Reference semantics: GDALCreateGCPTransformer fits least-squares
  * polynomials over the GCP set (/root/reference/alg/gdal_crs.c, orders
  * 1-3 with 3/6/10 terms per axis); GDALCreateTPSTransformer solves the
  * thin-plate-spline system with radial basis U(d²) = d²·ln(d²)
  * (/root/reference/alg/thinplatespline.cpp:175-181 — `dist` there is the
  * SQUARED distance) plus an affine part.
  *
  * Engineering deviation from gdal_crs.c (documented): the polynomial is
  * fitted in a normalized coordinate frame (GCP pixel coords shifted/scaled
  * to ~[-1,1]) so the normal-equation condition number stays small; raw
  * monomials up to x³ over pixel coords in the thousands would lose ~10
  * digits to conditioning. The fitted FUNCTION is the same least-squares
  * polynomial — normalization is basis choice, not semantics.
  *
  * All models are tiny, driver-computed values (≤ dozens of GCPs →
  * coefficient arrays of ≤10 or n+3 doubles) closed over by executor-side
  * pixel loops — the same bounded-broadcast shape as palette/centroid
  * tables, nothing scales with raster size.
  */
object GcpTransform {

  /** One control point: dst pixel (px, py) ↦ src pixel (sx, sy). */
  final case class Gcp(px: Double, py: Double, sx: Double, sy: Double)

  private def nTerms(order: Int): Int = order match {
    case 1 => 3
    case 2 => 6
    case 3 => 10
    case _ => throw new IllegalArgumentException(s"poly order $order (want 1..3)")
  }

  /** Monomial basis at (x, y): order-1 [1,x,y], order-2 +[xy,x²,y²],
    * order-3 +[x²y,xy²,x³,y³] (the gdal_crs.c term set). */
  private def basis(order: Int, x: Double, y: Double): Array[Double] = order match {
    case 1 => Array(1.0, x, y)
    case 2 => Array(1.0, x, y, x * y, x * x, y * y)
    case _ => Array(1.0, x, y, x * y, x * x, y * y,
                    x * x * y, x * y * y, x * x * x, y * y * y)
  }

  /** In-place n×(n+1) augmented Gaussian elimination with partial pivoting
    * (the GDALLinearSystemSolve analog, alg/gdallinearsystem.cpp); refuses
    * a singular system with `singular`. Returns the solution vector. */
  private[engine] def solve(a: Array[Array[Double]], singular: String =
      "singular GCP system (degenerate control points)"): Array[Double] = {
    val n = a.length
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      require(math.abs(a(piv)(col)) > 1e-14, singular)
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        if (f != 0.0) {
          var c = col
          while (c <= n) { a(r)(c) -= f * a(col)(c); c += 1 }
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = a(i)(n)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** Fitted polynomial transformer dst(px,py) → src(sx,sy). Serializable
    * closure state: order, normalization frame, two coefficient vectors. */
  final case class PolyModel(order: Int, x0: Double, y0: Double, s: Double,
                             cx: Array[Double], cy: Array[Double]) {
    def apply(px: Double, py: Double): (Double, Double) = {
      val b = basis(order, (px - x0) * s, (py - y0) * s)
      var sx = 0.0; var sy = 0.0
      var i = 0
      while (i < b.length) { sx += cx(i) * b(i); sy += cy(i) * b(i); i += 1 }
      (sx, sy)
    }
  }

  /** Least-squares polynomial fit over the GCPs (normal equations in the
    * normalized frame). With exactly nTerms(order) well-placed GCPs this
    * is exact interpolation. */
  def fitPoly(gcps: Seq[Gcp], order: Int): PolyModel = {
    val m = nTerms(order)
    require(gcps.length >= m, s"order-$order poly needs >= $m GCPs, got ${gcps.length}")
    val x0 = gcps.map(_.px).sum / gcps.length
    val y0 = gcps.map(_.py).sum / gcps.length
    val span = math.max(1e-9,
      gcps.map(g => math.max(math.abs(g.px - x0), math.abs(g.py - y0))).max)
    val s = 1.0 / span
    def lsq(rhs: Gcp => Double): Array[Double] = {
      val a = Array.fill(m)(new Array[Double](m + 1))
      gcps.foreach { g =>
        val b = basis(order, (g.px - x0) * s, (g.py - y0) * s)
        val v = rhs(g)
        var i = 0
        while (i < m) {
          var j = 0
          while (j < m) { a(i)(j) += b(i) * b(j); j += 1 }
          a(i)(m) += b(i) * v
          i += 1
        }
      }
      solve(a)
    }
    PolyModel(order, x0, y0, s, lsq(_.sx), lsq(_.sy))
  }

  /** U(d²) = d²·ln(d²), the thinplatespline.cpp base function (its `dist`
    * is the squared distance; 0 at coincident points). */
  @inline private def tpsBase(d2: Double): Double =
    if (d2 != 0.0) d2 * math.log(d2) else 0.0

  /** TPS transformer: affine part + weighted RBF over the control points.
    * Weights satisfy the square interpolation system with the standard
    * orthogonality conditions Σw = Σw·x = Σw·y = 0. */
  final case class TpsModel(px: Array[Double], py: Array[Double],
                            wx: Array[Double], wy: Array[Double]) {
    // coefficient layout: w(0..n-1) RBF weights, then a0 + a1·x + a2·y
    def apply(x: Double, y: Double): (Double, Double) = {
      val n = px.length
      var sx = wx(n) + wx(n + 1) * x + wx(n + 2) * y
      var sy = wy(n) + wy(n + 1) * x + wy(n + 2) * y
      var i = 0
      while (i < n) {
        val dx = x - px(i); val dy = y - py(i)
        val u = tpsBase(dx * dx + dy * dy)
        sx += wx(i) * u; sy += wy(i) * u
        i += 1
      }
      (sx, sy)
    }
  }

  /** Solve the (n+3)×(n+3) TPS system for both target axes. */
  def fitTps(gcps: Seq[Gcp]): TpsModel = {
    val n = gcps.length
    require(n >= 3, s"TPS needs >= 3 GCPs, got $n")
    val pxs = gcps.map(_.px).toArray
    val pys = gcps.map(_.py).toArray
    def solveAxis(rhs: Gcp => Double): Array[Double] = {
      val m = n + 3
      val a = Array.fill(m)(new Array[Double](m + 1))
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          val dx = pxs(i) - pxs(j); val dy = pys(i) - pys(j)
          a(i)(j) = tpsBase(dx * dx + dy * dy)
          j += 1
        }
        a(i)(n) = 1.0; a(i)(n + 1) = pxs(i); a(i)(n + 2) = pys(i)
        a(n)(i) = 1.0; a(n + 1)(i) = pxs(i); a(n + 2)(i) = pys(i)
        a(i)(m) = rhs(gcps(i))
        i += 1
      }
      solve(a)
    }
    TpsModel(pxs, pys, solveAxis(_.sx), solveAxis(_.sy))
  }
}
