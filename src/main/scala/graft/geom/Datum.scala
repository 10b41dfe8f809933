package graft.geom

/** Geodetic datum shift via geocentric (ECEF) coordinates and the
  * 7-parameter Helmert transformation — the TOWGS84 path of the
  * reference's coordinate-transformation engine. OGRCoordinateTransformation
  * delegates datum shifts to PROJ's `cart` + `helmert` pipeline steps
  * (/root/reference/ogr/ogrct.cpp:1788-2122 builds those pipelines from the
  * SRS TOWGS84 node); this implements the same published math natively:
  *
  *  - geodetic → geocentric: X=(ν+h)cosφcosλ, Y=(ν+h)cosφsinλ,
  *    Z=(ν(1−e²)+h)sinφ with ν = a/√(1−e²sin²φ) (EPSG guidance note 7-2)
  *  - 7-parameter Helmert, POSITION-VECTOR convention (EPSG method 9606,
  *    the TOWGS84 sign convention; rotations in arc-seconds, scale in ppm)
  *  - geocentric → geodetic: fixed-count iteration of
  *    φ = atan2(Z + e²ν sinφ, p) — deterministic (no convergence test),
  *    6 rounds ≈ quadruple-precision convergence for |h| ≪ a
  *
  * Grid-based shifts (NTv2) remain documented out of scope: they require
  * the distortion-grid FILES, not algorithms. The 7-parameter form is what
  * TOWGS84 metadata in the wild encodes.
  */
object Datum {

  /** Reference ellipsoid (semi-major axis in meters, inverse flattening). */
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val e2: Double = f * (2.0 - f)
  }

  val WGS84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val Intl1924: Ellipsoid = Ellipsoid(6378388.0, 297.0) // ED50
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646) // OSGB36

  private val d2r = math.Pi / 180.0
  private val as2r = math.Pi / (180.0 * 3600.0)

  /** Geodetic (deg, deg, m) → geocentric XYZ (m). */
  def toEcef(lonDeg: Double, latDeg: Double, h: Double,
             ell: Ellipsoid): (Double, Double, Double) = {
    val lam = lonDeg * d2r; val phi = latDeg * d2r
    val s = math.sin(phi); val c = math.cos(phi)
    val nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
    ((nu + h) * c * math.cos(lam), (nu + h) * c * math.sin(lam),
      (nu * (1.0 - ell.e2) + h) * s)
  }

  /** Geocentric XYZ (m) → geodetic (deg, deg, m); 6 fixed iterations. */
  def toGeodetic(x: Double, y: Double, z: Double,
                 ell: Ellipsoid): (Double, Double, Double) = {
    val lam = math.atan2(y, x)
    val p = math.hypot(x, y)
    var phi = math.atan2(z, p * (1.0 - ell.e2))
    var nu = ell.a
    var k = 0
    while (k < 6) {
      val s = math.sin(phi)
      nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
      phi = math.atan2(z + ell.e2 * nu * s, p)
      k += 1
    }
    val h = p / math.cos(phi) - nu
    (lam / d2r, phi / d2r, h)
  }

  /** 7-parameter Helmert, position-vector convention (EPSG 9606):
    * translations in meters, rotations in arc-seconds, scale in ppm —
    * the exact TOWGS84 parameter order and signs. */
  def helmert(x: Double, y: Double, z: Double,
              tx: Double, ty: Double, tz: Double,
              rxAs: Double, ryAs: Double, rzAs: Double,
              dsPpm: Double): (Double, Double, Double) = {
    val rx = rxAs * as2r; val ry = ryAs * as2r; val rz = rzAs * as2r
    val m = 1.0 + dsPpm * 1e-6
    (tx + m * (x - rz * y + ry * z),
     ty + m * (rz * x + y - rx * z),
     tz + m * (-ry * x + rx * y + z))
  }

  /** Datum shift source → WGS84 for a lon/lat on `src` (surface point,
    * h = 0): geodetic→ECEF on src, Helmert (TOWGS84 params), ECEF→geodetic
    * on WGS84; the output height is discarded like GDAL's 2D transforms. */
  def toWgs84(lonDeg: Double, latDeg: Double, src: Ellipsoid,
              tx: Double, ty: Double, tz: Double,
              rxAs: Double, ryAs: Double, rzAs: Double,
              dsPpm: Double): (Double, Double) = {
    val (x, y, z) = toEcef(lonDeg, latDeg, 0.0, src)
    val (xw, yw, zw) = helmert(x, y, z, tx, ty, tz, rxAs, ryAs, rzAs, dsPpm)
    val (lon, lat, _) = toGeodetic(xw, yw, zw, WGS84)
    (lon, lat)
  }

  /** Inverse shift WGS84 → source datum: exact reversal of [[toWgs84]]
    * (inverse Helmert solved in closed form from the linearized matrix:
    * subtract translation, apply M⁻¹ where M is the small-angle rotation
    * times scale — inverted exactly, not by negating parameters, so
    * toWgs84 ∘ fromWgs84 round-trips to machine precision). */
  def fromWgs84(lonDeg: Double, latDeg: Double, dst: Ellipsoid,
                tx: Double, ty: Double, tz: Double,
                rxAs: Double, ryAs: Double, rzAs: Double,
                dsPpm: Double): (Double, Double) = {
    val (xw, yw, zw) = toEcef(lonDeg, latDeg, 0.0, WGS84)
    // solve M v = (p - t) with M = m * [[1,-rz,ry],[rz,1,-rx],[-ry,rx,1]]
    val rx = rxAs * as2r; val ry = ryAs * as2r; val rz = rzAs * as2r
    val m = 1.0 + dsPpm * 1e-6
    val bx = (xw - tx) / m; val by = (yw - ty) / m; val bz = (zw - tz) / m
    // inverse of the (orthogonal to first order) small-angle matrix via
    // exact 3x3 inversion (det = 1 + rx² + ry² + rz²)
    val det = 1.0 + rx * rx + ry * ry + rz * rz
    val x = ((1.0 + rx * rx) * bx + (rz + rx * ry) * by + (rx * rz - ry) * bz) / det
    val y = ((rx * ry - rz) * bx + (1.0 + ry * ry) * by + (rx + ry * rz) * bz) / det
    val z = ((ry + rx * rz) * bx + (ry * rz - rx) * by + (1.0 + rz * rz) * bz) / det
    val (lon, lat, _) = toGeodetic(x, y, z, dst)
    (lon, lat)
  }

  /** Geometry-level datum shift (all coordinates, any geometry type). */
  def toWgs84Geom(g: Geom, a: Double, invF: Double,
                  tx: Double, ty: Double, tz: Double,
                  rxAs: Double, ryAs: Double, rzAs: Double,
                  dsPpm: Double): Geom =
    GeoOps.mapCoords(g, (lon, lat) =>
      toWgs84(lon, lat, Ellipsoid(a, invF), tx, ty, tz, rxAs, ryAs, rzAs, dsPpm))

  def fromWgs84Geom(g: Geom, a: Double, invF: Double,
                    tx: Double, ty: Double, tz: Double,
                    rxAs: Double, ryAs: Double, rzAs: Double,
                    dsPpm: Double): Geom =
    GeoOps.mapCoords(g, (lon, lat) =>
      fromWgs84(lon, lat, Ellipsoid(a, invF), tx, ty, tz, rxAs, ryAs, rzAs, dsPpm))
}
