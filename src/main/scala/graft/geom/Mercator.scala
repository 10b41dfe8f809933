package graft.geom

/** WebMercator (EPSG:3857 / WebMercatorQuad) grid math, exactly the
  * GlobalMercator formulas of the reference
  * (/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:416-530)
  * and the envelope→tile-range path of GetTileIndices
  * (/root/reference/apps/gdalalg_raster_tile.cpp:435-503).
  */
object Mercator {

  final val EarthRadius = 6378137.0
  /** 2πR / 2 ≈ 20037508.342789244 (gdal2tiles.py:420). Computed, not a decimal
    * literal, so pixel math cancels bit-for-bit as in the reference. */
  final val OriginShift: Double = 2.0 * math.Pi * EarthRadius / 2.0
  final val TileSize = 256
  /** Resolution at zoom 0 for a 256px tile: 2πR / 256 ≈ 156543.03392804097
    * (gdal2tiles.py:418). */
  final val InitialResolution: Double = 2.0 * math.Pi * EarthRadius / TileSize.toDouble
  /** Latitude bound of the square WebMercator world. */
  final val MaxLat = 85.05112877980659

  private final val Deg2Rad = math.Pi / 180.0

  /** lon/lat (WGS84 deg) → EPSG:3857 meters (gdal2tiles.py:426-429). */
  def lonToX(lon: Double): Double = lon * OriginShift / 180.0

  def latToY(lat: Double): Double =
    math.log(math.tan((90.0 + lat) * math.Pi / 360.0)) / (math.Pi / 180.0) * OriginShift / 180.0

  /** EPSG:3857 meters → lon/lat (gdal2tiles.py:435-443). */
  def xToLon(mx: Double): Double = mx / OriginShift * 180.0

  def yToLat(my: Double): Double = {
    val lat = my / OriginShift * 180.0
    180.0 / math.Pi * (2.0 * math.atan(math.exp(lat * Deg2Rad)) - math.Pi / 2.0)
  }

  /** Resolution (meters/pixel) at zoom z (gdal2tiles.py:501-502). */
  def resolution(z: Int): Double = InitialResolution / (1L << z).toDouble

  /** Meters → pixel coords at zoom z (gdal2tiles.py:455-458). Pixel origin is
    * the bottom-left corner (TMS convention). */
  def metersToPixelX(mx: Double, z: Int): Double = (mx + OriginShift) / resolution(z)
  def metersToPixelY(my: Double, z: Int): Double = (my + OriginShift) / resolution(z)

  /** Pixel → TMS tile index: tx = ceil(p/256) - 1 (gdal2tiles.py:461-466).
    * Boundary pixels (p exactly k*256) belong to the LOWER tile. The index
    * saturates at the Int range (NaN gives 0), so a pixel below it (lat
    * -90 maps to -Inf) clamps to tile 0 like any other pixel left of the
    * grid, and a point's tile at z is its tile at z+k shifted right by k. */
  def pixelToTileTms(p: Double): Int =
    (math.ceil(p / TileSize.toDouble) - 1).toInt

  /** TMS y → XYZ (Google/slippy) y: (2^z - 1) - ty (gdal2tiles.py:512;
    * GetFileY, gdalalg_raster_tile.cpp:509-513). */
  def tmsToXyzY(tyTms: Int, z: Int): Int = ((1L << z) - 1 - tyTms).toInt

  /** lon/lat → XYZ tile (x, y) at zoom z via the gdal2tiles pipeline, with
    * x clamped/wrapped into [0, 2^z). Worked golden (FIXTURES.md §4):
    * (0, 0, z=1) → mx=my=0 → px=py=256 → TMS (0,0) → XYZ (0,1). */
  def lonLatToTileX(lon: Double, z: Int): Int = {
    val n = 1L << z
    val tx = pixelToTileTms(metersToPixelX(lonToX(lon), z)).toLong
    val clamped = if (tx < 0) 0L else if (tx >= n) n - 1 else tx
    clamped.toInt
  }

  def lonLatToTileY(lat: Double, z: Int): Int = {
    val n = 1L << z
    val ty = pixelToTileTms(metersToPixelY(latToY(lat), z)).toLong
    val clamped = if (ty < 0) 0L else if (ty >= n) n - 1 else ty
    tmsToXyzY(clamped.toInt, z)
  }

  /** XYZ tile envelope in EPSG:3857 meters. */
  def tileEnvelopeMeters(z: Int, x: Int, yXyz: Int): Envelope = {
    val span = resolution(z) * TileSize
    val minX = -OriginShift + x * span
    val tyTms = tmsToXyzY(yXyz, z) // involution
    val minY = -OriginShift + tyTms * span
    Envelope(minX, minY, minX + span, minY + span)
  }

  /** XYZ tile envelope in lon/lat degrees. */
  def tileEnvelopeLonLat(z: Int, x: Int, yXyz: Int): Envelope = {
    val m = tileEnvelopeMeters(z, x, yXyz)
    Envelope(xToLon(m.minX), yToLat(m.minY), xToLon(m.maxX), yToLat(m.maxY))
  }

  /** Envelope (meters) → inclusive XYZ tile range, replicating GetTileIndices
    * (gdalalg_raster_tile.cpp:458-478): floor(tileUnits + 1e-3), clamped to the
    * matrix, measured from the TOP-LEFT origin (-OriginShift, +OriginShift);
    * y here is already XYZ (top-down). Returns (minX, minY, maxX, maxY).
    * `lo` and `hi` replace the 1e-3 on the min and the max side. */
  def tileRange(e: Envelope, z: Int, lo: Double = 1e-3, hi: Double = 1e-3): (Int, Int, Int, Int) = {
    val span = resolution(z) * TileSize
    val nMax = ((1L << z) - 1).toDouble
    def clampF(v: Double): Int = math.max(0.0, math.min(math.floor(v), nMax)).toInt
    val minTx = clampF((e.minX - (-OriginShift)) / span + lo)
    val maxTx = clampF((e.maxX - (-OriginShift)) / span + hi)
    val minTy = clampF((OriginShift - e.maxY) / span + lo)
    val maxTy = clampF((OriginShift - e.minY) / span + hi)
    (minTx, minTy, maxTx, maxTy)
  }

  /** Envelope in lon/lat degrees → inclusive XYZ tile range. */
  def tileRangeLonLat(e: Envelope, z: Int, lo: Double = 1e-3, hi: Double = 1e-3): (Int, Int, Int, Int) = {
    val lat0 = math.max(-MaxLat, math.min(MaxLat, e.minY))
    val lat1 = math.max(-MaxLat, math.min(MaxLat, e.maxY))
    tileRange(Envelope(lonToX(e.minX), latToY(lat0), lonToX(e.maxX), latToY(lat1)), z, lo, hi)
  }

  /** How far, in tiles, the joins' range reaches past the envelope on each
    * side: a bound on how far this path's tile coordinate can stray from
    * the one a point's tile is taken from. Both start from the same lonToX
    * or latToY. Columns then agree exactly (the same mx + OriginShift
    * divided by resolution · 256, and scaling by 256 is exact); rows round
    * OriginShift − my here and my + OriginShift there, a few ulps of a
    * coordinate below 2^28 at any packable zoom, so under 2^-22 (2.4e-7)
    * tiles. */
  final val JoinSlack = 1e-6

  /** The joins' tile range: floor(v − JoinSlack) on the min side and
    * floor(v + JoinSlack) on the max side, so it holds the tile of every
    * point in the envelope as [[lonLatToTileX]]/[[lonLatToTileY]] compute
    * it. GetTileIndices' floor(v + 1e-3) drops the row or column that an
    * envelope enters by less than 1e-3 of a tile. Latitude is clamped to
    * ±MaxLat as in [[tileRangeLonLat]], and longitude is not wrapped. */
  def joinTileRangeLonLat(e: Envelope, z: Int): (Int, Int, Int, Int) =
    tileRangeLonLat(e, z, -JoinSlack, JoinSlack)

  /** Quadkey of an XYZ tile. gdal2tiles QuadTree (gdal2tiles.py:518-530) first
    * flips TMS→google y, then sets bit 2 from the flipped y — i.e. directly
    * from the XYZ y we take here. */
  def quadKey(z: Int, x: Int, yXyz: Int): String = {
    val sb = new StringBuilder
    var i = z
    while (i > 0) {
      var digit = 0
      val mask = 1 << (i - 1)
      if ((x & mask) != 0) digit += 1
      if ((yXyz & mask) != 0) digit += 2
      sb.append(digit)
      i -= 1
    }
    sb.toString
  }
}
