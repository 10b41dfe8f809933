package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import graft.geom._
import graft.cell.{CellId, Hilbert}

/** Static, JVM-primitive-typed kernel functions shared by Expression.eval and
  * generated code (`graft.functions.GeoKernel.xxx(...)` in codegen). A small
  * per-thread LRU keyed by WKB content avoids re-decoding the same geometry —
  * the common case in broadcast spatial joins where one polygon meets many
  * points (reference analog: prepared-geometry reuse,
  * /root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:4066).
  */
object GeoKernel {

  private final val CacheSize = 256

  private final class Key(val bytes: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }

  private val cache = new ThreadLocal[java.util.LinkedHashMap[Key, Geom]] {
    override def initialValue(): java.util.LinkedHashMap[Key, Geom] =
      new java.util.LinkedHashMap[Key, Geom](CacheSize, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, Geom]): Boolean =
          size() > CacheSize
      }
  }

  def decode(wkb: Array[Byte]): Geom = {
    val c = cache.get()
    val k = new Key(wkb)
    val hit = c.get(k)
    if (hit != null) hit
    else {
      val g = Wkb.read(wkb)
      c.put(k, g)
      g
    }
  }

  // ---- constructors / codecs
  def geomFromText(wkt: String): Array[Byte] =
    Wkt.tryParse(wkt).map(Wkb.write).orNull

  def asText(wkb: Array[Byte]): String = Wkt.write(decode(wkb))

  /** RFC 7946 codecs (geom/GeoJson.scala; reference driver
    * ogr/ogrsf_frmts/geojson/). precision < 0 = lossless shortest repr. */
  def asGeoJson(wkb: Array[Byte], precision: Int): String =
    GeoJson.write(decode(wkb), precision)

  def geomFromGeoJson(s: String): Array[Byte] = {
    val g = GeoJson.parse(s)
    if (g == null) null else Wkb.write(g)
  }

  /** KML / GML fragment codecs (geom/KmlGeom.scala, geom/GmlGeom.scala;
    * reference ogr2kmlgeometry.cpp / ogr2gmlgeometry.cpp +
    * gml2ogrgeometry.cpp). */
  def asKml(wkb: Array[Byte]): String = KmlGeom.write(decode(wkb))

  def geomFromKml(s: String): Array[Byte] = {
    val g = KmlGeom.parse(s)
    if (g == null) null else Wkb.write(g)
  }

  def asGml(wkb: Array[Byte]): String = GmlGeom.write(decode(wkb))

  def geomFromGml(s: String): Array[Byte] = {
    val g = GmlGeom.parse(s)
    if (g == null) null else Wkb.write(g)
  }

  /** Lon/lat bounds of a packed cell id — [minLon, minLat, maxLon,
    * maxLat] (the cell grid's tile envelope; engine/Subdivide clips
    * polygon pieces to these). */
  def cellEnv(cell: Long): Array[Double] = {
    val e = graft.cell.CellId.envelopeLonLat(cell)
    Array(e.minX, e.minY, e.maxX, e.maxY)
  }

  /** Order-preserving IEEE-754 bit map: returns a long whose UNSIGNED
    * order equals the double order (negatives reversed onto [.., 2^63),
    * positives offset into [2^63, ..); ±0 collide, which is correct since
    * they compare equal). The exact-quantile engine (engine/Quantiles)
    * refines 16-bit digit prefixes of this value; inverse in
    * [[graft.engine.Quantiles.fromUsortBits]]. */
  def doubleUsortBits(d: Double): Long = {
    val b = java.lang.Double.doubleToRawLongBits(d)
    val s = if (b >= 0) b else java.lang.Long.MIN_VALUE - b
    s ^ java.lang.Long.MIN_VALUE
  }

  /** ESRI Shapefile record codec (geom/Shp.scala; reference
    * ogr/ogrsf_frmts/shape/shape2ogr.cpp + shapelib/shpopen.c). */
  def asShp(wkb: Array[Byte]): Array[Byte] = Shp.writeRecord(decode(wkb))

  def geomFromShp(rec: Array[Byte]): Array[Byte] = {
    val g = Shp.readRecord(rec)
    if (g == null) null else Wkb.write(g)
  }

  // ---- curve-exact measures on raw curve WKT (no linearization);
  // null when the input is not a parseable 2-D curve type
  def curveLength(wkt: String): java.lang.Double =
    CurveMeasure.curveLength(wkt).map(java.lang.Double.valueOf).orNull
  def curveArea(wkt: String): java.lang.Double =
    CurveMeasure.curveArea(wkt).map(java.lang.Double.valueOf).orNull

  /** WRAPDATELINE=YES: cut/wrap a geometry at the antimeridian
    * (ogrgeometryfactory.cpp:4430-4620; see graft.geom.Dateline). */
  def wrapDateline(wkb: Array[Byte], offset: Double): Array[Byte] =
    Wkb.write(Dateline.cut(decode(wkb), offset))

  def point(x: Double, y: Double): Array[Byte] = Wkb.write(Point(x, y))

  // ---- predicates (hot join path: direct-on-WKB, zero materialization)
  def containsPoint(wkb: Array[Byte], x: Double, y: Double): Boolean =
    WkbPip.containsPoint(wkb, x, y)

  def intersectsPoint(wkb: Array[Byte], x: Double, y: Double): Boolean =
    WkbPip.intersectsPoint(wkb, x, y)

  /** The boxed geometry (minx, miny, maxx, maxy, wkb) of st_box: a closed
    * envelope that holds every point the geometry contains or intersects,
    * so a point outside it needs no WKB read. That is the geometry's
    * envelope (curves linearized as on read; Envelope.Empty for an empty
    * geometry), except for geometries with line work, whose box is
    * unbounded: pointOnLine accepts a point whose squared distance to a
    * segment underflows to 0 or whose rounded projection leaves the
    * segment, and such a point can lie off the line's envelope. */
  def box(wkb: Array[Byte]): InternalRow = {
    val g = decode(wkb)
    val e = if (hasLinework(g)) Unbounded else g.envelope
    new GenericInternalRow(Array[Any](e.minX, e.minY, e.maxX, e.maxY, wkb))
  }

  private val Unbounded = Envelope(Double.NegativeInfinity, Double.NegativeInfinity,
    Double.PositiveInfinity, Double.PositiveInfinity)

  private def hasLinework(g: Geom): Boolean = g match {
    case _: LineString | _: MultiLineString => true
    case c: GeometryCollection => c.geoms.exists(hasLinework)
    case _ => false
  }

  /** Closed envelope test on a box; NaN rejects. */
  private def inBox(box: InternalRow, x: Double, y: Double): Boolean =
    x >= box.getDouble(0) && x <= box.getDouble(2) && y >= box.getDouble(1) && y <= box.getDouble(3)

  def boxContainsPoint(box: InternalRow, x: Double, y: Double): Boolean =
    inBox(box, x, y) && boxPip(box, x, y, boundary = false)

  def boxIntersectsPoint(box: InternalRow, x: Double, y: Double): Boolean =
    inBox(box, x, y) && boxPip(box, x, y, boundary = true)

  /** The ray test on the box's WKB where the row holds it: an UnsafeRow's
    * wkb field is read in place (its slot holds offset << 32 | size). */
  private def boxPip(box: InternalRow, x: Double, y: Double, boundary: Boolean): Boolean =
    box match {
      case u: UnsafeRow =>
        val at = u.getLong(4)
        val off = u.getBaseOffset + (at >> 32)
        if (boundary) WkbPip.intersectsPoint(u.getBaseObject, off, at.toInt, x, y)
        else WkbPip.containsPoint(u.getBaseObject, off, at.toInt, x, y)
      case r =>
        if (boundary) WkbPip.intersectsPoint(r.getBinary(4), x, y) else WkbPip.containsPoint(r.getBinary(4), x, y)
    }

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean =
    GeoOps.intersects(decode(a), decode(b))

  def contains(a: Array[Byte], b: Array[Byte]): Boolean =
    GeoOps.contains(decode(a), decode(b))

  def envIntersects(a: Array[Byte], b: Array[Byte]): Boolean =
    GeoOps.envIntersects(decode(a), decode(b))

  def envIntersectsBox(wkb: Array[Byte], minX: Double, minY: Double, maxX: Double, maxY: Double): Boolean = {
    val e = decode(wkb).envelope
    !e.isEmpty && e.intersects(Envelope(minX, minY, maxX, maxY))
  }

  def isEmpty(wkb: Array[Byte]): Boolean = decode(wkb).isEmpty
  def isValid(wkb: Array[Byte]): Boolean = GeoOps.isValid(decode(wkb))
  def geometryType(wkb: Array[Byte]): String = decode(wkb).typeName

  // ---- accessors / measures

  /** Whether `wkb` is the 21-byte little-endian 2-D point that Wkb.write
    * emits for a point: its ordinates are read in place, without a decode
    * or the LRU's hash of the bytes. */
  private def isLePoint(wkb: Array[Byte]): Boolean =
    wkb.length == 21 && wkb(0) == 1 && wkb(1) == 1 && wkb(2) == 0 && wkb(3) == 0 && wkb(4) == 0

  private def leDouble(wkb: Array[Byte], at: Int): Double = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (wkb(at + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(v)
  }

  def stX(wkb: Array[Byte]): Double =
    if (isLePoint(wkb)) leDouble(wkb, 5)
    else decode(wkb) match {
      case p: Point => p.x
      case g => throw new IllegalArgumentException(s"st_x on ${g.typeName}")
    }

  def stY(wkb: Array[Byte]): Double =
    if (isLePoint(wkb)) leDouble(wkb, 13)
    else decode(wkb) match {
      case p: Point => p.y
      case g => throw new IllegalArgumentException(s"st_y on ${g.typeName}")
    }

  def area(wkb: Array[Byte]): Double = GeoOps.area(decode(wkb))
  def length(wkb: Array[Byte]): Double = GeoOps.length(decode(wkb))
  def geodesicArea(wkb: Array[Byte]): Double = Geodesic.area(decode(wkb))
  def geodesicLength(wkb: Array[Byte]): Double = Geodesic.length(decode(wkb))
  def distance(a: Array[Byte], b: Array[Byte]): Double = GeoOps.distance(decode(a), decode(b))

  def envelope(wkb: Array[Byte]): Array[Double] = {
    val e = decode(wkb).envelope
    Array(e.minX, e.minY, e.maxX, e.maxY)
  }

  /** A point is its own centroid, and Wkb.write writes it back as the same
    * 21 bytes. */
  def centroid(wkb: Array[Byte]): Array[Byte] =
    if (isLePoint(wkb)) wkb else Wkb.write(GeoOps.centroid(decode(wkb)))

  def forceMulti(wkb: Array[Byte]): Array[Byte] = Wkb.write(GeoOps.forceMulti(decode(wkb)))

  def npoints(wkb: Array[Byte]): Int = GeoOps.npoints(decode(wkb))

  // ---- transforms
  def simplify(wkb: Array[Byte], tol: Double): Array[Byte] =
    Wkb.write(GeoOps.simplify(decode(wkb), tol))

  def segmentize(wkb: Array[Byte], maxLen: Double): Array[Byte] =
    Wkb.write(GeoOps.segmentize(decode(wkb), maxLen))

  def convexHull(wkb: Array[Byte]): Array[Byte] = Wkb.write(GeoOps.convexHull(decode(wkb)))

  def swapXY(wkb: Array[Byte]): Array[Byte] = Wkb.write(GeoOps.swapXY(decode(wkb)))

  def to3857(wkb: Array[Byte]): Array[Byte] = Wkb.write(GeoOps.to3857(decode(wkb)))
  def to4326(wkb: Array[Byte]): Array[Byte] = Wkb.write(GeoOps.to4326(decode(wkb)))

  def clipBox(wkb: Array[Byte], minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Byte] =
    Wkb.write(GeoOps.clipToRect(decode(wkb), Envelope(minX, minY, maxX, maxY)))

  def dump(wkb: Array[Byte]): Array[Array[Byte]] =
    GeoOps.dump(decode(wkb)).map(Wkb.write)

  // ---- boolean overlay (Martinez–Rueda sweep; ref ogrgeometry.cpp:5318-5874)
  def geomIntersection(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Wkb.write(BoolOps.intersection(decode(a), decode(b)))
  def geomUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Wkb.write(BoolOps.union(decode(a), decode(b)))
  def geomDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Wkb.write(BoolOps.difference(decode(a), decode(b)))
  def geomSymDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    Wkb.write(BoolOps.symDifference(decode(a), decode(b)))

  // ---- DE-9IM predicates (ref ogrgeometry.cpp:6009-6409)
  def within(a: Array[Byte], b: Array[Byte]): Boolean = Relate.within(decode(a), decode(b))
  def touches(a: Array[Byte], b: Array[Byte]): Boolean = Relate.touches(decode(a), decode(b))
  def crosses(a: Array[Byte], b: Array[Byte]): Boolean = Relate.crosses(decode(a), decode(b))
  def overlaps(a: Array[Byte], b: Array[Byte]): Boolean = Relate.overlaps(decode(a), decode(b))
  def equalsGeom(a: Array[Byte], b: Array[Byte]): Boolean = Relate.equalsG(decode(a), decode(b))
  def disjoint(a: Array[Byte], b: Array[Byte]): Boolean = Relate.disjoint(decode(a), decode(b))

  def buffer(wkb: Array[Byte], dist: Double): Array[Byte] =
    Wkb.write(Buffer.buffer(decode(wkb), dist))

  def makeValid(wkb: Array[Byte]): Array[Byte] =
    Wkb.write(BoolOps.makeValid(decode(wkb)))

  def concaveHull(wkb: Array[Byte], ratio: Double): Array[Byte] =
    Wkb.write(ConcaveHullOp.concaveHull(decode(wkb), ratio))

  def toUtm(wkb: Array[Byte], zone: Int): Array[Byte] =
    Wkb.write(Utm.transformGeom(decode(wkb), zone))
  def fromUtm(wkb: Array[Byte], zone: Int): Array[Byte] =
    Wkb.write(Utm.inverseGeom(decode(wkb), zone))

  /** check-geometry kernel (geom/CheckGeometry.scala): the reason and the
    * location of the first defect, each null when the geometry is valid. */
  def invalidReason(wkb: Array[Byte]): String =
    CheckGeometry.validityDetail(decode(wkb)).map(_._1).orNull
  def invalidX(wkb: Array[Byte]): java.lang.Double =
    CheckGeometry.validityDetail(decode(wkb)).map(d => java.lang.Double.valueOf(d._2)).orNull
  def invalidY(wkb: Array[Byte]): java.lang.Double =
    CheckGeometry.validityDetail(decode(wkb)).map(d => java.lang.Double.valueOf(d._3)).orNull

  def toWgs84Datum(wkb: Array[Byte], a: Double, invF: Double, tx: Double, ty: Double, tz: Double,
                   rx: Double, ry: Double, rz: Double, dsPpm: Double): Array[Byte] =
    Wkb.write(Datum.toWgs84Geom(decode(wkb), a, invF, tx, ty, tz, rx, ry, rz, dsPpm))
  def fromWgs84Datum(wkb: Array[Byte], a: Double, invF: Double, tx: Double, ty: Double, tz: Double,
                     rx: Double, ry: Double, rz: Double, dsPpm: Double): Array[Byte] =
    Wkb.write(Datum.fromWgs84Geom(decode(wkb), a, invF, tx, ty, tz, rx, ry, rz, dsPpm))

  def toLcc(wkb: Array[Byte], lat1: Double, lat2: Double, lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.lccGeom(decode(wkb), lat1, lat2, lat0, lon0))
  def fromLcc(wkb: Array[Byte], lat1: Double, lat2: Double, lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.lccInvGeom(decode(wkb), lat1, lat2, lat0, lon0))
  def toAlbers(wkb: Array[Byte], lat1: Double, lat2: Double, lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.albersGeom(decode(wkb), lat1, lat2, lat0, lon0))
  def fromAlbers(wkb: Array[Byte], lat1: Double, lat2: Double, lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.albersInvGeom(decode(wkb), lat1, lat2, lat0, lon0))
  def toPs(wkb: Array[Byte], latTs: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.psGeom(decode(wkb), latTs, lon0))
  def fromPs(wkb: Array[Byte], latTs: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.psInvGeom(decode(wkb), latTs, lon0))
  def toSinu(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.sinuGeom(decode(wkb), lon0))
  def fromSinu(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.sinuInvGeom(decode(wkb), lon0))
  def toAeqd(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.aeqdGeom(decode(wkb), lat0, lon0))
  def fromAeqd(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.aeqdInvGeom(decode(wkb), lat0, lon0))
  def toEqc(wkb: Array[Byte], lat1: Double): Array[Byte] =
    Wkb.write(Conic.eqcGeom(decode(wkb), lat1))
  def fromEqc(wkb: Array[Byte], lat1: Double): Array[Byte] =
    Wkb.write(Conic.eqcInvGeom(decode(wkb), lat1))
  def toMoll(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.mollGeom(decode(wkb), lon0))
  def fromMoll(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.mollInvGeom(decode(wkb), lon0))
  def toOrtho(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.orthoGeom(decode(wkb), lat0, lon0))
  def fromOrtho(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.orthoInvGeom(decode(wkb), lat0, lon0))
  def toGnom(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.gnomGeom(decode(wkb), lat0, lon0))
  def fromGnom(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.gnomInvGeom(decode(wkb), lat0, lon0))
  def toStere(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.stereGeom(decode(wkb), lat0, lon0))
  def fromStere(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.stereInvGeom(decode(wkb), lat0, lon0))
  def toLaea(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.laeaGeom(decode(wkb), lat0, lon0))
  def fromLaea(wkb: Array[Byte], lat0: Double, lon0: Double): Array[Byte] =
    Wkb.write(Conic.laeaInvGeom(decode(wkb), lat0, lon0))
  def toMill(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.millGeom(decode(wkb), lon0))
  def fromMill(wkb: Array[Byte], lon0: Double): Array[Byte] =
    Wkb.write(Conic.millInvGeom(decode(wkb), lon0))

  // ---- cells & tiles
  def cell(lon: Double, lat: Double, z: Int): Long = CellId.fromLonLat(lon, lat, z)

  def cellParent(c: Long, z: Int): Long = CellId.parentAt(c, z)

  def cover(wkb: Array[Byte], z: Int): Array[Long] = CellId.cover(decode(wkb), z)

  /** The joins' cover: every cell holding a point of the envelope
    * ([[graft.cell.CellId.joinCover]]). */
  def joinCover(wkb: Array[Byte], z: Int): Array[Long] = CellId.joinCover(decode(wkb), z)

  /** Number of cells st_cover would materialize — envelope tile-range math
    * only, never throws. */
  def coverCount(wkb: Array[Byte], z: Int): Long =
    rangeSize(decode(wkb).envelope, Mercator.tileRangeLonLat(_, z))

  /** Number of cells of the join cover. Lets CellJoinRule key oversized
    * geometries apart instead of crashing mid-query on the 4096-cell cap. */
  def joinCoverCount(wkb: Array[Byte], z: Int): Long =
    rangeSize(decode(wkb).envelope, Mercator.joinTileRangeLonLat(_, z))

  private def rangeSize(e: Envelope, range: Envelope => (Int, Int, Int, Int)): Long =
    if (e.isEmpty) 0L
    else {
      val (minX, minY, maxX, maxY) = range(e)
      (maxX - minX + 1).toLong * (maxY - minY + 1).toLong
    }

  def cellRing(c: Long, r: Int): Array[Long] = CellId.ring(c, r)
  def cellDisk(c: Long, r: Int): Array[Long] = CellId.disk(c, r)

  def tileX(lon: Double, z: Int): Int = Mercator.lonLatToTileX(lon, z)
  def tileY(lat: Double, z: Int): Int = Mercator.lonLatToTileY(lat, z)
  def quadkey(z: Int, x: Int, y: Int): String = Mercator.quadKey(z, x, y)

  def greatCircle(latA: Double, lonA: Double, latB: Double, lonB: Double, r: Double): Double =
    GeoOps.greatCircle(latA, lonA, latB, lonB, r)

  def hilbert(x: Double, y: Double, minX: Double, minY: Double, maxX: Double, maxY: Double): Long =
    Hilbert.code(Envelope(minX, minY, maxX, maxY), x, y)
}
