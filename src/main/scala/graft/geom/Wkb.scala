package graft.geom

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** ISO WKB codec for the linear subset.
  * Reference semantics: OGRGeometry::importFromWkb / exportToWkb
  * (/root/reference/ogr/ogrgeometry.cpp:1501,1596). We write little-endian
  * XY ISO WKB (types 1..7 + 15/16/17 surfaces); we read both byte orders,
  * linearize curve types 8..12 on read (the GDAL behavior for
  * curve-unaware consumers), and accept ISO Z/M/ZM
  * (1000/2000/3000 offsets) and EWKB flag bits (0x80000000 Z, 0x40000000 M),
  * dropping the extra ordinates. SRID (EWKB 0x20000000) is read and ignored.
  */
object Wkb {

  def write(g: Geom): Array[Byte] = {
    val buf = ByteBuffer.allocate(size(g)).order(ByteOrder.LITTLE_ENDIAN)
    put(buf, g)
    buf.array()
  }

  private def size(g: Geom): Int = g match {
    case _: Point              => 1 + 4 + 16
    case l: LineString         => 1 + 4 + 4 + 8 * l.coords.length
    case p: Polygon            => 1 + 4 + 4 + p.rings.map(r => 4 + 8 * r.length).sum
    case m: MultiPoint         => 1 + 4 + 4 + m.points.length * 21
    case m: MultiLineString    => 1 + 4 + 4 + m.lines.map(size).sum
    case m: MultiPolygon       => 1 + 4 + 4 + m.polys.map(size).sum
    case c: GeometryCollection => 1 + 4 + 4 + c.geoms.map(size).sum
    case t: Triangle           => 1 + 4 + 4 + (if (t.isEmpty) 0 else 4 + 8 * t.ring.length)
    case s: PolyhedralSurface  => 1 + 4 + 4 + s.patches.map(size).sum
    case t: Tin                => 1 + 4 + 4 + t.patches.map(size).sum
  }

  private def put(buf: ByteBuffer, g: Geom): Unit = {
    buf.put(1.toByte) // NDR
    buf.putInt(g.wkbType)
    g match {
      case p: Point =>
        buf.putDouble(p.x); buf.putDouble(p.y)
      case l: LineString =>
        buf.putInt(l.numPoints)
        var i = 0; while (i < l.coords.length) { buf.putDouble(l.coords(i)); i += 1 }
      case p: Polygon =>
        buf.putInt(p.rings.length)
        p.rings.foreach { r =>
          buf.putInt(r.length / 2)
          var i = 0; while (i < r.length) { buf.putDouble(r(i)); i += 1 }
        }
      case m: MultiPoint         => buf.putInt(m.points.length); m.points.foreach(put(buf, _))
      case m: MultiLineString    => buf.putInt(m.lines.length); m.lines.foreach(put(buf, _))
      case m: MultiPolygon       => buf.putInt(m.polys.length); m.polys.foreach(put(buf, _))
      case c: GeometryCollection => buf.putInt(c.geoms.length); c.geoms.foreach(put(buf, _))
      case t: Triangle =>
        // ring-count + one ring, the polygon layout under wkbType 17
        // (OGRTriangle shares OGRPolygon's WKB body, ogrtriangle.cpp)
        if (t.isEmpty) buf.putInt(0)
        else {
          buf.putInt(1); buf.putInt(t.ring.length / 2)
          var i = 0; while (i < t.ring.length) { buf.putDouble(t.ring(i)); i += 1 }
        }
      case s: PolyhedralSurface  => buf.putInt(s.patches.length); s.patches.foreach(put(buf, _))
      case t: Tin                => buf.putInt(t.patches.length); t.patches.foreach(put(buf, _))
    }
  }

  def read(bytes: Array[Byte]): Geom = {
    val r = new Reader(bytes)
    r.readGeom()
  }

  private final class Reader(bytes: Array[Byte]) {
    private val buf = ByteBuffer.wrap(bytes)

    def readGeom(): Geom = {
      val order = buf.get()
      buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      var t = buf.getInt()
      var nd = 2
      // EWKB flags
      if ((t & 0x80000000) != 0) nd += 1
      if ((t & 0x40000000) != 0) nd += 1
      val hasSrid = (t & 0x20000000) != 0
      t &= 0x0fffffff
      // ISO offsets
      if (t >= 3000) { nd = 4; t -= 3000 }
      else if (t >= 2000) { nd = 3; t -= 2000 }
      else if (t >= 1000) { nd = 3; t -= 1000 }
      if (hasSrid) buf.getInt()
      t match {
        case 1 =>
          val x = buf.getDouble(); val y = buf.getDouble()
          var k = 2; while (k < nd) { buf.getDouble(); k += 1 }
          Point(x, y)
        case 2 => LineString(readCoords(nd))
        case 3 =>
          val n = buf.getInt()
          val rings = new Array[Array[Double]](n)
          var i = 0; while (i < n) { rings(i) = readRing(nd); i += 1 }
          Polygon(rings)
        case 4 =>
          val n = buf.getInt()
          MultiPoint(Array.tabulate(n)(_ => readGeom().asInstanceOf[Point]))
        case 5 =>
          val n = buf.getInt()
          MultiLineString(Array.tabulate(n)(_ => readGeom().asInstanceOf[LineString]))
        case 6 =>
          val n = buf.getInt()
          MultiPolygon(Array.tabulate(n)(_ => readGeom().asInstanceOf[Polygon]))
        case 7 =>
          val n = buf.getInt()
          GeometryCollection(Array.tabulate(n)(_ => readGeom()))
        case 8 => // CircularString → linearized (GDAL curve-unaware consumer path)
          LineString(Arc.linearize(readCoords(nd)))
        case 9 => // CompoundCurve: segments concatenated, shared joints deduped
          val n = buf.getInt()
          val out = new ArrayBuffer[Double]()
          var i = 0
          while (i < n) {
            val seg = readGeom() match {
              case l: LineString => l.coords
              case other => throw new IllegalArgumentException(
                s"COMPOUNDCURVE segment must be a curve, got ${other.typeName}")
            }
            val from = if (out.length >= 2 && seg.length >= 2 &&
              out(out.length - 2) == seg(0) && out(out.length - 1) == seg(1)) 2 else 0
            var k = from
            while (k < seg.length) { out += seg(k); k += 1 }
            i += 1
          }
          LineString(out.toArray)
        case 10 => // CurvePolygon: rings are curve geometries, linearized
          val n = buf.getInt()
          Polygon(Array.tabulate(n)(_ => readGeom() match {
            case l: LineString => l.coords
            case other => throw new IllegalArgumentException(
              s"CURVEPOLYGON ring must be a curve, got ${other.typeName}")
          }))
        case 11 => // MultiCurve → MultiLineString
          val n = buf.getInt()
          MultiLineString(Array.tabulate(n)(_ => readGeom() match {
            case l: LineString => l
            case other => throw new IllegalArgumentException(
              s"MULTICURVE element must be a curve, got ${other.typeName}")
          }))
        case 12 => // MultiSurface → MultiPolygon
          val n = buf.getInt()
          MultiPolygon(Array.tabulate(n)(_ => readGeom() match {
            case p: Polygon => p
            case t: Triangle => t.asPolygon
            case other => throw new IllegalArgumentException(
              s"MULTISURFACE element must be a surface, got ${other.typeName}")
          }))
        case 15 =>
          val n = buf.getInt()
          PolyhedralSurface(Array.tabulate(n)(_ => readGeom() match {
            case p: Polygon => p
            case t: Triangle => t.asPolygon
            case other => throw new IllegalArgumentException(
              s"POLYHEDRALSURFACE patch must be a polygon, got ${other.typeName}")
          }))
        case 16 =>
          val n = buf.getInt()
          Tin(Array.tabulate(n)(_ => readGeom() match {
            case t: Triangle => t
            case p: Polygon if p.rings.length == 1 => Triangle(p.rings(0))
            case other => throw new IllegalArgumentException(
              s"TIN patch must be a one-ring triangle, got ${other.typeName}")
          }))
        case 17 =>
          val n = buf.getInt()
          if (n == 0) Triangle(Array.empty)
          else if (n == 1) Triangle(readRing(nd))
          else throw new IllegalArgumentException("TRIANGLE allows exactly one ring")
        case other =>
          throw new IllegalArgumentException(s"WKB type $other not supported in v1 (linear subset only)")
      }
    }

    private def readCoords(nd: Int): Array[Double] = {
      val n = buf.getInt()
      val cs = new Array[Double](2 * n)
      var i = 0
      while (i < n) {
        cs(2 * i) = buf.getDouble(); cs(2 * i + 1) = buf.getDouble()
        var k = 2; while (k < nd) { buf.getDouble(); k += 1 }
        i += 1
      }
      cs
    }

    private def readRing(nd: Int): Array[Double] = readCoords(nd)
  }

  /** Envelope straight off WKB bytes, no Geom materialization.
    * Reference analog: OGRWKBGetBoundingBox (/root/reference/ogr/ogr_wkb.h:30-36)
    * used by FilterWKBGeometry (/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:4096).
    */
  def envelope(bytes: Array[Byte]): Envelope = {
    // Decode is cheap for our sizes; a true streaming scan is a v2 optimization.
    read(bytes).envelope
  }
}
