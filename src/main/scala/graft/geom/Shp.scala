package graft.geom

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

/** ESRI Shapefile geometry-record codec (the `.shp` main-file record body)
  * plus the whole-file header/record framing — the canonical GDAL vector
  * format, re-expressed for a columnar engine as record-level
  * encode/decode expressions over the same [[Geom]] ADT the rest of the
  * library uses.
  *
  * Layout follows the public ESRI Shapefile Technical Description (July
  * 1998 whitepaper) as implemented by the reference driver:
  *  - record content = int32 LE shape type, then the type body
  *    (shpopen.c SHPWriteObject / SHPReadObject);
  *  - Point(1): x, y. MultiPoint(8): box, n, points. PolyLine(3) /
  *    Polygon(5): box, nParts, nPoints, part starts, points;
  *  - polygon rings are stored CW for outer rings and CCW for holes —
  *    the writer inverts any wrongly-wound input ring exactly like
  *    SHPWriteOGRObject (shape2ogr.cpp:1021 bInvertOrder);
  *  - reading a PolyLine yields LINESTRING when nParts==1 else
  *    MULTILINESTRING (shape2ogr.cpp arc branch);
  *  - reading a Polygon re-assembles rings with the ONLY_CCW
  *    organizePolygons contract (shape2ogr.cpp:443,
  *    ogrgeometryfactory.cpp:1702): CW rings are shells; each CCW ring is
  *    a hole assigned to its smallest-area enclosing shell (envelope +
  *    area prefilter, then ray-crossing containment of the hole's first
  *    vertex); a CCW ring that no shell's envelope contains becomes a
  *    polygon of its own; the one-shell fast path skips all containment
  *    tests; polygons keep their record order in the output MULTIPOLYGON.
  *
  * Ring winding is decided by the shoelace sign (CW ⟺ signed area < 0) —
  * equivalent on simple rings to the reference's lowest-rightmost-pivot
  * cross-product test (ogrcurve.cpp:714), whose Green-formula fallback is
  * exactly this sign.
  *
  * Scale shape: records are self-contained byte arrays — encode/decode are
  * per-row kernels that ride any map-only pass. The whole-file composition
  * ([[writeFile]]) exists for interchange tests; a distributed `.shp`
  * writer would chain the d18 two-pass prefix-sum over record lengths to
  * place offsets without a global window (documented, not needed for the
  * gates).
  */
object Shp {

  final val NullShape = 0
  final val PointType = 1
  final val PolyLineType = 3
  final val PolygonType = 5
  final val MultiPointType = 8

  // ------------------------------------------------------------ encoding

  /** Record-content bytes for one geometry (no record header). EVERY
    * empty geometry (of any type) writes the NULL shape, exactly like the
    * reference's SHPWriteOGRObject (shape2ogr.cpp writes SHPT_NULL for
    * empty input) — a typed record with zero parts and a sentinel box
    * would be malformed for external consumers. */
  def writeRecord(g: Geom): Array[Byte] = g match {
    case e if e.isEmpty =>
      val b = le(4); b.putInt(NullShape); b.array()
    case p: Point =>
      val b = le(4 + 16); b.putInt(PointType)
      b.putDouble(p.x); b.putDouble(p.y); b.array()
    case m: MultiPoint =>
      val pts = m.points.filterNot(_.isEmpty)
      val b = le(4 + 32 + 4 + 16 * pts.length)
      b.putInt(MultiPointType); putBox(b, m.envelope); b.putInt(pts.length)
      pts.foreach { p => b.putDouble(p.x); b.putDouble(p.y) }
      b.array()
    case l: LineString =>
      writeParts(PolyLineType, Array(l.coords))
    case m: MultiLineString =>
      writeParts(PolyLineType, m.lines.map(_.coords))
    case p: Polygon => writeRings(Array(p))
    case m: MultiPolygon => writeRings(m.polys)
    case other => throw new IllegalArgumentException(
      s"Shp.writeRecord: unsupported geometry ${other.typeName} — the " +
        "shapefile model has no GeometryCollection/curve records; refusing")
  }

  /** CW ⟺ shoelace signed area < 0 (ogrcurve.cpp:714 Green fallback). */
  def isClockwise(ring: Array[Double]): Boolean =
    GeoOps.signedRingArea(ring) < 0.0

  private def reversed(cs: Array[Double]): Array[Double] = {
    val n = cs.length / 2
    val out = new Array[Double](cs.length)
    var i = 0
    while (i < n) {
      out(2 * i) = cs(2 * (n - 1 - i))
      out(2 * i + 1) = cs(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  private def writeRings(polys: Array[Polygon]): Array[Byte] = {
    val rings = ArrayBuffer.empty[Array[Double]]
    polys.foreach { p =>
      p.rings.zipWithIndex.foreach { case (r, i) =>
        val outer = i == 0
        // shape2ogr.cpp:1021 — exterior must be CW, holes CCW
        val invert = if (outer) !isClockwise(r) else isClockwise(r)
        rings += (if (invert) reversed(r) else r)
      }
    }
    writeParts(PolygonType, rings.toArray)
  }

  private def writeParts(shpType: Int, ps: Array[Array[Double]]): Array[Byte] = {
    val nPoints = ps.map(_.length / 2).sum
    val b = le(4 + 32 + 8 + 4 * ps.length + 16 * nPoints)
    b.putInt(shpType)
    putBox(b, ps.foldLeft(Envelope.Empty)((e, cs) => e.union(Envelope.ofCoords(cs))))
    b.putInt(ps.length); b.putInt(nPoints)
    var start = 0
    ps.foreach { cs => b.putInt(start); start += cs.length / 2 }
    ps.foreach { cs =>
      var i = 0; while (i < cs.length) { b.putDouble(cs(i)); i += 1 }
    }
    b.array()
  }

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def putBox(b: ByteBuffer, e: Envelope): Unit = {
    b.putDouble(e.minX); b.putDouble(e.minY)
    b.putDouble(e.maxX); b.putDouble(e.maxY)
  }

  // ------------------------------------------------------------ decoding

  /** Decode one record content; null for a NULL shape (GDAL's nullptr
    * feature geometry). */
  def readRecord(bytes: Array[Byte]): Geom = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    b.getInt() match {
      case NullShape => null
      case PointType => Point(b.getDouble(), b.getDouble())
      case MultiPointType =>
        skipBox(b)
        val n = b.getInt()
        MultiPoint(Array.fill(n)(Point(b.getDouble(), b.getDouble())))
      case PolyLineType =>
        val parts = readParts(b)
        if (parts.length == 1) LineString(parts(0))
        else MultiLineString(parts.map(LineString(_)))
      case PolygonType => organizeRings(readParts(b))
      case t => throw new IllegalArgumentException(
        s"Shp.readRecord: unsupported shape type $t; refusing")
    }
  }

  private def skipBox(b: ByteBuffer): Unit = { var i = 0; while (i < 4) { b.getDouble(); i += 1 } }

  private def readParts(b: ByteBuffer): Array[Array[Double]] = {
    skipBox(b)
    val nParts = b.getInt(); val nPoints = b.getInt()
    val starts = Array.fill(nParts)(b.getInt())
    val all = new Array[Double](2 * nPoints)
    var i = 0; while (i < all.length) { all(i) = b.getDouble(); i += 1 }
    Array.tabulate(nParts) { p =>
      val s = starts(p)
      val e = if (p + 1 < nParts) starts(p + 1) else nPoints
      java.util.Arrays.copyOfRange(all, 2 * s, 2 * e)
    }
  }

  /** ONLY_CCW ring organization (ogrgeometryfactory.cpp organizePolygons
    * with METHOD=ONLY_CCW, the shapefile read path): CW rings are shells,
    * CCW rings are holes; a hole goes to the smallest-area shell whose
    * envelope contains its envelope and which contains its first vertex
    * (the reference's increasing-area candidate walk, with the
    * biggest-shell assume-inside backstop). A CCW ring that no shell's
    * envelope contains is no hole: it becomes a polygon of its own, as
    * the reference promotes an unenclosed ring to top level. Polygons keep
    * the record order of their outer rings. */
  private def organizeRings(rings: Array[Array[Double]]): Geom = {
    if (rings.isEmpty) return Polygon(Array.empty)
    val signed = rings.map(GeoOps.signedRingArea)
    val shellIdx = rings.indices.filter(i => signed(i) < 0.0)
    if (shellIdx.isEmpty)
      return Polygon(rings) // degenerate winding: keep stored order
    if (shellIdx.length == 1) {
      // reference fast path: single outer ring — everything else is a hole
      val s = shellIdx.head
      val ordered = rings(s) +: rings.indices.filterNot(_ == s).map(rings(_))
      return Polygon(ordered.toArray)
    }
    val holes = ArrayBuffer.fill(rings.length)(ArrayBuffer.empty[Array[Double]])
    val byAreaAsc = shellIdx.sortBy(i => math.abs(signed(i)))
    val biggest = byAreaAsc.last
    val envs = rings.map(Envelope.ofCoords)
    val orphans = ArrayBuffer.empty[Int]
    rings.indices.filter(i => signed(i) >= 0.0).foreach { h =>
      val hArea = math.abs(signed(h))
      val px = rings(h)(0); val py = rings(h)(1)
      val owner = byAreaAsc.find { s =>
        math.abs(signed(s)) >= hArea && envs(s).contains(envs(h)) &&
          (s == biggest || // last-candidate assume-inside (fast-version rule)
            GeoOps.isPointInRing(rings(s), px, py, testEnvelope = false))
      }
      owner match {
        case Some(s) => holes(s) += rings(h)
        case None if shellIdx.exists(s => envs(s).contains(envs(h))) => holes(biggest) += rings(h)
        case None => orphans += h
      }
    }
    val polys = (shellIdx ++ orphans).sorted.map(s => Polygon((rings(s) +: holes(s)).toArray))
    if (polys.length == 1) polys.head else MultiPolygon(polys.toArray)
  }

  // ---------------------------------------------------- whole-file frame

  private def typeName(t: Int): String = t match {
    case PointType => "Point"
    case PolyLineType => "PolyLine"
    case PolygonType => "Polygon"
    case MultiPointType => "MultiPoint"
    case other => s"type $other"
  }

  /** Compose a full `.shp` byte stream (100-byte header + framed records)
    * and the matching `.shx` index. Record headers are big-endian
    * (record number 1-based, content length in 16-bit words); the file
    * header carries magic 9994, version 1000, the shape type, and the
    * global bbox — shpopen.c SHPWriteHeader. Every non-null record must
    * have the header's one shape type; mixed types are refused. */
  def writeFile(geoms: Seq[Geom]): (Array[Byte], Array[Byte]) = {
    val recs = geoms.map(writeRecord)
    val types = recs.map(r => ByteBuffer.wrap(r).order(ByteOrder.LITTLE_ENDIAN).getInt())
      .filter(_ != NullShape).distinct
    require(types.size <= 1, "Shp.writeFile: a shapefile holds one shape type, got " +
      types.map(typeName).mkString(" and ") + "; refusing")
    val shpType = types.headOption.getOrElse(NullShape)
    val env = geoms.filter(g => g != null && !g.isEmpty)
      .foldLeft(Envelope.Empty)((e, g) => e.union(g.envelope))
    val contentBytes = recs.map(_.length + 8).sum
    val shp = ByteBuffer.allocate(100 + contentBytes)
    val shx = ByteBuffer.allocate(100 + 8 * recs.length)
    def header(b: ByteBuffer, fileBytes: Int): Unit = {
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(9994); (0 until 5).foreach(_ => b.putInt(0))
      b.putInt(fileBytes / 2)
      b.order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000); b.putInt(shpType)
      b.putDouble(env.minX); b.putDouble(env.minY)
      b.putDouble(env.maxX); b.putDouble(env.maxY)
      (0 until 4).foreach(_ => b.putDouble(0.0)) // z/m ranges
    }
    header(shp, 100 + contentBytes)
    header(shx, 100 + 8 * recs.length)
    var offsetWords = 50
    recs.zipWithIndex.foreach { case (r, i) =>
      shx.order(ByteOrder.BIG_ENDIAN)
      shx.putInt(offsetWords); shx.putInt(r.length / 2)
      shp.order(ByteOrder.BIG_ENDIAN)
      shp.putInt(i + 1); shp.putInt(r.length / 2)
      shp.put(r)
      offsetWords += 4 + r.length / 2
    }
    (shp.array(), shx.array())
  }

  /** Parse a full `.shp` stream back to geometries (header-validated). */
  def readFile(shp: Array[Byte]): Seq[Geom] = {
    val b = ByteBuffer.wrap(shp).order(ByteOrder.BIG_ENDIAN)
    require(b.getInt() == 9994, "Shp.readFile: bad magic; refusing")
    b.position(24)
    val fileWords = b.getInt()
    require(fileWords * 2 == shp.length,
      s"Shp.readFile: header length ${fileWords * 2} != ${shp.length}; refusing")
    b.order(ByteOrder.LITTLE_ENDIAN)
    require(b.getInt() == 1000, "Shp.readFile: bad version; refusing")
    b.position(100)
    val out = ArrayBuffer.empty[Geom]
    while (b.remaining() >= 8) {
      b.order(ByteOrder.BIG_ENDIAN)
      b.getInt() // record number
      val words = b.getInt()
      val content = new Array[Byte](words * 2)
      b.get(content)
      out += readRecord(content)
    }
    out.toSeq
  }
}
