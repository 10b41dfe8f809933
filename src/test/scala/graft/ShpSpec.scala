package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom._

/** Shapefile record/file codec properties (geom/Shp.scala, the g64 engine):
  * byte-level layout against the public ESRI spec, winding correction on
  * write, ONLY_CCW ring assembly on read, multi-part arcs, the NULL-shape
  * row, and the whole-file header/index frame. */
class ShpSpec extends AnyFunSuite {

  private def g(wkt: String): Geom = Wkt.parse(wkt)

  private def le32(b: Array[Byte], off: Int): Int =
    java.nio.ByteBuffer.wrap(b, off, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()

  private def leD(b: Array[Byte], off: Int): Double =
    java.nio.ByteBuffer.wrap(b, off, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble()

  test("point record layout matches the ESRI spec") {
    val r = Shp.writeRecord(g("POINT (3 7)"))
    assert(r.length == 20)
    assert(le32(r, 0) == 1)
    assert(leD(r, 4) == 3.0 && leD(r, 12) == 7.0)
    assert(Wkt.write(Shp.readRecord(r)) == "POINT (3 7)")
  }

  test("multipoint record layout + roundtrip") {
    val r = Shp.writeRecord(g("MULTIPOINT ((1 2),(3 4))"))
    assert(le32(r, 0) == 8)
    // box
    assert(leD(r, 4) == 1.0 && leD(r, 12) == 2.0 && leD(r, 20) == 3.0 && leD(r, 28) == 4.0)
    assert(le32(r, 36) == 2)
    assert(Wkt.write(Shp.readRecord(r)) == "MULTIPOINT ((1 2),(3 4))")
  }

  test("single-part arc reads back LINESTRING, multi-part MULTILINESTRING") {
    val one = Shp.writeRecord(g("LINESTRING (0 0, 5 0, 5 5)"))
    assert(le32(one, 0) == 3 && le32(one, 36) == 1 && le32(one, 40) == 3)
    assert(Wkt.write(Shp.readRecord(one)) == "LINESTRING (0 0,5 0,5 5)")
    val two = Shp.writeRecord(g("MULTILINESTRING ((0 0,1 0),(2 2,3 3,4 4))"))
    assert(le32(two, 0) == 3 && le32(two, 36) == 2 && le32(two, 40) == 5)
    // part starts 0 and 2
    assert(le32(two, 44) == 0 && le32(two, 48) == 2)
    assert(Wkt.write(Shp.readRecord(two)) ==
      "MULTILINESTRING ((0 0,1 0),(2 2,3 3,4 4))")
  }

  test("writer inverts wrongly-wound rings: outer CW, holes CCW on disk") {
    // input: outer CCW (wrong), hole CW (wrong) — both must flip
    val r = Shp.writeRecord(g(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"))
    assert(le32(r, 0) == 5 && le32(r, 36) == 2 && le32(r, 40) == 10)
    // first stored ring (offset 52 = 4+32+8+8 part idx) must be CW
    val ring0 = (0 until 5).flatMap(i =>
      Seq(leD(r, 52 + 16 * i), leD(r, 52 + 16 * i + 8))).toArray
    assert(Shp.isClockwise(ring0), ring0.mkString(","))
    // second stored ring must be CCW
    val ring1 = (0 until 5).flatMap(i =>
      Seq(leD(r, 52 + 80 + 16 * i), leD(r, 52 + 80 + 16 * i + 8))).toArray
    assert(!Shp.isClockwise(ring1), ring1.mkString(","))
    // decode: single-shell fast path, hole reattached
    assert(GeoOps.area(Shp.readRecord(r)) == 96.0)
  }

  test("ONLY_CCW assembly assigns holes to the smallest containing shell") {
    // two nested shells: big [0,20]^2 with an island [4,6]^2 inside its
    // hole [2,8]^2 — the island is a shell; the hole must attach to the
    // BIG shell, not the island (area prefilter), and a second hole
    // [4.5,5.5]^2 must attach to the ISLAND (smallest containing shell).
    val r = Shp.writeRecord(g(
      "MULTIPOLYGON (((0 0, 20 0, 20 20, 0 20, 0 0), (2 2, 2 8, 8 8, 8 2, 2 2))," +
        " ((4 4, 6 4, 6 6, 4 6, 4 4), (4.5 4.5, 4.5 5.5, 5.5 5.5, 5.5 4.5, 4.5 4.5)))"))
    val out = Shp.readRecord(r)
    val mp = out.asInstanceOf[MultiPolygon]
    assert(mp.polys.length == 2)
    assert(mp.polys(0).numInterior == 1 && mp.polys(1).numInterior == 1)
    assert(GeoOps.area(mp.polys(0)) == 400.0 - 36.0)
    assert(GeoOps.area(mp.polys(1)) == 4.0 - 1.0)
  }

  test("a CCW ring outside every shell's envelope reads back as its own polygon") {
    // the second polygon's hole lies outside both shells: it is stored CCW,
    // and no shell can own it
    val r = Shp.writeRecord(g(
      "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0))," +
        " ((20 0, 30 0, 30 10, 20 10, 20 0), (50 0, 52 0, 52 2, 50 2, 50 0)))"))
    val mp = Shp.readRecord(r).asInstanceOf[MultiPolygon]
    assert(mp.polys.length == 3)
    assert(mp.polys.forall(_.numInterior == 0))
    assert(mp.polys.map(GeoOps.area(_)).toSeq == Seq(100.0, 100.0, 4.0))
    assert(mp.polys(2).envelope == Envelope(50, 0, 52, 2))
  }

  test("NULL shape for EVERY empty geometry; unsupported types refuse loudly") {
    // SHPWriteOGRObject writes SHPT_NULL for empty input of any type — a
    // typed record with zero parts and a sentinel box would be malformed
    val empties = Seq[Geom](Point.Empty, g("POLYGON EMPTY"),
      g("LINESTRING EMPTY"), g("MULTIPOLYGON EMPTY"), g("MULTIPOINT EMPTY"))
    empties.foreach { e =>
      val r = Shp.writeRecord(e)
      assert(r.length == 4 && le32(r, 0) == 0, e.typeName)
      assert(Shp.readRecord(r) == null, e.typeName)
    }
    intercept[IllegalArgumentException] {
      Shp.writeRecord(g("GEOMETRYCOLLECTION (POINT (1 1))"))
    }
  }

  test("whole-file frame: header, shx offsets, record roundtrip") {
    // mixed shape types per file are not a shapefile concept; points + null
    val pts = Seq(g("POINT (1 1)"), g("POINT (5 9)"), Point.Empty)
    val (shp, shx) = Shp.writeFile(pts)
    // header: magic BE, length words, version + type LE, bbox
    val bb = java.nio.ByteBuffer.wrap(shp).order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(bb.getInt(0) == 9994)
    assert(bb.getInt(24) * 2 == shp.length)
    assert(le32(shp, 28) == 1000 && le32(shp, 32) == 1)
    assert(leD(shp, 36) == 1.0 && leD(shp, 44) == 1.0 &&
      leD(shp, 52) == 5.0 && leD(shp, 60) == 9.0)
    assert(shx.length == 100 + 8 * 3)
    val back = Shp.readFile(shp)
    assert(back.length == 3)
    assert(Wkt.write(back(0)) == "POINT (1 1)")
    assert(Wkt.write(back(1)) == "POINT (5 9)")
    assert(back(2) == null)
    // shx: first record at word offset 50
    val xb = java.nio.ByteBuffer.wrap(shx).order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(xb.getInt(100) == 50 && xb.getInt(104) == 10) // 20-byte point content
  }

  test("whole-file writer refuses mixed shape types, naming them") {
    val e = intercept[IllegalArgumentException] {
      Shp.writeFile(Seq(g("POINT (1 1)"), Point.Empty, g("POLYGON ((0 0, 1 0, 1 1, 0 0))")))
    }
    assert(e.getMessage.contains("Point and Polygon"), e.getMessage)
  }
}
