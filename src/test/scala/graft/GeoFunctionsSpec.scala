package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.gf

class GeoFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val polyWkt = "POLYGON ((2.2 48.7,2.5 48.7,2.5 48.95,2.2 48.95,2.2 48.7))"

  test("st_geomfromtext / st_astext round-trip; null on garbage") {
    val df = Seq(polyWkt, "POINT (1 2)", "garbage").toDF("wkt")
      .select(gf.st_astext(gf.st_geomfromtext($"wkt")).as("out"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some(polyWkt), Some("POINT (1 2)"), None))
  }

  test("st_contains_point via DSL and SQL (codegen + interpreted agree)") {
    val df = Seq((2.35, 48.85), (2.35, 49.10), (2.2, 48.8)).toDF("lon", "lat")
      .withColumn("poly", gf.st_geomfromtext(lit(polyWkt)))
    val got = df.select(gf.st_contains_point($"poly", $"lon", $"lat")).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, true))
    df.createOrReplaceTempView("pts")
    val sqlGot = spark.sql(
      "SELECT st_contains_point(st_geomfromtext('" + polyWkt + "'), lon, lat) FROM pts")
      .as[Boolean].collect().toSeq
    assert(sqlGot == got)
  }

  test("st_cell / tile_x / tile_y goldens (FIXTURES.md §4)") {
    val row = spark.sql(
      "SELECT st_cell(0.0D, 0.0D, 1) c, tile_x(2.35D, 10) x, tile_y(48.85D, 10) y, " +
      "tile_quadkey(1, 0, 1) qk").collect()(0)
    assert(row.getLong(0) == graft.cell.CellId.pack(1, 0, 1))
    assert(row.getInt(1) == 518 && row.getInt(2) == 352)
    assert(row.getString(3) == "2")
  }

  test("st_cover explodes to sorted cells containing the point cell") {
    val df = Seq(polyWkt).toDF("wkt")
      .select(explode(gf.st_cover(gf.st_geomfromtext($"wkt"), lit(12))).as("cell"))
    val cells = df.as[Long].collect()
    assert(cells.sorted.sameElements(cells))
    assert(cells.contains(graft.cell.CellId.fromLonLat(2.35, 48.85, 12)))
  }

  test("st_intersects / st_contains / st_env_intersects / st_distance") {
    val a = "POLYGON ((0 0,10 0,10 10,0 10,0 0))"
    val b = "POLYGON ((5 5,15 5,15 15,5 15,5 5))"
    val c = "POLYGON ((20 20,21 20,21 21,20 21,20 20))"
    val inner = "POLYGON ((1 1,2 1,2 2,1 2,1 1))"
    val r = spark.sql(
      s"""SELECT st_intersects(st_geomfromtext('$a'), st_geomfromtext('$b')) i1,
         |       st_intersects(st_geomfromtext('$a'), st_geomfromtext('$c')) i2,
         |       st_contains(st_geomfromtext('$a'), st_geomfromtext('$inner')) c1,
         |       st_contains(st_geomfromtext('$a'), st_geomfromtext('$b')) c2,
         |       st_env_intersects(st_geomfromtext('$a'), st_geomfromtext('$b')) e1,
         |       st_distance(st_geomfromtext('POINT (15 10)'), st_geomfromtext('$a')) d1
         |""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) && !r.getBoolean(3) && r.getBoolean(4))
    assert(r.getDouble(5) == 5.0)
  }

  test("st_greatcircle default radius and explicit radius") {
    val r = spark.sql(
      "SELECT st_greatcircle(0D, 0D, 90D, 0D) a, st_greatcircle(0D, 0D, 90D, 0D, 1.0D) b").collect()(0)
    assert(math.abs(r.getDouble(0) - math.Pi / 2 * 6378137.0) < 1e-6)
    assert(math.abs(r.getDouble(1) - math.Pi / 2) < 1e-15)
  }

  test("geometry transforms: 3857 round-trip, swapxy, simplify, clip, dump, centroid") {
    val r = spark.sql(
      s"""SELECT st_astext(st_transform_4326(st_transform_3857(st_geomfromtext('POINT (2 48)')))) rt,
         |       st_astext(st_swapxy(st_geomfromtext('POINT (1 2)'))) sw,
         |       st_astext(st_simplify(st_geomfromtext('LINESTRING (0 0,1 0,2 0)'), 0.01D)) si,
         |       st_area(st_clip_bbox(st_geomfromtext('POLYGON ((0 0,10 0,10 10,0 10,0 0))'),
         |                            5D, 5D, 15D, 15D)) cl,
         |       size(st_dump(st_geomfromtext('MULTIPOINT ((1 2),(3 4))'))) du,
         |       st_astext(st_centroid(st_geomfromtext('POLYGON ((0 0,10 0,10 10,0 10,0 0))'))) ce,
         |       st_geometrytype(st_geomfromtext('POLYGON ((0 0,1 0,1 1,0 0))')) ty,
         |       st_isvalid(st_geomfromtext('POLYGON ((0 0,1 0,1 1,0 0))')) va
         |""".stripMargin).collect()(0)
    val rt = graft.geom.Wkt.parse(r.getString(0)).asInstanceOf[graft.geom.Point]
    assert(math.abs(rt.x - 2) < 1e-9 && math.abs(rt.y - 48) < 1e-9)
    assert(r.getString(1) == "POINT (2 1)")
    assert(r.getString(2) == "LINESTRING (0 0,2 0)")
    assert(r.getDouble(3) == 25.0)
    assert(r.getInt(4) == 2)
    assert(r.getString(5) == "POINT (5 5)")
    assert(r.getString(6) == "POLYGON")
    assert(r.getBoolean(7))
  }

  test("cell_ring / cell_disk / cell_parent / hilbert_code in SQL") {
    val c = graft.cell.CellId.pack(10, 518, 352)
    val r = spark.sql(
      s"SELECT size(cell_ring(${c}L, 1)) r, size(cell_disk(${c}L, 1)) d, " +
      s"cell_parent(${c}L, 8) p, hilbert_code(50D, 50D, 0D, 0D, 100D, 100D) h").collect()(0)
    assert(r.getInt(0) == 8 && r.getInt(1) == 9)
    assert(r.getLong(2) == graft.cell.CellId.pack(8, 129, 88))
    assert(r.getLong(3) == graft.cell.Hilbert.code(32767, 32767))
  }

  test("expressions stay inside whole-stage codegen") {
    val df = spark.range(1000)
      .select(($"id" % 360 - 180).cast("double").as("lon"), lit(45.0).as("lat"))
      .select(gf.st_cell($"lon", $"lat", lit(10)).as("cell"),
              gf.st_contains_point(gf.st_point(lit(0.0), lit(0.0)), $"lon", $"lat").as("pip"))
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [st_cell"), plan)
    // and it actually executes through the generated code
    assert(df.count() == 1000)
  }

  test("st_x / st_y / st_centroid read a little-endian 2-D point in place, as the decode path would") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.functions.GeoKernel
    import graft.geom.{GeoOps, Point, Wkb}
    /** A point WKB in either byte order with `extra` trailing ordinates. */
    def pt(x: Double, y: Double, big: Boolean, code: Int, extra: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(5 + 8 * (2 + extra))
        .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      b.put((if (big) 0 else 1).toByte).putInt(code).putDouble(x).putDouble(y)
      (0 until extra).foreach(_ => b.putDouble(7.5))
      b.array()
    }
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L) // a NaN with a payload
    val vals = Seq(1.5, -0.0, 0.0, Double.NaN, nan2, Double.PositiveInfinity, -1e300, java.lang.Double.MIN_VALUE)
    val forms = Seq((false, 1, 0), (true, 1, 0), (false, 1001, 1), (true, 2001, 1), (false, 3001, 2),
      (false, 0x80000001, 1))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (x <- vals; y <- vals; (big, code, extra) <- forms) {
      val w = pt(x, y, big, code, extra)
      val p = Wkb.read(w).asInstanceOf[Point]
      assert(bits(GeoKernel.stX(w)) === bits(p.x) && bits(GeoKernel.stY(w)) === bits(p.y), (x, y, big, code))
      assert(GeoKernel.centroid(w).toSeq === Wkb.write(GeoOps.centroid(p)).toSeq, (x, y, big, code))
    }
    // the written form is exactly what the in-place read takes
    assert(Wkb.write(Point(1.5, -0.0)).toSeq === pt(1.5, -0.0, big = false, 1, 0).toSeq)
    val poly = Wkb.write(graft.geom.Wkt.parse("POLYGON ((0 0, 1 0, 1 1, 0 0))"))
    assert(intercept[IllegalArgumentException](GeoKernel.stX(poly)).getMessage === "st_x on POLYGON")
    assert(intercept[IllegalArgumentException](GeoKernel.stY(poly)).getMessage === "st_y on POLYGON")
  }
}
