package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Contour, Polygonize, Raster, Tile}

/** Ring-emitting polygonize (reference: RPolygonize ring assembly,
  * alg/polygonize.cpp:455-498 + polygonize_polygonizer.cpp): components must
  * come back as canonical polygon WKT with holes, invariant to tiling, with
  * the junction turn rule keeping touching rings separate at pinch
  * vertices. */
class PolygonizeRingsSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  private def oneTile(w: Int, h: Int, px: Array[Double]) = {
    val s = spark
    import s.implicits._
    Seq(Tile(0, 0, 0, 1, w, h, px)).toDS()
  }

  private def run(tiles: org.apache.spark.sql.Dataset[Tile], width: Long) =
    Polygonize.polygons(tiles, width)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq

  /** The r42 gate fixture: background 0, a rectangle, a donut with filler,
    * and an L — 32×32 so it spans multiple tiles at both tilings. */
  private val fix32: (Long, Long) => Double = (gx, gy) =>
    if (gx >= 4 && gx < 12 && gy >= 4 && gy < 10) 1.0
    else if (gx >= 16 && gx < 28 && gy >= 16 && gy < 28) {
      if (gx >= 20 && gx < 24 && gy >= 20 && gy < 24) 3.0 else 2.0
    } else if ((gx >= 2 && gx < 6 && gy >= 20 && gy < 22) ||
               (gx >= 2 && gx < 4 && gy >= 22 && gy < 26)) 4.0
    else 0.0

  private val fix32Expected = Seq(
    (0L, 0.0, 816L, "POLYGON ((0 0,32 0,32 32,0 32,0 0)," +
      "(2 20,2 26,4 26,4 22,6 22,6 20,2 20)," +
      "(4 4,4 10,12 10,12 4,4 4)," +
      "(16 16,16 28,28 28,28 16,16 16))"),
    (132L, 1.0, 48L, "POLYGON ((4 4,12 4,12 10,4 10,4 4))"),
    (528L, 2.0, 128L, "POLYGON ((16 16,28 16,28 28,16 28,16 16)," +
      "(20 20,20 24,24 24,24 20,20 20))"),
    (642L, 4.0, 16L, "POLYGON ((2 20,6 20,6 22,4 22,4 26,2 26,2 20))"),
    (660L, 3.0, 16L, "POLYGON ((20 20,24 20,24 24,20 24,20 20))"))

  test("fixture raster: exact rings with holes, tiling-invariant, distributed CC") {
    val s = spark
    s.conf.set("spark.graft.cc.driverLimit", "0")
    try {
      val a = run(Raster.syntheticTiles(s, 2, tileSize = 8)(fix32), 32)
      val b = run(Raster.syntheticTiles(s, 1, tileSize = 16)(fix32), 32)
      assert(a == fix32Expected)
      assert(b == fix32Expected)
    } finally s.conf.unset("spark.graft.cc.driverLimit")
  }

  test("polygons, components and contourPolygons leave only their result's cache") {
    val s = spark
    def cachedRdds = s.sparkContext.getPersistentRDDs.keySet.toSet
    val tiled = Raster.syntheticTiles(s, 2, tileSize = 8)(fix32)
    val before = cachedRdds
    for (op <- Seq(() => Polygonize.polygons(tiled, 32), () => Polygonize.components(tiled, 32),
                   () => Contour.contourPolygons(tiled, interval = 1.0, width = 32))) {
      val r = op()
      assert((cachedRdds -- before).size == 1)
      assert(r.count() == fix32Expected.size)
      r.unpersist(blocking = true)
      assert((cachedRdds -- before).isEmpty)
    }
  }

  test("pinch vertex: exterior and hole rings touching at a corner stay separate") {
    // 3×3: label-1 region with an enclosed hole (1,1) and a border notch
    // (0,2); both rings pass vertex (1,2) — the junction rule must split
    val px = Array[Double](
      1, 1, 1,
      1, 2, 1,
      3, 1, 1)
    val got = run(oneTile(3, 3, px), 3)
    assert(got == Seq(
      (0L, 1.0, 7L, "POLYGON ((0 0,3 0,3 3,1 3,1 2,0 2,0 0),(1 1,1 2,2 2,2 1,1 1))"),
      (4L, 2.0, 1L, "POLYGON ((1 1,2 1,2 2,1 2,1 1))"),
      (6L, 3.0, 1L, "POLYGON ((0 2,1 2,1 3,0 3,0 2))")))
  }

  test("pinch vertex: two holes touching at a corner stay separate") {
    val px = Array[Double](
      1, 1, 1, 1,
      1, 1, 2, 1,
      1, 2, 1, 1,
      1, 1, 1, 1)
    val got = run(oneTile(4, 4, px), 4)
    assert(got == Seq(
      (0L, 1.0, 14L, "POLYGON ((0 0,4 0,4 4,0 4,0 0)," +
        "(1 2,1 3,2 3,2 2,1 2),(2 1,2 2,3 2,3 1,2 1))"),
      (6L, 2.0, 1L, "POLYGON ((2 1,3 1,3 2,2 2,2 1))"),
      (9L, 2.0, 1L, "POLYGON ((1 2,2 2,2 3,1 3,1 2))")))
  }

  test("giant-boundary guard throws instead of running an unbounded assembly task") {
    val s = spark
    s.conf.set("spark.graft.polygonize.maxArcPoints", "4")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        run(oneTile(3, 3, Array[Double](1, 1, 1, 1, 2, 1, 3, 1, 1)), 3)
      }
      assert(ex.getMessage.contains("maxArcPoints") ||
        Option(ex.getCause).exists(_.getMessage.contains("maxArcPoints")))
    } finally s.conf.unset("spark.graft.polygonize.maxArcPoints")
  }
}
