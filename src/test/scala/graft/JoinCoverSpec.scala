package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{SpatialJoin, Subdivide}
import graft.functions.{gf, GeoKernel}

/** A polygon whose envelope enters a tile row or column by less than 1e-3
  * of a tile keeps every point it holds there through each cell join:
  * the cover the joins key polygons by holds the cell of every point of
  * the envelope. GetTileIndices' slack (st_cover) drops that row or
  * column, and with it the 400 points of each case below. */
class JoinCoverSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** At z=4 the first polygon's top edge lies at tile row 8.99906 and the
    * second's left edge at column 8.99956: each enters row or column 8 by
    * about 1e-3 of a tile, and its 400 points all sit there. */
  private val cases = Seq(
    ("POLYGON ((10 -30, 20 -30, 20 -21.92336, 10 -21.92336, 10 -30))",
      (1 to 400).map(k => (15.0, -21.92336 - k * 1e-5))),
    ("POLYGON ((22.49 0, 30 0, 30 10, 22.49 10, 22.49 0))",
      (1 to 400).map(k => (22.49 + k * 2e-5, 5.0))))

  private lazy val (pts, polys) = {
    val s = spark
    import s.implicits._
    val p = cases.zipWithIndex.flatMap { case ((_, ps), i) =>
      ps.zipWithIndex.map { case ((lon, lat), k) => (s"p${i}_$k", lon, lat) } }.toDF("pt_id", "lon", "lat")
    val g = cases.zipWithIndex.map { case ((wkt, _), i) => (i.toLong, wkt) }.toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    (p, g)
  }

  private def pairs(df: DataFrame): Set[(String, Long)] =
    df.select("pt_id", "poly_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private lazy val brute: Set[(String, Long)] = {
    val ps = pts.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val gs = polys.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    (for ((id, lon, lat) <- ps; (pid, w) <- gs if GeoKernel.containsPoint(w, lon, lat)) yield (id, pid)).toSet
  }

  test("the strips are real: brute force finds all 800 points, and st_cover misses their cells") {
    assert(brute.size === 800)
    for (((wkt, ps), i) <- cases.zipWithIndex) {
      val w = GeoKernel.geomFromText(wkt)
      val (lon, lat) = ps.head
      assert(!GeoKernel.cover(w, 4).contains(GeoKernel.cell(lon, lat, 4)), i)
      assert(GeoKernel.joinCover(w, 4).contains(GeoKernel.cell(lon, lat, 4)), i)
      assert(GeoKernel.joinCoverCount(w, 4) === GeoKernel.joinCover(w, 4).length.toLong)
    }
  }

  test("pipJoin keeps the strips at z=4, 6 and 10") {
    for (z <- Seq(4, 6, 10)) assert(pairs(SpatialJoin.pipJoin(pts, polys, z)) === brute, s"z=$z")
  }

  test("the rule keeps the strips on a bare predicate join") {
    val df = pts.join(polys, gf.st_contains_point(col("wkb"), col("lon"), col("lat")))
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_cell"))
    assert(pairs(df) === brute)
  }

  test("pipJoinSalted and a shuffled pipJoin keep the strips") {
    assert(pairs(SpatialJoin.pipJoinSalted(pts, polys, 4, salt = 4, saltKey = col("pt_id"))) === brute)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SpatialJoin.pipJoin(pts, polys, 4, broadcastPolys = false)
      assert(pairs(df) === brute)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("Subdivide.byCells keeps the strips in its pieces") {
    val pieces = Subdivide.byCells(polys, 4).drop("cell")
    assert(pairs(SpatialJoin.pipJoin(pts, pieces, 4).select("pt_id", "poly_id").distinct()) === brute)
  }

  test("intersectsJoin pairs each polygon with a sliver that lies only in its strip") {
    val s = spark
    import s.implicits._
    val slivers = Seq(
      (10L, "POLYGON ((14 -21.9234, 16 -21.9234, 16 -21.92337, 14 -21.92337, 14 -21.9234))"),
      (11L, "POLYGON ((22.491 4, 22.492 4, 22.492 6, 22.491 6, 22.491 4))"),
      (12L, "POINT (15 -21.9235)"))
      .toDF("rid", "wkt").withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    val got = SpatialJoin.intersectsJoin(polys, slivers, 4).select("poly_id", "rid")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 10L), (1L, 11L), (0L, 12L)))
  }
}
