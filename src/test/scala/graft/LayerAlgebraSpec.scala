package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.engine.SpatialJoin
import graft.geom.Wkb

/** Identity / Erase layer algebra (SpatialJoin.identity/erase; reference
  * OGRLayer::Identity / OGRLayer::Erase, ogr/ogrlayer.cpp). The g37 gate
  * covers the grid fixture; this spec pins the edge cases the gate's
  * fixture deliberately avoids: full containment (EMPTY remainder), a
  * left feature with no intersecting method feature (passthrough), and
  * the identity↔erase consistency contract.
  */
class LayerAlgebraSpec extends AnyFunSuite {

  private val s = SparkTestSession.spark
  import s.implicits._

  private def rect(id: Long, x0: Double, y0: Double, x1: Double, y1: Double) =
    (id, Wkb.write(graft.geom.Wkt.parse(
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))")))

  private def df(rows: Seq[(Long, Array[Byte])], idName: String): DataFrame =
    rows.toDF(idName, "wkb")

  test("identity: containment yields EMPTY remainder; untouched passes through") {
    // A0 fully inside B0; A1 intersects nothing; A2 half-covered by B1
    val left = df(Seq(
      rect(0L, 1.0, 1.0, 2.0, 2.0),
      rect(1L, 10.0, 10.0, 11.0, 11.0),
      rect(2L, 20.0, 20.0, 22.0, 22.0)), "lid")
    val right = df(Seq(
      rect(0L, 0.5, 0.5, 2.5, 2.5),
      rect(1L, 19.5, 19.5, 21.0, 23.0)), "rid")
    val out = SpatialJoin.identity(left, right, z = 8)
      .select(col("lid"), col("rid"),
        expr("CAST(floor(st_area(wkb) * 1000.0 + 0.5) AS BIGINT)").as("a_mm"),
        expr("st_isempty(wkb)").as("empty"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getLong(2), r.getBoolean(3))).toSet
    assert(out === Set(
      (0L, Some(0L), 1000L, false),  // A0 ∩ B0 = A0
      (0L, None, 0L, true),          // contained → EMPTY remainder, still emitted
      (1L, None, 1000L, false),      // untouched passthrough, full area
      (2L, Some(1L), 2000L, false),  // half bite: [20,21]x[20,22]
      (2L, None, 2000L, false)))     // remainder: [21,22]x[20,22]
  }

  test("erase equals identity's remainder rows, empties filterable") {
    val left = df(Seq(
      rect(0L, 1.0, 1.0, 2.0, 2.0),
      rect(1L, 10.0, 10.0, 11.0, 11.0)), "lid")
    val right = df(Seq(rect(0L, 0.5, 0.5, 2.5, 2.5)), "rid")
    val er = SpatialJoin.erase(left, right, z = 8)
      .select(col("lid"), expr("st_isempty(wkb)").as("empty"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    // reference drops empty remainders — callers filter st_isempty
    assert(er === Set((0L, true), (1L, false)))
  }

  test("multi-bite remainder area: four corner bites fold to a plus shape") {
    val left = df(Seq(rect(0L, 0.0, 0.0, 4.0, 4.0)), "lid")
    val right = df(Seq(
      rect(0L, -1.0, -1.0, 1.0, 1.0), rect(1L, 3.0, -1.0, 5.0, 1.0),
      rect(2L, -1.0, 3.0, 1.0, 5.0), rect(3L, 3.0, 3.0, 5.0, 5.0)), "rid")
    val rem = SpatialJoin.erase(left, right, z = 8)
      .select(expr("st_area(wkb)")).as[Double].collect()
    assert(rem.length === 1)
    assert(math.abs(rem.head - 12.0) < 1e-9) // 16 - 4 corners of 1x1
  }

  test("a polygon whose cover is over the cell cap joins through the fallback, not a refusal") {
    // A0 spans 200°×100°: its z=8 cover needs ~12k cells (> 4096); B3 is a
    // 170° strip, oversized on the right side too
    val left = df(Seq(
      rect(0L, -100.0, -50.0, 100.0, 50.0),
      rect(1L, 120.0, 60.0, 122.0, 62.0),
      rect(2L, -5.0, -5.0, 5.0, 5.0)), "lid")
    val right = df(Seq(
      rect(0L, 0.0, 0.0, 1.0, 1.0),
      rect(1L, 121.0, 61.0, 125.0, 65.0),
      rect(2L, 150.0, -80.0, 151.0, -79.0),
      rect(3L, -85.0, -80.0, 85.0, -48.0)), "rid")
    def cells(d: DataFrame, id: String) = d.collect().map(r =>
      r.getAs[Long](id) -> graft.functions.GeoKernel.coverCount(r.getAs[Array[Byte]]("wkb"), 8)).toMap
    assert(cells(left, "lid")(0L) > 4096 && cells(right, "rid")(3L) > 4096)
    val brute = (for {
      l <- left.collect(); r <- right.collect()
      if graft.functions.GeoKernel.intersects(l.getAs[Array[Byte]]("wkb"), r.getAs[Array[Byte]]("wkb"))
    } yield (l.getAs[Long]("lid"), r.getAs[Long]("rid"))).toSet
    assert(brute === Set((0L, 0L), (0L, 3L), (1L, 1L), (2L, 0L)))
    val joined = SpatialJoin.intersectsJoin(left, right, z = 8)
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(joined.sorted.toSeq === brute.toSeq.sorted)
    val ident = SpatialJoin.identity(left, right, z = 8)
      .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect()
    assert(ident.collect { case (l, Some(r)) => (l, r) }.sorted.toSeq === brute.toSeq.sorted)
    assert(ident.collect { case (l, None) => l }.sorted.toSeq === Seq(0L, 1L, 2L))
  }
}
