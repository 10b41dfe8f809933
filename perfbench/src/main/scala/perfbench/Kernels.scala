package perfbench

import graft.cell.CellId
import graft.geom.{GeoOps, Geom, Wkb, WkbPip, Wkt}

/** Warmed JVM micro-loops over the geom and cell kernels, in ns per call,
  * on fixed inputs taken from the workload's own generated polygons and
  * points. Each loop is timed in several repetitions after a warm-up and
  * reports the median. */
object Kernels {

  final case class Inputs(lon: Array[Double], lat: Array[Double], wkt: Array[String],
                          polyWkb: Array[Array[Byte]], pipPoly: Array[Int], pipPt: Array[Int])

  /** `n` docs' points and geo spans, plus the (polygon, point) pairs that
    * share a z=4 cell: the candidates the join's refine step tests. */
  def inputs(seed: Long, skew: Boolean, polys: IndexedSeq[Gen.Poly], n: Int): Inputs = {
    val pts = (0 until n).map(i => Gen.point(seed, i.toLong, skew))
    val wkt = (0 until n).map(i => Gen.geoWkt(seed, i.toLong, skew)).toArray
    val byCell = polys.indices.flatMap(p => CellId.cover(Wkb.read(polys(p).wkb), 4).map(_ -> p))
      .groupBy(_._1).map { case (c, v) => c -> v.map(_._2) }
    val pairs = pts.indices.flatMap { i =>
      byCell.getOrElse(CellId.fromLonLat(pts(i)._1, pts(i)._2, 4), Nil).map(p => (p, i))
    }.take(8192)
    Inputs(pts.map(_._1).toArray, pts.map(_._2).toArray, wkt, polys.map(_.wkb).toArray,
      pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** ns per op: `body(i)` is one op on input i of `n`; its result feeds a
    * sink so the JIT cannot drop it. */
  private def time(n: Int, reps: Int, opsPerRep: Int)(body: Int => Long): Double = {
    var sink = 0L
    var w = 0
    while (w < opsPerRep * 2) { sink += body(w % n); w += 1 }
    val per = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var k = 0
      while (k < opsPerRep) { sink += body(k % n); k += 1 }
      (System.nanoTime() - t0).toDouble / opsPerRep
    }.sorted
    if (sink == 42) println("") // keeps `sink` live
    per(per.size / 2)
  }

  def run(in: Inputs): Seq[(String, Double)] = {
    val geoms: Array[Geom] = in.wkt.map(Wkt.parse)
    val polyGeoms: Array[Geom] = in.polyWkb.map(Wkb.read)
    val cells = in.lon.indices.map(i => CellId.fromLonLat(in.lon(i), in.lat(i), 10)).toArray
    val n = in.lon.length; val np = in.polyWkb.length; val nq = in.pipPoly.length
    val reps = 7
    Seq(
      "geom.pip_ns" -> time(nq, reps, 40000) { i =>
        if (WkbPip.containsPoint(in.polyWkb(in.pipPoly(i)), in.lon(in.pipPt(i)), in.lat(in.pipPt(i)))) 1L else 0L },
      "geom.wkt_parse_ns" -> time(n, reps, 20000) { i => Wkt.parse(in.wkt(i)).hashCode.toLong },
      "geom.wkb_write_ns" -> time(n, reps, 40000) { i => Wkb.write(geoms(i)).length.toLong },
      "geom.wkb_read_ns" -> time(np, reps, 10000) { i => Wkb.read(in.polyWkb(i)).hashCode.toLong },
      "geom.greatcircle_ns" -> time(n, reps, 200000) { i =>
        val j = (i + 1) % n
        java.lang.Double.doubleToRawLongBits(GeoOps.greatCircle(in.lat(i), in.lon(i), in.lat(j), in.lon(j))) },
      "cell.from_lonlat_ns" -> time(n, reps, 200000) { i => CellId.fromLonLat(in.lon(i), in.lat(i), 4) },
      "cell.cover_ns" -> time(np, reps, 20000) { i => CellId.cover(polyGeoms(i), 4).length.toLong },
      "cell.disk_ns" -> time(n, reps, 5000) { i => CellId.disk(cells(i), 4).length.toLong },
    )
  }
}
