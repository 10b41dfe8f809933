package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{gf, GeoKernel, GraftFunctions}

/** The optimizer rule must turn a naive spatial-predicate join (nested
  * loop) into a cell equi-join, with identical results. The only
  * nested-loop remnant allowed in the rewritten plan is the oversize
  * fallback branch, whose input is filtered to geometries over the
  * st_cover_count cap (empty in the common case; AQE collapses it). */
class CellJoinRuleSpec extends AnyFunSuite {

  private def assertCellRewrite(plan: String): Unit = {
    assert(plan.contains("__graft_cell"), s"no cell equi-join in:\n$plan")
    // any remaining quadratic join must be the guarded oversize branch:
    // every nested-loop/cartesian operator consumes an st_cover_count filter
    val quadratic = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
    if (quadratic)
      assert(plan.contains("st_cover_count"),
        s"unguarded quadratic join in:\n$plan")
  }

  /** 3000 event points and 20 lat-bounded bands, 10° wide at 18° spacing. */
  private lazy val bands = {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    import s.implicits._
    val pts = Queries.eventPoints(s, "/root/testdata/sf0.001")
      .where(col("event_id") < 3000).cache()
    val polys = (0 until 20).map { i =>
      val x0 = -180.0 + 18.0 * i
      (i.toLong, s"POLYGON (($x0 -50, ${x0 + 10} -50, ${x0 + 10} 50, $x0 50, $x0 -50))")
    }.toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt").cache()
    (pts, polys)
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("event_id", "poly_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

  test("naive st_contains_point join is rewritten to a hash join on cell") {
    val (pts, polys) = bands
    // naive formulation: join condition is ONLY the spatial predicate
    val naive = pts.join(polys,
      gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
    assertCellRewrite(naive.queryExecution.executedPlan.toString)

    // results must equal the hand-built cell join
    val got = pairs(naive)
    val want = pairs(engine.SpatialJoin.pipJoin(pts, polys, z = 4))
    assert(got.sameElements(want), s"${got.length} vs ${want.length}")
    assert(got.nonEmpty)
  }

  test("naive st_intersects_point join is rewritten and matches a brute-force join") {
    val (pts, polys) = bands
    val pred = gf.st_intersects_point(polys("wkb"), pts("lon"), pts("lat"))
    val naive = pts.join(polys, pred)
    assertCellRewrite(naive.queryExecution.executedPlan.toString)
    val got = pairs(naive)
    // oracle: every (point, band) pair of the collected rows tested by the kernel
    // (a join guarded with `&& lit(true)` is no oracle: the optimizer folds
    // the guard away before the rule runs, so the rule plans it too)
    val bandRows = polys.collect().map(r => (r.getAs[Long]("poly_id"), r.getAs[Array[Byte]]("wkb")))
    val brute = (for {
      p <- pts.collect(); (id, w) <- bandRows
      if GeoKernel.intersectsPoint(w, p.getAs[Double]("lon"), p.getAs[Double]("lat"))
    } yield (p.getAs[Long]("event_id"), id)).sorted
    assert(got.sameElements(brute), s"${got.length} vs ${brute.length}")
    // the boundary predicate accepts every interior hit
    val interior = pairs(pts.join(polys,
      gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat"))))
    assert(interior.nonEmpty && interior.toSet.subsetOf(got.toSet))
  }

  test("a malformed celljoin zoom is refused, naming the key and the value") {
    val (pts, polys) = bands
    val s = SparkTestSession.spark
    s.conf.set("spark.graft.celljoin.zoom", "abc")
    try {
      val e = intercept[Exception] {
        pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
          .queryExecution.optimizedPlan
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(m => m.contains("spark.graft.celljoin.zoom") && m.contains("'abc'")),
        msgs.mkString("\n"))
    } finally s.conf.unset("spark.graft.celljoin.zoom")
  }

  test("oversized polygons at a user-raised zoom fall back instead of throwing") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    import s.implicits._
    val pts = Seq((1L, 10.0, 10.0), (2L, 100.0, -20.0), (3L, 10.5, 10.5))
      .toDF("pid", "lon", "lat")
    // world-spanning polygon: cover at z=10 would need ~10^6 cells (> 4096)
    val polys = Seq(
      (100L, "POLYGON ((-179 -80, 179 -80, 179 80, -179 80, -179 -80))"),
      (200L, "POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))"))
      .toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    s.conf.set("spark.graft.celljoin.zoom", "10")
    try {
      val joined = pts.join(polys,
        gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
      val got = joined.select("pid", "poly_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // big polygon contains all three points; small one contains 1 and 3
      assert(got.toSeq == Seq((1L, 100L), (1L, 200L), (2L, 100L), (3L, 100L), (3L, 200L)))
    } finally s.conf.unset("spark.graft.celljoin.zoom")
  }

  test("naive st_intersects polygon-polygon join is rewritten and deduped") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    import s.implicits._
    def grid(pre: String, n: Int, step: Double, size: Double) = {
      (0 until n * n).map { i =>
        val x0 = -150.0 + step * (i % n); val y0 = -60.0 + step * (i / n)
        (s"$pre$i", s"POLYGON (($x0 $y0, ${x0 + size} $y0, ${x0 + size} ${y0 + size}, $x0 ${y0 + size}, $x0 $y0))")
      }.toDF("id", "wkt").withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    }
    val a = grid("a", 8, 30.0, 35.0)
    val b = grid("b", 8, 30.0, 35.0).withColumnRenamed("id", "id_b")
      .withColumnRenamed("wkb", "wkb_b")
    val naive = a.join(b, gf.st_intersects(col("wkb"), col("wkb_b")))
    assertCellRewrite(naive.queryExecution.executedPlan.toString)
    val got = naive.select("id", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    // oracle: every pair of the collected rows tested by the kernel
    val bRows = b.collect().map(r => (r.getAs[String]("id_b"), r.getAs[Array[Byte]]("wkb_b")))
    val brute = (for {
      ra <- a.collect(); (idB, wb) <- bRows
      if GeoKernel.intersects(ra.getAs[Array[Byte]]("wkb"), wb)
    } yield (ra.getAs[String]("id"), idB)).sorted
    assert(got.sameElements(brute), s"${got.length} vs ${brute.length}")
    assert(got.length > 64, "expected overlapping neighbors beyond self-matches")
  }
}
