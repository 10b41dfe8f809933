package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.functions._
import graft.functions.{gf, GeoKernel, GraftExtensions, GraftFunctions}

/** The optimizer rule must turn a naive spatial-predicate join (nested
  * loop) into a cell equi-join, with identical results. The only
  * nested-loop remnant allowed in the rewritten plan is the polygon-polygon
  * oversize fallback branch, whose input is filtered to geometries over
  * the st_join_cover_count cap (empty in the common case; AQE collapses it). */
class CellJoinRuleSpec extends AnyFunSuite {

  private def assertCellRewrite(plan: String): Unit = {
    assert(plan.contains("__graft_cell"), s"no cell equi-join in:\n$plan")
    // any remaining quadratic join must be the guarded oversize branch:
    // every nested-loop/cartesian operator consumes an st_join_cover_count filter
    val quadratic = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
    if (quadratic)
      assert(plan.contains("st_join_cover_count"),
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

  test("a world-spanning polygon at z=10 gives the brute-force rows through pipJoin, pipJoinSalted and the rule") {
    val s = SparkTestSession.spark
    import s.implicits._
    val (pts, bandPolys) = bands
    // the world polygon's cover at z=10 needs ~10^6 cells (> 4096): it is
    // keyed by its zoom-6 cover, the bands by their covers
    val world = Seq((100L, "POLYGON ((-179 -80, 179 -80, 179 80, -179 80, -179 -80))"))
      .toDF("poly_id", "wkt").withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    val polys = bandPolys.unionByName(world)
    val polyRows = polys.collect().map(r => (r.getAs[Long]("poly_id"), r.getAs[Array[Byte]]("wkb")))
    val brute = (for {
      p <- pts.collect(); (id, w) <- polyRows
      if GeoKernel.containsPoint(w, p.getAs[Double]("lon"), p.getAs[Double]("lat"))
    } yield (p.getAs[Long]("event_id"), id)).sorted
    assert(brute.count(_._2 == 100L) > 500, "the world polygon should hold many points")
    assert(pairs(engine.SpatialJoin.pipJoin(pts, polys, z = 10)).toSeq === brute.toSeq)
    assert(pairs(engine.SpatialJoin.pipJoinSalted(pts, polys, z = 10, salt = 4,
      saltKey = col("event_id"))).toSeq === brute.toSeq)
    s.conf.set("spark.graft.celljoin.zoom", "10")
    try {
      val naive = pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
      assert(pairs(naive).toSeq === brute.toSeq)
    } finally s.conf.unset("spark.graft.celljoin.zoom")
    // the same rows when the join is shuffled rather than broadcast
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = engine.SpatialJoin.pipJoin(pts, polys, z = 10, broadcastPolys = false)
      assert(pairs(shuffled).toSeq === brute.toSeq)
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a shuffled point join at z <= 6 shuffles each point once; above, once more under its zoom-6 cell") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val s = SparkTestSession.spark
    val (pts, polys) = bands
    val n = pts.count()
    val helper = new AdaptiveSparkPlanHelper {}
    /** Rows the points side writes to its shuffle. */
    def pointShuffle(z: Int): Long = {
      val df = engine.SpatialJoin.pipJoin(pts, polys, z, broadcastPolys = false)
      df.collect()
      val exchanges = helper.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "event_id") => e
      }
      assert(exchanges.size === 1, df.queryExecution.executedPlan.treeString)
      exchanges.head.metrics("shuffleRecordsWritten").value
    }
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(pointShuffle(4) === n)
      assert(pointShuffle(6) === n)
      assert(pointShuffle(10) === 2 * n)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.adaptive.enabled")
    }
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

  test("under GraftExtensions alone the rewrite runs once per join") {
    // the injected rule shares the operator-optimization batch with
    // BooleanSimplification: its fallback guard must survive that batch, or
    // the rule re-fires on its own fallback joins until the batch gives up.
    // A new session on the shared context, with no register: the builder
    // reads spark.sql.extensions from the context's conf, so the session
    // takes the class that key names through withExtensions.
    val shared = SparkTestSession.spark
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      // Range-based inputs and a polygon built from its row: the optimizer
      // can neither fold the inputs to local rows nor the polygon to a
      // literal (a literal polygon turns the join into a filter)
      val pts = s.range(50).select(col("id").as("pid"),
        (col("id") * 7.0 - 175.0).as("lon"), (col("id") % 9 * 10.0 - 40.0).as("lat"))
      val x0 = (col("id") - 120).cast("string")
      val poly = s.range(1).select(col("id").as("poly_id"), gf.st_geomfromtext(concat(
        lit("POLYGON (("), x0, lit(" -30, 60 -30, 60 30, "), x0, lit(" 30, "), x0, lit(" -30))")))
        .as("wkb"))
      // 6×6 grids of 35° squares at 30° spacing: neighbors overlap
      val grid = s.range(36).select(col("id"),
        (col("id") % 6 * 30.0 - 150.0).as("x"), (floor(col("id") / 6) * 30.0 - 60.0).as("y"))
      def sq(pre: String): DataFrame = grid.select(concat(lit(pre), col("id")).as(s"id_$pre"),
        gf.st_geomfromtext(concat(lit("POLYGON (("),
          col("x"), lit(" "), col("y"), lit(", "), col("x") + 35, lit(" "), col("y"), lit(", "),
          col("x") + 35, lit(" "), col("y") + 35, lit(", "), col("x"), lit(" "), col("y") + 35, lit(", "),
          col("x"), lit(" "), col("y"), lit("))"))).as(s"wkb_$pre"))
      val (a, b) = (sq("a"), sq("b"))
      val pointJoin = pts.join(poly, gf.st_contains_point(poly("wkb"), pts("lon"), pts("lat")))
      def geomJoin = a.join(b, gf.st_intersects(col("wkb_a"), col("wkb_b")))
      // the point join keys oversized polygons by their zoom-6 cover: no
      // fallback branch; above zoom 6 the geom join unions its fallback
      // branches, at zoom 4 no cover can be oversized and it has none
      for ((df, zoom, wantUnions) <- Seq((pointJoin, 4, 0), (geomJoin, 8, 1), (geomJoin, 4, 0))) {
        val t0 = System.nanoTime()
        s.conf.set("spark.graft.celljoin.zoom", zoom.toString)
        val plan = try df.queryExecution.optimizedPlan
          finally s.conf.unset("spark.graft.celljoin.zoom")
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 10.0, s"optimization took $secs s")
        val unions = plan.collect { case u: Union => u }
        val cellJoins = plan.collect {
          case j: Join if j.condition.exists(_.references.exists(_.name.startsWith("__graft_cell"))) => j
        }
        assert(unions.size === wantUnions && cellJoins.size === 1, plan.treeString)
      }
      val polyWkb = poly.collect().head.getAs[Array[Byte]]("wkb")
      val wantPts = pts.collect().collect {
        case r if GeoKernel.containsPoint(polyWkb, r.getAs[Double]("lon"), r.getAs[Double]("lat")) =>
          r.getAs[Long]("pid")
      }.sorted
      val gotPts = pointJoin.select("pid").collect().map(_.getLong(0)).sorted
      assert(gotPts.toSeq === wantPts.toSeq && gotPts.nonEmpty)
      val bRows = b.collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      val wantGeom = (for {
        ra <- a.collect(); (idB, wb) <- bRows
        if GeoKernel.intersects(ra.getAs[Array[Byte]](1), wb)
      } yield (ra.getString(0), idB)).sorted
      val gotGeom = geomJoin.select("id_a", "id_b").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted
      assert(gotGeom.toSeq === wantGeom.toSeq && gotGeom.length > 36)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
