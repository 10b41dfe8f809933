package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.engine.{Blend, Contour, Fill, Focal, Palette, PixelFuncs, Proximity, Raster, Tile}

/** The shared cross-tile gathers: the halo exchange behind focal,
  * proximity, fill-nodata and contour must give the same per-pixel result
  * however the raster is tiled, and ship the same strips as before; the
  * tile stack behind the multi-source operators skips an incomplete
  * (z, x, y) and refuses sources of different tile sizes. */
class GatherSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import GatherSpec.value

  private def spark = SparkTestSession.spark

  // one 32×32 raster, as 16 tiles of 8×8 (z=2) and as one tile (z=0)
  private val G = 32

  private def tilings(f: (Long, Long) => Double): Seq[Dataset[Tile]] =
    Seq(Raster.syntheticTiles(spark, 2, tileSize = 8)(f),
      Raster.syntheticTiles(spark, 0, tileSize = G)(f))

  /** Row-major global raster from a tiling's result tiles. */
  private def stitch(tiles: Seq[Tile]): Seq[Double] = {
    val out = Array.fill(G * G)(Double.NaN)
    tiles.foreach { t =>
      for (y <- 0 until t.h; x <- 0 until t.w)
        out((t.y * t.h + y) * G + t.x * t.w + x) = t.pixels(y * t.w + x)
    }
    out.toSeq
  }

  private def assertTilingInvariant(name: String)(op: Dataset[Tile] => Seq[Tile]): Unit = {
    val Seq(tiled, whole) = tilings(value).map(ds => stitch(op(ds)))
    assert(!whole.exists(_.isNaN), name)
    val diff = tiled.indices.filter(i => tiled(i) != whole(i))
    assert(diff.isEmpty, s"$name: ${diff.size} pixels differ, first at ${diff.headOption}")
  }

  /** Records the single shuffle of `df`'s plan wrote, AQE off. */
  private def shuffleRecords(df: DataFrame): Long = {
    val s = spark
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val ex = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(ex.size === 1, plan.treeString)
      ex.head.metrics("shuffleRecordsWritten").value
    } finally s.conf.unset("spark.sql.adaptive.enabled")
  }

  test("proximity is tiling-invariant at radius 5 and 8") {
    for (r <- Seq(5, 8))
      assertTilingInvariant(s"proximity r=$r")(ds =>
        Proximity.proximity(ds, r, _ < 4.0).collect().toSeq)
  }

  test("fillNodata is tiling-invariant at radius 3") {
    val s = spark
    import s.implicits._
    val nd = -1.0
    // scattered nodata pixels plus a 10×10 hole whose middle is out of reach
    def holes(gx: Long, gy: Long): Double =
      if ((gx * 7 + gy * 3) % 5 == 0 || (gx >= 12 && gx < 22 && gy >= 12 && gy < 22)) nd
      else value(gx, gy)
    val Seq(tiled, whole) = tilings(holes).map(ds => stitch(Fill.fillNodata(ds, 3, nd).collect().toSeq))
    assert(tiled === whole)
    assert(whole.count(_ == nd) > 0 && whole.count(_ == nd) < 100, "the hole's middle keeps nodata")
    assert(Raster.syntheticTiles(s, 0, tileSize = G)(holes).map(_.pixels.count(_ == nd)).collect().head >
      whole.count(_ == nd))
  }

  test("focalMulti(size = 5) is tiling-invariant for every kernel") {
    // an order-sensitive weighted sum and a max over the 25-pixel window
    val weighted: Array[Double] => Double = w => {
      var s = 0.0; var k = 0
      while (k < w.length) { s += w(k) * (k + 1); k += 1 }
      s
    }
    val max: Array[Double] => Double = _.max
    for (fi <- 0 to 1)
      assertTilingInvariant(s"focalMulti kernel $fi")(ds =>
        Focal.focalMulti(ds, Seq(weighted, max), 5, nodataOut = -9.0)
          .collect().toSeq.collect { case (`fi`, t) => t })
  }

  test("contour per-level segment counts and lengths are tiling-invariant") {
    import org.apache.spark.sql.functions.sum
    val Seq(tiled, whole) = tilings(value).map { ds =>
      Contour.contour(ds, Seq(20.0, 50.5, 80.0)).groupBy("level")
        .agg(sum("n_segments"), sum("len_u")).orderBy("level").collect().toSeq
    }
    assert(tiled === whole)
    assert(whole.forall(_.getLong(1) > 0), whole)
  }

  test("the halo shuffle writes 9 records per tile (4 for contour)") {
    val s = spark
    import s.implicits._
    val tiles = Raster.syntheticTiles(s, 2, tileSize = 8)(value)
    assert(shuffleRecords(Focal.focalMulti(tiles, Seq(Focal.maxWindow _), 5).toDF()) === 16 * 9)
    assert(shuffleRecords(Proximity.proximity(tiles, 5, _ < 4.0).toDF()) === 16 * 9)
    assert(shuffleRecords(Fill.fillNodata(tiles, 3, -1.0).toDF()) === 16 * 9)
    assert(shuffleRecords(Contour.contour(tiles, Seq(50.5))) === 16 * 4)
  }

  test("a negative radius is refused at the call") {
    val tiles = Raster.syntheticTiles(spark, 2, tileSize = 8)(value)
    val p = intercept[IllegalArgumentException](Proximity.proximity(tiles, -1, _ < 4.0))
    assert(p.getMessage.contains("radius"), p.getMessage)
    val f = intercept[IllegalArgumentException](Fill.fillNodata(tiles, -2, -1.0))
    assert(f.getMessage.contains("radius"), f.getMessage)
  }

  test("the tile stack drops exactly the (z, x, y) one source is missing") {
    val s = spark
    import s.implicits._
    def src(k: Int) = Raster.syntheticTiles(s, 1, tileSize = 4)((gx, gy) => ((gx + k * gy) % 200).toDouble)
    val holed = src(3).filter(t => !(t.x == 1 && t.y == 0))
    val want = Set((0, 0), (0, 1), (1, 1))
    def keys(ds: Dataset[Tile]): Set[(Int, Int)] = ds.collect().map(t => (t.x, t.y)).toSet
    assert(keys(PixelFuncs.combineN(Seq(src(1), holed))(_.sum)) === want)
    assert(keys(Blend.srcOver(Seq(src(1), src(2), src(4), src(5)),
      Seq(src(6), src(7), src(8), holed), 128)) === want)
    assert(keys(Raster.pansharpen(src(1), Seq(src(2), holed), Seq(0.5, 0.5))) === want)
    assert(keys(Palette.applyPalette(src(1), src(2), holed, Array((0, 0, 0), (255, 255, 255)))) === want)
    // the complete tiles still combine pixel by pixel
    val sums = PixelFuncs.combineN(Seq(src(1), holed))(_.sum).collect()
    val a = src(1).collect(); val b = holed.collect()
    sums.foreach { t =>
      val (ta, tb) = (a.find(u => u.x == t.x && u.y == t.y).get, b.find(u => u.x == t.x && u.y == t.y).get)
      assert(t.pixels.toSeq === ta.pixels.indices.map(i => ta.pixels(i) + tb.pixels(i)))
    }
  }

  test("the tile stack refuses sources whose tiles at one (z, x, y) differ in size") {
    val s = spark
    import s.implicits._
    val small = Seq(Tile(0, 0, 0, 1, 4, 4, Array.fill(16)(1.0))).toDS()
    val big = Seq(Tile(0, 0, 0, 1, 8, 8, Array.fill(64)(2.0))).toDS()
    val e = intercept[Exception](PixelFuncs.combineN(Seq(small, big))(_.sum).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    val msg = causes.collectFirst { case c: IllegalArgumentException => c.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException among the causes of $e"))
    assert(msg.contains("(0, 0, 0)") && msg.contains("4x4") && msg.contains("8x8"), msg)
  }

  test("diffF refuses tiles of different sizes at one (z, x, y), in either order") {
    val s = spark
    import s.implicits._
    val small = Seq(Tile(0, 0, 0, 1, 4, 4, Array.fill(16)(1.0))).toDS()
    val big = Seq(Tile(0, 0, 0, 1, 8, 8, Array.fill(64)(2.0))).toDS()
    for ((a, b) <- Seq((big, small), (small, big))) {
      val e = intercept[Exception](PixelFuncs.diffF(a, b).collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      val msg = causes.collectFirst { case c: IllegalArgumentException => c.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException among the causes of $e"))
      assert(msg.contains("stacked sources differ in size") &&
        msg.contains("4x4") && msg.contains("8x8"), msg)
    }
  }
}

object GatherSpec {
  /** The test raster, outside the suite so task closures do not capture it. */
  def value(gx: Long, gy: Long): Double = ((gx * 13 + gy * 31) % 97).toDouble
}
