package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Palette, Raster}

/** Median-cut + dither properties. */
class PaletteSpec extends AnyFunSuite {

  test("dither on palette-exact colors is error-free; gradient preserves mean") {
    val s = SparkTestSession.spark
    val pal = Array((0, 0, 0), (255, 255, 255), (128, 0, 0), (0, 128, 255))
    // constant color == palette entry 2: every index 2, no diffusion
    def const(v: (Int, Int, Int)) = (
      Raster.syntheticTiles(s, 0, tileSize = 32)((_, _) => v._1.toDouble),
      Raster.syntheticTiles(s, 0, tileSize = 32)((_, _) => v._2.toDouble),
      Raster.syntheticTiles(s, 0, tileSize = 32)((_, _) => v._3.toDouble))
    val (r0, g0, b0) = const(pal(2))
    val d = Palette.dither(r0, g0, b0, pal).collect()(0)
    assert(d.pixels.forall(_ == 2.0))

    // gray gradient with black/white palette: dithered density tracks the
    // mean gray level (error diffusion property), unlike plain nearest
    val gray = Raster.syntheticTiles(s, 0, tileSize = 64)((gx, _) => gx * 4.0)
    val bw = Array((0, 0, 0), (255, 255, 255))
    val dg = Palette.dither(gray, gray, gray, bw).collect()(0)
    val whiteFrac = dg.pixels.count(_ == 1.0).toDouble / dg.pixels.length
    val meanGray = (0 until 64).map(_ * 4.0).sum / 64.0 / 255.0
    assert(math.abs(whiteFrac - meanGray) < 0.02, s"$whiteFrac vs $meanGray")
    // plain nearest on the same input: hard threshold at 128
    val ng = Palette.applyPalette(gray, gray, gray, bw).collect()(0)
    val nearestWhite = ng.pixels.count(_ == 1.0).toDouble / ng.pixels.length
    assert(math.abs(nearestWhite - 0.5) < 0.02)
  }

  test("median cut recovers distinct colors when nColors >= distinct") {
    val s = SparkTestSession.spark
    def kOf(gx: Long, gy: Long): Long = ((gx >> 3) + (gy >> 3)) % 4
    val r = Raster.syntheticTiles(s, 0, tileSize = 32)((gx, gy) => (40 + 50 * kOf(gx, gy)).toDouble)
    val g = Raster.syntheticTiles(s, 0, tileSize = 32)((gx, gy) => (200 - 40 * kOf(gx, gy)).toDouble)
    val b = Raster.syntheticTiles(s, 0, tileSize = 32)((gx, gy) => (30 + 60 * kOf(gx, gy)).toDouble)
    val pal = Palette.medianCut(r, g, b, nColors = 4).toSet
    val want = (0 until 4).map(k => (40 + 50 * k, 200 - 40 * k, 30 + 60 * k)).toSet
    assert(pal == want, s"$pal vs $want")
  }

  test("median cut refuses a histogram depth outside [1, 8] bits") {
    val s = SparkTestSession.spark
    val c = Raster.syntheticTiles(s, 0, tileSize = 8)((gx, _) => gx * 30.0)
    for (bits <- Seq(0, 9)) {
      val e = intercept[IllegalArgumentException](Palette.medianCut(c, c, c, nColors = 4, nBits = bits))
      assert(e.getMessage.contains("nBits"), e.getMessage)
    }
  }
}
