package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** RGB → palette: median-cut color quantization + Floyd–Steinberg dither
  * (reference: GDALComputeMedianCutPCT, /root/reference/alg/gdalmediancut.cpp
  * — 5-bit histogram, Heckbert box splitting; GDALDitherRGB2PCT,
  * /root/reference/alg/gdaldither.cpp — FS error diffusion to four
  * neighbors).
  *
  * Spark shape: each pass reads the r, g, b tiles of one (z,x,y) together
  * through the shared tile stack ([[Gather.stack]]). The color HISTOGRAM
  * is the distributed part (bounded at (2^nBits)³ bins regardless of
  * raster size — a groupBy whose result always fits on the driver); the
  * box-cutting runs on that bounded
  * histogram centrally, exactly like GDAL. Palette entries are the
  * count-weighted mean of the ORIGINAL colors per box (GDAL reconstructs
  * from quantized levels — documented improvement, exact for
  * single-color boxes). Nearest-color mapping is a narrow per-pixel map.
  * Dithering diffuses error PER TILE (GDAL is whole-image sequential by
  * scanline; the tile-local variant resets error at tile edges —
  * documented deviation, required for any parallel execution). */
object Palette {

  /** Median-cut palette of nColors from an RGB raster. `nBits` in [1, 8]
    * is the per-channel histogram depth, so the histogram the driver
    * collects has at most 2^(3·nBits) rows (2^24 at nBits = 8). */
  def medianCut(r: Dataset[Tile], g: Dataset[Tile], b: Dataset[Tile],
                nColors: Int, nBits: Int = 5): Array[(Int, Int, Int)] = {
    require(nBits >= 1 && nBits <= 8, s"nBits must be in [1, 8], got $nBits")
    val spark = r.sparkSession
    import spark.implicits._
    val lv = 1 << nBits
    val shift = 8 - nBits
    // distributed bounded histogram: (bin, count, sumR, sumG, sumB)
    val hist = Gather.stack(Seq(r, g, b)) { (_, _, _, _, _, bands) =>
      val m = scala.collection.mutable.HashMap[Int, (Long, Long, Long, Long)]()
      var i = 0
      while (i < bands(0).length) {
        val rv = bands(0)(i).toInt; val gv = bands(1)(i).toInt; val bv = bands(2)(i).toInt
        val bin = ((rv >> shift) * lv + (gv >> shift)) * lv + (bv >> shift)
        val cur = m.getOrElse(bin, (0L, 0L, 0L, 0L))
        m(bin) = (cur._1 + 1, cur._2 + rv, cur._3 + gv, cur._4 + bv)
        i += 1
      }
      m.iterator.map { case (k, v) => (k, v._1, v._2, v._3, v._4) }
    }.toDF("bin", "n", "sr", "sg", "sb")
      .groupBy("bin")
      .agg(sum("n").as("n"), sum("sr").as("sr"), sum("sg").as("sg"), sum("sb").as("sb"))
      .collect()
      .map(row => (row.getInt(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4)))

    // central Heckbert median cut over the bounded histogram
    final case class Box(var bins: Array[(Int, Long, Long, Long, Long)]) {
      def count: Long = bins.map(_._2).sum
      def rOf(bin: Int): Int = bin / (lv * lv)
      def gOf(bin: Int): Int = (bin / lv) % lv
      def bOf(bin: Int): Int = bin % lv
      def range(f: Int => Int): Int =
        if (bins.isEmpty) 0 else bins.map(x => f(x._1)).max - bins.map(x => f(x._1)).min
    }
    var boxes = ArrayBuffer(Box(hist.map(h => (h._1, h._2, h._3, h._4, h._5))))
    while (boxes.length < nColors) {
      // split the most-populated box that still has >1 distinct bin
      val cand = boxes.filter(_.bins.length > 1)
      if (cand.isEmpty) {
        boxes += Box(Array.empty) // degenerate: fewer colors than requested
      } else {
        val bx = cand.maxBy(_.count)
        val (rr, gr, br) = (bx.range(bx.rOf), bx.range(bx.gOf), bx.range(bx.bOf))
        val axis: Int => Int =
          if (rr >= gr && rr >= br) bx.rOf else if (gr >= br) bx.gOf else bx.bOf
        val sortedBins = bx.bins.sortBy(x => axis(x._1))
        val half = bx.count / 2
        var acc = 0L; var cut = 0
        while (cut < sortedBins.length - 1 && acc + sortedBins(cut)._2 <= half) {
          acc += sortedBins(cut)._2; cut += 1
        }
        if (cut == 0) cut = 1
        val (lo, hi) = sortedBins.splitAt(cut)
        bx.bins = lo
        boxes += Box(hi)
      }
    }
    boxes.filter(_.bins.nonEmpty).map { bx =>
      val n = bx.count.toDouble
      ((bx.bins.map(_._3).sum / n + 0.5).toInt,
       (bx.bins.map(_._4).sum / n + 0.5).toInt,
       (bx.bins.map(_._5).sum / n + 0.5).toInt)
    }.toArray
  }

  /** Nearest palette color by squared RGB distance, first-min tie
    * (gdaldither.cpp FindNearestColor). */
  def nearest(palette: Array[(Int, Int, Int)], rv: Int, gv: Int, bv: Int): Int = {
    var best = 0; var bestD = Int.MaxValue
    var i = 0
    while (i < palette.length) {
      val dr = palette(i)._1 - rv; val dg = palette(i)._2 - gv; val db = palette(i)._3 - bv
      val d = dr * dr + dg * dg + db * db
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Per-pixel nearest-color index raster (no dithering). */
  def applyPalette(r: Dataset[Tile], g: Dataset[Tile], b: Dataset[Tile],
                   palette: Array[(Int, Int, Int)]): Dataset[Tile] = {
    val spark = r.sparkSession
    import spark.implicits._
    val pal = palette
    Gather.stack(Seq(r, g, b)) { (z, x, y, tw, th, bands) =>
      val out = new Array[Double](tw * th)
      var i = 0
      while (i < out.length) {
        out(i) = nearest(pal, bands(0)(i).toInt, bands(1)(i).toInt, bands(2)(i).toInt)
        i += 1
      }
      Iterator.single(Tile(z, x, y, 1, tw, th, out))
    }
  }

  /** Floyd–Steinberg dithered index raster, tile-local error diffusion
    * (right 7/16, below-left 3/16, below 5/16, below-right 1/16). */
  def dither(r: Dataset[Tile], g: Dataset[Tile], b: Dataset[Tile],
             palette: Array[(Int, Int, Int)]): Dataset[Tile] = {
    val spark = r.sparkSession
    import spark.implicits._
    val pal = palette
    Gather.stack(Seq(r, g, b)) { (z, x, y, tw, th, bands) =>
      val err = Array.fill(3)(new Array[Double](tw * th))
      val out = new Array[Double](tw * th)
      var yy = 0
      while (yy < th) {
        var xx = 0
        while (xx < tw) {
          val i = yy * tw + xx
          def clamp255(v: Double): Int = math.min(255, math.max(0, (v + 0.5).toInt))
          val rv = clamp255(bands(0)(i) + err(0)(i))
          val gv = clamp255(bands(1)(i) + err(1)(i))
          val bv = clamp255(bands(2)(i) + err(2)(i))
          val idx = nearest(pal, rv, gv, bv)
          out(i) = idx
          var c = 0
          while (c < 3) {
            val e = (if (c == 0) rv - pal(idx)._1
                     else if (c == 1) gv - pal(idx)._2
                     else bv - pal(idx)._3).toDouble
            if (xx + 1 < tw) err(c)(i + 1) += e * 7.0 / 16.0
            if (yy + 1 < th) {
              if (xx > 0) err(c)(i + tw - 1) += e * 3.0 / 16.0
              err(c)(i + tw) += e * 5.0 / 16.0
              if (xx + 1 < tw) err(c)(i + tw + 1) += e * 1.0 / 16.0
            }
            c += 1
          }
          xx += 1
        }
        yy += 1
      }
      Iterator.single(Tile(z, x, y, 1, tw, th, out))
    }
  }
}
