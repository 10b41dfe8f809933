package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GDALComputeMatchingPoints / simplified SURF correlator
  * (reference: alg/gdal_simplesurf.cpp, alg/gdal_octave.cpp,
  * alg/gdalmatching.cpp — Bay et al.'s Speeded-Up Robust Features in the
  * reference's simplified, rotation-sensitive form).
  *
  * Reference semantics mirrored exactly:
  *  - integral image with the `val - a + b + c` recurrence
  *    (gdal_octave.cpp:51-68) and the boundary-clamped rectangle sum with
  *    its `(row <= nHeight) ? row-1 : -1` / `(row+h < nHeight) ? … : h-1`
  *    corner rules and the final negative-sum floor at 0
  *    (gdal_octave.cpp:82-119);
  *  - octave layer fast-Hessian: filterSize = 3·2^oct·interval + 1,
  *    lobe = filterSize/3, longPart = 2·lobe-1, det = dxx·dyy − 0.9²·dxy²
  *    after dividing each by filterSize², sign = sgn(dxx+dyy), computed for
  *    rows/cols in [radius, size-radius] INCLUSIVE (gdal_octave.cpp:148-208);
  *  - extremum: candidate strictly greater than all 26 neighbours across
  *    the (bot, mid, top) interval triplet, at least `threshold`, and the
  *    whole top-layer radius inside the image (gdal_octave.cpp:247-279);
  *    scan order is (interval, row, col) per octave (gdal_simplesurf.cpp:
  *    248-271) — feature ids preserve it;
  *  - 64-component descriptor: 4×4 quadrants × 5×5 sub-quadrants of a
  *    20·scale window, Haar wavelets of side 2·scale at sub-quadrant
  *    centres, components (Σdx, Σdy, Σ|dx|, Σ|dy|) per quadrant
  *    (gdal_simplesurf.cpp:304-364);
  *  - matching (gdal_simplesurf.cpp:369-522): the SMALLER collection is
  *    scanned greedily in id order; per point the nearest same-sign
  *    unmatched candidate wins (first index on ties via strict <), and the
  *    second-nearest distance replays the reference's ORDER-DEPENDENT scan:
  *    it is seeded by the FIRST examined candidate's distance and only
  *    updated by later candidates strictly between the running best and the
  *    running second-best — so when the first candidate is also the best,
  *    the ratio test compares best against itself and rejects the pair;
  *    accepted pairs (ratio < 0.8) are normalized by the maximum matched
  *    distance and kept when ≤ matchingThreshold (default 0.015,
  *    gdalmatching.cpp:188);
  *  - GCP output: +0.5 half-pixel centres, pixel/line from the first image
  *    and X/Y from the second (gdalmatching.cpp:253-264).
  *
  * Spark shape for 100 TB: detection is MAP-ONLY over an image corpus (one
  * task per image row; the octave map is O(H·W) per layer and never leaves
  * the executor), detected points aggregate to one bounded array per image
  * (hundreds of points × 64 doubles), and matching is a per-pair local
  * computation after an equi-join of the pair table against the per-image
  * point lists on image id — a million image pairs is a million independent
  * tasks, no driver involvement and no quadratic shuffle. */
object Surf {

  final val DescSize = 64

  final case class FeaturePoint(x: Int, y: Int, scale: Int, radius: Int,
                                sign: Int, desc: Array[Double])

  /** Integral image (gdal_octave.cpp:32-131). Values are stored row-major. */
  final class IntegralImage(val h: Int, val w: Int, m: Array[Double]) {
    @inline private def value(r: Int, c: Int): Double =
      if (r >= 0 && r < h && c >= 0 && c < w) m(r * w + c) else 0.0

    /** Boundary-clamped rectangle sum; (row,col) is the LEFT-TOP cell and
      * (wd,ht) the rectangle extent (gdal_octave.cpp:82-119). */
    def rectSum(row: Int, col: Int, wd: Int, ht: Int): Double = {
      val ltr = if (row <= h) row - 1 else -1
      val ltc = if (col <= w) col - 1 else -1
      val rbr = if (row + ht - 1 < h) row + ht - 1 else h - 1
      val rbc = if (col + wd - 1 < w) col + wd - 1 else w - 1
      val a = if (ltr >= 0 && ltc >= 0) value(ltr, ltc) else 0.0
      val b = if (ltr >= 0 && rbc >= 0) value(ltr, rbc) else 0.0
      val c = if (rbr >= 0 && rbc >= 0) value(rbr, rbc) else 0.0
      val d = if (rbr >= 0 && ltc >= 0) value(rbr, ltc) else 0.0
      val res = a + c - b - d
      if (res > 0) res else 0.0
    }

    def haarX(row: Int, col: Int, size: Int): Double =
      rectSum(row, col + size / 2, size / 2, size) -
        rectSum(row, col, size / 2, size)

    def haarY(row: Int, col: Int, size: Int): Double =
      rectSum(row + size / 2, col, size, size / 2) -
        rectSum(row, col, size, size / 2)
  }

  def integralImage(img: Array[Double], h: Int, w: Int): IntegralImage = {
    val m = new Array[Double](h * w)
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        val a = if (i - 1 >= 0 && j - 1 >= 0) m((i - 1) * w + (j - 1)) else 0.0
        val b = if (j - 1 >= 0) m(i * w + (j - 1)) else 0.0
        val c = if (i - 1 >= 0) m((i - 1) * w + j) else 0.0
        m(i * w + j) = img(i * w + j) - a + b + c
        j += 1
      }
      i += 1
    }
    new IntegralImage(h, w, m)
  }

  /** One octave layer's fast-Hessian field (gdal_octave.cpp:148-208).
    * detHessians/signs are zero outside the computed radius band, matching
    * how the extremum guard never reads those cells. */
  private final class Layer(val octave: Int, val interval: Int,
                            val h: Int, val w: Int) {
    val filterSize: Int = 3 * (1 << octave) * interval + 1
    val radius: Int = (filterSize - 1) / 2
    val scale: Int = 1 << octave
    val det: Array[Double] = new Array[Double](h * w)
    val sign: Array[Int] = new Array[Int](h * w)

    def compute(ii: IntegralImage): Unit = {
      val lobe = filterSize / 3
      val longPart = 2 * lobe - 1
      val norm = filterSize * filterSize
      var r = radius
      while (r <= h - radius) {
        var c = radius
        while (c <= w - radius) {
          var dxx = ii.rectSum(r - lobe + 1, c - radius, filterSize, longPart) -
            3 * ii.rectSum(r - lobe + 1, c - (lobe - 1) / 2, lobe, longPart)
          var dyy = ii.rectSum(r - radius, c - lobe - 1, longPart, filterSize) -
            3 * ii.rectSum(r - lobe + 1, c - lobe + 1, longPart, lobe)
          var dxy = ii.rectSum(r - lobe, c - lobe, lobe, lobe) +
            ii.rectSum(r + 1, c + 1, lobe, lobe) -
            ii.rectSum(r - lobe, c + 1, lobe, lobe) -
            ii.rectSum(r + 1, c - lobe, lobe, lobe)
          dxx /= norm
          dyy /= norm
          dxy /= norm
          det(r * w + c) = dxx * dyy - 0.9 * 0.9 * dxy * dxy
          sign(r * w + c) = if (dxx + dyy >= 0) 1 else -1
          c += 1
        }
        r += 1
      }
    }
  }

  private final val Intervals = 4 // GDALOctaveMap::INTERVALS

  /** SetDescriptor (gdal_simplesurf.cpp:304-364). */
  private def descriptor(x: Int, y: Int, scale: Int,
                         ii: IntegralImage): Array[Double] = {
    val haarFilterSize = 2 * scale
    val descSide = 20 * scale
    val quadStep = descSide / 4
    val subQuadStep = quadStep / 5
    val ltRow = y - descSide / 2
    val ltCol = x - descSide / 2
    val d = new Array[Double](DescSize)
    var count = 0
    var r = ltRow
    while (r < ltRow + descSide) {
      var c = ltCol
      while (c < ltCol + descSide) {
        var dx = 0.0; var dy = 0.0; var adx = 0.0; var ady = 0.0
        var sr = r
        while (sr < r + quadStep) {
          var sc = c
          while (sc < c + quadStep) {
            val cntrR = sr + subQuadStep / 2
            val cntrC = sc + subQuadStep / 2
            val curR = cntrR - haarFilterSize / 2
            val curC = cntrC - haarFilterSize / 2
            val cdx = ii.haarX(curR, curC, haarFilterSize)
            val cdy = ii.haarY(curR, curC, haarFilterSize)
            dx += cdx; dy += cdy
            adx += math.abs(cdx); ady += math.abs(cdy)
            sc += subQuadStep
          }
          sr += subQuadStep
        }
        d(count) = dx; d(count + 1) = dy
        d(count + 2) = adx; d(count + 3) = ady
        count += 4
        c += quadStep
      }
      r += quadStep
    }
    d
  }

  /** ExtractFeaturePoints (gdal_simplesurf.cpp:237-274): scan order
    * (octave, interval-triplet, row, col). */
  def detect(img: Array[Double], h: Int, w: Int, octaveStart: Int,
             octaveEnd: Int, threshold: Double): Vector[FeaturePoint] = {
    require(octaveStart >= 1 && octaveEnd >= octaveStart, "invalid octaves")
    val ii = integralImage(img, h, w)
    val out = Vector.newBuilder[FeaturePoint]
    var oct = octaveStart
    while (oct <= octaveEnd) {
      val layers = Array.tabulate(Intervals) { i =>
        val l = new Layer(oct, i + 1, h, w); l.compute(ii); l
      }
      var k = 0
      while (k < Intervals - 2) {
        val bot = layers(k); val mid = layers(k + 1); val top = layers(k + 2)
        var r = 0
        while (r < h) {
          var c = 0
          while (c < w) {
            if (isExtremum(r, c, bot, mid, top, threshold)) {
              val fp = FeaturePoint(c, r, mid.scale, mid.radius,
                mid.sign(r * w + c), descriptor(c, r, mid.scale, ii))
              out += fp
            }
            c += 1
          }
          r += 1
        }
        k += 1
      }
      oct += 1
    }
    out.result()
  }

  /** PointIsExtremum (gdal_octave.cpp:247-279). */
  private def isExtremum(row: Int, col: Int, bot: Layer, mid: Layer,
                         top: Layer, threshold: Double): Boolean = {
    val h = top.h; val w = top.w
    if (row <= top.radius || col <= top.radius ||
        row + top.radius >= h || col + top.radius >= w) return false
    val cur = mid.det(row * w + col)
    if (cur < threshold) return false
    var i = -1
    while (i <= 1) {
      var j = -1
      while (j <= 1) {
        val idx = (row + i) * w + (col + j)
        if (top.det(idx) >= cur || bot.det(idx) >= cur) return false
        if ((i != 0 || j != 0) && mid.det(idx) >= cur) return false
        j += 1
      }
      i += 1
    }
    true
  }

  def euclideanDistance(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < DescSize) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** MatchFeaturePoints (gdal_simplesurf.cpp:369-522). Returns accepted
    * pairs as (index in `first`, index in `second`, NORMALIZED distance),
    * in greedy scan order. */
  def matchPoints(first: IndexedSeq[FeaturePoint],
                  second: IndexedSeq[FeaturePoint],
                  threshold: Double): Seq[(Int, Int, Double)] = {
    val ratioThreshold = 0.8
    // p1 = the smaller collection; ties go to the SECOND (minLength==len_2
    // branch, gdal_simplesurf.cpp:409-416).
    val swap = second.length <= first.length
    val p1 = if (swap) second else first
    val p2 = if (swap) first else second
    val matched = new Array[Boolean](p2.length)
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var i = 0
    while (i < p1.length) {
      var bestDist = -1.0; var bestIndex = -1; var bestDist2 = -1.0
      var j = 0
      while (j < p2.length) {
        if (!matched(j) && p1(i).sign == p2(j).sign) {
          val cur = euclideanDistance(p1(i).desc, p2(j).desc)
          if (bestDist == -1.0) { bestDist = cur; bestIndex = j }
          else if (cur < bestDist) { bestDist = cur; bestIndex = j }
          // reference's order-dependent second-best scan
          if (bestDist2 < 0) bestDist2 = cur
          else if (cur > bestDist && cur < bestDist2) bestDist2 = cur
        }
        j += 1
      }
      if (bestDist2 > 0 && bestDist >= 0 && bestDist / bestDist2 < ratioThreshold) {
        accepted += ((i, bestIndex, bestDist))
        matched(bestIndex) = true
      }
      i += 1
    }
    // NormalizeDistances + threshold pruning (gdal_simplesurf.cpp:288-302,
    // 493-515), un-swapped back to (first, second) orientation.
    var max = 0.0
    accepted.foreach { case (_, _, d) => if (d > max) max = d }
    accepted.iterator.map { case (i1, i2, d) =>
      val nd = if (max != 0.0) d / max else d
      if (swap) (i2, i1, nd) else (i1, i2, nd)
    }.filter(_._3 <= threshold).toSeq
  }

  // ------------------------------------------------------------------
  // Spark orchestration
  // ------------------------------------------------------------------

  /** Per-image detection over a corpus: (img_id, h, w, pixels) →
    * (img_id, fid, x, y, scale, radius, sign, desc). Map-only. */
  def detectPoints(images: DataFrame, octaveStart: Int, octaveEnd: Int,
                   threshold: Double): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("img_id", "h", "w", "pixels")
      .as[(Long, Int, Int, Array[Double])]
      .flatMap { case (id, h, w, px) =>
        detect(px, h, w, octaveStart, octaveEnd, threshold).zipWithIndex.map {
          case (fp, fid) => (id, fid, fp.x, fp.y, fp.scale, fp.radius, fp.sign, fp.desc)
        }
      }
      .toDF("img_id", "fid", "x", "y", "scale", "radius", "sign", "desc")
  }

  final case class SurfPt(fid: Int, x: Int, y: Int, scale: Int, radius: Int,
                          sign: Int, desc: Array[Double])
  final case class PairPts(id1: Long, id2: Long, pts1: Seq[SurfPt],
                           pts2: Seq[SurfPt])

  /** GDALComputeMatchingPoints over a pair table: images (img_id,h,w,pixels)
    * × pairs (id1, id2) → one GCP row per accepted match:
    * (id1, id2, mi, pixel, line, gcp_x, gcp_y, ndist) with the reference's
    * half-pixel centres. Detection is map-only; each pair's match is a
    * single local task after an equi-join on image id. */
  def matchImagePairs(images: DataFrame, pairs: DataFrame, octaveStart: Int,
                      octaveEnd: Int, surfThreshold: Double,
                      matchThreshold: Double): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val pts = detectPoints(images, octaveStart, octaveEnd, surfThreshold)
    // One bounded row per image: the full point list (id-ordered).
    val packed = pts
      .groupBy("img_id")
      .agg(sort_array(collect_list(struct(
        col("fid"), col("x"), col("y"), col("scale"), col("radius"),
        col("sign"), col("desc")))).as("pts"))
    pairs
      .join(packed.select(col("img_id").as("id1"), col("pts").as("pts1")), Seq("id1"))
      .join(packed.select(col("img_id").as("id2"), col("pts").as("pts2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("pts1"), col("pts2"))
      .as[PairPts]
      .flatMap { p =>
        def fp(s: Seq[SurfPt]) = s.sortBy(_.fid)
          .map(t => FeaturePoint(t.x, t.y, t.scale, t.radius, t.sign, t.desc))
          .toIndexedSeq
        val c1 = fp(p.pts1); val c2 = fp(p.pts2)
        matchPoints(c1, c2, matchThreshold).zipWithIndex.map {
          case ((i1, i2, nd), mi) =>
            val p1 = c1(i1); val p2 = c2(i2)
            (p.id1, p.id2, mi, p1.x + 0.5, p1.y + 0.5, p2.x + 0.5, p2.y + 0.5, nd)
        }
      }
      .toDF("id1", "id2", "mi", "pixel", "line", "gcp_x", "gcp_y", "ndist")
  }
}
