package graft.engine

import org.apache.spark.sql.Dataset

/** The VRT derived-band pixel-function tail
  * (/root/reference/frmts/vrt/pixelfunctions.cpp — the registered set
  * beyond the norm_diff/reclassify pair already in Raster.mapPixels), plus
  * the `gdal raster nodata-to-alpha` step
  * (/root/reference/apps/gdalalg_raster_nodata_to_alpha.cpp).
  *
  * Spark shape: single-source functions are narrow maps (zero shuffle);
  * N-source functions are ONE groupByKey on the tile key (the shared
  * tile stack, [[Gather.stack]]) — the same
  * cost as any band-stack read, independent of raster size, so the plan
  * is unchanged at 100 TB (tiles are the unit of parallelism).
  *
  * NoData guards follow the reference (`IsNoData(v, nd) ? nd : f(v)` for
  * scalar funcs; N-ary funcs skip NoData inputs).
  *
  * Complex pixel types (CInt16/CInt32/CFloat32/CFloat64) are modeled as an
  * (re, im) TILE PAIR — the Spark-first shape for interleaved complex
  * bands — and the reference's complex pixel-function family
  * (real/imag/mod/phase/conj/cmul/polar, pixelfunctions.cpp:186-577,1645)
  * operates on such pairs below. real/imag are projections (free).
  */
object PixelFuncs {

  /** N-band per-pixel combine over the shared tile stack
    * ([[Gather.stack]]): one shuffle on (z,x,y). `f` sees the per-band
    * values in input order; an (z,x,y) missing from any source is skipped. */
  def combineN(srcs: Seq[Dataset[Tile]], outBand: Int = 1)
              (f: Array[Double] => Double): Dataset[Tile] = {
    require(srcs.nonEmpty)
    val spark = srcs.head.sparkSession
    import spark.implicits._
    val nb = srcs.length
    Gather.stack(srcs) { (z, x, y, tw, th, bands) =>
      val n = tw * th
      val out = new Array[Double](n)
      val v = new Array[Double](nb)
      var i = 0
      while (i < n) {
        var b = 0
        while (b < nb) { v(b) = bands(b)(i); b += 1 }
        out(i) = f(v)
        i += 1
      }
      Iterator.single(Tile(z, x, y, outBand, tw, th, out))
    }
  }

  // ---- single-source (narrow map, no shuffle) ----------------------------

  /** sqrt (SqrtPixelFunc, pixelfunctions.cpp:1877). */
  def sqrtF(src: Dataset[Tile]): Dataset[Tile] =
    Raster.mapPixels(src)(math.sqrt)

  /** abs of a real band (ModulePixelFunc real branch, :390). */
  def absF(src: Dataset[Tile]): Dataset[Tile] =
    Raster.mapPixels(src)(math.abs)

  /** fact·log10|x| (Log10PixelFuncHelper, :1923; log10 → fact=1). */
  def log10F(src: Dataset[Tile], fact: Double = 1.0): Dataset[Tile] =
    Raster.mapPixels(src)(v => fact * math.log10(math.abs(v)))

  /** dB (DBPixelFunc, :2023: fact default 20). */
  def dB(src: Dataset[Tile], fact: Double = 20.0): Dataset[Tile] =
    log10F(src, fact)

  /** base^(fact·x) (ExpPixelFuncHelper, :2037; exp → base=e, fact=1). */
  def expF(src: Dataset[Tile], base: Double = math.E, fact: Double = 1.0): Dataset[Tile] =
    Raster.mapPixels(src)(v => math.pow(base, v * fact))

  /** dB2amp = 10^(x/20); dB2pow = 10^(x/10) (:2105, :2115). */
  def dB2Amp(src: Dataset[Tile]): Dataset[Tile] =
    Raster.mapPixels(src)(v => math.pow(10, v / 20.0))
  def dB2Pow(src: Dataset[Tile]): Dataset[Tile] =
    Raster.mapPixels(src)(v => math.pow(10, v / 10.0))

  /** x^power (PowPixelFunc, :2132). */
  def powF(src: Dataset[Tile], power: Double): Dataset[Tile] =
    Raster.mapPixels(src)(v => math.pow(v, power))

  /** k/x (InvPixelFunc real branch, :1722; 0 → +inf like the reference). */
  def invF(src: Dataset[Tile], k: Double = 1.0): Dataset[Tile] =
    Raster.mapPixels(src)(v => k / v)

  /** round-half-away-from-zero (RoundPixelFunc, :586 → std::round). */
  def roundF(src: Dataset[Tile]): Dataset[Tile] =
    Raster.mapPixels(src)(v => if (v < 0) -math.floor(-v + 0.5) else math.floor(v + 0.5))

  /** x·scale + offset (ScalePixelFunc, :2357). */
  def scaleF(src: Dataset[Tile], scale: Double, offset: Double,
             noData: Option[Double] = None): Dataset[Tile] =
    Raster.mapPixels(src) { v =>
      if (noData.contains(v)) v else v * scale + offset
    }

  /** replace_nodata (ReplaceNoDataPixelFunc, :2299): old NoData → `to`
    * (reference default NaN). */
  def replaceNoData(src: Dataset[Tile], noData: Double,
                    to: Double = Double.NaN): Dataset[Tile] =
    Raster.mapPixels(src)(v => if (v == noData) to else v)

  /** nodata-to-alpha (gdalalg_raster_nodata_to_alpha.cpp: emit an alpha
    * band that is 0 where the source equals NoData, 255 elsewhere). */
  def noDataToAlpha(src: Dataset[Tile], noData: Double,
                    alphaBand: Int = 2): Dataset[Tile] =
    Raster.mapPixels(src, band = alphaBand)(v => if (v == noData) 0.0 else 255.0)

  // ---- N-source (one shuffle) ---------------------------------------------

  /** sum + k (SumPixelFunc, :1149). */
  def sumF(srcs: Seq[Dataset[Tile]], k: Double = 0.0): Dataset[Tile] =
    combineN(srcs) { v =>
      var s = k; var i = 0
      while (i < v.length) { s += v(i); i += 1 }
      s
    }

  /** a − b (DiffPixelFunc, :1354). */
  def diffF(a: Dataset[Tile], b: Dataset[Tile]): Dataset[Tile] =
    Raster.combineBands(a, b)(_ - _)

  /** product × k (MulPixelFunc, :1438). */
  def mulF(srcs: Seq[Dataset[Tile]], k: Double = 1.0): Dataset[Tile] =
    combineN(srcs) { v =>
      var s = k; var i = 0
      while (i < v.length) { s *= v(i); i += 1 }
      s
    }

  /** a / b (DivPixelFunc, :1550; /0 → +inf like C++ doubles). */
  def divF(a: Dataset[Tile], b: Dataset[Tile]): Dataset[Tile] =
    Raster.combineBands(a, b)(_ / _)

  /** min / max over N bands (MinOrMaxPixelFunc, :2502). */
  def minF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs)(v => { var m = v(0); var i = 1; while (i < v.length) { if (v(i) < m) m = v(i); i += 1 }; m })
  def maxF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs)(v => { var m = v(0); var i = 1; while (i < v.length) { if (v(i) > m) m = v(i); i += 1 }; m })

  /** argmin / argmax: 0-based index of the extreme band. */
  def argminF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs)(v => { var m = v(0); var mi = 0; var i = 1; while (i < v.length) { if (v(i) < m) { m = v(i); mi = i }; i += 1 }; mi.toDouble })
  def argmaxF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs)(v => { var m = v(0); var mi = 0; var i = 1; while (i < v.length) { if (v(i) > m) { m = v(i); mi = i }; i += 1 }; mi.toDouble })

  /** arithmetic / geometric / harmonic mean over N bands
    * (BasicPixelFunc family, :3919). */
  def meanF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs) { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i); i += 1 }
      s / v.length
    }
  def geometricMeanF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs) { v =>
      var s = 1.0; var i = 0
      while (i < v.length) { s *= v(i); i += 1 }
      math.pow(s, 1.0 / v.length)
    }
  def harmonicMeanF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs) { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += 1.0 / v(i); i += 1 }
      v.length / s
    }

  /** median over N bands (odd N → middle; even N → mean of middles,
    * matching the quantile q=0.5 midpoint interpolation). */
  def medianF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    quantileF(srcs, 0.5)

  /** quantile with linear interpolation (numpy-style, the reference's
    * `quantile` argument semantics). */
  def quantileF(srcs: Seq[Dataset[Tile]], q: Double): Dataset[Tile] =
    combineN(srcs) { v =>
      val s = v.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** mode over N bands: most frequent value, first-encounter ties. */
  def modeF(srcs: Seq[Dataset[Tile]]): Dataset[Tile] =
    combineN(srcs) { v =>
      var best = v(0); var bestN = 0
      var i = 0
      while (i < v.length) {
        var n = 0; var j = 0
        while (j < v.length) { if (v(j) == v(i)) n += 1; j += 1 }
        if (n > bestN) { bestN = n; best = v(i) }
        i += 1
      }
      best
    }

  /** interpolate_linear / interpolate_exp at time t over sources sampled
    * at t0, t0+dt, ... (InterpolatePixelFunc, :2196-2217): pick the
    * bracketing pair, apply the closed-form. */
  def interpolateLinear(srcs: Seq[Dataset[Tile]], t0: Double, dt: Double,
                        t: Double): Dataset[Tile] = {
    val (i0, x0, x1) = bracket(srcs.length, t0, dt, t)
    combineN(srcs) { v =>
      v(i0) + (t - x0) * (v(i0 + 1) - v(i0)) / (x1 - x0)
    }
  }
  def interpolateExp(srcs: Seq[Dataset[Tile]], t0: Double, dt: Double,
                     t: Double): Dataset[Tile] = {
    val (i0, x0, x1) = bracket(srcs.length, t0, dt, t)
    combineN(srcs) { v =>
      val r = math.log(v(i0 + 1) / v(i0)) / (x1 - x0)
      v(i0) * math.exp(r * (t - x0))
    }
  }

  private def bracket(n: Int, t0: Double, dt: Double, t: Double): (Int, Double, Double) = {
    val raw = math.floor((t - t0) / dt).toInt
    val i0 = math.max(0, math.min(n - 2, raw))
    (i0, t0 + i0 * dt, t0 + (i0 + 1) * dt)
  }

  // ---- complex family: a complex band is an (re, im) tile pair -----------

  /** "mod" for complex input: √(re²+im²) (ModulePixelFunc, :415). */
  def modC(re: Dataset[Tile], im: Dataset[Tile]): Dataset[Tile] =
    combineN(Seq(re, im))(v => math.sqrt(v(0) * v(0) + v(1) * v(1)))

  /** "phase" for complex input: atan2(im, re) (PhasePixelFunc, :484);
    * the real-input fallback is [[phaseReal]]. */
  def phaseC(re: Dataset[Tile], im: Dataset[Tile]): Dataset[Tile] =
    combineN(Seq(re, im))(v => math.atan2(v(1), v(0)))

  /** "phase" for real input: π where negative else 0 (:522). */
  def phaseReal(src: Dataset[Tile]): Dataset[Tile] = {
    val spark = src.sparkSession
    import spark.implicits._
    src.map(t => t.copy(pixels = t.pixels.map(v => if (v < 0) math.Pi else 0.0)))
  }

  /** "conj": (re, −im) (ConjPixelFunc, :532). */
  def conjC(re: Dataset[Tile], im: Dataset[Tile]): (Dataset[Tile], Dataset[Tile]) = {
    val spark = im.sparkSession
    import spark.implicits._
    (re, im.map(t => t.copy(pixels = t.pixels.map(v => -v))))
  }

  /** "cmul": first band times the complex CONJUGATE of the second
    * (CMulPixelFunc, :1675: re = r0·r1 + i0·i1, im = r1·i0 − r0·i1). */
  def cmulC(aRe: Dataset[Tile], aIm: Dataset[Tile],
            bRe: Dataset[Tile], bIm: Dataset[Tile]): (Dataset[Tile], Dataset[Tile]) = {
    val re = combineN(Seq(aRe, aIm, bRe, bIm))(v => v(0) * v(2) + v(1) * v(3))
    val im = combineN(Seq(aRe, aIm, bRe, bIm))(v => v(2) * v(1) - v(0) * v(3))
    (re, im)
  }

  /** "polar" (amplitude mode): amplitude+phase bands → complex
    * (PolarPixelFunc, :315: re = amp·cos φ, im = amp·sin φ). */
  def polarC(amp: Dataset[Tile], phase: Dataset[Tile]): (Dataset[Tile], Dataset[Tile]) = {
    val re = combineN(Seq(amp, phase))(v => v(0) * math.cos(v(1)))
    val im = combineN(Seq(amp, phase))(v => v(0) * math.sin(v(1)))
    (re, im)
  }
}
