package graft.engine

import org.apache.spark.sql.Dataset

/** Raster blend (reference: `gdal raster blend` src-over operator,
  * /root/reference/apps/gdalalg_raster_blend.cpp:1711-1780
  * BlendSrcOverRGBA_Generic — exact integer Porter–Duff over with the
  * (x*y+255)/256 ratio product and the (255<<8 + a/2)/a inverse-alpha
  * table). All arithmetic is integer, so the oracle twin is bit-exact.
  * Spark shape: the shared tile stack ([[Gather.stack]]) of the 8 bands,
  * ONE shuffle per (z,x,y), per-tile integer loop; an (z,x,y) missing
  * from any band is skipped. */
object Blend {

  @inline private def mul255(a: Int, b: Int): Int = (a * b + 255) / 256

  @inline private def div255(a: Int, b: Int): Int =
    if (a == 0) 0 else if (b == 0) 255 else (a * 255) / b

  /** Generic premultiplied composition (BlendMultiply_Generic /
    * BlendScreen_Generic shape, gdalalg_raster_blend.cpp:890-1000):
    * alpha via ProcessAlphaChannels, channels premultiplied with
    * MulScale255, per-mode Dca' formula, unpremultiply with DivScale255.
    * Modes: "multiply" (Sca.Dca + Sca(1-Da) + Dca(1-Sa)), "screen"
    * (Sca + Dca - Sca.Dca). */
  def compose(base: Seq[Dataset[Tile]], overlay: Seq[Dataset[Tile]],
              opacity: Int, mode: String): Dataset[Tile] = {
    require(mode == "multiply" || mode == "screen", s"mode $mode")
    require(base.length == 4 && overlay.length == 4)
    val spark = base.head.sparkSession
    import spark.implicits._
    val isMultiply = mode == "multiply"
    Gather.stack(base ++ overlay) { (z, x, y, tw, th, bands) =>
      val n = tw * th
      val outs = Array.fill(4)(new Array[Double](n))
      var i = 0
      while (i < n) {
        // ProcessAlphaChannels (opacity on overlay alpha)
        val a = bands(3)(i).toInt
        val oa = mul255(bands(7)(i).toInt, opacity)
        val finalA = oa + a - mul255(oa, a)
        var c = 0
        while (c < 3) {
          // premultiply
          val dca = mul255(bands(c)(i).toInt, a)
          val sca = mul255(bands(4 + c)(i).toInt, oa)
          val outP =
            if (isMultiply)
              mul255(dca, sca) + mul255(dca, 255 - oa) + mul255(sca, 255 - a)
            else sca + dca - mul255(sca, dca)
          outs(c)(i) = div255(outP, finalA)
          c += 1
        }
        outs(3)(i) = finalA
        i += 1
      }
      outs.iterator.zipWithIndex.map { case (px, bi) =>
        Tile(z, x, y, bi + 1, tw, th, px)
      }
    }
  }

  // GByte conversion in the reference is modulo-256 (C++ unsigned-char
  // narrowing); the Mapserver-derived formulas rely on it on rounding
  // edges, so the faithful kernels wrap at every GByte boundary.
  @inline private def bw(x: Int): Int = x & 0xff
  @inline private def mW(a: Int, b: Int): Int = mul255(bw(a), bw(b))
  @inline private def dW(a: Int, b: Int): Int = bw(div255(bw(a), b))

  /** The six remaining `gdal raster blend` composition operators
    * (gdalalg_raster_blend.cpp:1033-1590: BlendOverlay/HardLight/Darken/
    * Lighten/ColorBurn/ColorDodge_Generic — exact integer Mapserver
    * formulas over premultiplied channels). hard-light = overlay with the
    * roles of base and overlay swapped and the opacity following the true
    * overlay (bSwappedOpacity). Same Spark shape as [[compose]]: ONE
    * shuffle on (z,x,y), per-tile integer loop, embarrassingly tile-
    * parallel at any raster size. */
  def composeExt(base: Seq[Dataset[Tile]], overlay: Seq[Dataset[Tile]],
                 opacity: Int, mode: String): Dataset[Tile] = {
    val modes = Set("overlay", "hard-light", "darken", "lighten",
      "color-burn", "color-dodge")
    require(modes(mode), s"mode $mode")
    require(base.length == 4 && overlay.length == 4)
    val hardLight = mode == "hard-light"
    // hard-light: Overlay with src/overlay swapped; opacity swaps too
    val (b0, o0) = if (hardLight) (overlay, base) else (base, overlay)
    val effMode = if (hardLight) "overlay" else mode
    val spark = b0.head.sparkSession
    import spark.implicits._
    Gather.stack(b0 ++ o0) { (z, x, y, tw, th, bands) =>
      val n = tw * th
      val outs = Array.fill(4)(new Array[Double](n))
      var i = 0
      while (i < n) {
        // ProcessAlphaChannels: opacity follows the true overlay
        val a0 = bands(3)(i).toInt; val oa0 = bands(7)(i).toInt
        val (a, oa) =
          if (hardLight) (mul255(a0, opacity), oa0)
          else (a0, mul255(oa0, opacity))
        val finalA = oa + a - mul255(oa, a)
        val alphaMul = mul255(oa, a)
        var c = 0
        while (c < 3) {
          val dca = mul255(bands(c)(i).toInt, a)       // base premult (C)
          val sca = mul255(bands(4 + c)(i).toInt, oa)  // overlay premult
          val out = effMode match {
            case "overlay" =>
              if (2 * dca < a)
                dW(2 * mW(dca, sca) + mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
              else
                dW(alphaMul - 2 * mW(a - dca, oa - sca) +
                  mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
            case "darken" =>
              dW(math.min(mW(sca, a), mW(dca, oa)) +
                mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
            case "lighten" =>
              dW(math.max(mW(sca, a), mW(dca, oa)) +
                mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
            case "color-dodge" =>
              if (mW(sca, a) + mW(dca, oa) >= alphaMul)
                dW(alphaMul + mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
              else
                dW(dW(mW(dca, oa), 255 - dW(sca, oa)) +
                  mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
            case _ => // color-burn
              if (mW(sca, a) + mW(dca, oa) <= alphaMul)
                dW(mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
              else {
                val cu = dW(dca, a); val ocu = dW(sca, oa)
                dW(mW(alphaMul, cu + ocu - 255) +
                  mW(dca, 255 - oa) + mW(sca, 255 - a), finalA)
              }
          }
          outs(c)(i) = out
          c += 1
        }
        outs(3)(i) = finalA
        i += 1
      }
      outs.iterator.zipWithIndex.map { case (px, bi) =>
        Tile(z, x, y, bi + 1, tw, th, px)
      }
    }
  }

  /** hsv-value composition (gdalalg_raster_blend.cpp:398-500 rgb_to_hs /
    * hsv_to_rgb, derived from hsv_merge.py): base RGB → (h,s) in FLOAT,
    * value replaced by the overlay's gray byte, back to RGB. All float
    * arithmetic is single-precision to match the reference bit-for-bit.
    * bands: base r,g,b = 0..2, overlay gray = 3; output bands 1..3. */
  def hsvValue(base: Seq[Dataset[Tile]], gray: Dataset[Tile]): Dataset[Tile] = {
    require(base.length == 3)
    val spark = base.head.sparkSession
    import spark.implicits._
    Gather.stack(base :+ gray) { (z, x, y, tw, th, bands) =>
      val n = tw * th
      val outs = Array.fill(3)(new Array[Double](n))
      var i = 0
      while (i < n) {
        val r = bands(0)(i).toInt; val g = bands(1)(i).toInt
        val b = bands(2)(i).toInt; val v = bands(3)(i).toInt
        val minc = math.min(r, math.min(g, b))
        val maxc = math.max(r, math.max(g, b))
        val mm = maxc - minc
        val s = mm / math.max(1, maxc).toFloat
        val m6 = if (mm == 0) 1.0f else 6.0f * mm
        val h =
          if (maxc == b) 4.0f / 6.0f + (r - g) / m6
          else if (maxc == g) 2.0f / 6.0f + (b - r) / m6
          else { val tmp = (g - b) / m6; if (tmp < 0.0f) tmp + 1.0f else tmp }
        val i6 = (6.0f * h).toInt
        val f = 6.0f * h - i6
        val p = (v * (1.0f - s) + 0.5f).toInt
        val q = (v * (1.0f - s * f) + 0.5f).toInt
        val t = (v * (1.0f - s * (1.0f - f)) + 0.5f).toInt
        outs(0)(i) = i6 match {
          case 0 | 5 => v; case 1 => q; case 2 | 3 => p; case _ => t }
        outs(1)(i) = i6 match {
          case 0 => t; case 1 | 2 => v; case 3 => q; case _ => p }
        outs(2)(i) = i6 match {
          case 0 | 1 => p; case 2 => t; case 3 | 4 => v; case _ => q }
        i += 1
      }
      outs.iterator.zipWithIndex.map { case (px, bi) =>
        Tile(z, x, y, bi + 1, tw, th, px)
      }
    }
  }

  /** bands: base r,g,b,a = 0..3; overlay r,g,b,a = 4..7. Output bands
    * 1..4 = blended r,g,b,a. Opacity in [0,255]. */
  def srcOver(base: Seq[Dataset[Tile]], overlay: Seq[Dataset[Tile]],
              opacity: Int): Dataset[Tile] = {
    require(base.length == 4 && overlay.length == 4)
    val spark = base.head.sparkSession
    import spark.implicits._
    Gather.stack(base ++ overlay) { (z, x, y, tw, th, bands) =>
      val n = tw * th
      val outs = Array.fill(4)(new Array[Double](n))
      var i = 0
      while (i < n) {
        val r = bands(0)(i).toInt; val g = bands(1)(i).toInt
        val b = bands(2)(i).toInt; val a = bands(3)(i).toInt
        val or0 = bands(4)(i).toInt; val og = bands(5)(i).toInt
        val ob = bands(6)(i).toInt
        val oa = (bands(7)(i).toInt * opacity + 255) / 256
        val srcAmul = (a * (255 - oa) + 255) / 256
        val dstA = oa + srcAmul
        var dstR = (or0 * oa + r * srcAmul + 255) / 256
        var dstG = (og * oa + g * srcAmul + 255) / 256
        var dstB = (ob * oa + b * srcAmul + 255) / 256
        val invDstA = if (dstA == 0) 0 else ((255 << 8) + dstA / 2) / dstA
        dstR = (dstR * invDstA + 255) >> 8
        dstG = (dstG * invDstA + 255) >> 8
        dstB = (dstB * invDstA + 255) >> 8
        outs(0)(i) = dstR; outs(1)(i) = dstG; outs(2)(i) = dstB; outs(3)(i) = dstA
        i += 1
      }
      outs.iterator.zipWithIndex.map { case (px, bi) =>
        Tile(z, x, y, bi + 1, tw, th, px)
      }
    }
  }
}
