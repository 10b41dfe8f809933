package graft.geom

import java.nio.ByteOrder
import org.apache.spark.unsafe.Platform

/** Point-in-geometry predicates evaluated directly on WKB bytes — zero
  * object materialization on the hot join path. Reference analog: GDAL
  * evaluates filters straight on WKB without instantiating OGRGeometry
  * (FilterWKBGeometry, /root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:4096-4145;
  * ogr_wkb.cpp helpers, /root/reference/ogr/ogr_wkb.h:30-36).
  *
  * The numeric rules are replicated TERM-BY-TERM from GeoOps.isPointInRing /
  * isPointOnRingBoundary (themselves exact ports of ogrlinearring.cpp), so
  * results are bit-identical to the decode path. (Multi)polygon only; any
  * other top-level type falls back to decode + GeoOps dispatch.
  *
  * One reader serves every caller: it reads the WKB where it lies, given as
  * a byte[] or as `size` bytes at `offset` of `base` in Spark's Platform
  * addressing (an UnsafeRow's memory: the broadcast join's boxed polygon
  * is never copied out of its row). Every ring, point and part count is
  * checked against the bytes left before anything it counts is read, so
  * truncated or length-mutated WKB is refused with an
  * IllegalArgumentException and never read past its end. Only the
  * non-polygon fallback copies the bytes, for `Wkb.read`.
  */
object WkbPip {

  def containsPoint(bytes: Array[Byte], px: Double, py: Double): Boolean =
    containsPoint(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, px, py)

  def intersectsPoint(bytes: Array[Byte], px: Double, py: Double): Boolean =
    intersectsPoint(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, px, py)

  /** The WKB of `size` bytes at `offset` in `base`. */
  def containsPoint(base: AnyRef, offset: Long, size: Int, px: Double, py: Double): Boolean =
    eval(base, offset, size, px, py, grace = false)

  def intersectsPoint(base: AnyRef, offset: Long, size: Int, px: Double, py: Double): Boolean =
    eval(base, offset, size, px, py, grace = true)

  /** A geometry type the direct reader does not evaluate. */
  private object Unsupported extends scala.util.control.ControlThrowable

  private val NativeLE = ByteOrder.nativeOrder() == ByteOrder.LITTLE_ENDIAN

  /** grace=false: containsPoint (ray rule only). grace=true:
    * intersectsPoint (boundary counts; hole boundary still intersects). */
  private def eval(base: AnyRef, offset: Long, size: Int, px: Double, py: Double,
                   grace: Boolean): Boolean =
    try new Reader(base, offset, offset + size).geom(px, py, grace)
    catch { case Unsupported =>
      val g = Wkb.read(copy(base, offset, size))
      if (grace) GeoOps.intersectsPoint(g, px, py) else GeoOps.containsPoint(g, px, py)
    }

  private def copy(base: AnyRef, offset: Long, size: Int): Array[Byte] = base match {
    case b: Array[Byte] if offset == Platform.BYTE_ARRAY_OFFSET && size == b.length => b
    case _ =>
      val b = new Array[Byte](size)
      Platform.copyMemory(base, offset, b, Platform.BYTE_ARRAY_OFFSET, size)
      b
  }

  /** A cursor over [pos, end) of `base`. */
  private final class Reader(base: AnyRef, private var pos: Long, end: Long) {
    /** The current geometry's byte order differs from the machine's. */
    private var swap = false

    private def need(n: Long): Unit =
      if (n > end - pos) throw new IllegalArgumentException(
        s"malformed WKB: $n more bytes needed, ${end - pos} left")

    private def int(): Int = {
      need(4)
      val v = Platform.getInt(base, pos); pos += 4
      if (swap) Integer.reverseBytes(v) else v
    }

    /** A count of items of at least `bytesEach` bytes, refused when
      * negative or larger than the bytes left could hold. */
    private def count(bytesEach: Int): Int = {
      val n = int()
      if (n < 0 || n.toLong * bytesEach > end - pos) throw new IllegalArgumentException(
        s"malformed WKB: count $n of $bytesEach-byte items, ${end - pos} bytes left")
      n
    }

    /** Unchecked: callers read only within a counted ring. */
    private def dbl(b: AnyRef, sw: Boolean, at: Long): Double = {
      val v = Platform.getLong(b, at)
      java.lang.Double.longBitsToDouble(if (sw) java.lang.Long.reverseBytes(v) else v)
    }

    /** Reads one geometry header; only types 3 (polygon) and 6
      * (multipolygon) are evaluated directly. */
    def geom(px: Double, py: Double, grace: Boolean): Boolean = {
      need(1)
      val order = Platform.getByte(base, pos); pos += 1
      swap = (order != 0) != NativeLE
      var t = int()
      var nd = 2
      if ((t & 0x80000000) != 0) nd += 1
      if ((t & 0x40000000) != 0) nd += 1
      val hasSrid = (t & 0x20000000) != 0
      t &= 0x0fffffff
      if (t >= 3000) { nd = 4; t -= 3000 }
      else if (t >= 2000) { nd = 3; t -= 2000 }
      else if (t >= 1000) { nd = 3; t -= 1000 }
      if (hasSrid) int()
      t match {
        case 3 => polygon(nd * 8, px, py, grace)
        case 6 =>
          val n = count(9) // byte order, type and a count at least
          var i = 0
          var hit = false
          while (i < n) { // must consume every child to keep cursor aligned
            val r = geom(px, py, grace)
            hit ||= r
            i += 1
          }
          hit
        case _ => throw Unsupported
      }
    }

    /** `stride` = bytes per point. */
    private def polygon(stride: Int, px: Double, py: Double, grace: Boolean): Boolean = {
      val nRings = count(4)
      if (nRings == 0) { return false }
      // exterior ring
      var n = count(stride)
      var start = pos
      var in = ringInside(n, stride, px, py)
      if (!in && grace) { pos = start; in = ringBoundary(n, stride, px, py) }
      if (!in) {
        var i = 1
        while (i < nRings) { n = count(stride); pos += n.toLong * stride; i += 1 }
        return false
      }
      var i = 1
      var result = true
      while (i < nRings) {
        n = count(stride)
        start = pos
        val insideHole = ringInside(n, stride, px, py)
        if (insideHole && result) {
          if (grace) {
            val after = pos
            pos = start
            if (!ringBoundary(n, stride, px, py)) result = false
            pos = after
          } else result = false
        }
        i += 1
      }
      result
    }

    /** Single pass over a counted ring: envelope (pretest of
      * GeoOps.isPointInRing) + ray crossings; same terms, same strict
      * comparisons. */
    private def ringInside(n: Int, stride: Int, px: Double, py: Double): Boolean = {
      val last = pos + n.toLong * stride
      if (n < 4) { pos = last; return false }
      val b = base; val sw = swap
      var at = pos
      var x = dbl(b, sw, at); var y = dbl(b, sw, at + 8)
      var minX = x; var maxX = x; var minY = y; var maxY = y
      var prevDx = x - px
      var prevDy = y - py
      var crossings = 0
      at += stride
      while (at < last) {
        x = dbl(b, sw, at); y = dbl(b, sw, at + 8)
        if (x < minX) minX = x; if (x > maxX) maxX = x
        if (y < minY) minY = y; if (y > maxY) maxY = y
        val x1 = x - px
        val y1 = y - py
        val x2 = prevDx
        val y2 = prevDy
        if (((y1 > 0) && (y2 <= 0)) || ((y2 > 0) && (y1 <= 0))) {
          val inter = (x1 * y2 - x2 * y1) / (y2 - y1)
          if (inter > 0.0) crossings += 1
        }
        prevDx = x1
        prevDy = y1
        at += stride
      }
      pos = last
      (px >= minX && px <= maxX && py >= minY && py <= maxY) && (crossings % 2) != 0
    }

    /** Single pass over a counted ring: envelope pretest + exact-collinearity
      * boundary test of GeoOps.isPointOnRingBoundary (no short-circuit;
      * same terms). */
    private def ringBoundary(n: Int, stride: Int, px: Double, py: Double): Boolean = {
      val last = pos + n.toLong * stride
      if (n < 4) { pos = last; return false }
      val b = base; val sw = swap
      var at = pos
      var prevX = dbl(b, sw, at); var prevY = dbl(b, sw, at + 8)
      var minX = prevX; var maxX = prevX; var minY = prevY; var maxY = prevY
      var prevDx = px - prevX
      var prevDy = py - prevY
      var onBoundary = false
      at += stride
      while (at < last) {
        val cx = dbl(b, sw, at); val cy = dbl(b, sw, at + 8)
        if (cx < minX) minX = cx; if (cx > maxX) maxX = cx
        if (cy < minY) minY = cy; if (cy > maxY) maxY = cy
        val dx1 = px - cx
        val dy1 = py - cy
        val dx2 = prevDx
        val dy2 = prevDy
        if (!onBoundary && dx1 * dy2 - dx2 * dy1 == 0) {
          if (!(dx1 == dx2 && dy1 == dy2)) {
            val dxSeg = cx - prevX
            val dySeg = cy - prevY
            val cross = dx2 * dxSeg + dy2 * dySeg
            if (cross >= 0) {
              val sqLen = dxSeg * dxSeg + dySeg * dySeg
              if (cross <= sqLen) onBoundary = true
            }
          }
        }
        prevX = cx; prevY = cy
        prevDx = dx1
        prevDy = dy1
        at += stride
      }
      pos = last
      (px >= minX && px <= maxX && py >= minY && py <= maxY) && onBoundary
    }
  }
}
