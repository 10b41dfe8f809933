package graft.geom

import scala.collection.mutable.ArrayBuffer

/** Geometry buffer (reference: OGRGeometry::Buffer, ogrgeometry.cpp:4949;
  * `gdal vector buffer`, apps/gdalalg_vector_buffer.cpp — GDAL delegates to
  * GEOS). The Minkowski sum is built constructively: one CAPSULE (stadium)
  * polygon per segment — two parallel sides at ±d plus two discretized
  * half-circle end caps (quadSegs segments per quarter) — merged by the
  * Martinez–Rueda union; round joins emerge from overlapping caps at shared
  * vertices. Same family as GEOS' JOIN_ROUND/CAP_ROUND with our own arc
  * discretization (segment-relative angles), which is why gate oracles use
  * OUR closed form (inscribed-polygon cap area), documented per-query.
  *
  * Trig dust (cos(π/2) ≈ 6e-17) is snapped to exact 0 so that tangencies
  * with axis-aligned inputs are EXACT coincidences — which the sweep's
  * edge-coincidence rules handle — rather than 1e-17-offset near-degenerate
  * crossings, which no exact-double comparison can classify consistently.
  *
  * Negative distances erode polygons: subject minus the buffered boundary
  * strip (classic morphological erosion identity). */
object Buffer {

  @inline private def snap(v: Double): Double = if (math.abs(v) < 1e-15) 0.0 else v

  private def discRing(cx: Double, cy: Double, d: Double, k: Int): Array[Double] = {
    val r = new Array[Double](2 * (k + 1))
    var i = 0
    while (i < k) {
      val a = 2.0 * math.Pi * i / k
      r(2 * i) = cx + d * snap(math.cos(a))
      r(2 * i + 1) = cy + d * snap(math.sin(a))
      i += 1
    }
    r(2 * k) = r(0); r(2 * k + 1) = r(1)
    r
  }

  /** Stadium polygon: segment swept by a disc of radius d, caps
    * discretized with 2·quadSegs chords each. */
  private def capsule(x0: Double, y0: Double, x1: Double, y1: Double,
                      d: Double, quadSegs: Int): Array[Double] = {
    val dx = x1 - x0; val dy = y1 - y0
    val len = math.sqrt(dx * dx + dy * dy)
    if (len == 0.0) return Array.empty
    val th = math.atan2(dy, dx)
    val n = 2 * quadSegs // chords per cap
    val pts = new ArrayBuffer[Double](4 * (n + 2))
    def add(px: Double, py: Double): Unit = {
      val m = pts.length
      if (m < 2 || pts(m - 2) != px || pts(m - 1) != py) { pts += px; pts += py }
    }
    def arc(cx: Double, cy: Double, from: Double, steps: Int): Unit = {
      var j = 0
      while (j <= steps) {
        val a = from - j * math.Pi / steps
        add(cx + d * snap(math.cos(a)), cy + d * snap(math.sin(a)))
        j += 1
      }
    }
    val thp = th + math.Pi / 2.0
    // side A+n -> B+n, cap at B (thp -> th-π/2), side B-n -> A-n implied
    // by cap endpoints, cap at A (th-π/2 -> th-3π/2 ≡ thp)
    add(x0 + d * snap(math.cos(thp)), y0 + d * snap(math.sin(thp)))
    arc(x1, y1, thp, n)
    arc(x0, y0, thp - math.Pi, n)
    // close
    if (pts(0) != pts(pts.length - 2) || pts(1) != pts(pts.length - 1)) {
      pts += pts(0); pts += pts(1)
    }
    pts.toArray
  }

  /** Balanced pairwise union — O(n log n) sweep invocations instead of a
    * linear fold whose accumulated subject grows every step. */
  private[graft] def unionAll(pieces: ArrayBuffer[Geom]): Geom = {
    if (pieces.isEmpty) return MultiPolygon(Array.empty)
    var cur: ArrayBuffer[Geom] = pieces
    while (cur.length > 1) {
      val next = new ArrayBuffer[Geom]((cur.length + 1) / 2)
      var i = 0
      while (i + 1 < cur.length) {
        next += BoolOps.union(cur(i), cur(i + 1))
        i += 2
      }
      if (i < cur.length) next += cur(i)
      cur = next
    }
    cur(0)
  }

  private def lineStripPieces(cs: Array[Double], d: Double, q: Int,
                              pieces: ArrayBuffer[Geom]): Unit = {
    if (cs.length == 2) {
      pieces += Polygon(Array(discRing(cs(0), cs(1), d, 4 * q)))
      return
    }
    var i = 0
    while (i + 3 < cs.length) {
      val c = capsule(cs(i), cs(i + 1), cs(i + 2), cs(i + 3), d, q)
      if (c.nonEmpty) pieces += Polygon(Array(c))
      i += 2
    }
  }

  def buffer(g: Geom, dist: Double, quadSegs: Int = 8): Geom = {
    val q = math.max(1, quadSegs)
    if (dist == 0.0) return g
    if (dist < 0.0) {
      // erosion: polygon minus the buffered boundary strip
      val d = -dist
      val pieces = new ArrayBuffer[Geom]()
      def rings(geom: Geom): Unit = geom match {
        case p: Polygon => p.rings.foreach(r => lineStripPieces(r, d, q, pieces))
        case MultiPolygon(ps) => ps.foreach(rings)
        case GeometryCollection(gs) => gs.foreach(rings)
        case _ =>
      }
      rings(g)
      if (pieces.isEmpty) return MultiPolygon(Array.empty)
      return BoolOps.difference(g, unionAll(pieces))
    }
    val pieces = new ArrayBuffer[Geom]()
    def collect(geom: Geom): Unit = geom match {
      case Point(x, y) =>
        if (!x.isNaN) pieces += Polygon(Array(discRing(x, y, dist, 4 * q)))
      case LineString(cs) => lineStripPieces(cs, dist, q, pieces)
      case p: Polygon =>
        pieces += p
        p.rings.foreach(r => lineStripPieces(r, dist, q, pieces))
      case MultiPoint(ps) => ps.foreach(collect)
      case MultiLineString(ls) => ls.foreach(collect)
      case MultiPolygon(ps) => ps.foreach(collect)
      case GeometryCollection(gs) => gs.foreach(collect)
      case s: Surface => collect(s.toMulti)
    }
    collect(g)
    unionAll(pieces)
  }
}
