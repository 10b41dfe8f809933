package graft.engine

/** Linear referencing — the ogrlineref utility family
  * (/root/reference/apps/ogrlineref.cpp): station a point along a polyline
  * (Project, ogrlineref.cpp:424, which the reference delegates to GEOS
  * GEOSProject / LengthIndexedLine), interpolate the point at a station
  * (OGRSimpleCurve::Value, /root/reference/ogr/ogrlinestring.cpp:2119-2161),
  * and extract the subline between two stations
  * (OGRSimpleCurve::getSubLine, ogrlinestring.cpp:2237-2419).
  *
  * Coordinates are packed (x,y)* arrays. Project follows the GEOS
  * LengthIndexedLine contract: scan segments in order, clamp the projection
  * factor to [0,1], keep the first strictly-smaller squared distance, and
  * return cumulative-length-before + factor·segment-length.
  *
  * Scale shape: lines are the small side (a route table), points the big
  * side — the kernels are pure functions of one line and one point, so a
  * caller broadcasts the line coordinates and stations every point
  * map-only, the same one-sided plan as the PIP join.
  */
object LinearRef {

  /** (station, squared distance) of the point's projection onto the line —
    * GEOS LengthIndexedLine.project semantics (first strict minimum wins). */
  def project(pts: Array[Double], px: Double, py: Double): (Double, Double) = {
    var bestD2 = Double.MaxValue
    var bestStation = 0.0
    var cum = 0.0
    var i = 0
    while (i + 3 < pts.length) {
      val x1 = pts(i); val y1 = pts(i + 1)
      val dx = pts(i + 2) - x1; val dy = pts(i + 3) - y1
      val segLen = math.sqrt(dx * dx + dy * dy)
      if (segLen > 0) {
        val rr = ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)
        val r = if (rr < 0.0) 0.0 else if (rr > 1.0) 1.0 else rr
        val nx = x1 + r * dx; val ny = y1 + r * dy
        val ddx = px - nx; val ddy = py - ny
        val d2 = ddx * ddx + ddy * ddy
        if (d2 < bestD2) {
          bestD2 = d2
          bestStation = cum + r * segLen
        }
        cum += segLen
      }
      i += 2
    }
    (bestStation, bestD2)
  }

  /** Point at station `dist` (OGRSimpleCurve::Value port: clamped to the
    * start point for negative stations, the end point past the length;
    * first containing segment interpolates x1·(1−r) + x2·r). */
  def value(pts: Array[Double], dist: Double): (Double, Double) = {
    val n = pts.length / 2
    if (dist < 0) return (pts(0), pts(1))
    var cum = 0.0
    var i = 0
    while (i < n - 1) {
      val x1 = pts(2 * i); val y1 = pts(2 * i + 1)
      val x2 = pts(2 * i + 2); val y2 = pts(2 * i + 3)
      val dx = x2 - x1; val dy = y2 - y1
      val segLen = math.sqrt(dx * dx + dy * dy)
      if (segLen > 0) {
        if (cum <= dist && cum + segLen >= dist) {
          val r = (dist - cum) / segLen
          return (x1 * (1 - r) + x2 * r, y1 * (1 - r) + y2 * r)
        }
        cum += segLen
      }
      i += 1
    }
    (pts(2 * (n - 1)), pts(2 * (n - 1) + 1))
  }

  /** Total 2-D length (OGRSimpleCurve::get_Length). */
  def length(pts: Array[Double]): Double = {
    var cum = 0.0
    var i = 0
    while (i + 3 < pts.length) {
      val dx = pts(i + 2) - pts(i); val dy = pts(i + 3) - pts(i + 1)
      cum += math.sqrt(dx * dx + dy * dy)
      i += 2
    }
    cum
  }

  /** Subline between stations (OGRSimpleCurve::getSubLine port): from
    * clamped to 0, to clamped to the length, `asRatio` scales both by the
    * length first; None for an invalid (from > to or from ≥ length) range.
    * Vertex walk matches the reference branch-for-branch, including the
    * same-segment early exit. */
  def subLine(pts: Array[Double], fromIn: Double, toIn: Double,
              asRatio: Boolean = false): Option[Array[Double]] = {
    val n = pts.length / 2
    val len = length(pts)
    var from = if (asRatio) fromIn * len else fromIn
    var to = if (asRatio) toIn * len else toIn
    if (from < 0) from = 0
    if (to > len) to = len
    if (from > to || from >= len) return None
    val out = new scala.collection.mutable.ArrayBuffer[Double]()
    var cum = 0.0
    var i = 0
    if (from == 0) {
      out += pts(0); out += pts(1)
    } else {
      var found = false
      while (i < n - 1 && !found) {
        val x1 = pts(2 * i); val y1 = pts(2 * i + 1)
        val x2 = pts(2 * i + 2); val y2 = pts(2 * i + 3)
        val dx = x2 - x1; val dy = y2 - y1
        val segLen = math.sqrt(dx * dx + dy * dy)
        if (segLen > 0) {
          if (cum <= from && cum + segLen >= from) {
            val r = (from - cum) / segLen
            out += x1 * (1 - r) + x2 * r
            out += y1 * (1 - r) + y2 * r
            if (cum <= to && cum + segLen >= to) { // same segment: finish here
              val r2 = (to - cum) / segLen
              out += x1 * (1 - r2) + x2 * r2
              out += y1 * (1 - r2) + y2 * r2
              return if (out.length >= 4) Some(out.toArray) else None
            }
            i += 1
            cum += segLen
            found = true
          } else cum += segLen
        }
        if (!found) i += 1
      }
    }
    // add whole vertices until the segment containing `to`
    while (i < n - 1) {
      out += pts(2 * i); out += pts(2 * i + 1)
      val x1 = pts(2 * i); val y1 = pts(2 * i + 1)
      val x2 = pts(2 * i + 2); val y2 = pts(2 * i + 3)
      val dx = x2 - x1; val dy = y2 - y1
      val segLen = math.sqrt(dx * dx + dy * dy)
      if (segLen > 0) {
        if (cum <= to && cum + segLen >= to) {
          val r = (to - cum) / segLen
          out += x1 * (1 - r) + x2 * r
          out += y1 * (1 - r) + y2 * r
          return if (out.length >= 4) Some(out.toArray) else None
        }
        cum += segLen
      }
      i += 1
    }
    out += pts(2 * (n - 1)); out += pts(2 * (n - 1) + 1)
    if (out.length >= 4) Some(out.toArray) else None
  }

  /** Milepost stations every `step` along the line from station `begin`
    * (ogrlineref --create-parts analog): the part boundaries the utility
    * writes, as (station, x, y) rows. */
  def mileposts(pts: Array[Double], step: Double, begin: Double = 0.0): Seq[(Double, Double, Double)] = {
    val len = length(pts)
    var s = begin
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    while (s <= len) {
      val (x, y) = value(pts, s)
      out += ((s, x, y))
      s += step
    }
    out.toSeq
  }
}
