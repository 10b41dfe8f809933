package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import scala.collection.mutable.ArrayBuffer
import graft.geom._

/** Polygonal-coverage operators: clean-coverage and simplify-coverage
  * (/root/reference/apps/gdalalg_vector_clean_coverage.cpp,
  * /root/reference/apps/gdalalg_vector_simplify_coverage.cpp; semantics of
  * GEOS CoverageSimplifier: shared boundaries are simplified once,
  * identically for both owners, so the output stays gap- and overlap-free).
  *
  * Distributed shape (the 100-TB path):
  *   1. explode every ring into segments keyed by lexicographically
  *      ordered endpoints; ONE shuffle (groupBy segment) learns each
  *      segment's sorted owner set.
  *   2. a SECOND shuffle regroups annotated segments per ring; the ring is
  *      split into arcs at owner-set change points (coverage nodes), and
  *      each arc is Douglas-Peucker'd in a canonical direction with pinned
  *      endpoints — a pure function of (chain, tol), so the two owners of
  *      a shared arc produce bit-identical polylines without exchanging
  *      data.
  *   3. rings and parts reassemble per unit id on the same grouping.
  * No driver-side state; the skew bound is the largest single polygon
  * (same class as Dissolve).
  */
object Coverage {

  /** One ring of one polygon part of one coverage unit. */
  case class CovRing(id: Long, part: Int, ring: Int, coords: Array[Double])

  /** clean-coverage: snap every vertex to a precision grid so that
    * almost-coincident shared boundaries become bit-identical, dropping
    * collapsed segments and degenerate rings. Narrow map, no shuffle.
    * (The reference's snapping cleanup; merge-sliver policy is documented
    * out of v1.) */
  def cleanCoverage(df: DataFrame, precision: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(precision > 0, "precision must be positive")
    val p = precision
    df.select("id", "wkb").as[(Long, Array[Byte])].map { case (id, wkb) =>
      def snap(v: Double): Double = math.rint(v / p) * p
      val g = GeoOps.mapCoords(Wkb.read(wkb), (x, y) => (snap(x), snap(y)))
      val cleaned = g match {
        case poly: Polygon => dropDegenerate(Array(poly)) match {
          case Array(one) => one
          case many => MultiPolygon(many)
        }
        case m: MultiPolygon => MultiPolygon(dropDegenerate(m.polys))
        case other => other
      }
      (id, Wkb.write(cleaned))
    }.toDF("id", "wkb")
  }

  /** clean-coverage merge-sliver policy: assign each pairwise overlap to
    * ONE owner and subtract it from the other, per the reference's
    * merge-strategy choices (gdalalg_vector_clean_coverage.cpp:38-42 →
    * GEOS CoverageClean GEOS_MERGE_*): `min-index`, `max-area`,
    * `min-area`, `longest-border` (longest common border with the
    * overlap, measured as the portion of the overlap's boundary
    * contributed by the OTHER unit's boundary; ties → min index).
    *
    * Distributed shape: candidate pairs from the cell-cover equi-join
    * (never O(n²)); the overlap, the strategy decision and the boundary
    * classification are all pair-local map work; losers fold their lost
    * regions with ONE groupByKey. Overlaps involving exactly two owners —
    * the sliver case the policy exists for — resolve exactly; regions
    * shared by 3+ units resolve pairwise (each loser subtracts every
    * region it lost), which can assign a deep stack to several winners —
    * rerun to a fixpoint for pathological inputs. */
  def resolveOverlaps(df: DataFrame, strategy: String, z: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val strat = strategy
    require(Set("min-index", "max-area", "min-area", "longest-border")(strat),
      s"unknown merge strategy $strat")
    val l = df.select(org.apache.spark.sql.functions.col("id").cast("long").as("ia"),
      org.apache.spark.sql.functions.col("wkb"))
    val r = df.select(org.apache.spark.sql.functions.col("id").cast("long").as("ib"),
      org.apache.spark.sql.functions.col("wkb"))
    val cand = SpatialJoin.intersectsJoin(l, r, z)
      .where(org.apache.spark.sql.functions.col("ia") <
        org.apache.spark.sql.functions.col("ib"))
      .select("ia", "ib", "wkb", "wkb_r")
      .as[(Long, Long, Array[Byte], Array[Byte])]
    val lost = cand.flatMap { case (ia, ib, aw, bw) =>
      val a = Wkb.read(aw); val b = Wkb.read(bw)
      val o = BoolOps.intersection(a, b)
      if (GeoOps.area(o) <= 0.0) Iterator.empty
      else {
        val winner = strat match {
          case "min-index" => ia
          case "max-area" =>
            if (GeoOps.area(a) >= GeoOps.area(b)) ia else ib
          case "min-area" =>
            if (GeoOps.area(a) <= GeoOps.area(b)) ia else ib
          case "longest-border" =>
            val (bA, bB) = borderShares(o, a, b)
            if (bA >= bB) ia else ib
        }
        Iterator.single((if (winner == ia) ib else ia, Wkb.write(o)))
      }
    }.toDF("id", "lostwkb")
    df.select(org.apache.spark.sql.functions.col("id").cast("long").as("id"),
        org.apache.spark.sql.functions.col("wkb"))
      .join(lost, Seq("id"), "left")
      .as[(Long, Array[Byte], Option[Array[Byte]])]
      .groupByKey(_._1).mapGroups { (id, it) =>
        var base: Geom = null
        val losses = ArrayBuffer.empty[Array[Byte]]
        it.foreach { case (_, w, lw) =>
          if (base == null) base = Wkb.read(w)
          lw.foreach(losses += _)
        }
        var g = base
        losses.foreach(lw => g = BoolOps.difference(g, Wkb.read(lw)))
        (id, Wkb.write(g))
      }.toDF("id", "wkb")
  }

  /** clean-coverage maximum-gap-width (gdalalg_vector_clean_coverage.cpp:44
    * → GEOS CoverageCleaner::setGapMaximumWidth): a gap — an enclosed
    * region covered by no unit, i.e. an interior ring of the dissolved
    * coverage — closes when its width (2 × max inscribed-circle radius,
    * the GEOS CoverageGapFinder criterion, tested here by erosion
    * emptiness at width/2) is ≤ maxWidth; each closed gap merges into the
    * adjacent unit sharing the longest border (ties → min id).
    *
    * Distributed shape: the union comes from the map-side Dissolve
    * aggregator (interior edges cancel, so the combine tree carries
    * boundary-proportional payloads, never the row set); gaps meet only
    * the units they intersect (SpatialJoin.intersectsJoin, gap side
    * broadcast — gaps are a vanishing fraction of units; a gap sharing
    * border length with a unit intersects it); the merge fold is ONE
    * groupByKey on unit id. */
  def closeGaps(df: DataFrame, maxWidth: Double, z: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gaps = df.agg(Dissolve.unionCol(col("wkb")).as("u")).as[Array[Byte]]
      .flatMap { w =>
        val parts = Wkb.read(w) match {
          case p: Polygon      => Array(p)
          case m: MultiPolygon => m.polys
          case _               => Array.empty[Polygon]
        }
        parts.iterator.flatMap(_.rings.iterator.drop(1))
          .map(h => Polygon(Array(h)))
          .filter { hp =>
            GeoOps.area(hp) > 0.0 &&
              GeoOps.area(Buffer.buffer(hp, -maxWidth / 2.0)) <= 0.0
          }
          .zipWithIndex.map { case (hp, i) => (i.toLong, Wkb.write(hp)) }
      }.toDF("gid", "wkb")
    val units = df.select(col("id").cast("long").as("id"), col("wkb"))
    val won = SpatialJoin.intersectsJoin(units, gaps, z)
      .select("gid", "id", "wkb_r", "wkb")
      .as[(Long, Long, Array[Byte], Array[Byte])]
      .map { case (gid, id, gw, uw) =>
        val gap = Wkb.read(gw); val unit = Wkb.read(uw)
        var len = 0.0
        ringsOf(gap).foreach { rr =>
          var i = 0
          while (i + 3 < rr.length) {
            val mx = (rr(i) + rr(i + 2)) / 2.0; val my = (rr(i + 1) + rr(i + 3)) / 2.0
            if (onBoundary(unit, mx, my, 1e-9))
              len += math.hypot(rr(i + 2) - rr(i), rr(i + 3) - rr(i + 1))
            i += 2
          }
        }
        (gid, id, len, gw)
      }
      .filter(_._3 > 0.0)
      .groupByKey(_._1)
      .mapGroups { (_, it) =>
        // longest shared border wins; ties -> min id
        val best = it.minBy { case (_, id, len, _) => (-len, id) }
        (best._2, best._4)
      }.toDF("id", "gainwkb")
    df.select(col("id").cast("long").as("id"), col("wkb"))
      .join(won, Seq("id"), "left")
      .as[(Long, Array[Byte], Option[Array[Byte]])]
      .groupByKey(_._1).mapGroups { (id, it) =>
        var base: Geom = null
        val gains = ArrayBuffer.empty[Array[Byte]]
        it.foreach { case (_, w, gw) =>
          if (base == null) base = Wkb.read(w)
          gw.foreach(gains += _)
        }
        var g = base
        gains.foreach(gw => g = BoolOps.union(g, Wkb.read(gw)))
        (id, Wkb.write(g))
      }.toDF("id", "wkb")
  }

  /** (border of overlap `o` shared with a's remainder, with b's
    * remainder): a segment of ∂o lying on ∂b (and not ∂a) separates o
    * from the rest of A, and vice versa; segments on both boundaries are
    * shared exterior border and count for neither. Classified by segment
    * midpoint at absolute eps — the overlap's vertices come from the two
    * inputs' own coordinates, so on-boundary distances are exact to fp
    * noise. */
  private[engine] def borderShares(o: Geom, a: Geom, b: Geom): (Double, Double) = {
    val eps = 1e-9
    var lenOnA = 0.0; var lenOnB = 0.0
    ringsOf(o).foreach { rr =>
      var i = 0
      while (i + 3 < rr.length) {
        val mx = (rr(i) + rr(i + 2)) / 2.0; val my = (rr(i + 1) + rr(i + 3)) / 2.0
        val len = math.hypot(rr(i + 2) - rr(i), rr(i + 3) - rr(i + 1))
        val onA = onBoundary(a, mx, my, eps)
        val onB = onBoundary(b, mx, my, eps)
        if (onA && !onB) lenOnA += len
        else if (onB && !onA) lenOnB += len
        i += 2
      }
    }
    (lenOnB, lenOnA)
  }

  private def ringsOf(g: Geom): Iterator[Array[Double]] = g match {
    case p: Polygon => p.rings.iterator
    case m: MultiPolygon => m.polys.iterator.flatMap(_.rings)
    case _ => Iterator.empty
  }

  private def onBoundary(g: Geom, px: Double, py: Double, eps: Double): Boolean = {
    val e2 = eps * eps
    ringsOf(g).exists { rr =>
      var i = 0; var hit = false
      while (i + 3 < rr.length && !hit) {
        if (GeoOps.distToSegmentSq(px, py, rr(i), rr(i + 1), rr(i + 2), rr(i + 3)) <= e2)
          hit = true
        i += 2
      }
      hit
    }
  }

  private def dropDegenerate(polys: Array[Polygon]): Array[Polygon] =
    polys.flatMap { poly =>
      val cleaned = poly.rings.map(r => closeRing(openVerts(r)))
      if (cleaned.isEmpty || cleaned(0).length < 8) None // collapsed exterior
      else Some(Polygon(cleaned.take(1) ++ cleaned.drop(1).filter(_.length >= 8)))
    }

  /** simplify-coverage over a DataFrame(id: bigint, wkb: binary) of
    * polygonal units; returns the same schema with every unit simplified
    * topology-consistently at `tol`. */
  def simplifyCoverage(df: DataFrame, tol: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val rings: Dataset[CovRing] = df.select("id", "wkb")
      .as[(Long, Array[Byte])]
      .flatMap { case (id, wkb) =>
        val polys = Wkb.read(wkb) match {
          case p: Polygon => Array(p)
          case m: MultiPolygon => m.polys
          case s: Surface => s.toMulti.polys
          case other => throw new IllegalArgumentException(
            s"coverage units must be polygonal, got ${other.typeName}")
        }
        for { (p, pi) <- polys.zipWithIndex.iterator
              (r, ri) <- p.rings.zipWithIndex.iterator }
          yield CovRing(id, pi, ri, openVerts(r))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // (canonical segment, owner) pairs → sorted owner-set signature
    val segs = rings.flatMap { r =>
      val n = r.coords.length / 2
      (0 until n).iterator.map { i =>
        val ax = r.coords(2 * i); val ay = r.coords(2 * i + 1)
        val j = (i + 1) % n
        val bx = r.coords(2 * j); val by = r.coords(2 * j + 1)
        if (ax < bx || (ax == bx && ay <= by))
          (ax, ay, bx, by, r.id, r.part, r.ring, i)
        else (bx, by, ax, ay, r.id, r.part, r.ring, i)
      }
    }.toDF("ax", "ay", "bx", "by", "id", "part", "ring", "seg")

    val owners = segs.select("ax", "ay", "bx", "by", "id")
      .as[(Double, Double, Double, Double, Long)]
      .groupByKey(t => (t._1, t._2, t._3, t._4))
      .mapGroups { (k, it) =>
        val ids = it.map(_._5).toArray.distinct.sorted
        (k._1, k._2, k._3, k._4, ids.mkString(","))
      }.toDF("ax", "ay", "bx", "by", "sig")

    val ringSigs = segs.join(owners, Seq("ax", "ay", "bx", "by"))
      .select("id", "part", "ring", "seg", "sig")
      .as[(Long, Int, Int, Int, String)]
      .groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (k, it) =>
        val sigs = it.toArray.sortBy(_._4).map(_._5)
        (k._1, k._2, k._3, sigs)
      }.toDF("id", "part", "ring", "sigs")

    val newRings = ringSigs
      .join(rings.toDF(), Seq("id", "part", "ring"))
      .select("id", "part", "ring", "sigs", "coords")
      .as[(Long, Int, Int, Array[String], Array[Double])]
      .map { case (id, part, ring, sigs, verts) =>
        (id, part, ring, closeRing(simplifyRing(verts, sigs, tol)))
      }

    newRings.groupByKey(_._1).mapGroups { (id, it) =>
      val parts = it.toArray.groupBy(_._2).toArray.sortBy(_._1).map {
        case (_, rs) => Polygon(rs.sortBy(_._3).map(_._4))
      }
      val g: Geom = if (parts.length == 1) parts(0) else MultiPolygon(parts)
      (id, Wkb.write(g))
    }.toDF("id", "wkb")
  }

  /** Drop the closure vertex and any consecutive duplicates (incl. the
    * wrap-around pair) — the canonical open vertex list both the segment
    * explode and the ring rebuild use. */
  private[engine] def openVerts(ring: Array[Double]): Array[Double] = {
    val out = new ArrayBuffer[Double]()
    val n = ring.length / 2
    val m = if (n > 1 && ring(0) == ring(2 * n - 2) && ring(1) == ring(2 * n - 1)) n - 1 else n
    var i = 0
    while (i < m) {
      val x = ring(2 * i); val y = ring(2 * i + 1)
      val last = out.length
      if (last == 0 || out(last - 2) != x || out(last - 1) != y) { out += x; out += y }
      i += 1
    }
    // wrap-around duplicate
    if (out.length >= 4 && out(0) == out(out.length - 2) && out(1) == out(out.length - 1))
      out.remove(out.length - 2, 2)
    out.toArray
  }

  private def closeRing(open: Array[Double]): Array[Double] =
    if (open.length < 2) open
    else open ++ Array(open(0), open(1))

  private def reverseChain(cs: Array[Double]): Array[Double] = {
    val n = cs.length / 2
    val out = new Array[Double](cs.length)
    var i = 0
    while (i < n) {
      out(2 * i) = cs(2 * (n - 1 - i)); out(2 * i + 1) = cs(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  /** DP in a canonical direction — identical for both owners of an arc. */
  private def simplifyArcCanonical(chain: Array[Double], tol: Double): Array[Double] = {
    val m = chain.length / 2
    if (m <= 2) return chain
    val sx = chain(0); val sy = chain(1)
    val ex = chain(2 * (m - 1)); val ey = chain(2 * (m - 1) + 1)
    val fwd =
      if (sx != ex) sx < ex
      else if (sy != ey) sy < ey
      else { // closed loop arc: orient by second vs second-to-last vertex
        val c1 = (chain(2), chain(3)); val c2 = (chain(2 * (m - 2)), chain(2 * (m - 2) + 1))
        c1._1 < c2._1 || (c1._1 == c2._1 && c1._2 <= c2._2)
      }
    if (fwd) GeoOps.simplifyLine(chain, tol)
    else reverseChain(GeoOps.simplifyLine(reverseChain(chain), tol))
  }

  /** Simplify one open ring whose segment i joins verts(i)→verts(i+1 mod n),
    * with sigs(i) the owner-set signature of that segment. Nodes (sig
    * change points) are pinned; each arc simplifies canonically. */
  private[engine] def simplifyRing(verts: Array[Double], sigs: Array[String],
                                   tol: Double): Array[Double] = {
    val n = verts.length / 2
    if (n < 4 || sigs.length != n) return verts
    def vx(i: Int) = verts(2 * (i % n)); def vy(i: Int) = verts(2 * (i % n) + 1)
    val nodes = (0 until n).filter(i => sigs(i) != sigs((i - 1 + n) % n))
    if (nodes.isEmpty) return simplifyIsolatedRing(verts, tol)

    val r = nodes.min
    val out = new ArrayBuffer[Double]()
    var i = 0
    while (i < n) { // walk runs of equal sig starting from the first node
      val runStart = i
      val sig = sigs((r + i) % n)
      while (i < n && sigs((r + i) % n) == sig) i += 1
      // arc vertices r+runStart .. r+i (inclusive end = next node)
      val chain = new Array[Double](2 * (i - runStart + 1))
      var k = 0
      while (k <= i - runStart) {
        chain(2 * k) = vx(r + runStart + k); chain(2 * k + 1) = vy(r + runStart + k)
        k += 1
      }
      val simp = simplifyArcCanonical(chain, tol)
      val from = if (out.isEmpty) 0 else 2 // skip duplicated junction vertex
      var p = from
      while (p < simp.length) { out += simp(p); p += 1 }
    }
    out.remove(out.length - 2, 2) // last junction == ring start (re-closed later)
    if (out.length < 6) verts else out.toArray
  }

  /** Single-owner-set ring (island / hole boundary with one neighbor):
    * canonicalize rotation (min vertex) and direction, DP the two halves
    * split at the farthest vertex from the anchor, then restore this
    * owner's original orientation. */
  private def simplifyIsolatedRing(verts: Array[Double], tol: Double): Array[Double] = {
    val n = verts.length / 2
    var a = 0
    var i = 1
    while (i < n) {
      if (verts(2 * i) < verts(2 * a) ||
          (verts(2 * i) == verts(2 * a) && verts(2 * i + 1) < verts(2 * a + 1))) a = i
      i += 1
    }
    val rot = new Array[Double](verts.length)
    i = 0
    while (i < n) {
      rot(2 * i) = verts(2 * ((a + i) % n)); rot(2 * i + 1) = verts(2 * ((a + i) % n) + 1)
      i += 1
    }
    val forward = {
      val c1 = (rot(2), rot(3)); val c2 = (rot(2 * (n - 1)), rot(2 * (n - 1) + 1))
      c1._1 < c2._1 || (c1._1 == c2._1 && c1._2 <= c2._2)
    }
    val canon = if (forward) rot
      else rot.take(2) ++ reverseChain(rot.drop(2)) // keep anchor first
    // farthest vertex from the anchor (deterministic tie: lowest index)
    var b = 1; var bestD = -1.0
    i = 1
    while (i < n) {
      val dx = canon(2 * i) - canon(0); val dy = canon(2 * i + 1) - canon(1)
      val d = dx * dx + dy * dy
      if (d > bestD) { bestD = d; b = i }
      i += 1
    }
    val c1 = canon.slice(0, 2 * (b + 1))
    val c2 = canon.slice(2 * b, 2 * n) ++ canon.take(2)
    val s1 = GeoOps.simplifyLine(c1, tol)
    val s2 = GeoOps.simplifyLine(c2, tol)
    var merged = s1 ++ s2.slice(2, s2.length - 2)
    // the split anchors A (index 0) and B were pinned by construction, not
    // because they survive the tolerance — drop them if within tol of
    // their neighbours' chord (fixed B-then-A order keeps the computation
    // a pure function of the canonical chain, so owners still agree)
    merged = tryDropVertex(merged, s1.length / 2 - 1, tol)
    merged = tryDropVertex(merged, 0, tol)
    val result = if (merged.length < 6) canon else merged
    if (forward) result
    else result.take(2) ++ reverseChain(result.drop(2))
  }

  /** Remove vertex i of an open ring if it lies within tol of the chord
    * joining its cyclic neighbours (and the ring stays non-degenerate). */
  private def tryDropVertex(ring: Array[Double], i: Int, tol: Double): Array[Double] = {
    val n = ring.length / 2
    if (n <= 3 || i < 0 || i >= n) return ring
    val p = (i - 1 + n) % n; val q = (i + 1) % n
    val d2 = GeoOps.distToSegmentSq(ring(2 * i), ring(2 * i + 1),
      ring(2 * p), ring(2 * p + 1), ring(2 * q), ring(2 * q + 1))
    if (d2 > tol * tol) ring
    else ring.slice(0, 2 * i) ++ ring.slice(2 * i + 2, ring.length)
  }
}
