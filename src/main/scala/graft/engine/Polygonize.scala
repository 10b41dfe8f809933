package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One tile edge's pixels as a cross-tile merge sees them, keyed by the
  * tile-grid line they lie on: kind 0 is the vertical line between tiles
  * (tx, ty) and (tx+1, ty), kind 1 the horizontal line between (tx, ty) and
  * (tx, ty+1). With 8-connectivity, kind 2 is the corner pixel shared by the
  * NW tile (tx, ty) and the SE tile (tx+1, ty+1), kind 3 the one shared by
  * the NE tile (tx+1, ty) and the SW tile (tx, ty+1). `owner` is 0 for the
  * left/top side of the line and 1 for the right/bottom side. */
case class Strip(tx: Int, ty: Int, band: Int, kind: Int, owner: Int,
                 values: Array[Double], labels: Array[Long]) {
  def key: (Int, Int, Int, Int) = (tx, ty, band, kind)
}

/** A labeled tile: each pixel's label, the (label, value, size) components
  * and the edge strips (the 8-connected corners included). */
private[graft] case class TileLabels(labels: Array[Long],
                                     comps: Array[(Long, Double, Long)], strips: Array[Strip])

/** Per-tile output of the ring-emitting polygonize: component aggregates,
  * border strips (their owner flags place cross-tile boundary segments in
  * global coordinates), and boundary arcs (directed polylines, interior on
  * the left, points interleaved x0,y0,x1,y1,…). */
case class PolyRingTileOut(comps: Array[(Long, Double, Long)], borders: Array[Strip],
                           arcs: Array[(Long, Array[Long])])

/** Distributed polygonize: connected components of equal-valued pixels
  * (4-connected GDAL default, 8-connected option) over a tiled raster —
  * per-tile labeling plus
  * cross-tile boundary merge, the classic "crosses tile borders" raster op
  * (SURVEY.md §2.G).
  *
  * Reference: two-pass connected-component polygonizer
  * (/root/reference/alg/polygonize.cpp:455-498, 4/8-connectivity :169-229).
  * Spark shape:
  *   1. [[label]]: per-tile union-find → local components labeled by their
  *      MIN global pixel index (deterministic, mergeable)
  *   2. tiles emit their border strips keyed by the shared edge; one
  *      shuffle pairs facing strips ([[stripEdges]]) → adjacency edges
  *      between labels
  *   3. the label adjacency graph (O(total tile perimeter) — orders of
  *      magnitude smaller than the raster, but unbounded in adversarial
  *      stripe rasters) is resolved by GraphOps.connectedComponentsAuto:
  *      union-find on the driver while it fits the driver budget,
  *      distributed hash-min label propagation beyond it — nothing
  *      O(edges) is ever forced through the driver
  *   4. per-tile component aggregates re-key to their root (join against
  *      the label→root mapping; Catalyst broadcasts it while small) and merge
  * Labels are min-global-pixel-index, so output is invariant to tiling.
  * Sieve and Nearblack label their tiles and pair their strips with the
  * same [[label]] and [[pairStrips]].
  */
object Polygonize {

  /** Connected components of equal-valued pixels in one tile, 4- or
    * 8-connected (NaN never equals itself, so a NaN pixel is a component of
    * its own). Union-find keeps each set's minimum local index as its root;
    * in row-major order that is also the set's minimum global pixel index,
    * which labels the component. `width` = global raster width in pixels. */
  private[graft] def label(t: Tile, width: Long, conn: Int): TileLabels = {
    val w = t.w; val h = t.h; val px = t.pixels
    val parent = Array.tabulate(w * h)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        if (x + 1 < w && px(i) == px(i + 1)) union(i, i + 1)
        if (y + 1 < h && px(i) == px(i + w)) union(i, i + w)
        if (conn == 8) {
          if (x + 1 < w && y + 1 < h && px(i) == px(i + w + 1)) union(i, i + w + 1)
          if (x > 0 && y + 1 < h && px(i) == px(i + w - 1)) union(i, i + w - 1)
        }
        x += 1
      }
      y += 1
    }
    val gx0 = t.x.toLong * w; val gy0 = t.y.toLong * h
    val labels = new Array[Long](w * h)
    val size = new Array[Long](w * h)
    var i = 0
    while (i < w * h) {
      val r = find(i)
      labels(i) = (gy0 + r / w) * width + gx0 + r % w
      size(r) += 1
      i += 1
    }
    val comps = (0 until w * h).iterator.filter(r => parent(r) == r)
      .map(r => (labels(r), px(r), size(r))).toArray
    def strip(kind: Int, owner: Int, kx: Int, ky: Int, at: Array[Int]) =
      Strip(kx, ky, t.band, kind, owner, at.map(px), at.map(labels))
    def col(x: Int) = Array.tabulate(h)(_ * w + x)
    def row(y: Int) = Array.tabulate(w)(y * w + _)
    val edges = Array(
      strip(0, 0, t.x, t.y, col(w - 1)),     // our right edge
      strip(0, 1, t.x - 1, t.y, col(0)),     // neighbor's right edge
      strip(1, 0, t.x, t.y, row(h - 1)),     // our bottom edge
      strip(1, 1, t.x, t.y - 1, row(0)))     // neighbor's bottom edge
    val strips =
      if (conn != 8) edges
      else edges ++ Array(
        strip(2, 0, t.x, t.y, Array(w * h - 1)),         // we are NW
        strip(2, 1, t.x - 1, t.y - 1, Array(0)),         // we are SE
        strip(3, 0, t.x - 1, t.y, Array((h - 1) * w)),   // we are NE
        strip(3, 1, t.x, t.y - 1, Array(w - 1)))         // we are SW
    TileLabels(labels, comps, strips)
  }

  /** Label edges across the strips of one grid line: `sides` holds them
    * (one strip: a raster border, no edges). Aligned pixels pair, and with
    * 8-connectivity each pixel's diagonal neighbours (offset ±1) on the
    * facing strip too. Each edge is (sameValue, min label, max label);
    * pairs of equal labels are dropped. */
  private[graft] def pairStrips(sides: Iterator[Strip], conn: Int)
      : Iterator[(Boolean, Long, Long)] = {
    val ss = sides.take(2).toArray
    if (ss.length < 2) Iterator.empty
    else {
      val (a, b) = (ss(0), ss(1))
      val offs = if (conn == 8) Seq(-1, 0, 1) else Seq(0)
      a.values.indices.iterator.flatMap { i =>
        offs.iterator.map(i + _).filter(j => j >= 0 && j < b.values.length).map { j =>
          (a.values(i) == b.values(j), math.min(a.labels(i), b.labels(j)),
            math.max(a.labels(i), b.labels(j)))
        }
      }.filter(e => e._2 != e._3)
    }
  }

  /** [[pairStrips]] over every grid line: one shuffle groups the strips by
    * line. Not deduplicated. */
  private[graft] def stripEdges(strips: Dataset[Strip], conn: Int): Dataset[(Boolean, Long, Long)] = {
    import strips.sparkSession.implicits._
    strips.groupByKey(_.key).flatMapGroups((_, it) => pairStrips(it, conn))
  }

  /** Component aggregates re-keyed to their merged root and summed. The
    * mapping is perimeter-sized: Catalyst broadcasts it while it is small,
    * shuffles when it is not — either way no driver materialization. */
  private def merged(comps: Dataset[(Long, Double, Long)], mapping: DataFrame): DataFrame =
    comps.toDF("label", "value", "size")
      .join(mapping, col("label") === col("lbl"), "left")
      .select(coalesce(col("root"), col("label")).as("label"), col("value"), col("size"))
      .groupBy("label", "value").agg(sum("size").as("size"))

  /** (label = min global pixel idx, value, size) per component. `width` =
    * global raster width in pixels (for the global index). */
  def components(tiles: Dataset[Tile], width: Long, conn: Int = 4): DataFrame = {
    require(conn == 4 || conn == 8, s"connectivity must be 4 or 8, got $conn")
    val spark = tiles.sparkSession
    import spark.implicits._

    // ---- pass 1: per-tile CCL + border strips
    val perTile = tiles.map { t =>
      val tl = label(t, width, conn)
      (tl.comps, tl.strips)
    }.cache()

    // ---- pass 2: equal-valued label pairs across facing strips
    val edges = stripEdges(perTile.flatMap(_._2), conn)
      .filter(_._1).map(e => (e._2, e._3)).distinct()

    // ---- pass 3: components of the label graph (driver fast path under
    // spark.graft.cc.driverLimit edges, distributed hash-min beyond)
    val mapping = GraphOps.connectedComponentsAuto(edges)
      .toDF("lbl", "root")

    // ---- pass 4: merge component aggregates under root labels
    merged(perTile.flatMap(_._1), mapping)
  }

  // =====================================================================
  // Ring-emitting polygonize (reference: RPolygonize ring assembly,
  // /root/reference/alg/polygonize.cpp:455-498 and
  // /root/reference/alg/polygonize_polygonizer.cpp — the reference walks
  // pixel boundaries into rings single-node; here boundary ARCS are traced
  // per tile, keyed by component label, and assembled per merged component
  // after the distributed CC, the same arc-reassembly shape Coverage uses).
  // =====================================================================

  /** Directed-boundary convention: every boundary unit edge is a side of a
    * component pixel, directed so the component interior is on the LEFT in
    * y-down pixel-corner coordinates (interior offset = (-dy, dx)):
    * top (gx,gy)→(gx+1,gy), right (gx+1,gy)→(gx+1,gy+1),
    * bottom (gx+1,gy+1)→(gx,gy+1), left (gx,gy+1)→(gx,gy).
    * Exterior rings then have POSITIVE shoelace sum, holes NEGATIVE.
    *
    * Junction rule (pinch vertices, where one component's outline passes a
    * corner twice): an arrival with direction dIn continues on the departure
    * minimizing cross(dIn,dOut) = dInX*dOutY − dInY*dOutX. This pairs
    * arrivals and departures bijectively, keeps exterior and touching hole
    * rings separate, and merges diagonal lobes of one component into a
    * single self-touching exterior — matching the reference polygonizer's
    * 4-connected ring topology. The same rule is applied during per-tile
    * chaining (interior vertices see all incident edges) and global
    * assembly (arcs only meet at arc endpoints), so the output is invariant
    * to tiling. */
  private def crossTurn(dInX: Long, dInY: Long, dOutX: Long, dOutY: Long): Long =
    dInX * dOutY - dInY * dOutX

  /** Polygonize with actual ring geometries: (label, value, size, wkt) per
    * component, where wkt is the component's polygon with holes in global
    * pixel-corner coordinates (canonical form: exterior positive-shoelace
    * starting at its lexicographically-smallest vertex, holes negative,
    * sorted by first vertex; MULTIPOLYGON only in the defensive
    * multiple-exterior fallback). 4-connected only (the GDAL default;
    * 8-connected outlines self-cross at every diagonal step and the
    * reference serves them through the same 4-style polygonizer after
    * component relabeling).
    *
    * Scale shape: per-tile work is O(tile pixels); the only shuffled
    * structures are O(component boundary) arcs and O(tile perimeter)
    * strips; the per-component assembly task is O(that component's
    * boundary) — inherent, since the output WKB is the same size — and is
    * guarded by spark.graft.polygonize.maxArcPoints (default 100M vertices
    * ≈ 1.6 GB) which THROWS rather than silently running a giant task. */
  def polygons(tiles: Dataset[Tile], width: Long): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val maxArcPts = GraphOps.guardCap(spark, "spark.graft.polygonize.maxArcPoints", 100000000L)

    // ---- pass 1: per-tile CCL + aggregates + border strips + interior arcs
    val perTile = tiles.map { t =>
      val w = t.w; val h = t.h
      val gx0 = t.x.toLong * w; val gy0 = t.y.toLong * h
      val tl = label(t, width, 4)
      val lbl = tl.labels

      // interior-definite boundary unit edges (sides between two in-tile
      // pixels of different value); tile-border sides are pass-2-pending
      val eLbl = new scala.collection.mutable.ArrayBuffer[Long]()
      val eSx = new scala.collection.mutable.ArrayBuffer[Long]()
      val eSy = new scala.collection.mutable.ArrayBuffer[Long]()
      val eEx = new scala.collection.mutable.ArrayBuffer[Long]()
      val eEy = new scala.collection.mutable.ArrayBuffer[Long]()
      def addEdge(l: Long, sx: Long, sy: Long, ex: Long, ey: Long): Unit = {
        eLbl += l; eSx += sx; eSy += sy; eEx += ex; eEy += ey
      }
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = y * w + x
          val l = lbl(i)
          val gx = gx0 + x; val gy = gy0 + y
          if (y > 0 && t.pixels(i) != t.pixels(i - w)) addEdge(l, gx, gy, gx + 1, gy)
          if (y + 1 < h && t.pixels(i) != t.pixels(i + w)) addEdge(l, gx + 1, gy + 1, gx, gy + 1)
          if (x > 0 && t.pixels(i) != t.pixels(i - 1)) addEdge(l, gx, gy + 1, gx, gy)
          if (x + 1 < w && t.pixels(i) != t.pixels(i + 1)) addEdge(l, gx + 1, gy, gx + 1, gy + 1)
          x += 1
        }
        y += 1
      }
      // chain unit edges into arcs: cut at tile-border vertices (pending
      // sides may continue there), apply the junction rule at interior ones
      val startMap = new java.util.HashMap[(Long, Long, Long), java.util.ArrayList[Int]]()
      var k = 0
      while (k < eLbl.length) {
        startMap.computeIfAbsent((eLbl(k), eSx(k), eSy(k)),
          _ => new java.util.ArrayList[Int]()).add(k)
        k += 1
      }
      def onBorder(vx: Long, vy: Long): Boolean =
        vx == gx0 || vx == gx0 + w || vy == gy0 || vy == gy0 + h
      def pickNext(l: Long, vx: Long, vy: Long, dInX: Long, dInY: Long): Int = {
        val cands = startMap.get((l, vx, vy))
        if (cands == null || cands.isEmpty) -1
        else {
          var best = -1; var bestCross = Long.MaxValue
          var ci = 0
          while (ci < cands.size()) {
            val c = cands.get(ci)
            val cr = crossTurn(dInX, dInY, eEx(c) - eSx(c), eEy(c) - eSy(c))
            if (cr < bestCross) { bestCross = cr; best = c }
            ci += 1
          }
          best
        }
      }
      val visited = new Array[Boolean](eLbl.length)
      val arcs = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
      def appendPt(buf: scala.collection.mutable.ArrayBuffer[Long], nx: Long, ny: Long): Unit = {
        val n = buf.length
        if (n >= 4 &&
            ((buf(n - 4) == buf(n - 2) && buf(n - 2) == nx) ||
             (buf(n - 3) == buf(n - 1) && buf(n - 1) == ny))) {
          buf(n - 2) = nx; buf(n - 1) = ny // extend collinear run
        } else { buf += nx; buf += ny }
      }
      def trace(e0: Int, stopAtBorder: Boolean): Unit = {
        val l = eLbl(e0)
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        buf += eSx(e0); buf += eSy(e0); buf += eEx(e0); buf += eEy(e0)
        visited(e0) = true
        var cur = e0
        var done = false
        while (!done) {
          val vx = eEx(cur); val vy = eEy(cur)
          if (stopAtBorder && onBorder(vx, vy)) done = true
          else {
            val nx = pickNext(l, vx, vy, eEx(cur) - eSx(cur), eEy(cur) - eSy(cur))
            if (nx == -1) done = true // open end (raster border inside strip pass)
            else if (nx == e0) done = true // closed ring: buf already ends at its start
            else {
              if (visited(nx))
                throw new IllegalStateException("polygonize arc pairing visited twice — bug")
              visited(nx) = true
              appendPt(buf, eEx(nx), eEy(nx))
              cur = nx
            }
          }
        }
        arcs += ((l, buf.toArray))
      }
      k = 0
      while (k < eLbl.length) { // open chains start at tile-border vertices
        if (!visited(k) && onBorder(eSx(k), eSy(k))) trace(k, stopAtBorder = true)
        k += 1
      }
      k = 0
      while (k < eLbl.length) { // leftovers: interior closed rings
        if (!visited(k)) trace(k, stopAtBorder = false)
        k += 1
      }

      PolyRingTileOut(tl.comps, tl.strips, arcs.toArray)
    }.cache()

    // tile extents for strip coordinate math (uniform grid assumed, as
    // everywhere in the Tile model)
    val dims = tiles.head()
    val tw = dims.w; val th = dims.h

    // ---- pass 2: facing strips → adjacency edges (same-value pairs) AND
    // cross-tile/raster-border boundary segments (single-segment arcs).
    // rowKind 0 = adjacency (a,b); rowKind 1 = arc (a = label, pts)
    val stripOut = perTile.flatMap(_.borders)
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        val (ex, ey, _, kind) = key
        val sides = it.toArray
        val o0 = sides.find(_.owner == 0) // left/top side
        val o1 = sides.find(_.owner == 1) // right/bottom side
        val pairs = pairStrips(sides.iterator, 4).collect {
          case (true, a, b) => (0, a, b, Array.empty[Long])
        }
        // the unit side at strip position i, directed with the owner's
        // interior on its left; kind 0 lines are vertical, kind 1 horizontal
        val bx = (ex.toLong + 1) * tw; val by = (ey.toLong + 1) * th
        def side(i: Int, owner: Int): Array[Long] =
          if (kind == 0) {
            val gy = ey.toLong * th + i
            if (owner == 0) Array(bx, gy, bx, gy + 1) else Array(bx, gy + 1, bx, gy)
          } else {
            val gx = ex.toLong * tw + i
            if (owner == 0) Array(gx + 1, by, gx, by) else Array(gx, by, gx + 1, by)
          }
        // a boundary wherever the two sides differ, or one side is missing
        // (the raster border)
        val boundary: Int => Boolean = (o0, o1) match {
          case (Some(a), Some(b)) => i => a.values(i) != b.values(i)
          case _ => _ => true
        }
        pairs ++ sides.head.values.indices.iterator.filter(boundary)
          .flatMap(i => sides.iterator.map(s => (1, s.labels(i), 0L, side(i, s.owner))))
      }.cache()

    // ---- pass 3: merge labels across tiles (O(log n) star CC)
    val adj = stripOut.filter(_._1 == 0).map(r => (r._2, r._3)).distinct()
    val mapping = GraphOps.connectedComponentsAuto(adj).toDF("lbl", "root")

    // ---- pass 4: arcs re-keyed to root labels, assembled into rings
    val allArcs = perTile.flatMap(_.arcs)
      .union(stripOut.filter(_._1 == 1).map(r => (r._2, r._4)))
      .toDF("label", "pts")
    val rooted = allArcs.join(mapping, col("label") === col("lbl"), "left")
      .select(coalesce(col("root"), col("label")).as("root"), col("pts"))
      .as[(Long, Array[Long])]
    val maxPts = maxArcPts
    val ringWkt = rooted.groupByKey(_._1).mapGroups { (root, it) =>
      (root, assemble(it.map(_._2).toArray, maxPts))
    }.toDF("rlbl", "wkt")

    // ---- aggregates (value, size) under root labels, joined to the rings
    merged(perTile.flatMap(_.comps), mapping)
      .join(ringWkt, col("label") === col("rlbl"))
      .select(col("label"), col("value"), col("size"), col("wkt"))
  }

  /** Assemble one component's boundary arcs into canonical polygon WKT.
    * Runs once per component; O(boundary vertices) time and memory —
    * inherent (the WKT itself is that size), capped by maxPts. */
  private def assemble(arcsIn: Array[Array[Long]], maxPts: Long): String = {
    val totalPts = arcsIn.iterator.map(_.length.toLong / 2).sum
    if (totalPts > maxPts)
      throw new IllegalStateException(
        s"polygonize component boundary has $totalPts vertices > " +
        s"spark.graft.polygonize.maxArcPoints=$maxPts; refusing a giant " +
        "assembly task — raise the cap explicitly if intended")
    // deterministic processing order
    val arcs = arcsIn.sortWith(lexLess)
    val startMap = new java.util.HashMap[(Long, Long), java.util.ArrayList[Int]]()
    for (i <- arcs.indices) {
      val a = arcs(i)
      if (!(a(0) == a(a.length - 2) && a(1) == a(a.length - 1))) // open arcs only
        startMap.computeIfAbsent((a(0), a(1)), _ => new java.util.ArrayList[Int]()).add(i)
    }
    val visited = new Array[Boolean](arcs.length)
    val rings = scala.collection.mutable.ArrayBuffer[Array[Long]]()

    def appendPts(buf: scala.collection.mutable.ArrayBuffer[Long], a: Array[Long]): Unit = {
      var i = 2 // skip the shared junction vertex
      while (i < a.length) {
        val nx = a(i); val ny = a(i + 1)
        val n = buf.length
        if (n >= 4 &&
            ((buf(n - 4) == buf(n - 2) && buf(n - 2) == nx) ||
             (buf(n - 3) == buf(n - 1) && buf(n - 1) == ny))) {
          buf(n - 2) = nx; buf(n - 1) = ny
        } else { buf += nx; buf += ny }
        i += 2
      }
    }

    for (i0 <- arcs.indices) if (!visited(i0)) {
      val a0 = arcs(i0)
      visited(i0) = true
      val buf = new scala.collection.mutable.ArrayBuffer[Long]()
      if (a0(0) == a0(a0.length - 2) && a0(1) == a0(a0.length - 1)) {
        buf ++= a0 // tile-interior closed ring, already complete
      } else {
        buf += a0(0); buf += a0(1); appendPts(buf, a0)
        var cur = a0
        var closed = false
        while (!closed) {
          val n = buf.length
          val vx = buf(n - 2); val vy = buf(n - 1)
          val dInX = cur(cur.length - 2) - cur(cur.length - 4)
          val dInY = cur(cur.length - 1) - cur(cur.length - 3)
          val cands = startMap.get((vx, vy))
          if (cands == null || cands.isEmpty)
            throw new IllegalStateException(s"polygonize ring broken at ($vx,$vy) — bug")
          var best = -1; var bestCross = Long.MaxValue
          var ci = 0
          while (ci < cands.size()) {
            val c = cands.get(ci)
            val ca = arcs(c)
            val cr = crossTurn(dInX, dInY, ca(2) - ca(0), ca(3) - ca(1))
            if (cr < bestCross) { bestCross = cr; best = c }
            ci += 1
          }
          if (best == i0) closed = true // buf already ends at the start vertex
          else {
            if (visited(best))
              throw new IllegalStateException("polygonize arc pairing visited twice — bug")
            visited(best) = true
            appendPts(buf, arcs(best))
            cur = arcs(best)
          }
        }
      }
      // drop the duplicated closing vertex, then wrap-compress at the seam
      if (buf.length >= 4 && buf(0) == buf(buf.length - 2) && buf(1) == buf(buf.length - 1)) {
        buf.remove(buf.length - 2, 2)
      }
      def collinear(ax: Long, ay: Long, bx: Long, by: Long, cx: Long, cy: Long): Boolean =
        (ax == bx && bx == cx) || (ay == by && by == cy)
      var changed = true
      while (changed && buf.length >= 6) {
        changed = false
        val n = buf.length
        if (collinear(buf(n - 2), buf(n - 1), buf(0), buf(1), buf(2), buf(3))) {
          buf.remove(0, 2); changed = true
        } else if (collinear(buf(n - 4), buf(n - 3), buf(n - 2), buf(n - 1), buf(0), buf(1))) {
          buf.remove(n - 2, 2); changed = true
        }
      }
      rings += buf.toArray
    }

    // canonical rotation: start at the lexicographically smallest vertex
    // (ties — a pinch vertex appearing twice — resolved by the smaller
    // full rotation sequence)
    def rotate(r: Array[Long]): Array[Long] = {
      val n = r.length / 2
      var bestI = 0
      def less(i: Int, j: Int): Boolean = { // rotation i < rotation j
        var k = 0
        while (k < n) {
          val a = r(((i + k) % n) * 2); val b = r(((j + k) % n) * 2)
          val ay = r(((i + k) % n) * 2 + 1); val by = r(((j + k) % n) * 2 + 1)
          if (a != b) return a < b
          if (ay != by) return ay < by
          k += 1
        }
        false
      }
      for (i <- 1 until n) if (less(i, bestI)) bestI = i
      val out = new Array[Long](r.length)
      for (k <- 0 until n) {
        out(k * 2) = r(((bestI + k) % n) * 2); out(k * 2 + 1) = r(((bestI + k) % n) * 2 + 1)
      }
      out
    }
    def shoelace(r: Array[Long]): BigInt = {
      val n = r.length / 2
      var s = BigInt(0)
      for (k <- 0 until n) {
        val x1 = r(k * 2); val y1 = r(k * 2 + 1)
        val x2 = r(((k + 1) % n) * 2); val y2 = r(((k + 1) % n) * 2 + 1)
        s += BigInt(x1) * y2 - BigInt(x2) * y1
      }
      s
    }
    val canon = rings.map(rotate)
    val exts = canon.filter(shoelace(_) > 0).sortBy(r => (r(0), r(1)))
    val holes = canon.filter(shoelace(_) < 0).sortBy(r => (r(0), r(1)))
    def ringStr(r: Array[Long]): String = {
      val sb = new StringBuilder("(")
      var k = 0
      while (k < r.length) {
        if (k > 0) sb.append(',')
        sb.append(r(k)).append(' ').append(r(k + 1)); k += 2
      }
      sb.append(',').append(r(0)).append(' ').append(r(1)).append(')')
      sb.toString
    }
    if (exts.length == 1) {
      s"POLYGON (${(exts ++ holes).map(ringStr).mkString(",")})"
    } else {
      // defensive fallback: assign each hole to the exterior containing its
      // interior test point (half-integer, never on a grid-line ring)
      def inside(px: Double, py: Double, r: Array[Long]): Boolean = {
        val n = r.length / 2
        var cnt = 0
        for (k <- 0 until n) {
          val x1 = r(k * 2); val y1 = r(k * 2 + 1)
          val x2 = r(((k + 1) % n) * 2); val y2 = r(((k + 1) % n) * 2 + 1)
          if (x1 == x2 && x1 > px && py > math.min(y1, y2) && py < math.max(y1, y2)) cnt += 1
        }
        cnt % 2 == 1
      }
      val polys = exts.map(e => (e, scala.collection.mutable.ArrayBuffer[Array[Long]]()))
      holes.foreach { hRing =>
        val px = hRing(0) + 0.5; val py = hRing(1) + 0.5
        polys.find(p => inside(px, py, p._1)).foreach(_._2 += hRing)
      }
      val parts = polys.map { case (e, hs) =>
        s"(${(Seq(e) ++ hs).map(ringStr).mkString(",")})"
      }
      s"MULTIPOLYGON (${parts.mkString(",")})"
    }
  }

  /** Lexicographic order on interleaved point arrays (deterministic arc
    * processing order for the assembly). */
  private def lexLess(a: Array[Long], b: Array[Long]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i) < b(i)) return true
      if (a(i) > b(i)) return false
      i += 1
    }
    a.length < b.length
  }
}
