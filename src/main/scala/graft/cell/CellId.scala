package graft.cell

import graft.geom.{Envelope, Geom, Mercator}
import scala.collection.mutable.ArrayBuffer

/** S2/H3-style spatial cell index built on the reference's OWN tile grid:
  * a cell is a WebMercatorQuad XYZ tile (z, x, y) packed into one long
  * `(z << 58) | (x << 29) | y`. The quadtree math is exactly the reference's
  * tile math (/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:449-466,
  * /root/reference/apps/gdalalg_raster_tile.cpp:435-513), so join cells and
  * tile-pyramid assignments share one code path (SURVEY.md §0, §7.2).
  *
  * Packing: z in [0,28] (5 bits at 58), x/y in [0, 2^28) (29-bit fields).
  * Packed longs sort by (z, x, y) — covers are stored as sorted long arrays.
  */
object CellId {

  def pack(z: Int, x: Int, y: Int): Long =
    (z.toLong << 58) | (x.toLong << 29) | y.toLong

  def zoom(cell: Long): Int = (cell >>> 58).toInt
  def x(cell: Long): Int = ((cell >>> 29) & 0x1fffffffL).toInt
  def y(cell: Long): Int = (cell & 0x1fffffffL).toInt

  /** Cell of a lon/lat point at zoom z (gdal2tiles XYZ pipeline). */
  def fromLonLat(lon: Double, lat: Double, z: Int): Long =
    pack(z, Mercator.lonLatToTileX(lon, z), Mercator.lonLatToTileY(lat, z))

  def parent(cell: Long): Long = {
    val z = zoom(cell)
    if (z == 0) cell else pack(z - 1, x(cell) >> 1, y(cell) >> 1)
  }

  def parentAt(cell: Long, zTarget: Int): Long = {
    val z = zoom(cell)
    require(zTarget <= z, s"parentAt: target zoom $zTarget above cell zoom $z")
    val shift = z - zTarget
    pack(zTarget, x(cell) >> shift, y(cell) >> shift)
  }

  def children(cell: Long): Array[Long] = {
    val z = zoom(cell); val cx = x(cell); val cy = y(cell)
    Array(pack(z + 1, 2 * cx, 2 * cy), pack(z + 1, 2 * cx + 1, 2 * cy),
          pack(z + 1, 2 * cx, 2 * cy + 1), pack(z + 1, 2 * cx + 1, 2 * cy + 1))
  }

  /** Ring of cells at Chebyshev distance exactly `ring` from `cell` (ring 0 =
    * the cell itself). x wraps around the antimeridian; y is clamped at the
    * poles. Used by kNN cell-ring expansion (SURVEY.md §2.H). Sorted distinct. */
  def ring(cell: Long, r: Int): Array[Long] = {
    if (r == 0) return Array(cell)
    val z = zoom(cell); val n = 1L << z
    val cx = x(cell); val cy = y(cell)
    val out = new ArrayBuffer[Long]()
    var dx = -r
    while (dx <= r) {
      var dy = -r
      while (dy <= r) {
        if (math.max(math.abs(dx), math.abs(dy)) == r) {
          val ny = cy + dy
          if (ny >= 0 && ny < n) {
            val nx = (((cx + dx).toLong % n) + n) % n
            out += pack(z, nx.toInt, ny)
          }
        }
        dy += 1
      }
      dx += 1
    }
    val arr = out.toArray.distinct
    java.util.Arrays.sort(arr)
    arr
  }

  /** Disk of cells within Chebyshev distance r (rings 0..r), sorted distinct. */
  def disk(cell: Long, r: Int): Array[Long] = {
    val out = new ArrayBuffer[Long]()
    var i = 0
    while (i <= r) { out ++= ring(cell, i); i += 1 }
    val arr = out.toArray.distinct
    java.util.Arrays.sort(arr)
    arr
  }

  /** Cell cover of a lon/lat envelope at zoom z: all XYZ tiles whose range
    * (GetTileIndices semantics, floor + 1e-3 EPSILON, clamped —
    * gdalalg_raster_tile.cpp:458-478) intersects the envelope, row by row
    * (y, then x); [[cover]] sorts them. */
  def coverEnvelope(e: Envelope, z: Int, maxCells: Int = 4096): Array[Long] = {
    val (minX, minY, maxX, maxY) = Mercator.tileRangeLonLat(e, z)
    val nx = (maxX - minX + 1).toLong
    val ny = (maxY - minY + 1).toLong
    if (nx * ny > maxCells)
      throw new IllegalArgumentException(
        s"cell cover of $e at z=$z needs ${nx * ny} cells > maxCells=$maxCells; lower the zoom")
    val out = new Array[Long]((nx * ny).toInt)
    var i = 0
    var ty = minY
    while (ty <= maxY) {
      var tx = minX
      while (tx <= maxX) { out(i) = pack(z, tx, ty); i += 1; tx += 1 }
      ty += 1
    }
    out
  }

  /** Cell cover of a geometry at zoom z: every tile of its envelope's tile
    * range ([[coverEnvelope]]), sorted. Cells are not tested against the
    * geometry itself, so a cover may hold cells the geometry misses; the
    * exact geometry test happens at join time in the refine predicate,
    * mirroring the reference's envelope-prefilter-then-exact two-phase
    * FilterGeometry (ogr/ogrsf_frmts/generic/ogrlayer.cpp:4004-4076). */
  def cover(g: Geom, z: Int, maxCells: Int = 4096): Array[Long] = {
    val e = g.envelope
    if (e.isEmpty) return Array.empty
    val arr = coverEnvelope(e, z, maxCells)
    java.util.Arrays.sort(arr)
    arr
  }

  /** Envelope (lon/lat) of a cell. */
  def envelopeLonLat(cell: Long): Envelope =
    Mercator.tileEnvelopeLonLat(zoom(cell), x(cell), y(cell))

  def quadKey(cell: Long): String = Mercator.quadKey(zoom(cell), x(cell), y(cell))

  override def toString: String = "CellId"
}
