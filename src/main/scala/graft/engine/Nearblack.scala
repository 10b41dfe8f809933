package graft.engine

import org.apache.spark.sql.Dataset

/** Nearblack: set near-black pixels that are flood-fill-connected to the
  * image collar to exact black (reference: nearblack's border flood fill,
  * /root/reference/apps/nearblack_lib_floodfill.cpp). Interior near-black
  * blobs are preserved — only collar-connected regions are scrubbed.
  *
  * Spark shape (fully distributed; nothing O(pixels) or O(perimeter)
  * reaches the driver):
  *  1. per-tile connected components of the near-black mask (4-conn) from
  *     the shared labeler (`Polygonize.label`) run on a class copy of the
  *     tile — near pixels 1.0, all others NaN, which never unions or
  *     pairs — labeled by their MIN global pixel index (deterministic,
  *     tiling-invariant);
  *  2. tiles emit the labeler's border strips, keyed by the shared tile
  *     edge, and their near labels on the GLOBAL border; one shuffle pairs
  *     facing strips into label-adjacency edges (`Polygonize.pairStrips`)
  *     and links each border label to a virtual collar node (-1) — the
  *     edge list is deduped distributively;
  *  3. GraphOps.connectedComponentsAuto resolves components (driver
  *     union-find while the edge list fits the budget, distributed
  *     hash-min beyond). Because hash-min labels a component with its MIN
  *     reachable node, collar-connected components are exactly those whose
  *     component id is -1 — the scrub set, kept as a Dataset;
  *  4. scrub labels route back to their owning tile (decoded from the
  *     label's pixel index) and a cogroup rewrite fills them — no global
  *     broadcast of the scrub set.
  *
  * Assumes a uniform tile grid and a single band (labels are global pixel
  * indices; two bands would collide — callers sieve one band at a time). */
object Nearblack {

  /** Labels of the near-black mask's components: the shared labeler on a
    * class copy of the tile. A non-near pixel is NaN there, a singleton
    * whose label no near component shares. */
  private def labelNear(t: Tile, isNear: Double => Boolean, width: Long): TileLabels =
    Polygonize.label(t.copy(pixels = t.pixels.map(v => if (isNear(v)) 1.0 else Double.NaN)),
      width, 4)

  /** Record kind of a tile's collar labels; the grid-line strips are 0-3. */
  private val Collar = 4

  /** The rewritten tiles, cached and materialized; the call's other caches
    * are released, and a `tiles` cache the caller made is kept.
    * @param nTilesX,nTilesY full tile-grid extent (global border detection) */
  def nearblack(tiles: Dataset[Tile], nTilesX: Int, nTilesY: Int,
                isNear: Double => Boolean, fill: Double = 0.0): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._

    val caches = new GraphOps.CallCaches
    val cached = caches(tiles)
    val dims = cached.limit(1).collect() // uniform-grid tile dims (bounded: 1 row)
    if (dims.isEmpty) { caches.release(); return tiles }
    val tileW = dims(0).w; val tileH = dims(0).h
    val width = nTilesX.toLong * tileW
    val nearF = isNear
    val ntx = nTilesX; val nty = nTilesY

    // pass 1: records = border strips (keyed by the shared edge) + the
    // near labels on the global collar (kind Collar, keyed by the tile)
    val recs = cached.flatMap { t =>
      val tl = labelNear(t, nearF, width)
      val w = t.w; val h = t.h
      val onCollar =
        (if (t.y == 0) 0 until w else Nil) ++
        (if (t.y == nty - 1) (h - 1) * w until h * w else Nil) ++
        (if (t.x == 0) (0 until h).map(_ * w) else Nil) ++
        (if (t.x == ntx - 1) (0 until h).map(_ * w + w - 1) else Nil)
      val collar = onCollar.filter(i => nearF(t.pixels(i))).map(tl.labels).distinct
      if (collar.isEmpty) tl.strips
      else tl.strips :+ Strip(t.x, t.y, t.band, Collar, 0, Array.empty, collar.toArray)
    }

    // pass 2: label adjacency (facing strips) + collar edges, deduped
    val edges = recs.groupByKey(_.key).flatMapGroups { (key, it) =>
      if (key._4 == Collar) it.flatMap(_.labels.iterator.map(l => (-1L, l)))
      else Polygonize.pairStrips(it, 4).collect { case (true, a, b) => (a, b) }
    }.distinct()

    // pass 3: components; collar-connected ⇔ component id is the virtual
    // node -1 (hash-min labels components by their minimum node)
    val scrub = GraphOps.connectedComponentsAuto(edges)
      .filter(c => c._2 == -1L && c._1 >= 0L).map(_._1)

    // pass 4: route scrub labels to their owning tile, rewrite via cogroup
    val tw = tileW; val th = tileH; val fillB = fill
    val scrubByTile = scrub.groupByKey { l =>
      (((l % width) / tw).toInt, ((l / width) / th).toInt)
    }
    caches.result(cached.groupByKey(t => (t.x, t.y)).cogroup(scrubByTile) { (_, ts, ss) =>
      val set = new java.util.HashSet[Long]()
      ss.foreach(set.add)
      ts.map { t =>
        if (set.isEmpty) t
        else {
          val lab = labelNear(t, nearF, width).labels
          val out = t.pixels.clone()
          var i = 0
          while (i < out.length) {
            if (set.contains(lab(i))) out(i) = fillB
            i += 1
          }
          Tile(t.z, t.x, t.y, t.band, t.w, t.h, out)
        }
      }
    })
  }
}
