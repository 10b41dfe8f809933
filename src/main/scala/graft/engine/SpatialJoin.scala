package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.geom.{BoolOps, Geom, Wkb}
import graft.plans.CellJoinRule

/** Cell-indexed spatial joins — the north-rule operator (SURVEY.md §2.E).
  *
  * Shape (reference analog: layer-algebra loop "set spatial filter from input
  * feature, iterate candidates, refine with prepared geometry",
  * /root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385-5538):
  *
  *   polygons --cover(z)----> exploded (cell, poly)   [small side: broadcast]
  *   points   --st_cell(z)---> (cell, point)
  *   equi-join on cell → exact PIP refine (st_contains_point)
  *
  * No join is built here: each builder writes the naive predicate join and
  * CellJoinRule plans it. In the point joins a polygon whose cover is over
  * the cap (possible only at z > 6) is keyed by its cover at zoom 6, and
  * each point then also probes its zoom-6 cell: one hash join over one
  * build side, where each polygon rides as its boxed struct (StBox) that
  * the refine tests in place: the envelope, then the ray test over the
  * WKB bytes in the hash relation's row. Polygon-polygon
  * joins explode both covers, keep a pair only at the smallest cell both
  * share, and send oversized geometries to a nested-loop fallback.
  *
  * Scale notes (100 TB):
  *  - polygon side exploded by its cover; choose z so covers stay small
  *    (cells ≈ envelope_area / cell_area; z+1 quadruples cells)
  *  - broadcast when the exploded cover fits (dims like admin boundaries);
  *    shuffle hash/sort-merge otherwise — Spark/AQE picks by size, we only
  *    hint explicitly when told
  *  - skewed cells (everyone in one city): `pipJoinSalted` adds the salt
  *    as an extra join key, splitting each hot cell into S sub-keys; AQE
  *    skew-join also re-splits a shuffled join at runtime
  */
object SpatialJoin {

  /** Point-in-polygon join. `pts` needs (lon, lat), `polys` needs `wkb`.
    * Returns pts columns + polys columns for every (point, polygon) pair
    * where the polygon contains the point (ray-crossing rule); the
    * polygon's `wkb` comes out as `poly_wkb`, in its place. The naive
    * st_contains_point join, planned by CellJoinRule at zoom z.
    */
  def pipJoin(pts: DataFrame, polys: DataFrame, z: Int,
              broadcastPolys: Boolean = true): DataFrame = {
    val p = polys.withColumnRenamed("wkb", "poly_wkb")
    val side = if (broadcastPolys) broadcast(p) else p
    CellJoinRule.plan(pts.join(side, gf.st_contains_point(col("poly_wkb"), col("lon"), col("lat"))), z)
  }

  /** Salted PIP join for skewed cells: every point key becomes
    * (cell, salt = hash(doc) % s); the polygon side is exploded s-fold:
    * `pipJoin` filtered on salt equality, which becomes a join key.
    * Deterministic (no rand()) so resume/retry reproduce identical output.
    * Use when one cell holds a large share of the points (FIXTURES.md §1
    * skew variant; SURVEY.md §4 "skew handling").
    */
  def pipJoinSalted(pts: DataFrame, polys: DataFrame, z: Int, salt: Int,
                    saltKey: Column): DataFrame =
    pipJoin(pts.withColumn("salt", pmod(xxhash64(saltKey), lit(salt)).cast("int")),
      polys.withColumn("poly_salt", explode(lit((0 until salt).toArray))), z, broadcastPolys = false)
      .where(col("salt") === col("poly_salt"))
      .drop("salt", "poly_salt")

  /** Polygon-polygon (layer algebra style) intersects join: one row per
    * (`left` row, `right` row) whose `wkb` geometries intersect, left
    * columns then right columns, the right `wkb` renamed `wkb_r`. A thin
    * builder: it writes the naive st_intersects join with the right side
    * broadcast and hands it to CellJoinRule at zoom z, the one
    * polygon-polygon cell join. Reference: Intersection/Union/Clip layer
    * loops (ogrlayer.cpp:5385,5803,7537).
    */
  def intersectsJoin(left: DataFrame, right: DataFrame, z: Int): DataFrame = {
    val r = broadcast(right.withColumnRenamed("wkb", "wkb_r"))
    CellJoinRule.plan(left.join(r, gf.st_intersects(col("wkb"), col("wkb_r"))), z)
  }

  /** Layer-algebra Identity (OGRLayer::Identity,
    * /root/reference/ogr/ogrlayer.cpp — per input feature: the pieces cut
    * by each intersecting method feature, plus the remainder outside every
    * method feature). Input schemas: left (lid, wkb), right (rid, wkb).
    * Output (lid, rid, wkb): one row per intersecting (lid, rid) with the
    * A∩B piece, plus one row per lid with rid NULL carrying A −
    * union(intersecting B) — always emitted, possibly EMPTY, so the row
    * set is deterministic (the reference drops empty remainders; callers
    * filter on st_isempty for that behavior — documented).
    *
    * Spark shape: ONE cell-cover equi-join (intersectsJoin, method side
    * broadcast), pair pieces map-side, the remainder fold is one groupByKey
    * on lid — the same distribution the reference's per-feature loop has,
    * minus the single-node bottleneck. */
  def identity(left: DataFrame, right: DataFrame, z: Int): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val cand = intersectsJoin(left.select(col("lid"), col("wkb")),
      right.select(col("rid"), col("wkb")), z)
      .select("lid", "rid", "wkb", "wkb_r")
      .as[(Long, Long, Array[Byte], Array[Byte])]
    val pairs = cand.map { case (lid, rid, a, b) =>
      (lid, Option(rid), Wkb.write(BoolOps.intersection(Wkb.read(a), Wkb.read(b))))
    }.toDF("lid", "rid", "wkb")
    // remainder: progressive clip, the reference's per-method-feature loop
    val diffs = cand.groupByKey(_._1).mapGroups { (lid, it) =>
      var acc: Geom = null
      it.foreach { case (_, _, a, b) =>
        if (acc == null) acc = Wkb.read(a)
        acc = BoolOps.difference(acc, Wkb.read(b))
      }
      (lid, Option.empty[Long], Wkb.write(acc))
    }.toDF("lid", "rid", "wkb")
    val untouched = left
      .join(cand.select("lid").distinct(), Seq("lid"), "left_anti")
      .select(col("lid"), lit(null).cast("long").as("rid"), col("wkb"))
    pairs.unionByName(diffs).unionByName(untouched)
  }

  /** Layer-algebra Erase (OGRLayer::Erase): each left feature minus the
    * union of intersecting right features — Identity's remainder rows. */
  def erase(left: DataFrame, right: DataFrame, z: Int): DataFrame =
    identity(left, right, z)
      .where(col("rid").isNull).drop("rid")
}
