package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf

/** gdal2tiles-style tile-pyramid assignment (SURVEY.md §3.3).
  *
  * Reference: `gdal raster tile` (/root/reference/apps/gdalalg_raster_tile.cpp)
  * — base tiles at max zoom, overview zoom z-1 built from the 4 children
  * (MosaicDataset, :2003), parallel fan-out in jobs (:3927), `--resume`
  * skipping existing tiles (:289). Here the tile grid is pure expression math
  * (tile_x/tile_y), the pyramid is one aggregation over each point's tile
  * ancestors, and resume skips the units the manifest already records
  * (Manifest.scala).
  */
object TileJob {

  /** Assign each point row to its (z, x, y) XYZ tile for every zoom in
    * [minZ, maxZ]. Input needs (lon, lat); all other columns pass through.
    * Pure narrow transforms — no shuffle. */
  def assign(pts: DataFrame, minZ: Int, maxZ: Int): DataFrame =
    pts.withColumn("z", explode(lit((minZ to maxZ).toArray)))
      .withColumn("x", gf.tile_x(col("lon"), col("z")))
      .withColumn("y", gf.tile_y(col("lat"), col("z")))

  /** Tile statistics at one zoom: docs per tile. */
  def tileCounts(pts: DataFrame, z: Int): DataFrame =
    pts.withColumn("z", lit(z))
      .withColumn("x", gf.tile_x(col("lon"), lit(z)))
      .withColumn("y", gf.tile_y(col("lat"), lit(z)))
      .groupBy("z", "x", "y").agg(count(lit(1)).as("n"))

  /** Full pyramid of tile counts from maxZ down to minZ in one shuffle: each
    * point's tile is computed once at maxZ, and its tile at every zoom z is
    * the ancestor (x >> (maxZ - z), y >> (maxZ - z)) — the (x/2, y/2)
    * parent of gdalalg_raster_tile.cpp:2003 applied maxZ - z times, exact
    * because tiles are clamped to [0, 2^z). Counts sum like an
    * Average-kernel mosaic's weight plane. */
  def pyramidCounts(pts: DataFrame, minZ: Int, maxZ: Int): DataFrame =
    pts.select(gf.tile_x(col("lon"), lit(maxZ)).as("x"), gf.tile_y(col("lat"), lit(maxZ)).as("y"))
      .withColumn("z", explode(lit((minZ to maxZ).toArray)))
      .select(col("z"), expr(s"shiftright(x, $maxZ - z)").as("x"),
        expr(s"shiftright(y, $maxZ - z)").as("y"))
      .groupBy("z", "x", "y").agg(count(lit(1)).as("n"))
}
