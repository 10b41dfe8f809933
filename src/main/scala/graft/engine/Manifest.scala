package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint/lineage manifests for exact resume
  * (north rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). Reference analog: `gdal raster tile --resume` — "Generate only
  * missing files" by re-listing outputs
  * (/root/reference/apps/gdalalg_raster_tile.cpp:289); our version records
  * completed work units in a manifest table and skips the keys it holds.
  *
  * A work unit is a key group (e.g. a zoom level, a cell prefix, a partition
  * range). Completion is atomic per unit: output parquet lands under
  * `outDir/key=...`, then the manifest row (key, rows, ms, lineage) is
  * appended. A killed job resumes by skipping keys already in the manifest;
  * partially-written unmanifested output is overwritten (idempotent units).
  */
object Manifest {

  case class UnitRecord(job_id: String, unit: String, rows: Long, ms: Long,
                        input_fingerprint: String, metrics_json: String = "{}")

  def manifestPath(outDir: String): String = s"$outDir/_graft_manifest"

  /** Which of `units` the manifest records as completed. The filter runs
    * before the collect, so the driver holds at most the rows of `units`,
    * not every row the manifest has appended. */
  def completedUnits(spark: SparkSession, outDir: String, units: Seq[String]): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(outDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || units.isEmpty) Set.empty
    else {
      import spark.implicits._
      spark.read.parquet(manifestPath(outDir)).where(col("unit").isin(units: _*))
        .select("unit").as[String].collect().toSet
    }
  }

  def recordUnit(spark: SparkSession, outDir: String, rec: UnitRecord): Unit = {
    import spark.implicits._
    Seq(rec).toDS().coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(outDir))
  }

  /** Run `process(unit)` for every unit not already manifested, recording
    * rows + wall ms + an input fingerprint per completed unit. Returns the
    * units actually executed this run. */
  def runResumable(spark: SparkSession, outDir: String, jobId: String,
                   units: Seq[String], inputFingerprint: String)
                  (process: String => Long): Seq[String] = {
    val done = completedUnits(spark, outDir, units)
    val todo = units.filterNot(done)
    todo.foreach { u =>
      val t0 = System.nanoTime()
      val (rows, stats) = Metrics.measure(spark)(process(u))
      recordUnit(spark, outDir, UnitRecord(jobId, u, rows, (System.nanoTime() - t0) / 1000000,
        inputFingerprint, stats.toJson))
    }
    todo
  }
}
