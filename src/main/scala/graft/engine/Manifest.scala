package graft.engine

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession

/** Per-unit checkpoint/lineage manifests for exact resume (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  * Reference analog: `gdal raster tile --resume` — "Generate only missing
  * files" by re-listing outputs (gdalalg_raster_tile.cpp:289); our version
  * lists the manifest's fragments and skips the units they record.
  *
  * A work unit is a key group (e.g. a zoom level, a cell prefix, a partition
  * range). The manifest is a directory of parquet files at [[manifestPath]]
  * that Spark's parquet reader reads as [[UnitRecord]] rows. Completing a unit
  * appends one fragment: a one-row parquet file written to a hidden
  * `.<name>.tmp` and then renamed to `part-<uuid>.parquet`, so a reader never
  * sees a half-written fragment and a crash leaves only a hidden file. The
  * unit's output lands under `outDir` before its fragment is committed; a
  * killed job resumes by skipping the units that committed fragments record,
  * and partially-written unrecorded output is overwritten (idempotent units).
  * Reading and appending are driver-side file I/O and start no Spark job.
  */
object Manifest {

  case class UnitRecord(job_id: String, unit: String, rows: Long, ms: Long,
                        input_fingerprint: String, metrics_json: String = "{}")

  /** The manifest dir. Its leading `_` hides it from Spark's listing of
    * `outDir`, so a read of the output never picks up manifest rows. The
    * library reads fragments with parquet-mr ([[completedUnits]]), which
    * has no such rule; only an explicit `spark.read.parquet` of this path
    * logs Spark's "All paths were ignored" WARN, and then reads it anyway,
    * because an explicitly named root path is kept. The name stays: a
    * rename would orphan the manifests of existing output dirs. */
  def manifestPath(outDir: String): String = s"$outDir/_graft_manifest"

  /** A fragment's schema: [[UnitRecord]]'s columns, typed as Spark writes
    * them (strings nullable, longs required). */
  private val fragmentSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary job_id (STRING);
      |  optional binary unit (STRING);
      |  required int64 rows;
      |  required int64 ms;
      |  optional binary input_fingerprint (STRING);
      |  optional binary metrics_json (STRING);
      |}""".stripMargin)

  /** The projection [[completedUnits]] reads. */
  private val unitSchema = "message spark_schema { optional binary unit (STRING); }"

  /** Names that are not data files, as Spark's own listing skips them. */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Which of `units` the manifest records as completed. Reads only the
    * `unit` column of each committed fragment; the driver holds at most the
    * rows of `units`, not every row the manifest has appended. */
  def completedUnits(spark: SparkSession, outDir: String, units: Seq[String]): Set[String] = {
    val dir = new Path(manifestPath(outDir))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    if (units.isEmpty || !fs.exists(dir)) Set.empty
    else {
      val want = units.toSet
      // a copy, so the projection stays out of the session's conf
      val readConf = new Configuration(conf)
      readConf.set(ReadSupport.PARQUET_READ_SCHEMA, unitSchema)
      fs.listStatus(dir).iterator
        .filter(s => s.isFile && !hidden(s.getPath.getName))
        .flatMap(s => readUnits(s.getPath, readConf).filter(want))
        .toSet
    }
  }

  private def readUnits(file: Path, conf: Configuration): Seq[String] = {
    // built on the file's conf: the Path-based builder first loads a fresh
    // default Configuration, which costs ten times the read of a fragment
    val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null)
      .collect { case g if g.getFieldRepetitionCount(0) > 0 => g.getString(0, 0) }
      .toList
    finally reader.close()
  }

  /** Append `rec` as one committed fragment. */
  def recordUnit(spark: SparkSession, outDir: String, rec: UnitRecord): Unit = {
    val dir = new Path(manifestPath(outDir))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val name = s"part-${UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(fragmentSchema).build()
    try {
      val g = new SimpleGroup(fragmentSchema)
      def str(field: String, v: String): Unit = if (v != null) g.add(field, v)
      str("job_id", rec.job_id)
      str("unit", rec.unit)
      g.add("rows", rec.rows)
      g.add("ms", rec.ms)
      str("input_fingerprint", rec.input_fingerprint)
      str("metrics_json", rec.metrics_json)
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"Manifest.recordUnit: could not commit $tmp as $name")
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
