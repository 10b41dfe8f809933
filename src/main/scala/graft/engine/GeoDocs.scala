package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf

/** A span of an interleaved text+media document (BASELINE.json.input_hint /
  * FIXTURES.md §1). Geometries ride in spans with kind='geo' whose text is
  * WKT; text/media spans pass through operators byte-identically (reference
  * analog: SELECT preserves FID/style/native-data untouched,
  * /root/reference/ogr/ogrsf_frmts/generic/ogr_gensql.cpp:1553-1557).
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

case class GeoDoc(doc_id: String, spans: Seq[Span])

/** Deterministic geo-docs generator + span→geometry extraction (FIXTURES.md §1). */
object GeoDocs {

  final val Phi = 1.618033988749895
  /** Independent irrational for the lat axis. NOTE: φ² would be WRONG —
    * φ² = φ+1, so fract(i·φ²) = fract(i·φ) for integer i and the cloud
    * degenerates onto a diagonal line. √2 is rationally independent of φ. */
  final val Sqrt2 = 1.4142135623730951

  private def fract(x: Double): Double = x - math.floor(x)

  def lonOf(i: Long): Double = -180.0 + 360.0 * fract(i * Phi)
  def latOf(i: Long): Double = -85.0 + 170.0 * fract(i * Sqrt2)

  /** Hot-cell coordinates for the skew variant: 30% of docs collapse into one
    * 0.1°x0.1° cell near Paris (FIXTURES.md §1 skew variant). */
  def skewed(i: Long): Boolean = i % 10 < 3

  def geoWkt(i: Long, skew: Boolean): String = {
    val (lon, lat) =
      if (skew && skewed(i)) (2.3 + 0.1 * fract(i * Phi), 48.8 + 0.1 * fract(i * Sqrt2))
      else (lonOf(i), latOf(i))
    if (i % 10 == 0) {
      val d = 0.05
      val lat0 = math.max(-84.9, math.min(84.9, lat))
      f"POLYGON (($lon%.9f ${lat0 - d}%.9f,${lon + d}%.9f ${lat0 - d}%.9f," +
        f"${lon + d}%.9f ${lat0 + d}%.9f,$lon%.9f ${lat0 + d}%.9f,$lon%.9f ${lat0 - d}%.9f))"
    } else f"POINT ($lon%.9f $lat%.9f)"
  }

  def docOf(i: Long, skew: Boolean): GeoDoc = {
    val nSpans = 1 + (i % 5).toInt
    val kinds = Array.tabulate(nSpans)(j => ((i + j) % 3).toInt) // 0 text, 1 geo, 2 media
    val geoIdx = kinds.indexOf(1) match { case -1 => 0; case k => k }
    val spans = (0 until nSpans).map { j =>
      if (j == geoIdx) Span("geo", geoWkt(i, skew), "", j)
      else if (kinds(j) == 2) Span("media", "", f"media://${(i * 2654435761L + j) & 0xffffffffL}%08x", j)
      else Span("text", s"text doc $i span $j", "", j)
    }
    GeoDoc(f"doc_$i%09d", spans)
  }

  /** Distributed deterministic generation — pure function of the row index,
    * so the table is identical under any partitioning. */
  def generate(spark: SparkSession, n: Long, skew: Boolean = false,
               partitions: Int = 0): Dataset[GeoDoc] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
                else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).map(i => docOf(i, skew))
  }

  /** docs (doc_id, spans) → + geometry columns (wkb, lon, lat), spans
    * passed through untouched. The geo span is the FIRST span with
    * kind='geo' (deterministic); lon/lat are the centroid for polygons;
    * docs without a parseable geo span are dropped. Each span's WKT is
    * parsed once: the parse is a one-element explode, because the
    * optimizer would substitute a projected parse into the null filter
    * pushed below it and so parse every span twice. No higher-order
    * function either, so the whole extraction stays in codegen. */
  def withGeometry(docs: DataFrame): DataFrame = {
    val spans = col("spans")
    val geoText = get(spans, (array_position(spans.getField("kind"), "geo") - 1).cast("int"))
      .getField("text")
    docs
      .withColumn("wkb", explode(array(gf.st_geomfromtext(geoText))))
      .where(col("wkb").isNotNull)
      .withColumn("pt", gf.st_centroid(col("wkb")))
      .withColumn("lon", gf.st_x(col("pt")))
      .withColumn("lat", gf.st_y(col("pt")))
      .drop("pt")
  }
}
