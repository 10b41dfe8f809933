package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{GeoDoc, Span}
import graft.geom.{Wkb, Wkt}

/** Seeded input generator. Every value is a pure function of (seed, row
  * index), so a seed gives the same inputs under any partitioning, and an
  * unused seed gives fresh inputs to re-check a claim on.
  *
  * Docs follow the geo-docs schema (doc_id, spans): 1-5 spans of kind
  * text/geo/media, exactly one geo span whose text is WKT, 10% of them a
  * small square POLYGON around the doc's point. In the skew variant 30% of
  * the docs fall in one 0.1-degree hot cell. The polygon layer the docs are
  * joined against is fixed (see `polys`).
  */
object Gen {

  /** splitmix64 finaliser: a well-mixed 64-bit value per (seed, stream, i). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xD1B54A32D192ED03L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** The skew variant's hot cell: one 0.1-degree box near Paris. */
  val HotLon = 2.3
  val HotLat = 48.8

  /** Whether doc i sits in the hot cell (skew variant). */
  def isHot(seed: Long, i: Long): Boolean = unit(seed, 1, i) < 0.3

  /** The doc's point (for polygon docs, the square's lower-left corner). */
  def point(seed: Long, i: Long, skew: Boolean): (Double, Double) =
    if (skew && isHot(seed, i)) (HotLon + 0.1 * unit(seed, 2, i), HotLat + 0.1 * unit(seed, 3, i))
    else (-180.0 + 360.0 * unit(seed, 4, i), -85.0 + 170.0 * unit(seed, 5, i))

  def isPolygonDoc(seed: Long, i: Long): Boolean = unit(seed, 6, i) < 0.1

  def geoWkt(seed: Long, i: Long, skew: Boolean): String = {
    val (lon, lat0) = point(seed, i, skew)
    if (isPolygonDoc(seed, i)) {
      val d = 0.05
      val lat = math.max(-84.9, math.min(84.9, lat0))
      f"POLYGON (($lon%.9f ${lat - d}%.9f,${lon + d}%.9f ${lat - d}%.9f," +
        f"${lon + d}%.9f ${lat + d}%.9f,$lon%.9f ${lat + d}%.9f,$lon%.9f ${lat - d}%.9f))"
    } else f"POINT ($lon%.9f $lat0%.9f)"
  }

  def docId(i: Long): String = f"doc_$i%09d"

  def doc(seed: Long, i: Long, skew: Boolean): GeoDoc = {
    val nSpans = 1 + (unit(seed, 7, i) * 5).toInt
    val geoAt = (unit(seed, 8, i) * nSpans).toInt
    val spans = (0 until nSpans).map { j =>
      if (j == geoAt) Span("geo", geoWkt(seed, i, skew), "", j)
      else if (unit(seed, 9, i * 8 + j) < 0.5)
        Span("media", "", f"media://${mix(seed, 10, i * 8 + j) & 0xffffffffL}%08x", j)
      else Span("text", s"text $i/$j ${mix(seed, 11, i * 8 + j) & 0xffffL}", "", j)
    }
    GeoDoc(docId(i), spans)
  }

  /** n geo-docs as a Dataset, generated on the executors. */
  def docs(spark: SparkSession, seed: Long, n: Long, skew: Boolean, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => doc(seed, i, skew)).toDF()
  }

  final case class Poly(id: String, wkb: Array[Byte])

  /** The polygon layer: 5000 48-vertex near-circular rings of 2-8 degrees
    * radius, centres jittered on a 100 x 50 grid, the admin-boundary-like
    * broadcast side of the PIP join. Like a real boundary table it is the
    * same for every seed; the seed drives the docs, so a seed cannot move
    * how much polygon cover the hot cell has and swing the join's cost.
    * WKB is written by the library's own codec so the join and the
    * brute-force check read the same bytes. */
  lazy val polys: IndexedSeq[Poly] = (0 until 5000).map { i =>
    val seed = 0x5EEDL
    val lon = -172.0 + 3.44 * (i % 100 + unit(seed, 20, i))
    val lat = -76.0 + 3.04 * (i / 100 + unit(seed, 21, i))
    val r = 2.0 + 6.0 * unit(seed, 22, i)
    val verts = 48
    val ring = (0 until verts).map { k =>
      val a = 2.0 * math.Pi * k / verts
      s"${lon + r * math.cos(a)} ${lat + 0.8 * r * math.sin(a)}"
    } :+ s"${lon + r} $lat"
    Poly(f"p$i%05d", Wkb.write(Wkt.parse(ring.mkString("POLYGON ((", ",", "))"))))
  }

  def polysDf(spark: SparkSession, ps: Seq[Poly]): DataFrame = {
    import spark.implicits._
    ps.map(p => (p.id, p.wkb)).toDF("poly_id", "wkb")
  }

  /** kNN queries: the first half inside the hot cell, the rest uniform over
    * the globe, where the docs are sparse. */
  def queries(seed: Long, n: Int): IndexedSeq[(Long, Double, Double)] =
    (0 until n).map { i =>
      if (i < n / 2) (i.toLong, HotLon + 0.1 * unit(seed, 30, i), HotLat + 0.1 * unit(seed, 31, i))
      else (i.toLong, -180.0 + 360.0 * unit(seed, 32, i), -80.0 + 160.0 * unit(seed, 33, i))
    }
}
