package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared constants + dual-dialect SQL snippet generators for the
  * correctness gate. Every snippet here is emitted BOTH into the Spark
  * query (via expr(...)) and into the DuckDB oracle SQL, built from the
  * same Scala double constants rendered with shortest-round-trip
  * toString — so both engines parse the identical IEEE-754 double and
  * all +,-,*,/ and floor/ceil arithmetic matches bit-for-bit.
  *
  * Transcendentals (ln/tan/sin/cos/acos) may differ by <=1 ulp between
  * the JVM and DuckDB's libm; they only ever feed floor()/rank
  * decisions where a flip requires the value to land within 1 ulp of a
  * boundary — measure-zero for golden-ratio-generated inputs.
  */
object QueryFixtures {

  /** A gate table: `<dir>/<name>.parquet`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Registers the graft functions and the cell-join rule (idempotent). */
  def prep(s: SparkSession): Unit = graft.functions.GraftFunctions.register(s)

  /** GDALChecksumImage column over per-pixel ints `iv` of a 256-px cell,
    * negative-safe: the engine masks the accumulator with &0xffff per row
    * (always the canonical [0,65535] representative), so the SQL twin takes
    * the same representative of the total sum. */
  def cksCol(iv: String): String =
    s"CAST(((sum($iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"

  /** Shortest round-trip literal: parses to the identical double in the
    * JVM, DuckDB and Spark SQL. */
  def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E")) new java.math.BigDecimal(d).toPlainString else s
  }

  // ---- shared numeric constants (emitted as literals into both dialects)
  val PHI: Double = 1.618033988749895
  /** Lat-axis multiplier — must be rationally independent of PHI (φ² is
    * NOT: fract(i·φ²)=fract(i·φ) for integer i → degenerate diagonal). */
  val SQRT2: Double = 1.4142135623730951
  /** √3 for the second (query) cloud's lat axis. */
  val SQRT3: Double = 1.7320508075688772
  val PI: Double = math.Pi
  val D2R: Double = math.Pi / 180.0
  val ORIGIN_SHIFT: Double = 2.0 * math.Pi * 6378137.0 / 2.0
  val INITIAL_RES: Double = 2.0 * math.Pi * 6378137.0 / 256.0
  val EARTH_R: Double = 6378137.0

  val phi = dlit(PHI); val sqrt2 = dlit(SQRT2); val sqrt3 = dlit(SQRT3)
  val pi = dlit(PI); val d2r = dlit(D2R)
  val os = dlit(ORIGIN_SHIFT); val ir = dlit(INITIAL_RES)
  val earthR = dlit(EARTH_R)

  // ---- deterministic point cloud derived from an integer id column
  // (FIXTURES.md §1 golden-ratio generator; identical in GeoDocs.lonOf/latOf)
  def fract(x: String): String = s"(($x) - floor($x))"
  def lonOf(id: String): String =
    s"(-180.0 + 360.0 * ${fract(s"CAST($id AS DOUBLE) * $phi")})"
  def latOf(id: String): String =
    s"(-85.0 + 170.0 * ${fract(s"CAST($id AS DOUBLE) * $sqrt2")})"
  /** Second independent cloud (queries for kNN). */
  def lonOfQ(id: String): String =
    s"(-180.0 + 360.0 * ${fract(s"CAST($id AS DOUBLE) * $phi + 0.5")})"
  def latOfQ(id: String): String =
    s"(-85.0 + 170.0 * ${fract(s"CAST($id AS DOUBLE) * $sqrt3 + 0.25")})"

  // ---- WebMercator tile math (gdal2tiles.py:418-466 semantics), shared SQL.
  // Matches graft.geom.Mercator exactly (same literals, same op order).
  def mercX(lon: String): String = s"((($lon) * $os) / 180.0)"
  def mercY(lat: String): String =
    s"((((ln(tan(((90.0 + ($lat)) * $pi) / 360.0))) / ($pi / 180.0)) * $os) / 180.0)"
  def resAt(z: Int): String = dlit(INITIAL_RES / (1L << z).toDouble)
  /** TMS tile index of a pixel coordinate: ceil(p/256)-1. */
  private def tmsTile(px: String): String =
    s"(CAST(ceil(($px) / 256.0) AS BIGINT) - 1)"
  private def clamp(v: String, z: Int): String =
    s"least(greatest($v, 0), ${(1L << z) - 1})"
  /** XYZ tile x of a lon expression at fixed zoom z. */
  def tileX(lon: String, z: Int): String =
    clamp(tmsTile(s"((${mercX(lon)} + $os) / ${resAt(z)})"), z)
  /** XYZ tile y of a lat expression at fixed zoom z (TMS flip). */
  def tileY(lat: String, z: Int): String =
    s"(${(1L << z) - 1} - ${clamp(tmsTile(s"((${mercY(lat)} + $os) / ${resAt(z)})"), z)})"

  // ---- envelope → inclusive XYZ tile range at fixed z, mirroring
  // Mercator.tileRangeLonLat (GetTileIndices floor+1e-3 + clamp,
  // gdalalg_raster_tile.cpp:458-478). Returns (minx, miny, maxx, maxy) SQL.
  val MaxLatLit: String = dlit(85.05112877980659)
  def tileRangeSql(minLon: String, minLat: String, maxLon: String, maxLat: String,
                   z: Int): (String, String, String, String) = {
    val span = dlit(INITIAL_RES / (1L << z).toDouble * 256.0)
    val nMax = (1L << z) - 1
    def clampF(v: String) =
      s"CAST(greatest(0.0, least(floor(($v) + 0.001), $nMax.0)) AS BIGINT)"
    val lat0 = s"greatest(-$MaxLatLit, least($MaxLatLit, $minLat))"
    val lat1 = s"greatest(-$MaxLatLit, least($MaxLatLit, $maxLat))"
    val minTx = clampF(s"((${mercX(minLon)}) - (-$os)) / $span")
    val maxTx = clampF(s"((${mercX(maxLon)}) - (-$os)) / $span")
    val minTy = clampF(s"($os - (${mercY(lat1)})) / $span")
    val maxTy = clampF(s"($os - (${mercY(lat0)})) / $span")
    (minTx, minTy, maxTx, maxTy)
  }

  // ---- shoelace area / centroid chains mirroring graft.geom.GeoOps
  // (signedRingArea / polyCentroid) term-by-term, left-associated.
  /** corners: closed ring as (xExpr, yExpr) pairs (first == last). */
  def signedAreaSql(c: Seq[(String, String)]): String = {
    val terms = (0 until c.length - 1).map { i =>
      s"((${c(i)._1}) * (${c(i + 1)._2}) - (${c(i + 1)._1}) * (${c(i)._2}))"
    }
    s"((${terms.mkString(" + ")}) / 2.0)"
  }

  /** Area-weighted centroid x/y of a single-ring polygon, exact chain of
    * GeoOps.polyCentroid: cx += (x_i+x_{i+1})*cross_i; px = cx/(6*aSigned);
    * result = (|a|*px)/|a|. */
  def centroidSql(c: Seq[(String, String)], asigned: String): (String, String) = {
    def fold(sel: ((String, String), (String, String)) => String): String =
      (0 until c.length - 1).map(i => sel(c(i), c(i + 1))).mkString("(", " + ", ")")
    val cx = fold { case ((xa, ya), (xb, yb)) =>
      s"((($xa) + ($xb)) * (($xa) * ($yb) - ($xb) * ($ya)))" }
    val cy = fold { case ((xa, ya), (xb, yb)) =>
      s"((($ya) + ($yb)) * (($xa) * ($yb) - ($xb) * ($ya)))" }
    val a = s"abs($asigned)"
    (s"(($a * (($cx) / (6.0 * ($asigned)))) / $a)",
     s"(($a * (($cy) / (6.0 * ($asigned)))) / $a)")
  }

  /** Perimeter: sum of per-edge euclidean lengths (GeoOps.lineLength uses
    * Math.hypot; sqrt(dx²+dy²) may differ by 1 ulp → round output). */
  def perimeterSql(c: Seq[(String, String)]): String =
    (0 until c.length - 1).map { i =>
      val dx = s"((${c(i + 1)._1}) - (${c(i)._1}))"
      val dy = s"((${c(i + 1)._2}) - (${c(i)._2}))"
      s"sqrt($dx * $dx + $dy * $dy)"
    }.mkString("(", " + ", ")")

  // ---- great-circle distance (ogr/ogr_geo_utils.cpp:33-46 semantics),
  // matches graft.geom.GeoOps.greatCircle term order exactly.
  def greatCircle(latA: String, lonA: String, latB: String, lonB: String): String = {
    val cosP = s"cos(((($lonB) - ($lonA))) * $d2r)"
    val la = s"(($latA) * $d2r)"
    val lb = s"(($latB) * $d2r)"
    val cosAngle = s"(sin($la) * sin($lb) + cos($la) * cos($lb) * $cosP)"
    s"(acos(least(greatest($cosAngle, -1.0), 1.0)) * $earthR)"
  }

  // ---- fixture polygons for the PIP join ------------------------------
  /** (poly_id, exterior ring, holes). Rings are closed (first==last).
    * Chosen to span hemispheres, include a concave shape and a hole. */
  val polygons: Seq[(String, Array[(Double, Double)], Seq[Array[(Double, Double)]])] = Seq(
    ("box_europe", ring((-10, 35), (30, 35), (30, 60), (-10, 60)), Nil),
    ("box_na", ring((-125, 25), (-70, 25), (-70, 50), (-125, 50)), Nil),
    ("tri_southam", ring((-80, -40), (-40, -40), (-60, 5)), Nil),
    ("concave_asia", ring((60, 10), (140, 10), (140, 55), (100, 55), (100, 30), (60, 30)), Nil),
    ("hole_africa", ring((-15, -30), (45, -30), (45, 30), (-15, 30)),
      Seq(ring((5, -10), (25, -10), (25, 10), (5, 10)))),
    ("band_oceania", ring((110, -45), (155, -45), (180, -20), (110, -20)), Nil),
    ("tiny_paris", ring((2.0, 48.5), (2.8, 48.5), (2.8, 49.1), (2.0, 49.1)), Nil),
    ("south_polarish", ring((-170, -84), (170, -84), (170, -60), (-170, -60)), Nil)
  )

  private def ring[A: Numeric, B: Numeric](pts: (A, B)*): Array[(Double, Double)] = {
    val na = implicitly[Numeric[A]]; val nb = implicitly[Numeric[B]]
    val arr = pts.map { case (x, y) => (na.toDouble(x), nb.toDouble(y)) }.toArray
    arr :+ arr.head
  }

  def polygonWkt(ext: Array[(Double, Double)], holes: Seq[Array[(Double, Double)]]): String = {
    def r(cs: Array[(Double, Double)]) =
      cs.map { case (x, y) => s"${dlit(x)} ${dlit(y)}" }.mkString("(", ",", ")")
    (Seq(r(ext)) ++ holes.map(r)).mkString("POLYGON (", ",", ")")
  }

  /** Ray-crossing inside test as a SQL boolean over (px, py) expressions —
    * the exact rule of OGRLinearRing::isPointInRing
    * (/root/reference/ogr/ogrlinearring.cpp:452-521): count edges whose
    * translated endpoints straddle y=0 and whose +x-ray crossing is at
    * x>0; odd count = inside. Boundary points follow the ray rule
    * (reference Contains fast path, ogrpolygon.cpp:770-800). */
  def insideRingSql(ringPts: Array[(Double, Double)], px: String, py: String): String = {
    val terms = (1 until ringPts.length).map { i =>
      val (xa, ya) = ringPts(i - 1) // prev (x2,y2)
      val (xb, yb) = ringPts(i)     // cur  (x1,y1)
      val x1 = s"(${dlit(xb)} - ($px))"; val y1 = s"(${dlit(yb)} - ($py))"
      val x2 = s"(${dlit(xa)} - ($px))"; val y2 = s"(${dlit(ya)} - ($py))"
      s"(CASE WHEN (($y1 > 0 AND $y2 <= 0) OR ($y2 > 0 AND $y1 <= 0))" +
        s" AND (($x1 * $y2 - $x2 * $y1) / ($y2 - $y1)) > 0.0 THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  def insidePolySql(polyId: String, px: String, py: String): String = {
    val (_, ext, holes) = polygons.find(_._1 == polyId).get
    val extIn = insideRingSql(ext, px, py)
    val holeOut = holes.map(h => s"NOT ${insideRingSql(h, px, py)}")
    (extIn +: holeOut).mkString("(", " AND ", ")")
  }

  // ---- text hashing (trigram codes; ASCII corpus) ----------------------
  /** Trigram integer code list of a text column: codes fit in 24 bits.
    * dialect: spark `transform/aggregate/ascii`, duckdb `list_transform/
    * list_sum/unicode`. Requires length(text) >= 3 (filter first). */
  def trigramCodes(c: String, duck: Boolean): String = {
    val xf = if (duck) "list_transform" else "transform"
    val seq = if (duck) s"generate_series(1, length($c) - 2)"
              else s"sequence(1, length($c) - 2)"
    val cp = if (duck) "unicode" else "ascii"
    s"$xf($seq, i -> (CAST($cp(substr($c, i, 1)) AS BIGINT) * 65536 + $cp(substr($c, i + 1, 1)) * 256 + $cp(substr($c, i + 2, 1))))"
  }

  /** MinHash parameters (fixed, shared): h_j(x) = (a_j * x + b_j) % P. */
  val MinhashP = 1000000007L
  val minhashA: Array[Long] = Array(387420489L, 517578125L, 282475249L, 131072003L,
    823543019L, 594823321L, 362797057L, 148035889L)
  val minhashB: Array[Long] = Array(12289L, 24593L, 49157L, 98317L, 196613L, 393241L, 786433L, 1572869L)

  /** MinHash j over a precomputed codes-array column. */
  def minhashSql(codes: String, j: Int, duck: Boolean): String = {
    val mn = if (duck) "list_min" else "array_min"
    val xf = if (duck) "list_transform" else "transform"
    s"$mn($xf($codes, x -> (CAST(${minhashA(j)} AS BIGINT) * x + ${minhashB(j)}) % $MinhashP))"
  }

  // ---- `poly` / `idlink` canonical OGR-SQL fixtures -------------------
  // Attribute rows extracted from the reference's own canonical test data
  // (autotest/ogr/data/poly.dbf, idlink.dbf) — see FIXTURES.md §2-3. These
  // back the OGR SQL text-entry-point gates (OgrSql.execute), replaying the
  // inlined literals of autotest/ogr/ogr_sql_test.py and ogr_sql_rfc28.py.
  /** (fid, area, eas_id, prfedea) in FID order. */
  val polyRows: Seq[(Long, Double, Long, String)] = Seq(
    (0L, 215229.266, 168L, "35043411"),
    (1L, 247328.172, 179L, "35043423"),
    (2L, 261752.781, 171L, "35043414"),
    (3L, 547597.188, 173L, "35043416"),
    (4L, 15775.758, 172L, "35043415"),
    (5L, 101429.977, 169L, "35043412"),
    (6L, 268597.625, 166L, "35043409"),
    (7L, 1634833.375, 158L, "35043369"),
    (8L, -596610.313, 165L, "35043408"),
    (9L, 5268.813, 170L, "35043413"))

  /** (eas_id, name) in scan order (idlink.dbf row order). */
  val idlinkRows: Seq[(Long, String)] = Seq(
    (168L, "_168_"), (179L, "_179_"), (171L, "_171_"), (170L, "_170_"),
    (165L, "_165_"), (158L, "_158_"), (166L, "_166_"))

  /** DuckDB CTE body mirroring the poly fixture (same literals; types pinned
    * to BIGINT/DOUBLE — DuckDB would otherwise type decimal literals as
    * DECIMAL and small ints as INTEGER, breaking schema compare). */
  def polyValuesSql: String =
    polyRows.map { case (f, a, e, p) =>
      s"(CAST($f AS BIGINT), CAST(${dlit(a)} AS DOUBLE), CAST($e AS BIGINT), '$p')" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(fid, area, eas_id, prfedea)")

  /** DuckDB CTE body mirroring the idlink fixture (adds scan-order rid). */
  def idlinkValuesSql: String =
    idlinkRows.zipWithIndex.map { case ((e, n), i) =>
      s"(CAST($i AS BIGINT), CAST($e AS BIGINT), '$n')" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(rid, eas_id, name)")

  /** SimHash over a precomputed codes-array column: h(x)=(A*x+B)%P; bit k
    * set iff sum over codes of (2*((h div 2^k)%2)-1) is positive. Uses
    * integer division instead of `>>` (Spark SQL has no shift operator). */
  val SimA = 961748927L; val SimB = 179424673L
  def simhashSql(codes: String, bits: Int, duck: Boolean): String = {
    val xf = if (duck) "list_transform" else "transform"
    val h = s"((CAST($SimA AS BIGINT) * x + $SimB) % $MinhashP)"
    val terms = (0 until bits).map { k =>
      val shifted =
        if (duck) s"CAST(floor($h / ${1L << k}.0) AS BIGINT)"
        else s"CAST(floor($h / ${1L << k}.0) AS BIGINT)"
      val contrib = s"(2 * ($shifted % 2) - 1)"
      val inner =
        if (duck) s"list_sum($xf($codes, x -> $contrib))"
        else s"aggregate($xf($codes, x -> $contrib), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
      s"(CASE WHEN $inner > 0 THEN ${1L << k} ELSE 0 END)"
    }
    s"(${terms.mkString(" + ")})"
  }
}
