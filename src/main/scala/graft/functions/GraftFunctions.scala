package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graft._

/** Registration of the graft geometry/cell expressions with Catalyst's
  * FunctionRegistry (both at-runtime and via SparkSessionExtensions), plus a
  * typed Column API. Reference analog: the SQLite-dialect function
  * registration (/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1111-1148)
  * and SWQ custom-function registrar (/root/reference/ogr/ogr_swq.h:225-231).
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def arity(name: String, n: Int)(f: Seq[Expression] => Expression): (String, Builder) =
    name -> { (args: Seq[Expression]) =>
      require(args.length == n, s"$name expects $n arguments, got ${args.length}")
      f(args)
    }

  /** The two functions whose last argument has a default. */
  private val withDefault: Map[String, Builder] = Map(
    "ogr_deflate" -> { (args: Seq[Expression]) =>
      require(args.length == 1 || args.length == 2,
        s"ogr_deflate expects 1 or 2 arguments, got ${args.length}")
      // default = Z_DEFAULT_COMPRESSION (-1), as CPLZLibDeflate
      KernelFns("ogr_deflate")(args(0), if (args.length == 2) args(1) else Literal(-1))
    },
    "st_greatcircle" -> { (args: Seq[Expression]) =>
      args.length match {
        case 4 => KernelFns("st_greatcircle")(args :+ Literal(6378137.0): _*)
        case 5 => KernelFns("st_greatcircle")(args: _*)
        case n => throw new IllegalArgumentException(s"st_greatcircle expects 4 or 5 args, got $n")
      }
    })

  /** One builder per registered row of [[KernelFns]], plus the two point
    * predicates, which take WKB or the boxed struct. */
  val builders: Seq[(String, Builder)] =
    KernelFns.rows.filter(_.registered).map(f => f.name -> withDefault.getOrElse(f.name, f.builder)) ++ Seq(
      arity("st_contains_point", 3)(a => StContainsPoint(a(0), a(1), a(2))),
      arity("st_intersects_point", 3)(a => StIntersectsPoint(a(0), a(1), a(2))))

  /** Runtime registration on an existing session (temp functions).
    * Idempotent per session: re-registering identical builders is a no-op,
    * which keeps repeated prep() calls from spamming "function replaced"
    * warnings in Verify/Bench logs. */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) {
      val reg = spark.sessionState.functionRegistry
      builders.foreach { case (name, b) => reg.createOrReplaceTempFunction(name, b, "scala_udf") }
      // runtime-attachable optimizer rule (extraOptimizations accepts
      // post-build registration, unlike injectOptimizerRule)
      if (!spark.experimental.extraOptimizations.contains(graft.plans.CellJoinRule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.CellJoinRule
    }
  }

  /** For spark.sql.extensions=graft.functions.GraftExtensions. */
  def inject(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        b))
    }
}

/** Usage: spark.builder.config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * before the first SparkContext starts: the builder reads the key from the
  * context's conf, so a session on a running context takes it through
  * `builder.withExtensions(new GraftExtensions)` instead. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectOptimizerRule(_ => graft.plans.CellJoinRule)
  }
}

/** Typed Column API over the registered functions (requires
  * GraftFunctions.register(spark) once per session). */
object gf {
  def st_geomfromtext(wkt: Column): Column = call_function("st_geomfromtext", wkt)
  def st_astext(wkb: Column): Column = call_function("st_astext", wkb)
  def st_asgeojson(wkb: Column, precision: Column): Column =
    call_function("st_asgeojson", wkb, precision)
  def st_geomfromgeojson(json: Column): Column = call_function("st_geomfromgeojson", json)
  def st_askml(wkb: Column): Column = call_function("st_askml", wkb)
  def st_geomfromkml(xml: Column): Column = call_function("st_geomfromkml", xml)
  def st_asgml(wkb: Column): Column = call_function("st_asgml", wkb)
  def st_geomfromgml(xml: Column): Column = call_function("st_geomfromgml", xml)
  def st_asshp(wkb: Column): Column = call_function("st_asshp", wkb)
  def st_fromshp(rec: Column): Column = call_function("st_fromshp", rec)
  def double_usort_bits(x: Column): Column = call_function("double_usort_bits", x)
  def st_cell_env(cell: Column): Column = call_function("st_cell_env", cell)
  def st_point(x: Column, y: Column): Column = call_function("st_point", x, y)
  def st_isempty(wkb: Column): Column = call_function("st_isempty", wkb)
  def st_isvalid(wkb: Column): Column = call_function("st_isvalid", wkb)
  def st_geometrytype(wkb: Column): Column = call_function("st_geometrytype", wkb)
  def st_x(wkb: Column): Column = call_function("st_x", wkb)
  def st_y(wkb: Column): Column = call_function("st_y", wkb)
  def st_area(wkb: Column): Column = call_function("st_area", wkb)
  def st_length(wkb: Column): Column = call_function("st_length", wkb)
  def st_curve_length(wkt: Column): Column = call_function("st_curve_length", wkt)
  def st_wrapdateline(wkb: Column, off: Column): Column = call_function("st_wrapdateline", wkb, off)
  def st_curve_area(wkt: Column): Column = call_function("st_curve_area", wkt)
  def st_geodesic_area(wkb: Column): Column = call_function("st_geodesic_area", wkb)
  def st_geodesic_length(wkb: Column): Column = call_function("st_geodesic_length", wkb)
  def st_envelope(wkb: Column): Column = call_function("st_envelope", wkb)
  def st_centroid(wkb: Column): Column = call_function("st_centroid", wkb)
  def st_convexhull(wkb: Column): Column = call_function("st_convexhull", wkb)
  def st_multi(wkb: Column): Column = call_function("st_multi", wkb)
  def st_npoints(wkb: Column): Column = call_function("st_npoints", wkb)
  def st_swapxy(wkb: Column): Column = call_function("st_swapxy", wkb)
  def st_transform_3857(wkb: Column): Column = call_function("st_transform_3857", wkb)
  def st_transform_4326(wkb: Column): Column = call_function("st_transform_4326", wkb)
  def st_dump(wkb: Column): Column = call_function("st_dump", wkb)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_env_intersects(a: Column, b: Column): Column = call_function("st_env_intersects", a, b)
  def st_distance(a: Column, b: Column): Column = call_function("st_distance", a, b)
  def st_intersection(a: Column, b: Column): Column = call_function("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = call_function("st_union", a, b)
  def st_difference(a: Column, b: Column): Column = call_function("st_difference", a, b)
  def st_symdifference(a: Column, b: Column): Column = call_function("st_symdifference", a, b)
  def st_buffer(wkb: Column, dist: Column): Column = call_function("st_buffer", wkb, dist)
  def st_within(a: Column, b: Column): Column = call_function("st_within", a, b)
  def st_touches(a: Column, b: Column): Column = call_function("st_touches", a, b)
  def st_crosses(a: Column, b: Column): Column = call_function("st_crosses", a, b)
  def st_overlaps(a: Column, b: Column): Column = call_function("st_overlaps", a, b)
  def st_equals(a: Column, b: Column): Column = call_function("st_equals", a, b)
  def st_disjoint(a: Column, b: Column): Column = call_function("st_disjoint", a, b)
  def st_makevalid(wkb: Column): Column = call_function("st_makevalid", wkb)
  def st_concavehull(wkb: Column, ratio: Column): Column = call_function("st_concavehull", wkb, ratio)
  def st_transform_utm(wkb: Column, zone: Column): Column = call_function("st_transform_utm", wkb, zone)
  def st_transform_utm_inv(wkb: Column, zone: Column): Column = call_function("st_transform_utm_inv", wkb, zone)
  def st_simplify(wkb: Column, tol: Column): Column = call_function("st_simplify", wkb, tol)
  def st_segmentize(wkb: Column, maxLen: Column): Column = call_function("st_segmentize", wkb, maxLen)
  def st_cover(wkb: Column, z: Column): Column = call_function("st_cover", wkb, z)
  def st_cover_count(wkb: Column, z: Column): Column = call_function("st_cover_count", wkb, z)
  def cell_ring(cell: Column, r: Column): Column = call_function("cell_ring", cell, r)
  def cell_disk(cell: Column, r: Column): Column = call_function("cell_disk", cell, r)
  def cell_parent(cell: Column, z: Column): Column = call_function("cell_parent", cell, z)
  def tile_x(lon: Column, z: Column): Column = call_function("tile_x", lon, z)
  def tile_y(lat: Column, z: Column): Column = call_function("tile_y", lat, z)
  def st_cell(lon: Column, lat: Column, z: Column): Column = call_function("st_cell", lon, lat, z)
  def st_contains_point(wkb: Column, x: Column, y: Column): Column =
    call_function("st_contains_point", wkb, x, y)
  def st_intersects_point(wkb: Column, x: Column, y: Column): Column =
    call_function("st_intersects_point", wkb, x, y)
  def tile_quadkey(z: Column, x: Column, y: Column): Column = call_function("tile_quadkey", z, x, y)
  def st_greatcircle(latA: Column, lonA: Column, latB: Column, lonB: Column): Column =
    call_function("st_greatcircle", latA, lonA, latB, lonB)
  def st_env_intersects_box(wkb: Column, minX: Column, minY: Column, maxX: Column, maxY: Column): Column =
    call_function("st_env_intersects_box", wkb, minX, minY, maxX, maxY)
  def st_clip_bbox(wkb: Column, minX: Column, minY: Column, maxX: Column, maxY: Column): Column =
    call_function("st_clip_bbox", wkb, minX, minY, maxX, maxY)
  def hilbert_code(x: Column, y: Column, minX: Column, minY: Column, maxX: Column, maxY: Column): Column =
    call_function("hilbert_code", x, y, minX, minY, maxX, maxY)
  def text_trigram_codes(s: Column): Column = call_function("text_trigram_codes", s)
  def text_minhash(s: Column): Column = call_function("text_minhash", s)
  def text_simhash16(s: Column): Column = call_function("text_simhash16", s)
  def text_winnow(s: Column, k: Column, w: Column): Column = call_function("text_winnow", s, k, w)
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vec_norm(a: Column): Column = call_function("vec_norm", a)
}
