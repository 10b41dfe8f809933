package org.apache.spark.sql.graft

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoKernel

/** Column ↔ Expression bridge for engine code that constructs
  * data-parameterized expressions (VecNearestCid/VecProbeCids) directly —
  * the classic ExpressionUtils is private[sql] and this package sits
  * inside org.apache.spark.sql, so the access is legal here. */
object ColumnBridge {
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** LogicalPlan → DataFrame bridge for engine code that rewrites an analyzed
  * plan itself (CellJoinRule.plan): Dataset.ofRows is private[sql]. The
  * plan is marked analyzed, so the analyzer leaves the rewrite as built. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    plan.setAnalyzed()
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}

/** Drain of the listener bus, which is private[spark]: the scheduler posts
  * a job's task-end and job-end events before its action returns, so once
  * the bus is empty every listener has seen them. */
object ListenerBus {
  /** Waits at most `timeoutMs` for every queued event to be delivered;
    * returns at the deadline even if the bus is still busy. */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

// ------------------------------------------------------------ kernel calls

/** One graft SQL function: one static call `kernel.method(args)`.
  * `kernel` names a Scala object whose static forwarders generated code
  * calls; `args` and `result` are the SQL types; `mayReturnNull` says the
  * kernel can answer null (SQL NULL) for non-null input. An unregistered
  * row is built by engine code only. The row is all that [[KernelCall]]
  * needs: its types, nullability, builder, interpreted and generated call.
  *
  * Kernel parameters and results meet SQL values by these rules, here
  * only: a String parameter takes a UTF8String's text and a double[] one
  * an array's doubles; a String result becomes a UTF8String, a primitive
  * array a GenericArrayData, a byte[][] a GenericArrayData of its
  * elements, a java.lang.Double its value; a null result is SQL NULL. */
final case class KernelFn(name: String, kernel: String, method: String, args: Seq[DataType],
                          result: DataType, mayReturnNull: Boolean = false,
                          registered: Boolean = true) {

  /** The static method of `kernel` named `method` with one parameter per
    * argument, resolved once per JVM (rows live in [[KernelFns]]). */
  @transient lazy val target: Method = {
    val ms = Class.forName(kernel).getMethods.filter(m => m.getName == method &&
      m.getParameterCount == args.length && Modifier.isStatic(m.getModifiers))
    require(ms.length == 1,
      s"$name: $kernel.$method with ${args.length} parameters matches ${ms.length} methods")
    require(ms(0).getReturnType != classOf[java.lang.Double] || mayReturnNull,
      s"$name: a java.lang.Double result must be declared mayReturnNull")
    ms(0)
  }

  /** The arity-checked builder the function registry calls. */
  def builder: Seq[Expression] => Expression = { as =>
    require(as.length == args.length, s"$name expects ${args.length} arguments, got ${as.length}")
    KernelCall(name, as)
  }

  def apply(children: Expression*): KernelCall = KernelCall(name, children)

  /** Matches a call of this row, so rules can take its arguments apart. */
  def unapplySeq(e: Expression): Option[Seq[Expression]] = e match {
    case KernelCall(`name`, cs) => Some(cs)
    case _ => None
  }

  /** The interpreted call on non-null SQL values; `values` is reused for
    * the kernel's arguments. */
  def call(values: Array[AnyRef]): Any = {
    val ps = target.getParameterTypes
    var i = 0
    while (i < values.length) {
      if (ps(i) == classOf[String]) values(i) = values(i).toString
      else if (ps(i) == classOf[Array[Double]]) values(i) = values(i).asInstanceOf[ArrayData].toDoubleArray()
      i += 1
    }
    val r = try target.invoke(null, values: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    if (r == null) null
    else result match {
      case StringType => UTF8String.fromString(r.asInstanceOf[String])
      case _: ArrayType => r match {
        case a: Array[Double] => new GenericArrayData(a)
        case a: Array[Long] => new GenericArrayData(a)
        case a: Array[Int] => new GenericArrayData(a)
        case a: Array[AnyRef] => new GenericArrayData(a.asInstanceOf[Array[Any]])
      }
      case _ => r
    }
  }

  /** Java statements that call the kernel on the argument values `vs`
    * and set `ev.value`, and `ev.isNull` when the kernel answers null. */
  def genCall(ctx: CodegenContext, ev: ExprCode, vs: Seq[String]): String = {
    val ps = target.getParameterTypes
    val in = vs.indices.map { i =>
      if (ps(i) == classOf[String]) s"${vs(i)}.toString()"
      else if (ps(i) == classOf[Array[Double]]) s"${vs(i)}.toDoubleArray()"
      else vs(i)
    }
    val call = s"$kernel.$method(${in.mkString(", ")})"
    val rt = target.getReturnType
    if (rt == classOf[java.lang.Double]) {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed = $call;
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    } else {
      val arrays = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      val value = result match {
        case StringType => s"UTF8String.fromString($call)"
        case _: ArrayType if rt.getComponentType.isArray => s"new $arrays((Object[]) $call)"
        case _: ArrayType => s"new $arrays($call)"
        case _ => call
      }
      if (mayReturnNull && !rt.isPrimitive)
        s"""
           |${ev.value} = $value;
           |if (${ev.value} == null) { ${ev.isNull} = true; }
         """.stripMargin
      else s"${ev.value} = $value;"
    }
  }
}

/** A call of one [[KernelFn]] row, named by `name`: every graft SQL
  * function that is one static kernel call. Only the name and the
  * children are shipped with a task; the row, and its resolved method,
  * are looked up where the expression runs. Null in, null out, evaluating
  * the arguments left to right, as Unary/Binary/TernaryExpression do; the
  * generated code has their shape. */
case class KernelCall(name: String, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  @transient private lazy val fn: KernelFn = KernelFns(name)

  override def inputTypes: Seq[AbstractDataType] = fn.args
  override def dataType: DataType = fn.result
  override def prettyName: String = name
  override def nullable: Boolean = fn.mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  /** Prints as name(args): the name is the prettyName, not an argument. */
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    fn.call(values)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = fn.genCall(ctx, ev, gens.map(_.value.toString))
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (!nullable)
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $decl
        $call""", isNull = FalseLiteral)
    else if (children.length == 1)
      ev.copy(code = code"""
        ${gens.head.code}
        boolean ${ev.isNull} = ${gens.head.isNull};
        $decl
        ${ctx.nullSafeExec(children.head.nullable, gens.head.isNull.toString)(call)}
      """)
    else {
      val nullSafe = gens.zip(children).foldRight(s"""
        ${ev.isNull} = false; // resultCode could change nullability.
        $call
      """) { case ((g, c), inner) => g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner) }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $nullSafe
      """)
    }
  }

  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): KernelCall =
    copy(children = ns)
}

/** The table of graft SQL functions that are one kernel call, one row per
  * SQL name (SURVEY.md §7.3). Every row code-generates to a static call on
  * its kernel, so it stays inside whole-stage codegen. Reference analog:
  * the SQLite dialect's function table of (name, argument count, callback)
  * rows (ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1111-1148)
  * and its ST_* set (ogrsqlitesqlfunctions.cpp:876-1054). */
object KernelFns {
  final val Geo = "graft.functions.GeoKernel"
  private final val Text = "graft.functions.TextKernel"
  private final val Vec = "graft.functions.VecKernel"
  private final val Zlib = "graft.functions.ZlibKernel"
  private final val Style = "graft.geom.OgrStyle"
  private final val Half = "graft.engine.Half"

  private val B = BinaryType
  private val S = StringType
  private val D = DoubleType
  private val I = IntegerType
  private val L = LongType
  private val Z = BooleanType
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Longs = ArrayType(LongType, containsNull = false)
  /** An array<double> argument (its elements may be null). */
  private val VecArg = ArrayType(DoubleType)

  val rows: Seq[KernelFn] = Seq(
    // ---- codecs
    // WKT → WKB, null on unparseable WKT. Ref: OGR ST_GeomFromText (ogrsqlitesqlfunctions.cpp:779).
    KernelFn("st_geomfromtext", Geo, "geomFromText", Seq(S), B, mayReturnNull = true),
    // Ref: ST_AsText (ogrsqlitesqlfunctions.cpp:723).
    KernelFn("st_astext", Geo, "asText", Seq(B), S),
    // RFC 7946 geometry JSON; precision = the XY_COORD_PRECISION /
    // RFC7946-mode decimals option, < 0 = lossless shortest repr. Ref:
    // ogr/ogrsf_frmts/geojson/ogrgeojsonwriter.cpp OGRGeoJSONWriteGeometry.
    KernelFn("st_asgeojson", Geo, "asGeoJson", Seq(B, I), S),
    // JSON → WKB, null on malformed input; Feature objects unwrap to their
    // geometry. Ref: ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp OGRGeoJSONReadGeometry.
    KernelFn("st_geomfromgeojson", Geo, "geomFromGeoJson", Seq(S), B, mayReturnNull = true),
    // KML / GML2 geometry fragments, and back (null on malformed input).
    // Refs: ogr2kmlgeometry.cpp OGR2KMLGeometryAppend, ogr2gmlgeometry.cpp
    // OGR2GMLGeometryAppend (the SQLite dialect's AsKML/AsGML); kmlnode.cpp
    // geometry elements; gml2ogrgeometry.cpp GML2OGRGeometry_XMLNode (GML2 +
    // GML3 pos/posList/exterior).
    KernelFn("st_askml", Geo, "asKml", Seq(B), S),
    KernelFn("st_geomfromkml", Geo, "geomFromKml", Seq(S), B, mayReturnNull = true),
    KernelFn("st_asgml", Geo, "asGml", Seq(B), S),
    KernelFn("st_geomfromgml", Geo, "geomFromGml", Seq(S), B, mayReturnNull = true),
    // ESRI Shapefile record-content bytes (the `.shp` record body,
    // shape2ogr.cpp SHPWriteOGRObject semantics: outer rings forced CW,
    // holes CCW, multi-part flattening), and back: NULL for a NULL shape,
    // polygon rings re-assembled with the ONLY_CCW organizePolygons
    // contract (shape2ogr.cpp:443).
    KernelFn("st_asshp", Geo, "asShp", Seq(B), B),
    KernelFn("st_fromshp", Geo, "geomFromShp", Seq(B), B, mayReturnNull = true),
    // Order-preserving IEEE bit map to a long whose UNSIGNED order equals
    // the double order; the exact-quantile engine's digit space (engine/Quantiles.scala).
    KernelFn("double_usort_bits", Geo, "doubleUsortBits", Seq(D), L),
    // [minLon, minLat, maxLon, maxLat] of a packed cell id (the tile
    // envelope of the shared cell grid).
    KernelFn("st_cell_env", Geo, "cellEnv", Seq(L), Doubles),
    // Ref: ST_MakePoint (ogrsqlitesqlfunctions.cpp:1014); the make-point
    // pipeline step (apps/gdalalg_vector_make_point.cpp:32).
    KernelFn("st_point", Geo, "point", Seq(D, D), B),

    // ---- unary info
    // Ref: ST_IsEmpty (ogrsqlitesqlfunctions.cpp:902).
    KernelFn("st_isempty", Geo, "isEmpty", Seq(B), Z),
    // Structural validity. Ref: ST_IsValid (ogrsqlitesqlfunctions.cpp:904).
    KernelFn("st_isvalid", Geo, "isValid", Seq(B), Z),
    // 'POINT' | ... Ref: OGR_GEOMETRY special field (ogr/ogrfeature.cpp:1523).
    KernelFn("st_geometrytype", Geo, "geometryType", Seq(B), S),
    // The ordinates of a point.
    KernelFn("st_x", Geo, "stX", Seq(B), D),
    KernelFn("st_y", Geo, "stY", Seq(B), D),
    // Ref: ST_Area (ogrsqlitesqlfunctions.cpp:959).
    KernelFn("st_area", Geo, "area", Seq(B), D),
    // Ref: ST_Length (ogrsqlitesqlfunctions.cpp:978).
    KernelFn("st_length", Geo, "length", Seq(B), D),
    // Curve-exact (non-linearized) length and area of arc geometry given as
    // WKT, straight from the CIRCULARSTRING control points; null when the
    // WKT is not a parseable 2-D curve type. Refs: OGRCircularString::get_Length
    // (ogr/ogrcircularstring.cpp:195) via
    // OGRGeometryFactory::GetCurveParameters (ogrgeometryfactory.cpp:5809);
    // OGRCircularString::get_Area (ogrcircularstring.cpp:874),
    // OGRCompoundCurve::get_Area (ogrcompoundcurve.cpp:864), OGRCurvePolygon::get_Area.
    KernelFn("st_curve_length", Geo, "curveLength", Seq(S), D, mayReturnNull = true),
    KernelFn("st_curve_area", Geo, "curveArea", Seq(S), D, mayReturnNull = true),
    // Cut/wrap at the antimeridian, the WRAPDATELINE=YES transform option
    // (OGRGeometryFactory::transformWithOptions, ogrgeometryfactory.cpp:4430-4620;
    // DATELINEOFFSET default 10).
    KernelFn("st_wrapdateline", Geo, "wrapDateline", Seq(B, D), B),
    // Ellipsoidal (WGS84) area in m² and length in m, the engine twins of
    // ST_Area(geom, 1) → OGR_G_GeodesicArea and ST_Length(geom, 1) →
    // OGR_G_GeodesicLength (ogrsqlitesqlfunctions.cpp:630, :675;
    // ogrlinestring.cpp:3225, :3244); see graft.geom.Geodesic.
    KernelFn("st_geodesic_area", Geo, "geodesicArea", Seq(B), D),
    KernelFn("st_geodesic_length", Geo, "geodesicLength", Seq(B), D),
    // array(minx, miny, maxx, maxy). Ref: OGREnvelope + WKB bbox scan
    // (ogr/ogr_wkb.h:30).
    KernelFn("st_envelope", Geo, "envelope", Seq(B), Doubles),
    // Ref: OGRGeometry::Centroid (ogrgeometry.cpp:4825).
    KernelFn("st_centroid", Geo, "centroid", Seq(B), B),
    // Ref: OGRGeometry::ConvexHull (ogrgeometry.cpp:4449).
    KernelFn("st_convexhull", Geo, "convexHull", Seq(B), B),
    // Promote to the multi variant (set-geom-type promote-to-multi;
    // surfaces cast to facet MultiPolygon). Ref: OGRGeometryFactory::forceTo
    // (ogrgeometryfactory.cpp:3536).
    KernelFn("st_multi", Geo, "forceMulti", Seq(B), B),
    // Total vertex count. Ref: OGR_GEOM_POINT_COUNT / SpatiaLite ST_NPoints
    // (ogrsqlitesqlfunctions.cpp).
    KernelFn("st_npoints", Geo, "npoints", Seq(B), I),
    // zlib blob of the bytes, level -1 = Z_DEFAULT_COMPRESSION (the
    // registry's default), and back, null on a corrupt stream (the reference
    // returns SQL NULL). Refs: OGR2SQLITE_ogr_deflate
    // (ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:96-130),
    // OGR2SQLITE_ogr_inflate (ogrsqlitesqlfunctions.cpp:132-160).
    KernelFn("ogr_deflate", Zlib, "deflate", Seq(B, I), B),
    KernelFn("ogr_inflate", Zlib, "inflateOrNull", Seq(B), B, mayReturnNull = true),
    // Ref: swap-xy pipeline step (apps/gdalalg_vector_swap_xy.cpp).
    KernelFn("st_swapxy", Geo, "swapXY", Seq(B), B),
    // WGS84 ↔ WebMercator. Ref: reproject step via OGRWarpedLayer
    // (ogr/ogrsf_frmts/generic/ogrwarpedlayer.cpp:172),
    // formulas gdal2tiles.py:426-429.
    KernelFn("st_transform_3857", Geo, "to3857", Seq(B), B),
    KernelFn("st_transform_4326", Geo, "to4326", Seq(B), B),
    // array<wkb> of parts (use with explode()). Ref: explode-collections
    // (apps/gdalalg_vector_explode.h:29).
    KernelFn("st_dump", Geo, "dump", Seq(B), ArrayType(BinaryType, containsNull = false)),

    // ---- binary ops
    // Envelope reject then exact (two-phase FilterGeometry, ogrlayer.cpp:4004-4076).
    KernelFn("st_intersects", Geo, "intersects", Seq(B, B), Z),
    // Ref: ST_Contains (ogrsqlitesqlfunctions.cpp:882).
    KernelFn("st_contains", Geo, "contains", Seq(B, B), Z),
    // Envelope-only pretest.
    KernelFn("st_env_intersects", Geo, "envIntersects", Seq(B, B), Z),
    // Ref: OGRGeometry::Distance (ogrgeometry.cpp:3818).
    KernelFn("st_distance", Geo, "distance", Seq(B, B), D),
    // Overlay geometry by the Martinez–Rueda sweep (BoolOps). Refs:
    // OGRGeometry::Intersection (ogrgeometry.cpp:5318), Union (:5562),
    // Difference (:5698), SymDifference (:5807).
    KernelFn("st_intersection", Geo, "geomIntersection", Seq(B, B), B),
    KernelFn("st_union", Geo, "geomUnion", Seq(B, B), B),
    KernelFn("st_difference", Geo, "geomDifference", Seq(B, B), B),
    KernelFn("st_symdifference", Geo, "geomSymDifference", Seq(B, B), B),
    // Constructive Minkowski buffer, round joins, quadSegs=8. Ref:
    // OGRGeometry::Buffer (ogrgeometry.cpp:4949).
    KernelFn("st_buffer", Geo, "buffer", Seq(B, D), B),
    // DE-9IM predicates (ref ogrgeometry.cpp:6009-6409).
    KernelFn("st_within", Geo, "within", Seq(B, B), Z),
    KernelFn("st_touches", Geo, "touches", Seq(B, B), Z),
    KernelFn("st_crosses", Geo, "crosses", Seq(B, B), Z),
    KernelFn("st_overlaps", Geo, "overlaps", Seq(B, B), Z),
    KernelFn("st_equals", Geo, "equalsGeom", Seq(B, B), Z),
    KernelFn("st_disjoint", Geo, "disjoint", Seq(B, B), Z),
    // Even-odd re-noding of self-intersecting polygons. Ref:
    // OGRGeometry::MakeValid (ogrgeometry.cpp:4183).
    KernelFn("st_makevalid", Geo, "makeValid", Seq(B), B),
    // Delaunay + border erosion by edge-length ratio. Ref:
    // OGRGeometry::ConcaveHull (ogrgeometry.cpp → GEOS).
    KernelFn("st_concavehull", Geo, "concaveHull", Seq(B, D), B),
    // WGS84 ↔ UTM zone (Snyder series; ref ogrct.cpp delegates to PROJ tmerc).
    KernelFn("st_transform_utm", Geo, "toUtm", Seq(B, I), B),
    KernelFn("st_transform_utm_inv", Geo, "fromUtm", Seq(B, I), B),
    // The check-geometry detail surface: reason and location, NULL for
    // valid input (apps/gdalalg_vector_check_geometry.cpp `error` +
    // `error_location` fields; geom/CheckGeometry.scala).
    KernelFn("st_isvalid_reason", Geo, "invalidReason", Seq(B), S, mayReturnNull = true),
    KernelFn("st_invalid_x", Geo, "invalidX", Seq(B), D, mayReturnNull = true),
    KernelFn("st_invalid_y", Geo, "invalidY", Seq(B), D, mayReturnNull = true),

    // ---- projections: (wkb, lat1, lat2, lat0, lon0) Lambert Conformal
    // Conic / Albers Equal-Area (Snyder 2SP ellipsoidal, geom/Conic.scala;
    // ogr/ogrct.cpp delegates the same math to PROJ lcc/aea)
    KernelFn("st_transform_lcc", Geo, "toLcc", Seq(B, D, D, D, D), B),
    KernelFn("st_transform_lcc_inv", Geo, "fromLcc", Seq(B, D, D, D, D), B),
    KernelFn("st_transform_albers", Geo, "toAlbers", Seq(B, D, D, D, D), B),
    KernelFn("st_transform_albers_inv", Geo, "fromAlbers", Seq(B, D, D, D, D), B),
    // Polar Stereographic variant B, (wkb, lat_ts, lon0) (Snyder §21; PROJ
    // stere, EPSG:3413/3031).
    KernelFn("st_transform_ps", Geo, "toPs", Seq(B, D, D), B),
    KernelFn("st_transform_ps_inv", Geo, "fromPs", Seq(B, D, D), B),
    // Ellipsoidal Sinusoidal, (wkb, lon0) (Snyder §30; PROJ sinu, the MODIS grid).
    KernelFn("st_transform_sinu", Geo, "toSinu", Seq(B, D), B),
    KernelFn("st_transform_sinu_inv", Geo, "fromSinu", Seq(B, D), B),
    // Spherical Azimuthal Equidistant, (wkb, lat0, lon0) (Snyder §25; PROJ aeqd +R=a).
    KernelFn("st_transform_aeqd", Geo, "toAeqd", Seq(B, D, D), B),
    KernelFn("st_transform_aeqd_inv", Geo, "fromAeqd", Seq(B, D, D), B),
    // Equidistant Cylindrical, (wkb, lat1) (Snyder §12; PROJ eqc).
    KernelFn("st_transform_eqc", Geo, "toEqc", Seq(B, D), B),
    KernelFn("st_transform_eqc_inv", Geo, "fromEqc", Seq(B, D), B),
    // Mollweide, (wkb, lon0) (Snyder §31; PROJ moll).
    KernelFn("st_transform_moll", Geo, "toMoll", Seq(B, D), B),
    KernelFn("st_transform_moll_inv", Geo, "fromMoll", Seq(B, D), B),
    // The perspective azimuthals, (wkb, lat0, lon0) (Snyder §20-§22; PROJ
    // ortho/gnom/stere spherical oblique forms).
    KernelFn("st_transform_ortho", Geo, "toOrtho", Seq(B, D, D), B),
    KernelFn("st_transform_ortho_inv", Geo, "fromOrtho", Seq(B, D, D), B),
    KernelFn("st_transform_gnom", Geo, "toGnom", Seq(B, D, D), B),
    KernelFn("st_transform_gnom_inv", Geo, "fromGnom", Seq(B, D, D), B),
    KernelFn("st_transform_stere", Geo, "toStere", Seq(B, D, D), B),
    KernelFn("st_transform_stere_inv", Geo, "fromStere", Seq(B, D, D), B),
    // Lambert Azimuthal Equal-Area, (wkb, lat0, lon0) (Snyder §24; PROJ
    // laea, the EPSG:3035 frame).
    KernelFn("st_transform_laea", Geo, "toLaea", Seq(B, D, D), B),
    KernelFn("st_transform_laea_inv", Geo, "fromLaea", Seq(B, D, D), B),
    // Miller Cylindrical, (wkb, lon0) (Snyder §18; PROJ mill).
    KernelFn("st_transform_mill", Geo, "toMill", Seq(B, D), B),
    KernelFn("st_transform_mill_inv", Geo, "fromMill", Seq(B, D), B),
    // 7-parameter Helmert datum shift, (wkb, a, inv_f, tx, ty, tz, rx, ry,
    // rz, ds_ppm) in TOWGS84 parameter order (EPSG 9606 position-vector;
    // geom/Datum.scala). The reference builds the same cart+helmert
    // pipeline from the SRS TOWGS84 node (ogr/ogrct.cpp:1788-2122).
    KernelFn("st_towgs84", Geo, "toWgs84Datum", Seq(B, D, D, D, D, D, D, D, D, D), B),
    KernelFn("st_fromwgs84", Geo, "fromWgs84Datum", Seq(B, D, D, D, D, D, D, D, D, D), B),

    // ---- half floats: little-endian IEEE 754 half payload (GDAL
    // GDT_Float16, port/cpl_float.h) to doubles, exact; doubles to packed
    // halves, round-to-nearest-even (CPLFloatToHalf semantics)
    KernelFn("st_half_decode", Half, "decode", Seq(B), Doubles),
    KernelFn("st_half_encode", Half, "encode", Seq(VecArg), B),

    // ---- OGR feature-style accessors (ogr/ogrfeaturestyle.cpp;
    // geom/OgrStyle): part count; tool name of part i; raw param of part
    // i (unit-stripped, unquoted); param converted to a unit (GetParamDbl
    // with SetUnit semantics); #RRGGBB[AA] → "r,g,b,a". Null where the
    // part, the param or the colour is missing.
    KernelFn("st_style_part_count", Style, "partCount", Seq(S), I, mayReturnNull = true),
    KernelFn("st_style_tool", Style, "toolName", Seq(S, I), S, mayReturnNull = true),
    KernelFn("st_style_param", Style, "param", Seq(S, I, S), S, mayReturnNull = true),
    KernelFn("st_style_param_dbl", Style, "paramDbl", Seq(S, I, S, S), D, mayReturnNull = true),
    KernelFn("st_style_rgba", Style, "rgba", Seq(S), S, mayReturnNull = true),

    // ---- geometry ops with parameters
    // Douglas-Peucker (ogrgeometry.cpp:6526 semantics).
    KernelFn("st_simplify", Geo, "simplify", Seq(B, D), B),
    // Ref: segmentize step (apps/gdalalg_vector_segmentize.cpp).
    KernelFn("st_segmentize", Geo, "segmentize", Seq(B, D), B),

    // ---- cells and tiles
    // Sorted array<long> of the cells covering the geometry's envelope,
    // with GetTileIndices' slack (SURVEY.md §2.E), and its size from the
    // envelope's tile range alone (never throws).
    KernelFn("st_cover", Geo, "cover", Seq(B, I), Longs),
    KernelFn("st_cover_count", Geo, "coverCount", Seq(B, I), L),
    // Cells at, and within, Chebyshev distance r (kNN ring expansion, SURVEY.md §2.H).
    KernelFn("cell_ring", Geo, "cellRing", Seq(L, I), Longs),
    KernelFn("cell_disk", Geo, "cellDisk", Seq(L, I), Longs),
    // Quadtree ancestor at zoom z.
    KernelFn("cell_parent", Geo, "cellParent", Seq(L, I), L),
    // XYZ tile column and row via the gdal2tiles pipeline
    // (gdal2tiles.py:449-466; FIXTURES.md §4), the row with the TMS flip of
    // GetFileY (gdalalg_raster_tile.cpp:509-513).
    KernelFn("tile_x", Geo, "tileX", Seq(D, I), I),
    KernelFn("tile_y", Geo, "tileY", Seq(D, I), I),
    // Packed cell id of a point (the point-side join key).
    KernelFn("st_cell", Geo, "cell", Seq(D, D, I), L),
    // Ref: gdal2tiles.py:518-530.
    KernelFn("tile_quadkey", Geo, "quadkey", Seq(I, I, I), S),
    // (latA, lonA, latB, lonB, radius): spherical law of cosines, exact
    // OGR_GreatCircle_Distance semantics (ogr_geo_utils.cpp:33-46). The
    // registry's default radius is the WGS84 semi-major 6378137 m.
    KernelFn("st_greatcircle", Geo, "greatCircle", Seq(D, D, D, D, D), D),
    // (wkb, minx, miny, maxx, maxy) bbox prefilter (the `filter --bbox`
    // step, gdalalg_vector_filter.cpp:36-43).
    KernelFn("st_env_intersects_box", Geo, "envIntersectsBox", Seq(B, D, D, D, D), Z),
    // Sutherland-Hodgman rectangle clip (clip step, gdalalg_vector_clip.cpp;
    // tile clipping core).
    KernelFn("st_clip_bbox", Geo, "clipBox", Seq(B, D, D, D, D), B),
    // (x, y, minx, miny, maxx, maxy) spatial sort key
    // (alg/hilbert.cpp:19-92; vector sort step
    // gdalalg_vector_sort.cpp:351-375).
    KernelFn("hilbert_code", Geo, "hilbert", Seq(D, D, D, D, D, D), L),

    // ---- text
    // Character-trigram codes, the shared shingle base of the dedup family.
    KernelFn("text_trigram_codes", Text, "trigramCodes", Seq(S), Longs),
    // The 8 MinHash values, one pass (SURVEY training-data ops; oracle-pinned by d04/d05).
    KernelFn("text_minhash", Text, "minhashSig", Seq(S), Longs),
    // 16-bit SimHash fingerprint as long, one pass.
    KernelFn("text_simhash16", Text, "simhash16", Seq(S), L),
    // (s, k, w): winnowing fingerprints packed as pos·2^32 + hash, the
    // rightmost-minimal k-gram hash per w-gram window
    // (Schleimer–Wilkerson–Aiken SIGMOD 2003; see TextKernel.winnow).
    KernelFn("text_winnow", Text, "winnow", Seq(S, I, I), Longs),
    // Gopher-style repetition stats over the single-space word split:
    // [n_words, word_chars, top2_cov, top3_cov, top4_cov, dup5_cov,
    // dup6_cov, dup7_cov] (Rae et al. 2021 §A1.1 repetition filters).
    KernelFn("text_rep_stats", Text, "repStats", Seq(S), Longs),
    // Character-class segmentation stats (the BPE-ish pre-tokenizer shape):
    // [n_segs, n_letter, n_digit, n_other, n_space, max_run, n_long16].
    KernelFn("text_char_segs", Text, "charClassSegs", Seq(S), Longs),

    // ---- vectors: sequential-fold dot product and L2 norm (ANN hot path)
    KernelFn("vec_dot", Vec, "dot", Seq(VecArg, VecArg), D),
    KernelFn("vec_norm", Vec, "norm", Seq(VecArg), D),

    // ---- the joins' cell cover, built by CellJoinRule and Subdivide, not
    // registered: st_cover's cells widened so that it holds st_cell of
    // every point of the envelope (Mercator.joinTileRangeLonLat), and its size
    KernelFn("st_join_cover", Geo, "joinCover", Seq(B, I), Longs, registered = false),
    KernelFn("st_join_cover_count", Geo, "joinCoverCount", Seq(B, I), L, registered = false),
  )

  private val byName: Map[String, KernelFn] = rows.map(f => f.name -> f).toMap
  require(byName.size == rows.size, "a SQL name appears in two rows")

  def apply(name: String): KernelFn =
    byName.getOrElse(name, throw new IllegalArgumentException(s"no kernel function named $name"))
}

// ------------------------------------------------------ more than one call

/** The boxed polygon that the broadcast point-in-polygon joins carry:
  * struct<minx, miny, maxx, maxy, wkb>, the geometry decoded once
  * (GeoKernel.box), null for a null WKB. [[PointPredicate]]s accept it in
  * place of the WKB: they test the closed envelope, then run the ray test
  * on the wkb field where the row holds it (an UnsafeRow's bytes are not
  * copied). Built by CellJoinRule; not registered as a SQL function. */
case class StBox(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StBox.Type
  override def prettyName: String = "st_box"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.box(w.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${KernelFns.Geo}.box($c)")
  protected override def withNewChildInternal(newChild: Expression): StBox = copy(child = newChild)
}

object StBox {
  val Type: StructType = StructType(
    Seq("minx", "miny", "maxx", "maxy").map(StructField(_, DoubleType, nullable = false)) :+
      StructField("wkb", BinaryType, nullable = false))

  /** The WKB field of a boxed geometry. */
  def wkb(box: Expression): Expression = GetStructField(box, 4, Some("wkb"))
}

/** Point predicate over a geometry given as WKB or as the boxed struct of
  * [[StBox]]. On the struct the kernel tests the closed envelope in place
  * (an UnsafeRow's getStruct does not copy) and, for points inside it,
  * runs the ray test on the WKB bytes in the row, so a broadcast join's
  * refine copies no candidate's polygon. Both inputs give the same
  * result. */
abstract class PointPredicate extends TernaryExpression with ImplicitCastInputTypes {
  /** Whether the boundary counts (st_intersects_point). */
  protected def boundary: Boolean
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(BinaryType, StBox.Type), DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  protected override def nullSafeEval(w: Any, x: Any, y: Any): Any = {
    val px = x.asInstanceOf[Double]; val py = y.asInstanceOf[Double]
    w match {
      case b: InternalRow =>
        if (boundary) GeoKernel.boxIntersectsPoint(b, px, py) else GeoKernel.boxContainsPoint(b, px, py)
      case wkb: Array[Byte] =>
        if (boundary) GeoKernel.intersectsPoint(wkb, px, py) else GeoKernel.containsPoint(wkb, px, py)
    }
  }
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val onWkb = if (boundary) "intersectsPoint" else "containsPoint"
    val f = if (first.dataType == BinaryType) onWkb else "box" + onWkb.capitalize
    defineCodeGen(ctx, ev, (w, x, y) => s"${KernelFns.Geo}.$f($w, $x, $y)")
  }
}

/** st_contains_point(geom, x, y) — THE spatial-join refine predicate
  * (ray-crossing PIP, ogrlinearring.cpp:452-521 + hole rule ogrpolygon.cpp:770);
  * geom is WKB or the boxed struct ([[StBox]]). */
case class StContainsPoint(first: Expression, second: Expression, third: Expression)
    extends PointPredicate {
  override def prettyName: String = "st_contains_point"
  protected def boundary = false
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StContainsPoint =
    copy(first = a, second = b, third = c)
}

/** st_intersects_point(geom, x, y) — PIP including boundary
  * (OGRCurvePolygon::IntersectsPoint, ogrcurvepolygon.cpp:829); geom is
  * WKB or the boxed struct ([[StBox]]). */
case class StIntersectsPoint(first: Expression, second: Expression, third: Expression)
    extends PointPredicate {
  override def prettyName: String = "st_intersects_point"
  protected def boundary = true
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StIntersectsPoint =
    copy(first = a, second = b, third = c)
}

/** vec_nearest_cid(emb) → int: fused IVF coarse assignment against a
  * centroid table held as a codegen REFERENCE OBJECT. Replaces the
  * k-wide array_min(array(struct(vec_dot(...)))) tree whose generated
  * doConsume exceeded Janino's method limits at realistic k×dim
  * (interpreted fallback on the ANN assignment map stage) — the
  * generated code is now ONE kernel call. Semantics bit-identical:
  * same sequential-fold dot order, same cc − 2·dot score, same
  * (s, cid) lexicographic tie rule and NaN-greatest total ordering. */
case class VecNearestCid(child: Expression, cids: Array[Int],
    cents: Array[Array[Double]], ccs: Array[Double])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_nearest_cid"
  protected override def nullSafeEval(a: Any): Any =
    graft.functions.VecKernel.nearestCid(a.asInstanceOf[ArrayData], cids, cents, ccs)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val ccsRef = ctx.addReferenceObj("ccs", ccs, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VecKernel.nearestCid($a, $cidsRef, $centsRef, $ccsRef)")
  }
  protected override def withNewChildInternal(n: Expression): VecNearestCid =
    copy(child = n)
}

/** vec_probe_cids(emb) → array<int>: the nprobe nearest centroid ids,
  * nearest first — the fused twin of slice(array_sort(array(struct(s,
  * cid))), 1, nprobe).cid with the same total ordering. */
case class VecProbeCids(child: Expression, cids: Array[Int],
    cents: Array[Array[Double]], ccs: Array[Double], nprobe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "vec_probe_cids"
  protected override def nullSafeEval(a: Any): Any =
    graft.functions.VecKernel.probeCids(a.asInstanceOf[ArrayData], cids, cents, ccs, nprobe)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val ccsRef = ctx.addReferenceObj("ccs", ccs, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VecKernel.probeCids($a, $cidsRef, $centsRef, $ccsRef, $nprobe)")
  }
  protected override def withNewChildInternal(n: Expression): VecProbeCids =
    copy(child = n)
}
