package org.apache.spark.sql.graft

import graft.functions.GeoKernel

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the geometry/cell kernel (SURVEY.md §7.3).
  * All hot-path expressions code-generate to static calls on
  * [[graft.functions.GeoKernel]], so they stay inside whole-stage codegen.
  * Reference analogs: the SQLite-dialect ST_* function set
  * (/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:876-1054).
  */
private object K { final val N = "graft.functions.GeoKernel" }

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

// ------------------------------------------------------------------ codecs

/** st_geomfromtext(wkt) → WKB (null on unparseable WKT).
  * Ref: OGR ST_GeomFromText (ogrsqlitesqlfunctions.cpp:779). */
case class StGeomFromText(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromtext"
  protected override def nullSafeEval(wkt: Any): Any =
    GeoKernel.geomFromText(wkt.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ${K.N}.geomFromText($c.toString());
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): StGeomFromText =
    copy(child = newChild)
}

/** st_astext(wkb) → WKT. Ref: ST_AsText (ogrsqlitesqlfunctions.cpp:723). */
case class StAsText(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "st_astext"
  protected override def nullSafeEval(wkb: Any): Any =
    UTF8String.fromString(GeoKernel.asText(wkb.asInstanceOf[Array[Byte]]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"UTF8String.fromString(${K.N}.asText($c))")
  protected override def withNewChildInternal(newChild: Expression): StAsText =
    copy(child = newChild)
}

/** st_asgeojson(wkb, precision) → RFC 7946 geometry JSON (reference
  * writer: ogr/ogrsf_frmts/geojson/ogrgeojsonwriter.cpp
  * OGRGeoJSONWriteGeometry; precision = the XY_COORD_PRECISION /
  * RFC7946-mode decimals option, < 0 = lossless shortest repr). */
case class StAsGeoJson(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = StringType
  override def prettyName: String = "st_asgeojson"
  protected override def nullSafeEval(wkb: Any, p: Any): Any =
    UTF8String.fromString(
      GeoKernel.asGeoJson(wkb.asInstanceOf[Array[Byte]], p.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, p) =>
      s"UTF8String.fromString(${K.N}.asGeoJson($w, $p))")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StAsGeoJson =
    copy(left = l, right = r)
}

/** st_askml(wkb) / st_asgml(wkb) → KML / GML2 geometry fragment (refs:
  * ogr2kmlgeometry.cpp OGR2KMLGeometryAppend, ogr2gmlgeometry.cpp
  * OGR2GMLGeometryAppend — the SQLite dialect exposes the same pair as
  * AsKML/AsGML). */
case class StAsKml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "st_askml"
  protected override def nullSafeEval(wkb: Any): Any =
    UTF8String.fromString(GeoKernel.asKml(wkb.asInstanceOf[Array[Byte]]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"UTF8String.fromString(${K.N}.asKml($c))")
  protected override def withNewChildInternal(newChild: Expression): StAsKml =
    copy(child = newChild)
}

/** st_cell_env(cell) — [minLon, minLat, maxLon, maxLat] of a packed cell
  * id (the tile envelope of the shared cell grid). */
case class StCellEnv(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "st_cell_env"
  protected override def nullSafeEval(c: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GeoKernel.cellEnv(c.asInstanceOf[Long]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${K.N}.cellEnv($c))")
  protected override def withNewChildInternal(newChild: Expression): StCellEnv =
    copy(child = newChild)
}

/** double_usort_bits(x) — order-preserving IEEE bit map to a long whose
  * UNSIGNED order equals the double order; the exact-quantile engine's
  * digit space (engine/Quantiles.scala). */
case class DoubleUsortBits(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "double_usort_bits"
  protected override def nullSafeEval(d: Any): Any =
    GeoKernel.doubleUsortBits(d.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.N}.doubleUsortBits($c)")
  protected override def withNewChildInternal(newChild: Expression): DoubleUsortBits =
    copy(child = newChild)
}

/** st_asshp(wkb) — ESRI Shapefile record-content bytes (the `.shp` record
  * body, shape2ogr.cpp SHPWriteOGRObject semantics: outer rings forced CW,
  * holes CCW, multi-part flattening). */
case class StAsShp(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_asshp"
  protected override def nullSafeEval(wkb: Any): Any =
    GeoKernel.asShp(wkb.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.N}.asShp($c)")
  protected override def withNewChildInternal(newChild: Expression): StAsShp =
    copy(child = newChild)
}

/** st_fromshp(record) — decode one shapefile record body back to WKB; NULL
  * for a NULL shape. Polygon rings re-assemble with the ONLY_CCW
  * organizePolygons contract (shape2ogr.cpp:443). */
case class StGeomFromShp(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_fromshp"
  protected override def nullSafeEval(rec: Any): Any =
    GeoKernel.geomFromShp(rec.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ${K.N}.geomFromShp($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): StGeomFromShp =
    copy(child = newChild)
}

case class StAsGml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "st_asgml"
  protected override def nullSafeEval(wkb: Any): Any =
    UTF8String.fromString(GeoKernel.asGml(wkb.asInstanceOf[Array[Byte]]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"UTF8String.fromString(${K.N}.asGml($c))")
  protected override def withNewChildInternal(newChild: Expression): StAsGml =
    copy(child = newChild)
}

/** st_geomfromkml(xml) / st_geomfromgml(xml) → WKB (null on malformed
  * input). Refs: kmlnode.cpp geometry elements; gml2ogrgeometry.cpp
  * GML2OGRGeometry_XMLNode (GML2 + GML3 pos/posList/exterior). */
case class StGeomFromKml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromkml"
  protected override def nullSafeEval(s: Any): Any =
    GeoKernel.geomFromKml(s.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ${K.N}.geomFromKml($c.toString());
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): StGeomFromKml =
    copy(child = newChild)
}

case class StGeomFromGml(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromgml"
  protected override def nullSafeEval(s: Any): Any =
    GeoKernel.geomFromGml(s.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ${K.N}.geomFromGml($c.toString());
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): StGeomFromGml =
    copy(child = newChild)
}

/** st_geomfromgeojson(json) → WKB (null on malformed input; Feature
  * objects unwrap to their geometry). Ref:
  * ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp OGRGeoJSONReadGeometry. */
case class StGeomFromGeoJson(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromgeojson"
  protected override def nullSafeEval(s: Any): Any =
    GeoKernel.geomFromGeoJson(s.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = ${K.N}.geomFromGeoJson($c.toString());
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  protected override def withNewChildInternal(newChild: Expression): StGeomFromGeoJson =
    copy(child = newChild)
}

/** st_point(x, y) → WKB point. Ref: ST_MakePoint (ogrsqlitesqlfunctions.cpp:1014);
  * the make-point pipeline step (/root/reference/apps/gdalalg_vector_make_point.cpp:32). */
case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_point"
  protected override def nullSafeEval(x: Any, y: Any): Any =
    GeoKernel.point(x.asInstanceOf[Double], y.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"${K.N}.point($x, $y)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StPoint =
    copy(left = l, right = r)
}

// ------------------------------------------------------------- unary info

abstract class GeoUnary extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  protected def method: String
  protected def genCall(c: String): String
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => genCall(c))
}

/** st_isempty(wkb). Ref: ST_IsEmpty (ogrsqlitesqlfunctions.cpp:902). */
case class StIsEmpty(child: Expression) extends GeoUnary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_isempty"
  protected def method = "isEmpty"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.isEmpty(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.isEmpty($c)"
  protected override def withNewChildInternal(n: Expression): StIsEmpty = copy(child = n)
}

/** st_isvalid(wkb) — structural validity. Ref: ST_IsValid (ogrsqlitesqlfunctions.cpp:904). */
case class StIsValid(child: Expression) extends GeoUnary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_isvalid"
  protected def method = "isValid"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.isValid(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.isValid($c)"
  protected override def withNewChildInternal(n: Expression): StIsValid = copy(child = n)
}

/** st_geometrytype(wkb) → 'POINT' | ... Ref: OGR_GEOMETRY special field
  * (/root/reference/ogr/ogrfeature.cpp:1523). */
case class StGeometryType(child: Expression) extends GeoUnary {
  override def dataType: DataType = StringType
  override def prettyName: String = "st_geometrytype"
  protected def method = "geometryType"
  protected override def nullSafeEval(w: Any): Any =
    UTF8String.fromString(GeoKernel.geometryType(w.asInstanceOf[Array[Byte]]))
  protected def genCall(c: String): String =
    s"UTF8String.fromString(${K.N}.geometryType($c))"
  protected override def withNewChildInternal(n: Expression): StGeometryType = copy(child = n)
}

/** st_x / st_y of a point. */
case class StX(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_x"
  protected def method = "stX"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.stX(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.stX($c)"
  protected override def withNewChildInternal(n: Expression): StX = copy(child = n)
}

case class StY(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_y"
  protected def method = "stY"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.stY(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.stY($c)"
  protected override def withNewChildInternal(n: Expression): StY = copy(child = n)
}

/** st_area(wkb). Ref: ST_Area (ogrsqlitesqlfunctions.cpp:959). */
case class StArea(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_area"
  protected def method = "area"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.area(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.area($c)"
  protected override def withNewChildInternal(n: Expression): StArea = copy(child = n)
}

/** st_geodesic_area(wkb) — ellipsoidal (WGS84) polygon area in m², the
  * engine twin of ST_Area(geom, 1) → OGR_G_GeodesicArea
  * (ogrsqlitesqlfunctions.cpp:630, ogrlinestring.cpp:3225). Authalic-sphere
  * algorithm; see graft.geom.Geodesic. */
case class StGeodesicArea(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_geodesic_area"
  protected def method = "geodesicArea"
  protected override def nullSafeEval(w: Any): Any =
    GeoKernel.geodesicArea(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.geodesicArea($c)"
  protected override def withNewChildInternal(n: Expression): StGeodesicArea = copy(child = n)
}

/** st_geodesic_length(wkb) — ellipsoidal (WGS84) length in meters, the
  * engine twin of ST_Length(geom, 1) → OGR_G_GeodesicLength
  * (ogrsqlitesqlfunctions.cpp:675, ogrlinestring.cpp:3244). Fixed-iteration
  * Vincenty; see graft.geom.Geodesic. */
case class StGeodesicLength(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_geodesic_length"
  protected def method = "geodesicLength"
  protected override def nullSafeEval(w: Any): Any =
    GeoKernel.geodesicLength(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.geodesicLength($c)"
  protected override def withNewChildInternal(n: Expression): StGeodesicLength = copy(child = n)
}

/** st_curve_length(wkt) — curve-exact (non-linearized) length of arc
  * geometry, straight from the CIRCULARSTRING control points. Ref:
  * OGRCircularString::get_Length (/root/reference/ogr/ogrcircularstring.cpp:195)
  * via OGRGeometryFactory::GetCurveParameters (ogrgeometryfactory.cpp:5809).
  * Null when the WKT is not a parseable 2-D curve type. */
case class StCurveLength(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "st_curve_length"
  protected override def nullSafeEval(wkt: Any): Any =
    GeoKernel.curveLength(wkt.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("clen")
      s"""
         |java.lang.Double $tmp = ${K.N}.curveLength($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  protected override def withNewChildInternal(n: Expression): StCurveLength = copy(child = n)
}

/** st_curve_area(wkt) — curve-exact area of closed arc geometry
  * (full-circle π·R², convex control-polygon + circular segments,
  * linearize fallback). Ref: OGRCircularString::get_Area
  * (/root/reference/ogr/ogrcircularstring.cpp:874), OGRCompoundCurve::get_Area
  * (ogrcompoundcurve.cpp:864), OGRCurvePolygon::get_Area. */
case class StCurveArea(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "st_curve_area"
  protected override def nullSafeEval(wkt: Any): Any =
    GeoKernel.curveArea(wkt.asInstanceOf[UTF8String].toString)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("carea")
      s"""
         |java.lang.Double $tmp = ${K.N}.curveArea($c.toString());
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  protected override def withNewChildInternal(n: Expression): StCurveArea = copy(child = n)
}

/** st_wrapdateline(wkb, offset) — cut/wrap at the antimeridian, the
  * WRAPDATELINE=YES transform option (OGRGeometryFactory::
  * transformWithOptions, ogrgeometryfactory.cpp:4430-4620; DATELINEOFFSET
  * default 10). Lines split with interpolated ±180 crossing vertices;
  * polygons unwrap (+360) and clip against the two world rectangles. */
case class StWrapDateline(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_wrapdateline"
  protected override def nullSafeEval(wkb: Any, off: Any): Any =
    GeoKernel.wrapDateline(wkb.asInstanceOf[Array[Byte]], off.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, o) => s"${K.N}.wrapDateline($w, $o)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StWrapDateline =
    copy(left = l, right = r)
}

/** st_length(wkb). Ref: ST_Length (ogrsqlitesqlfunctions.cpp:978). */
case class StLength(child: Expression) extends GeoUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_length"
  protected def method = "length"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.length(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.length($c)"
  protected override def withNewChildInternal(n: Expression): StLength = copy(child = n)
}

/** st_envelope(wkb) → array(minx, miny, maxx, maxy). Ref: OGREnvelope +
  * WKB bbox scan (/root/reference/ogr/ogr_wkb.h:30). */
case class StEnvelope(child: Expression) extends GeoUnary {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "st_envelope"
  protected def method = "envelope"
  protected override def nullSafeEval(w: Any): Any =
    new GenericArrayData(GeoKernel.envelope(w.asInstanceOf[Array[Byte]]))
  protected def genCall(c: String): String =
    s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${K.N}.envelope($c))"
  protected override def withNewChildInternal(n: Expression): StEnvelope = copy(child = n)
}

/** st_centroid(wkb) → WKB point. Ref: OGRGeometry::Centroid (ogrgeometry.cpp:4825). */
case class StCentroid(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_centroid"
  protected def method = "centroid"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.centroid(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.centroid($c)"
  protected override def withNewChildInternal(n: Expression): StCentroid = copy(child = n)
}

/** st_multi(wkb) — promote to the multi variant (set-geom-type
  * promote-to-multi; surfaces cast to facet MultiPolygon). Ref:
  * OGRGeometryFactory::forceTo (ogrgeometryfactory.cpp:3536). */
case class StMulti(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_multi"
  protected def method = "forceMulti"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.forceMulti(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.forceMulti($c)"
  protected override def withNewChildInternal(n: Expression): StMulti = copy(child = n)
}

/** st_npoints(wkb) — total vertex count. Ref: OGR_GEOM_POINT_COUNT /
  * SpatiaLite ST_NPoints (ogrsqlitesqlfunctions.cpp). */
case class StNPoints(child: Expression) extends GeoUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_npoints"
  protected def method = "npoints"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.npoints(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.npoints($c)"
  protected override def withNewChildInternal(n: Expression): StNPoints = copy(child = n)
}

/** st_convexhull(wkb). Ref: OGRGeometry::ConvexHull (ogrgeometry.cpp:4449). */
case class StConvexHull(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_convexhull"
  protected def method = "convexHull"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.convexHull(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.convexHull($c)"
  protected override def withNewChildInternal(n: Expression): StConvexHull = copy(child = n)
}

/** st_swapxy(wkb). Ref: swap-xy pipeline step
  * (/root/reference/apps/gdalalg_vector_swap_xy.cpp). */
case class StSwapXY(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_swapxy"
  protected def method = "swapXY"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.swapXY(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.swapXY($c)"
  protected override def withNewChildInternal(n: Expression): StSwapXY = copy(child = n)
}

/** st_transform_3857(wkb): WGS84 → WebMercator. Ref: reproject step via
  * OGRWarpedLayer (/root/reference/ogr/ogrsf_frmts/generic/ogrwarpedlayer.cpp:172),
  * formulas gdal2tiles.py:426-429. */
case class StTransform3857(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_transform_3857"
  protected def method = "to3857"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.to3857(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.to3857($c)"
  protected override def withNewChildInternal(n: Expression): StTransform3857 = copy(child = n)
}

/** st_transform_4326(wkb): WebMercator → WGS84. */
case class StTransform4326(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_transform_4326"
  protected def method = "to4326"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.to4326(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.to4326($c)"
  protected override def withNewChildInternal(n: Expression): StTransform4326 = copy(child = n)
}

/** st_dump(wkb) → array<wkb> of parts (use with explode()). Ref:
  * explode-collections (/root/reference/apps/gdalalg_vector_explode.h:29). */
case class StDump(child: Expression) extends GeoUnary {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "st_dump"
  protected def method = "dump"
  protected override def nullSafeEval(w: Any): Any =
    new GenericArrayData(GeoKernel.dump(w.asInstanceOf[Array[Byte]]).asInstanceOf[Array[Any]])
  protected def genCall(c: String): String =
    s"new org.apache.spark.sql.catalyst.util.GenericArrayData((Object[]) ${K.N}.dump($c))"
  protected override def withNewChildInternal(n: Expression): StDump = copy(child = n)
}

// ------------------------------------------------------------- binary ops

/** st_intersects(a, b) — envelope reject then exact (two-phase
  * FilterGeometry, ogrlayer.cpp:4004-4076). */
case class StIntersects(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_intersects"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.intersects($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
    copy(left = l, right = r)
}

/** st_contains(a, b). Ref: ST_Contains (ogrsqlitesqlfunctions.cpp:882). */
case class StContains(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.contains($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StContains =
    copy(left = l, right = r)
}

/** st_env_intersects(a, b) — envelope-only pretest. */
case class StEnvIntersects(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_env_intersects"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.envIntersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.envIntersects($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StEnvIntersects =
    copy(left = l, right = r)
}

/** st_intersection(a, b) → overlay geometry. Ref: OGRGeometry::Intersection
  * (ogrgeometry.cpp:5318); computed by the Martinez–Rueda sweep (BoolOps). */
case class StIntersection(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_intersection"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.geomIntersection(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.geomIntersection($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StIntersection =
    copy(left = l, right = r)
}

/** st_union(a, b). Ref: OGRGeometry::Union (ogrgeometry.cpp:5562). */
case class StUnion(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_union"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.geomUnion(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.geomUnion($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StUnion =
    copy(left = l, right = r)
}

/** st_difference(a, b). Ref: OGRGeometry::Difference (ogrgeometry.cpp:5698). */
case class StDifference(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_difference"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.geomDifference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.geomDifference($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StDifference =
    copy(left = l, right = r)
}

/** st_symdifference(a, b). Ref: OGRGeometry::SymDifference (ogrgeometry.cpp:5807). */
case class StSymDifference(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_symdifference"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.geomSymDifference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.geomSymDifference($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StSymDifference =
    copy(left = l, right = r)
}

/** Binary DE-9IM predicate base (ref ogrgeometry.cpp:6009-6409). */
abstract class GeoPredicate extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  protected def kernel: String
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.getClass.getMethod(kernel, classOf[Array[Byte]], classOf[Array[Byte]])
      .invoke(GeoKernel, a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.$kernel($a, $b)")
}

case class StWithin(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_within"
  protected def kernel = "within"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StWithin =
    copy(left = l, right = r)
}

case class StTouches(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_touches"
  protected def kernel = "touches"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.touches(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StTouches =
    copy(left = l, right = r)
}

case class StCrosses(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_crosses"
  protected def kernel = "crosses"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.crosses(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StCrosses =
    copy(left = l, right = r)
}

case class StOverlaps(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_overlaps"
  protected def kernel = "overlaps"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.overlaps(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StOverlaps =
    copy(left = l, right = r)
}

case class StEquals(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_equals"
  protected def kernel = "equalsGeom"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.equalsGeom(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StEquals =
    copy(left = l, right = r)
}

case class StDisjoint(left: Expression, right: Expression) extends GeoPredicate {
  override def prettyName: String = "st_disjoint"
  protected def kernel = "disjoint"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.disjoint(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StDisjoint =
    copy(left = l, right = r)
}

/** st_buffer(wkb, dist) — constructive Minkowski buffer, round joins,
  * quadSegs=8. Ref: OGRGeometry::Buffer (ogrgeometry.cpp:4949). */
case class StBuffer(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_buffer"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.buffer(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.buffer($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StBuffer =
    copy(left = l, right = r)
}

/** st_concavehull(wkb, ratio) — Delaunay + border erosion by edge-length
  * ratio. Ref: OGRGeometry::ConcaveHull (ogrgeometry.cpp → GEOS). */
case class StConcaveHull(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_concavehull"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.concaveHull(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.concaveHull($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StConcaveHull =
    copy(left = l, right = r)
}

/** st_transform_utm(wkb, zone) / st_transform_utm_inv — WGS84 ↔ UTM
  * (Snyder series; ref ogrct.cpp delegates to PROJ tmerc). */
case class StTransformUtm(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_transform_utm"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.toUtm(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.toUtm($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StTransformUtm =
    copy(left = l, right = r)
}

case class StTransformUtmInv(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_transform_utm_inv"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.fromUtm(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.fromUtm($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StTransformUtmInv =
    copy(left = l, right = r)
}

/** st_makevalid(wkb) — even-odd re-noding of self-intersecting polygons.
  * Ref: OGRGeometry::MakeValid (ogrgeometry.cpp:4183). */
case class StMakeValid(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_makevalid"
  protected def method = "makeValid"
  protected override def nullSafeEval(w: Any): Any =
    GeoKernel.makeValid(w.asInstanceOf[Array[Byte]])
  protected def genCall(c: String): String = s"${K.N}.makeValid($c)"
  protected override def withNewChildInternal(n: Expression): StMakeValid = copy(child = n)
}

/** st_distance(a, b). Ref: OGRGeometry::Distance (ogrgeometry.cpp:3818). */
case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_distance"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${K.N}.distance($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StDistance =
    copy(left = l, right = r)
}

/** st_simplify(wkb, tol) — Douglas-Peucker (ogrgeometry.cpp:6526 semantics). */
case class StSimplify(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_simplify"
  protected override def nullSafeEval(w: Any, t: Any): Any =
    GeoKernel.simplify(w.asInstanceOf[Array[Byte]], t.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, t) => s"${K.N}.simplify($w, $t)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StSimplify =
    copy(left = l, right = r)
}

/** st_segmentize(wkb, maxLen). Ref: segmentize step
  * (/root/reference/apps/gdalalg_vector_segmentize.cpp). */
case class StSegmentize(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_segmentize"
  protected override def nullSafeEval(w: Any, t: Any): Any =
    GeoKernel.segmentize(w.asInstanceOf[Array[Byte]], t.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, t) => s"${K.N}.segmentize($w, $t)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StSegmentize =
    copy(left = l, right = r)
}

/** st_cover(wkb, z) → sorted array<long> of cell ids covering the geometry's
  * envelope (the join key fan-out; SURVEY.md §2.E). */
case class StCover(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "st_cover"
  protected override def nullSafeEval(w: Any, z: Any): Any =
    new GenericArrayData(GeoKernel.cover(w.asInstanceOf[Array[Byte]], z.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, z) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${K.N}.cover($w, $z))")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StCover =
    copy(left = l, right = r)
}

/** st_cover_count(wkb, z) → number of cells st_cover(wkb, z) would produce
  * (envelope tile-range math only; never throws). CellJoinRule's oversize
  * guard: geometries above the cover cap fall back to the naive join branch
  * instead of crashing on CellId.cover's maxCells limit. */
case class StCoverCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "st_cover_count"
  protected override def nullSafeEval(w: Any, z: Any): Any =
    GeoKernel.coverCount(w.asInstanceOf[Array[Byte]], z.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, z) => s"${K.N}.coverCount($w, $z)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StCoverCount =
    copy(left = l, right = r)
}

/** The boxed polygon that the broadcast point-in-polygon joins carry:
  * struct<minx, miny, maxx, maxy, wkb>, the geometry decoded once
  * (GeoKernel.box), null for a null WKB. [[PointPredicate]]s accept it in
  * place of the WKB. Built by SpatialJoin and CellJoinRule; not registered
  * as a SQL function. */
case class StBox(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StBox.Type
  override def prettyName: String = "st_box"
  protected override def nullSafeEval(w: Any): Any = GeoKernel.box(w.asInstanceOf[Array[Byte]])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.N}.box($c)")
  protected override def withNewChildInternal(newChild: Expression): StBox = copy(child = newChild)
}

object StBox {
  val Type: StructType = StructType(
    Seq("minx", "miny", "maxx", "maxy").map(StructField(_, DoubleType, nullable = false)) :+
      StructField("wkb", BinaryType, nullable = false))

  /** The WKB field of a boxed geometry. */
  def wkb(box: Expression): Expression = GetStructField(box, 4, Some("wkb"))
}

/** cell_ring(cell, r) → array<long> of cells at Chebyshev distance r
  * (kNN ring expansion, SURVEY.md §2.H). */
case class CellRing(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_ring"
  protected override def nullSafeEval(c: Any, r: Any): Any =
    new GenericArrayData(GeoKernel.cellRing(c.asInstanceOf[Long], r.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${K.N}.cellRing($c, $r))")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): CellRing =
    copy(left = l, right = r)
}

/** cell_disk(cell, r) → array<long> of cells within Chebyshev distance r. */
case class CellDisk(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_disk"
  protected override def nullSafeEval(c: Any, r: Any): Any =
    new GenericArrayData(GeoKernel.cellDisk(c.asInstanceOf[Long], r.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${K.N}.cellDisk($c, $r))")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): CellDisk =
    copy(left = l, right = r)
}

/** cell_parent(cell, z) — quadtree ancestor at zoom z. */
case class CellParent(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_parent"
  protected override def nullSafeEval(c: Any, z: Any): Any =
    GeoKernel.cellParent(c.asInstanceOf[Long], z.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, z) => s"${K.N}.cellParent($c, $z)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): CellParent =
    copy(left = l, right = r)
}

/** tile_x(lon, z) — XYZ tile column via the gdal2tiles pipeline
  * (gdal2tiles.py:449-466; FIXTURES.md §4). */
case class TileXExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "tile_x"
  protected override def nullSafeEval(lon: Any, z: Any): Any =
    GeoKernel.tileX(lon.asInstanceOf[Double], z.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, z) => s"${K.N}.tileX($lon, $z)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): TileXExpr =
    copy(left = l, right = r)
}

/** tile_y(lat, z) — XYZ tile row (TMS flip per GetFileY,
  * gdalalg_raster_tile.cpp:509-513). */
case class TileYExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "tile_y"
  protected override def nullSafeEval(lat: Any, z: Any): Any =
    GeoKernel.tileY(lat.asInstanceOf[Double], z.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, z) => s"${K.N}.tileY($lat, $z)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): TileYExpr =
    copy(left = l, right = r)
}

// ------------------------------------------------------------ ternary ops

/** st_cell(lon, lat, z) → packed cell id (the point-side join key). */
case class StCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "st_cell"
  protected override def nullSafeEval(lon: Any, lat: Any, z: Any): Any =
    GeoKernel.cell(lon.asInstanceOf[Double], lat.asInstanceOf[Double], z.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, z) => s"${K.N}.cell($lon, $lat, $z)")
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): StCell =
    copy(first = a, second = b, third = c)
}

/** Point predicate over a geometry given as WKB or as the boxed struct of
  * [[StBox]]. On the struct the kernel tests the closed envelope in place
  * (an UnsafeRow's getStruct does not copy) and reads the WKB only for
  * points inside it, so a broadcast join's refine no longer copies every
  * candidate's polygon bytes. Both inputs give the same result. */
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
    defineCodeGen(ctx, ev, (w, x, y) => s"${K.N}.$f($w, $x, $y)")
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

/** tile_quadkey(z, x, y) (gdal2tiles.py:518-530). */
case class TileQuadkey(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = StringType
  override def prettyName: String = "tile_quadkey"
  protected override def nullSafeEval(z: Any, x: Any, y: Any): Any =
    UTF8String.fromString(GeoKernel.quadkey(z.asInstanceOf[Int], x.asInstanceOf[Int], y.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (z, x, y) => s"UTF8String.fromString(${K.N}.quadkey($z, $x, $y))")
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): TileQuadkey =
    copy(first = a, second = b, third = c)
}

// -------------------------------------------------------------- wider ops

/** st_greatcircle(latA, lonA, latB, lonB[, radius]) — spherical law of
  * cosines, exact OGR_GreatCircle_Distance semantics (ogr_geo_utils.cpp:33-46).
  * Default radius = WGS84 semi-major 6378137 m. */
case class StGreatCircle(first: Expression, second: Expression, third: Expression,
                         fourth: Expression, fifth: Expression)
    extends QuinaryExpression with ImplicitCastInputTypes {
  def this(a: Expression, b: Expression, c: Expression, d: Expression) =
    this(a, b, c, d, Literal(6378137.0))
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_greatcircle"
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)
  protected override def nullSafeEval(a: Any, b: Any, c: Any, d: Any, r: Any): Any =
    GeoKernel.greatCircle(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], r.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d, r) => s"${K.N}.greatCircle($a, $b, $c, $d, $r)")
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StGreatCircle =
    copy(first = ns(0), second = ns(1), third = ns(2), fourth = ns(3), fifth = ns(4))
}

/** st_env_intersects_box(wkb, minx, miny, maxx, maxy) — bbox prefilter
  * (the `filter --bbox` step, gdalalg_vector_filter.cpp:36-43). */
case class StEnvIntersectsBox(first: Expression, second: Expression, third: Expression,
                              fourth: Expression, fifth: Expression)
    extends QuinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_env_intersects_box"
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)
  protected override def nullSafeEval(w: Any, a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernel.envIntersectsBox(w.asInstanceOf[Array[Byte]], a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, a, b, c, d) => s"${K.N}.envIntersectsBox($w, $a, $b, $c, $d)")
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StEnvIntersectsBox =
    copy(first = ns(0), second = ns(1), third = ns(2), fourth = ns(3), fifth = ns(4))
}

/** st_clip_bbox(wkb, minx, miny, maxx, maxy) — Sutherland-Hodgman rectangle
  * clip (clip step, gdalalg_vector_clip.cpp; tile clipping core). */
case class StClipBBox(first: Expression, second: Expression, third: Expression,
                      fourth: Expression, fifth: Expression)
    extends QuinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_clip_bbox"
  override def children: Seq[Expression] = Seq(first, second, third, fourth, fifth)
  protected override def nullSafeEval(w: Any, a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernel.clipBox(w.asInstanceOf[Array[Byte]], a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, a, b, c, d) => s"${K.N}.clipBox($w, $a, $b, $c, $d)")
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StClipBBox =
    copy(first = ns(0), second = ns(1), third = ns(2), fourth = ns(3), fifth = ns(4))
}

/** st_transform_conic(wkb, lat1, lat2, lat0, lon0) family — native
  * Lambert Conformal Conic / Albers Equal-Area (Snyder 2SP ellipsoidal,
  * geom/Conic.scala; /root/reference/ogr/ogrct.cpp delegates the same
  * math to PROJ lcc/aea). `which`: 0=LCC fwd, 1=LCC inv, 2=Albers fwd,
  * 3=Albers inv. Reprojection of bulk geometry is batch-shaped, not
  * row-hot → CodegenFallback like HilbertCode. */
case class StTransformConic(children: Seq[Expression], which: Int)
    extends Expression with ImplicitCastInputTypes with CodegenFallback {
  require(children.length == 5, "st_transform_*(wkb, lat1, lat2, lat0, lon0)")
  override def inputTypes: Seq[AbstractDataType] =
    BinaryType +: Seq.fill(4)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = which match {
    case 0 => "st_transform_lcc"
    case 1 => "st_transform_lcc_inv"
    case 2 => "st_transform_albers"
    case _ => "st_transform_albers_inv"
  }
  override def eval(input: InternalRow): Any = {
    val w = children(0).eval(input)
    if (w == null) return null
    val ps = new Array[Double](4)
    var i = 0
    while (i < 4) {
      val v = children(i + 1).eval(input)
      if (v == null) return null
      ps(i) = v.asInstanceOf[Double]
      i += 1
    }
    val wkb = w.asInstanceOf[Array[Byte]]
    which match {
      case 0 => GeoKernel.toLcc(wkb, ps(0), ps(1), ps(2), ps(3))
      case 1 => GeoKernel.fromLcc(wkb, ps(0), ps(1), ps(2), ps(3))
      case 2 => GeoKernel.toAlbers(wkb, ps(0), ps(1), ps(2), ps(3))
      case _ => GeoKernel.fromAlbers(wkb, ps(0), ps(1), ps(2), ps(3))
    }
  }
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StTransformConic =
    copy(children = ns)
}

/** st_towgs84(wkb, a, inv_f, tx, ty, tz, rx, ry, rz, ds_ppm) /
  * st_fromwgs84(...) — 7-parameter Helmert datum shift in TOWGS84
  * parameter order (EPSG 9606 position-vector; geom/Datum.scala). The
  * reference builds the same cart+helmert pipeline from the SRS TOWGS84
  * node (ogr/ogrct.cpp:1788-2122). Batch reprojection → CodegenFallback. */
/** st_half_decode(binary) → array<double>: little-endian IEEE 754 half
  * payload (GDAL GDT_Float16, port/cpl_float.h) to doubles; exact. */
case class StHalfDecode(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "st_half_decode"
  protected override def nullSafeEval(b: Any): Any =
    new GenericArrayData(graft.engine.Half.decode(b.asInstanceOf[Array[Byte]]))
  protected override def withNewChildInternal(n: Expression): StHalfDecode = copy(child = n)
}

/** st_half_encode(array<double>) → binary: doubles to packed halves,
  * round-to-nearest-even (CPLFloatToHalf semantics). */
case class StHalfEncode(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_half_encode"
  protected override def nullSafeEval(a: Any): Any =
    graft.engine.Half.encode(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())
  protected override def withNewChildInternal(n: Expression): StHalfEncode = copy(child = n)
}

/** OGR feature-style accessors (ogr/ogrfeaturestyle.cpp; geom/OgrStyle):
  * st_style_part_count(s), st_style_tool(s, i), st_style_param(s, i, key)
  * (raw, unit-stripped, unquoted), st_style_param_dbl(s, i, key, unit)
  * (GetParamDbl with SetUnit semantics), st_style_rgba(color)
  * (#RRGGBB[AA] → "r,g,b,a"). `which`: 0..4 in that order. */
case class StStyle(children: Seq[Expression], which: Int)
    extends Expression with CodegenFallback {
  private val arity = which match {
    case 0 => 1; case 1 => 2; case 2 => 3; case 3 => 4; case _ => 1
  }
  require(children.length == arity, s"st_style arity $arity")
  override def dataType: DataType = which match {
    case 0 => IntegerType
    case 3 => DoubleType
    case _ => StringType
  }
  override def nullable: Boolean = true
  override def prettyName: String = which match {
    case 0 => "st_style_part_count"
    case 1 => "st_style_tool"
    case 2 => "st_style_param"
    case 3 => "st_style_param_dbl"
    case _ => "st_style_rgba"
  }
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) return null
    def str(i: Int): String = vs(i).asInstanceOf[UTF8String].toString
    def int(i: Int): Int = vs(i) match {
      case n: Integer => n.intValue
      case n: java.lang.Long => n.intValue
      case other => other.toString.toInt
    }
    import graft.geom.OgrStyle
    which match {
      case 0 => OgrStyle.partCount(str(0))
      case 1 => Option(OgrStyle.toolName(str(0), int(1))).map(UTF8String.fromString).orNull
      case 2 => Option(OgrStyle.param(str(0), int(1), str(2))).map(UTF8String.fromString).orNull
      case 3 =>
        val d = OgrStyle.paramDbl(str(0), int(1), str(2), str(3))
        if (d == null) null else d.doubleValue
      case _ => Option(OgrStyle.rgba(str(0))).map(UTF8String.fromString).orNull
    }
  }
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StStyle =
    copy(children = ns)
}

case class StDatumShift(children: Seq[Expression], inverse: Boolean)
    extends Expression with ImplicitCastInputTypes with CodegenFallback {
  require(children.length == 10,
    "st_towgs84(wkb, a, inv_f, tx, ty, tz, rx, ry, rz, ds_ppm)")
  override def inputTypes: Seq[AbstractDataType] =
    BinaryType +: Seq.fill(9)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = if (inverse) "st_fromwgs84" else "st_towgs84"
  override def eval(input: InternalRow): Any = {
    val w = children(0).eval(input)
    if (w == null) return null
    val ps = new Array[Double](9)
    var i = 0
    while (i < 9) {
      val v = children(i + 1).eval(input)
      if (v == null) return null
      ps(i) = v.asInstanceOf[Double]
      i += 1
    }
    val wkb = w.asInstanceOf[Array[Byte]]
    if (inverse) GeoKernel.fromWgs84Datum(wkb, ps)
    else GeoKernel.toWgs84Datum(wkb, ps)
  }
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StDatumShift =
    copy(children = ns)
}

/** st_transform_ps(wkb, lat_ts, lon0) / st_transform_sinu(wkb, lon0)
  * family — native Polar Stereographic variant B (Snyder §21; PROJ stere,
  * EPSG:3413/3031), ellipsoidal Sinusoidal (Snyder §30; PROJ sinu, the
  * MODIS grid), spherical Azimuthal Equidistant (Snyder §25; PROJ aeqd
  * +R=a), Equidistant Cylindrical (Snyder §12; PROJ eqc) and Mollweide
  * (Snyder §31; PROJ moll). `which`: 0=PS fwd, 1=PS inv, 2=sinu fwd,
  * 3=sinu inv, 4=aeqd fwd, 5=aeqd inv, 6=eqc fwd, 7=eqc inv, 8=moll fwd,
  * 9=moll inv, plus the perspective azimuthals (Snyder §20-§22; PROJ
  * ortho/gnom/stere spherical oblique forms): 10=ortho fwd, 11=ortho inv,
  * 12=gnom fwd, 13=gnom inv, 14=stere fwd, 15=stere inv — all
  * (wkb, lat0, lon0) — plus 16=laea fwd, 17=laea inv (Snyder §24; PROJ
  * laea, the EPSG:3035 frame) and 18=mill fwd, 19=mill inv (Snyder §18;
  * PROJ mill, (wkb, lon0)). Batch reprojection, not row-hot →
  * CodegenFallback. */
case class StTransformProj(children: Seq[Expression], which: Int)
    extends Expression with ImplicitCastInputTypes with CodegenFallback {
  private val nParams =
    if (which < 2 || which == 4 || which == 5 || (which >= 10 && which <= 17)) 2 else 1
  require(children.length == nParams + 1,
    "st_transform_ps(wkb, lat_ts, lon0) / st_transform_sinu(wkb, lon0)")
  override def inputTypes: Seq[AbstractDataType] =
    BinaryType +: Seq.fill(nParams)(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = which match {
    case 0 => "st_transform_ps"
    case 1 => "st_transform_ps_inv"
    case 2 => "st_transform_sinu"
    case 3 => "st_transform_sinu_inv"
    case 4 => "st_transform_aeqd"
    case 5 => "st_transform_aeqd_inv"
    case 6 => "st_transform_eqc"
    case 7 => "st_transform_eqc_inv"
    case 8 => "st_transform_moll"
    case 9 => "st_transform_moll_inv"
    case 10 => "st_transform_ortho"
    case 11 => "st_transform_ortho_inv"
    case 12 => "st_transform_gnom"
    case 13 => "st_transform_gnom_inv"
    case 14 => "st_transform_stere"
    case 15 => "st_transform_stere_inv"
    case 16 => "st_transform_laea"
    case 17 => "st_transform_laea_inv"
    case 18 => "st_transform_mill"
    case _ => "st_transform_mill_inv"
  }
  override def eval(input: InternalRow): Any = {
    val w = children(0).eval(input)
    if (w == null) return null
    val ps = new Array[Double](nParams)
    var i = 0
    while (i < nParams) {
      val v = children(i + 1).eval(input)
      if (v == null) return null
      ps(i) = v.asInstanceOf[Double]
      i += 1
    }
    val wkb = w.asInstanceOf[Array[Byte]]
    which match {
      case 0 => GeoKernel.toPs(wkb, ps(0), ps(1))
      case 1 => GeoKernel.fromPs(wkb, ps(0), ps(1))
      case 2 => GeoKernel.toSinu(wkb, ps(0))
      case 3 => GeoKernel.fromSinu(wkb, ps(0))
      case 4 => GeoKernel.toAeqd(wkb, ps(0), ps(1))
      case 5 => GeoKernel.fromAeqd(wkb, ps(0), ps(1))
      case 6 => GeoKernel.toEqc(wkb, ps(0))
      case 7 => GeoKernel.fromEqc(wkb, ps(0))
      case 8 => GeoKernel.toMoll(wkb, ps(0))
      case 9 => GeoKernel.fromMoll(wkb, ps(0))
      case 10 => GeoKernel.toOrtho(wkb, ps(0), ps(1))
      case 11 => GeoKernel.fromOrtho(wkb, ps(0), ps(1))
      case 12 => GeoKernel.toGnom(wkb, ps(0), ps(1))
      case 13 => GeoKernel.fromGnom(wkb, ps(0), ps(1))
      case 14 => GeoKernel.toStere(wkb, ps(0), ps(1))
      case 15 => GeoKernel.fromStere(wkb, ps(0), ps(1))
      case 16 => GeoKernel.toLaea(wkb, ps(0), ps(1))
      case 17 => GeoKernel.fromLaea(wkb, ps(0), ps(1))
      case 18 => GeoKernel.toMill(wkb, ps(0))
      case _ => GeoKernel.fromMill(wkb, ps(0))
    }
  }
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): StTransformProj =
    copy(children = ns)
}

/** st_isvalid_reason / st_invalid_x / st_invalid_y — the check-geometry
  * detail surface (apps/gdalalg_vector_check_geometry.cpp `error` +
  * `error_location` fields; geom/CheckGeometry.scala kernel). NULL for
  * valid input, so nullable regardless of the child. Diagnostic path,
  * not row-hot → CodegenFallback. `which`: 0=reason, 1=x, 2=y. */
case class StValidityDetail(child: Expression, which: Int)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = if (which == 0) StringType else DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = which match {
    case 0 => "st_isvalid_reason"
    case 1 => "st_invalid_x"
    case _ => "st_invalid_y"
  }
  protected override def nullSafeEval(w: Any): Any = {
    val d = GeoKernel.validityDetail(w.asInstanceOf[Array[Byte]])
    if (d == null) null
    else which match {
      case 0 => UTF8String.fromString(d._1)
      case 1 => d._2
      case _ => d._3
    }
  }
  protected override def withNewChildInternal(n: Expression): StValidityDetail = copy(child = n)
}

/** hilbert_code(x, y, minx, miny, maxx, maxy) — spatial sort key
  * (/root/reference/alg/hilbert.cpp:19-92; vector sort step
  * gdalalg_vector_sort.cpp:351-375). Rare in hot paths → CodegenFallback. */
case class HilbertCode(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes with CodegenFallback {
  require(children.length == 6, "hilbert_code(x, y, minx, miny, maxx, maxy)")
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(6)(DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "hilbert_code"
  override def eval(input: InternalRow): Any = {
    val vs = new Array[Double](6)
    var i = 0
    while (i < 6) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    GeoKernel.hilbert(vs(0), vs(1), vs(2), vs(3), vs(4), vs(5))
  }
  protected override def withNewChildrenInternal(ns: IndexedSeq[Expression]): HilbertCode =
    copy(children = ns)
}

/** text_trigram_codes(s) → array<int> of character-trigram codes — the
  * shared shingle base of the dedup family (single pass, codegen). */
case class TextTrigramCodes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_trigram_codes"
  protected override def nullSafeEval(s: Any): Any =
    new GenericArrayData(graft.functions.TextKernel.trigramCodes(s.asInstanceOf[UTF8String]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.TextKernel.trigramCodes($s))")
  protected override def withNewChildInternal(n: Expression): TextTrigramCodes = copy(child = n)
}

/** text_minhash(s) → array<long> of the 8 MinHash values, one pass
  * (SURVEY training-data ops; oracle-pinned by d04/d05). */
case class TextMinHash(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_minhash"
  protected override def nullSafeEval(s: Any): Any =
    new GenericArrayData(graft.functions.TextKernel.minhashSig(s.asInstanceOf[UTF8String]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.TextKernel.minhashSig($s))")
  protected override def withNewChildInternal(n: Expression): TextMinHash = copy(child = n)
}

/** text_winnow(s, k, w) → array<long> of winnowing fingerprints packed as
  * pos·2^32 + hash — rightmost-minimal k-gram hash per w-gram window
  * (Schleimer–Wilkerson–Aiken SIGMOD 2003; see TextKernel.winnow). */
case class TextWinnow(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_winnow"
  protected override def nullSafeEval(s: Any, k: Any, w: Any): Any =
    new GenericArrayData(graft.functions.TextKernel.winnow(
      s.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k, w) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.TextKernel.winnow($s, $k, $w))")
  protected override def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): TextWinnow =
    copy(first = a, second = b, third = c)
}

/** text_rep_stats(s) → array<long>[8] of Gopher-style repetition quality
  * stats over the single-space word split: [n_words, word_chars,
  * top2_cov, top3_cov, top4_cov, dup5_cov, dup6_cov, dup7_cov] (see
  * TextKernel.repStats; Rae et al. 2021 §A1.1 repetition filters). */
case class TextRepStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_rep_stats"
  protected override def nullSafeEval(s: Any): Any =
    new GenericArrayData(graft.functions.TextKernel.repStats(s.asInstanceOf[UTF8String]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.TextKernel.repStats($s))")
  protected override def withNewChildInternal(n: Expression): TextRepStats = copy(child = n)
}

/** text_char_segs(s) → array<long>[7] of character-class segmentation
  * stats (the BPE-ish pre-tokenizer shape; see TextKernel.charClassSegs):
  * [n_segs, n_letter, n_digit, n_other, n_space, max_run, n_long16]. */
case class TextCharSegs(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_char_segs"
  protected override def nullSafeEval(s: Any): Any =
    new GenericArrayData(graft.functions.TextKernel.charClassSegs(s.asInstanceOf[UTF8String]))
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.TextKernel.charClassSegs($s))")
  protected override def withNewChildInternal(n: Expression): TextCharSegs = copy(child = n)
}

/** text_simhash16(s) → 16-bit SimHash fingerprint as long, one pass. */
case class TextSimHash16(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "text_simhash16"
  protected override def nullSafeEval(s: Any): Any =
    graft.functions.TextKernel.simhash16(s.asInstanceOf[UTF8String])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernel.simhash16($s)")
  protected override def withNewChildInternal(n: Expression): TextSimHash16 = copy(child = n)
}

/** vec_dot(a, b) → double: sequential-fold dot product (ANN hot path). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VecKernel.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernel.dot($a, $b)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
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
    graft.functions.VecKernel.nearestCid(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], cids, cents, ccs)
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
    graft.functions.VecKernel.probeCids(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cids, cents, ccs, nprobe)
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

/** vec_norm(a) → double: sequential-fold L2 norm. */
case class VecNorm(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"
  protected override def nullSafeEval(a: Any): Any =
    graft.functions.VecKernel.norm(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernel.norm($a)")
  protected override def withNewChildInternal(n: Expression): VecNorm = copy(child = n)
}

// ------------------------------------------------------------- compression

/** ogr_deflate(value[, level]) → zlib blob. Strings deflate their UTF-8
  * bytes. Ref: OGR2SQLITE_ogr_deflate
  * (/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:96-130). */
case class OgrDeflate(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "ogr_deflate"
  protected override def nullSafeEval(data: Any, level: Any): Any =
    graft.functions.ZlibKernel.deflate(data.asInstanceOf[Array[Byte]],
      level.asInstanceOf[Int])
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (d, l) => s"graft.functions.ZlibKernel.deflate($d, $l)")
  protected override def withNewChildrenInternal(l: Expression, r: Expression): OgrDeflate =
    copy(left = l, right = r)
}

/** ogr_inflate(blob) → decompressed blob, null on a corrupt stream (the
  * reference returns SQL NULL; ogrsqlitesqlfunctions.cpp:132-160). */
case class OgrInflate(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "ogr_inflate"
  protected override def nullSafeEval(data: Any): Any =
    try graft.functions.ZlibKernel.inflate(data.asInstanceOf[Array[Byte]])
    catch { case _: Exception => null }
  protected override def withNewChildInternal(n: Expression): OgrInflate = copy(child = n)
}
