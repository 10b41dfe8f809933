package graft

import java.nio.{ByteBuffer, ByteOrder}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, StBox, StContainsPoint, StIntersectsPoint}
import org.apache.spark.sql.types.{BinaryType, DoubleType, StructField, StructType}
import graft.functions.{gf, GeoKernel}

/** The boxed refine (envelope test on the st_box struct, then the WKB
  * kernel) must give exactly the WKB refine's answer, for both point
  * predicates, on every geometry type the WKB reader takes and every kind of
  * probe point: vertices, edges, hole boundaries, NaN and infinities, and
  * points a denormal away from a line. */
class BoxedRefineSpec extends AnyFunSuite {

  /** Test-side geometry tree, written as raw WKB so curve types, Z/M
    * ordinates and either byte order can be produced. */
  private sealed trait G
  private final case class Pt(x: Double, y: Double) extends G
  /** 2 LineString, 8 CircularString. */
  private final case class Ln(code: Int, cs: Seq[(Double, Double)]) extends G
  /** 3 Polygon, 17 Triangle. */
  private final case class Rg(code: Int, rings: Seq[Seq[(Double, Double)]]) extends G
  /** 4..7 multi types and collection, 9 CompoundCurve, 10 CurvePolygon,
    * 11 MultiCurve, 12 MultiSurface, 15 PolyhedralSurface, 16 TIN. */
  private final case class Co(code: Int, parts: Seq[G]) extends G

  private def wkb(g: G, rnd: Random): Array[Byte] = {
    val buf = ByteBuffer.allocate(1 << 16)
    val dims = rnd.nextInt(4) // XY, Z, M, ZM (ISO type offsets)
    def coord(x: Double, y: Double): Unit = {
      buf.putDouble(x); buf.putDouble(y)
      (0 until Seq(0, 1, 1, 2)(dims)).foreach(_ => buf.putDouble(rnd.nextDouble()))
    }
    def seq(cs: Seq[(Double, Double)]): Unit = { buf.putInt(cs.size); cs.foreach(c => coord(c._1, c._2)) }
    def write(g: G): Unit = {
      val big = rnd.nextBoolean()
      buf.order(ByteOrder.BIG_ENDIAN).put((if (big) 0 else 1).toByte)
      buf.order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      def head(code: Int): Unit = buf.putInt(code + 1000 * dims)
      g match {
        case Pt(x, y) => head(1); coord(x, y)
        case Ln(code, cs) => head(code); seq(cs)
        case Rg(code, rings) => head(code); buf.putInt(rings.size); rings.foreach(seq)
        case Co(code, parts) =>
          head(code); buf.putInt(parts.size)
          val order = buf.order()
          parts.foreach { p => write(p); buf.order(order) }
      }
    }
    write(g)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  private def ring(rnd: Random, cx: Double, cy: Double, r: Double): Seq[(Double, Double)] =
    if (rnd.nextInt(3) == 0) // axis-aligned: its edge midpoints are exactly on it
      Seq((cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r), (cx - r, cy - r))
    else {
      val n = 3 + rnd.nextInt(10)
      val pts = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n
        val k = 0.6 + 0.4 * rnd.nextDouble()
        (cx + k * r * math.cos(a), cy + k * r * math.sin(a))
      }
      pts :+ pts.head
    }

  private def polygon(rnd: Random, cx: Double, cy: Double, r: Double): Rg = {
    val shell = ring(rnd, cx, cy, r)
    val holes = if (rnd.nextBoolean()) Seq(ring(rnd, cx, cy, r / 3)) else Nil
    Rg(3, shell +: holes)
  }

  /** Closed circle as one CircularString through four quarter points. */
  private def circle(cx: Double, cy: Double, r: Double): Ln =
    Ln(8, Seq((cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r), (cx + r, cy)))

  private def geometry(rnd: Random): G = {
    val cx = -50 + 100 * rnd.nextDouble(); val cy = -50 + 100 * rnd.nextDouble()
    val r = 1 + 20 * rnd.nextDouble()
    def near = (cx - r + 2 * r * rnd.nextDouble(), cy - r + 2 * r * rnd.nextDouble())
    def line = Ln(2, Seq.fill(2 + rnd.nextInt(4))(near))
    rnd.nextInt(21) match {
      case 0 | 1 | 2 | 3 => polygon(rnd, cx, cy, r)
      case 4 | 5 => Co(6, Seq.fill(1 + rnd.nextInt(3))(polygon(rnd, cx + 3 * r * rnd.nextDouble(), cy, r)))
      case 6 => Pt(cx, cy)
      case 7 => Co(4, Seq.fill(1 + rnd.nextInt(3))(Pt(near._1, near._2)))
      case 8 => line
      case 9 => Co(5, Seq.fill(1 + rnd.nextInt(3))(line))
      case 10 => Co(7, Seq(polygon(rnd, cx, cy, r), line, Pt(cx, cy)))
      case 11 => Ln(8, Seq(near, near, near))
      case 12 => Co(9, { val a = near; val b = near; val c = near
                         Seq(Ln(2, Seq(a, b)), Ln(8, Seq(b, near, c))) })
      case 13 => Co(10, Seq(circle(cx, cy, r), Ln(2, ring(rnd, cx, cy, r / 3))))
      case 14 => Co(11, Seq(circle(cx, cy, r), line))
      case 15 => Co(12, Seq(polygon(rnd, cx, cy, r), Co(10, Seq(circle(cx + 2 * r, cy, r)))))
      case 16 => Co(16, Seq(Rg(17, Seq(Seq((cx, cy), (cx + r, cy), (cx, cy + r), (cx, cy))))))
      case 17 => Co(15, Seq(polygon(rnd, cx, cy, r), polygon(rnd, cx, cy + r, r)))
      case 18 => // a ring holding a NaN or infinite vertex
        val bad = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)(rnd.nextInt(3))
        val s = ring(rnd, cx, cy, r).toIndexedSeq
        val k = 1 + rnd.nextInt(s.size - 2)
        Rg(3, Seq(s.updated(k, if (rnd.nextBoolean()) (bad, s(k)._2) else (s(k)._1, bad))))
      case 19 => // integer vertices on y = 0: a denormal off one underflows to "on" it
        val a = rnd.nextInt(20) - 10; Ln(2, Seq((a.toDouble, 0.0), ((a + 1 + rnd.nextInt(5)).toDouble, 0.0)))
      case _ => Seq[G](Pt(Double.NaN, Double.NaN), Ln(2, Nil), Rg(3, Nil), Rg(3, Seq(Nil)),
                       Co(6, Nil), Co(7, Nil), Co(7, Seq(Pt(Double.NaN, Double.NaN))))(rnd.nextInt(7))
    }
  }

  private def vertices(g: G): Seq[(Double, Double)] = g match {
    case Pt(x, y) => Seq((x, y))
    case Ln(_, cs) => cs
    case Rg(_, rings) => rings.flatten
    case Co(_, parts) => parts.flatMap(vertices)
  }

  private def edges(g: G): Seq[((Double, Double), (Double, Double))] = g match {
    case Ln(_, cs) => cs.zip(cs.drop(1))
    case Rg(_, rings) => rings.flatMap(r => r.zip(r.drop(1)))
    case Co(_, parts) => parts.flatMap(edges)
    case _ => Nil
  }

  private def probe(rnd: Random, g: G): (Double, Double) = {
    val vs = vertices(g); val es = edges(g)
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    rnd.nextInt(8) match {
      case 0 | 1 if vs.nonEmpty => vs(rnd.nextInt(vs.size)) // vertex, hole vertex included
      case 2 | 3 if es.nonEmpty => // edge (hole edges included) midpoint
        val ((ax, ay), (bx, by)) = es(rnd.nextInt(es.size)); ((ax + bx) / 2, (ay + by) / 2)
      case 4 if vs.nonEmpty => // a denormal off a vertex: on a line by underflow
        val (x, y) = vs(rnd.nextInt(vs.size)); (x, y + java.lang.Double.MIN_VALUE * (1 + rnd.nextInt(4)))
      case 5 => // NaN or an infinity in either ordinate
        val s = special(rnd.nextInt(3))
        if (rnd.nextBoolean()) (s, 0.0) else (0.0, s)
      case _ =>
        val (x, y) = if (vs.nonEmpty) vs(rnd.nextInt(vs.size)) else (0.0, 0.0)
        val (x0, y0) = if (x.isNaN || x.isInfinite || y.isNaN || y.isInfinite) (0.0, 0.0) else (x, y)
        (x0 - 10 + 20 * rnd.nextDouble(), y0 - 10 + 20 * rnd.nextDouble())
    }
  }

  private val toUnsafe = UnsafeProjection.create(StBox.Type)

  test("boxed refine == WKB refine for both predicates (seeded, 1500 geometries x 4 points)") {
    val rnd = new Random(20261017L)
    var hits = 0; var boundaryHits = 0; var outsideBox = 0; var offEnvelope = 0
    for (_ <- 1 to 1500) {
      val g = geometry(rnd)
      val w = wkb(g, rnd)
      val box = GeoKernel.box(w)
      // the struct as the join reads it: an UnsafeRow view, through the expression
      val unsafeBox = toUnsafe(box).copy()
      for (_ <- 1 to 4) {
        val (x, y) = probe(rnd, g)
        val what = s"$g at ($x, $y)"
        val c = GeoKernel.containsPoint(w, x, y)
        val i = GeoKernel.intersectsPoint(w, x, y)
        assert(GeoKernel.boxContainsPoint(box, x, y) === c, what)
        assert(GeoKernel.boxIntersectsPoint(box, x, y) === i, what)
        val (bx, by) = (Literal(unsafeBox, StBox.Type), (Literal(x), Literal(y)))
        assert(StContainsPoint(bx, by._1, by._2).eval() === c, what)
        assert(StIntersectsPoint(bx, by._1, by._2).eval() === i, what)
        if (c) hits += 1
        if (i && !c) boundaryHits += 1
        if (i && !graft.geom.Wkb.read(w).envelope.contains(x, y)) offEnvelope += 1
        if (!(x >= box.getDouble(0) && x <= box.getDouble(2) && y >= box.getDouble(1) && y <= box.getDouble(3)))
          outsideBox += 1
      }
    }
    // the cases must exercise every outcome: hits, boundary-only hits,
    // envelope rejections and line hits off the line's envelope
    assert(hits > 300 && boundaryHits > 300 && outsideBox > 300 && offEnvelope > 0,
      (hits, boundaryHits, outsideBox, offEnvelope))
  }

  test("line work gets an unbounded box: a point a denormal off a line intersects it") {
    val line = graft.geom.Wkb.write(graft.geom.Wkt.parse("LINESTRING (0 0, 1 0)"))
    val y = java.lang.Double.MIN_VALUE
    assert(GeoKernel.intersectsPoint(line, 0.5, y))
    assert(GeoKernel.boxIntersectsPoint(GeoKernel.box(line), 0.5, y))
    // empty geometries reject everything, NaN included
    for (e <- Seq("POLYGON EMPTY", "POINT EMPTY", "GEOMETRYCOLLECTION EMPTY")) {
      val b = GeoKernel.box(graft.geom.Wkb.write(graft.geom.Wkt.parse(e)))
      for ((x, y) <- Seq((0.0, 0.0), (Double.NaN, 0.0), (Double.PositiveInfinity, Double.NegativeInfinity)))
        assert(!GeoKernel.boxIntersectsPoint(b, x, y), s"$e at ($x, $y)")
    }
  }

  test("codegen and interpreted refine agree on the struct read back from a shuffle, nulls included") {
    val spark = SparkTestSession.spark
    val rnd = new Random(7L)
    val rows = (0 until 400).map { k =>
      val g = geometry(rnd); val (x, y) = probe(rnd, g)
      org.apache.spark.sql.Row(if (k % 25 == 0) null else wkb(g, rnd), x, y)
    }
    val schema = StructType(Seq(StructField("wkb", BinaryType), StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val box = ColumnBridge.column(StBox(ColumnBridge.expression(col("wkb"))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .withColumn("box", box).repartition(3)
      .select(
        gf.st_contains_point(col("wkb"), col("x"), col("y")).as("c"),
        gf.st_contains_point(col("box"), col("x"), col("y")).as("bc"),
        gf.st_intersects_point(col("wkb"), col("x"), col("y")).as("i"),
        gf.st_intersects_point(col("box"), col("x"), col("y")).as("bi"))
    for ((wholeStage, mode) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.collect()
        assert(got.count(_.isNullAt(0)) === 16)
        got.foreach { r =>
          assert(r.get(0) == r.get(1) && r.get(2) == r.get(3), s"$mode: $r")
        }
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
