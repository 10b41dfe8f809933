package graft

import java.nio.{ByteBuffer, ByteOrder}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, StBox, StContainsPoint, StIntersectsPoint}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.cell.CellId
import graft.functions.{gf, GeoKernel}
import graft.geom.{Mercator, WkbPip}

/** The boxed refine (envelope test on the st_box struct, then the WKB
  * kernel reading the bytes where the row holds them) must give exactly the
  * WKB refine's answer, for both point predicates, on every geometry type
  * the WKB reader takes and every kind of probe point: vertices, edges,
  * hole boundaries, NaN and infinities, and points a denormal away from a
  * line. */
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

  private val toNested = UnsafeProjection.create(StructType(Seq(StructField("pad", StringType),
    StructField("inner", StructType(Seq(StructField("id", LongType), StructField("box", StBox.Type)))))))

  /** The box as a struct nested at a non-zero offset of a wider UnsafeRow. */
  private def nested(box: InternalRow, rnd: Random): UnsafeRow = {
    val pad = UTF8String.fromString("p" * rnd.nextInt(40))
    val row = toNested(InternalRow(pad, InternalRow(rnd.nextLong(), box))).copy()
    val inPlace = row.getStruct(1, 2).getStruct(1, 5)
    assert(inPlace.getBaseObject eq row.getBaseObject)
    assert(inPlace.getBaseOffset > row.getBaseOffset)
    inPlace
  }

  test("boxed refine == WKB refine for both predicates (seeded, 1500 geometries x 4 points)") {
    val rnd = new Random(20261017L)
    val padRnd = new Random(5L)
    var hits = 0; var boundaryHits = 0; var outsideBox = 0; var offEnvelope = 0
    for (_ <- 1 to 1500) {
      val g = geometry(rnd)
      val w = wkb(g, rnd)
      val box = GeoKernel.box(w)
      // the struct as the join reads it: an UnsafeRow view, through the expression
      val unsafeBox = toUnsafe(box).copy()
      val inPlace = nested(box, padRnd)
      for (_ <- 1 to 4) {
        val (x, y) = probe(rnd, g)
        val what = s"$g at ($x, $y)"
        val c = GeoKernel.containsPoint(w, x, y)
        val i = GeoKernel.intersectsPoint(w, x, y)
        assert(GeoKernel.boxContainsPoint(box, x, y) === c, what)
        assert(GeoKernel.boxIntersectsPoint(box, x, y) === i, what)
        assert(GeoKernel.boxContainsPoint(inPlace, x, y) === c, what)
        assert(GeoKernel.boxIntersectsPoint(inPlace, x, y) === i, what)
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

  /** `g` moved by (dx, dy). */
  private def shift(g: G, dx: Double, dy: Double): G = {
    def mv(c: (Double, Double)) = (c._1 + dx, c._2 + dy)
    g match {
      case Pt(x, y) => Pt(x + dx, y + dy)
      case Ln(code, cs) => Ln(code, cs.map(mv))
      case Rg(code, rings) => Rg(code, rings.map(_.map(mv)))
      case Co(code, parts) => Co(code, parts.map(shift(_, dx, dy)))
    }
  }

  test("the join cover holds st_cell of every point the ray test accepts, at tile edges, poles and the antimeridian") {
    val rnd = new Random(20261021L)
    var accepted = 0; var slackMisses = 0
    def finite(v: Double) = !v.isNaN && !v.isInfinite
    /** Probes at and around the vertices that reach the envelope's sides,
      * and a few others: ±1 ulp, ±1e-9 and ±1e-3 of a tile either way. */
    def check(g: G, z: Int): Unit = {
      val w = wkb(g, rnd)
      val e = graft.geom.Wkb.read(w).envelope
      if (e.isEmpty) return
      val inCover: Long => Boolean =
        if (GeoKernel.joinCoverCount(w, z) <= 4096) GeoKernel.joinCover(w, z).toSet
        else { c => // too many cells to list: the range they would come from
          val (x0, y0, x1, y1) = Mercator.joinTileRangeLonLat(e, z)
          CellId.x(c) >= x0 && CellId.x(c) <= x1 && CellId.y(c) >= y0 && CellId.y(c) <= y1
        }
      val (sx0, sy0, sx1, sy1) = Mercator.tileRangeLonLat(e, z)
      val vs = vertices(g).filter(v => finite(v._1) && finite(v._2))
      val extremes = vs.filter(v => v._1 == e.minX || v._1 == e.maxX || v._2 == e.minY || v._2 == e.maxY).take(8)
      for ((x, y) <- extremes ++ Seq.fill(math.min(4, vs.size))(vs(rnd.nextInt(vs.size)))) {
        val t = Mercator.tileEnvelopeLonLat(z, CellId.x(GeoKernel.cell(x, y, z)), CellId.y(GeoKernel.cell(x, y, z)))
        val (tw, th) = (t.maxX - t.minX, t.maxY - t.minY)
        val dxs = Seq(0.0, 1e-9 * tw, -1e-9 * tw, 1e-3 * tw, -1e-3 * tw)
        val dys = Seq(1e-9 * th, -1e-9 * th, 1e-3 * th, -1e-3 * th)
        val probes = dxs.map(d => (x + d, y)) ++ dys.map(d => (x, y + d)) ++
          Seq((math.nextUp(x), y), (math.nextDown(x), y), (x, math.nextUp(y)), (x, math.nextDown(y)))
        // beyond ±90° latToY runs through tan's next period, so st_cell
        // puts such a latitude in an arbitrary row: no cover can hold it
        for ((px, py) <- probes if math.abs(py) <= 90 &&
            (GeoKernel.intersectsPoint(w, px, py) || GeoKernel.containsPoint(w, px, py))) {
          accepted += 1
          val c = GeoKernel.cell(px, py, z)
          assert(inCover(c), s"$g: ($px, $py) in cell (${CellId.x(c)}, ${CellId.y(c)}) at z=$z, " +
            s"join range ${Mercator.joinTileRangeLonLat(e, z)}")
          if (CellId.x(c) < sx0 || CellId.x(c) > sx1 || CellId.y(c) < sy0 || CellId.y(c) > sy1) slackMisses += 1
        }
      }
    }
    val offsets = Seq[(Double, Double) => Double]((v, _) => v, (v, _) => math.nextUp(v), (v, _) => math.nextDown(v),
      (v, h) => v + 1e-9 * h, (v, h) => v - 1e-9 * h, (v, h) => v + 1e-3 * h, (v, h) => v - 1e-3 * h)
    def off(v: Double, h: Double): Double = offsets(rnd.nextInt(offsets.size))(v, h)
    for (k <- 1 to 1500) {
      val g = geometry(rnd)
      val e = graft.geom.Wkb.read(wkb(g, rnd)).envelope
      val movable = !e.isEmpty && Seq(e.minX, e.minY, e.maxX, e.maxY).forall(finite)
      for (z <- Seq(0, 4, 6, 10, 18)) {
        check(g, z)
        if (movable) {
          // each side moved onto a tile edge at z, give or take an offset
          val lo = Mercator.tileEnvelopeLonLat(z, CellId.x(GeoKernel.cell(e.minX, e.minY, z)),
            CellId.y(GeoKernel.cell(e.minX, e.minY, z)))
          val hi = Mercator.tileEnvelopeLonLat(z, CellId.x(GeoKernel.cell(e.maxX, e.maxY, z)),
            CellId.y(GeoKernel.cell(e.maxX, e.maxY, z)))
          val (tw, th) = (lo.maxX - lo.minX, lo.maxY - lo.minY)
          def pick(a: Double, b: Double) = if (rnd.nextBoolean()) a else b
          check(shift(g, off(pick(lo.minX, lo.maxX), tw) - e.minX, 0), z)
          check(shift(g, off(pick(hi.minX, hi.maxX), tw) - e.maxX, 0), z)
          check(shift(g, 0, off(pick(lo.minY, lo.maxY), th) - e.minY), z)
          check(shift(g, 0, off(pick(hi.minY, hi.maxY), th) - e.maxY), z)
          if (k % 5 == 0) { // the poles, the grid's latitude bound and the antimeridian
            check(shift(g, 0, pick(90.0, off(Mercator.MaxLat, th)) - e.maxY), z)
            check(shift(g, 0, pick(-90.0, off(-Mercator.MaxLat, th)) - e.minY), z)
            check(shift(g, off(180.0, tw) - e.maxX, 0), z)
            check(shift(g, off(-180.0, tw) - e.minX, 0), z)
          }
        }
      }
    }
    // the probes reach the strip that GetTileIndices' slack drops
    assert(accepted > 100000 && slackMisses > 100, (accepted, slackMisses))
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

  /** The (offset, bytes per item) of every count Wkb.write emits for a
    * polygon or multipolygon starting at `at`, and the offset after it. */
  private def counts(g: graft.geom.Geom, at: Int): (Seq[(Int, Int)], Int) = g match {
    case p: graft.geom.Polygon =>
      var pos = at + 9
      val rings = p.rings.toSeq.map { r => val c = (pos, 16); pos += 4 + 8 * r.length; c }
      ((at + 5, 4) +: rings, pos)
    case m: graft.geom.MultiPolygon =>
      var pos = at + 9
      val parts = m.polys.toSeq.flatMap { q => val (cs, next) = counts(q, pos); pos = next; cs }
      ((at + 5, 9) +: parts, pos)
    case other => fail(s"no counts for $other")
  }

  test("truncated or count-mutated WKB is refused on both paths and never read past its bytes") {
    val rnd = new Random(11L)
    val off = Platform.BYTE_ARRAY_OFFSET
    /** Refused through the byte[] path and in place, for both predicates. */
    def refused(w: Array[Byte], size: Int, x: Double, y: Double, what: String): Unit = {
      val copy = java.util.Arrays.copyOf(w, size)
      // in place the bytes sit in a longer buffer: a reader that ran past
      // `size` would find the rest of the geometry and answer
      for (f <- Seq[() => Boolean](
          () => WkbPip.containsPoint(copy, x, y), () => WkbPip.intersectsPoint(copy, x, y),
          () => WkbPip.containsPoint(w, off, size, x, y), () => WkbPip.intersectsPoint(w, off, size, x, y)))
        assert(scala.util.Try(f()).isFailure, what)
    }
    for (_ <- 1 to 300) {
      val g = geometry(rnd); val w = wkb(g, rnd); val (x, y) = probe(rnd, g)
      for (cut <- 0 until w.length) refused(w, cut, x, y, s"$g cut to $cut bytes at ($x, $y)")
    }
    val geoms = Seq(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((2 2, 9 2, 9 9, 2 9, 2 2), (3 3, 4 3, 4 4, 3 3)))")
      .map(graft.geom.Wkt.parse)
    var mutated = 0
    for (g <- geoms; (at, each) <- counts(g, 0)._1) {
      val w = graft.geom.Wkb.write(g)
      val fits = (w.length - at - 4) / each
      for (n <- Seq(-1, Int.MinValue, Int.MaxValue, fits + 1)) {
        val bad = w.clone()
        ByteBuffer.wrap(bad).order(ByteOrder.LITTLE_ENDIAN).putInt(at, n)
        for ((x, y) <- Seq((1.0, 1.0), (3.5, 3.2), (50.0, 50.0))) {
          val what = s"$g with the count at byte $at set to $n, at ($x, $y)"
          refused(bad, bad.length, x, y, what)
          // in the boxed struct, behind an envelope that passes every probe
          val box = nested(new GenericInternalRow(Array[Any](-1e9, -1e9, 1e9, 1e9, bad)), rnd)
          assert(scala.util.Try(GeoKernel.boxContainsPoint(box, x, y)).isFailure, what)
          assert(scala.util.Try(GeoKernel.boxIntersectsPoint(box, x, y)).isFailure, what)
          mutated += 1
        }
      }
    }
    assert(mutated === (3 + 6) * 4 * 3)
  }

  test("a point's cell at z is the parent of its cell three zooms finer, on edge, clamped and NaN points") {
    val lats = Seq(Mercator.MaxLat, -Mercator.MaxLat, 90.0, -90.0, 89.0, -89.9, 0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e300, -1e300)
    val lons = Seq(180.0, -180.0, 200.0, -200.0, 0.0, -0.0, 1e12, -1e12, -4e5, 1e300, -1e300,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    for (z <- (0 to 18) :+ 25) {
      // tile edges at z, as the grid computes them, and an ulp either side
      val n = 1 << math.min(z, 10)
      val edges = (0 to n by math.max(1, n / 16)).map(k => Mercator.tileEnvelopeLonLat(math.min(z, 10), k % n, k % n))
      val edgeLons = edges.flatMap(e => Seq(e.minX, math.nextUp(e.minX), math.nextDown(e.minX)))
      val edgeLats = edges.flatMap(e => Seq(e.maxY, math.nextUp(e.maxY), math.nextDown(e.maxY)))
      for (lon <- lons ++ edgeLons; lat <- lats ++ edgeLats) {
        val fine = GeoKernel.cell(lon, lat, z + 3)
        assert(CellId.parentAt(fine, z) === GeoKernel.cell(lon, lat, z), s"($lon, $lat) at z=$z")
        if (z > 6) assert(CellId.parentAt(fine, 6) === GeoKernel.cell(lon, lat, 6))
      }
    }
  }
}
