package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateMutableProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{call_function, col, lit, when}
import org.apache.spark.sql.graft.{KernelCall, KernelFn, KernelFns, PointPredicate}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.cell.CellId
import graft.functions.{GraftFunctions, ZlibKernel}
import graft.geom.{Wkb, Wkt}

/** Every row of the kernel-call table gives the same answer interpreted
  * and generated: the same value (doubles bit for bit with one NaN, bytes
  * exact up to a NaN's sign) or the same exception class, on seeded inputs of each argument
  * type, nulls included, over nullable and non-nullable children. */
class KernelCallSpec extends AnyFunSuite {

  private def wkb(wkt: String): Array[Byte] = Wkb.write(Wkt.parse(wkt))

  private val pools: Map[DataType, Seq[Any]] = Map(
    BinaryType -> Seq(
      wkb("POINT (1 2)"), wkb("POINT (2.35 48.85)"), wkb("LINESTRING (0 0, 3 4, 6 0)"),
      wkb("POLYGON ((2.2 48.7,2.5 48.7,2.5 48.95,2.2 48.95,2.2 48.7))"),
      wkb("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"),
      wkb("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"),
      wkb("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))"), // a bow tie: invalid
      wkb("GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))"),
      wkb("POLYGON EMPTY"),
      Array[Byte](1, 2, 3), // garbage
      ZlibKernel.deflate("hello".getBytes("UTF-8"), -1)),
    DoubleType -> Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      1.5, -33.25, 45.0, 7.0),
    IntegerType -> Seq(-1, 0, 1, 4, 7),
    LongType -> Seq(0L, 42L, CellId.pack(4, 8, 9), CellId.fromLonLat(2.35, 48.85, 12)),
    StringType -> Seq("POINT (1 2)", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "CIRCULARSTRING (0 0, 1 1, 2 0)", "PEN(c:#FF0000,w:2px);BRUSH(fc:#00FF0080)", "#FF000080",
      "w", "px", "garbage", "", """{"type":"Point","coordinates":[1,2]}""",
      "<Point><coordinates>1,2</coordinates></Point>",
      "<gml:Point><gml:coordinates>1,2</gml:coordinates></gml:Point>").map(UTF8String.fromString),
    ArrayType(DoubleType) -> Seq(Array(1.0, 2.0, Double.NaN), Array.emptyDoubleArray, Array(0.5, -0.0, 3.0))
      .map(a => new GenericArrayData(a))
  ).map { case (t, vs) => t -> (vs :+ null) }

  /** An infinite st_buffer distance exhausts the heap in BoolOps.divide
    * (a line buffered by +Infinity), in either path: it is left out. */
  private def pool(f: KernelFn, t: DataType): Seq[Any] =
    if (f.name == "st_buffer" && t == DoubleType) pools(t).filterNot(v => v.isInstanceOf[Double] && v.asInstanceOf[Double].isInfinite)
    else pools(t)

  /** Every tuple of the pools' product when it is small, else 300 seeded draws. */
  private def inputs(f: KernelFn, rnd: Random): Seq[Seq[Any]] = {
    val ps = f.args.map(pool(f, _))
    if (ps.map(_.size.toLong).product <= 20000)
      ps.foldLeft(Seq(Seq.empty[Any]))((acc, p) => for (t <- acc; v <- p) yield t :+ v)
    else Seq.fill(300)(ps.map(p => p(rnd.nextInt(p.size))))
  }

  /** Bytes as compared. Whether arithmetic gives the quiet NaN with the
    * sign bit set or clear depends on whether the JIT has compiled the
    * kernel yet, so the two count as one, in either byte order. */
  private def bytes(b: Array[Byte]): Seq[Byte] = {
    val s = b.clone()
    def at(i: Int, bs: Int*) = bs.indices.forall(k => s(i + k) == bs(k).toByte)
    for (i <- 0 to s.length - 8) {
      if (at(i, 0, 0, 0, 0, 0, 0, 0xf8, 0xff)) s(i + 7) = 0x7f
      if (at(i, 0xff, 0xf8, 0, 0, 0, 0, 0, 0)) s(i) = 0x7f
    }
    s.toSeq
  }

  /** A value as compared: doubles by their bits (one NaN), bytes and
    * arrays by their elements. */
  private def norm(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(norm(_, et))
    case (b: Array[Byte], _) => bytes(b)
    case (d: Double, _) => java.lang.Double.doubleToLongBits(d)
    case (s: UTF8String, _) => s.toString
    case (o, _) => o
  }

  private def outcome(f: => Any, t: DataType): Either[String, Any] =
    try Right(norm(f, t)) catch { case e: Exception => Left(e.getClass.getName) }

  private def call(f: KernelFn, nullable: Boolean): KernelCall =
    f(f.args.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable) }: _*)

  test("interpreted and generated calls agree for every row, nulls and garbage included") {
    val rnd = new Random(20261021L)
    var compared = 0; var values = 0; var errors = 0
    for (f <- KernelFns.rows) {
      val ins = inputs(f, rnd)
      for (nullable <- Seq(true, false)) {
        val e = call(f, nullable)
        val projection = GenerateMutableProjection.generate(Seq(e))
        for (in <- ins if nullable || !in.contains(null)) {
          val row = new GenericInternalRow(in.toArray)
          val interpreted = outcome(e.eval(row), e.dataType)
          val generated = outcome(projection(row).get(0, e.dataType), e.dataType)
          assert(interpreted === generated, s"${f.name}${in.map(norm(_, NullType)).mkString("(", ", ", ")")}")
          compared += 1
          interpreted match { case Right(null) => case Right(_) => values += 1; case Left(_) => errors += 1 }
        }
      }
    }
    // both outcomes, and enough of them, were compared
    assert(compared > 50000 && values > 10000 && errors > 1000, (compared, values, errors))
  }

  test("each call survives Java serialization and evaluates the same afterwards") {
    val rnd = new Random(7L)
    for (f <- KernelFns.rows) {
      val e = call(f, nullable = true)
      val out = new ByteArrayOutputStream()
      new ObjectOutputStream(out).writeObject(e)
      val back = new ObjectInputStream(new ByteArrayInputStream(out.toByteArray)).readObject()
        .asInstanceOf[Expression]
      assert(back === e)
      for (in <- rnd.shuffle(inputs(f, rnd)).take(20)) {
        val row = new GenericInternalRow(in.toArray)
        assert(outcome(back.eval(row), e.dataType) === outcome(e.eval(row), e.dataType), f.name)
      }
    }
  }

  test("a select over every registered function runs with no interpreted expression in its plan") {
    val spark = SparkTestSession.spark
    def types(name: String): Seq[DataType] = name match {
      case "st_contains_point" | "st_intersects_point" => Seq(BinaryType, DoubleType, DoubleType)
      case _ => KernelFns(name).args
    }
    // null inputs that the optimizer cannot fold away: each column is
    // null in every row, but only at run time
    val typed = Seq(BinaryType, StringType, DoubleType, IntegerType, LongType, ArrayType(DoubleType))
    val values = Seq(lit(Array[Byte](1)), lit("a"), lit(1.0), lit(1), lit(1L), lit(Array(1.0)))
    val in = spark.range(3).select(typed.indices.map(i => when(col("id") < 0, values(i)).as(s"c$i")): _*)
    val calls = GraftFunctions.builders.map(_._1).map { name =>
      call_function(name, types(name).map(t => col(s"c${typed.indexOf(t)}")): _*).as(name)
    }
    val df = in.select(calls: _*)
    assert(df.collect().forall(r => (0 until r.length).forall(r.isNullAt)))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exprs = plan.collect { case p => p.expressions }.flatten
    val interpreted = exprs.flatMap(_.collect { case e: CodegenFallback => e })
    assert(calls.size === 116)
    // every call is still there to be code-generated
    assert(exprs.flatMap(_.collect { case e: KernelCall => e.name; case e: PointPredicate => e.prettyName })
      .distinct.size === 116)
    assert(interpreted.isEmpty, interpreted.map(_.prettyName).distinct.mkString(", "))
  }
}
