package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions

/** The graft SQL surface, pinned line by line in sql_surface.tsv: for each
  * registered function and each argument count it takes, the argument
  * types, the message of the wrong-arity error at 0 and at 11 arguments,
  * the analyzed call's data type, its nullability over literals and over
  * nullable columns, and its SQL text over each. */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val golden: Seq[Array[String]] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/sql_surface.tsv"), "UTF-8")
    try src.getLines().map(_.split("\t", -1)).toList finally src.close()
  }

  private def lit(t: DataType): Expression = t match {
    case BinaryType => Literal(Array[Byte](1))
    case StringType => Literal("a")
    case DoubleType => Literal(1.0)
    case IntegerType => Literal(1)
    case LongType => Literal(1L)
    case ArrayType(DoubleType, _) => Literal.create(Seq(1.0), ArrayType(DoubleType))
  }

  private def message(f: => Any): String =
    try { f; "ok" } catch { case e: Throwable => e.getClass.getSimpleName + ": " + e.getMessage }

  /** The call as the analyzer leaves it: the projection's one expression. */
  private def analyzed(df: org.apache.spark.sql.DataFrame): Expression =
    df.queryExecution.analyzed.expressions.head.children.head

  /** The golden line of `name` called with arguments of `types`. */
  private def render(name: String, types: Seq[DataType]): Seq[String] = {
    val build = GraftFunctions.builders.toMap.apply(name)
    val overLits = analyzed(spark.range(1).select(
      call_function(name, types.map(t => ColumnBridge.column(lit(t))): _*)))
    val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t, nullable = true) })
    val overCols = analyzed(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .select(call_function(name, types.indices.map(i => col(s"c$i")): _*)))
    Seq(name, types.length.toString, types.map(_.simpleString).mkString(","),
      message(build(Nil)), message(build(Seq.fill(11)(Literal(1)))),
      overLits.dataType.toString, overLits.nullable.toString, overCols.nullable.toString,
      overLits.sql, overCols.sql)
  }

  test("the golden list names every registered function, and only those") {
    val names = GraftFunctions.builders.map(_._1)
    assert(names.distinct.size === names.size)
    assert(names.size === 116)
    assert(golden.map(_(0)).toSet === names.toSet)
  }

  test("arity errors, result types, nullability and SQL text match the golden list") {
    val diffs = golden.flatMap { g =>
      val types = g(2).split(",").toSeq.map(CatalystSqlParser.parseDataType)
      val got = render(g(0), types)
      if (got == g.toSeq) None else Some(s"want ${g.mkString(" | ")}\n got ${got.mkString(" | ")}")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("st_style_* take the part index as an int: other types are cast to it") {
    // the analyzer casts the index to int, in sight in the SQL text, and a
    // cast that cannot succeed is refused as any ANSI cast is
    import spark.implicits._
    val df = Seq(("PEN(c:#FF0000);BRUSH(fc:#00FF00)", 1, 1L, "1", 1.0, 4294967297L, "x"))
      .toDF("s", "i", "l", "t", "d", "big", "bad")
    def one(q: String) = {
      val d = df.selectExpr(q)
      (analyzed(d).sql, d.as[String].collect().toSeq)
    }
    assert(one("st_style_tool(s, i)") === ("st_style_tool(s, i)", Seq("BRUSH")))
    assert(one("st_style_tool(s, l)") === ("st_style_tool(s, CAST(l AS INT))", Seq("BRUSH")))
    assert(one("st_style_tool(s, t)") === ("st_style_tool(s, CAST(t AS INT))", Seq("BRUSH")))
    assert(one("st_style_tool(s, d)") === ("st_style_tool(s, CAST(d AS INT))", Seq("BRUSH")))
    assert(analyzed(df.selectExpr("st_style_param_dbl(s, l, 'w', 'px')")).sql ===
      "st_style_param_dbl(s, CAST(l AS INT), 'w', 'px')")
    // a long beyond the int range and a non-numeric string are refused
    for (q <- Seq("st_style_tool(s, big)", "st_style_tool(s, bad)")) {
      val e = intercept[Exception](df.selectExpr(q).collect())
      assert(e.getMessage.contains("CAST_OVERFLOW") || e.getMessage.contains("CAST_INVALID_INPUT"), q)
    }
    // a non-string style is cast to its text
    assert(one("st_style_tool(i, i)") === ("st_style_tool(CAST(i AS STRING), i)", Seq(null)))
  }
}
