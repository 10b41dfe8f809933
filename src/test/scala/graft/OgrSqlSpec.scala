package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sql.OgrSql
import graft.sql.OgrSql.Layer
import QueryFixtures._

/** OGR SQL text entry point — replays the reference's own inlined autotest
  * literals through `OgrSql.execute` on the canonical poly/idlink fixtures
  * (FIXTURES.md §2-3, attribute rows from autotest/ogr/data/poly.dbf).
  *
  * Each test cites the autotest it replays:
  *  - counts 3 / 10:            autotest/ogr/ogr_sql_test.py:171-189
  *  - DISTINCT sequence:        ogr_sql_test.py:196-204
  *  - ORDER BY asc/desc:        ogr_sql_test.py:211-234
  *  - DISTINCT strings sorted:  ogr_sql_test.py:241-249
  *  - summary aggregates:       ogr_sql_test.py:256-268
  *  - count(*):                 ogr_sql_test.py:275-280
  *  - select fid:               ogr_sql_test.py:287-295
  *  - LIKE ESCAPE:              ogr_sql_rfc28.py:522-533
  *  - SUBSTR neg offsets:       ogr_sql_rfc28.py:536-547
  *  - float literal compare:    ogr_sql_rfc28.py:552-560
  *  - LEFT JOIN count:          ogr_join_test.py:39-51
  */
class OgrSqlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val polyDf =
    polyRows.toDF("fid", "area", "eas_id", "prfedea")
  private lazy val idlinkDf =
    idlinkRows.zipWithIndex.map { case ((e, n), i) => (i.toLong, e, n) }
      .toDF("rid", "eas_id", "name")

  private lazy val layers = Map(
    "poly" -> Layer(polyDf, fid = Some("fid")),
    "idlink" -> Layer(idlinkDf, fid = Some("rid")))

  private def run(sql: String): DataFrame = OgrSql.execute(spark, sql, layers)

  test("WHERE count — ogr_sql_test.py:171 (3 of 10 rows)") {
    assert(run("SELECT * FROM poly WHERE eas_id < 167").count() === 3L)
    assert(run("SELECT * FROM poly").count() === 10L)
  }

  test("DISTINCT first-appearance order — ogr_sql_test.py:196") {
    val got = run("select distinct eas_id from poly where eas_id < 170")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(168L, 169L, 166L, 158L, 165L))
  }

  test("DISTINCT + ORDER BY asc/desc — ogr_sql_test.py:211-234") {
    val asc = run("select distinct eas_id from poly where eas_id < 170 order by eas_id")
      .collect().map(_.getLong(0)).toSeq
    assert(asc === Seq(158L, 165L, 166L, 168L, 169L))
    val desc = run("select distinct eas_id from poly where eas_id < 170 order by eas_id desc")
      .collect().map(_.getLong(0)).toSeq
    assert(desc === Seq(169L, 168L, 166L, 165L, 158L))
  }

  test("DISTINCT strings + ORDER BY — ogr_sql_test.py:241") {
    val got = run("select distinct name from idlink order by name asc")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("_158_", "_165_", "_166_", "_168_", "_170_", "_171_", "_179_"))
  }

  test("summary aggregates — ogr_sql_test.py:256-268") {
    val row = run("select max(eas_id), min(eas_id), avg(eas_id), STDDEV_POP(eas_id), " +
      "STDDEV_SAMP(eas_id), sum(eas_id), count(eas_id) from idlink").collect().head
    assert(row.getLong(0) === 179L)                        // max_eas_id
    assert(row.getLong(1) === 158L)                        // min_eas_id
    assert(math.abs(row.getDouble(2) - 168.142857142857) < 1e-12)
    assert(math.abs(row.getDouble(3) - 5.9384599116647205) < 1e-12)
    assert(math.abs(row.getDouble(4) - 6.414269805898183) < 1e-12)
    assert(row.getLong(5) === 1177L)                       // sum_eas_id
    assert(row.getLong(6) === 7L)                          // count_eas_id
  }

  test("count(*) naming + value — ogr_sql_test.py:275") {
    val df = run("select count(*) from poly")
    assert(df.columns.toSeq === Seq("count_*"))
    assert(df.collect().head.getLong(0) === 10L)
  }

  test("select fid — ogr_sql_test.py:287 (FID special field)") {
    val got = run("select eas_id, fid from poly where eas_id in (158,165)")
      .collect().map(_.getLong(1)).toSeq
    assert(got === Seq(7L, 8L))
  }

  test("LIKE with ESCAPE — ogr_sql_rfc28.py:522 (1 row)") {
    assert(run("select * from poly where prfedea LIKE 'x35043408' ESCAPE 'x'").count() === 1L)
  }

  test("SUBSTR negative offset — ogr_sql_rfc28.py:536") {
    val df = run("SELECT SUBSTR(PRFEDEA,-2) from poly where eas_id in (168,179)")
    assert(df.columns.toSeq === Seq("substr_prfedea"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("11", "23"))
  }

  test("SUBSTR offset clamping matches swq_op_general.cpp:1173-1190") {
    // offset 0 behaves as 1; |neg| > len clamps to string start; size caps
    val df = run("SELECT SUBSTR(prfedea, 0, 3), SUBSTR(prfedea, -100), " +
      "SUBSTR(prfedea, 3) FROM poly WHERE eas_id = 168")
    val r = df.collect().head
    assert(r.getString(0) === "350")
    assert(r.getString(1) === "35043411")
    assert(r.getString(2) === "043411")
  }

  test("float literal comparison — ogr_sql_rfc28.py:552 (4000000000. stays float)") {
    assert(run("SELECT * FROM poly WHERE 4000000000. > 2000000000.").count() === 10L)
  }

  test("LEFT JOIN first-match count — ogr_join_test.py:39 (10 rows)") {
    val df = run("SELECT * FROM poly LEFT JOIN idlink ON poly.eas_id = idlink.eas_id")
    assert(df.count() === 10L)
    // secondary fields are exposed as "idlink.<col>"
    assert(df.columns.contains("idlink.name"))
    // unmatched primary rows carry null secondary fields (169,172,173)
    val unmatched = df.where(df.col("`idlink.name`").isNull)
      .collect().map(_.getAs[Long]("eas_id")).toSet
    assert(unmatched === Set(169L, 172L, 173L))
  }

  test("JOIN driven from the 7-row side — ogr_join_test.py:284 sequence") {
    val got = run("SELECT idlink.eas_id, poly.prfedea FROM idlink " +
      "LEFT JOIN poly ON idlink.eas_id = poly.eas_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(168L, 179L, 171L, 170L, 165L, 158L, 166L))
  }

  test("OGR quirks through the text path: /0, %0, string +, ci compare") {
    val r = run("SELECT eas_id / 0, eas_id % 0, 'id_' + eas_id AS tagged " +
      "FROM poly WHERE prfedea = '35043411'").collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 2147483647L)
    assert(r.head.getLong(1) === 2147483647L)
    assert(r.head.getString(2) === "id_168")
  }

  test("UNION ALL + LIMIT/OFFSET + star EXCEPT") {
    val u = run("SELECT eas_id FROM poly WHERE eas_id < 167 UNION ALL " +
      "SELECT eas_id FROM poly WHERE eas_id > 175")
    assert(u.count() === 4L)
    val lim = run("SELECT eas_id FROM poly ORDER BY eas_id LIMIT 3 OFFSET 2")
      .collect().map(_.getLong(0)).toSeq
    assert(lim === Seq(166L, 168L, 169L))
    val exc = run("SELECT * EXCEPT (area, prfedea) FROM poly WHERE eas_id = 158")
    assert(exc.columns.toSeq === Seq("eas_id"))
  }

  test("CAST + BETWEEN + NOT IN + IS NULL") {
    val c = run("SELECT CAST(area AS integer64) AS ai FROM poly WHERE eas_id = 170")
      .collect().head.getLong(0)
    assert(c === 5268L)
    assert(run("SELECT * FROM poly WHERE eas_id BETWEEN 166 AND 169").count() === 3L)
    assert(run("SELECT * FROM poly WHERE eas_id NOT IN (168, 179)").count() === 8L)
    assert(run("SELECT * FROM idlink WHERE name IS NULL").count() === 0L)
  }

  test("ILIKE case-insensitive, LIKE case-sensitive, no default escape (swq)") {
    // wildcards: '_' any single char, '%' any run; no escape char unless
    // ESCAPE given (swq_op_general.cpp:1098 chEscape stays '\0')
    assert(run("SELECT * FROM idlink WHERE name LIKE '_168_'").count() === 1L)
    assert(run("SELECT * FROM idlink WHERE name LIKE '%68%'").count() === 1L)
    // case sensitivity split on a lettered layer
    import spark.implicits._
    val lettered = Seq((0L, "Alpha"), (1L, "beta")).toDF("rid", "word")
    val lay = layers + ("words" -> Layer(lettered, fid = Some("rid")))
    def runW(q: String) = OgrSql.execute(spark, q, lay)
    assert(runW("SELECT * FROM words WHERE word LIKE 'alpha'").count() === 0L)
    assert(runW("SELECT * FROM words WHERE word ILIKE 'alpha'").count() === 1L)
    assert(runW("SELECT * FROM words WHERE word ILIKE 'BE%'").count() === 1L)
  }

  test("index DDL: create/drop bookkeeping + error cases (gdaldataset.cpp:6683,6768)") {
    var ls = layers
    ls = OgrSql.executeDdl(spark, "CREATE INDEX ON poly USING eas_id", ls)
    assert(ls("poly").indexed === Set("eas_id"))
    // double-create is an error (reference: "Cannot re-create an existing index")
    intercept[IllegalArgumentException] {
      OgrSql.executeDdl(spark, "CREATE INDEX ON poly USING EAS_ID", ls)
    }
    // unknown column / unknown layer
    intercept[IllegalArgumentException] {
      OgrSql.executeDdl(spark, "CREATE INDEX ON poly USING nope", ls)
    }
    intercept[IllegalArgumentException] {
      OgrSql.executeDdl(spark, "CREATE INDEX ON nolayer USING eas_id", ls)
    }
    // drop of a non-existent index is an error (gdaldataset.cpp:6840)
    intercept[IllegalArgumentException] {
      OgrSql.executeDdl(spark, "DROP INDEX ON poly USING prfedea", ls)
    }
    // RENAME COLUMN carries the index entry; DROP COLUMN removes it
    ls = OgrSql.executeDdl(spark, "ALTER TABLE poly RENAME COLUMN eas_id TO eid", ls)
    assert(ls("poly").indexed === Set("eid"))
    ls = OgrSql.executeDdl(spark, "DROP INDEX ON poly USING eid", ls)
    assert(ls("poly").indexed === Set.empty)
    // DROP INDEX without USING clears everything
    ls = OgrSql.executeDdl(spark, "CREATE INDEX ON idlink USING eas_id", ls)
    ls = OgrSql.executeDdl(spark, "CREATE INDEX ON idlink USING name", ls)
    ls = OgrSql.executeDdl(spark, "DROP INDEX ON idlink", ls)
    assert(ls("idlink").indexed === Set.empty)
    // DROP TABLE removes the layer; queries against it then fail
    ls = OgrSql.executeDdl(spark, "DROP TABLE idlink", ls)
    assert(!ls.contains("idlink"))
    intercept[IllegalArgumentException] {
      OgrSql.execute(spark, "SELECT * FROM idlink", ls)
    }
  }

  test("DROP/RENAME COLUMN preserve geom/style registrations and follow renames") {
    import org.apache.spark.sql.functions.lit
    val base = polyDf.withColumn("wkb", lit(null).cast("binary"))
      .withColumn("sty", lit("PEN(c:#FF0000)"))
    var ls: Map[String, OgrSql.Layer] = Map("g" ->
      Layer(base, fid = Some("fid"), geom = Some("wkb"), style = Some("sty")))
    // dropping an unrelated column keeps geom and style
    ls = OgrSql.executeDdl(spark, "ALTER TABLE g DROP COLUMN prfedea", ls)
    assert(ls("g").geom === Some("wkb") && ls("g").style === Some("sty"))
    // renaming the geom column follows the rename (no stale name)
    ls = OgrSql.executeDdl(spark, "ALTER TABLE g RENAME COLUMN wkb TO geo", ls)
    assert(ls("g").geom === Some("geo"))
    // renaming the style column follows too
    ls = OgrSql.executeDdl(spark, "ALTER TABLE g RENAME COLUMN sty TO st2", ls)
    assert(ls("g").style === Some("st2"))
    // dropping the geom column clears only geom
    ls = OgrSql.executeDdl(spark, "ALTER TABLE g DROP COLUMN geo", ls)
    assert(ls("g").geom === None && ls("g").style === Some("st2"))
    ls = OgrSql.executeDdl(spark, "ALTER TABLE g DROP COLUMN st2", ls)
    assert(ls("g").style === None)
  }

  test("clusterByIndex range-clusters on the indexed field (physical analog)") {
    var ls = layers
    // no index -> same plan (no exchange added)
    assert(OgrSql.clusterByIndex(ls("poly")) eq ls("poly").df)
    ls = OgrSql.executeDdl(spark, "CREATE INDEX ON poly USING eas_id", ls)
    val clustered = OgrSql.clusterByIndex(ls("poly"))
    // plan carries a range repartition + local sort on the indexed field
    val plan = clustered.queryExecution.optimizedPlan.toString
    assert(plan.contains("RepartitionByExpression") || plan.contains("Sort"),
      s"expected range-cluster operators in:\n$plan")
    // content is unchanged — an index never alters features
    assert(clustered.select(clustered("eas_id").cast("long")).as[Long].collect().sorted ===
      ls("poly").df.select(ls("poly").df("eas_id").cast("long")).as[Long].collect().sorted)
  }

  test("first-match join: the first row by tiebreak, nulls first; a tie keeps one tied row") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val primary = Seq(1L, 2L, 3L, 4L).toDF("k")
    val secondary = Seq[(Long, java.lang.Integer, String)](
      (1L, 2, "b"), (1L, null, "null-first"), (1L, 1, "a"),
      (2L, 5, "tie-x"), (2L, 5, "tie-y"), (2L, 7, "later"),
      (3L, 4, "only"), (9L, 1, "unmatched")).toDF("k", "ord", "v")
    val got = graft.sql.OgrCompat.firstMatchJoin(primary, secondary, Seq("k"), col("ord"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.getString(2)))).toMap
    assert(got.size === 4)
    assert(got(1L) === ((None, Some("null-first"))))
    assert(got(2L)._1 === Some(5) && Set("tie-x", "tie-y").contains(got(2L)._2.get), got(2L))
    assert(got(3L) === ((Some(4), Some("only"))))
    assert(got(4L) === ((None, None)))
  }
}
