package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.engine.{SpatialJoin, TileJob, Knn}
import graft.sql.OgrCompat
import QueryFixtures._

/** The correctness-gate query suite: every operator family from SURVEY.md §2
  * exposed as a named DataFrame query over the driver's parquet tables, with
  * a DuckDB oracle (SparkEntry.oracleSql) producing identical values.
  *
  * Conventions (driver hash-compares after sorting columns by name):
  *  - identical column aliases on both sides, lowercase
  *  - outputs are BIGINT / STRING wherever possible; doubles only when
  *    bit-exact in both engines (same IEEE ops on same literals)
  *  - money → integer cents via floor(x*100 + 0.5)
  *  - every query ends with a deterministic ORDER BY on both sides
  */
object Queries {

  /** Deterministic golden-ratio point cloud from the events table — the
    * engine-side twin of the oracle's lonOf/latOf SQL (same literals). */
  def eventPoints(s: SparkSession, dir: String): DataFrame = {
    prep(s)
    t(s, dir, "events").select(
      col("event_id"),
      expr(lonOf("event_id")).as("lon"),
      expr(latOf("event_id")).as("lat"))
  }

  def fixturePolyDf(s: SparkSession): DataFrame = {
    prep(s)
    import s.implicits._
    polygons.map { case (id, ext, holes) => (id, polygonWkt(ext, holes)) }
      .toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt")))
      .drop("wkt")
  }

  private val cents: String => String =
    c => s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)"

  // =====================================================================
  // Relational / OGR-SQL surface (SURVEY.md §2.B, §2.C)
  // =====================================================================

  val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- single-summary-row aggregate (OGR SQL has no GROUP BY; SUMMARY mode)
    ("q01_summary_agg", (s, dir) => {
      t(s, dir, "lineitem").where(col("l_quantity") > 10)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min("l_returnflag").as("min_flag"),
          max("l_returnflag").as("max_flag"),
          expr("CAST(floor(min(l_quantity) * 100.0 + 0.5) AS BIGINT)").as("min_qty_cents"),
          expr("CAST(floor(max(l_quantity) * 100.0 + 0.5) AS BIGINT)").as("max_qty_cents"),
          sum(expr(cents("l_extendedprice"))).as("sum_price_cents"))
    }, Some(s"""
      SELECT count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS n_orders,
             min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
             CAST(floor(min(l_quantity) * 100.0 + 0.5) AS BIGINT) AS min_qty_cents,
             CAST(floor(max(l_quantity) * 100.0 + 0.5) AS BIGINT) AS max_qty_cents,
             CAST(sum(${cents("l_extendedprice")}) AS BIGINT) AS sum_price_cents
      FROM lineitem WHERE l_quantity > 10""")),

    // -- projection + arithmetic + filter (OGR WHERE / TranslateFeature)
    ("q02_project_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity").between(5, 45) && col("l_returnflag") === "R")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          expr(cents("l_extendedprice * (1.0 - l_discount)")).as("revenue_cents"),
          expr(cents("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")).as("charge_cents"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(s"""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             ${cents("l_extendedprice * (1.0 - l_discount)")} AS revenue_cents,
             ${cents("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS charge_cents,
             CAST(year(l_shipdate) AS BIGINT) AS ship_year
      FROM lineitem
      WHERE l_quantity BETWEEN 5 AND 45 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber""")),

    // -- GROUP BY aggregation (SQLite-dialect surface; Catalyst native)
    ("q03_groupby", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          expr(s"CAST(floor(sum(l_quantity) + 0.5) AS BIGINT)").as("sum_qty"),
          sum(expr(cents("l_extendedprice"))).as("sum_price_cents"),
          countDistinct("l_partkey").as("n_parts"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(s"""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(floor(sum(l_quantity) + 0.5) AS BIGINT) AS sum_qty,
             CAST(sum(${cents("l_extendedprice")}) AS BIGINT) AS sum_price_cents,
             count(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // -- multi-way equi-join + agg (broadcast dims; SURVEY §2.B JOIN)
    ("q04_join_agg", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr(cents("o_totalprice"))).as("sum_cents"))
        .orderBy("r_name", "n_name")
    }, Some(s"""
      SELECT r_name, n_name, count(*) AS n_orders,
             CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS sum_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // -- ORDER BY multi-key + LIMIT/OFFSET (ogr_gensql.cpp:2218,1876-1888)
    ("q05_orderby_limit", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), expr(cents("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .offset(5).limit(20)
    }, Some(s"""
      SELECT o_orderkey, ${cents("o_totalprice")} AS price_cents
      FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 20 OFFSET 5""")),

    // -- DISTINCT (SWQM_DISTINCT_LIST; order-normalized compare)
    ("q06_distinct", (s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""")),

    // -- window functions (SQLite-dialect surface)
    ("q07_window", (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "customer").select(
          col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          row_number().over(w).cast("long").as("rn"),
          lag("c_custkey", 1).over(w).as("prev_key"),
          sum(expr(cents("c_acctbal"))).over(wsum).as("run_cents"))
        .orderBy("c_custkey")
    }, Some(s"""
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             lag(c_custkey, 1) OVER w AS prev_key,
             CAST(sum(${cents("c_acctbal")}) OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey""")),

    // -- LIKE / ILIKE / SUBSTR / CONCAT (swq_op_general.cpp:41-162)
    ("q08_strings", (s, dir) => {
      t(s, dir, "part").select(
          col("p_partkey"),
          col("p_name").like("%a%").cast("long").as("has_a"),
          col("p_name").ilike("%A%").cast("long").as("has_a_ci"),
          substring(col("p_name"), 3, 5).as("sub35"),
          concat(col("p_brand"), lit("#"), upper(col("p_type"))).as("brandtype"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
             CAST(p_name LIKE '%a%' AS BIGINT) AS has_a,
             CAST(p_name ILIKE '%A%' AS BIGINT) AS has_a_ci,
             substr(p_name, 3, 5) AS sub35,
             p_brand || '#' || upper(p_type) AS brandtype,
             CAST(length(p_name) AS BIGINT) AS name_len
      FROM part ORDER BY p_partkey""")),

    // -- CASE / CAST / date parts (SWQCastEvaluator, OGRParseDate)
    ("q09_case_cast", (s, dir) => {
      t(s, dir, "orders").select(
          col("o_orderkey"),
          expr("CASE WHEN o_totalprice >= 150000.0 THEN 'big' WHEN o_totalprice >= 30000.0 THEN 'mid' ELSE 'small' END").as("bucket"),
          expr("CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100 + day(o_orderdate) AS BIGINT)").as("ymd"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice >= 150000.0 THEN 'big' WHEN o_totalprice >= 30000.0 THEN 'mid' ELSE 'small' END AS bucket,
             CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100 + day(o_orderdate) AS BIGINT) AS ymd,
             o_orderstatus
      FROM orders ORDER BY o_orderkey""")),

    // -- OGR first-match JOIN (ogr_gensql.cpp:1516-1546; one row per primary)
    ("q10_firstmatch_join", (s, dir) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_partkey"))
      OgrCompat.firstMatchJoin(orders, li, Seq("o_orderkey"),
          col("l_linenumber"), col("l_partkey"))
        .select(col("o_orderkey"),
          col("l_linenumber").cast("long").as("first_line"),
          col("l_partkey").as("first_part"),
          expr(cents("o_totalprice")).as("price_cents"))
        .orderBy("o_orderkey")
    }, Some(s"""
      SELECT o_orderkey, CAST(l_linenumber AS BIGINT) AS first_line,
             l_partkey AS first_part, ${cents("o_totalprice")} AS price_cents
      FROM orders LEFT JOIN (
        SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) = 1
      ) ON o_orderkey = l_orderkey
      ORDER BY o_orderkey""")),

    // -- OGR dialect quirks: case-insensitive '=', int div/mod by zero → INT_MAX
    ("q11_ogr_quirks", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("a", expr("CAST(floor(l_quantity) AS BIGINT)"))
        .withColumn("b", (col("l_linenumber") - 3).cast("long"))
      li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          OgrCompat.intDiv(col("a"), col("b")).as("div_val"),
          OgrCompat.intMod(col("a"), col("b")).as("mod_val"),
          OgrCompat.eqCi(col("l_returnflag"), lit("r")).cast("long").as("is_r_ci"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             CASE WHEN (l_linenumber - 3) = 0 THEN 2147483647
                  ELSE CAST((a - (a % b)) / b AS BIGINT) END AS div_val,
             CASE WHEN (l_linenumber - 3) = 0 THEN 2147483647
                  ELSE a % b END AS mod_val,
             CAST(lower(l_returnflag) = 'r' AS BIGINT) AS is_r_ci
      FROM (SELECT *, CAST(floor(l_quantity) AS BIGINT) AS a,
                   CAST(l_linenumber - 3 AS BIGINT) AS b FROM lineitem)
      ORDER BY l_orderkey, l_linenumber""")),

    // -- JSON-ish prop extraction (hstore_get_value analog) + agg
    ("q12_props_extract", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum(expr(cents("value"))).as("sum_value_cents"))
        .orderBy("event_type")
    }, Some(s"""
      SELECT event_type, count(*) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
             CAST(sum(${cents("value")}) AS BIGINT) AS sum_value_cents
      FROM (SELECT *, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k FROM events)
      GROUP BY event_type ORDER BY event_type""")),

    // -- event-time tumbling window (Structured-Streaming-shaped batch agg)
    ("q13_time_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(expr(cents("value"))).as("sum_cents"))
        .select(unix_timestamp(col("window.start")).as("wstart"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy("wstart", "event_type")
    }, Some(s"""
      SELECT CAST(floor(floor(epoch(ts)) / 300) * 300 AS BIGINT) AS wstart,
             event_type, count(*) AS n, CAST(sum(${cents("value")}) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""")),

    // -- UNION ALL (OGRUnionLayer / swq UNION ALL)
    ("q14_union_all", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"), lit("customer").as("src"))
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey").as("key"), col("s_name").as("name"), lit("supplier").as("src"))
      c.unionByName(su).orderBy("src", "key")
    }, Some("""
      SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
      UNION ALL
      SELECT s_suppkey AS key, s_name AS name, 'supplier' AS src FROM supplier
      ORDER BY src, key""")),

    // ===================================================================
    // Geospatial core (SURVEY.md §2.D-§2.H) — engine expressions vs
    // formula-level SQL oracles over the same golden-ratio point cloud
    // ===================================================================

    // -- gdal2tiles XYZ tile assignment, zooms 4..8 (north rule)
    ("g01_tile_assign", (s, dir) => {
      TileJob.assign(eventPoints(s, dir), 4, 8)
        .select(col("event_id"), col("z").cast("long").as("z"),
          col("x").cast("long").as("x"), col("y").cast("long").as("y"))
        .orderBy("event_id", "z")
    }, Some {
      val selects = (4 to 8).map { z =>
        s"""SELECT event_id, CAST($z AS BIGINT) AS z,
               ${tileX("lon", z)} AS x, ${tileY("lat", z)} AS y FROM pts"""
      }
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events)
          ${selects.mkString(" UNION ALL ")} ORDER BY event_id, z"""
    }),

    // -- tile-pyramid counts z8→z3 (gdal raster tile overview semantics)
    ("g02_tile_pyramid", (s, dir) => {
      TileJob.pyramidCounts(eventPoints(s, dir), 3, 8)
        .select(col("z").cast("long").as("z"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("n"))
        .orderBy("z", "x", "y")
    }, Some {
      val levels = (3 to 8).map { z =>
        val sh = 8 - z
        s"""SELECT CAST($z AS BIGINT) AS z, x >> $sh AS x, y >> $sh AS y,
               CAST(sum(n) AS BIGINT) AS n FROM base GROUP BY 2, 3"""
      }
      s"""WITH pts AS (SELECT ${lonOf("event_id")} AS lon, ${latOf("event_id")} AS lat FROM events),
          base AS (SELECT ${tileX("lon", 8)} AS x, ${tileY("lat", 8)} AS y,
                   CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2)
          ${levels.mkString(" UNION ALL ")} ORDER BY z, x, y"""
    }),

    // -- cell-indexed point-in-polygon spatial join (THE north-rule join)
    ("g03_pip_join", (s, dir) => {
      SpatialJoin.pipJoin(eventPoints(s, dir), fixturePolyDf(s), z = 3)
        .select("event_id", "poly_id").orderBy("event_id", "poly_id")
    }, Some {
      val arms = polygons.map { case (id, _, _) =>
        s"SELECT event_id, '$id' AS poly_id FROM pts WHERE ${insidePolySql(id, "lon", "lat")}"
      }
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events)
          ${arms.mkString(" UNION ALL ")} ORDER BY event_id, poly_id"""
    }),

    // -- great-circle distance between consecutive events (kNN metric)
    ("g04_greatcircle", (s, dir) => {
      val p = eventPoints(s, dir)
      val w = Window.orderBy("event_id")
      p.withColumn("lon2", lead("lon", 1).over(w))
        .withColumn("lat2", lead("lat", 1).over(w))
        .where(col("lon2").isNotNull)
        .select(col("event_id"),
          expr("CAST(floor(st_greatcircle(lat, lon, lat2, lon2) / 100.0 + 0.5) AS BIGINT)").as("dist_hm"))
        .orderBy("event_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon, ${latOf("event_id")} AS lat FROM events),
      pairs AS (SELECT event_id, lon, lat,
                lead(lon, 1) OVER (ORDER BY event_id) AS lon2,
                lead(lat, 1) OVER (ORDER BY event_id) AS lat2 FROM pts)
      SELECT event_id,
             CAST(floor(${greatCircle("lat", "lon", "lat2", "lon2")} / 100.0 + 0.5) AS BIGINT) AS dist_hm
      FROM pairs WHERE lon2 IS NOT NULL ORDER BY event_id""")),

    // ===================================================================
    // Text / dedup pipeline (training-data ops over `documents`)
    // ===================================================================

    // -- exact dedup: group identical texts, keep min doc_id as canonical
    ("d01_dedup_exact", (s, dir) => {
      t(s, dir, "documents").groupBy("text")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_dups"))
        .select("rep_id", "n_dups").orderBy("rep_id")
    }, Some("""
      SELECT min(doc_id) AS rep_id, count(*) AS n_dups
      FROM documents GROUP BY text ORDER BY rep_id""")),

    // -- token counting + quality scores (length/punct/stopword ratios)
    ("d02_token_stats", (s, dir) => {
      t(s, dir, "documents").select(
          col("doc_id"),
          expr("CAST(length(text) AS BIGINT)").as("n_chars"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)").as("n_tokens"),
          expr("CAST(floor((length(replace(text, ' ', '')) * 1000.0) / (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT)").as("avg_wlen_x1000"),
          expr("CAST(floor((length(text) - length(replace(text, ' the ', ''))) / 5.0) AS BIGINT)").as("n_the"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
             CAST(floor((length(replace(text, ' ', '')) * 1000.0) / (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS avg_wlen_x1000,
             CAST(floor((length(text) - length(replace(text, ' the ', ''))) / 5.0) AS BIGINT) AS n_the
      FROM documents ORDER BY doc_id"""))
  )

  // =====================================================================
  // Tranche 2: cover joins, kNN, geometry measures, span docs, text
  // pipeline (lang-id, minhash, LSH, simhash, jaccard), embeddings ANN,
  // raster checksums
  // =====================================================================

  /** Per-doc minhash signature frame shared by d04/d05. */
  def minhashDf(s: SparkSession, dir: String): DataFrame = {
    prep(s)
    val base = t(s, dir, "documents").where(expr("length(text) >= 3"))
      .withColumn("sig", gf.text_minhash(col("text")))
    (0 until 8).foldLeft(base) { (df, j) =>
      df.withColumn(s"h$j", element_at(col("sig"), j + 1))
    }.drop("sig")
  }

  def minhashCte: String = {
    val hs = (0 until 8).map(j => s"${minhashSql("codes", j, duck = true)} AS h$j").mkString(", ")
    s"""sig AS (SELECT doc_id, $hs FROM
         (SELECT doc_id, ${trigramCodes("text", duck = true)} AS codes
          FROM documents WHERE length(text) >= 3))"""
  }

  /** Sequential-fold dot product (identical order in both engines; native
    * VecKernel expression — same fold as the HOF formulation). */
  private def sparkDot(a: String, b: String): String = s"vec_dot($a, $b)"
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def sparkNorm(a: String): String = s"vec_norm($a)"
  private def duckNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  /** Random-hyperplane LSH bucket of an embedding: bit k = sign of the dot
    * with a deterministic golden-ratio hyperplane w_k[i]=fract((k*64+i)*φ)-0.5. */
  private def planeBit(emb: String, k: Int, duck: Boolean): String = {
    val xf = if (duck) "list_transform" else "transform"
    val seq = if (duck) s"generate_series(1, len($emb))" else s"sequence(1, size($emb))"
    val elem = if (duck) s"$emb[i]" else s"element_at($emb, i)"
    val w = s"((CAST($k * 64 + i AS DOUBLE) * $phi) - floor(CAST($k * 64 + i AS DOUBLE) * $phi) - 0.5)"
    val prods = s"$xf($seq, i -> CAST($elem AS DOUBLE) * $w)"
    val sum = if (duck) s"list_sum($prods)"
              else s"aggregate($prods, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    s"(CASE WHEN $sum > 0.0 THEN ${1 << k} ELSE 0 END)"
  }
  private def planeBucket(emb: String, bits: Int, duck: Boolean): String =
    (0 until bits).map(k => planeBit(emb, k, duck)).mkString("(", " + ", ")")

  val defs2: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- cell-cover candidate join: st_cover(box) vs st_cell(point) at z=5
    // (exactness of GetTileIndices cover math is the thing under test)
    ("g05_cover_join", (s, dir) => {
      val pts = eventPoints(s, dir)
        .withColumn("cell", gf.st_cell(col("lon"), col("lat"), lit(5)))
      val wktExpr = "concat('POLYGON ((', CAST(clon - 2.0 AS STRING), ' ', CAST(clat - 2.0 AS STRING), ',', " +
        "CAST(clon + 2.0 AS STRING), ' ', CAST(clat - 2.0 AS STRING), ',', " +
        "CAST(clon + 2.0 AS STRING), ' ', CAST(clat + 2.0 AS STRING), ',', " +
        "CAST(clon - 2.0 AS STRING), ' ', CAST(clat + 2.0 AS STRING), ',', " +
        "CAST(clon - 2.0 AS STRING), ' ', CAST(clat - 2.0 AS STRING), '))')"
      val boxes = t(s, dir, "orders").where(col("o_orderkey") <= 300)
        .select(col("o_orderkey"),
          expr(lonOfQ("o_orderkey")).as("clon"), expr(latOfQ("o_orderkey")).as("clat"))
        .withColumn("wkb", gf.st_geomfromtext(expr(wktExpr)))
        .withColumn("cell", explode(gf.st_cover(col("wkb"), lit(5))))
      broadcast(boxes).join(pts, "cell")
        .select("o_orderkey", "event_id").orderBy("o_orderkey", "event_id")
    }, Some {
      val (minx, miny, maxx, maxy) =
        tileRangeSql("clon - 2.0", "clat - 2.0", "clon + 2.0", "clat + 2.0", 5)
      s"""WITH pts AS (SELECT event_id, ${tileX(lonOf("event_id"), 5)} AS cx,
            ${tileY(latOf("event_id"), 5)} AS cy FROM events),
          boxes AS (SELECT o_orderkey, ${lonOfQ("o_orderkey")} AS clon,
            ${latOfQ("o_orderkey")} AS clat FROM orders WHERE o_orderkey <= 300),
          rng AS (SELECT o_orderkey, $minx AS mintx, $miny AS minty,
            $maxx AS maxtx, $maxy AS maxty FROM boxes)
          SELECT o_orderkey, event_id FROM rng JOIN pts
          ON cx BETWEEN mintx AND maxtx AND cy BETWEEN minty AND maxty
          ORDER BY o_orderkey, event_id"""
    }),

    // -- kNN via cell-ring expansion + great-circle refinement (SURVEY §2.H)
    ("g06_knn", (s, dir) => {
      val q = t(s, dir, "customer").where(col("c_custkey") <= 60)
        .select(col("c_custkey").as("qid"),
          expr(lonOfQ("c_custkey")).as("lon"), expr(latOfQ("c_custkey")).as("lat"))
      val p = eventPoints(s, dir).select(col("event_id").as("pid"),
        col("lon").as("plon"), col("lat").as("plat"))
      Knn.knnJoin(q, p, k = 3, z = 6)
        .select(col("qid"), col("pid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }, Some(s"""
      WITH q AS (SELECT c_custkey AS qid, ${lonOfQ("c_custkey")} AS qlon,
                 ${latOfQ("c_custkey")} AS qlat FROM customer WHERE c_custkey <= 60),
      p AS (SELECT event_id AS pid, ${lonOf("event_id")} AS plon,
            ${latOf("event_id")} AS plat FROM events),
      d AS (SELECT qid, pid, row_number() OVER (PARTITION BY qid
              ORDER BY ${greatCircle("qlat", "qlon", "plat", "plon")}, pid) AS rank
            FROM q CROSS JOIN p)
      SELECT qid, pid, CAST(rank AS BIGINT) AS rank FROM d WHERE rank <= 3
      ORDER BY qid, rank""")),

    // -- geometry measures: WKT parse → shoelace area, centroid, perimeter
    ("g07_geom_measures", (s, dir) => {
      prep(s)
      val base = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("x0", expr(lonOf("doc_id")))
        .withColumn("latc", expr(s"greatest(-84.9, least(84.9, ${latOf("doc_id")}))"))
        .withColumn("y0", expr("latc - 0.05")).withColumn("y1", expr("latc + 0.05"))
        .withColumn("x1", expr("x0 + 0.1"))
        .withColumn("xm", expr("x0 + 0.05")).withColumn("ya", expr("y0 + 0.08"))
      def pt(x: String, y: String) = s"CAST($x AS STRING), ' ', CAST($y AS STRING)"
      val rectWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("x1", "y1")}, ',', ${pt("x0", "y1")}, ',', ${pt("x0", "y0")}, '))')"
      val triWkt = s"concat('POLYGON ((', ${pt("x0", "y0")}, ',', ${pt("x1", "y0")}, ',', " +
        s"${pt("xm", "ya")}, ',', ${pt("x0", "y0")}, '))')"
      base.withColumn("wkb",
          gf.st_geomfromtext(expr(s"CASE WHEN doc_id % 2 = 1 THEN $triWkt ELSE $rectWkt END")))
        .select(col("doc_id"),
          gf.st_area(col("wkb")).as("area"),
          gf.st_x(gf.st_centroid(col("wkb"))).as("cx"),
          gf.st_y(gf.st_centroid(col("wkb"))).as("cy"),
          expr("CAST(floor(st_length(wkb) * 1000000.0 + 0.5) AS BIGINT)").as("perim_u"))
        .orderBy("doc_id")
    }, Some {
      val rect = Seq(("x0", "y0"), ("x1", "y0"), ("x1", "y1"), ("x0", "y1"), ("x0", "y0"))
      val tri = Seq(("x0", "y0"), ("x1", "y0"), ("xm", "ya"), ("x0", "y0"))
      val (rcx, rcy) = centroidSql(rect, signedAreaSql(rect))
      val (tcx, tcy) = centroidSql(tri, signedAreaSql(tri))
      s"""WITH c1 AS (SELECT doc_id, ${lonOf("doc_id")} AS x0,
            greatest(-84.9, least(84.9, ${latOf("doc_id")})) AS latc FROM documents),
          c2 AS (SELECT doc_id, x0, latc - 0.05 AS y0, latc + 0.05 AS y1,
            x0 + 0.1 AS x1, x0 + 0.05 AS xm, latc - 0.05 + 0.08 AS ya FROM c1)
          SELECT doc_id,
            CASE WHEN doc_id % 2 = 1 THEN abs(${signedAreaSql(tri)})
                 ELSE abs(${signedAreaSql(rect)}) END AS area,
            CASE WHEN doc_id % 2 = 1 THEN $tcx ELSE $rcx END AS cx,
            CASE WHEN doc_id % 2 = 1 THEN $tcy ELSE $rcy END AS cy,
            CAST(floor((CASE WHEN doc_id % 2 = 1 THEN ${perimeterSql(tri)}
                 ELSE ${perimeterSql(rect)} END) * 1000000.0 + 0.5) AS BIGINT) AS perim_u
          FROM c2 ORDER BY doc_id"""
    }),

    // -- interleaved-doc span parsing + span-sequence passthrough invariant
    // (north rule: (kind, text, media_ref, order) preserved byte-identically)
    ("g08_span_docs", (s, dir) => {
      prep(s)
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      val docs = ids.map(i => engine.GeoDocs.docOf(i, skew = false)).toDF()
      engine.GeoDocs.withGeometry(docs)
        .select(col("doc_id"),
          expr("array_join(transform(spans, sp -> concat(sp.kind, '|', sp.text, '|', sp.media_ref, '|', CAST(sp.offset AS STRING))), ';')").as("fp"),
          expr("CAST(size(spans) AS BIGINT)").as("n_spans"),
          gf.st_geometrytype(col("wkb")).as("gtype"),
          col("lon"), col("lat"))
        .withColumn("glon_u", when(col("gtype") === "POINT",
          expr("CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT)")))
        .withColumn("glat_u", when(col("gtype") === "POINT",
          expr("CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT)")))
        .drop("lon", "lat")
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id AS i, 1 + (doc_id % 5) AS nspans,
          CASE WHEN ((1 - (doc_id % 3)) % 3 + 3) % 3 < 1 + (doc_id % 5)
               THEN ((1 - (doc_id % 3)) % 3 + 3) % 3 ELSE 0 END AS geoidx,
          ${lonOf("doc_id")} AS lon, ${latOf("doc_id")} AS lat FROM documents),
      w AS (SELECT *, greatest(-84.9, least(84.9, lat)) AS lat0 FROM base),
      wk AS (SELECT *, CASE WHEN i % 10 = 0 THEN
          'POLYGON ((' || printf('%.9f', lon) || ' ' || printf('%.9f', lat0 - 0.05) || ',' ||
          printf('%.9f', lon + 0.05) || ' ' || printf('%.9f', lat0 - 0.05) || ',' ||
          printf('%.9f', lon + 0.05) || ' ' || printf('%.9f', lat0 + 0.05) || ',' ||
          printf('%.9f', lon) || ' ' || printf('%.9f', lat0 + 0.05) || ',' ||
          printf('%.9f', lon) || ' ' || printf('%.9f', lat0 - 0.05) || '))'
        ELSE 'POINT (' || printf('%.9f', lon) || ' ' || printf('%.9f', lat) || ')' END AS gtext
        FROM w),
      sp AS (SELECT i, nspans, gtext, lon, lat,
          list_transform(generate_series(0, CAST(nspans AS INT) - 1), j ->
            CASE WHEN j = geoidx THEN 'geo|' || gtext || '||' || CAST(j AS VARCHAR)
                 WHEN (i + j) % 3 = 2 THEN 'media||media://' ||
                   printf('%08x', (i * 2654435761 + j) & 4294967295) || '|' || CAST(j AS VARCHAR)
                 ELSE 'text|text doc ' || CAST(i AS VARCHAR) || ' span ' || CAST(j AS VARCHAR)
                   || '||' || CAST(j AS VARCHAR) END) AS sl
        FROM wk)
      SELECT printf('doc_%09d', i) AS doc_id, array_to_string(sl, ';') AS fp,
        CAST(nspans AS BIGINT) AS n_spans,
        CASE WHEN i % 10 = 0 THEN 'POLYGON' ELSE 'POINT' END AS gtype,
        CASE WHEN i % 10 = 0 THEN NULL
             ELSE CAST(floor(round(lon, 9) * 1000000.0 + 0.5) AS BIGINT) END AS glon_u,
        CASE WHEN i % 10 = 0 THEN NULL
             ELSE CAST(floor(round(lat, 9) * 1000000.0 + 0.5) AS BIGINT) END AS glat_u
      FROM sp ORDER BY doc_id""")),

    // -- language-ID heuristic + quality scoring (stopword/punct ratios)
    ("d03_lang_quality", (s, dir) => {
      def cnt(p: String) =
        s"CAST(floor((length(text) - length(replace(text, '$p', ''))) / ${p.length}.0) AS BIGINT)"
      val scores = Seq(
        "en_score" -> s"(${cnt(" the ")} + ${cnt(" and ")})",
        "de_score" -> s"(${cnt(" der ")} + ${cnt(" und ")})",
        "es_score" -> s"(${cnt(" el ")} + ${cnt(" la ")})",
        "fr_score" -> s"(${cnt(" le ")} + ${cnt(" et ")})")
      val base = scores.foldLeft(t(s, dir, "documents")) { case (df, (n, e)) =>
        df.withColumn(n, expr(e))
      }
      base.withColumn("pred", expr(
          """CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
                  WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
                  WHEN es_score >= fr_score THEN 'es' ELSE 'fr' END"""))
        .withColumn("n_tokens", expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"))
        .withColumn("quality_x1000", expr(
          "CAST(floor(1000.0 * (en_score + de_score + es_score + fr_score) / n_tokens) AS BIGINT)"))
        .withColumn("lang_match", expr("CAST(pred = lang AS BIGINT)"))
        .select("doc_id", "en_score", "de_score", "es_score", "fr_score",
          "pred", "quality_x1000", "lang_match")
        .orderBy("doc_id")
    }, Some {
      def cnt(p: String) =
        s"CAST(floor((length(text) - length(replace(text, '$p', ''))) / ${p.length}.0) AS BIGINT)"
      s"""WITH sc AS (SELECT doc_id, lang,
            (${cnt(" the ")} + ${cnt(" and ")}) AS en_score,
            (${cnt(" der ")} + ${cnt(" und ")}) AS de_score,
            (${cnt(" el ")} + ${cnt(" la ")}) AS es_score,
            (${cnt(" le ")} + ${cnt(" et ")}) AS fr_score,
            CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
          FROM documents),
          p AS (SELECT *, CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
                  WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
                  WHEN es_score >= fr_score THEN 'es' ELSE 'fr' END AS pred FROM sc)
          SELECT doc_id, en_score, de_score, es_score, fr_score, pred,
            CAST(floor(1000.0 * (en_score + de_score + es_score + fr_score) / n_tokens) AS BIGINT) AS quality_x1000,
            CAST(pred = lang AS BIGINT) AS lang_match
          FROM p ORDER BY doc_id"""
    }),

    // -- MinHash signatures (8 hashes over char trigrams)
    ("d04_minhash_sig", (s, dir) => {
      minhashDf(s, dir)
        .select(col("doc_id") +: (0 until 8).map(j => col(s"h$j")): _*)
        .orderBy("doc_id")
    }, Some(s"""
      WITH $minhashCte
      SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sig ORDER BY doc_id""")),

    // -- LSH near-duplicate candidate pairs (2 bands × 4 rows: a pair is a
    // candidate iff one band of 4 minhashes agrees entirely — targets
    // high-jaccard near-dups, keeps bucket fan-out bounded at scale)
    ("d05_lsh_pairs", (s, dir) => {
      // uncapped here for oracle parity; the engine default caps hot
      // buckets at 4096 (engine/Lsh.scala, guard spec-gated in LshSpec)
      val (pairs, _) = engine.Lsh.candidatePairs(
        engine.Lsh.bandify(minhashDf(s, dir), nBands = 2), maxBucket = Long.MaxValue)
      pairs.orderBy("a", "b")
    }, Some {
      val bandArms = (0 until 2).map { b =>
        s"SELECT doc_id, $b AS band, h${4 * b} AS x1, h${4 * b + 1} AS x2, h${4 * b + 2} AS x3, h${4 * b + 3} AS x4 FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH $minhashCte, bands AS ($bandArms)
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bands l JOIN bands r ON l.band = r.band AND l.x1 = r.x1 AND l.x2 = r.x2
            AND l.x3 = r.x3 AND l.x4 = r.x4 AND l.doc_id < r.doc_id
          ORDER BY a, b"""
    }),

    // -- SimHash document fingerprint (16 bits over trigram hashes)
    ("d06_simhash", (s, dir) => {
      prep(s)
      t(s, dir, "documents").where(expr("length(text) >= 3"))
        .select(col("doc_id"), gf.text_simhash16(col("text")).as("simhash"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH c AS (SELECT doc_id, ${trigramCodes("text", duck = true)} AS codes
                 FROM documents WHERE length(text) >= 3)
      SELECT doc_id, ${simhashSql("codes", 16, duck = true)} AS simhash
      FROM c ORDER BY doc_id""")),

    // -- n-gram Jaccard similarity pairs within (lang, source) groups
    ("d07_jaccard_pairs", (s, dir) => {
      val d = t(s, dir, "documents")
        .where(expr("doc_id % 7 = 0 AND length(text) >= 3"))
        .withColumn("cd", array_distinct(gf.text_trigram_codes(col("text"))))
        .select("doc_id", "lang", "source", "cd")
      d.as("l").join(d.as("r"),
          col("l.lang") === col("r.lang") && col("l.source") === col("r.source") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
          expr("CAST(floor(1000.0 * size(array_intersect(l.cd, r.cd)) / (size(l.cd) + size(r.cd) - size(array_intersect(l.cd, r.cd)))) AS BIGINT)").as("jac_x1000"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH d AS (SELECT doc_id, lang, source,
          list_distinct(${trigramCodes("text", duck = true)}) AS cd
        FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 3),
      p AS (SELECT l.doc_id AS a, r.doc_id AS b,
          len(list_filter(l.cd, x -> list_contains(r.cd, x))) AS inter,
          len(l.cd) + len(r.cd) AS tot
        FROM d l JOIN d r ON l.lang = r.lang AND l.source = r.source AND l.doc_id < r.doc_id)
      SELECT a, b, CAST(floor(1000.0 * inter / (tot - inter)) AS BIGINT) AS jac_x1000
      FROM p ORDER BY a, b""")),

    // -- brute-force cosine top-k similarity search (ANN baseline)
    ("e01_cosine_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("norm", expr(sparkNorm("embedding")))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("norm").as("qn"))
      val p = e.select(col("vec_id").as("pid"), col("embedding").as("pe"), col("norm").as("pn"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
      q.crossJoin(p).where(col("qid") =!= col("pid"))
        .withColumn("cos", expr(sparkDot("qe", "pe")) / (col("qn") * col("pn")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("qid"), col("pid"), col("rank"),
          expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
        .orderBy("qid", "rank")
    }, Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
      c AS (SELECT q.vec_id AS qid, p.vec_id AS pid,
          ${duckDot("q.embedding", "p.embedding")} / (q.norm * p.norm) AS cos
        FROM e q CROSS JOIN e p WHERE q.vec_id < 20 AND q.vec_id <> p.vec_id),
      r AS (SELECT qid, pid, cos, CAST(row_number() OVER
          (PARTITION BY qid ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM c)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM r WHERE rank <= 3 ORDER BY qid, rank""")),

    // -- embedding near-dup at scale: random-hyperplane LSH buckets, then
    // exact cosine refine within (label, bucket)
    ("e02_embed_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("norm", expr(sparkNorm("embedding")))
        .withColumn("bucket", expr(planeBucket("embedding", 8, duck = false)))
      e.as("l").join(e.as("r"),
          col("l.label") === col("r.label") && col("l.bucket") === col("r.bucket") &&
            col("l.vec_id") < col("r.vec_id"))
        .withColumn("cos",
          expr(sparkDot("l.embedding", "r.embedding")) / (col("l.norm") * col("r.norm")))
        .where(col("cos") >= 0.25)
        .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"),
          expr("CAST(floor(cos * 1000.0 + 0.5) AS BIGINT)").as("cos_x1000"))
        .orderBy("a", "b")
    }, Some(s"""
      WITH e AS (SELECT vec_id, label, embedding, ${duckNorm("embedding")} AS norm,
          ${planeBucket("embedding", 8, duck = true)} AS bucket FROM embeddings),
      p AS (SELECT l.vec_id AS a, r.vec_id AS b,
          ${duckDot("l.embedding", "r.embedding")} / (l.norm * r.norm) AS cos
        FROM e l JOIN e r ON l.label = r.label AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
      SELECT a, b, CAST(floor(cos * 1000.0 + 0.5) AS BIGINT) AS cos_x1000
      FROM p WHERE cos >= 0.25 ORDER BY a, b""")),

    // -- rasterize points at z5 + GDALChecksumImage oracle per tile
    ("r01_rasterize_checksum", (s, dir) => {
      val sp = s
      import sp.implicits._
      engine.Raster.rasterizePoints(eventPoints(s, dir), 5)
        .map(ti => (ti.z.toLong, ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("z", "x", "y", "cks").orderBy("x", "y")
    }, Some(rasterChecksumSql(shift = 0))),

    // -- tile-pyramid reduce (sum kernel) z5→z3 + checksum per z3 tile
    ("r02_pyramid_checksum", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.rasterizePoints(eventPoints(s, dir), 5)
      engine.Raster.pyramidUp(engine.Raster.pyramidUp(base, sum = true), sum = true)
        .map(ti => (ti.z.toLong, ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("z", "x", "y", "cks").orderBy("x", "y")
    }, Some(rasterChecksumSql(shift = 2)))
  )

  // =====================================================================
  // Tranche 3: dialect surface (hstore, EXCEPT, stddev), reprojection,
  // segmentize, zonal stats, multimodal binary plumbing, hilbert order
  // =====================================================================

  val defs3: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- HSTORE_GET_VALUE ('k=>v,...' lookup; ogr_swq.h:521)
    ("q15_hstore", (s, dir) => {
      t(s, dir, "part")
        .withColumn("hs", concat(lit("brand=>"), col("p_brand"), lit(",type=>"), col("p_type")))
        .select(col("p_partkey"),
          element_at(expr("str_to_map(hs, ',', '=>')"), "brand").as("brand_val"),
          element_at(expr("str_to_map(hs, ',', '=>')"), "type").as("type_val"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
             regexp_extract('brand=>' || p_brand || ',type=>' || p_type, 'brand=>([^,]*)', 1) AS brand_val,
             regexp_extract('brand=>' || p_brand || ',type=>' || p_type, 'type=>(.*)$', 1) AS type_val
      FROM part ORDER BY p_partkey""")),

    // -- SELECT * EXCEPT(field list) (swq_parser.y:866-867)
    ("q16_except_cols", (s, dir) => {
      t(s, dir, "lineitem")
        .drop("l_extendedprice", "l_discount", "l_tax", "l_shipdate")
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    }, Some("""
      SELECT * EXCLUDE (l_extendedprice, l_discount, l_tax, l_shipdate)
        REPLACE (CAST(l_linenumber AS BIGINT) AS l_linenumber)
      FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey""")),

    // -- STDDEV_POP / STDDEV_SAMP (Welford accumulators, ogr_swq.h:391-394)
    ("q17_stddev", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(expr("CAST(floor(stddev_pop(l_quantity) * 1000000.0 + 0.5) AS BIGINT)").as("sd_pop_u"),
          expr("CAST(floor(stddev_samp(l_quantity) * 1000000.0 + 0.5) AS BIGINT)").as("sd_samp_u"),
          expr("CAST(floor(avg(l_quantity) * 1000000.0 + 0.5) AS BIGINT)").as("avg_u"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             CAST(floor(stddev_pop(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS sd_pop_u,
             CAST(floor(stddev_samp(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS sd_samp_u,
             CAST(floor(avg(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS avg_u
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // -- WGS84 → EPSG:3857 reprojection (gdal2tiles.py:426-429 formulas)
    ("g09_transform_3857", (s, dir) => {
      prep(s)
      eventPoints(s, dir)
        .withColumn("wkb", gf.st_point(col("lon"), col("lat")))
        .withColumn("m", gf.st_transform_3857(col("wkb")))
        .select(col("event_id"),
          expr("CAST(floor(st_x(m) * 10000.0 + 0.5) AS BIGINT)").as("mx_u"),
          expr("CAST(floor(st_y(m) * 10000.0 + 0.5) AS BIGINT)").as("my_u"))
        .orderBy("event_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon, ${latOf("event_id")} AS lat FROM events)
      SELECT event_id,
             CAST(floor((${mercX("lon")}) * 10000.0 + 0.5) AS BIGINT) AS mx_u,
             CAST(floor((${mercY("lat")}) * 10000.0 + 0.5) AS BIGINT) AS my_u
      FROM pts ORDER BY event_id""")),

    // -- segmentize (linear interpolation; gdalalg_vector_segmentize)
    ("g12_segmentize", (s, dir) => {
      prep(s)
      eventPoints(s, dir)
        .withColumn("dx", expr(s"0.1 + 0.4 * ${fract(s"CAST(event_id AS DOUBLE) * $phi + 0.1")}"))
        .withColumn("dy", lit(0.2))
        .withColumn("wkt", expr(
          "concat('LINESTRING (', CAST(lon AS STRING), ' ', CAST(lat AS STRING), ',', " +
            "CAST(lon + dx AS STRING), ' ', CAST(lat + dy AS STRING), ')')"))
        .withColumn("seg", gf.st_segmentize(gf.st_geomfromtext(col("wkt")), lit(0.07)))
        .select(col("event_id"),
          expr("CAST(length(st_astext(seg)) - length(replace(st_astext(seg), ',', '')) + 1 AS BIGINT)").as("n_points"))
        .orderBy("event_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id,
          0.1 + 0.4 * ${fract(s"CAST(event_id AS DOUBLE) * $phi + 0.1")} AS dx, 0.2 AS dy
        FROM events)
      SELECT event_id,
        CAST(1 + CAST(ceil(sqrt(dx * dx + dy * dy) / 0.07) AS BIGINT) AS BIGINT) AS n_points
      FROM pts ORDER BY event_id""")),

    // -- zonal statistics: per-zone aggregates of a value raster/point set
    // (alg/zonal.cpp semantics over vector zones)
    ("r03_zonal_stats", (s, dir) => {
      val pts = t(s, dir, "events")
        .select(col("event_id"), col("value"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      SpatialJoin.pipJoin(pts, fixturePolyDf(s), z = 3)
        .groupBy("poly_id")
        .agg(count(lit(1)).as("n"),
          sum(expr(cents("value"))).as("sum_cents"),
          expr("CAST(floor(min(value) * 100.0 + 0.5) AS BIGINT)").as("min_cents"),
          expr("CAST(floor(max(value) * 100.0 + 0.5) AS BIGINT)").as("max_cents"),
          countDistinct("event_id").as("n_distinct"))
        .orderBy("poly_id")
    }, Some {
      val arms = polygons.map { case (id, _, _) =>
        s"SELECT event_id, value, '$id' AS poly_id FROM pts WHERE ${insidePolySql(id, "lon", "lat")}"
      }
      s"""WITH pts AS (SELECT event_id, value, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events),
          j AS (${arms.mkString(" UNION ALL ")})
          SELECT poly_id, count(*) AS n, CAST(sum(${cents("value")}) AS BIGINT) AS sum_cents,
            CAST(floor(min(value) * 100.0 + 0.5) AS BIGINT) AS min_cents,
            CAST(floor(max(value) * 100.0 + 0.5) AS BIGINT) AS max_cents,
            count(DISTINCT event_id) AS n_distinct
          FROM j GROUP BY poly_id ORDER BY poly_id"""
    }),

    // -- multimodal: opaque binary payload + metadata; digest/length are
    // the SQL-checkable subset (decode stub tested in MultimodalSpec)
    ("m01_media_binary", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", expr("encode(text, 'UTF-8')"))
        .select(col("doc_id"),
          expr("CAST(length(payload) AS BIGINT)").as("n_bytes"),
          md5(col("payload")).as("digest"),
          base64(expr("CAST(substring(payload, 1, 12) AS BINARY)")).as("head_b64"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
             md5(text) AS digest,
             to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS head_b64
      FROM documents ORDER BY doc_id""")),

    // -- multimodal REAL image decode (JDK ImageIO, PNG driver analog
    // frmts/png/pngdataset.cpp): deterministic gray-PNG payloads per doc,
    // decoded dims + exact luminance-histogram counts; oracle = the same
    // closed-form pixel pattern in SQL. Zero bins dropped on both sides.
    ("m03_media_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 200).as[Long].map { id =>
          val w = 16 + (id % 8).toInt; val h = 16 + (id % 5).toInt
          val png = engine.Multimodal.grayPng(w, h) { (x, y) =>
            ((id * 31 + x * 7 + y * 13) % 256).toInt
          }
          engine.Multimodal.MediaRow(id, s"media/$id.png", "image", png)
        }
      engine.Multimodal.extractFeatures(media)
        .flatMap { f =>
          // counts are exact: float32 of c/n times n rounds back to c
          f.features.iterator.zipWithIndex.map { case (v, b) =>
            (f.doc_id, f.width.toLong, f.height.toLong, b.toLong,
              math.floor(v * f.width * f.height + 0.5).toLong)
          }.filter(_._5 > 0L)
        }
        .toDF("doc_id", "width", "height", "bin", "cnt")
        .orderBy("doc_id", "bin")
    }, Some("""
      WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS w, 16 + doc_id % 5 AS h
                 FROM documents WHERE doc_id < 200),
      g AS (SELECT d.doc_id, d.w, d.h,
              ((d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 256) // 16 AS bin
            FROM d
            JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs ON xs.x < d.w
            JOIN (SELECT unnest(generate_series(0, 20)) AS y) ys ON ys.y < d.h)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(bin AS BIGINT) AS bin, count(*) AS cnt
      FROM g GROUP BY doc_id, w, h, bin ORDER BY doc_id, bin""")),

    // -- hilbert-order clustering key (alg/hilbert.cpp; gdalalg_vector_sort)
    // no SQL oracle (rows-only check); exactness pinned in GeomCoreSpec
    ("g13_hilbert_order", (s, dir) => {
      prep(s)
      eventPoints(s, dir)
        .withColumn("h", gf.hilbert_code(col("lon"), col("lat"),
          lit(-180.0), lit(-90.0), lit(180.0), lit(90.0)))
        .select("event_id", "h")
        .orderBy("h", "event_id").limit(200)
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events),
      s AS (SELECT event_id,
          CAST(floor(65534.0 * (lon + 180.0) / 360.0 + 0.5) AS BIGINT) AS x,
          CAST(floor(65534.0 * (lat + 90.0) / 180.0 + 0.5) AS BIGINT) AS y FROM pts),
      h0 AS (SELECT event_id, x, y, xor(x, y) AS a0, xor(65535, xor(x, y)) AS b0,
          xor(65535, x | y) AS c0, x & xor(y, 65535) AS d0 FROM s),
      h1 AS (SELECT event_id, x, y, a0 | (b0 >> 1) AS a1, xor(a0 >> 1, a0) AS b1,
          xor(xor(c0 >> 1, b0 & (d0 >> 1)), c0) AS c1,
          xor(xor(a0 & (c0 >> 1), d0 >> 1), d0) AS d1 FROM h0),
      h2 AS (SELECT event_id, x, y,
          xor(a1 & (a1 >> 2), b1 & (b1 >> 2)) AS a2,
          xor(a1 & (b1 >> 2), b1 & (xor(a1, b1) >> 2)) AS b2,
          xor(c1, xor(a1 & (c1 >> 2), b1 & (d1 >> 2))) AS c2,
          xor(d1, xor(b1 & (c1 >> 2), xor(a1, b1) & (d1 >> 2))) AS d2 FROM h1),
      h3 AS (SELECT event_id, x, y,
          xor(a2 & (a2 >> 4), b2 & (b2 >> 4)) AS a3,
          xor(a2 & (b2 >> 4), b2 & (xor(a2, b2) >> 4)) AS b3,
          xor(c2, xor(a2 & (c2 >> 4), b2 & (d2 >> 4))) AS c3,
          xor(d2, xor(b2 & (c2 >> 4), xor(a2, b2) & (d2 >> 4))) AS d3 FROM h2),
      h4 AS (SELECT event_id, x, y,
          xor(c3, xor(a3 & (c3 >> 8), b3 & (d3 >> 8))) AS c4,
          xor(d3, xor(b3 & (c3 >> 8), xor(a3, b3) & (d3 >> 8))) AS d4 FROM h3),
      h5 AS (SELECT event_id, xor(x, y) AS i0,
          xor(d4, d4 >> 1) | xor(65535, xor(x, y) | xor(c4, c4 >> 1)) AS i1 FROM h4),
      h6 AS (SELECT event_id, (i0 | (i0 << 8)) & 16711935 AS i0,
          (i1 | (i1 << 8)) & 16711935 AS i1 FROM h5),
      h7 AS (SELECT event_id, (i0 | (i0 << 4)) & 252645135 AS i0,
          (i1 | (i1 << 4)) & 252645135 AS i1 FROM h6),
      h8 AS (SELECT event_id, (i0 | (i0 << 2)) & 858993459 AS i0,
          (i1 | (i1 << 2)) & 858993459 AS i1 FROM h7),
      h9 AS (SELECT event_id, (i0 | (i0 << 1)) & 1431655765 AS i0,
          (i1 | (i1 << 1)) & 1431655765 AS i1 FROM h8)
      SELECT event_id, (i1 << 1) | i0 AS h FROM h9
      ORDER BY h, event_id LIMIT 200""")),

    // -- explode-collections (st_dump Generator) + swap-xy
    // (gdalalg_vector_explode / _swap_xy)
    ("g14_dump_swap", (s, dir) => {
      prep(s)
      val base = eventPoints(s, dir).where(col("event_id") < 2000)
        .withColumn("wkt", expr(
          "concat('MULTIPOINT ((', CAST(lon AS STRING), ' ', CAST(lat AS STRING), '),(', " +
            "CAST(lon + 1.0 AS STRING), ' ', CAST(lat AS STRING), '),(', " +
            "CAST(lon AS STRING), ' ', CAST(lat + 2.0 AS STRING), '))')"))
        .withColumn("part", explode(gf.st_dump(gf.st_swapxy(gf.st_geomfromtext(col("wkt"))))))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(part) * 1000000.0 + 0.5) AS BIGINT)").as("x_u"),
          expr("CAST(floor(st_y(part) * 1000000.0 + 0.5) AS BIGINT)").as("y_u"))
        .orderBy("event_id", "x_u", "y_u")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon, ${latOf("event_id")} AS lat
                   FROM events WHERE event_id < 2000),
      parts AS (
        SELECT event_id, lat AS sx, lon AS sy FROM pts
        UNION ALL SELECT event_id, lat, lon + 1.0 FROM pts
        UNION ALL SELECT event_id, lat + 2.0, lon FROM pts)
      SELECT event_id, CAST(floor(sx * 1000000.0 + 0.5) AS BIGINT) AS x_u,
             CAST(floor(sy * 1000000.0 + 0.5) AS BIGINT) AS y_u
      FROM parts ORDER BY event_id, x_u, y_u""")),

    // -- clip-to-bbox (gdalalg_vector_clip; tile clipping core). Output
    // area of the clipped rect (micro-rounded: vertex order differs from
    // the closed-form w*h only in the last ulp)
    ("g15_clip_bbox", (s, dir) => {
      prep(s)
      val base = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("x0", expr(lonOf("doc_id")))
        .withColumn("y0", expr(s"greatest(-84.0, least(82.0, ${latOf("doc_id")}))"))
        .withColumn("wkt", expr(
          "concat('POLYGON ((', CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), ',', " +
            "CAST(x0 + 2.0 AS STRING), ' ', CAST(y0 AS STRING), ',', " +
            "CAST(x0 + 2.0 AS STRING), ' ', CAST(y0 + 2.0 AS STRING), ',', " +
            "CAST(x0 AS STRING), ' ', CAST(y0 + 2.0 AS STRING), ',', " +
            "CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), '))')"))
        .withColumn("clipped",
          gf.st_clip_bbox(gf.st_geomfromtext(col("wkt")),
            lit(-20.0), lit(-30.0), lit(25.0), lit(40.0)))
      base.select(col("doc_id"),
          expr("CAST(floor(st_area(clipped) * 1000000000.0 + 0.5) AS BIGINT)").as("area_n"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH b AS (SELECT doc_id, ${lonOf("doc_id")} AS x0,
            greatest(-84.0, least(82.0, ${latOf("doc_id")})) AS y0 FROM documents),
      ov AS (SELECT doc_id,
            greatest(0.0, least(x0 + 2.0, 25.0) - greatest(x0, -20.0)) AS w,
            greatest(0.0, least(y0 + 2.0, 40.0) - greatest(y0, -30.0)) AS h FROM b)
      SELECT doc_id, CAST(floor(w * h * 1000000000.0 + 0.5) AS BIGINT) AS area_n
      FROM ov ORDER BY doc_id""")),

    // -- DEM slope + hillshade over a tiled raster with halo exchange
    // (gdaldem 3x3 windows; checksummed per tile; analytic-f oracle
    // recomputes every window in closed form, so cross-tile halo assembly
    // is exactly what the comparison verifies)
    ("r04_dem_focal", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 3
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val slopeT = engine.Focal.slope(base)
        .map(ti => (ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("x", "y", "cks_slope")
      val hillT = engine.Focal.hillshade(base)
        .map(ti => (ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("x", "y", "cks_hill")
      slopeT.join(hillT, Seq("x", "y"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_slope", "cks_hill")
        .orderBy("x", "y")
    }, Some {
      val maxG = 8 * 256 - 1 // z=3 grid: 2048x2048 global pixels
      def fAt(dx: Int, dy: Int) =
        s"CAST(((gx + ($dx)) * 7919 + (gy + ($dy)) * 104729) % 9973 AS DOUBLE)"
      // window: a b c / d e f / g h i == (dx,dy) in {-1,0,1}^2 row-major
      val (a, b, c) = (fAt(-1, -1), fAt(0, -1), fAt(1, -1))
      val (d0, f0) = (fAt(-1, 0), fAt(1, 0))
      val (g0, h0, i0) = (fAt(-1, 1), fAt(0, 1), fAt(1, 1))
      val ddx = s"((($a + 2.0 * $d0 + $g0) - ($c + 2.0 * $f0 + $i0)) / 8.0)"
      val ddy = s"((($a + 2.0 * $b + $c) - ($g0 + 2.0 * $h0 + $i0)) / 8.0)"
      val pi = dlit(math.Pi)
      val slope = s"((atan(sqrt($ddx * $ddx + $ddy * $ddy)) * 180.0) / $pi)"
      val azr = dlit(315.0 * math.Pi / 180.0); val altr = dlit(45.0 * math.Pi / 180.0)
      val hill = s"(1.0 + 254.0 * greatest(0.0, sin($altr) * cos(atan(sqrt($ddx * $ddx + $ddy * $ddy))) + " +
        s"cos($altr) * sin(atan(sqrt($ddx * $ddx + $ddy * $ddy))) * " +
        s"cos(($azr - ${dlit(math.Pi / 2.0)}) - atan2($ddy, -$ddx))))"
      val border = s"gx = 0 OR gy = 0 OR gx = $maxG OR gy = $maxG"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy,
            CASE WHEN $border THEN 0.0 ELSE $slope END AS slope,
            CASE WHEN $border THEN 0.0 ELSE $hill END AS hill FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(floor(slope + 0.5) AS BIGINT) AS vs,
            CAST(floor(hill + 0.5) AS BIGINT) AS vh FROM v)
          SELECT CAST(3 AS BIGINT) AS z, tx AS x, ty AS y,
            CAST(sum(vs % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks_slope,
            CAST(sum(vh % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks_hill
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdalwarp-style affine warp: Near + Bilinear kernels, output-driven
    // inverse mapping, checksummed per dst tile (analytic-f oracle — all
    // arithmetic is +,-,*,/ and floor, so values are bit-exact)
    ("r05_warp_affine", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 3
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val aff = engine.Raster.WarpAffine(0.5, 0.5, 1500.3, 57.7)
      def cks(t: engine.Tile) =
        (t.x.toLong, t.y.toLong, engine.Raster.checksum(t.pixels, t.w, t.h).toLong)
      val near = engine.Raster.warpAffine(base, z, 8, 8, aff, "near", 2048, 2048)
        .map(cks _).toDF("x", "y", "cks_near")
      val bil = engine.Raster.warpAffine(base, z, 8, 8, aff, "bilinear", 2048, 2048)
        .map(cks _).toDF("x", "y", "cks_bilinear")
      near.join(bil, Seq("x", "y"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_near", "cks_bilinear")
        .orderBy("x", "y")
    }, Some {
      val maxG = 2047
      def fAt(xe: String, ye: String) =
        s"CAST((CAST($xe AS BIGINT) * 7919 + CAST($ye AS BIGINT) * 104729) % 9973 AS DOUBLE)"
      val near = {
        val ix = "floor(sxp + 0.5)"; val iy = "floor(syp + 0.5)"
        s"CASE WHEN $ix < 0 OR $ix > $maxG OR $iy < 0 OR $iy > $maxG THEN 0.0 ELSE ${fAt(ix, iy)} END"
      }
      val bil = {
        // GWKBilinearResample4Sample edge semantics: out-of-raster
        // neighbors drop from the accumulator and the result renormalizes
        // by the surviving weight (same branch structure as the engine's
        // masked path; all-in-range keeps the factored fast-path form)
        val x0 = "floor(sxp)"; val y0 = "floor(syp)"
        val wx = s"(sxp - $x0)"; val wy = s"(syp - $y0)"
        val v00 = fAt(x0, y0); val v10 = fAt(s"$x0 + 1", y0)
        val v01 = fAt(x0, s"$y0 + 1"); val v11 = fAt(s"$x0 + 1", s"$y0 + 1")
        def in(xe: String, ye: String) =
          s"($xe >= 0 AND $xe <= $maxG AND $ye >= 0 AND $ye <= $maxG)"
        val k00 = in(x0, y0); val k10 = in(s"$x0 + 1", y0)
        val k01 = in(x0, s"$y0 + 1"); val k11 = in(s"$x0 + 1", s"$y0 + 1")
        val fact = s"((1.0 - $wy) * ((1.0 - $wx) * $v00 + $wx * $v10) + " +
          s"$wy * ((1.0 - $wx) * $v01 + $wx * $v11))"
        val acc = s"((CASE WHEN $k00 THEN $v00 * ((1.0 - $wx) * (1.0 - $wy)) ELSE 0.0 END) + " +
          s"(CASE WHEN $k10 THEN $v10 * ($wx * (1.0 - $wy)) ELSE 0.0 END) + " +
          s"(CASE WHEN $k01 THEN $v01 * ((1.0 - $wx) * $wy) ELSE 0.0 END) + " +
          s"(CASE WHEN $k11 THEN $v11 * ($wx * $wy) ELSE 0.0 END))"
        val div = s"((CASE WHEN $k00 THEN (1.0 - $wx) * (1.0 - $wy) ELSE 0.0 END) + " +
          s"(CASE WHEN $k10 THEN $wx * (1.0 - $wy) ELSE 0.0 END) + " +
          s"(CASE WHEN $k01 THEN (1.0 - $wx) * $wy ELSE 0.0 END) + " +
          s"(CASE WHEN $k11 THEN $wx * $wy ELSE 0.0 END))"
        s"""CASE WHEN $k00 AND $k10 AND $k01 AND $k11 THEN $fact
            WHEN $div = 1.0 THEN $acc
            WHEN $div < 0.00001 THEN 0.0
            ELSE $acc / $div END"""
      }
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          sm AS (SELECT gx, gy,
            (CAST(gx AS DOUBLE) + 0.5) * 0.5 + 1500.3 - 0.5 AS sxp,
            (CAST(gy AS DOUBLE) + 0.5) * 0.5 + 57.7 - 0.5 AS syp FROM px),
          v AS (SELECT gx, gy, $near AS vn, $bil AS vb FROM sm),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(floor(vn + 0.5) AS BIGINT) AS ivn,
            CAST(floor(vb + 0.5) AS BIGINT) AS ivb FROM v)
          SELECT CAST(3 AS BIGINT) AS z, tx AS x, ty AS y,
            CAST(sum(ivn % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks_near,
            CAST(sum(ivb % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks_bilinear
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdal_grid interpolation: radius search per grid node with
    // nearest/average/count data metrics via the 3x3-cell candidate join
    ("g16_grid_interp", (s, dir) => {
      val pts = t(s, dir, "events").select(
        col("event_id").as("pid"), col("value"),
        expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val nodes = engine.GridInterp.gridNodes(s, 64, 64, -180.0, 180.0, -85.0, 85.0)
      engine.GridInterp.radiusMetrics(nodes, pts, 5.0)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"), col("sum_cents"), col("nearest_pid"))
        .orderBy("i", "j")
    }, Some(s"""
      WITH nodes AS (SELECT xs.i AS i, ys.j AS j,
            -180.0 + (CAST(xs.i AS DOUBLE) + 0.5) * 5.625 AS nlon,
            -85.0 + (CAST(ys.j AS DOUBLE) + 0.5) * 2.65625 AS nlat
          FROM (SELECT unnest(generate_series(0, 63)) AS i) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) ys),
      pts AS (SELECT event_id AS pid, value, ${lonOf("event_id")} AS lon,
              ${latOf("event_id")} AS lat FROM events),
      c AS (SELECT i, j, pid, value,
            (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) AS dist2
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 25.0),
      agg AS (SELECT i, j, count(*) AS n,
            CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
          FROM c GROUP BY i, j),
      nr AS (SELECT i, j, pid AS nearest_pid FROM c
          QUALIFY row_number() OVER (PARTITION BY i, j ORDER BY dist2, pid) = 1)
      SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        COALESCE(n, 0) AS n, sum_cents, nearest_pid
      FROM nodes LEFT JOIN agg USING (i, j) LEFT JOIN nr USING (i, j)
      ORDER BY i, j""")),

    // -- ogr2ogr-style composed pipeline: bbox spat filter + attribute
    // filter + reprojection + field select + ordered limit (SURVEY §2.I)
    ("u01_ogr2ogr_pipeline", (s, dir) => {
      prep(s)
      t(s, dir, "events")
        .select(col("event_id"), col("value"), col("event_type"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
        .where(col("lon").between(-60.0, 80.0) && col("lat").between(-45.0, 65.0))
        .where(col("value") > 50.0 && col("event_type") =!= "error")
        .withColumn("m", gf.st_transform_3857(gf.st_point(col("lon"), col("lat"))))
        .select(col("event_id"),
          expr("CAST(floor(st_x(m) * 1000.0 + 0.5) AS BIGINT)").as("mx_mm"),
          expr("CAST(floor(st_y(m) * 1000.0 + 0.5) AS BIGINT)").as("my_mm"),
          expr(cents("value")).as("value_cents"))
        .orderBy(col("value_cents").desc, col("event_id")).limit(500)
    }, Some(s"""
      WITH p AS (SELECT event_id, value, event_type,
            ${lonOf("event_id")} AS lon, ${latOf("event_id")} AS lat FROM events),
      f AS (SELECT * FROM p WHERE lon BETWEEN -60.0 AND 80.0 AND lat BETWEEN -45.0 AND 65.0
            AND value > 50.0 AND event_type <> 'error')
      SELECT event_id,
             CAST(floor((${mercX("lon")}) * 1000.0 + 0.5) AS BIGINT) AS mx_mm,
             CAST(floor((${mercY("lat")}) * 1000.0 + 0.5) AS BIGINT) AS my_mm,
             ${cents("value")} AS value_cents
      FROM f ORDER BY value_cents DESC, event_id LIMIT 500""")),

    // -- OGR special fields: FID / OGR_GEOMETRY / OGR_GEOM_WKT /
    // OGR_GEOM_AREA as virtual columns (ogrfeature.cpp:1523-1533);
    // integer-coordinate geometries so the WKT text itself is oracled
    ("g17_special_fields", (s, dir) => {
      prep(s)
      val base = t(s, dir, "events")
        .select(col("event_id").as("fid"),
          expr(s"CAST(floor(${lonOf("event_id")}) AS BIGINT)").as("ix"),
          expr(s"CAST(floor(${latOf("event_id")}) AS BIGINT)").as("iy"))
        .withColumn("wkt_in", expr(
          """CASE WHEN fid % 2 = 0
             THEN concat('POINT (', ix, ' ', iy, ')')
             ELSE concat('POLYGON ((', ix, ' ', iy, ',', ix + 3, ' ', iy, ',',
                         ix + 3, ' ', iy + 2, ',', ix, ' ', iy + 2, ',', ix, ' ', iy, '))')
             END"""))
        .withColumn("wkb", gf.st_geomfromtext(col("wkt_in")))
      base.select(col("fid"),
          gf.st_geometrytype(col("wkb")).as("ogr_geometry"),
          gf.st_astext(col("wkb")).as("ogr_geom_wkt"),
          expr("CAST(floor(st_area(wkb) + 0.5) AS BIGINT)").as("ogr_geom_area"))
        .orderBy("fid")
    }, Some(s"""
      WITH b AS (SELECT event_id AS fid,
            CAST(floor(${lonOf("event_id")}) AS BIGINT) AS ix,
            CAST(floor(${latOf("event_id")}) AS BIGINT) AS iy FROM events)
      SELECT fid,
        CASE WHEN fid % 2 = 0 THEN 'POINT' ELSE 'POLYGON' END AS ogr_geometry,
        CASE WHEN fid % 2 = 0
          THEN 'POINT (' || ix || ' ' || iy || ')'
          ELSE 'POLYGON ((' || ix || ' ' || iy || ',' || (ix + 3) || ' ' || iy || ',' ||
               (ix + 3) || ' ' || (iy + 2) || ',' || ix || ' ' || (iy + 2) || ',' ||
               ix || ' ' || iy || '))' END AS ogr_geom_wkt,
        CASE WHEN fid % 2 = 0 THEN 0 ELSE 6 END AS ogr_geom_area
      FROM b ORDER BY fid""")),

    // -- COUNT(*) metadata fast path (ogr_gensql.cpp:957-974; Catalyst
    // rewrites to a metadata-only scan over parquet row counts)
    ("q18_count_star", (s, dir) => {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      names.map { n =>
        t(s, dir, n).groupBy(lit(n).as("tbl")).agg(count(lit(1)).as("n_rows"))
      }.reduce(_ unionByName _).orderBy("tbl")
    }, Some {
      val arms = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .map(n => s"SELECT '$n' AS tbl, count(*) AS n_rows FROM $n")
      s"""${arms.mkString(" UNION ALL ")} ORDER BY tbl"""
    }),

    // -- polygonize: connected components of equal-valued pixels with
    // cross-tile boundary merge; oracle = recursive min-label propagation
    ("r06_polygonize", (s, dir) => {
      val base = engine.Raster.syntheticTiles(s, 2, tileSize = 16) { (gx, gy) =>
        ((gx / 5 + gy / 3) % 4).toDouble
      }
      engine.Polygonize.components(base, width = 64)
        .select(col("label"), col("value"), col("size").cast("long").as("size"))
        .orderBy("label")
    }, Some("""
      WITH RECURSIVE px AS (
        SELECT xs.gx AS gx, ys.gy AS gy,
               ((xs.gx // 5) + (ys.gy // 3)) % 4 AS v,
               ys.gy * 64 + xs.gx AS idx
        FROM (SELECT unnest(generate_series(0, 63)) AS gx) xs
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS gy) ys),
      reach(gx, gy, lbl) AS (
        SELECT gx, gy, idx FROM px
        UNION
        SELECT p.gx, p.gy, r.lbl
        FROM reach r
        JOIN px q ON q.gx = r.gx AND q.gy = r.gy
        JOIN px p ON p.v = q.v AND abs(p.gx - q.gx) + abs(p.gy - q.gy) = 1),
      lab AS (SELECT gx, gy, min(lbl) AS label FROM reach GROUP BY gx, gy)
      SELECT l.label, CAST(p.v AS DOUBLE) AS value, count(*) AS size
      FROM lab l JOIN px p ON p.gx = l.gx AND p.gy = l.gy
      GROUP BY l.label, p.v ORDER BY l.label""")),

    // -- layer algebra: polygon-polygon intersects join via cell covers
    // (ogrlayer.cpp Intersection/Clip loop shape; axis-aligned fixtures so
    // the oracle is exact interval overlap)
    ("g18_layer_algebra", (s, dir) => {
      prep(s)
      def rectWkt(cx: String, cy: String, w: String) =
        s"concat('POLYGON ((', CAST($cx - $w AS STRING), ' ', CAST($cy - $w AS STRING), ',', " +
          s"CAST($cx + $w AS STRING), ' ', CAST($cy - $w AS STRING), ',', " +
          s"CAST($cx + $w AS STRING), ' ', CAST($cy + $w AS STRING), ',', " +
          s"CAST($cx - $w AS STRING), ' ', CAST($cy + $w AS STRING), ',', " +
          s"CAST($cx - $w AS STRING), ' ', CAST($cy - $w AS STRING), '))')"
      val left = t(s, dir, "orders").where(col("o_orderkey") <= 400)
        .select(col("o_orderkey"),
          expr(lonOfQ("o_orderkey")).as("cx"), expr(latOfQ("o_orderkey")).as("cy"),
          expr(s"1.0 + 2.0 * ${fract(s"CAST(o_orderkey AS DOUBLE) * $sqrt2")}").as("w"))
        .withColumn("wkb", gf.st_geomfromtext(expr(rectWkt("cx", "cy", "w"))))
        .select("o_orderkey", "wkb")
      val right = t(s, dir, "part")
        .select(col("p_partkey"),
          expr(lonOf("p_partkey")).as("cx"), expr(latOf("p_partkey")).as("cy"),
          expr(s"1.0 + 2.0 * ${fract(s"CAST(p_partkey AS DOUBLE) * $sqrt3")}").as("w"))
        .withColumn("wkb", gf.st_geomfromtext(expr(rectWkt("cx", "cy", "w"))))
        .select("p_partkey", "wkb")
      SpatialJoin.intersectsJoin(left, right, z = 4)
        .select("o_orderkey", "p_partkey").orderBy("o_orderkey", "p_partkey")
    }, Some(s"""
      WITH l AS (SELECT o_orderkey, ${lonOfQ("o_orderkey")} AS cx, ${latOfQ("o_orderkey")} AS cy,
            1.0 + 2.0 * ${fract(s"CAST(o_orderkey AS DOUBLE) * $sqrt2")} AS w
          FROM orders WHERE o_orderkey <= 400),
      r AS (SELECT p_partkey, ${lonOf("p_partkey")} AS cx, ${latOf("p_partkey")} AS cy,
            1.0 + 2.0 * ${fract(s"CAST(p_partkey AS DOUBLE) * $sqrt3")} AS w
          FROM part)
      SELECT o_orderkey, p_partkey FROM l JOIN r
      ON l.cx - l.w <= r.cx + r.w AND r.cx - r.w <= l.cx + l.w
      AND l.cy - l.w <= r.cy + r.w AND r.cy - r.w <= l.cy + l.w
      ORDER BY o_orderkey, p_partkey""")),

    // -- convex hull: interior points dropped, hull area + vertex count
    ("g19_convexhull", (s, dir) => {
      prep(s)
      val base = t(s, dir, "events").where(col("event_id") < 3000)
        .select(col("event_id"),
          expr(lonOf("event_id")).as("cx"),
          expr(s"greatest(-80.0, least(80.0, ${latOf("event_id")}))").as("cy"),
          expr(s"0.5 + 2.0 * ${fract(s"CAST(event_id AS DOUBLE) * $sqrt3 + 0.7")}").as("w"))
        .withColumn("mp", expr(
          "concat('MULTIPOINT ((', CAST(cx - w AS STRING), ' ', CAST(cy - w AS STRING), '),(', " +
            "CAST(cx + w AS STRING), ' ', CAST(cy - w AS STRING), '),(', " +
            "CAST(cx AS STRING), ' ', CAST(cy AS STRING), '),(', " + // interior
            "CAST(cx + w AS STRING), ' ', CAST(cy + w AS STRING), '),(', " +
            "CAST(cx - w AS STRING), ' ', CAST(cy + w AS STRING), '))')"))
        .withColumn("hull", gf.st_convexhull(gf.st_geomfromtext(col("mp"))))
      base.select(col("event_id"),
          expr("CAST(floor(st_area(hull) * 1000000.0 + 0.5) AS BIGINT)").as("area_u"),
          expr("CAST(length(st_astext(hull)) - length(replace(st_astext(hull), ',', '')) + 1 AS BIGINT)").as("n_points"))
        .orderBy("event_id")
    }, Some(s"""
      WITH b AS (SELECT event_id,
            0.5 + 2.0 * ${fract(s"CAST(event_id AS DOUBLE) * $sqrt3 + 0.7")} AS w
          FROM events WHERE event_id < 3000)
      SELECT event_id,
        CAST(floor((2.0 * w) * (2.0 * w) * 1000000.0 + 0.5) AS BIGINT) AS area_u,
        CAST(5 AS BIGINT) AS n_points
      FROM b ORDER BY event_id""")),

    // -- band algebra: normalized-difference + reclassify per pixel
    // (gdal raster calc / VRT pixel functions; checksum oracle)
    ("r07_band_calc", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 3
      val b1 = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val b2 = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 4561 + gy * 7127) % 8191).toDouble
      }
      val nd = engine.Raster.combineBands(b1, b2) { (a, b) =>
        1000.0 * (a - b) / (a + b + 1.0)
      }
      val cls = engine.Raster.mapPixels(nd) { v =>
        if (v < -500.0) 1.0 else if (v < 0.0) 2.0 else if (v < 500.0) 3.0 else 4.0
      }
      val ndC = nd.map(ti => (ti.x.toLong, ti.y.toLong,
        engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong)).toDF("x", "y", "cks_nd")
      val clsC = cls.map(ti => (ti.x.toLong, ti.y.toLong,
        engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong)).toDF("x", "y", "cks_cls")
      ndC.join(clsC, Seq("x", "y"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_nd", "cks_cls").orderBy("x", "y")
    }, Some {
      val f1 = "CAST((gx * 7919 + gy * 104729) % 9973 AS DOUBLE)"
      val f2 = "CAST((gx * 4561 + gy * 7127) % 8191 AS DOUBLE)"
      val nd = s"(1000.0 * ($f1 - $f2) / ($f1 + $f2 + 1.0))"
      val cls = s"(CASE WHEN $nd < -500.0 THEN 1.0 WHEN $nd < 0.0 THEN 2.0 WHEN $nd < 500.0 THEN 3.0 ELSE 4.0 END)"
      // checksum int conversion: floor(v+0.5) with the INT_MIN/clamp path
      // irrelevant in these ranges; nd can be negative -> same floor rule
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 2047)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 2047)) AS gy) ys),
          v AS (SELECT gx, gy, CAST(floor($nd + 0.5) AS BIGINT) AS ivn,
                CAST(floor($cls + 0.5) AS BIGINT) AS ivc FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
                ivn, ivc FROM v)
          SELECT CAST(3 AS BIGINT) AS z, tx AS x, ty AS y,
            CAST(((sum(ivn % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks_nd,
            CAST(sum(ivc % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks_cls
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- proximity raster: exact euclidean distance to nearest target
    // within radius, R-wide halo strips (gdalproximity.cpp semantics)
    ("r08_proximity", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2; val ts = 128 // 512x512 global grid
      val base = engine.Raster.syntheticTiles(s, z, tileSize = ts) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val prox = engine.Proximity.proximity(base, radius = 64, isTarget = _ < 25.0)
      prox.map(ti => (ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks").orderBy("x", "y")
    }, Some("""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy,
            (xs.gx * 7919 + ys.gy * 104729) % 9973 AS v
          FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
      tg AS (SELECT gx AS tx, gy AS ty FROM px WHERE v < 25),
      nr AS (SELECT p.gx, p.gy,
            min((t.tx - p.gx) * (t.tx - p.gx) + (t.ty - p.gy) * (t.ty - p.gy)) AS d2
          FROM px p JOIN tg t
          ON t.tx BETWEEN p.gx - 64 AND p.gx + 64 AND t.ty BETWEEN p.gy - 64 AND p.gy + 64
          GROUP BY p.gx, p.gy),
      d AS (SELECT p.gx, p.gy,
            CASE WHEN nr.d2 IS NULL OR nr.d2 > 4096 THEN 65535.0
                 ELSE sqrt(CAST(nr.d2 AS DOUBLE)) END AS dist
          FROM px p LEFT JOIN nr ON nr.gx = p.gx AND nr.gy = p.gy),
      cells AS (SELECT gx >> 7 AS tx2, gy >> 7 AS ty2, gx % 128 AS cx, gy % 128 AS cy,
            CAST(floor(dist + 0.5) AS BIGINT) AS iv FROM d)
      SELECT CAST(2 AS BIGINT) AS z, tx2 AS x, ty2 AS y,
        CAST(sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 128 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks
      FROM cells GROUP BY 2, 3 ORDER BY x, y""")),

    // -- IVF approximate nearest neighbor: coarse quantizer (first-K vecs
    // as centroids), inverted lists = cluster assignment, queries probe
    // the nprobe nearest centroids then rank exact cosine inside — the
    // bounded-candidate scale path for 100 TB similarity search
    ("e03_ivf_topk", (s, dir) => {
      prep(s) // sparkNorm uses vec_norm — don't depend on an earlier gate registering
      val e = t(s, dir, "embeddings")
        .withColumn("norm", expr(sparkNorm("embedding")))
      val cents = broadcast(e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("norm").as("cn")))
      // assign every vector to its nearest centroid by cosine (ties: cid)
      val wAssign = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
      val assigned = e.crossJoin(cents)
        .withColumn("csim", expr(sparkDot("embedding", "ce")) / (col("norm") * col("cn")))
        .withColumn("rk", row_number().over(wAssign))
        .where(col("rk") === 1)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cid"))
      // queries probe the 4 nearest centroids' lists
      val wProbe = Window.partitionBy("qid").orderBy(col("csim").desc, col("cid").asc)
      val probes = e.where(col("vec_id") >= 20 && col("vec_id") < 60)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("norm").as("qn"))
        .crossJoin(cents)
        .withColumn("csim", expr(sparkDot("qe", "ce")) / (col("qn") * col("cn")))
        .withColumn("rk", row_number().over(wProbe))
        .where(col("rk") <= 4)
        .select("qid", "qe", "qn", "cid")
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      probes.join(assigned, "cid")
        .where(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(sparkDot("qe", "embedding")) / (col("qn") * col("norm")))
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .where(col("rank") <= 3)
        .select(col("qid"), col("vec_id").as("pid"), col("rank"),
          expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
        .orderBy("qid", "rank")
    }, Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${duckNorm("embedding")} AS norm FROM embeddings),
      cents AS (SELECT vec_id AS cid, embedding AS ce, norm AS cn FROM e WHERE vec_id < 16),
      assign AS (SELECT vec_id, embedding, norm, cid FROM (
          SELECT e.vec_id, e.embedding, e.norm, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.norm * c.cn) DESC, c.cid) AS rk
          FROM e CROSS JOIN cents c) WHERE rk = 1),
      probes AS (SELECT qid, qe, qn, cid FROM (
          SELECT q.vec_id AS qid, q.embedding AS qe, q.norm AS qn, c.cid,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${duckDot("q.embedding", "c.ce")} / (q.norm * c.cn) DESC, c.cid) AS rk
          FROM e q CROSS JOIN cents c
          WHERE q.vec_id >= 20 AND q.vec_id < 60) WHERE rk <= 4),
      cand AS (SELECT p.qid, a.vec_id AS pid,
            ${duckDot("p.qe", "a.embedding")} / (p.qn * a.norm) AS cos
          FROM probes p JOIN assign a USING (cid) WHERE p.qid <> a.vec_id),
      r AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM cand)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM r WHERE rank <= 3 ORDER BY qid, rank""")),

    // -- pure-SQL surface through the registered FunctionRegistry (the
    // SQLite-dialect entry point: ST_* callable from spark.sql text)
    ("q19_sql_surface", (s, dir) => {
      prep(s)
      t(s, dir, "events").createOrReplaceTempView("ev")
      s.sql(s"""
        SELECT event_id,
               st_cell(${lonOf("event_id")}, ${latOf("event_id")}, 7) AS cell,
               tile_quadkey(7, CAST(tile_x(${lonOf("event_id")}, 7) AS INT),
                            CAST(tile_y(${latOf("event_id")}, 7) AS INT)) AS qk,
               st_astext(st_point(CAST(floor(${lonOf("event_id")}) AS DOUBLE),
                                  CAST(floor(${latOf("event_id")}) AS DOUBLE))) AS wkt
        FROM ev ORDER BY event_id""")
    }, Some {
      // cell = (z << 58) | (x << 29) | y with z=7
      val cx = tileX(lonOf("event_id"), 7); val cy = tileY(latOf("event_id"), 7)
      // quadkey at z=7: 7 digits from interleaved bits of (x, y)
      val qk = (1 to 7).map { i =>
        val mask = 1 << (7 - i)
        s"CAST((CASE WHEN ($cx & $mask) <> 0 THEN 1 ELSE 0 END) + (CASE WHEN ($cy & $mask) <> 0 THEN 2 ELSE 0 END) AS VARCHAR)"
      }.mkString(" || ")
      s"""SELECT event_id,
            (CAST(7 AS BIGINT) << 58) | ($cx << 29) | $cy AS cell,
            $qk AS qk,
            'POINT (' || CAST(CAST(floor(${lonOf("event_id")}) AS BIGINT) AS VARCHAR) || ' ' ||
              CAST(CAST(floor(${latOf("event_id")}) AS BIGINT) AS VARCHAR) || ')' AS wkt
          FROM events ORDER BY event_id"""
    }),

    // -- contour extraction: marching squares with 1px halo, per-tile
    // per-level segment count + exact integer length sum
    ("r09_contour", (s, dir) => {
      val levels = Seq(4986.5, 2000.25)
      val base = engine.Raster.syntheticTiles(s, 2, tileSize = 64) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      engine.Contour.contour(base, levels)
        .select(col("z").cast("long").as("z"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("level"),
          col("n_segments"), col("len_u"))
        .orderBy("x", "y", "level")
    }, Some {
      def segSql(L: String): (String, String) = {
        val (tl, tr, br, bl) = ("tl", "tr", "br", "bl")
        val tTop = s"(($L - $tl) / ($tr - $tl))"
        val tRight = s"(($L - $tr) / ($br - $tr))"
        val tBot = s"(($L - $bl) / ($br - $bl))"
        val tLeft = s"(($L - $tl) / ($bl - $tl))"
        def len(dx: String, dy: String) =
          s"CAST(floor(sqrt(($dx) * ($dx) + ($dy) * ($dy)) * 1000000.0 + 0.5) AS BIGINT)"
        val lb = len(s"$tBot - 0.0", s"1.0 - $tLeft")
        val bri = len(s"1.0 - $tBot", s"$tRight - 1.0")
        val lr = len("1.0", s"$tRight - $tLeft")
        val tri = len(s"1.0 - $tTop", s"$tRight - 0.0")
        val tb = len(s"$tBot - $tTop", "1.0")
        val lt = len(s"$tTop", s"0.0 - $tLeft")
        val rb = len(s"$tBot - 1.0", s"1.0 - $tRight")
        val idx = s"((CASE WHEN $tl >= $L THEN 8 ELSE 0 END) + (CASE WHEN $tr >= $L THEN 4 ELSE 0 END) + " +
          s"(CASE WHEN $br >= $L THEN 2 ELSE 0 END) + (CASE WHEN $bl >= $L THEN 1 ELSE 0 END))"
        val n = s"(CASE $idx WHEN 0 THEN 0 WHEN 15 THEN 0 WHEN 5 THEN 2 WHEN 10 THEN 2 ELSE 1 END)"
        val lenSum = s"""(CASE $idx
          WHEN 0 THEN 0 WHEN 15 THEN 0
          WHEN 1 THEN $lb WHEN 14 THEN $lb
          WHEN 2 THEN $bri WHEN 13 THEN $bri
          WHEN 3 THEN $lr WHEN 12 THEN $lr
          WHEN 4 THEN $tri WHEN 11 THEN $tri
          WHEN 6 THEN $tb WHEN 9 THEN $tb
          WHEN 7 THEN $lt WHEN 8 THEN $lt
          WHEN 5 THEN $lt + $rb
          WHEN 10 THEN $lb + $tri END)"""
        (n, lenSum)
      }
      def f(xe: String, ye: String) =
        s"CAST((($xe) * 7919 + ($ye) * 104729) % 9973 AS DOUBLE)"
      val arms = Seq("4986.5", "2000.25").map { l =>
        val (n, ls) = segSql(l)
        s"""SELECT gx >> 6 AS x, gy >> 6 AS y, $l AS level,
            CAST(sum($n) AS BIGINT) AS n_segments, CAST(sum($ls) AS BIGINT) AS len_u
            FROM cells GROUP BY 1, 2"""
      }
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 254)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 254)) AS gy) ys),
          cells AS (SELECT gx, gy, ${f("gx", "gy")} AS tl, ${f("gx + 1", "gy")} AS tr,
            ${f("gx + 1", "gy + 1")} AS br, ${f("gx", "gy + 1")} AS bl FROM px)
          SELECT CAST(2 AS BIGINT) AS z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
                 level, n_segments, len_u
          FROM (${arms.mkString(" UNION ALL ")})
          ORDER BY x, y, level"""
    }),

    // -- fill-nodata: IDW inpaint of nodata pixels within radius (R-halo)
    ("r10_fill_nodata", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2; val ts = 128
      val base = engine.Raster.syntheticTiles(s, z, tileSize = ts) { (gx, gy) =>
        if ((gx * 31 + gy * 17) % 37 == 0) -1.0
        else ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      engine.Fill.fillNodata(base, radius = 16, nodata = -1.0)
        .map(ti => (ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks").orderBy("x", "y")
    }, Some {
      val d2 = "((q.vx - p.gx) * (q.vx - p.gx) + (q.vy - p.gy) * (q.vy - p.gy))"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy,
            CASE WHEN (xs.gx * 31 + ys.gy * 17) % 37 = 0 THEN -1.0
                 ELSE CAST((xs.gx * 7919 + ys.gy * 104729) % 9973 AS DOUBLE) END AS v
          FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
      valid AS (SELECT gx AS vx, gy AS vy, v AS vv FROM px WHERE v <> -1.0),
      fb AS (SELECT p.gx, p.gy,
            sum(q.vv / CAST($d2 AS DOUBLE)) AS num,
            sum(1.0 / CAST($d2 AS DOUBLE)) AS den
          FROM px p JOIN valid q
          ON q.vx BETWEEN p.gx - 16 AND p.gx + 16 AND q.vy BETWEEN p.gy - 16 AND p.gy + 16
            AND $d2 BETWEEN 1 AND 256
          WHERE p.v = -1.0
          GROUP BY p.gx, p.gy),
      d AS (SELECT p.gx, p.gy,
            CASE WHEN p.v <> -1.0 THEN p.v
                 WHEN fb.den > 0.0 THEN fb.num / fb.den ELSE -1.0 END AS v2
          FROM px p LEFT JOIN fb ON fb.gx = p.gx AND fb.gy = p.gy),
      cells AS (SELECT gx >> 7 AS tx, gy >> 7 AS ty, gx % 128 AS cx, gy % 128 AS cy,
            CAST(floor(v2 + 0.5) AS BIGINT) AS iv FROM d)
      SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
        CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 128 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
      FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdallocationinfo: point → raster pixel value lookup (join on the
    // tile key, in-tile array index; oracle recomputes f analytically)
    ("r11_location_info", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 3
      val tiles = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }.toDF().select(col("x").as("tx"), col("y").as("ty"), col("pixels"))
      val pts = eventPoints(s, dir).where(col("event_id") < 5000)
        .withColumn("pxd", expr(s"((${mercX("lon")}) + $os) / ${resAt(z)}"))
        .withColumn("pyd", expr(s"2048.0 - (((${mercY("lat")}) + $os) / ${resAt(z)})"))
        .where(col("pxd") >= 0 && col("pxd") < 2048 && col("pyd") >= 0 && col("pyd") < 2048)
        .withColumn("ipx", expr("CAST(floor(pxd) AS BIGINT)"))
        .withColumn("ipy", expr("CAST(floor(pyd) AS BIGINT)"))
        .withColumn("tx", shiftright(col("ipx"), 8).cast("int"))
        .withColumn("ty", shiftright(col("ipy"), 8).cast("int"))
      pts.join(tiles, Seq("tx", "ty"))
        .select(col("event_id"), col("ipx"), col("ipy"),
          element_at(col("pixels"),
            (pmod(col("ipy"), lit(256)) * 256 + pmod(col("ipx"), lit(256)) + 1).cast("int")).as("v"))
        .orderBy("event_id")
    }, Some(s"""
      WITH p AS (SELECT event_id,
            ((${mercX(lonOf("event_id"))}) + $os) / ${resAt(3)} AS pxd,
            2048.0 - (((${mercY(latOf("event_id"))}) + $os) / ${resAt(3)}) AS pyd
          FROM events WHERE event_id < 5000),
      q AS (SELECT event_id, CAST(floor(pxd) AS BIGINT) AS ipx,
            CAST(floor(pyd) AS BIGINT) AS ipy FROM p
          WHERE pxd >= 0 AND pxd < 2048 AND pyd >= 0 AND pyd < 2048)
      SELECT event_id, ipx, ipy,
        CAST((ipx * 7919 + ipy * 104729) % 9973 AS DOUBLE) AS v
      FROM q ORDER BY event_id""")),

    // -- distributed sieve filter over a stripe raster whose merge result
    // has a closed form: vertical stripes with widths from a deterministic
    // sequence; stripes with area < threshold are absorbed into the wider
    // of their two neighbors (GDALSieveFilter smallest-first semantics;
    // the stripe pattern guarantees merges are independent: no two small
    // stripes share a neighbor, so the SQL lag/lead rule is exact).
    // Raster 512x256 tiled 128px (4x2 tiles) -> components cross tiles.
    ("r12_sieve", (s, dir) => {
      val sp = s
      import sp.implicits._
      // stripe spec: prefix of i=0.. while inclusive cum width <= 500,
      // then a padding stripe to x=512. Widths: small 1+(i%2) when i%3==2,
      // else large 6+(i%5). Values 10+i; padding 99999.
      val stripes = {
        val buf = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
        var cum = 0; var i = 0; var stop = false
        while (i < 200 && !stop) {
          val w = if (i % 3 == 2) 1 + (i % 2) else 6 + (i % 5)
          if (cum + w <= 500) { buf += ((cum, cum + w, 10.0 + i)); cum += w }
          else stop = true
          i += 1
        }
        buf += ((cum, 512, 99999.0))
        buf.toArray
      }
      val x0s = stripes.map(_._1)
      val valueAt: Int => Double = gx => {
        var lo = 0; var hi = stripes.length - 1
        while (lo < hi) { val m = (lo + hi + 1) / 2; if (x0s(m) <= gx) lo = m else hi = m - 1 }
        stripes(lo)._3
      }
      val ts = 128
      val tiles = s.range(0, 8, 1, 8).map { id =>
        val tx = (id % 4).toInt; val ty = (id / 4).toInt
        val px = new Array[Double](ts * ts)
        var y = 0
        while (y < ts) {
          var x = 0
          while (x < ts) { px(y * ts + x) = valueAt(tx * ts + x); x += 1 }
          y += 1
        }
        engine.Tile(0, tx, ty, 1, ts, ts, px)
      }
      engine.Sieve.sieve(tiles, width = 512, threshold = 1500)
        .flatMap { t =>
          // stripes are vertical: one (column, value) pair per column
          (0 until t.w).iterator.map { x =>
            ((t.x * t.w + x).toLong, t.pixels(x).toLong)
          }
        }.distinct().toDF("x", "v")
        .orderBy("x")
    }, Some("""
      WITH s AS (SELECT i, CASE WHEN i % 3 = 2 THEN 1 + (i % 2)
                   ELSE 6 + (i % 5) END AS w
                 FROM (SELECT unnest(generate_series(0, 199)) AS i)),
      c AS (SELECT i, w, CAST(sum(w) OVER (ORDER BY i) AS BIGINT) AS cumw FROM s),
      kept AS (SELECT i, w, cumw - w AS x0, cumw AS x1, 10 + i AS val
               FROM c WHERE cumw <= 500),
      mx AS (SELECT max(i) AS mi, max(x1) AS mc FROM kept),
      pad AS (SELECT mi + 1 AS i, CAST(512 - mc AS BIGINT) AS w, mc AS x0,
                     CAST(512 AS BIGINT) AS x1, 99999 AS val FROM mx),
      st AS (SELECT * FROM kept UNION ALL SELECT * FROM pad),
      j AS (SELECT i, w * 256 AS area, x0, x1, val,
              lag(val) OVER (ORDER BY i) AS lval, lag(w) OVER (ORDER BY i) AS lw,
              lead(val) OVER (ORDER BY i) AS rval, lead(w) OVER (ORDER BY i) AS rw
            FROM st),
      f AS (SELECT x0, x1,
              CASE WHEN area >= 1500 THEN val
                   WHEN lw IS NULL AND rw IS NULL THEN val
                   WHEN lw IS NULL THEN rval
                   WHEN rw IS NULL THEN lval
                   WHEN lw >= rw THEN lval
                   ELSE rval END AS fv
            FROM j),
      px AS (SELECT unnest(generate_series(0, 511)) AS x)
      SELECT CAST(x AS BIGINT) AS x, CAST(fv AS BIGINT) AS v
      FROM px JOIN f ON x >= x0 AND x < x1 ORDER BY x""")),

    // -- gap-based sessionization over the events stream table (window
    // lag + running session counter — SQLite-dialect window surface)
    ("s02_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess", when(col("prev_ts").isNull ||
          expr("unix_timestamp(ts) - unix_timestamp(prev_ts) > 1800"), 1).otherwise(0))
        .withColumn("sess_no", sum("new_sess").over(wRun))
        .groupBy("user_id", "sess_no")
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(unix_timestamp(max(ts)) - unix_timestamp(min(ts)) AS BIGINT)").as("dur_s"),
          sum(expr(cents("value"))).as("sum_cents"))
        .withColumn("sess_no", col("sess_no").cast("long"))
        .orderBy("user_id", "sess_no")
    }, Some(s"""
      WITH l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                 FROM events),
      f AS (SELECT *, CASE WHEN prev_ts IS NULL
              OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS new_sess
            FROM l),
      g AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no FROM f)
      SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no, count(*) AS n_events,
             CAST(CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS BIGINT) AS dur_s,
             CAST(sum(${cents("value")}) AS BIGINT) AS sum_cents
      FROM g GROUP BY user_id, sess_no ORDER BY user_id, sess_no""")),

    // -- PIP join through per-cell polygon SUBDIVISION (g65): the
    // big-polygon fix — each fixture polygon is clipped into per-cell
    // pieces (engine/Subdivide: st_cover → st_clip_bbox on the cell
    // bbox), the join runs against the pieces, and the (event, poly) row
    // set must be IDENTICAL to the direct join's closed-form oracle
    // (g03's). Distinct collapses a point matching two pieces of the same
    // polygon across a cell boundary. At scale this bounds the per-probe
    // refine cost by the vertices inside one cell and spreads a hot
    // polygon's probes across its pieces.
    ("g65_subdivide_join", (s, dir) => {
      val pieces = engine.Subdivide.byCells(fixturePolyDf(s), z = 3).drop("cell")
      SpatialJoin.pipJoin(eventPoints(s, dir), pieces, z = 3)
        .select("event_id", "poly_id").distinct()
        .orderBy("event_id", "poly_id")
    }, Some {
      val arms = polygons.map { case (id, _, _) =>
        s"SELECT event_id, '$id' AS poly_id FROM pts WHERE ${insidePolySql(id, "lon", "lat")}"
      }
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events)
          ${arms.mkString(" UNION ALL ")} ORDER BY event_id, poly_id"""
    })
  )

  /** GDALChecksumImage oracle over the z5 point raster; shift>0 checksums
    * the pyramid level z5-shift (pixel coords halve per level, value = sum
    * of the 2^shift × 2^shift block = plain count regroup). */
  private def rasterChecksumSql(shift: Int): String = {
    val z = 5 - shift
    s"""WITH pp AS (SELECT ((${mercX(lonOf("event_id"))}) + $os) / ${resAt(5)} AS pxd,
          8192.0 - ((${mercY(latOf("event_id"))}) + $os) / ${resAt(5)} AS pyd FROM events),
        pix AS (SELECT CAST(floor(pxd) AS BIGINT) >> $shift AS px,
                       CAST(floor(pyd) AS BIGINT) >> $shift AS py FROM pp
                WHERE pxd >= 0 AND pxd < 8192 AND pyd >= 0 AND pyd < 8192),
        cells AS (SELECT px >> 8 AS tx, py >> 8 AS ty, px % 256 AS cx, py % 256 AS cy,
                  count(*) AS n FROM pix GROUP BY 1, 2, 3, 4)
        SELECT CAST($z AS BIGINT) AS z, tx AS x, ty AS y,
          CAST(sum(n % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks
        FROM cells GROUP BY 2, 3 ORDER BY x, y"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (defs ++ defs2 ++ defs3 ++ Queries2.defs4 ++ Queries3.defs5 ++ Queries4.defs6 ++ Queries5.defs7 ++ Queries6.defs8 ++ Queries7.defs9)
      .map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    (defs ++ defs2 ++ defs3 ++ Queries2.defs4 ++ Queries3.defs5 ++ Queries4.defs6 ++ Queries5.defs7 ++ Queries6.defs8 ++ Queries7.defs9)
      .collect { case (n, _, Some(sql)) => n -> sql.trim }.toMap
}
