package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryFixtures._

/** Round-5 gate queries. Same conventions as [[Queries]]: identical output
  * column names/types on both sides, deterministic ORDER BY, BIGINT/STRING
  * outputs where possible. */
object Queries4 {

  val defs6: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- NTv2-style grid-shift datum transform (g52): the bilinear
    // shift-surface interpolation ALGORITHM of the public NTv2 format
    // (the hgridshift step ogrct.cpp:1788-2122 pipelines resolve to),
    // over a synthetic in-code grid whose node values are exact binary
    // fractions computed from node indices — the DuckDB twin rebuilds the
    // identical grid from the same closed form and interpolates with the
    // same operation order. Points outside the grid pass through (PROJ
    // out-of-grid fallback); events span lat ±85 vs the grid's ±80, so
    // both branches are exercised.
    ("g52_grid_shift", (s, dir) => {
      prep(s)
      val g = geom.GridShift.syntheticGrid()
      val pts = t(s, dir, "events").where(col("event_id") < 3000)
        .select(col("event_id"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val (lonS, latS) = geom.GridShift.forwardCols(g, col("lon"), col("lat"))
      pts.select(col("event_id"),
          floor(lonS * lit(1.0e7) + lit(0.5)).cast("long").as("lon_e7"),
          floor(latS * lit(1.0e7) + lit(0.5)).cast("long").as("lat_e7"))
        .orderBy("event_id")
    }, Some {
      val g = geom.GridShift.syntheticGrid()
      val la = g.latShiftSec.mkString("[", ",", "]")
      val lo = g.lonShiftSec.mkString("[", ",", "]")
      val nC = g.nCols
      s"""
      WITH grid AS (SELECT CAST($la AS DOUBLE[]) AS la, CAST($lo AS DOUBLE[]) AS lo),
      pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 3000),
      b AS (SELECT event_id, lon, lat,
            (lat - (${g.latMin})) / ${g.dlat} AS fi,
            (lon - (${g.lonMin})) / ${g.dlon} AS fj FROM pts),
      c AS (SELECT *, CAST(least(greatest(floor(fi), 0.0), ${(g.nRows - 2).toDouble}) AS INT) AS i,
            CAST(least(greatest(floor(fj), 0.0), ${(g.nCols - 2).toDouble}) AS INT) AS j FROM b),
      d AS (SELECT *, fi - CAST(i AS DOUBLE) AS u, fj - CAST(j AS DOUBLE) AS v,
            i * $nC + j + 1 AS idx FROM c),
      e AS (SELECT event_id, lon, lat, u, v, idx,
            (1.0 - u) * ((1.0 - v) * list_extract(grid.la, idx) + v * list_extract(grid.la, idx + 1))
              + u * ((1.0 - v) * list_extract(grid.la, idx + $nC) + v * list_extract(grid.la, idx + $nC + 1)) AS slat,
            (1.0 - u) * ((1.0 - v) * list_extract(grid.lo, idx) + v * list_extract(grid.lo, idx + 1))
              + u * ((1.0 - v) * list_extract(grid.lo, idx + $nC) + v * list_extract(grid.lo, idx + $nC + 1)) AS slon
          FROM d, grid),
      f AS (SELECT event_id,
            CASE WHEN lat >= ${g.latMin} AND lat <= ${g.latMax} AND lon >= ${g.lonMin} AND lon <= ${g.lonMax}
                 THEN lon - slon / 3600.0 ELSE lon END AS lon2,
            CASE WHEN lat >= ${g.latMin} AND lat <= ${g.latMax} AND lon >= ${g.lonMin} AND lon <= ${g.lonMax}
                 THEN lat + slat / 3600.0 ELSE lat END AS lat2 FROM e)
      SELECT event_id, CAST(floor(lon2 * 10000000.0 + 0.5) AS BIGINT) AS lon_e7,
             CAST(floor(lat2 * 10000000.0 + 0.5) AS BIGINT) AS lat_e7
      FROM f ORDER BY event_id"""
    }),

    // -- tile sink formats beyond PNG (u05): `gdal raster tile --format`
    // (gdalalg_raster_tile.cpp:192-211, jpg extension :2566) — a MIXED
    // z/x/y tree: z0-z1 PNG (lossless, exact round-trip checksums) + z2
    // JPEG (lossy: a smooth gradient pattern decodes back within a small
    // bounded error, distilled to a predictable bit). Resume stays
    // per-file per-format: deleting one tile of each format and rerunning
    // with resume=true regenerates exactly those two files.
    ("u05_tile_sink_formats", (s, _) => {
      import s.implicits._
      prep(s)
      val ts = 64
      def pngPix(z: Int, x: Int, y: Int): Array[Double] =
        Array.tabulate(ts * ts)(i =>
          (((i % ts) * 7919 + (i / ts) * 104729 + z * 37 + x * 11 + y * 13) % 251).toDouble)
      // smooth non-wrapping ramp (max 63+63+9+15 = 150 < 256): a wrap cliff
      // inside a tile makes JPEG's DCT ring past the error bound
      def jpgPix(x: Int, y: Int): Array[Double] =
        Array.tabulate(ts * ts)(i =>
          ((i % ts) + (i / ts) + x * 3 + y * 5).toDouble)
      val pngTiles = for { z <- 0 to 1; x <- 0 until (1 << z); y <- 0 until (1 << z) }
        yield engine.Tile(z, x, y, 0, ts, ts, pngPix(z, x, y))
      val jpgTiles = for { x <- 0 until 4; y <- 0 until 4 }
        yield engine.Tile(2, x, y, 0, ts, ts, jpgPix(x, y))
      val out = java.nio.file.Files.createTempDirectory("graft_u05").toString
      val w1 = engine.TileSink.writeTiles(s.createDataset(pngTiles), out).collect()
      val w2 = engine.TileSink.writeTiles(s.createDataset(jpgTiles), out,
        format = "jpeg").collect()
      require(w1.length == 5 && w1.forall(_.getBoolean(4)), "png full write")
      require(w2.length == 16 && w2.forall(_.getBoolean(4)) &&
        w2.forall(_.getString(3).endsWith(".jpg")), "jpg full write")
      def pngBack(phase: String): Seq[(String, Long, Long, Long, Long)] =
        engine.TileSink.readTiles(s, out)
          .map(t => (t.z.toLong, t.x.toLong, t.y.toLong,
            engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
          .collect().toSeq.map { case (z, x, y, c) => (phase, z, x, y, c) }
      def jpgBack(phase: String): Seq[(String, Long, Long, Long, Long)] =
        engine.TileSink.readTiles(s, out, format = "jpeg")
          .map { t =>
            val src = jpgPix(t.x, t.y)
            val err = t.pixels.indices.map(i => math.abs(t.pixels(i) - src(i))).max
            (t.z.toLong, t.x.toLong, t.y.toLong,
              if (err <= 16.0) 1L else math.ceil(err).toLong)
          }.collect().toSeq.map { case (z, x, y, c) => (phase, z, x, y, c) }
      val a = pngBack("a_png") ++ jpgBack("a_jpeg")
      // delete one file of each format; resume regenerates exactly those
      val conf = s.sparkContext.hadoopConfiguration
      Seq(s"$out/1/0/1.png", s"$out/2/3/2.jpg").foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        require(p.getFileSystem(conf).delete(p, false), s"victim delete $f")
      }
      val r1 = engine.TileSink.writeTiles(s.createDataset(pngTiles), out,
        resume = true).collect()
      val r2 = engine.TileSink.writeTiles(s.createDataset(jpgTiles), out,
        resume = true, format = "jpeg").collect()
      val b = (r1 ++ r2).filter(_.getBoolean(4)).map(r =>
        ("b_resumed", r.getInt(0).toLong, r.getInt(1).toLong, r.getInt(2).toLong, -1L)).toSeq
      val c = pngBack("c_png") ++ jpgBack("c_jpeg")
      engine.TileSink.writeMetadata(s, out, "u05", -180.0, -85.0, 180.0, 85.0,
        minZoom = 0, maxZoom = 2, tileSize = ts, format = "jpeg")
      val md = s.read.option("multiLine", "true").json(s"$out/metadata.json").collect().head
      val mOk = md.getAs[String]("tileformat") == "jpg" &&
        md.getAs[String]("tiles").endsWith(".jpg")
      val m = Seq(("m_meta", 0L, 0L, 0L, if (mOk) 1L else 0L))
      (a ++ b ++ c ++ m).toDF("phase", "z", "x", "y", "cks")
        .orderBy("phase", "z", "x", "y")
    }, Some("""
      WITH ptiles AS (
        SELECT z, x.x AS x, y.y AS y
        FROM (SELECT unnest(generate_series(0, 1)) AS z) zz
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS x) x
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS y) y
        WHERE x.x < (1 << z) AND y.y < (1 << z)),
      jtiles AS (
        SELECT 2 AS z, x.x AS x, y.y AS y
        FROM (SELECT unnest(generate_series(0, 3)) AS x) x
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS y) y),
      px AS (SELECT unnest(generate_series(0, 63)) AS p),
      pcks AS (
        SELECT t.z, t.x, t.y,
          ((SUM(((i.p * 7919 + j.p * 104729 + t.z * 37 + t.x * 11 + t.y * 13) % 251)
                % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((j.p * 64 + i.p) % 11 AS INT) + 1])
            % 65536) + 65536) % 65536 AS cks
        FROM ptiles t CROSS JOIN px i CROSS JOIN px j
        GROUP BY t.z, t.x, t.y)
      SELECT phase, CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x,
             CAST(y AS BIGINT) AS y, CAST(cks AS BIGINT) AS cks FROM (
        SELECT 'a_png' AS phase, z, x, y, cks FROM pcks
        UNION ALL SELECT 'a_jpeg', z, x, y, 1 FROM jtiles
        UNION ALL SELECT 'b_resumed', 1, 0, 1, -1
        UNION ALL SELECT 'b_resumed', 2, 3, 2, -1
        UNION ALL SELECT 'c_png', z, x, y, cks FROM pcks
        UNION ALL SELECT 'c_jpeg', z, x, y, 1 FROM jtiles
        UNION ALL SELECT 'm_meta', 0, 0, 0, 1
      ) ORDER BY phase, z, x, y""")),

    // -- MDArray view-algebra tail (m06): GetUnscaled
    // (gdalmultidim_array_unscaled.cpp:395-449), GetMeshGrid
    // (gdalmultidim_array_meshgrid.cpp:252-330, xy indexing over a REVERSED
    // input view — composition proof), and GetGridded
    // (gdalmultidim_array_gridded.cpp:377-830: env→frame→lattice nodes→
    // invdist) chained: the gridded VALUES array is itself a lazy unscaled
    // view. All inputs are exact binary fractions from integer closed
    // forms; the DuckDB twin rebuilds the frame and interpolation with the
    // same op order (sum order may differ — micro-rounding absorbs it,
    // the g16/g51 pattern).
    ("m06_mdarray_views2", (s, _) => {
      prep(s)
      val N = 400L
      val xa = engine.MdArray.create(s, Array(N), Array(64))(c =>
        ((c(0) * 7919) % 1280) / 16.0 - 40.0)
      val ya = engine.MdArray.create(s, Array(N), Array(64))(c =>
        ((c(0) * 104729) % 960) / 16.0 - 30.0)
      val va = engine.MdArray.create(s, Array(N), Array(64))(c =>
        ((c(0) * 37) % 100) * 0.25)
      val gr = va.unscale(0.5, 3.0).gridded(xa, ya, radius = Some(3.0),
        minPoints = 1, nodata = -1.0, resolution = Some(2.0))
      val gpart = gr.arr.toTable.select(lit("g").as("part"),
        col("d0").as("a"), col("d1").as("b"),
        expr("CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"))
      val un = engine.MdArray.create(s, Array(24L), Array(7))(c =>
          if (c(0) % 7 == 0) -1.0 else c(0) * 0.5)
        .unscale(2.0, 1.0, srcNodata = Some(-1.0), dstNodata = -9999.0)
      val upart = un.toTable.select(lit("u").as("part"),
        col("d0").as("a"), lit(0L).as("b"),
        expr("CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"))
      val mx = engine.MdArray.create(s, Array(6L), Array(4))(c => c(0) * 0.5 - 1.0)
      val my = engine.MdArray.create(s, Array(4L), Array(4))(c => c(0) * 0.25)
      val mg = engine.MdArray.meshgrid(Seq(mx.getView("[::-1]"), my), "xy")
      def mpart(tag: String, a: engine.MdArray) = a.toTable.select(
        lit(tag).as("part"), col("d0").as("a"), col("d1").as("b"),
        expr("CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"))
      gpart.unionByName(upart)
        .unionByName(mpart("mx", mg(0))).unionByName(mpart("my", mg(1)))
        .orderBy("part", "a", "b")
    }, Some("""
      WITH p AS (SELECT unnest(generate_series(0, 399)) AS pid),
      pts AS (SELECT pid,
          CAST((pid * 7919) % 1280 AS DOUBLE) / 16.0 - 40.0 AS lon,
          CAST((pid * 104729) % 960 AS DOUBLE) / 16.0 - 30.0 AS lat,
          CAST((pid * 37) % 100 AS DOUBLE) * 0.25 * 0.5 + 3.0 AS value FROM p),
      env AS (SELECT min(lon) AS minx, max(lon) AS maxx,
                     min(lat) AS miny, max(lat) AS maxy FROM pts),
      fr AS (SELECT *,
          greatest(2, CAST(1 + floor((maxx - minx) / 2.0 + 1e-8) AS INT)) AS nx,
          greatest(2, CAST(1 + floor((maxy - miny) / 2.0 + 1e-8) AS INT)) AS ny
        FROM env),
      fr2 AS (SELECT *, (maxx - minx) / CAST(nx - 1 AS DOUBLE) AS resx,
          (maxy - miny) / CAST(ny - 1 AS DOUBLE) AS resy FROM fr),
      nodes AS (SELECT ii.i, jj.j,
          minx + CAST(ii.i AS DOUBLE) * resx AS nlon,
          miny + CAST(jj.j AS DOUBLE) * resy AS nlat
        FROM fr2,
          (SELECT unnest(generate_series(0, 4095)) AS i) ii,
          (SELECT unnest(generate_series(0, 4095)) AS j) jj
        WHERE ii.i < nx AND jj.j < ny),
      c AS (SELECT n.i, n.j, p2.pid, p2.value,
          (p2.lon - n.nlon) * (p2.lon - n.nlon) +
            (p2.lat - n.nlat) * (p2.lat - n.nlat) AS r2
        FROM nodes n JOIN pts p2
        ON (p2.lon - n.nlon) * (p2.lon - n.nlon) +
           (p2.lat - n.nlat) * (p2.lat - n.nlat) <= 9.0),
      m AS (SELECT i, j, count(*) AS n,
          sum(value * (1.0 / r2)) / sum(1.0 / r2) AS wval,
          arg_min(value, pid) FILTER (WHERE r2 < 1e-13) AS sing,
          count(*) FILTER (WHERE r2 < 1e-13) AS nsing
        FROM c GROUP BY i, j),
      g AS (SELECT CAST(n.j AS BIGINT) AS a, CAST(n.i AS BIGINT) AS b,
          CASE WHEN m.nsing > 0 THEN m.sing
               WHEN m.n >= 1 THEN m.wval ELSE -1.0 END AS v
        FROM nodes n LEFT JOIN m ON n.i = m.i AND n.j = m.j)
      SELECT part, a, b, CAST(floor(v * 1000000.0 + 0.5) AS BIGINT) AS val_micro
      FROM (
        SELECT 'g' AS part, a, b, v FROM g
        UNION ALL
        SELECT 'u', CAST(k AS BIGINT), 0,
          CASE WHEN k % 7 = 0 THEN -9999.0 ELSE CAST(k AS DOUBLE) + 1.0 END
        FROM (SELECT unnest(generate_series(0, 23)) AS k)
        UNION ALL
        SELECT 'mx', CAST(c0.a AS BIGINT), CAST(c1.b AS BIGINT),
          CAST(5 - c1.b AS DOUBLE) * 0.5 - 1.0
        FROM (SELECT unnest(generate_series(0, 3)) AS a) c0,
             (SELECT unnest(generate_series(0, 5)) AS b) c1
        UNION ALL
        SELECT 'my', CAST(c0.a AS BIGINT), CAST(c1.b AS BIGINT),
          CAST(c0.a AS DOUBLE) * 0.25
        FROM (SELECT unnest(generate_series(0, 3)) AS a) c0,
             (SELECT unnest(generate_series(0, 5)) AS b) c1
      ) ORDER BY part, a, b""")),

    // -- Perspective azimuthal projections (g53): Orthographic, Gnomonic
    // and oblique Stereographic (spherical forms on the semi-major
    // sphere; Snyder §20/§22/§21, PROJ ortho/gnom/stere — the remaining
    // widely-used members of the azimuthal family after aeqd in g46).
    // Points restricted to a lon/lat window whose worst corner is ~67°
    // from the (40°N, 10°E) center, so every point is strictly inside all
    // three domains (cos c ≥ 0.38; gnomonic k' ≤ 2.62) and no NaN branch
    // can straddle the oracle. Forward coordinates mm-rounded with the
    // oracle mirroring the kernel's operation order exactly; inverses
    // verified as zero micro-degree round-trip residuals (Snyder 20-14
    // shared azimuthal inverse core).
    ("g53_proj_azimuthal", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .where(col("lon") > -50.0 && col("lon") < 70.0 &&
               col("lat") > 0.0 && col("lat") < 80.0)
        .withColumn("pw", gf.st_point(col("lon"), col("lat")))
        .withColumn("go", expr("st_transform_ortho(pw, 40.0, 10.0)"))
        .withColumn("gg", expr("st_transform_gnom(pw, 40.0, 10.0)"))
        .withColumn("gs", expr("st_transform_stere(pw, 40.0, 10.0)"))
        .withColumn("ro", expr(
          "st_transform_ortho_inv(st_transform_ortho(pw, 40.0, 10.0), 40.0, 10.0)"))
        .withColumn("rg", expr(
          "st_transform_gnom_inv(st_transform_gnom(pw, 40.0, 10.0), 40.0, 10.0)"))
        .withColumn("rs", expr(
          "st_transform_stere_inv(st_transform_stere(pw, 40.0, 10.0), 40.0, 10.0)"))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(go) * 1000.0 + 0.5) AS BIGINT)").as("ox_mm"),
          expr("CAST(floor(st_y(go) * 1000.0 + 0.5) AS BIGINT)").as("oy_mm"),
          expr("CAST(floor(st_x(gg) * 1000.0 + 0.5) AS BIGINT)").as("gx_mm"),
          expr("CAST(floor(st_y(gg) * 1000.0 + 0.5) AS BIGINT)").as("gy_mm"),
          expr("CAST(floor(st_x(gs) * 1000.0 + 0.5) AS BIGINT)").as("sx_mm"),
          expr("CAST(floor(st_y(gs) * 1000.0 + 0.5) AS BIGINT)").as("sy_mm"),
          expr("CAST(floor((st_x(ro) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("orlon_u"),
          expr("CAST(floor((st_y(ro) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("orlat_u"),
          expr("CAST(floor((st_x(rg) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("grlon_u"),
          expr("CAST(floor((st_y(rg) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("grlat_u"),
          expr("CAST(floor((st_x(rs) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("srlon_u"),
          expr("CAST(floor((st_y(rs) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("srlat_u"))
        .orderBy("event_id")
    }, Some {
      val aL = dlit(graft.geom.Conic.A)
      val d2rl = "(pi() / 180.0)"
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      ptf AS (SELECT * FROM pts
              WHERE lon > -50.0 AND lon < 70.0 AND lat > 0.0 AND lat < 80.0),
      cc AS (SELECT event_id, lon, lat,
          lat * $d2rl AS phi, (lon - 10.0) * $d2rl AS dl,
          40.0 * $d2rl AS phi0 FROM ptf),
      az AS (SELECT event_id, phi, dl, phi0,
          sin(phi0) * sin(phi) + cos(phi0) * cos(phi) * cos(dl) AS cosc
          FROM cc),
      v AS (SELECT event_id,
          $aL * cos(phi) * sin(dl) AS ox,
          $aL * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(dl)) AS oy,
          $aL * (1.0 / cosc) * cos(phi) * sin(dl) AS gx,
          $aL * (1.0 / cosc) * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(dl)) AS gy,
          $aL * (2.0 / (1.0 + cosc)) * cos(phi) * sin(dl) AS sx,
          $aL * (2.0 / (1.0 + cosc)) * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(dl)) AS sy
          FROM az)
      SELECT event_id,
          CAST(floor(ox * 1000.0 + 0.5) AS BIGINT) AS ox_mm,
          CAST(floor(oy * 1000.0 + 0.5) AS BIGINT) AS oy_mm,
          CAST(floor(gx * 1000.0 + 0.5) AS BIGINT) AS gx_mm,
          CAST(floor(gy * 1000.0 + 0.5) AS BIGINT) AS gy_mm,
          CAST(floor(sx * 1000.0 + 0.5) AS BIGINT) AS sx_mm,
          CAST(floor(sy * 1000.0 + 0.5) AS BIGINT) AS sy_mm,
          CAST(0 AS BIGINT) AS orlon_u, CAST(0 AS BIGINT) AS orlat_u,
          CAST(0 AS BIGINT) AS grlon_u, CAST(0 AS BIGINT) AS grlat_u,
          CAST(0 AS BIGINT) AS srlon_u, CAST(0 AS BIGINT) AS srlat_u
      FROM v ORDER BY event_id"""}),

    // -- Streaming late-data drop semantics (s03): the watermark contract
    // that keeps streaming aggregation state BOUNDED at scale. Events
    // arrive as 4 deterministic microbatches (event_id % 4 — each spans
    // the full event-time range, so batches 1-3 are almost entirely
    // late), one checkpoint-restarted AvailableNow run per batch; the
    // watermark while processing batch k is max(event-time ms over
    // batches < k) − 600500, and a row survives iff its 5-minute window
    // end is above it. The oracle replays exactly that advancement:
    // per-batch max, prefix max, keep-predicate, aggregate. The 500 ms
    // delay offset keeps the watermark off every window-end boundary so
    // no equality-strictness ambiguity exists (boundary-collision-free
    // verified at sf0.001/0.01/0.1). Complements s01, which phases
    // arrival monotonically so NOTHING drops.
    ("s03_stream_late", (s, dir) => {
      streaming.StreamJobs.lateDemo(s, s"$dir/events.parquet",
        "/tmp/graft_s03_work")
    }, Some("""
      WITH e AS (SELECT event_id, event_type, value, epoch_us(ts) AS us,
                        event_id % 4 AS b FROM events),
      w AS (SELECT *, (us // 300000000) * 300 AS wstart,
                   (us // 300000000) * 300000 + 300000 AS wend_ms,
                   us // 1000 AS ms FROM e),
      bm AS (SELECT b, max(ms) AS mx FROM w GROUP BY b),
      pm AS (SELECT b, max(mx) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
             FROM bm),
      kept AS (SELECT w.* FROM w JOIN pm USING (b)
               WHERE pm.prevmax IS NULL OR w.wend_ms > pm.prevmax - 600500)
      SELECT CAST(wstart AS BIGINT) AS wstart, event_type,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM kept GROUP BY 1, 2 ORDER BY wstart, event_type""")),

    // -- Edit-family metadata pipeline (q31): gdal vector set-field-type /
    // edit rename / rename-layer / export-schema
    // (apps/gdalalg_vector_{set_field_type,edit,rename_layer,
    // export_schema}.h) — the schema-surgery steps are pure Catalyst
    // metadata ops (cast / withColumnRenamed / view rename), and
    // export-schema emits the resulting layer schema with OGR field-type
    // names (OFTInteger/Integer64/Real/String/Date/DateTime). The gate
    // checks BOTH the exported schema after the edit pipeline and that
    // the retyped VALUES flowed through the casts correctly.
    ("q31_edit_schema", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val edited = t(s, dir, "events")
        .withColumn("event_id", col("event_id").cast("int")) // set-field-type
        .withColumn("day", col("ts").cast("timestamp").cast("date"))
        .drop("ts")
        .withColumnRenamed("props", "attributes") // edit: rename fields
        .withColumnRenamed("user_id", "uid")
      edited.createOrReplaceTempView("events_v2") // rename-layer
      def ogrType(dt: org.apache.spark.sql.types.DataType): String = {
        import org.apache.spark.sql.types._
        dt match {
          case IntegerType => "integer"
          case LongType => "integer64"
          case DoubleType => "real"
          case StringType => "string"
          case DateType => "date"
          case _: TimestampNTZType | _: TimestampType => "datetime"
          case other => other.simpleString
        }
      }
      val schemaDf = edited.schema.fields.zipWithIndex.toSeq
        .map { case (f, i) => ("schema", i.toLong, f.name, ogrType(f.dataType)) }
        .toDF("part", "ord", "k", "v")
      val aggDf = s.sql("""
        SELECT 'agg' AS part, CAST(0 AS BIGINT) AS ord, 'sum_ids' AS k,
               CAST(sum(event_id) AS STRING) AS v FROM events_v2
        UNION ALL SELECT 'agg', 1, 'n_days',
               CAST(count(DISTINCT day) AS STRING) FROM events_v2
        UNION ALL SELECT 'agg', 2, 'n_attrs',
               CAST(count(attributes) AS STRING) FROM events_v2""")
      schemaDf.unionByName(aggDf).orderBy("part", "ord")
    }, Some("""
      SELECT * FROM (VALUES
        ('schema', 0, 'event_id', 'integer'),
        ('schema', 1, 'uid', 'integer64'),
        ('schema', 2, 'event_type', 'string'),
        ('schema', 3, 'value', 'real'),
        ('schema', 4, 'attributes', 'string'),
        ('schema', 5, 'day', 'date')) AS t(part, ord, k, v)
      UNION ALL SELECT 'agg', 0, 'sum_ids',
        CAST(sum(CAST(event_id AS INTEGER)) AS VARCHAR) FROM events
      UNION ALL SELECT 'agg', 1, 'n_days',
        CAST(count(DISTINCT CAST(ts AS DATE)) AS VARCHAR) FROM events
      UNION ALL SELECT 'agg', 2, 'n_attrs',
        CAST(count(props) AS VARCHAR) FROM events
      ORDER BY part, ord""")),

    // -- Geocoding analog (g54): OGRGeocode / OGRGeocodeReverse matching
    // semantics (ogr/ogr_geocoding.cpp) against a gazetteer table — the
    // network service is out of scope, the cache-and-match algorithm is
    // in-engine (engine/Geocode.scala). Gazetteer = the nation table
    // placed on the deterministic point cloud; forward queries are four
    // deterministic corruptions of nation names (case/padding/prefix
    // noise/doubled separator — ids ≥ 25 have NO exact match and force
    // the fuzzy path), scored by exact integer trigram-Jaccard millis
    // with (sim desc, name, key) tie-break; reverse queries take the
    // nearest entry by the exact great-circle used in g04. The oracle
    // ranks the full candidate set single-pass — equivalent because an
    // exact normalized match has identical trigram sets (sim = 1000) and
    // distinct gazetteer names here have distinct trigram sets.
    ("g54_geocode", (s, dir) => {
      prep(s)
      val gaz = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("key"),
        col("n_name").as("name"),
        expr(lonOf("n_nationkey")).as("lon"),
        expr(latOf("n_nationkey")).as("lat"))
      val queries = t(s, dir, "events").where(col("event_id") < 400)
        .withColumn("base",
          concat(lit("NATION_"), expr("CAST(event_id % 30 AS STRING)")))
        .select(col("event_id").as("qid"),
          expr("""CASE CAST(event_id % 4 AS INT)
            WHEN 0 THEN lower(base)
            WHEN 1 THEN concat('  ', base, ' ')
            WHEN 2 THEN concat('X', base)
            ELSE replace(base, '_', '__') END""").as("query"))
      val fwd = engine.Geocode.forward(queries, gaz)
        .select(lit("f").as("part"), col("qid"), col("key"), col("name"),
          col("sim_milli"), lit(0L).as("dist_hm"))
      val pts = Queries.eventPoints(s, dir)
        .where(col("event_id") >= 5000 && col("event_id") < 5300)
        .select(col("event_id").as("qid"),
          col("lon").as("plon"), col("lat").as("plat"))
      val rev = engine.Geocode.reverse(pts, gaz)
        .select(lit("r").as("part"), col("qid"), col("key"), col("name"),
          lit(0L).as("sim_milli"),
          expr("CAST(floor(dist_m / 100.0 + 0.5) AS BIGINT)").as("dist_hm"))
      fwd.unionByName(rev).orderBy("part", "qid")
    }, Some {
      val tgN = trigramCodes("lower(trim(regexp_replace(name, '\\s+', ' ', 'g')))", duck = true)
      val tgS = trigramCodes("s", duck = true)
      s"""WITH gaz AS (SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name,
              ${lonOf("n_nationkey")} AS lon, ${latOf("n_nationkey")} AS lat
            FROM nation),
      q AS (SELECT event_id AS qid,
              concat('NATION_', CAST(event_id % 30 AS VARCHAR)) AS base
            FROM events WHERE event_id < 400),
      nq AS (SELECT qid, lower(trim(regexp_replace(
              CASE CAST(qid % 4 AS INT)
                WHEN 0 THEN lower(base)
                WHEN 1 THEN concat('  ', base, ' ')
                WHEN 2 THEN concat('X', base)
                ELSE replace(base, '_', '__') END, '\\s+', ' ', 'g'))) AS s
            FROM q),
      gt AS (SELECT key, name, list_distinct($tgN) AS tg FROM gaz),
      qt AS (SELECT qid, list_distinct($tgS) AS tq FROM nq),
      sc AS (SELECT qid, key, name,
              len(list_filter(tq, x -> list_contains(tg, x))) AS inter,
              len(tq) + len(tg) AS tot
            FROM qt, gt),
      sm AS (SELECT qid, key, name, (inter * 1000) // (tot - inter) AS sim
            FROM sc WHERE tot - inter > 0),
      rk AS (SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY sim DESC, name, key) AS rn
            FROM sm WHERE sim >= 400),
      fwd AS (SELECT 'f' AS part, qid, key, name,
              CAST(sim AS BIGINT) AS sim_milli, CAST(0 AS BIGINT) AS dist_hm
            FROM rk WHERE rn = 1),
      pts AS (SELECT event_id AS qid, ${lonOf("event_id")} AS plon,
              ${latOf("event_id")} AS plat
            FROM events WHERE event_id >= 5000 AND event_id < 5300),
      rj AS (SELECT qid, key, name,
              ${greatCircle("plat", "plon", "lat", "lon")} AS d
            FROM pts, gaz),
      rr AS (SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY d, key) AS rn FROM rj),
      rev AS (SELECT 'r' AS part, qid, key, name, CAST(0 AS BIGINT) AS sim_milli,
              CAST(floor(d / 100.0 + 0.5) AS BIGINT) AS dist_hm
            FROM rr WHERE rn = 1)
      SELECT * FROM fwd UNION ALL SELECT * FROM rev ORDER BY part, qid"""}),

    // -- gdal vector combine (g55): group-by + geometry COLLECT (no union —
    // contrast dissolve), gdalalg_vector_combine.cpp. Source layer declares
    // POINT → destination MULTIPOINT (OGR_GT_GetCollection, combine.cpp:227);
    // every 5th customer carries a MULTIPOINT whose components are flattened
    // into the group collection (keep-nested=false, combine.cpp:455-461);
    // members keep source FID order. add-extra-fields=always_identical keeps
    // nat2 (identical within every group by construction) and drops
    // c_mktsegment (every nation has >=2 segments at both test scales —
    // verified in the fixture data), mirroring the reference's SQLite
    // MIN(COUNT(DISTINCT COALESCE(f,'__NULL__'))==1) prepass.
    ("g55_combine", (s, dir) => {
      prep(s)
      val c = t(s, dir, "customer").where(col("c_custkey") < 400)
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_custkey") % 360 - 180).cast("long").as("x"),
          (col("c_custkey") % 170 - 85).cast("long").as("y"),
          col("c_mktsegment"),
          (col("c_nationkey") * 2).cast("long").as("nat2"))
        .withColumn("wkt", when(col("c_custkey") % 5 === 0,
            concat(lit("MULTIPOINT (("), col("x"), lit(" "), col("y"),
              lit("),("), col("x") + 1, lit(" "), col("y") + 1, lit("))")))
          .otherwise(
            concat(lit("POINT ("), col("x"), lit(" "), col("y"), lit(")"))))
      engine.Combine.combine(c, Seq("c_nationkey"), "c_custkey", "wkt",
          srcGeomType = "POINT", keepNested = false,
          addExtraFields = "always_identical",
          extraFields = Seq("c_mktsegment", "nat2"))
        .orderBy("c_nationkey")
    }, Some("""
      WITH src AS (
        SELECT c_custkey, c_nationkey,
               c_custkey % 360 - 180 AS x, c_custkey % 170 - 85 AS y
        FROM customer WHERE c_custkey < 400),
      frag AS (
        SELECT c_custkey, c_nationkey,
          CASE WHEN c_custkey % 5 = 0 THEN
            '(' || x || ' ' || y || '),(' || (x + 1) || ' ' || (y + 1) || ')'
          ELSE '(' || x || ' ' || y || ')' END AS f
        FROM src)
      SELECT c_nationkey, CAST(c_nationkey * 2 AS BIGINT) AS nat2,
        'MULTIPOINT (' || string_agg(f, ',' ORDER BY c_custkey) || ')'
          AS geometry_wkt
      FROM frag GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // -- gdalenhance histogram equalization (r48): the reference's full
    // chain — GetDefaultHistogram (min/max + half-bucket-extended 256-bin
    // histogram, out-of-range clamped into end buckets, nodata skipped;
    // gdalrasterband.cpp) → ComputeEqualizationLUTs (extreme buckets zeroed,
    // midpoint-rule integer cumulative, integer LUT scale; gdalenhance.cpp)
    // → EnhancerCallback per-pixel application (nodata pass-through, NaN-safe
    // bin ladder). The DuckDB twin rebuilds the identical synthetic raster
    // and replays every step in the same operation order; tiles compare by
    // GDALChecksumImage.
    ("r48_enhance_equalize", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3, tileSize = 64) { (gx, gy) =>
        if ((gx * 31 + gy * 17) % 97 == 0) 250.0
        else ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      engine.Enhance.equalize(base, Some(250.0))
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks").orderBy("x", "y")
    }, Some {
      val cks64 = "CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])" +
        "[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"
      s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
      v AS (SELECT gx, gy,
            CASE WHEN (gx * 31 + gy * 17) % 97 = 0 THEN 250.0
                 ELSE CAST((gx * 7919 + gy * 104729) % 9973 AS DOUBLE) END AS v
            FROM px),
      mm AS (SELECT min(v) AS mn, max(v) AS mx FROM v WHERE v <> 250.0),
      rng AS (SELECT mn - (mx - mn) / 510.0 AS smin,
                     mx + (mx - mn) / 510.0 AS smax FROM mm),
      hb AS (SELECT CASE WHEN v = 250.0 THEN NULL ELSE
              LEAST(255, GREATEST(0, CAST(floor((v - smin) *
                (256.0 / (smax - smin))) AS INT))) END AS bin
            FROM v, rng),
      hist0 AS (SELECT bin, count(*) AS c FROM hb
            WHERE bin IS NOT NULL GROUP BY bin),
      bins AS (SELECT unnest(generate_series(0, 255)) AS bin),
      hist AS (SELECT b.bin,
              CASE WHEN b.bin = 0 OR b.bin = 255 THEN 0
                   ELSE COALESCE(h.c, 0) END AS c
            FROM bins b LEFT JOIN hist0 h ON h.bin = b.bin),
      cum AS (SELECT bin,
              COALESCE(SUM(c) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c // 2 AS cm,
              SUM(c) OVER () AS total FROM hist),
      lut AS (SELECT bin, LEAST(255, GREATEST(0,
              CAST((cm * 256) // GREATEST(total, 1) AS INT))) AS lv FROM cum),
      ab AS (SELECT gx, gy, v,
              CASE WHEN v = 250.0 THEN -1
                   WHEN NOT((v - smin) * (256.0 / (smax - smin)) > 0) THEN 0
                   WHEN NOT((v - smin) * (256.0 / (smax - smin)) < 255) THEN 255
                   ELSE CAST(floor((v - smin) * (256.0 / (smax - smin))) AS INT)
              END AS ib
            FROM v, rng),
      outp AS (SELECT gx, gy,
              CASE WHEN ab.ib = -1 THEN 250 ELSE l.lv END AS ov
            FROM ab LEFT JOIN lut l ON l.bin = ab.ib),
      cells AS (SELECT gx // 64 AS tx, gy // 64 AS ty,
              gx % 64 AS cx, gy % 64 AS cy, CAST(ov AS BIGINT) AS iv
            FROM outp)
      SELECT tx AS x, ty AS y, $cks64 AS cks
      FROM cells GROUP BY 1, 2 ORDER BY x, y"""}),

    // -- GDALIsLineOfSightVisible (r49): many-query point-to-point LOS over
    // a tiled DEM (alg/los.cpp). 60 queries mix the reference's four paths —
    // A/B pre-checks, A==B shortcut, vertical/horizontal inclusive walks,
    // and both Bresenham octant families. The DuckDB twin replays the walk
    // with the balance-form Bresenham's CLOSED FORM
    // (y_i = yA + incy*floor((2*dy*i + dx)/(2*dx)), verified against the
    // loop on tie cases) and the same euclidean z-lerp operation order;
    // the first blocking step per query must agree exactly.
    ("r49_line_of_sight", (s, dir) => {
      val sp = s
      import sp.implicits._
      def f(x: Long, y: Long) = ((x * 37 + y * 53) % 211).toDouble
      val dem = engine.Raster.syntheticTiles(s, 3, tileSize = 64)(f)
      val qs = s.range(0, 60).map { qid =>
        val xa = ((qid * 97) % 512).toInt; val ya = ((qid * 61) % 512).toInt
        var xb = ((qid * 173 + 31) % 512).toInt
        var yb = ((qid * 131 + 7) % 512).toInt
        if (qid % 7 == 0) xb = xa
        if (qid % 7 == 1) yb = ya
        if (qid % 7 == 2) { xb = xa; yb = ya }
        engine.Los.LosQuery(qid, xa, ya, f(xa, ya) + (qid % 9),
          xb, yb, f(xb, yb) + ((qid * 2) % 13))
      }
      engine.Los.lineOfSight(dem, qs, 64)
        .select(col("qid"), col("visible"),
          col("ix").cast("long").as("ix"), col("iy").cast("long").as("iy"))
        .orderBy("qid")
    }, Some {
      def fT(x: String, y: String) = s"CAST((($x) * 37 + ($y) * 53) % 211 AS DOUBLE)"
      s"""
      WITH q0 AS (SELECT unnest(generate_series(0, 59)) AS qid),
      q AS (SELECT qid,
        (qid * 97) % 512 AS xa, (qid * 61) % 512 AS ya,
        CASE WHEN qid % 7 IN (0, 2) THEN (qid * 97) % 512
             ELSE (qid * 173 + 31) % 512 END AS xb,
        CASE WHEN qid % 7 IN (1, 2) THEN (qid * 61) % 512
             ELSE (qid * 131 + 7) % 512 END AS yb
        FROM q0),
      qz AS (SELECT *, ${fT("xa", "ya")} + (qid % 9) AS za,
                    ${fT("xb", "yb")} + ((qid * 2) % 13) AS zb FROM q),
      pre AS (SELECT qid, -2 AS step, xa AS x, ya AS y, za AS z FROM qz
        UNION ALL SELECT qid, -1, xb, yb, zb FROM qz),
      vert AS (SELECT qid, abs(y - ya) AS step, xa AS x, y,
          za + (CAST(y - ya AS DOUBLE) / CAST(yb - ya AS DOUBLE)) * (zb - za) AS z
        FROM qz, UNNEST(generate_series(ya, yb,
          CASE WHEN yb >= ya THEN 1 ELSE -1 END)) AS t(y)
        WHERE xa = xb AND ya <> yb),
      horz AS (SELECT qid, abs(x - xa) AS step, x, ya AS y,
          za + (CAST(x - xa AS DOUBLE) / CAST(xb - xa AS DOUBLE)) * (zb - za) AS z
        FROM qz, UNNEST(generate_series(xa, xb,
          CASE WHEN xb >= xa THEN 1 ELSE -1 END)) AS t(x)
        WHERE ya = yb AND xa <> xb),
      dd AS (SELECT *, abs(xb - xa) AS dx, abs(yb - ya) AS dy,
          CASE WHEN xb >= xa THEN 1 ELSE -1 END AS incx,
          CASE WHEN yb >= ya THEN 1 ELSE -1 END AS incy
        FROM qz WHERE xa <> xb AND ya <> yb),
      dshal AS (SELECT qid, i AS step, xa + incx * i AS x,
          ya + incy * ((2 * dy * i + dx) // (2 * dx)) AS y,
          xa, ya, za, xb, yb, zb
        FROM dd, UNNEST(generate_series(0, dx)) AS t(i) WHERE dx >= dy),
      dsteep AS (SELECT qid, i AS step,
          xa + incx * ((2 * dx * i + dy) // (2 * dy)) AS x,
          ya + incy * i AS y, xa, ya, za, xb, yb, zb
        FROM dd, UNNEST(generate_series(0, dy)) AS t(i) WHERE dx < dy),
      diag AS (SELECT qid, step, x, y,
          za + sqrt(CAST((x - xa) * (x - xa) + (y - ya) * (y - ya) AS DOUBLE)
                  / CAST((xb - xa) * (xb - xa) + (yb - ya) * (yb - ya) AS DOUBLE))
             * (zb - za) AS z
        FROM (SELECT * FROM dshal UNION ALL SELECT * FROM dsteep)),
      pts AS (SELECT * FROM pre UNION ALL SELECT * FROM vert
        UNION ALL SELECT * FROM horz UNION ALL SELECT qid, step, x, y, z FROM diag),
      blocked AS (SELECT qid, step, x, y FROM pts
        WHERE NOT (z >= ${fT("x", "y")})),
      hit AS (SELECT qid, x, y FROM (SELECT qid, x, y, row_number()
          OVER (PARTITION BY qid ORDER BY step) AS rn FROM blocked) WHERE rn = 1)
      SELECT qz.qid, h.qid IS NULL AS visible,
        CAST(coalesce(h.x, -1) AS BIGINT) AS ix,
        CAST(coalesce(h.y, -1) AS BIGINT) AS iy
      FROM qz LEFT JOIN hit h ON h.qid = qz.qid ORDER BY qz.qid"""}),

    // -- GDALInterpolateAtPoint (r50): fractional-pixel raster sampling with
    // all four reference algorithms (alg/gdal_interpolateatpoint.cpp):
    // nearest (trunc), bilinear (pixel-center delta, fail on any nodata
    // sample), cubic Catmull-Rom and cubic B-spline (4x4 window, nodata
    // samples skipped with weight renormalization). The DuckDB twin computes
    // the same windows from the closed-form DEM with the kernel sums emitted
    // as EXPLICIT left-associated 16-term expressions in the engine's
    // accumulation order (and nodata terms contributing +0.0, which is
    // IEEE-identical to skipping) so the doubles match bit-for-bit.
    // Out-of-bounds queries (qid%11==0) must come back NULL.
    ("r50_interpolate_at_point", (s, dir) => {
      val sp = s
      import sp.implicits._
      def f(x: Long, y: Long) =
        if ((x * 13 + y * 7) % 89 == 0) 250.0 else ((x * 3 + y * 5) % 97).toDouble
      val dem = engine.Raster.syntheticTiles(s, 3, tileSize = 64)(f)
      val qs = s.range(0, 80).select(col("id").as("qid"),
        when(col("id") % 11 === 0, lit(600.5))
          .otherwise((col("id") * 1237 % 5000) / lit(10.0) + 3.0).as("x"),
        ((col("id") * 911 % 5000) / lit(10.0) + 3.0).as("y"))
      val runs = Seq("nearest", "bilinear", "cubic", "cubicspline").map { alg =>
        engine.InterpAtPoint.interpolate(dem, qs, alg, 512, 512,
            Some(250.0), 64)
          .select(lit(alg).as("alg"), col("qid"),
            floor(col("value") * 1e7 + 0.5).cast("long").as("v_e7"))
      }
      runs.reduce(_ unionAll _).orderBy("alg", "qid")
    }, Some {
      def fD(x: String, y: String) =
        s"(CASE WHEN (($x) * 13 + ($y) * 7) % 89 = 0 THEN 250.0" +
        s" ELSE CAST((($x) * 3 + ($y) * 5) % 97 AS DOUBLE) END)"
      // Catmull-Rom weight of t (gdalresamplingkernels.h:23)
      def kCubic(t: String) =
        s"(CASE WHEN abs($t) <= 1.0 THEN ($t)*($t) * (1.5*abs($t) - 2.5) + 1" +
        s" WHEN abs($t) <= 2.0 THEN ($t)*($t) * (-0.5*abs($t) + 2.5) - 4*abs($t) + 2" +
        s" ELSE 0.0 END)"
      // cubic B-spline weight (gdalresamplingkernels.h:45)
      def kSpline(t: String) = {
        def cube(e: String) = s"(CASE WHEN $e <= 0.0 THEN 0.0 ELSE ($e)*($e)*($e) END)"
        s"(CASE WHEN ($t) > 2.0 THEN 0.0 ELSE 0.16666666666666666667 * " +
        s"(${cube(s"($t) + 2.0")} - 4.0 * ${cube(s"($t) + 1.0")}" +
        s" + 6.0 * ${cube(t)} - 4.0 * ${cube(s"($t) - 1.0")}) END)"
      }
      // 4x4 sum in the engine's row-major accumulation order; nodata terms
      // add +0.0 (IEEE-identical to skipping)
      def sum4x4(kern: String => String): (String, String) = {
        val terms = for (ki <- 0 to 3; kj <- 0 to 3) yield {
          val v = fD(s"wbx + $kj", s"wby + $ki")
          val w = s"(${kern(s"(${kj - 1}.0) - ddx")} * ${kern(s"(${ki - 1}.0) - ddy")})"
          (s"(CASE WHEN $v = 250.0 THEN 0.0 ELSE $v * $w END)",
           s"(CASE WHEN $v = 250.0 THEN 0.0 ELSE $w END)")
        }
        (terms.map(_._1).mkString("(0.0 + ", " + ", ")"),
         terms.map(_._2).mkString("(0.0 + ", " + ", ")"))
      }
      val (chS, cwS) = sum4x4(kCubic)
      val (shS, swS) = sum4x4(kSpline)
      s"""
      WITH q0 AS (SELECT unnest(generate_series(0, 79)) AS qid),
      q AS (SELECT qid,
        CASE WHEN qid % 11 = 0 THEN 600.5
             ELSE (qid * 1237 % 5000) / 10.0 + 3.0 END AS x,
        (qid * 911 % 5000) / 10.0 + 3.0 AS y FROM q0),
      inb AS (SELECT *, (x >= 0 AND x <= 512 AND y >= 0 AND y <= 512) AS ok
        FROM q),
      base AS (SELECT qid, x, y, ok,
        CAST(floor(x - 0.5) AS INT) AS dX, CAST(floor(y - 0.5) AS INT) AS dY,
        (x - 0.5) - floor(x - 0.5) AS ddx,
        (y - 0.5) - floor(y - 0.5) AS ddy FROM inb),
      nearv AS (SELECT qid, CASE WHEN NOT ok THEN NULL
          WHEN ${fD("CAST(floor(x) AS INT)", "CAST(floor(y) AS INT)")} = 250.0
            THEN NULL
          ELSE ${fD("CAST(floor(x) AS INT)", "CAST(floor(y) AS INT)")} END AS v
        FROM base),
      bilv AS (SELECT qid, CASE WHEN NOT ok THEN NULL
          WHEN ${fD("dX", "dY")} = 250.0 OR ${fD("dX + 1", "dY")} = 250.0
            OR ${fD("dX", "dY + 1")} = 250.0 OR ${fD("dX + 1", "dY + 1")} = 250.0
            THEN NULL
          ELSE (${fD("dX", "dY")} * (1.0 - ddx) + ${fD("dX + 1", "dY")} * ddx)
                 * (1.0 - ddy)
               + (${fD("dX", "dY + 1")} * (1.0 - ddx)
                 + ${fD("dX + 1", "dY + 1")} * ddx) * ddy END AS v
        FROM base),
      cwin AS (SELECT qid, ok, ddx, ddy, dX - 1 AS wbx, dY - 1 AS wby FROM base),
      cubv AS (SELECT qid, CASE WHEN NOT ok THEN NULL
          WHEN $cwS = 0.0 THEN NULL ELSE $chS / $cwS END AS v FROM cwin),
      splv AS (SELECT qid, CASE WHEN NOT ok THEN NULL
          WHEN $swS = 0.0 THEN NULL ELSE $shS / $swS END AS v FROM cwin),
      allv AS (
        SELECT 'nearest' AS alg, qid, v FROM nearv
        UNION ALL SELECT 'bilinear', qid, v FROM bilv
        UNION ALL SELECT 'cubic', qid, v FROM cubv
        UNION ALL SELECT 'cubicspline', qid, v FROM splv)
      SELECT alg, qid, CAST(floor(v * 1e7 + 0.5) AS BIGINT) AS v_e7
      FROM allv ORDER BY alg, qid"""}),

    // -- GDALApplyVerticalShiftGrid (r51): geoid→ellipsoid height shift
    // (alg/gdalapplyverticalshiftgrid.cpp). A 64×64 shift surface resampled
    // to a 512×512 DEM with the InterpolateAtPoint bilinear (the reference's
    // warped-VRT bilinear analog, border drag collapsing to the edge sample),
    // then per pixel (src*srcUnitToMeter ± grid)/dstUnitToMeter with source
    // nodata passing through unchanged (IReadBlock lines 230-263). Forward
    // and inverse runs share one oracle; tiles compare by checksum.
    ("r51_vertical_shift", (s, dir) => {
      val sp = s
      import sp.implicits._
      def f1(gx: Long, gy: Long) =
        if ((gx * 5 + gy * 3) % 61 == 0) -1.0 else ((gx * 7 + gy * 11) % 127).toDouble
      def f2(i: Long, j: Long) = (((i * 13 + j * 17) % 31) - 15).toDouble
      val dem = engine.Raster.syntheticTiles(s, 3, tileSize = 64)(f1)
      val grid = engine.Raster.syntheticTiles(s, 1, tileSize = 32)(f2)
      val runs = Seq(("fwd", false), ("inv", true)).map { case (tag, invFlag) =>
        engine.VerticalShift.applyShift(dem, grid, 512, 512, 64, 64, invFlag,
            2.0, 0.5, Some(-1.0), 64, 32)
          .map(t => (t.x.toLong, t.y.toLong,
            engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
          .toDF("x", "y", "cks").withColumn("mode", lit(tag))
      }
      runs.reduce(_ unionAll _).select("mode", "x", "y", "cks")
        .orderBy("mode", "x", "y")
    }, Some {
      val cks64 = "CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])" +
        "[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"
      def f2(i: String, j: String) =
        s"CAST(((($i) * 13 + ($j) * 17) % 31) - 15 AS DOUBLE)"
      s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
      v AS (SELECT gx, gy,
            CASE WHEN (gx * 5 + gy * 3) % 61 = 0 THEN -1.0
                 ELSE CAST((gx * 7 + gy * 11) % 127 AS DOUBLE) END AS src,
            (gx + 0.5) * ${64.0 / 512.0} AS gxp,
            (gy + 0.5) * ${64.0 / 512.0} AS gyp FROM px),
      b AS (SELECT *, CAST(floor(gxp - 0.5) AS INT) AS dX,
            CAST(floor(gyp - 0.5) AS INT) AS dY,
            (gxp - 0.5) - floor(gxp - 0.5) AS ddx,
            (gyp - 0.5) - floor(gyp - 0.5) AS ddy FROM v),
      c AS (SELECT *,
            CASE WHEN dX < 0 THEN 0 WHEN dX > 62 THEN 63 ELSE dX END AS cx0,
            CASE WHEN dX < 0 THEN 0 WHEN dX > 62 THEN 63 ELSE dX + 1 END AS cx1,
            CASE WHEN dY < 0 THEN 0 WHEN dY > 62 THEN 63 ELSE dY END AS cy0,
            CASE WHEN dY < 0 THEN 0 WHEN dY > 62 THEN 63 ELSE dY + 1 END AS cy1
            FROM b),
      g AS (SELECT gx, gy, src,
            (${f2("cx0", "cy0")} * (1.0 - ddx) + ${f2("cx1", "cy0")} * ddx)
              * (1.0 - ddy)
            + (${f2("cx0", "cy1")} * (1.0 - ddx) + ${f2("cx1", "cy1")} * ddx)
              * ddy AS gv
            FROM c),
      outv AS (
        SELECT 'fwd' AS mode, gx, gy, CASE WHEN src = -1.0 THEN src
          ELSE (src * 2.0 + gv) / 0.5 END AS ov FROM g
        UNION ALL
        SELECT 'inv', gx, gy, CASE WHEN src = -1.0 THEN src
          ELSE (src * 2.0 - gv) / 0.5 END FROM g),
      cells AS (SELECT mode, gx // 64 AS tx, gy // 64 AS ty,
            gx % 64 AS cx, gy % 64 AS cy,
            CAST(floor(ov + 0.5) AS BIGINT) AS iv FROM outv)
      SELECT mode, tx AS x, ty AS y, $cks64 AS cks
      FROM cells GROUP BY 1, 2, 3 ORDER BY mode, x, y"""}),

    // -- warp under a fitted HOMOGRAPHY transformer (r52): the projective
    // member of the gdalwarp transformer stack (GDALCreateHomography-
    // TransformerFromGCPs, alg/gdal_homography.cpp — normalized 8-dof DLT
    // normal equations with the h[6]=1 rank fix, convexity check, and
    // normalization composition). 16 GCPs sampled from an exact projective
    // map; the fit recovers it to ~1e-11 px, so the DuckDB oracle evaluates
    // the generating closed form directly (same scheme as the r26/r27
    // polynomial and TPS gates). near kernel; checksum per 256-px dst tile.
    ("r52_warp_homography", (s, dir) => {
      val sp = s
      import sp.implicits._
      import engine.{GcpTransform, Homography}
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      def den(x: Double, y: Double) = 1.0 + 1.523e-5 * x - 2.0741e-5 * y
      def mx(x: Double, y: Double) = (120.7133 + 1.7317071 * x + 0.0310971 * y) / den(x, y)
      def my(x: Double, y: Double) = (57.3177 + 0.0290137 * x + 1.8103911 * y) / den(x, y)
      val gcps = for (i <- 0 until 4; j <- 0 until 4) yield {
        val x = i * 341.0; val y = j * 341.0
        GcpTransform.Gcp(x, y, mx(x, y), my(x, y))
      }
      val h = Homography.fromGcps(gcps)
      engine.Raster.warpTransformed(base, 2, 4, 4,
          (x, y) => Homography.applyH(h, x, y)
            .getOrElse((Double.NaN, Double.NaN)),
          "near", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks").orderBy("x", "y")
    }, Some {
      val sx = "(120.7133 + 1.7317071*gx + 0.0310971*gy) / (1.0 + 1.523e-5*gx - 2.0741e-5*gy)"
      val sy = "(57.3177 + 0.0290137*gx + 1.8103911*gy) / (1.0 + 1.523e-5*gx - 2.0741e-5*gy)"
      s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
      sm AS (SELECT gx, gy,
          CAST(floor(($sx) + 0.5) AS BIGINT) AS nx,
          CAST(floor(($sy) + 0.5) AS BIGINT) AS ny FROM px),
      v AS (SELECT gx, gy, CASE WHEN nx BETWEEN 0 AND 2047 AND ny BETWEEN 0 AND 2047
          THEN (nx * 7919 + ny * 104729) % 9973 ELSE 0 END AS iv FROM sm),
      cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy, iv
          FROM v)
      SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
        CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
      FROM cells GROUP BY 2, 3 ORDER BY x, y"""})
  )
}
