package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryFixtures._

/** Round-2 gate queries: the remaining gdaldem derivatives, the
  * neighbors focal-statistics kernels, warp resampling kernels, and the
  * overlay/viewshed/pansharpen families (SURVEY.md §2.F/§2.G rows the
  * round-1 verdict flagged as missing). Same conventions as [[Queries]]. */
object Queries2 {

  private def toInt(col: String): String = s"CAST(floor($col + 0.5) AS BIGINT)"

  private def cents0(c: String): String = s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)"

  val defs4: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- gdaldem aspect / TPI / TRI (Riley + Wilson) / roughness over the
    // tiled synthetic raster: ONE halo exchange feeds all five kernels
    // (focal3x3Multi), checksummed per tile; the oracle recomputes every
    // 3x3 window in closed form (same double arithmetic, so bit-exact
    // before the checksum rounding)
    ("r13_dem_extras", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 3
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val kernels: Seq[Array[Double] => Double] = Seq(
        engine.Focal.aspectWindow(), engine.Focal.tpiWindow _,
        engine.Focal.triRileyWindow _, engine.Focal.triWilsonWindow _,
        engine.Focal.roughnessWindow _)
      engine.Focal.focal3x3Multi(base, kernels)
        .map { case (k, ti) => (ti.x.toLong, ti.y.toLong, k,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong) }
        .toDF("x", "y", "k", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("k") === 0, col("cks"))).as("cks_aspect"),
          max(when(col("k") === 1, col("cks"))).as("cks_tpi"),
          max(when(col("k") === 2, col("cks"))).as("cks_tri_r"),
          max(when(col("k") === 3, col("cks"))).as("cks_tri_w"),
          max(when(col("k") === 4, col("cks"))).as("cks_rough"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_aspect", "cks_tpi", "cks_tri_r",
          "cks_tri_w", "cks_rough")
        .orderBy("x", "y")
    }, Some {
      val maxG = 8 * 256 - 1
      def fAt(dx: Int, dy: Int) =
        s"CAST(((gx + ($dx)) * 7919 + (gy + ($dy)) * 104729) % 9973 AS DOUBLE)"
      val (a, b, c) = (fAt(-1, -1), fAt(0, -1), fAt(1, -1))
      val (d0, e0, f0) = (fAt(-1, 0), fAt(0, 0), fAt(1, 0))
      val (g0, h0, i0) = (fAt(-1, 1), fAt(0, 1), fAt(1, 1))
      val pi = dlit(math.Pi)
      // aspect (gdaldem_lib.cpp:1441): unweighted-corner gradient,
      // azimuth fold, flat -> -9999 nodata
      val dxA = s"(($c + 2.0 * $f0 + $i0) - ($a + 2.0 * $d0 + $g0))"
      val dyA = s"(($g0 + 2.0 * $h0 + $i0) - ($a + 2.0 * $b + $c))"
      val asp0 = s"(atan2($dyA, -($dxA)) * 180.0 / $pi)"
      val az = s"(CASE WHEN $asp0 > 90.0 THEN 450.0 - $asp0 ELSE 90.0 - $asp0 END)"
      val aspect = s"(CASE WHEN $dxA = 0.0 AND $dyA = 0.0 THEN -9999.0 " +
        s"WHEN $az = 360.0 THEN 0.0 ELSE $az END)"
      val tpi = s"($e0 - (($a + $b + $c + $d0 + $f0 + $g0 + $h0 + $i0) * 0.125))"
      val triR = s"sqrt(($a-$e0)*($a-$e0) + ($b-$e0)*($b-$e0) + ($c-$e0)*($c-$e0) + " +
        s"($d0-$e0)*($d0-$e0) + ($f0-$e0)*($f0-$e0) + ($g0-$e0)*($g0-$e0) + " +
        s"($h0-$e0)*($h0-$e0) + ($i0-$e0)*($i0-$e0))"
      val triW = s"((abs($a-$e0) + abs($b-$e0) + abs($c-$e0) + abs($d0-$e0) + " +
        s"abs($f0-$e0) + abs($g0-$e0) + abs($h0-$e0) + abs($i0-$e0)) * 0.125)"
      val all = s"$a, $b, $c, $d0, $e0, $f0, $g0, $h0, $i0"
      val rough = s"(greatest($all) - least($all))"
      val border = s"gx = 0 OR gy = 0 OR gx = $maxG OR gy = $maxG"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy,
            CASE WHEN $border THEN 0.0 ELSE $aspect END AS va,
            CASE WHEN $border THEN 0.0 ELSE $tpi END AS vt,
            CASE WHEN $border THEN 0.0 ELSE $triR END AS vr,
            CASE WHEN $border THEN 0.0 ELSE $triW END AS vw,
            CASE WHEN $border THEN 0.0 ELSE $rough END AS vg FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("va")} AS iva, ${toInt("vt")} AS ivt, ${toInt("vr")} AS ivr,
            ${toInt("vw")} AS ivw, ${toInt("vg")} AS ivg FROM v)
          SELECT CAST(3 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("iva")} AS cks_aspect, ${cksCol("ivt")} AS cks_tpi,
            ${cksCol("ivr")} AS cks_tri_r, ${cksCol("ivw")} AS cks_tri_w,
            ${cksCol("ivg")} AS cks_rough
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- neighbors focal statistics (gdalalg_raster_neighbors methods
    // sum/min/max/median/stddev/mode): five kernels over the hash raster
    // in one halo pass, mode over a (gx+gy)%5 raster whose window mode has
    // the closed form (gx+gy)%5 (offset-sum multiplicities 1,2,3,2,1 over
    // five distinct residues — unique mode, no tie ambiguity)
    ("r14_focal_stats", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val modeBase = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx + gy) % 5).toDouble
      }
      val kernels: Seq[Array[Double] => Double] = Seq(
        engine.Focal.sumWindow _, engine.Focal.minWindow _,
        engine.Focal.maxWindow _, engine.Focal.medianWindow _,
        engine.Focal.stddevWindow _)
      val stats = engine.Focal.focal3x3Multi(base, kernels)
        .map { case (k, ti) => (ti.x.toLong, ti.y.toLong, k,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong) }
        .toDF("x", "y", "k", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("k") === 0, col("cks"))).as("cks_sum"),
          max(when(col("k") === 1, col("cks"))).as("cks_min"),
          max(when(col("k") === 2, col("cks"))).as("cks_max"),
          max(when(col("k") === 3, col("cks"))).as("cks_med"),
          max(when(col("k") === 4, col("cks"))).as("cks_sd"))
      val mode = engine.Focal.focal3x3(modeBase, engine.Focal.modeWindow)
        .map(ti => (ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong))
        .toDF("x", "y", "cks_mode")
      stats.join(mode, Seq("x", "y"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_sum", "cks_min", "cks_max", "cks_med",
          "cks_sd", "cks_mode")
        .orderBy("x", "y")
    }, Some {
      val maxG = 4 * 256 - 1
      def fAt(dx: Int, dy: Int) =
        s"CAST(((gx + ($dx)) * 7919 + (gy + ($dy)) * 104729) % 9973 AS DOUBLE)"
      val w9 = for (dy <- -1 to 1; dx <- -1 to 1) yield fAt(dx, dy)
      val sum9 = w9.mkString("(", " + ", ")")
      val sq9 = w9.map(v => s"$v * $v").mkString("(", " + ", ")")
      val lst = w9.mkString("[", ", ", "]")
      val med = s"(list_sort($lst)[5])"
      val sd = s"sqrt($sq9 / 9.0 - ($sum9 / 9.0) * ($sum9 / 9.0))"
      val mn = w9.mkString("least(", ", ", ")")
      val mx = w9.mkString("greatest(", ", ", ")")
      val modeV = "CAST((gx + gy) % 5 AS DOUBLE)"
      val border = s"gx = 0 OR gy = 0 OR gx = $maxG OR gy = $maxG"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy,
            CASE WHEN $border THEN 0.0 ELSE $sum9 END AS vs,
            CASE WHEN $border THEN 0.0 ELSE $mn END AS vn,
            CASE WHEN $border THEN 0.0 ELSE $mx END AS vx,
            CASE WHEN $border THEN 0.0 ELSE $med END AS vm,
            CASE WHEN $border THEN 0.0 ELSE $sd END AS vd,
            CASE WHEN $border THEN 0.0 ELSE $modeV END AS vo FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("vs")} AS ivs, ${toInt("vn")} AS ivn, ${toInt("vx")} AS ivx,
            ${toInt("vm")} AS ivm, ${toInt("vd")} AS ivd, ${toInt("vo")} AS ivo FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("ivs")} AS cks_sum, ${cksCol("ivn")} AS cks_min,
            ${cksCol("ivx")} AS cks_max, ${cksCol("ivm")} AS cks_med,
            ${cksCol("ivd")} AS cks_sd, ${cksCol("ivo")} AS cks_mode
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdalwarp area resampling kernels (GDALResampleAlg Average/Sum/RMS/
    // Min/Max/Med/Q1/Q3/Mode) on an exact x2 downsample: every dst pixel's
    // source footprint is an exact 2x2 block (all coverage weights 1), so
    // each kernel has a closed form per block. The hash f is duplicate-free
    // within any 2x2 block (7919*dx + 4999*dy != 0 mod 9973 for |dx|,|dy|<=1),
    // so mode = first-encountered = top-left (GWKTS_First) and the quantile
    // picks (idx = ceil(q*4-1) -> q1:l[1], med:l[2], q3:l[3]) are unambiguous
    ("r15_warp_area", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val aff = engine.Raster.WarpAffine(2.0, 2.0, 0.0, 0.0)
      val kernels = Seq("average", "sum", "rms", "min", "max", "med", "q1", "q3", "mode", "gauss")
      engine.Raster.warpAffineMulti(base, 2, 4, 4, aff, kernels, 2048, 2048)
        .map { case (k, t) => (t.x.toLong, t.y.toLong, k,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong) }
        .toDF("x", "y", "k", "cks")
        .groupBy("x", "y")
        .agg(kernels.zipWithIndex.map { case (k, i) =>
          max(when(col("k") === i, col("cks"))).as(s"cks_$k")
        }.head, kernels.zipWithIndex.map { case (k, i) =>
          max(when(col("k") === i, col("cks"))).as(s"cks_$k")
        }.tail: _*)
        .withColumn("z", lit(2).cast("long"))
        .select(col("z") +: col("x") +: col("y") +: kernels.map(k => col(s"cks_$k")): _*)
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      val maxS = 2047 // SRC max index (2048-wide source) — the gauss window
                      // truncation tests against src bounds, not dst
      def fAt(dx: Int, dy: Int) =
        s"CAST(((2 * gx + $dx) * 7919 + (2 * gy + $dy) * 104729) % 9973 AS DOUBLE)"
      // scan order of GWKAverageOrMode: iy outer, ix inner
      val (v00, v10, v01, v11) = (fAt(0, 0), fAt(1, 0), fAt(0, 1), fAt(1, 1))
      val sum4 = s"($v00 + $v10 + $v01 + $v11)"
      val sq4 = s"($v00 * $v00 + $v10 * $v10 + $v01 * $v01 + $v11 * $v11)"
      val lst = s"list_sort([$v00, $v10, $v01, $v11])"
      val cols = Seq(
        "average" -> s"($sum4 / 4.0)",
        "sum" -> sum4,
        "rms" -> s"sqrt($sq4 / 4.0)",
        "min" -> s"least($v00, $v10, $v01, $v11)",
        "max" -> s"greatest($v00, $v10, $v01, $v11)",
        "med" -> s"($lst[2])",
        "q1" -> s"($lst[1])",
        "q3" -> s"($lst[3])",
        "mode" -> v00,
        // gauss (overview.cpp 3x3 binomial at factor 2): window rooted at
        // (2gx, 2gy), edge-truncated, weight-count normalized — the CASE
        // zero terms keep the oracle's accumulation identical to the
        // engine's skip-invalid loop (x + 0.0 == x exactly; all values are
        // exact small integers)
        "gauss" -> s"(((CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 1.0 * ${fAt(0, 0)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 2.0 * ${fAt(1, 0)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 1.0 * ${fAt(2, 0)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 2.0 * ${fAt(0, 1)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 4.0 * ${fAt(1, 1)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 2.0 * ${fAt(2, 1)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 1.0 * ${fAt(0, 2)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 2.0 * ${fAt(1, 2)} ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 1.0 * ${fAt(2, 2)} ELSE 0.0 END)) / ((CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 1.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 2.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 0 <= $maxS) THEN 1.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 2.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 4.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 1 <= $maxS) THEN 2.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 0 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 1.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 1 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 2.0 ELSE 0.0 END) + (CASE WHEN (2 * gx + 2 <= $maxS) AND (2 * gy + 2 <= $maxS) THEN 1.0 ELSE 0.0 END)))")
      val vSel = cols.map { case (k, e) => s"$e AS v_$k" }.mkString(", ")
      val iSel = cols.map { case (k, _) => s"${toInt(s"v_$k")} AS i_$k" }.mkString(", ")
      val cSel = cols.map { case (k, _) => s"${cksCol(s"i_$k")} AS cks_$k" }.mkString(", ")
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy, $vSel FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            $iSel FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y, $cSel
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdalwarp cubic (Keys convolution) on the r05 fractional affine:
    // the oracle writes the exact GWKCubicComputeWeights polynomials with
    // the engine's operation order ((0.5*f)*f etc.), so doubles are
    // bit-identical before checksum rounding
    ("r16_warp_cubic", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val aff = engine.Raster.WarpAffine(0.5, 0.5, 1500.3, 57.7)
      engine.Raster.warpAffine(base, 3, 8, 8, aff, "cubic", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks_cubic")
        .withColumn("z", lit(3).cast("long"))
        .select("z", "x", "y", "cks_cubic")
        .orderBy("x", "y")
    }, Some {
      val maxG = 2047
      def fAt(xe: String, ye: String) =
        s"CAST((CAST($xe AS BIGINT) * 7919 + CAST($ye AS BIGINT) * 104729) % 9973 AS DOUBLE)"
      def w(f: String, i: Int): String = i match {
        case 0 => s"((0.5 * $f) * (-1.0 + $f * (2.0 - $f)))"
        case 1 => s"(1.0 + ((0.5 * $f) * $f) * (-5.0 + 3.0 * $f))"
        case 2 => s"((0.5 * $f) * (1.0 + $f * (4.0 - 3.0 * $f)))"
        case 3 => s"(((0.5 * $f) * $f) * (-1.0 + $f))"
      }
      val rows = (0 until 4).map { j =>
        val terms = (0 until 4).map { i =>
          s"${w("fx", i)} * ${fAt(s"bx + ${i - 1}", s"by + ${j - 1}")}"
        }.mkString(" + ")
        s"${w("fy", j)} * ($terms)"
      }.mkString(" + ")
      val cub = s"""CASE WHEN bx - 1 < 0 OR bx + 2 > $maxG OR by - 1 < 0 OR by + 2 > $maxG
          THEN 0.0 ELSE ($rows) END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          sm AS (SELECT gx, gy,
            (CAST(gx AS DOUBLE) + 0.5) * 0.5 + 1500.3 - 0.5 AS sxp,
            (CAST(gy AS DOUBLE) + 0.5) * 0.5 + 57.7 - 0.5 AS syp FROM px),
          fr AS (SELECT gx, gy, CAST(floor(sxp) AS BIGINT) AS bx,
            CAST(floor(syp) AS BIGINT) AS by,
            sxp - floor(sxp) AS fx, syp - floor(syp) AS fy FROM sm),
          v AS (SELECT gx, gy, $cub AS vc FROM fr),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("vc")} AS ivc FROM v)
          SELECT CAST(3 AS BIGINT) AS z, tx AS x, ty AS y, ${cksCol("ivc")} AS cks_cubic
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- general polygon overlay (layer-algebra core): per-row
    // Intersection/Union/Difference/SymDifference GEOMETRY construction via
    // the Martinez–Rueda sweep, areas oracled in closed form on
    // fractionally-overlapping axis-aligned rect pairs (incl. exact edge
    // tangency at doc_id%40=32)
    ("g20_overlay", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 20000)
        .select(col("doc_id"))
        .withColumn("x0", expr(lonOf("doc_id")))
        .withColumn("y0", expr(s"greatest(-84.0, least(80.0, ${latOf("doc_id")}))"))
        .withColumn("dx", expr("CAST(doc_id % 40 AS DOUBLE) / 16.0"))
        .withColumn("wa", expr(rectWktSql("x0", "y0", "x0 + 2.0", "y0 + 2.0")))
        .withColumn("wb", expr(rectWktSql("x0 + dx", "y0 + 1.0", "x0 + dx + 2.0", "y0 + 3.0")))
        .withColumn("ga", gf.st_geomfromtext(col("wa")))
        .withColumn("gb", gf.st_geomfromtext(col("wb")))
      def an(c: org.apache.spark.sql.Column) =
        floor(gf.st_area(c) * lit(1000000000.0) + lit(0.5)).cast("long")
      base.select(col("doc_id"),
          an(gf.st_intersection(col("ga"), col("gb"))).as("inter_n"),
          an(gf.st_union(col("ga"), col("gb"))).as("union_n"),
          an(gf.st_difference(col("ga"), col("gb"))).as("diff_n"),
          an(gf.st_symdifference(col("ga"), col("gb"))).as("sym_n"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH b AS (SELECT doc_id, CAST(doc_id % 40 AS DOUBLE) / 16.0 AS dx
                 FROM documents WHERE doc_id < 20000),
      ov AS (SELECT doc_id, greatest(0.0, 2.0 - dx) * 1.0 AS inter FROM b)
      SELECT doc_id,
        CAST(floor(inter * 1000000000.0 + 0.5) AS BIGINT) AS inter_n,
        CAST(floor((8.0 - inter) * 1000000000.0 + 0.5) AS BIGINT) AS union_n,
        CAST(floor((4.0 - inter) * 1000000000.0 + 0.5) AS BIGINT) AS diff_n,
        CAST(floor((8.0 - 2.0 * inter) * 1000000000.0 + 0.5) AS BIGINT) AS sym_n
      FROM ov ORDER BY doc_id""")),

    // -- dissolve: geometric union GROUP BY key via the typed union
    // Aggregator (map-side partial dissolve). Fixture: overlapping unit-
    // height rects [i, i+1.5]x[0,1]; the oracle merges the interval runs
    // with a lag() window (exact halves, so doubles are exact on both sides)
    ("g22_dissolve", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents")
        .select((col("doc_id") % 17).as("grp"),
          expr("CAST((doc_id div 17) % 12 AS DOUBLE)").as("i"))
        .distinct()
        .withColumn("wkt", expr(rectWktSql("i", "0.0", "i + 1.5", "1.0")))
        .withColumn("wkb", gf.st_geomfromtext(col("wkt")))
      base.groupBy("grp")
        .agg(engine.Dissolve.unionCol(col("wkb")).as("u"))
        .select(col("grp").cast("long").as("grp"),
          floor(gf.st_area(col("u")) * lit(1000000000.0) + lit(0.5))
            .cast("long").as("area_n"))
        .orderBy("grp")
    }, Some("""
      WITH m AS (SELECT DISTINCT doc_id % 17 AS grp,
                   CAST((doc_id // 17) % 12 AS DOUBLE) AS i FROM documents),
      o AS (SELECT grp, i, lag(i) OVER (PARTITION BY grp ORDER BY i) AS pi FROM m),
      c AS (SELECT grp, CASE WHEN pi IS NULL THEN 1.5
                   WHEN i - pi >= 1.5 THEN 1.5 ELSE i - pi END AS w FROM o)
      SELECT CAST(grp AS BIGINT) AS grp,
             CAST(floor(sum(w) * 1000000000.0 + 0.5) AS BIGINT) AS area_n
      FROM c GROUP BY grp ORDER BY grp""")),

    // -- buffer + erosion + make-valid (gdal vector buffer / make-valid).
    // Line buffer d=0.5, quadSegs=8 (32-gon discs): area = 2dL + (k/2)d²
    // sin(2π/k) — the vertical disc diameter passes exactly through 32-gon
    // vertices, so the end caps are exact half-discs. Negative buffer of a
    // square erodes to the inner square exactly (corner discs are subsets
    // of the edge strips). Bowtie make-valid re-nodes to the two triangles
    // with total area 2s². Scaled-int micro-areas, closed forms in SQL.
    ("g23_buffer_makevalid", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .select(col("doc_id"))
        .withColumn("l", expr("3.0 + CAST(doc_id % 10 AS DOUBLE) * 0.25"))
        .withColumn("sc", expr("1.0 + CAST(doc_id % 7 AS DOUBLE) * 0.5"))
        .withColumn("wline", expr(
          "concat('LINESTRING (0 0, ', CAST(l AS STRING), ' 0)')"))
        .withColumn("wsq", expr(
          "concat('POLYGON ((0 0,4 0,4 4,0 4,0 0))')"))
        .withColumn("wbow", expr(
          "concat('POLYGON ((0 0, ', CAST(2.0 * sc AS STRING), ' ', CAST(2.0 * sc AS STRING), ', ', " +
            "CAST(2.0 * sc AS STRING), ' 0, 0 ', CAST(2.0 * sc AS STRING), ', 0 0))')"))
      def an(c: org.apache.spark.sql.Column) =
        floor(gf.st_area(c) * lit(1000000000.0) + lit(0.5)).cast("long")
      base.select(col("doc_id"),
          an(gf.st_buffer(gf.st_geomfromtext(col("wline")), lit(0.5))).as("bufline_n"),
          an(gf.st_buffer(gf.st_geomfromtext(col("wsq")), lit(-0.5))).as("erode_n"),
          an(gf.st_makevalid(gf.st_geomfromtext(col("wbow")))).as("mkvalid_n"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH b AS (SELECT doc_id, 3.0 + CAST(doc_id % 10 AS DOUBLE) * 0.25 AS l,
                   1.0 + CAST(doc_id % 7 AS DOUBLE) * 0.5 AS sc
                 FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CAST(floor((2.0 * 0.5 * l + 16.0 * 0.25 * sin(2.0 * ${dlit(math.Pi)} / 32.0))
             * 1000000000.0 + 0.5) AS BIGINT) AS bufline_n,
        CAST(floor(9.0 * 1000000000.0 + 0.5) AS BIGINT) AS erode_n,
        CAST(floor(2.0 * sc * sc * 1000000000.0 + 0.5) AS BIGINT) AS mkvalid_n
      FROM b ORDER BY doc_id"""))
  ,

    // -- DE-9IM predicates (st_equals/overlaps/touches/disjoint/within/
    // crosses) over parameterized fixtures whose truth values are pure
    // doc_id arithmetic: B = A shifted by dx∈{0..4} (equal/overlap/edge-
    // touch/disjoint), C = inner square shifted by dy∈{0,1,2}, L =
    // horizontal line shifted by e∈{0..3} (cross/within/cross/point-touch)
    ("g21_predicates", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 10000)
        .select(col("doc_id"))
        .withColumn("dx", expr("CAST(doc_id % 5 AS DOUBLE)"))
        .withColumn("dy", expr("CAST(doc_id % 3 AS DOUBLE)"))
        .withColumn("e", expr("CAST(doc_id % 4 AS DOUBLE)"))
        .withColumn("ga", gf.st_geomfromtext(
          expr(rectWktSql("0.0", "0.0", "2.0", "2.0"))))
        .withColumn("gb", gf.st_geomfromtext(
          expr(rectWktSql("dx", "0.0", "dx + 2.0", "2.0"))))
        .withColumn("gc", gf.st_geomfromtext(
          expr(rectWktSql("0.5 + dy", "0.5", "1.5 + dy", "1.5"))))
        .withColumn("gl", gf.st_geomfromtext(expr(
          "concat('LINESTRING (', CAST(e - 1.0 AS STRING), ' 1, ', CAST(e + 1.0 AS STRING), ' 1)')")))
      base.select(col("doc_id"),
          gf.st_equals(col("ga"), col("gb")).cast("long").as("p_eq"),
          gf.st_overlaps(col("ga"), col("gb")).cast("long").as("p_ov"),
          gf.st_touches(col("ga"), col("gb")).cast("long").as("p_tc"),
          gf.st_disjoint(col("ga"), col("gb")).cast("long").as("p_dj"),
          gf.st_within(col("gc"), col("ga")).cast("long").as("p_in"),
          gf.st_crosses(col("gl"), col("ga")).cast("long").as("p_cr"),
          gf.st_within(col("gl"), col("ga")).cast("long").as("p_lin"),
          gf.st_touches(col("gl"), col("ga")).cast("long").as("p_ltc"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, doc_id % 5 AS dx, doc_id % 3 AS dy, doc_id % 4 AS e
                 FROM documents WHERE doc_id < 10000)
      SELECT doc_id,
        CAST(dx = 0 AS BIGINT) AS p_eq,
        CAST(dx = 1 AS BIGINT) AS p_ov,
        CAST(dx = 2 AS BIGINT) AS p_tc,
        CAST(dx >= 3 AS BIGINT) AS p_dj,
        CAST(dy = 0 AS BIGINT) AS p_in,
        CAST(e = 0 OR e = 2 AS BIGINT) AS p_cr,
        CAST(e = 1 AS BIGINT) AS p_lin,
        CAST(e = 3 AS BIGINT) AS p_ltc
      FROM b ORDER BY doc_id""")),

    // -- weighted-Brovey pansharpen (GDALPansharpenOperation): two spectral
    // bands + pan on the same grid, factor = pan/pseudo; the oracle writes
    // the identical left-assoc pseudo-pan expression so doubles are
    // bit-exact before checksum rounding
    ("r17_pansharpen", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      val pan = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 31 + gy * 17) % 97 + 1).toDouble
      }
      val s1 = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7 + gy * 3) % 53 + 1).toDouble
      }
      val s2 = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 11 + gy * 5) % 59 + 1).toDouble
      }
      engine.Raster.pansharpen(pan, Seq(s1, s2), Seq(0.5, 0.5))
        .map(t => (t.x.toLong, t.y.toLong, t.band,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "b", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("b") === 1, col("cks"))).as("cks_b1"),
          max(when(col("b") === 2, col("cks"))).as("cks_b2"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_b1", "cks_b2")
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      val pan = "CAST((gx * 31 + gy * 17) % 97 + 1 AS DOUBLE)"
      val s1 = "CAST((gx * 7 + gy * 3) % 53 + 1 AS DOUBLE)"
      val s2 = "CAST((gx * 11 + gy * 5) % 59 + 1 AS DOUBLE)"
      val factor = s"($pan / (0.5 * $s1 + 0.5 * $s2))"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy, $s1 * $factor AS v1, $s2 * $factor AS v2 FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("v1")} AS iv1, ${toInt("v2")} AS iv2 FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("iv1")} AS cks_b1, ${cksCol("iv2")} AS cks_b2
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- raster footprint (gdal_footprint): per-tile run-rect unions
    // dissolved across tiles; with pixel-aligned unit squares the footprint
    // area equals the valid-pixel count exactly (diagonal stripes cross
    // every tile boundary, so the cross-tile dissolve is what's verified)
    ("r18_footprint", (s, dir) => {
      val sp = s
      import sp.implicits._
      import graft.functions.gf
      prep(s)
      val tiles = engine.Raster.syntheticTiles(s, 2, tileSize = 64) { (gx, gy) =>
        if ((gx + gy) % 7 < 4) 1.0 else 0.0
      }
      engine.Footprint.footprint(tiles, v => v > 0.5)
        .select(lit(1L).as("id"),
          floor(gf.st_area(col("footprint")) + lit(0.5)).cast("long").as("area_px"))
    }, Some("""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys)
      SELECT CAST(1 AS BIGINT) AS id,
             CAST(count(*) FILTER (WHERE (gx + gy) % 7 < 4) AS BIGINT) AS area_px
      FROM px""")),

    // -- nearblack border flood fill: ragged left collar (border-connected,
    // scrubbed to 0) vs two interior near-black blobs (one tile-interior,
    // one crossing a tile boundary — both preserved)
    ("r19_nearblack", (s, dir) => {
      val sp = s
      import sp.implicits._
      def f(gx: Long, gy: Long): Double =
        if (gx < 10 + (gy % 5)) 3.0
        else if (gx >= 50 && gx < 60 && gy >= 50 && gy < 60) 3.0
        else if (gx >= 120 && gx < 136 && gy >= 120 && gy < 130) 3.0
        else 100.0
      val tiles = engine.Raster.syntheticTiles(s, 2, tileSize = 64)(f)
      engine.Nearblack.nearblack(tiles, 4, 4, v => v < 5.0)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .orderBy("x", "y")
    }, Some {
      val v = """CASE WHEN gx < 10 + (gy % 5) THEN 0
          WHEN gx >= 50 AND gx < 60 AND gy >= 50 AND gy < 60 THEN 3
          WHEN gx >= 120 AND gx < 136 AND gy >= 120 AND gy < 130 THEN 3
          ELSE 100 END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
          cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
            CAST($v AS BIGINT) AS iv FROM px)
          SELECT tx AS x, ty AS y,
            CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- viewshed (GDAL ViewshedExecutor port): flat terrain + a full-height
    // wall column 7 px right of the observer (H=3, eye=5). Inside the
    // |dx| >= |dy| wedge the EDGE-mode recursion collapses to the 1-D line
    // rule (deps stay in the wedge; Za=Zb), so visibility has a closed
    // form: hidden exactly for dx in [8,17] (reappear at n* = h·n_wall/
    // (h−H) = 17.5, safely off-integer). Cells outside the wedge are
    // masked to 7 on both sides.
    ("r20_viewshed", (s, dir) => {
      val sp = s
      import sp.implicits._
      def dem(gx: Long, gy: Long): Double = if (gx == 135) 3.0 else 0.0
      val tiles = engine.Raster.syntheticTiles(s, 2, tileSize = 64)(dem)
      // the BANDED path (round-4 verdict #4): 3-stage latitude-band
      // pipeline per quadrant with a propagated boundary row —
      // bit-identical to the quadrant split (ViewshedSplitSpec)
      engine.Viewshed.viewshedsBanded(tiles, Seq((1L, 128, 128, 5.0)), 4, 4,
          bandRows = 48)
        .map { case (_, t) =>
          val out = new Array[Double](t.pixels.length)
          var i = 0
          while (i < out.length) {
            val gx = t.x.toLong * t.w + (i % t.w)
            val gy = t.y.toLong * t.h + (i / t.w)
            val dx = gx - 128; val dy = gy - 128
            out(i) = if (math.abs(dx) >= math.abs(dy)) t.pixels(i) else 7.0
            i += 1
          }
          (t.x.toLong, t.y.toLong,
            engine.Raster.checksum(out, t.w, t.h).toLong)
        }
        .toDF("x", "y", "cks")
        .orderBy("x", "y")
    }, Some {
      val v = """CASE WHEN abs(gx - 128) < abs(gy - 128) THEN 7
          WHEN gx - 128 BETWEEN 8 AND 17 THEN 0
          ELSE 255 END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
          cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
            CAST($v AS BIGINT) AS iv FROM px)
          SELECT tx AS x, ty AS y,
            CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- near-dup ENGINE PATH: LSH banded candidates (d05's bucketed
    // equi-join — scales) piped into exact n-gram Jaccard refinement over
    // candidates only. This is the 100 TB near-dup entry point; d07's
    // group-quadratic join remains the oracle-scale baseline.
    ("d08_lsh_jaccard", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val (cand, _) = graft.engine.Lsh.candidatePairs(
        graft.engine.Lsh.bandify(Queries.minhashDf(s, dir), nBands = 2),
        maxBucket = Long.MaxValue) // uncapped for oracle parity (see d05)
      val sets = t(s, dir, "documents").where(expr("length(text) >= 3"))
        .select(col("doc_id"),
          array_distinct(gf.text_trigram_codes(col("text"))).as("cd"))
      cand.join(sets.as("sa"), col("a") === col("sa.doc_id"))
        .select(col("a"), col("b"), col("sa.cd").as("ca"))
        .join(sets.as("sb"), col("b") === col("sb.doc_id"))
        .select(col("a"), col("b"),
          expr("CAST(floor(1000.0 * size(array_intersect(ca, sb.cd)) / " +
            "(size(ca) + size(sb.cd) - size(array_intersect(ca, sb.cd)))) AS BIGINT)").as("jac_x1000"))
        .orderBy("a", "b")
    }, Some {
      val bandArms = (0 until 2).map { b =>
        s"SELECT doc_id, $b AS band, h${4 * b} AS x1, h${4 * b + 1} AS x2, h${4 * b + 2} AS x3, h${4 * b + 3} AS x4 FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH ${Queries.minhashCte}, bands AS ($bandArms),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r ON l.band = r.band AND l.x1 = r.x1 AND l.x2 = r.x2
              AND l.x3 = r.x3 AND l.x4 = r.x4 AND l.doc_id < r.doc_id),
          sets AS (SELECT doc_id, list_distinct(${trigramCodes("text", duck = true)}) AS cd
            FROM documents WHERE length(text) >= 3),
          p AS (SELECT a, b,
              len(list_filter(sa.cd, x -> list_contains(sb.cd, x))) AS inter,
              len(sa.cd) + len(sb.cd) AS tot
            FROM cand JOIN sets sa ON a = sa.doc_id JOIN sets sb ON b = sb.doc_id)
          SELECT a, b, CAST(floor(1000.0 * inter / (tot - inter)) AS BIGINT) AS jac_x1000
          FROM p ORDER BY a, b"""
    }),

    // -- OGR SQL dialect coercion quirks: '+' concatenates when the left
    // operand is a string (SWQ_ADD string branch) and strings coerce to
    // numbers via CPLAtof leading-prefix parse ("12abc" -> 12, "abc" -> 0)
    ("q20_dialect_coerce", (s, dir) => {
      prep(s)
      import graft.sql.OgrCompat
      val base = t(s, dir, "documents").where(col("doc_id") < 10000)
        .withColumn("sn", expr("CAST(doc_id % 100 AS STRING)"))
        .withColumn("s2", expr(
          "CASE WHEN doc_id % 3 = 0 THEN concat(CAST(doc_id % 100 AS STRING), 'x') " +
          "WHEN doc_id % 3 = 1 THEN concat('v', CAST(doc_id % 100 AS STRING)) " +
          "ELSE CAST(doc_id % 100 AS STRING) END"))
      base.select(col("doc_id"),
          OgrCompat.addOgr(col("sn"), col("doc_id") % 10, leftIsString = true).as("cat"),
          OgrCompat.strToNum(col("s2")).cast("long").as("num"),
          (OgrCompat.strToNum(col("s2")) > 50.0).cast("long").as("gt50"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, CAST(doc_id % 100 AS VARCHAR) AS sn,
          CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 100 AS VARCHAR) || 'x'
               WHEN doc_id % 3 = 1 THEN 'v' || CAST(doc_id % 100 AS VARCHAR)
               ELSE CAST(doc_id % 100 AS VARCHAR) END AS s2
        FROM documents WHERE doc_id < 10000),
      c AS (SELECT doc_id, sn || CAST(doc_id % 10 AS VARCHAR) AS cat,
          COALESCE(TRY_CAST(regexp_extract(s2, '^\s*[-+]?[0-9]*\.?[0-9]+([eE][-+]?[0-9]+)?', 0) AS DOUBLE), 0.0) AS numv
        FROM b)
      SELECT doc_id, cat, CAST(numv AS BIGINT) AS num,
             CAST(numv > 50.0 AS BIGINT) AS gt50
      FROM c ORDER BY doc_id""")),

    // -- upsert / MERGE INTO (OGRLayer::UpsertFeature): updates override
    // base on the key, inserts otherwise — one latest-wins shuffle; oracle
    // is the FULL OUTER JOIN + COALESCE formulation
    ("u02_upsert", (s, dir) => {
      val base = t(s, dir, "orders")
        .where(expr("o_orderkey % 2 = 0"))
        .select(col("o_orderkey"), expr(cents0("o_totalprice")).as("price_c"))
      val updates = t(s, dir, "orders")
        .where(expr("o_orderkey % 3 = 0"))
        .select(col("o_orderkey"),
          expr(s"${cents0("o_totalprice")} + 10000").as("price_c"))
      engine.Upsert.upsert(base, updates, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }, Some(s"""
      WITH base AS (SELECT o_orderkey, ${cents0("o_totalprice")} AS price_c
                    FROM orders WHERE o_orderkey % 2 = 0),
      upd AS (SELECT o_orderkey, ${cents0("o_totalprice")} + 10000 AS price_c
              FROM orders WHERE o_orderkey % 3 = 0)
      SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
             CAST(COALESCE(u.price_c, b.price_c) AS BIGINT) AS price_c
      FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
      ORDER BY o_orderkey""")),

    // -- curve geometry: CIRCULARSTRING linearized on read at the OGR
    // default 4° max step. Semicircle radius r -> 45 equal chords, length
    // 90·r·sin(π/90) in closed form (chord sums agree to ~1e-13 relative,
    // far inside the micro-int rounding)
    ("g24_circularstring", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .withColumn("r", expr("1.0 + CAST(doc_id % 9 AS DOUBLE) * 0.5"))
        .withColumn("wkt", expr(
          "concat('CIRCULARSTRING (', CAST(-r AS STRING), ' 0, 0 ', CAST(r AS STRING), ', ', CAST(r AS STRING), ' 0)')"))
        .withColumn("g", gf.st_geomfromtext(col("wkt")))
      base.select(col("doc_id"),
          expr("CAST(floor(st_length(g) * 1000000.0 + 0.5) AS BIGINT)").as("len_u"),
          gf.st_geometrytype(col("g")).as("gtype"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH b AS (SELECT doc_id, 1.0 + CAST(doc_id % 9 AS DOUBLE) * 0.5 AS r
                 FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CAST(floor(90.0 * r * sin(${dlit(math.Pi)} / 90.0) * 1000000.0 + 0.5) AS BIGINT) AS len_u,
        'LINESTRING' AS gtype
      FROM b ORDER BY doc_id""")),

    // -- gdaldem color-relief: linear interpolation between color stops,
    // channel = clamp(int(0.5 + lo + ratio·(hi−lo))), boundary colors
    // outside the table; per-band checksums against the closed form
    ("r21_color_relief", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val stops = Seq((500.0, 10, 250, 40), (4000.0, 200, 120, 0), (9000.0, 255, 255, 255))
      engine.Raster.colorRelief(base, stops)
        .map(t => (t.x.toLong, t.y.toLong, t.band,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "b", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("b") === 1, col("cks"))).as("cks_r"),
          max(when(col("b") === 2, col("cks"))).as("cks_g"),
          max(when(col("b") === 3, col("cks"))).as("cks_b"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_r", "cks_g", "cks_b")
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      val v = "CAST((gx * 7919 + gy * 104729) % 9973 AS DOUBLE)"
      def chan(lo: Int, hi: Int, loV: Double, hiV: Double): String =
        s"least(255, greatest(0, CAST(floor(0.5 + $lo + (($v - $loV) / (${hiV - loV})) * (${hi - lo})) AS BIGINT)))"
      def band(c1: Int, c2: Int, c3: Int): String =
        s"""CASE WHEN $v <= 500.0 THEN $c1
            WHEN $v >= 9000.0 THEN $c3
            WHEN $v <= 4000.0 THEN ${chan(c1, c2, 500.0, 4000.0)}
            ELSE ${chan(c2, c3, 4000.0, 9000.0)} END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(${band(10, 200, 255)} AS BIGINT) AS ivr,
            CAST(${band(250, 120, 255)} AS BIGINT) AS ivg,
            CAST(${band(40, 0, 255)} AS BIGINT) AS ivb FROM px)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("ivr")} AS cks_r, ${cksCol("ivg")} AS cks_g, ${cksCol("ivb")} AS cks_b
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- general NxN focal windows (gdalalg_raster_neighbors size option):
    // 5x5 sum/min/max through the widened 2-px halo strips; 2-px global
    // border yields nodata 0 as in the 3x3 case
    ("r22_focal5x5", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val fns: Seq[Array[Double] => Double] = Seq(
        w => { var t = 0.0; var i = 0; while (i < w.length) { t += w(i); i += 1 }; t },
        w => { var m = w(0); var i = 1; while (i < w.length) { if (w(i) < m) m = w(i); i += 1 }; m },
        w => { var m = w(0); var i = 1; while (i < w.length) { if (w(i) > m) m = w(i); i += 1 }; m })
      engine.Focal.focalMulti(base, fns, size = 5)
        .map { case (k, ti) => (ti.x.toLong, ti.y.toLong, k,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong) }
        .toDF("x", "y", "k", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("k") === 0, col("cks"))).as("cks_sum5"),
          max(when(col("k") === 1, col("cks"))).as("cks_min5"),
          max(when(col("k") === 2, col("cks"))).as("cks_max5"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_sum5", "cks_min5", "cks_max5")
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      def fAt(dx: Int, dy: Int) =
        s"CAST(((gx + ($dx)) * 7919 + (gy + ($dy)) * 104729) % 9973 AS DOUBLE)"
      val w25 = for (dy <- -2 to 2; dx <- -2 to 2) yield fAt(dx, dy)
      val sum25 = w25.mkString("(", " + ", ")")
      val mn = w25.mkString("least(", ", ", ")")
      val mx = w25.mkString("greatest(", ", ", ")")
      val border = s"gx < 2 OR gy < 2 OR gx > $maxG - 2 OR gy > $maxG - 2"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy,
            CASE WHEN $border THEN 0.0 ELSE $sum25 END AS vs,
            CASE WHEN $border THEN 0.0 ELSE $mn END AS vn,
            CASE WHEN $border THEN 0.0 ELSE $mx END AS vx FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("vs")} AS ivs, ${toInt("vn")} AS ivn, ${toInt("vx")} AS ivx FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("ivs")} AS cks_sum5, ${cksCol("ivn")} AS cks_min5,
            ${cksCol("ivx")} AS cks_max5
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- cell-prefix-partitioned + hilbert-sorted layout (the persistent-
    // index analog): write, then bbox read whose cell cover prunes
    // directories at plan time (PartitionFilters — asserted in
    // CellLayoutSpec); gate checks the roundtrip returns exactly the
    // bbox rows
    ("u03_cell_layout", (s, dir) => {
      prep(s)
      val pts = Queries.eventPoints(s, dir)
      val path = s"/tmp/graft_cell_layout_gate"
      engine.CellLayout.write(pts, path, prefixZ = 3)
      engine.CellLayout.readBbox(s, path, 3, -20.0, -30.0, 40.0, 35.0)
        .select(col("event_id")).orderBy("event_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events)
      SELECT event_id FROM pts
      WHERE lon >= -20.0 AND lon <= 40.0 AND lat >= -30.0 AND lat <= 35.0
      ORDER BY event_id""")),

    // -- GNM shortest-path tree (GNMGraph::DijkstraShortestPath) as
    // synchronous parallel relaxation: DAG with hop sizes {1, 9, 81} and
    // integer weights; the DuckDB twin is a recursive CTE whose UNION
    // dedups (node, dist) states, so it terminates on the DAG
    ("g25_shortest_path", (s, dir) => {
      val sp = s
      import sp.implicits._
      val n = 300
      val edges = (0 until n).flatMap { i =>
        Seq((i.toLong, (i + 1).toLong, (i % 5 + 1).toDouble),
          (i.toLong, (i + 9).toLong, 4.0),
          (i.toLong, (i + 81).toLong, 20.0)).filter(_._2 < n)
      }.toDF("src", "dst", "w")
      engine.GraphOps.shortestPaths(edges, 0L)
        .select(col("node"), col("dist").cast("long").as("dist"))
        .orderBy("node")
    }, Some(s"""
      WITH RECURSIVE edges AS (
        SELECT i AS src, i + 1 AS dst, CAST(i % 5 + 1 AS DOUBLE) AS w
          FROM (SELECT unnest(generate_series(0, 299)) AS i) WHERE i + 1 < 300
        UNION ALL
        SELECT i, i + 9, 4.0 FROM (SELECT unnest(generate_series(0, 299)) AS i) WHERE i + 9 < 300
        UNION ALL
        SELECT i, i + 81, 20.0 FROM (SELECT unnest(generate_series(0, 299)) AS i) WHERE i + 81 < 300),
      sp(node, dist) AS (
        SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        UNION
        SELECT e.dst, sp.dist + e.w FROM sp JOIN edges e ON sp.node = e.src)
      SELECT node, CAST(min(dist) AS BIGINT) AS dist
      FROM sp GROUP BY node ORDER BY node""")),

    // -- GNM connected components (hash-min label propagation): chains
    // linked by node % 17, so the component id is the residue in closed form
    ("g26_connected_components", (s, dir) => {
      val sp = s
      import sp.implicits._
      val n = 500
      val edges = (0 until n).flatMap { i =>
        if (i + 17 < n) Some((i.toLong, (i + 17).toLong)) else None
      }.toDF("src", "dst")
      engine.GraphOps.connectedComponents(edges)
        .orderBy("node")
    }, Some("""
      SELECT CAST(i AS BIGINT) AS node, CAST(i % 17 AS BIGINT) AS comp
      FROM (SELECT unnest(generate_series(0, 499)) AS i) ORDER BY node""")),

    // -- concave hull at ratio 1.0 == convex hull (exercises the full
    // Delaunay + border-erosion pipeline; the heavily-eroded behavior is
    // property-tested in ConcaveHullSpec): square corners + interior
    // points -> hull area s² exactly
    ("g27_concavehull", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .withColumn("sc", expr("1.0 + CAST(doc_id % 11 AS DOUBLE) * 0.25"))
        .withColumn("wkt", expr(
          "concat('MULTIPOINT ((0 0), (', CAST(sc AS STRING), ' 0), (', " +
            "CAST(sc AS STRING), ' ', CAST(sc AS STRING), '), (0 ', CAST(sc AS STRING), '), " +
            "(', CAST(sc * 0.5 AS STRING), ' ', CAST(sc * 0.25 AS STRING), '), " +
            "(', CAST(sc * 0.3 AS STRING), ' ', CAST(sc * 0.7 AS STRING), '))')"))
        .withColumn("hull", gf.st_concavehull(gf.st_geomfromtext(col("wkt")), lit(1.0)))
      base.select(col("doc_id"),
          expr("CAST(floor(st_area(hull) * 1000000000.0 + 0.5) AS BIGINT)").as("area_n"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, 1.0 + CAST(doc_id % 11 AS DOUBLE) * 0.25 AS sc
                 FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CAST(floor(sc * sc * 1000000000.0 + 0.5) AS BIGINT) AS area_n
      FROM b ORDER BY doc_id""")),

    // -- rgb-to-palette (GDALComputeMedianCutPCT + nearest-color mapping):
    // an 8-color raster cut to nColors=8 must converge to exactly those
    // colors (single-color boxes; count-weighted integer means are exact),
    // so palette-reconstructed channels equal the originals bit-for-bit
    ("r23_median_cut", (s, dir) => {
      val sp = s
      import sp.implicits._
      def kOf(gx: Long, gy: Long): Long = ((gx >> 5) + (gy >> 5)) % 8
      val rT = engine.Raster.syntheticTiles(s, 1)((gx, gy) => (10 + 28 * kOf(gx, gy)).toDouble)
      val gT = engine.Raster.syntheticTiles(s, 1)((gx, gy) => (240 - 25 * kOf(gx, gy)).toDouble)
      val bT = engine.Raster.syntheticTiles(s, 1)((gx, gy) => (20 + 30 * kOf(gx, gy)).toDouble)
      val pal = engine.Palette.medianCut(rT, gT, bT, nColors = 8)
      val palB = s.sparkContext.broadcast(pal)
      engine.Palette.applyPalette(rT, gT, bT, pal)
        .map { t =>
          val p = palB.value
          val n = t.pixels.length
          val rr = new Array[Double](n); val gg = new Array[Double](n); val bb = new Array[Double](n)
          var i = 0
          while (i < n) {
            val c = p(t.pixels(i).toInt)
            rr(i) = c._1; gg(i) = c._2; bb(i) = c._3
            i += 1
          }
          (t.x.toLong, t.y.toLong,
            engine.Raster.checksum(rr, t.w, t.h).toLong,
            engine.Raster.checksum(gg, t.w, t.h).toLong,
            engine.Raster.checksum(bb, t.w, t.h).toLong)
        }
        .toDF("x", "y", "cks_r", "cks_g", "cks_b")
        .orderBy("x", "y")
    }, Some {
      val k = "(((gx // 32) + (gy // 32)) % 8)"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(10 + 28 * $k AS BIGINT) AS ivr,
            CAST(240 - 25 * $k AS BIGINT) AS ivg,
            CAST(20 + 30 * $k AS BIGINT) AS ivb FROM px)
          SELECT tx AS x, ty AS y,
            ${cksCol("ivr")} AS cks_r, ${cksCol("ivg")} AS cks_g, ${cksCol("ivb")} AS cks_b
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- UTM reprojection (ellipsoidal transverse Mercator, Snyder series —
    // the native projection set grows beyond 3857): zone 31 points, easting/
    // northing at 0.1 mm ints; the oracle writes the identical series with
    // identical literals and operation order
    ("g28_utm", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .withColumn("lonz", expr("0.5 + (lon + 180.0) / 360.0 * 5.0"))
        .withColumn("latz", expr("greatest(-80.0, least(80.0, lat))"))
        .withColumn("g", gf.st_transform_utm(
          gf.st_point(col("lonz"), col("latz")), lit(31)))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(g) * 10000.0 + 0.5) AS BIGINT)").as("e_01mm"),
          expr("CAST(floor(st_y(g) * 10000.0 + 0.5) AS BIGINT)").as("n_01mm"))
        .orderBy("event_id")
    }, Some {
      import graft.geom.Utm
      val aC = dlit(Utm.A); val k0 = dlit(Utm.K0)
      val f = 1.0 / 298.257223563
      val e2v = f * (2.0 - f); val e4v = e2v * e2v; val e6v = e4v * e2v
      val ep2v = e2v / (1.0 - e2v)
      val (e2l, ep2l) = (dlit(e2v), dlit(ep2v))
      val d2r = dlit(math.Pi / 180.0)
      val mc1 = dlit(1.0 - e2v / 4.0 - 3.0 * e4v / 64.0 - 5.0 * e6v / 256.0)
      val mc2 = dlit(3.0 * e2v / 8.0 + 3.0 * e4v / 32.0 + 45.0 * e6v / 1024.0)
      val mc3 = dlit(15.0 * e4v / 256.0 + 45.0 * e6v / 1024.0)
      val mc4 = dlit(35.0 * e6v / 3072.0)
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      zz AS (SELECT event_id,
          (0.5 + (lon + 180.0) / 360.0 * 5.0) * $d2r AS lam,
          greatest(-80.0, least(80.0, lat)) * $d2r AS phi FROM pts),
      tr AS (SELECT event_id, lam, phi, sin(phi) AS sinp, cos(phi) AS cosp,
          tan(phi) AS tanp, 3.0 * $d2r AS lam0 FROM zz),
      st AS (SELECT event_id, tanp,
          $aC / sqrt(1.0 - $e2l * sinp * sinp) AS nn,
          tanp * tanp AS t, $ep2l * cosp * cosp AS c,
          (lam - lam0) * cosp AS aa,
          $aC * ($mc1 * phi - $mc2 * sin(2.0 * phi) +
                 $mc3 * sin(4.0 * phi) - $mc4 * sin(6.0 * phi)) AS m
        FROM tr),
      xy AS (SELECT event_id,
          $k0 * nn * (aa + (1.0 - t + c) * (aa * aa * aa) / 6.0 +
            (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * $ep2l) *
              (aa * aa * aa * aa * aa) / 120.0) + 500000.0 AS x,
          $k0 * (m + nn * tanp * ((aa * aa) / 2.0 +
            (5.0 - t + 9.0 * c + 4.0 * c * c) * (aa * aa * aa * aa) / 24.0 +
            (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * $ep2l) *
              (aa * aa * aa * aa * aa * aa) / 720.0)) AS y
        FROM st)
      SELECT event_id, CAST(floor(x * 10000.0 + 0.5) AS BIGINT) AS e_01mm,
             CAST(floor(y * 10000.0 + 0.5) AS BIGINT) AS n_01mm
      FROM xy ORDER BY event_id"""
    }),

    // -- CURVEPOLYGON/COMPOUNDCURVE linearized at parse: half-disc ring
    // (semicircular arc + diameter) -> area = (1/2)·r²·45·sin(π/45) for
    // the 45-chord OGR-default stroking, in closed form
    ("g29_curvepolygon", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .withColumn("r", expr("1.0 + CAST(doc_id % 6 AS DOUBLE) * 0.5"))
        .withColumn("wkt", expr(
          "concat('CURVEPOLYGON (COMPOUNDCURVE (CIRCULARSTRING (', CAST(-r AS STRING), " +
            "' 0, 0 ', CAST(r AS STRING), ', ', CAST(r AS STRING), ' 0), (', " +
            "CAST(r AS STRING), ' 0, ', CAST(-r AS STRING), ' 0)))')"))
        .withColumn("g", gf.st_geomfromtext(col("wkt")))
      base.select(col("doc_id"),
          expr("CAST(floor(st_area(g) * 1000000.0 + 0.5) AS BIGINT)").as("area_u"),
          gf.st_geometrytype(col("g")).as("gtype"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH b AS (SELECT doc_id, 1.0 + CAST(doc_id % 6 AS DOUBLE) * 0.5 AS r
                 FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CAST(floor(0.5 * r * r * 45.0 * sin(${dlit(math.Pi)} / 45.0) * 1000000.0 + 0.5) AS BIGINT) AS area_u,
        'POLYGON' AS gtype
      FROM b ORDER BY doc_id""")),

    // -- raster blend src-over (BlendSrcOverRGBA_Generic): exact integer
    // Porter-Duff over with (x*y+255)/256 products and the inverse-alpha
    // table — every step is integer division/shift, so the oracle is
    // bit-exact
    ("r24_blend", (s, dir) => {
      val sp = s
      import sp.implicits._
      def ch(m1: Long, m2: Long, mod: Int) =
        engine.Raster.syntheticTiles(s, 1) { (gx, gy) => ((gx * m1 + gy * m2) % mod).toDouble }
      val base = Seq(ch(7, 13, 256), ch(11, 3, 256), ch(5, 17, 256), ch(2, 9, 256))
      val over = Seq(ch(19, 23, 256), ch(29, 31, 256), ch(37, 41, 256), ch(43, 47, 256))
      engine.Blend.srcOver(base, over, opacity = 179)
        .map(t => (t.x.toLong, t.y.toLong, t.band,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "b", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("b") === 1, col("cks"))).as("cks_r"),
          max(when(col("b") === 2, col("cks"))).as("cks_g"),
          max(when(col("b") === 3, col("cks"))).as("cks_b"),
          max(when(col("b") === 4, col("cks"))).as("cks_a"))
        .orderBy("x", "y")
    }, Some {
      def ch(m1: Int, m2: Int) = s"((gx * $m1 + gy * $m2) % 256)"
      val (r, g, b, a) = (ch(7, 13), ch(11, 3), ch(5, 17), ch(2, 9))
      val (or0, og, ob, oaRaw) = (ch(19, 23), ch(29, 31), ch(37, 41), ch(43, 47))
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
          s1 AS (SELECT gx, gy, ($oaRaw * 179 + 255) // 256 AS oa,
            $r AS r, $g AS g, $b AS b, $a AS a,
            $or0 AS orr, $og AS ogg, $ob AS obb FROM px),
          s2 AS (SELECT *, (a * (255 - oa) + 255) // 256 AS sam FROM s1),
          s3 AS (SELECT gx, gy, oa + sam AS dsta,
            (orr * oa + r * sam + 255) // 256 AS dr0,
            (ogg * oa + g * sam + 255) // 256 AS dg0,
            (obb * oa + b * sam + 255) // 256 AS db0 FROM s2),
          s4 AS (SELECT gx, gy, dsta,
            CASE WHEN dsta = 0 THEN 0 ELSE (65280 + dsta // 2) // dsta END AS inva,
            dr0, dg0, db0 FROM s3),
          v AS (SELECT gx, gy,
            (dr0 * inva + 255) // 256 AS vr, (dg0 * inva + 255) // 256 AS vg,
            (db0 * inva + 255) // 256 AS vb, dsta AS va FROM s4),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(vr AS BIGINT) AS ivr, CAST(vg AS BIGINT) AS ivg,
            CAST(vb AS BIGINT) AS ivb, CAST(va AS BIGINT) AS iva FROM v)
          SELECT tx AS x, ty AS y,
            ${cksCol("ivr")} AS cks_r, ${cksCol("ivg")} AS cks_g,
            ${cksCol("ivb")} AS cks_b, ${cksCol("iva")} AS cks_a
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- declarative spatial join: the NAIVE predicate-join formulation,
    // rewritten by CellJoinRule into the cell-cover equi-join (the rewrite
    // is asserted plan-level in CellJoinRuleSpec; here the rows are gated
    // against the closed-form band-membership oracle)
    ("g30_rule_join", (s, dir) => {
      prep(s)
      import s.implicits._
      import graft.functions.gf
      val pts = Queries.eventPoints(s, dir).where(col("event_id") < 3000)
      val polys = (0 until 20).map { i =>
        val x0 = -180.0 + 18.0 * i
        (i.toLong, s"POLYGON (($x0 -50, ${x0 + 10} -50, ${x0 + 10} 50, $x0 50, $x0 -50))")
      }.toDF("poly_id", "wkt")
        .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
      pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
        .select(col("event_id"), col("poly_id"))
        .orderBy("event_id", "poly_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 3000),
      polys AS (SELECT i AS poly_id, -180.0 + 18.0 * i AS x0
                FROM (SELECT unnest(generate_series(0, 19)) AS i))
      SELECT event_id, CAST(poly_id AS BIGINT) AS poly_id
      FROM pts JOIN polys
        ON lon > x0 AND lon < x0 + 10.0 AND lat > -50.0 AND lat < 50.0
      ORDER BY event_id, poly_id""")),

    // -- blend multiply + screen operators (BlendMultiply/Screen_Generic):
    // premultiplied integer composition, bit-exact integer oracle
    ("r25_blend_modes", (s, dir) => {
      val sp = s
      import sp.implicits._
      def ch(m1: Long, m2: Long) =
        engine.Raster.syntheticTiles(s, 1) { (gx, gy) => ((gx * m1 + gy * m2) % 256).toDouble }
      val base = Seq(ch(7, 13), ch(11, 3), ch(5, 17), ch(2, 9))
      val over = Seq(ch(19, 23), ch(29, 31), ch(37, 41), ch(43, 47))
      val mult = engine.Blend.compose(base, over, opacity = 200, mode = "multiply")
        .map(t => (t.x.toLong, t.y.toLong, t.band,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "b", "cksm")
      val scr = engine.Blend.compose(base, over, opacity = 200, mode = "screen")
        .map(t => (t.x.toLong, t.y.toLong, t.band,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "b", "ckss")
      mult.join(scr, Seq("x", "y", "b"))
        .groupBy("x", "y")
        .agg(max(when(col("b") === 1, col("cksm"))).as("cks_mr"),
          max(when(col("b") === 4, col("cksm"))).as("cks_ma"),
          max(when(col("b") === 1, col("ckss"))).as("cks_sr"),
          max(when(col("b") === 2, col("ckss"))).as("cks_sg"))
        .orderBy("x", "y")
    }, Some {
      def ch(m1: Int, m2: Int) = s"((gx * $m1 + gy * $m2) % 256)"
      val mul = (a: String, b: String) => s"(($a * $b + 255) // 256)"
      val div = (a: String, b: String) =>
        s"(CASE WHEN ($a) = 0 THEN 0 WHEN ($b) = 0 THEN 255 ELSE (($a) * 255) // ($b) END)"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
          s1 AS (SELECT gx, gy, ${ch(2, 9)} AS a, ${mul(ch(43, 47), "200")} AS oa,
            ${ch(7, 13)} AS cr, ${ch(11, 3)} AS cg, ${ch(19, 23)} AS ocr, ${ch(29, 31)} AS ocg
            FROM px),
          s2 AS (SELECT gx, gy, a, oa, oa + a - ${mul("oa", "a")} AS fa,
            ${mul("cr", "a")} AS dr, ${mul("cg", "a")} AS dg,
            ${mul("ocr", "oa")} AS sr, ${mul("ocg", "oa")} AS sg FROM s1),
          v AS (SELECT gx, gy, fa AS va,
            ${div(s"${mul("dr", "sr")} + ${mul("dr", "(255 - oa)")} + ${mul("sr", "(255 - a)")}", "fa")} AS vmr,
            ${div(s"sr + dr - ${mul("sr", "dr")}", "fa")} AS vsr,
            ${div(s"sg + dg - ${mul("sg", "dg")}", "fa")} AS vsg FROM s2),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            CAST(vmr AS BIGINT) AS ivmr, CAST(va AS BIGINT) AS ivma,
            CAST(vsr AS BIGINT) AS ivsr, CAST(vsg AS BIGINT) AS ivsg FROM v)
          SELECT tx AS x, ty AS y,
            ${cksCol("ivmr")} AS cks_mr, ${cksCol("ivma")} AS cks_ma,
            ${cksCol("ivsr")} AS cks_sr, ${cksCol("ivsg")} AS cks_sg
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    })
  )

  /** WKT for an axis-aligned rect from SQL sub-expressions (CCW closed). */
  private def rectWktSql(x0: String, y0: String, x1: String, y1: String): String =
    s"concat('POLYGON ((', CAST($x0 AS STRING), ' ', CAST($y0 AS STRING), ',', " +
      s"CAST($x1 AS STRING), ' ', CAST($y0 AS STRING), ',', " +
      s"CAST($x1 AS STRING), ' ', CAST($y1 AS STRING), ',', " +
      s"CAST($x0 AS STRING), ' ', CAST($y1 AS STRING), ',', " +
      s"CAST($x0 AS STRING), ' ', CAST($y0 AS STRING), '))')"
}
