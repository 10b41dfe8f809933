package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sql.OgrSql
import graft.sql.OgrSql.Layer
import QueryFixtures._

/** Round-3 gate queries. Same conventions as [[Queries]]: identical output
  * column names/types on both sides, deterministic ORDER BY, BIGINT/STRING
  * outputs where possible. */
object Queries3 {

  private def toInt(col: String): String = s"CAST(floor($col + 0.5) AS BIGINT)"

  /** poly/idlink fixture layers for the OGR SQL text entry point
    * (FIXTURES.md §2-3; rows from autotest/ogr/data/poly.dbf, idlink.dbf). */
  private def ogrLayers(s: SparkSession): Map[String, Layer] = {
    import s.implicits._
    val poly = polyRows.toDF("fid", "area", "eas_id", "prfedea")
    val idlink = idlinkRows.zipWithIndex.map { case ((e, n), i) => (i.toLong, e, n) }
      .toDF("rid", "eas_id", "name")
    Map("poly" -> Layer(poly, fid = Some("fid")),
        "idlink" -> Layer(idlink, fid = Some("rid")))
  }

  /** r36 rasterize fixture: 14 deterministic triangles in z=2 pixel space
    * (some spill past the 1024² raster edge to exercise clipping), with
    * non-monotonic burn values so REPLACE order differs from max-burn.
    * Coordinates quantized to 4 decimals so the identical double literal
    * can be embedded in both the WKT and the oracle SQL. */
  private def r36Tris: Seq[(Long, Double, Double, Double, Double, Double, Double, Double)] = {
    def fr(x: Double): Double = x - math.floor(x)
    def q(v: Double): Double = "%.4f".formatLocal(java.util.Locale.ROOT, v).toDouble
    (0 until 14).map { k =>
      val cx = 60.0 + 900.0 * fr(k * 0.6180339887498949)
      val cy = 60.0 + 900.0 * fr(k * 0.4142135623730951)
      val r0 = 30.0 + 150.0 * fr(k * 0.7320508075688772)
      val a0 = k.toDouble * 0.7
      val (x1, y1) = (q(cx + r0 * math.cos(a0)), q(cy + r0 * math.sin(a0)))
      val (x2, y2) = (q(cx + 0.8 * r0 * math.cos(a0 + 2.1)), q(cy + 0.8 * r0 * math.sin(a0 + 2.1)))
      val (x3, y3) = (q(cx + 1.1 * r0 * math.cos(a0 + 4.3)), q(cy + 1.1 * r0 * math.sin(a0 + 4.3)))
      (k.toLong, x1, y1, x2, y2, x3, y3, (((k * 37) % 23) + 1).toDouble)
    }
  }

  /** Generating quadratic for the r26 GCPs (mild curvature; keeps every
    * dst pixel's source inside the 2048² raster). */
  private def quadMapX(x: Double, y: Double): Double =
    120.7133 + 1.731707 * x + 0.0310971 * y + 1.90023e-5 * x * y + 2.70131e-6 * x * x + 1.30117e-6 * y * y
  private def quadMapY(x: Double, y: Double): Double =
    57.3177 + 0.0290137 * x + 1.810391 * y + 1.10071e-5 * x * y + 1.70033e-6 * y * y + 3.10057e-6 * x * x

  /** Near-kernel warp oracle over the synthetic (7919·x+104729·y)%9973
    * raster: evaluate the closed-form dst→src map per dst pixel, sample
    * nearest, checksum per 256-px tile (same scheme as r16). */
  private def warpOracle(sx: String, sy: String): String = s"""
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
      FROM cells GROUP BY 2, 3 ORDER BY x, y"""

  /** DuckDB twin of the r28 cubicspline+lanczos warp: the separable
    * convolution written term-by-term in the ENGINE's float-op order
    * (same arg construction f±c, same left-assoc sums, normalize by
    * (Σwx)·(Σwy)) so results are bit-identical modulo libm sin() ulps —
    * which the checksum's integer rounding absorbs (values ~1e3, noise
    * ~1e-12). Signs of the B-spline branch conditions are static because
    * fx,fy ∈ {0.05, 0.55}. */
  private def splineLanczosOracle: String = {
    val maxG = 2047
    def cube(e: String) = s"(($e) * ($e) * ($e))"
    // bspline evaluated at (f + c) with the engine's nested-branch forms
    def wB(f: String, c: Int): String = {
      val a = c match {
        case 1 => s"($f + 1.0)"
        case 0 => f
        case -1 => s"($f - 1.0)"
        case _ => s"($f - 2.0)"
      }
      c match {
        case 1 => s"(${cube(s"($a + 2.0)")} + (-4.0) * ${cube(s"($a + 1.0)")}" +
          s" + 6.0 * ${cube(a)} + (-4.0) * ${cube(s"($a - 1.0)")})"
        case 0 => s"(${cube(s"($a + 2.0)")} + (-4.0) * ${cube(s"($a + 1.0)")} + 6.0 * ${cube(a)})"
        case -1 => s"(${cube(s"($a + 2.0)")} + (-4.0) * ${cube(s"($a + 1.0)")})"
        case _ => s"${cube(s"($a + 2.0)")}"
      }
    }
    // lanczosSinc evaluated at (f + c), c in [-3, 2]; |f+c| in (0, 3) always
    def wL(f: String, c: Int): String = {
      val a = if (c == 0) f else if (c > 0) s"($f + $c.0)" else s"($f - ${-c}.0)"
      s"((sin(pi() * $a) / (pi() * $a)) * " +
        s"(sin((pi() * $a) / 3.0) / ((pi() * $a) / 3.0)))"
    }
    def fAt(xe: String, ye: String) =
      s"CAST((CAST($xe AS BIGINT) * 7919 + CAST($ye AS BIGINT) * 104729) % 9973 AS DOUBLE)"
    def conv(k: Int, wOf: (String, Int) => String, off: Seq[Int], hw: Int): String = {
      val wxs = off.map(c => wOf("fx", c))
      val wys = off.map(c => wOf("fy", c))
      val acc = wys.zipWithIndex.map { case (wy, j) =>
        val row = wxs.zipWithIndex.map { case (wx, i) =>
          s"$wx * ${fAt(s"bx + ${i - (hw - 1)}", s"by + ${j - (hw - 1)}")}"
        }.mkString(" + ")
        s"$wy * ($row)"
      }.mkString(" + ")
      val norm = s"(${wxs.mkString(" + ")}) * (${wys.mkString(" + ")})"
      s"""CASE WHEN bx - ${hw - 1} < 0 OR bx + $hw > $maxG
            OR by - ${hw - 1} < 0 OR by + $hw > $maxG
          THEN 0.0 ELSE ($acc) / ($norm) END"""
    }
    val vSpline = conv(0, wB, Seq(1, 0, -1, -2), 2)
    val vLanczos = conv(1, wL, Seq(2, 1, 0, -1, -2, -3), 3)
    def half(k: Int, v: String) = s"""
      SELECT CAST($k AS BIGINT) AS k, CAST(2 AS BIGINT) AS z,
             gx >> 8 AS x, gy >> 8 AS y,
        CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST(((gy % 256) * 256 + (gx % 256)) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
      FROM (SELECT gx, gy, CAST(floor(($v) + 0.5) AS BIGINT) AS iv FROM fr)
      GROUP BY 1, 2, 3, 4"""
    s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
      sm AS (SELECT gx, gy,
          (CAST(gx AS DOUBLE) + 0.5) * 0.5 + 1500.3 - 0.5 AS sxp,
          (CAST(gy AS DOUBLE) + 0.5) * 0.5 + 57.7 - 0.5 AS syp FROM px),
      fr AS (SELECT gx, gy, CAST(floor(sxp) AS BIGINT) AS bx,
          CAST(floor(syp) AS BIGINT) AS by,
          sxp - floor(sxp) AS fx, syp - floor(syp) AS fy FROM sm)
      ${half(0, vSpline)} UNION ALL ${half(1, vLanczos)}
      ORDER BY k, x, y"""
  }

  private val IVF_K = 8; private val IVF_ITERS = 2
  /** Training-pass row cap for e04-e07 (round-4 verdict #9): codebooks
    * train on a deterministic stride sample of ~this many rows, never the
    * full corpus. 250 BITES at the sf0.01 gate (500 rows -> stride 2), so
    * the oracle proves both engines sample identically. */
  private val ANN_TRAIN_CAP = 250
  private val IVF_NPROBE = 4; private val IVF_TOPK = 3

  private val PQ_M = 16; private val PQ_K = 16; private val PQ_ITERS = 2
  private val PQ_CAND = 64; private val PQ_TOPK = 3; private val PQ_W = 4

  /** DuckDB replay of [[graft.engine.Ann.pqTopK]]: per sub-space the same
    * unrolled deterministic k-means as [[ivfKmeansOracle]] (micro-rounded
    * centroid updates), then ADC tables + rounded approximate ranking +
    * exact-cosine refine. */
  private def pqOracle: String = {
    def dotD(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
    def score(v: String, c: String) =
      s"list_sum(list_transform($c, x -> x * x)) - 2.0 * ${dotD(v, c)}"
    // per-sub-space kmeans CTE chain with prefix p
    def assignCte(p: String, i: Int, src: String) = s"""
      ${p}a$i AS (SELECT vec_id, sub, cid FROM (
          SELECT e.vec_id, e.sub, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${score("e.sub", "c.ce")}, c.cid) AS rk
          FROM $src e CROSS JOIN ${p}c$i c) WHERE rk = 1)"""
    def updateCte(p: String, i: Int) = s"""
      ${p}c${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS m FROM (
            SELECT cid, generate_subscripts(sub, 1) AS pos, unnest(sub) AS v FROM ${p}a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    def chain(s: Int): String = {
      val p = s"s$s"
      val lo = s * PQ_W + 1; val hi = (s + 1) * PQ_W
      val loop = (0 until PQ_ITERS).map(i =>
        assignCte(p, i, s"${p}t") + "," + updateCte(p, i)).mkString(",")
      s"""
      ${p}e AS (SELECT vec_id, un[$lo:$hi] AS sub FROM e),
      ${p}t AS (SELECT * FROM ${p}e WHERE vec_id %
          (SELECT greatest(1, count(*) // $ANN_TRAIN_CAP) FROM ${p}e) = 0),
      ${p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sub AS ce
          FROM ${p}e WHERE vec_id % (SELECT greatest(1, count(*) // $PQ_K) FROM ${p}e) = 0
          ORDER BY vec_id LIMIT $PQ_K),
      $loop,
      ${assignCte(p, PQ_ITERS, s"${p}e").trim}"""
    }
    val chains = (0 until PQ_M).map(chain).mkString(",")
    val codesU = (0 until PQ_M).map(s =>
      s"SELECT vec_id AS pid, $s AS s, cid AS code FROM s${s}a$PQ_ITERS").mkString(" UNION ALL ")
    val booksU = (0 until PQ_M).map(s =>
      s"SELECT $s AS s, cid AS code, ce FROM s${s}c$PQ_ITERS").mkString(" UNION ALL ")
    s"""
      WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nm FROM embeddings),
      e AS (SELECT vec_id, emb, nm,
            list_transform(emb, x -> x / nm) AS un FROM e0),
      $chains,
      codes AS ($codesU),
      books AS ($booksU),
      q AS (SELECT vec_id AS qid, emb AS qe, nm AS qn, un AS uq FROM e
            WHERE vec_id >= 20 AND vec_id < 60),
      dtab AS (SELECT q.qid, b.s, b.code,
          list_sum(list_transform(generate_series(1, $PQ_W),
            i -> (q.uq[b.s * $PQ_W + i] - b.ce[i]) * (q.uq[b.s * $PQ_W + i] - b.ce[i]))) AS d
        FROM q CROSS JOIN books b),
      approx AS (SELECT d.qid, c.pid,
          CAST(floor(sum(d.d) * 1000000.0 + 0.5) AS BIGINT) AS ad_u
        FROM codes c JOIN dtab d USING (s, code) WHERE d.qid <> c.pid
        GROUP BY d.qid, c.pid),
      cand AS (SELECT qid, pid FROM (SELECT qid, pid,
          row_number() OVER (PARTITION BY qid ORDER BY ad_u, pid) AS crk
        FROM approx) WHERE crk <= $PQ_CAND),
      ref AS (SELECT c.qid, c.pid,
          ${dotD("q.qe", "p.emb")} / (q.qn * p.nm) AS cos
        FROM cand c JOIN q ON c.qid = q.qid JOIN e p ON c.pid = p.vec_id),
      rk AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM ref)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM rk WHERE rank <= $PQ_TOPK ORDER BY qid, rank"""
  }

  private val IVFPQ_CAND = 48

  /** DuckDB replay of [[graft.engine.Ann.ivfPqResidualTopK]]: the coarse
    * chain of [[ivfKmeansOracle]] + PQ chains trained on RESIDUALS
    * (v − coarse centroid), per-probed-list ADC tables from the query's
    * own residual. */
  private def ivfPqResidualOracle: String = {
    def dotD(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
    def score(v: String, c: String) =
      s"list_sum(list_transform($c, x -> x * x)) - 2.0 * ${dotD(v, c)}"
    def assignCte(p: String, i: Int, src: String) = s"""
      ${p}a$i AS (SELECT vec_id, sub, cid FROM (
          SELECT e.vec_id, e.sub, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${score("e.sub", "c.ce")}, c.cid) AS rk
          FROM $src e CROSS JOIN ${p}c$i c) WHERE rk = 1)"""
    def updateCte(p: String, i: Int) = s"""
      ${p}c${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS m FROM (
            SELECT cid, generate_subscripts(sub, 1) AS pos, unnest(sub) AS v FROM ${p}a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    def chain(p: String, srcSql: String, kk: Int, iters: Int): String = {
      // training iterations assign over the stride SAMPLE ${p}t; the final
      // assignment (codes/lists) is full-corpus — mirrors Ann.kmeans
      val loop = (0 until iters).map(i =>
        assignCte(p, i, s"${p}t") + "," + updateCte(p, i)).mkString(",")
      s"""
      ${p}e AS ($srcSql),
      ${p}t AS (SELECT * FROM ${p}e WHERE vec_id %
          (SELECT greatest(1, count(*) // $ANN_TRAIN_CAP) FROM ${p}e) = 0),
      ${p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sub AS ce
          FROM ${p}e WHERE vec_id % (SELECT greatest(1, count(*) // $kk) FROM ${p}e) = 0
          ORDER BY vec_id LIMIT $kk),
      $loop,
      ${assignCte(p, iters, s"${p}e").trim}"""
    }
    val coarse = chain("g", "SELECT vec_id, emb AS sub FROM e", IVF_K, IVF_ITERS)
    val pqChains = (0 until PQ_M).map { s =>
      chain(s"s$s", s"SELECT vec_id, r[${s * PQ_W + 1}:${(s + 1) * PQ_W}] AS sub FROM resid",
        PQ_K, PQ_ITERS)
    }.mkString(",")
    val codesU = (0 until PQ_M).map(s =>
      s"SELECT vec_id AS pid, $s AS s, cid AS code FROM s${s}a$PQ_ITERS").mkString(" UNION ALL ")
    val booksU = (0 until PQ_M).map(s =>
      s"SELECT $s AS s, cid AS code, ce FROM s${s}c$PQ_ITERS").mkString(" UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nm FROM embeddings),
      $coarse,
      resid AS (SELECT a.vec_id, a.cid AS lcid,
          list_transform(generate_series(1, len(a.sub)), i -> a.sub[i] - c.ce[i]) AS r
        FROM ga$IVF_ITERS a JOIN gc$IVF_ITERS c USING (cid)),
      $pqChains,
      codes0 AS ($codesU),
      codes AS (SELECT c.pid, r.lcid, c.s, c.code
        FROM codes0 c JOIN resid r ON c.pid = r.vec_id),
      books AS ($booksU),
      q AS (SELECT vec_id AS qid, emb AS qe, nm AS qn FROM e
            WHERE vec_id >= 20 AND vec_id < 60),
      probes AS (SELECT qid, lcid, qr FROM (
          SELECT q.qid, c.cid AS lcid,
            list_transform(generate_series(1, len(q.qe)), i -> q.qe[i] - c.ce[i]) AS qr,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY ${score("q.qe", "c.ce")}, c.cid) AS rk
          FROM q CROSS JOIN gc$IVF_ITERS c) WHERE rk <= $IVF_NPROBE),
      dtab AS (SELECT p.qid, p.lcid, b.s, b.code,
          list_sum(list_transform(generate_series(1, $PQ_W),
            i -> (p.qr[b.s * $PQ_W + i] - b.ce[i]) * (p.qr[b.s * $PQ_W + i] - b.ce[i]))) AS d
        FROM probes p CROSS JOIN books b),
      approx AS (SELECT d.qid, c.pid,
          CAST(floor(sum(d.d) * 1000000.0 + 0.5) AS BIGINT) AS ad_u
        FROM codes c JOIN dtab d ON d.lcid = c.lcid AND d.s = c.s AND d.code = c.code
        WHERE d.qid <> c.pid
        GROUP BY d.qid, c.pid),
      cand AS (SELECT qid, pid FROM (SELECT qid, pid,
          row_number() OVER (PARTITION BY qid ORDER BY ad_u, pid) AS crk
        FROM approx) WHERE crk <= $IVFPQ_CAND),
      ref AS (SELECT c.qid, c.pid,
          ${dotD("q.qe", "p.emb")} / (q.qn * p.nm) AS cos
        FROM cand c JOIN q ON c.qid = q.qid JOIN e p ON c.pid = p.vec_id),
      rk AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM ref)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM rk WHERE rank <= $PQ_TOPK ORDER BY qid, rank"""
  }

  /** DuckDB replay of [[graft.engine.Ann.ivfPqTopK]]: the coarse-IVF chain
    * of [[ivfKmeansOracle]] (on raw embeddings) + the per-sub-space PQ
    * chains of [[pqOracle]] (on unit vectors), composed: candidates are
    * probed-list members scored by ADC, then exact-cosine refined. */
  private def ivfPqOracle: String = {
    def dotD(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
    def score(v: String, c: String) =
      s"list_sum(list_transform($c, x -> x * x)) - 2.0 * ${dotD(v, c)}"
    def assignCte(p: String, i: Int, src: String) = s"""
      ${p}a$i AS (SELECT vec_id, sub, cid FROM (
          SELECT e.vec_id, e.sub, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${score("e.sub", "c.ce")}, c.cid) AS rk
          FROM $src e CROSS JOIN ${p}c$i c) WHERE rk = 1)"""
    def updateCte(p: String, i: Int) = s"""
      ${p}c${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS m FROM (
            SELECT cid, generate_subscripts(sub, 1) AS pos, unnest(sub) AS v FROM ${p}a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    def chain(p: String, srcSql: String, kk: Int, iters: Int): String = {
      // training iterations assign over the stride SAMPLE ${p}t; the final
      // assignment (codes/lists) is full-corpus — mirrors Ann.kmeans
      val loop = (0 until iters).map(i =>
        assignCte(p, i, s"${p}t") + "," + updateCte(p, i)).mkString(",")
      s"""
      ${p}e AS ($srcSql),
      ${p}t AS (SELECT * FROM ${p}e WHERE vec_id %
          (SELECT greatest(1, count(*) // $ANN_TRAIN_CAP) FROM ${p}e) = 0),
      ${p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sub AS ce
          FROM ${p}e WHERE vec_id % (SELECT greatest(1, count(*) // $kk) FROM ${p}e) = 0
          ORDER BY vec_id LIMIT $kk),
      $loop,
      ${assignCte(p, iters, s"${p}e").trim}"""
    }
    val coarse = chain("g", "SELECT vec_id, emb AS sub FROM e", IVF_K, IVF_ITERS)
    val pqChains = (0 until PQ_M).map { s =>
      chain(s"s$s", s"SELECT vec_id, un[${s * PQ_W + 1}:${(s + 1) * PQ_W}] AS sub FROM e",
        PQ_K, PQ_ITERS)
    }.mkString(",")
    val codesU = (0 until PQ_M).map(s =>
      s"SELECT vec_id AS pid, $s AS s, cid AS code FROM s${s}a$PQ_ITERS").mkString(" UNION ALL ")
    val booksU = (0 until PQ_M).map(s =>
      s"SELECT $s AS s, cid AS code, ce FROM s${s}c$PQ_ITERS").mkString(" UNION ALL ")
    s"""
      WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nm FROM embeddings),
      e AS (SELECT vec_id, emb, nm,
            list_transform(emb, x -> x / nm) AS un FROM e0),
      $coarse,
      $pqChains,
      lists AS (SELECT vec_id AS pid, cid AS lcid FROM ga$IVF_ITERS),
      codes AS ($codesU),
      books AS ($booksU),
      q AS (SELECT vec_id AS qid, emb AS qe, nm AS qn, un AS uq FROM e
            WHERE vec_id >= 20 AND vec_id < 60),
      probes AS (SELECT qid, lcid FROM (
          SELECT q.qid, c.cid AS lcid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY ${score("q.qe", "c.ce")}, c.cid) AS rk
          FROM q CROSS JOIN gc$IVF_ITERS c) WHERE rk <= $IVF_NPROBE),
      dtab AS (SELECT q.qid, b.s, b.code,
          list_sum(list_transform(generate_series(1, $PQ_W),
            i -> (q.uq[b.s * $PQ_W + i] - b.ce[i]) * (q.uq[b.s * $PQ_W + i] - b.ce[i]))) AS d
        FROM q CROSS JOIN books b),
      pairs AS (SELECT p.qid, l.pid FROM probes p JOIN lists l USING (lcid)
        WHERE p.qid <> l.pid),
      approx AS (SELECT pr.qid, c.pid,
          CAST(floor(sum(d.d) * 1000000.0 + 0.5) AS BIGINT) AS ad_u
        FROM pairs pr JOIN codes c ON c.pid = pr.pid
        JOIN dtab d ON d.qid = pr.qid AND d.s = c.s AND d.code = c.code
        GROUP BY pr.qid, c.pid),
      cand AS (SELECT qid, pid FROM (SELECT qid, pid,
          row_number() OVER (PARTITION BY qid ORDER BY ad_u, pid) AS crk
        FROM approx) WHERE crk <= $IVFPQ_CAND),
      ref AS (SELECT c.qid, c.pid,
          ${dotD("q.qe", "p.emb")} / (q.qn * p.nm) AS cos
        FROM cand c JOIN q ON c.qid = q.qid JOIN e p ON c.pid = p.vec_id),
      rk AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM ref)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM rk WHERE rank <= $PQ_TOPK ORDER BY qid, rank"""
  }

  /** DuckDB replay of [[graft.engine.Ann.ivfTopK]]: the fixed-iteration
    * Lloyd's loop is unrolled into CTEs (c0 → a0 → c1 → a1 → c2 → a2).
    * Centroid coordinates are rounded to 1e-6 after every mean update —
    * that swamps aggregation-order float noise, so both engines produce
    * bit-identical centroids, inverted lists, and top-k. */
  private def ivfKmeansOracle: String = {
    def dotD(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
    def ccD(c: String) = s"list_sum(list_transform($c, x -> x * x))"
    def score(v: String, c: String) = s"${ccD(c)} - 2.0 * ${dotD(v, c)}"
    def assignCte(i: Int, src: String) = s"""
      a$i AS (SELECT vec_id, emb, nm, cid FROM (
          SELECT e.vec_id, e.emb, e.nm, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${score("e.emb", "c.ce")}, c.cid) AS rk
          FROM $src e CROSS JOIN c$i c) WHERE rk = 1)"""
    def updateCte(i: Int) = s"""
      c${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS m FROM (
            SELECT cid, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    val loop = (0 until IVF_ITERS).map(i =>
      assignCte(i, "tr") + "," + updateCte(i)).mkString(",")
    s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nm FROM embeddings),
      tr AS (SELECT * FROM e WHERE vec_id %
          (SELECT greatest(1, count(*) // $ANN_TRAIN_CAP) FROM e) = 0),
      c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS ce
          FROM e WHERE vec_id % (SELECT greatest(1, count(*) // $IVF_K) FROM e) = 0
          ORDER BY vec_id LIMIT $IVF_K),
      $loop,
      ${assignCte(IVF_ITERS, "e").trim},
      probes AS (SELECT qid, qe, qn, cid FROM (
          SELECT q.vec_id AS qid, q.emb AS qe, q.nm AS qn, c.cid,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${score("q.emb", "c.ce")}, c.cid) AS rk
          FROM e q CROSS JOIN c$IVF_ITERS c
          WHERE q.vec_id >= 20 AND q.vec_id < 60) WHERE rk <= $IVF_NPROBE),
      cand AS (SELECT p.qid, a.vec_id AS pid,
            ${dotD("p.qe", "a.emb")} / (p.qn * a.nm) AS cos
          FROM probes p JOIN a$IVF_ITERS a USING (cid) WHERE p.qid <> a.vec_id),
      rk AS (SELECT qid, pid, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, pid) AS BIGINT) AS rank FROM cand)
      SELECT qid, pid, rank, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM rk WHERE rank <= $IVF_TOPK ORDER BY qid, rank"""
  }

  val defs5: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- OGR SQL text entry point (reference: GDALDataset::ExecuteSQL with
    // the OGRSQL dialect, gcore/gdaldataset.cpp:7411-7455 → ogr/swq_parser.y).
    // All three gates parse the *string* form — the round-2 verdict's #2 ask.

    // SELECT list exprs + IN + LIKE/ESCAPE + SUBSTR(-2) + CAST + UNION ALL,
    // replaying ogr_sql_rfc28.py:522-547 literals through the parser
    ("q21_ogrsql_text", (s, _) => {
      prep(s)
      OgrSql.execute(s,
        "SELECT eas_id, SUBSTR(prfedea, -2) AS sub2, CAST(area AS integer64) AS area_i " +
          "FROM poly WHERE eas_id IN (168,179) " +
        "UNION ALL " +
        "SELECT eas_id, prfedea AS sub2, CAST(0 AS integer64) AS area_i " +
          "FROM poly WHERE prfedea LIKE 'x35043408' ESCAPE 'x'",
        ogrLayers(s)).orderBy("eas_id")
    }, Some(s"""
      WITH poly AS ($polyValuesSql)
      SELECT eas_id, substr(prfedea, length(prfedea) - 1, 2) AS sub2,
             CAST(floor(area) AS BIGINT) AS area_i
      FROM poly WHERE eas_id IN (168, 179)
      UNION ALL
      SELECT eas_id, prfedea AS sub2, CAST(0 AS BIGINT) AS area_i
      FROM poly WHERE prfedea = '35043408'
      ORDER BY eas_id""")),

    // first-match LEFT JOIN through the text path (ogr_join_test.py:39;
    // ogr_gensql.cpp:1516-1546 first-match semantics — idlink keys are
    // unique so the DuckDB plain LEFT JOIN is the exact oracle)
    ("q22_ogrsql_join", (s, _) => {
      prep(s)
      OgrSql.execute(s,
        "SELECT poly.eas_id AS e, poly.prfedea AS pp, idlink.name AS n " +
          "FROM poly LEFT JOIN idlink ON poly.eas_id = idlink.eas_id",
        ogrLayers(s)).orderBy("e")
    }, Some(s"""
      WITH poly AS ($polyValuesSql), idlink AS ($idlinkValuesSql)
      SELECT p.eas_id AS e, p.prfedea AS pp, i.name AS n
      FROM poly p LEFT JOIN idlink i ON p.eas_id = i.eas_id
      ORDER BY e""")),

    // summary aggregates through the text path (ogr_sql_test.py:256-280
    // naming `<func>_<col>` / `count_*`, aliased for the gate)
    ("q23_ogrsql_summary", (s, _) => {
      prep(s)
      OgrSql.execute(s,
        "select max(eas_id) AS max_e, min(eas_id) AS min_e, avg(eas_id) AS avg_e, " +
          "sum(eas_id) AS sum_e, count(eas_id) AS cnt_e, count(*) AS cnt_all, " +
          "count(distinct name) AS cnt_dn from idlink",
        ogrLayers(s))
    }, Some(s"""
      WITH idlink AS ($idlinkValuesSql)
      SELECT CAST(max(eas_id) AS BIGINT) AS max_e, CAST(min(eas_id) AS BIGINT) AS min_e,
             avg(eas_id) AS avg_e, CAST(sum(eas_id) AS BIGINT) AS sum_e,
             count(eas_id) AS cnt_e, count(*) AS cnt_all,
             count(DISTINCT name) AS cnt_dn
      FROM idlink""")),

    // -- gdal_grid invdist + invdistnn — gdal_grid's DEFAULT algorithm
    // (GDALGridInverseDistanceToAPower, alg/gdalgrid.cpp:110-189; NN variant
    // :242-345). power=2 → weights are exactly 1/r², so the only engine
    // divergence is double-sum order; values gated at micro precision.
    ("g31_grid_invdist", (s, dir) => {
      val pts = t(s, dir, "events").select(
        col("event_id").as("pid"), col("value"),
        expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val nodes = engine.GridInterp.gridNodes(s, 64, 64, -180.0, 180.0, -85.0, 85.0)
      val full = engine.GridInterp.invdist(nodes, pts, 5.0, power = 2.0,
        smoothing = 0.0, minPoints = 2)
      val nn = engine.GridInterp.invdist(nodes, pts, 5.0, power = 2.0,
        smoothing = 0.0, minPoints = 0, maxPoints = 8)
        .select(col("i"), col("j"), col("n").as("nn_n"), col("value").as("nn_value"))
      full.join(nn, Seq("i", "j"))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"),
          col("nn_n"),
          expr("CAST(floor(nn_value * 1000000.0 + 0.5) AS BIGINT)").as("nn_micro"))
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
            (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) AS r2
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 25.0),
      inv AS (SELECT i, j, count(*) AS n,
            sum(value / r2) / sum(1.0 / r2) AS value
          FROM c GROUP BY i, j),
      nn8 AS (SELECT * FROM c
          QUALIFY row_number() OVER (PARTITION BY i, j ORDER BY r2, pid) <= 8),
      nn AS (SELECT i, j, count(*) AS nn_n,
            sum(value / r2) / sum(1.0 / r2) AS nn_value
          FROM nn8 GROUP BY i, j)
      SELECT CAST(n.i AS BIGINT) AS i, CAST(n.j AS BIGINT) AS j,
        COALESCE(inv.n, 0) AS n,
        CASE WHEN COALESCE(inv.n, 0) >= 2
             THEN CAST(floor(inv.value * 1000000.0 + 0.5) AS BIGINT) END AS val_micro,
        COALESCE(nn.nn_n, 0) AS nn_n,
        CAST(floor(nn.nn_value * 1000000.0 + 0.5) AS BIGINT) AS nn_micro
      FROM nodes n LEFT JOIN inv ON n.i = inv.i AND n.j = inv.j
                   LEFT JOIN nn ON n.i = nn.i AND n.j = nn.j
      ORDER BY i, j""")),

    // -- warp under a fitted GCP POLYNOMIAL transformer (order 2) — the
    // non-affine transformer stack of gdalwarp (GDALCreateGCPTransformer,
    // alg/gdal_crs.c; dispatch alg/gdaltransformer.cpp:96-160). 16 GCPs
    // sampled from an exact quadratic map; the least-squares fit recovers
    // it to ~1e-12 px (measured), so the DuckDB oracle can evaluate the
    // generating closed form directly. near kernel; GDALChecksumImage per
    // 256-px dst tile.
    ("r26_warp_gcp", (s, dir) => {
      val sp = s
      import sp.implicits._
      import engine.GcpTransform
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val gcps = for (i <- 0 until 4; j <- 0 until 4) yield {
        val x = i * 341.0; val y = j * 341.0
        GcpTransform.Gcp(x, y, quadMapX(x, y), quadMapY(x, y))
      }
      val m = GcpTransform.fitPoly(gcps, order = 2)
      engine.Raster.warpTransformed(base, 2, 4, 4, (x, y) => m(x, y),
          "near", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks").orderBy("x", "y")
    }, Some(warpOracle(
      sx = "120.7133 + 1.731707*gx + 0.0310971*gy + 1.90023e-5*gx*gy + 2.70131e-6*gx*gx + 1.30117e-6*gy*gy",
      sy = "57.3177 + 0.0290137*gx + 1.810391*gy + 1.10071e-5*gx*gy + 1.70033e-6*gy*gy + 3.10057e-6*gx*gx"))),

    // -- warp under a THIN-PLATE-SPLINE transformer
    // (GDALCreateTPSTransformer, alg/thinplatespline.cpp:175-181, radial
    // basis U(d²)=d²·ln(d²)). GCPs sampled from an affine map: the TPS
    // solve drives every RBF weight to ~0 (measured residual ~1e-12 px),
    // so the oracle is the generating affine — while the engine path
    // exercises the full (n+3)×(n+3) solve + RBF evaluation per pixel.
    ("r27_warp_tps", (s, dir) => {
      val sp = s
      import sp.implicits._
      import engine.GcpTransform
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val gcps = for (i <- 0 until 3; j <- 0 until 3) yield {
        val x = i * 500.0; val y = j * 500.0
        GcpTransform.Gcp(x, y, 80.31517 + 1.7712893 * x + 0.021371 * y, 44.90719 + 0.0171233 * x + 1.8310917 * y)
      }
      val m = GcpTransform.fitTps(gcps)
      engine.Raster.warpTransformed(base, 2, 4, 4, (x, y) => m(x, y),
          "near", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks").orderBy("x", "y")
    }, Some(warpOracle(
      sx = "80.31517 + 1.7712893*gx + 0.021371*gy",
      sy = "44.90719 + 0.0171233*gx + 1.8310917*gy"))),

    // -- IVF ANN with a TRAINED coarse quantizer (deterministic Lloyd's
    // k-means) — upgrades e03's placeholder "first 16 vectors" centroids.
    // The DuckDB oracle replays the identical recipe: stride-by-id init,
    // `IVF_ITERS` unrolled assign/update iterations with centroids rounded
    // to 1e-6 per coordinate, then probe-nprobe + exact-cosine refine.
    ("e04_ivf_kmeans", (s, dir) => {
      prep(s)
      engine.Ann.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id >= 20 && id < 60,
          k = IVF_K, iters = IVF_ITERS, nprobe = IVF_NPROBE, topK = IVF_TOPK,
          trainCap = ANN_TRAIN_CAP)
        .orderBy("qid", "rank")
    }, Some(ivfKmeansOracle)),

    // -- IVF index PERSISTENCE (e10): build-once/query-many — the
    // codebook and coarse assignments land as parquet TABLES with the
    // postings hive-partitioned by cid (the on-disk inverted lists; an
    // nprobe query's cid predicate prunes at the scan and never reads the
    // unprobed corpus). Querying the RELOADED index must equal e04's
    // in-session result bit-for-bit (parquet round-trips doubles
    // losslessly) — same oracle.
    ("e10_ivf_index_persist", (s, dir) => {
      prep(s)
      val idx = "/tmp/graft_e10_index"
      engine.Ann.ivfBuildIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = IVF_K, iters = IVF_ITERS, dir = idx, trainCap = ANN_TRAIN_CAP)
      engine.Ann.ivfQueryIndex(idx, t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id >= 20 && id < 60, nprobe = IVF_NPROBE, topK = IVF_TOPK)
        .orderBy("qid", "rank")
    }, Some(ivfKmeansOracle)),

    // -- product-quantization ANN (Jégou et al. 2011; the PQ half of
    // IVF-PQ): per-sub-space deterministic codebooks, 8-bit codes, ADC
    // distance tables, rounded approx ranking, exact-cosine refine of the
    // candC survivors. Same determinism recipe as e04 (micro-rounded
    // centroid updates + integer approx scores).
    ("e05_pq_topk", (s, dir) => {
      prep(s)
      engine.Ann.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id >= 20 && id < 60,
          m = PQ_M, k = PQ_K, iters = PQ_ITERS, candC = PQ_CAND, topK = PQ_TOPK,
          trainCap = ANN_TRAIN_CAP)
        .orderBy("qid", "rank")
    }, Some(pqOracle)),

    // -- the full IVF-PQ composition: coarse lists bound the scan, codes
    // bound the bandwidth, exact refine bounds the raw-vector touches.
    ("e06_ivfpq_topk", (s, dir) => {
      prep(s)
      engine.Ann.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id >= 20 && id < 60,
          kCoarse = IVF_K, itersCoarse = IVF_ITERS, nprobe = IVF_NPROBE,
          m = PQ_M, k = PQ_K, iters = PQ_ITERS, candC = IVFPQ_CAND, topK = PQ_TOPK,
          trainCap = ANN_TRAIN_CAP)
        .orderBy("qid", "rank")
    }, Some(ivfPqOracle)),

    // -- residual IVF-PQ (the classic form): codebooks on v − c(v), ADC
    // tables per probed list from the query's own residual.
    ("e07_ivfpq_residual", (s, dir) => {
      prep(s)
      engine.Ann.ivfPqResidualTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          isQuery = id => id >= 20 && id < 60,
          kCoarse = IVF_K, itersCoarse = IVF_ITERS, nprobe = IVF_NPROBE,
          m = PQ_M, k = PQ_K, iters = PQ_ITERS, candC = IVFPQ_CAND, topK = PQ_TOPK,
          trainCap = ANN_TRAIN_CAP)
        .orderBy("qid", "rank")
    }, Some(ivfPqResidualOracle)),

    // -- OGR dialect AND/OR/NOT null semantics, oracle-gated (was
    // spec-only): OGR AND returns the non-null side when one side is null
    // (so null AND true = true, unlike ANSI); OR is null if EITHER side is
    // null (unlike ANSI's null OR true = true). swq_op_general.cpp:545-562.
    ("q24_ogr_null_logic", (s, dir) => {
      import graft.sql.OgrCompat
      val base = t(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 3 === 0, lit(null).cast("boolean"))
          .otherwise(col("event_id") % 2 === 0).as("a"),
        when(col("event_id") % 5 === 0, lit(null).cast("boolean"))
          .otherwise(col("event_id") % 7 < 3).as("b"))
      base.select(col("event_id"),
          OgrCompat.andOgr(col("a"), col("b")).cast("long").as("and_q"),
          OgrCompat.orOgr(col("a"), col("b")).cast("long").as("or_q"),
          (!col("a")).cast("long").as("not_q"))
        .orderBy("event_id")
    }, Some("""
      WITH base AS (SELECT event_id,
          CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id % 2 = 0 END AS a,
          CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_id % 7 < 3 END AS b
        FROM events)
      SELECT event_id,
        CAST(CASE WHEN a IS NULL AND b IS NULL THEN NULL
                  WHEN a IS NULL THEN b
                  WHEN b IS NULL THEN a
                  ELSE a AND b END AS BIGINT) AS and_q,
        CAST(CASE WHEN a IS NULL OR b IS NULL THEN NULL
                  ELSE a OR b END AS BIGINT) AS or_q,
        CAST(NOT a AS BIGINT) AS not_q
      FROM base ORDER BY event_id""")),

    // -- Douglas-Peucker simplify, oracle-gated (was spec-only): 3-point
    // peaked lines where the peak survives iff its perpendicular deviation
    // h exceeds the tolerance (strict >, ogrgeometry.cpp:6526 semantics);
    // h/tol lattices are offset so no row sits on the boundary. Output is
    // micro-rounded length: 4 (peak dropped) or 2·√(4+h²).
    ("g33_simplify", (s, dir) => {
      prep(s)
      t(s, dir, "documents").where(col("doc_id") < 2000)
        .withColumn("h", expr("CAST(doc_id % 20 AS DOUBLE) * 0.01 + 0.0031"))
        .withColumn("tol", expr("0.03 + CAST(doc_id % 7 AS DOUBLE) * 0.013"))
        .withColumn("wkt", expr(
          "concat('LINESTRING (0 0, 2 ', CAST(h AS STRING), ', 4 0)')"))
        .select(col("doc_id"),
          expr("CAST(floor(st_length(st_simplify(st_geomfromtext(wkt), tol)) " +
            "* 1000000.0 + 0.5) AS BIGINT)").as("len_u"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (SELECT doc_id,
          CAST(doc_id % 20 AS DOUBLE) * 0.01 + 0.0031 AS h,
          0.03 + CAST(doc_id % 7 AS DOUBLE) * 0.013 AS tol
        FROM documents WHERE doc_id < 2000)
      SELECT doc_id, CAST(floor(
          (CASE WHEN h <= tol THEN 4.0 ELSE 2.0 * sqrt(4.0 + h * h) END)
          * 1000000.0 + 0.5) AS BIGINT) AS len_u
      FROM base ORDER BY doc_id""")),

    // -- cubicspline + lanczos warp kernels, oracle-gated (was spec-only):
    // same synthetic-raster scheme as r16, both kernels over ONE shared
    // source shuffle (GWKBSpline / lanczos sinc·sinc/3 with weight-sum
    // normalization, alg/gdalwarpkernel.cpp:3677).
    ("r28_warp_spline", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val aff = engine.Raster.WarpAffine(0.5, 0.5, 1500.3, 57.7)
      engine.Raster.warpAffineMulti(base, 2, 4, 4, aff,
          Seq("cubicspline", "lanczos"), 2048, 2048)
        .map { case (ki, ti) => (ki.toLong, ti.x.toLong, ti.y.toLong,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong) }
        .toDF("k", "x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("k", "z", "x", "y", "cks").orderBy("k", "x", "y")
    }, Some(splineLanczosOracle)),

    // -- GNM K-shortest paths (Yen's algorithm over the distributed SSSP
    // primitive; GNMGraph::KShortestPaths, gnm/gnmgraph.cpp:247-420).
    // DAG with skip edges {+1,+2,+5} and DYADIC weights (k/1024 — exact in
    // both engines, so path-cost sums are order-independent and exact);
    // the weight hash was chosen so the top-5 costs are strictly distinct
    // (no tie-order ambiguity between Yen's candidate heap and the
    // oracle's all-paths sort). Oracle enumerates every path via recursive
    // CTE and takes the top 3 by (cost, path).
    ("g32_k_shortest", (s, dir) => {
      val sp = s
      import sp.implicits._
      val n = 16
      val edges = (0 until n).flatMap { i =>
        Seq(i + 1, i + 2, i + 5).filter(_ < n).map { j =>
          (i.toLong, j.toLong,
            1.0 + ((i * 73 + j * 151 + i * j * 11) % 997) / 1024.0)
        }
      }.toDF("src", "dst", "w")
      val paths = engine.GraphOps.kShortestPaths(edges, 0L, 15L, 3)
      paths.zipWithIndex.map { case ((nodes, cost), idx) =>
        ((idx + 1).toLong, nodes.mkString("-"),
          math.floor(cost * 1000000.0 + 0.5).toLong)
      }.toDF("rank", "path", "cost_u").orderBy("rank")
    }, Some("""
      WITH RECURSIVE edges AS (
        SELECT i AS src, i + 1 AS dst,
               1.0 + ((i*73 + (i+1)*151 + i*(i+1)*11) % 997) / CAST(1024 AS DOUBLE) AS w
          FROM (SELECT unnest(generate_series(0, 15)) AS i) WHERE i + 1 < 16
        UNION ALL
        SELECT i, i + 2, 1.0 + ((i*73 + (i+2)*151 + i*(i+2)*11) % 997) / CAST(1024 AS DOUBLE)
          FROM (SELECT unnest(generate_series(0, 15)) AS i) WHERE i + 2 < 16
        UNION ALL
        SELECT i, i + 5, 1.0 + ((i*73 + (i+5)*151 + i*(i+5)*11) % 997) / CAST(1024 AS DOUBLE)
          FROM (SELECT unnest(generate_series(0, 15)) AS i) WHERE i + 5 < 16),
      paths(node, path, cost) AS (
        SELECT 0, '0', CAST(0.0 AS DOUBLE)
        UNION ALL
        SELECT e.dst, p.path || '-' || CAST(e.dst AS VARCHAR), p.cost + e.w
        FROM paths p JOIN edges e ON p.node = e.src),
      ranked AS (SELECT path, cost,
            CAST(row_number() OVER (ORDER BY cost, path) AS BIGINT) AS rank
          FROM paths WHERE node = 15)
      SELECT rank, path, CAST(floor(cost * 1000000.0 + 0.5) AS BIGINT) AS cost_u
      FROM ranked WHERE rank <= 3 ORDER BY rank""")),

    // -- Structured Streaming E2E with checkpoint resume: two-phase file
    // stream (terminate + restart from checkpoint, exactly-once sink) must
    // reproduce the batch q13 aggregation byte-identically. Streaming twin
    // of the batch --resume manifest (apps/gdalalg_raster_tile.cpp:289).
    ("s01_stream_resume", (s, dir) => {
      streaming.StreamJobs.resumeDemo(s, s"$dir/events.parquet",
        "/tmp/graft_s01_work")
    }, Some(s"""
      SELECT CAST(floor(floor(epoch(ts)) / 300) * 300 AS BIGINT) AS wstart,
             event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""")),

    // -- Lambert Conformal Conic + Albers Equal-Area (Snyder 2SP
    // ellipsoidal, geom/Conic.scala; reference ogr/ogrct.cpp delegates the
    // same projections to PROJ lcc/aea). CONUS parameter sets; forward at
    // mm ints; the LCC inverse is exercised by a µdeg roundtrip column.
    // The oracle writes Snyder 15-1..15-4 / 14-1..14-4 with the 2SP
    // constants precomputed HERE via Conic.*Params and emitted as shared
    // literals, identical operation order → equal to ~ulp, absorbed by
    // the mm/µdeg rounding.
    ("g34_conic", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .withColumn("lonc", expr("-120.0 + (lon + 180.0) / 360.0 * 50.0"))
        .withColumn("latc", expr("20.0 + (lat + 85.0) / 170.0 * 40.0"))
        .withColumn("p", gf.st_point(col("lonc"), col("latc")))
        .withColumn("gl", expr("st_transform_lcc(p, 33.0, 45.0, 23.0, -96.0)"))
        .withColumn("ga", expr("st_transform_albers(p, 29.5, 45.5, 23.0, -96.0)"))
        .withColumn("rt", expr(
          "st_transform_lcc_inv(st_transform_lcc(p, 33.0, 45.0, 23.0, -96.0), " +
            "33.0, 45.0, 23.0, -96.0)"))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(gl) * 1000.0 + 0.5) AS BIGINT)").as("lx_mm"),
          expr("CAST(floor(st_y(gl) * 1000.0 + 0.5) AS BIGINT)").as("ly_mm"),
          expr("CAST(floor(st_x(ga) * 1000.0 + 0.5) AS BIGINT)").as("ax_mm"),
          expr("CAST(floor(st_y(ga) * 1000.0 + 0.5) AS BIGINT)").as("ay_mm"),
          expr("CAST(floor((st_x(rt) - lonc) * 1000000.0 + 0.5) AS BIGINT)").as("rlon_u"),
          expr("CAST(floor((st_y(rt) - latc) * 1000000.0 + 0.5) AS BIGINT)").as("rlat_u"))
        .orderBy("event_id")
    }, Some {
      import graft.geom.Conic
      val lp = Conic.lccParams(33.0, 45.0, 23.0, -96.0)
      val ap = Conic.albersParams(29.5, 45.5, 23.0, -96.0)
      val f = 1.0 / 298.257223563
      val e2v = f * (2.0 - f); val ev = math.sqrt(e2v)
      val (e2l, el) = (dlit(e2v), dlit(ev))
      val eHalf = dlit(ev / 2.0)
      val halfInvE = dlit(1.0 / (2.0 * ev))
      val oneMe2 = dlit(1.0 - e2v)
      val aLccF = dlit(Conic.A * lp.f)  // A·F precombined, same double as runtime A*f
      val (lnN, lnRho0, lnLam0) = (dlit(lp.n), dlit(lp.rho0), dlit(lp.lam0))
      val (abN, abC, abRho0, abLam0) = (dlit(ap.n), dlit(ap.c), dlit(ap.rho0), dlit(ap.lam0))
      val aL = dlit(Conic.A)
      val d2rl = dlit(math.Pi / 180.0)
      val piL = dlit(math.Pi)
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      cc AS (SELECT event_id,
          (-120.0 + (lon + 180.0) / 360.0 * 50.0) * $d2rl AS lam,
          (20.0 + (lat + 85.0) / 170.0 * 40.0) * $d2rl AS phi FROM pts),
      tr AS (SELECT event_id, lam, phi, sin(phi) AS sinp FROM cc),
      lcc AS (SELECT event_id,
          $aLccF * power(tan($piL / 4.0 - phi / 2.0) /
            power((1.0 - $el * sinp) / (1.0 + $el * sinp), $eHalf), $lnN) AS rho,
          $lnN * (lam - $lnLam0) AS th FROM tr),
      alb AS (SELECT event_id,
          ($aL * sqrt($abC - $abN * ($oneMe2 * (sinp / (1.0 - $e2l * sinp * sinp) -
            $halfInvE * ln((1.0 - $el * sinp) / (1.0 + $el * sinp)))))) / $abN AS rho,
          $abN * (lam - $abLam0) AS th FROM tr)
      SELECT l.event_id,
        CAST(floor((l.rho * sin(l.th)) * 1000.0 + 0.5) AS BIGINT) AS lx_mm,
        CAST(floor(($lnRho0 - l.rho * cos(l.th)) * 1000.0 + 0.5) AS BIGINT) AS ly_mm,
        CAST(floor((a.rho * sin(a.th)) * 1000.0 + 0.5) AS BIGINT) AS ax_mm,
        CAST(floor(($abRho0 - a.rho * cos(a.th)) * 1000.0 + 0.5) AS BIGINT) AS ay_mm,
        CAST(0 AS BIGINT) AS rlon_u, CAST(0 AS BIGINT) AS rlat_u
      FROM lcc l JOIN alb a USING (event_id) ORDER BY event_id"""
    }),

    // -- check-geometry (apps/gdalalg_vector_check_geometry.cpp `error` +
    // `error_location`; geom/CheckGeometry.scala): five fixture families —
    // valid, bowtie (ring self-intersection at the exact crossing), hole
    // outside shell, too-few-points ring, nested holes. GEOS reason
    // vocabulary; locations micro-rounded.
    ("g36_check_geometry", (s, dir) => {
      prep(s)
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .withColumn("sv", expr("1.0 + CAST(doc_id % 7 AS DOUBLE) * 0.5"))
        .withColumn("k", expr("CAST(doc_id % 5 AS INT)"))
        .withColumn("s1", expr("CAST(sv AS STRING)"))
        .withColumn("s2", expr("CAST(2.0 * sv AS STRING)"))
        .withColumn("s3", expr("CAST(3.0 * sv AS STRING)"))
        .withColumn("s4", expr("CAST(4.0 * sv AS STRING)"))
        .withColumn("s10", expr("CAST(10.0 * sv AS STRING)"))
        .withColumn("wkt", expr("""CASE k
          WHEN 0 THEN concat('POLYGON ((0 0, ', s1, ' 0, ', s1, ' ', s1, ', 0 ', s1, ', 0 0))')
          WHEN 1 THEN concat('POLYGON ((0 0, ', s1, ' ', s1, ', ', s1, ' 0, 0 ', s1, ', 0 0))')
          WHEN 2 THEN concat('POLYGON ((0 0, ', s1, ' 0, ', s1, ' ', s1, ', 0 ', s1, ', 0 0), (',
            s2, ' ', s2, ', ', s3, ' ', s2, ', ', s3, ' ', s3, ', ', s2, ' ', s3, ', ', s2, ' ', s2, '))')
          WHEN 3 THEN concat('POLYGON ((0 0, ', s1, ' 0, 0 0))')
          ELSE concat('POLYGON ((0 0, ', s10, ' 0, ', s10, ' ', s10, ', 0 ', s10, ', 0 0), (',
            s1, ' ', s1, ', ', s4, ' ', s1, ', ', s4, ' ', s4, ', ', s1, ' ', s4, ', ', s1, ' ', s1, '), (',
            s2, ' ', s2, ', ', s3, ' ', s2, ', ', s3, ' ', s3, ', ', s2, ' ', s3, ', ', s2, ' ', s2, '))')
          END"""))
        .withColumn("g", expr("st_geomfromtext(wkt)"))
      base.select(col("doc_id"),
          expr("st_isvalid_reason(g)").as("reason"),
          expr("CAST(floor(st_invalid_x(g) * 1000000.0 + 0.5) AS BIGINT)").as("lx_u"),
          expr("CAST(floor(st_invalid_y(g) * 1000000.0 + 0.5) AS BIGINT)").as("ly_u"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, 1.0 + CAST(doc_id % 7 AS DOUBLE) * 0.5 AS sv,
          CAST(doc_id % 5 AS INT) AS k
        FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CASE k WHEN 0 THEN NULL
          WHEN 1 THEN 'Ring Self-intersection'
          WHEN 2 THEN 'Hole lies outside shell'
          WHEN 3 THEN 'Too few points in geometry component'
          ELSE 'Holes are nested' END AS reason,
        CASE k WHEN 0 THEN NULL
          WHEN 1 THEN CAST(floor(0.5 * sv * 1000000.0 + 0.5) AS BIGINT)
          WHEN 2 THEN CAST(floor(2.0 * sv * 1000000.0 + 0.5) AS BIGINT)
          WHEN 3 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(2.0 * sv * 1000000.0 + 0.5) AS BIGINT) END AS lx_u,
        CASE k WHEN 0 THEN NULL
          WHEN 1 THEN CAST(floor(0.5 * sv * 1000000.0 + 0.5) AS BIGINT)
          WHEN 2 THEN CAST(floor(2.0 * sv * 1000000.0 + 0.5) AS BIGINT)
          WHEN 3 THEN CAST(0 AS BIGINT)
          ELSE CAST(floor(2.0 * sv * 1000000.0 + 0.5) AS BIGINT) END AS ly_u
      FROM b ORDER BY doc_id""")),

    // -- gdal_grid linear mode (GridInterp.linear; GDALGridLinear,
    // alg/gdalgrid.cpp:2594-2668): Delaunay facet barycentric interpolation
    // inside the hull, nearest-neighbor-within-radius outside. The field is
    // AFFINE (z = a + b·x + c·y) and the hull is a known rectangle (its 4
    // corners are in the point set), so the oracle is closed-form: any
    // valid triangulation reproduces an affine field exactly; outside the
    // rect the oracle replays the nearest-within-radius pick.
    ("g35_grid_linear", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val zExpr = "3.2531 + 1.3717 * x - 2.1253 * y"
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .select(col("event_id").as("pid"),
          expr("(lon + 180.0) / 360.0 * 10.0").as("x"),
          expr("(lat + 85.0) / 170.0 * 8.0").as("y"))
      val corners = Seq((5000001L, 0.0, 0.0), (5000002L, 10.0, 0.0),
        (5000003L, 0.0, 8.0), (5000004L, 10.0, 8.0)).toDF("pid", "x", "y")
      val pts = base.unionByName(corners)
        .withColumn("value", expr(zExpr))
        .select(col("pid"), col("x").as("lon"), col("y").as("lat"), col("value"))
      val nodes = engine.GridInterp.gridNodes(s, 32, 32, -2.0, 12.0, -2.0, 10.0)
      engine.GridInterp.linear(nodes, pts, radius = 3.0, tileSize = 8.0, halo = 15.0)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("src").cast("long").as("src"),
          expr("CAST(floor(value * 10000.0 + 0.5) AS BIGINT)").as("v_tm"))
        .orderBy("i", "j")
    }, Some {
      val dLon = dlit(14.0 / 32); val dLat = dlit(12.0 / 32)
      s"""WITH ev AS (SELECT event_id AS pid,
            (${lonOf("event_id")} + 180.0) / 360.0 * 10.0 AS x,
            (${latOf("event_id")} + 85.0) / 170.0 * 8.0 AS y
          FROM events WHERE event_id < 5000),
        pts AS (SELECT pid, x, y FROM ev
          UNION ALL SELECT 5000001, 0.0, 0.0 UNION ALL SELECT 5000002, 10.0, 0.0
          UNION ALL SELECT 5000003, 0.0, 8.0 UNION ALL SELECT 5000004, 10.0, 8.0),
        pz AS (SELECT pid, x, y, 3.2531 + 1.3717 * x - 2.1253 * y AS z FROM pts),
        nodes AS (SELECT ii.i AS i, jj.j AS j,
            -2.0 + (ii.i + 0.5) * $dLon AS nx, -2.0 + (jj.j + 0.5) * $dLat AS ny
          FROM (SELECT unnest(generate_series(0, 31)) AS i) ii
          CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) jj),
        cls AS (SELECT i, j, nx, ny,
            (nx > 0.0 AND nx < 10.0 AND ny > 0.0 AND ny < 8.0) AS inh FROM nodes),
        nn AS (SELECT i, j, z FROM (
            SELECT n.i AS i, n.j AS j, p.z AS z,
              row_number() OVER (PARTITION BY n.i, n.j ORDER BY
                (p.x - n.nx) * (p.x - n.nx) + (p.y - n.ny) * (p.y - n.ny), p.pid) AS rk
            FROM cls n CROSS JOIN pz p
            WHERE NOT n.inh
              AND (p.x - n.nx) * (p.x - n.nx) + (p.y - n.ny) * (p.y - n.ny) <= 9.0)
          WHERE rk = 1)
        SELECT CAST(c.i AS BIGINT) AS i, CAST(c.j AS BIGINT) AS j,
          CAST(CASE WHEN c.inh THEN 2 WHEN nn.z IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS src,
          CAST(floor((CASE WHEN c.inh THEN 3.2531 + 1.3717 * c.nx - 2.1253 * c.ny
                           ELSE nn.z END) * 10000.0 + 0.5) AS BIGINT) AS v_tm
        FROM cls c LEFT JOIN nn ON c.i = nn.i AND c.j = nn.j
        ORDER BY i, j"""
    }),

    // -- VRT pixel-function tail + nodata-to-alpha (PixelFuncs.scala;
    // frmts/vrt/pixelfunctions.cpp dB/interpolate_linear/mean/median/
    // geometric_mean/scale/replace_nodata/argmax + gdalalg_raster_
    // nodata_to_alpha.cpp). Per-tile checksums; oracle recomputes each
    // closed form over the synthetic grid with identical literals.
    ("r29_pixel_funcs", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      def synth(m1: Long, m2: Long, md: Long) =
        engine.Raster.syntheticTiles(s, z) { (gx, gy) => ((gx * m1 + gy * m2) % md).toDouble }
      val b1 = synth(7919, 104729, 9973)
      val b2 = synth(4561, 7127, 8191)
      val b3 = synth(2741, 5939, 6997)
      def p1(d: org.apache.spark.sql.Dataset[engine.Tile]) =
        engine.Raster.mapPixels(d)(_ + 1.0)
      def cks(d: org.apache.spark.sql.Dataset[engine.Tile], name: String) =
        d.map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong)).toDF("x", "y", name)
      val out = Seq(
        cks(engine.PixelFuncs.dB(p1(b1)), "cks_db"),
        cks(engine.PixelFuncs.interpolateLinear(Seq(b1, b2, b3), 0.0, 10.0, 13.7), "cks_itp"),
        cks(engine.PixelFuncs.meanF(Seq(b1, b2, b3)), "cks_mean"),
        cks(engine.PixelFuncs.medianF(Seq(b1, b2, b3)), "cks_med"),
        cks(engine.PixelFuncs.geometricMeanF(Seq(p1(b1), p1(b2), p1(b3))), "cks_geo"),
        cks(engine.PixelFuncs.scaleF(b1, 0.5, 17.25), "cks_scale"),
        cks(engine.PixelFuncs.noDataToAlpha(b1, 42.0), "cks_nda"),
        cks(engine.PixelFuncs.replaceNoData(b1, 42.0, -1.0), "cks_rnod"),
        cks(engine.PixelFuncs.argmaxF(Seq(b1, b2, b3)), "cks_amax"))
      out.reduce(_.join(_, Seq("x", "y")))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_db", "cks_itp", "cks_mean", "cks_med",
          "cks_geo", "cks_scale", "cks_nda", "cks_rnod", "cks_amax")
        .orderBy("x", "y")
    }, Some {
      val f1 = "CAST((gx * 7919 + gy * 104729) % 9973 AS DOUBLE)"
      val f2 = "CAST((gx * 4561 + gy * 7127) % 8191 AS DOUBLE)"
      val f3 = "CAST((gx * 2741 + gy * 5939) % 6997 AS DOUBLE)"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
          b AS (SELECT gx, gy, $f1 AS v1, $f2 AS v2, $f3 AS v3 FROM px),
          v AS (SELECT gx, gy,
            ${toInt("20.0 * log10(abs(v1 + 1.0))")} AS i_db,
            ${toInt("v2 + (CAST(13.7 AS DOUBLE) - 10.0) * (v3 - v2) / (20.0 - 10.0)")} AS i_itp,
            ${toInt("(0.0 + v1 + v2 + v3) / 3")} AS i_mean,
            ${toInt("v1 + v2 + v3 - greatest(v1, v2, v3) - least(v1, v2, v3)")} AS i_med,
            ${toInt("power(1.0 * (v1 + 1.0) * (v2 + 1.0) * (v3 + 1.0), 1.0 / 3)")} AS i_geo,
            ${toInt("v1 * 0.5 + 17.25")} AS i_scale,
            CAST(CASE WHEN v1 = 42.0 THEN 0 ELSE 255 END AS BIGINT) AS i_nda,
            CAST(CASE WHEN v1 = 42.0 THEN -1 ELSE v1 END AS BIGINT) AS i_rnod,
            CAST(CASE WHEN v1 >= v2 AND v1 >= v3 THEN 0
                      WHEN v2 >= v3 THEN 1 ELSE 2 END AS BIGINT) AS i_amax
            FROM b),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            i_db, i_itp, i_mean, i_med, i_geo, i_scale, i_nda, i_rnod, i_amax FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("i_db")} AS cks_db, ${cksCol("i_itp")} AS cks_itp,
            ${cksCol("i_mean")} AS cks_mean, ${cksCol("i_med")} AS cks_med,
            ${cksCol("i_geo")} AS cks_geo, ${cksCol("i_scale")} AS cks_scale,
            ${cksCol("i_nda")} AS cks_nda, ${cksCol("i_rnod")} AS cks_rnod,
            ${cksCol("i_amax")} AS cks_amax
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- blend composition tail: overlay / hard-light / darken / lighten /
    // color-burn / color-dodge (Blend.composeExt; exact integer Mapserver
    // formulas from gdalalg_raster_blend.cpp:1033-1590, GByte modulo-256
    // narrowing included). r-channel checksum per mode.
    ("r30_blend_ext", (s, dir) => {
      val sp = s
      import sp.implicits._
      def ch(m1: Long, m2: Long) =
        engine.Raster.syntheticTiles(s, 1) { (gx, gy) => ((gx * m1 + gy * m2) % 256).toDouble }
      val base = Seq(ch(7, 13), ch(11, 3), ch(5, 17), ch(2, 9))
      val over = Seq(ch(19, 23), ch(29, 31), ch(37, 41), ch(43, 47))
      def cks(mode: String, name: String) =
        engine.Blend.composeExt(base, over, opacity = 180, mode = mode)
          .filter(_.band == 1)
          .map(t => (t.x.toLong, t.y.toLong,
            engine.Raster.checksum(t.pixels, t.w, t.h).toLong)).toDF("x", "y", name)
      Seq(cks("overlay", "cks_ov"), cks("hard-light", "cks_hl"),
          cks("darken", "cks_dk"), cks("lighten", "cks_lt"),
          cks("color-burn", "cks_cb"), cks("color-dodge", "cks_cd"))
        .reduce(_.join(_, Seq("x", "y")))
        .select("x", "y", "cks_ov", "cks_hl", "cks_dk", "cks_lt", "cks_cb", "cks_cd")
        .orderBy("x", "y")
    }, Some {
      def ch(m1: Int, m2: Int) = s"((gx * $m1 + gy * $m2) % 256)"
      // GByte-faithful helpers: & 255 at every C++ unsigned-char narrowing
      def bwS(x: String) = s"(($x) & 255)"
      def mw(a: String, b: String) = s"((${bwS(a)} * ${bwS(b)} + 255) // 256)"
      def dw(a: String, b: String) =
        s"((CASE WHEN ${bwS(a)} = 0 THEN 0 WHEN ($b) = 0 THEN 255 ELSE (${bwS(a)} * 255) // ($b) END) & 255)"
      // per-mode r-channel formula over (C=dr, A=a, S=sr, OA=oa, fa, am)
      def tail(c: String, a: String, sS: String, oa: String) =
        s"${mw(c, s"(255 - $oa)")} + ${mw(sS, s"(255 - $a)")}"
      def ov(c: String, a: String, sS: String, oa: String, fa: String, am: String) =
        s"""CASE WHEN 2 * ($c) < ($a)
             THEN ${dw(s"2 * ${mw(c, sS)} + ${tail(c, a, sS, oa)}", fa)}
             ELSE ${dw(s"($am) - 2 * ${mw(s"(($a) - ($c))", s"(($oa) - ($sS))")} + ${tail(c, a, sS, oa)}", fa)} END"""
      def dk(c: String, a: String, sS: String, oa: String, fa: String) =
        dw(s"least(${mw(sS, a)}, ${mw(c, oa)}) + ${tail(c, a, sS, oa)}", fa)
      def lt(c: String, a: String, sS: String, oa: String, fa: String) =
        dw(s"greatest(${mw(sS, a)}, ${mw(c, oa)}) + ${tail(c, a, sS, oa)}", fa)
      def cd(c: String, a: String, sS: String, oa: String, fa: String, am: String) =
        s"""CASE WHEN ${mw(sS, a)} + ${mw(c, oa)} >= ($am)
             THEN ${dw(s"($am) + ${tail(c, a, sS, oa)}", fa)}
             ELSE ${dw(s"${dw(mw(c, oa), s"(255 - ${dw(sS, oa)})")} + ${tail(c, a, sS, oa)}", fa)} END"""
      def cb(c: String, a: String, sS: String, oa: String, fa: String, am: String) =
        s"""CASE WHEN ${mw(sS, a)} + ${mw(c, oa)} <= ($am)
             THEN ${dw(tail(c, a, sS, oa), fa)}
             ELSE ${dw(s"${mw(am, s"(${dw(c, a)} + ${dw(sS, oa)} - 255)")} + ${tail(c, a, sS, oa)}", fa)} END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
          s1 AS (SELECT gx, gy, ${ch(2, 9)} AS ba, ${ch(43, 47)} AS ova,
            ${ch(7, 13)} AS cr, ${ch(19, 23)} AS ocr FROM px),
          s2 AS (SELECT gx, gy, cr, ocr, ba AS a, ${mw("ova", "180")} AS oa,
            ${mw("ova", "180")} + ba - ${mw(mw("ova", "180"), "ba")} AS fa,
            ${mw("ova", "180")} AS ah, ba AS oah FROM s1),
          s3 AS (SELECT gx, gy, a, oa, fa, ${mw("oa", "a")} AS am,
            ${mw("cr", "a")} AS dr, ${mw("ocr", "oa")} AS sr,
            ah, oah, oah + ah - ${mw("oah", "ah")} AS fah, ${mw("oah", "ah")} AS amh,
            ${mw("ocr", "ah")} AS drh, ${mw("cr", "oah")} AS srh FROM s2),
          v AS (SELECT gx, gy,
            CAST(${ov("dr", "a", "sr", "oa", "fa", "am")} AS BIGINT) AS i_ov,
            CAST(${ov("drh", "ah", "srh", "oah", "fah", "amh")} AS BIGINT) AS i_hl,
            CAST(${dk("dr", "a", "sr", "oa", "fa")} AS BIGINT) AS i_dk,
            CAST(${lt("dr", "a", "sr", "oa", "fa")} AS BIGINT) AS i_lt,
            CAST(${cb("dr", "a", "sr", "oa", "fa", "am")} AS BIGINT) AS i_cb,
            CAST(${cd("dr", "a", "sr", "oa", "fa", "am")} AS BIGINT) AS i_cd
            FROM s3),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            i_ov, i_hl, i_dk, i_lt, i_cb, i_cd FROM v)
          SELECT tx AS x, ty AS y,
            ${cksCol("i_ov")} AS cks_ov, ${cksCol("i_hl")} AS cks_hl,
            ${cksCol("i_dk")} AS cks_dk, ${cksCol("i_lt")} AS cks_lt,
            ${cksCol("i_cb")} AS cks_cb, ${cksCol("i_cd")} AS cks_cd
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- hsv-value composition (Blend.hsvValue; gdalalg_raster_blend.cpp:
    // 398-500 rgb_to_hs / hsv_to_rgb, float32 arithmetic). The oracle
    // replays the float pipeline with REAL casts (DuckDB FLOAT arithmetic
    // is IEEE single precision, so both sides are bit-identical).
    ("r31_blend_hsv", (s, dir) => {
      val sp = s
      import sp.implicits._
      def ch(m1: Long, m2: Long) =
        engine.Raster.syntheticTiles(s, 1) { (gx, gy) => ((gx * m1 + gy * m2) % 256).toDouble }
      val rgb = Seq(ch(7, 13), ch(11, 3), ch(5, 17))
      val gray = ch(19, 23)
      engine.Blend.hsvValue(rgb, gray)
        .map(t => (t.band.toLong, t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("b", "x", "y", "cks")
        .orderBy("b", "x", "y")
    }, Some {
      def ch(m1: Int, m2: Int) = s"((gx * $m1 + gy * $m2) % 256)"
      def rl(d: Double) = s"CAST(CAST(${dlit(d)} AS DOUBLE) AS REAL)"
      val c46 = rl((4.0f / 6.0f).toDouble)
      val c26 = rl((2.0f / 6.0f).toDouble)
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 511)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 511)) AS gy) ys),
          c AS (SELECT gx, gy, ${ch(7, 13)} AS r, ${ch(11, 3)} AS g,
            ${ch(5, 17)} AS b, ${ch(19, 23)} AS v FROM px),
          mm AS (SELECT gx, gy, r, g, b, v,
            greatest(r, g, b) AS maxc, greatest(r, g, b) - least(r, g, b) AS d FROM c),
          hs AS (SELECT gx, gy, v,
            CAST(d AS REAL) / CAST(greatest(1, maxc) AS REAL) AS s,
            CASE WHEN maxc = b THEN $c46 + CAST(r - g AS REAL) /
                (CASE WHEN d = 0 THEN CAST(1 AS REAL) ELSE CAST(6 AS REAL) * CAST(d AS REAL) END)
              WHEN maxc = g THEN $c26 + CAST(b - r AS REAL) /
                (CASE WHEN d = 0 THEN CAST(1 AS REAL) ELSE CAST(6 AS REAL) * CAST(d AS REAL) END)
              ELSE (CASE WHEN CAST(g - b AS REAL) /
                  (CASE WHEN d = 0 THEN CAST(1 AS REAL) ELSE CAST(6 AS REAL) * CAST(d AS REAL) END) < CAST(0 AS REAL)
                THEN CAST(g - b AS REAL) /
                  (CASE WHEN d = 0 THEN CAST(1 AS REAL) ELSE CAST(6 AS REAL) * CAST(d AS REAL) END) + CAST(1 AS REAL)
                ELSE CAST(g - b AS REAL) /
                  (CASE WHEN d = 0 THEN CAST(1 AS REAL) ELSE CAST(6 AS REAL) * CAST(d AS REAL) END) END) END AS h
            FROM mm),
          fi AS (SELECT gx, gy, v, s,
            CAST(floor(CAST(6 AS REAL) * h) AS INT) AS i6,
            CAST(6 AS REAL) * h - CAST(CAST(floor(CAST(6 AS REAL) * h) AS INT) AS REAL) AS f
            FROM hs),
          pqt AS (SELECT gx, gy, v, i6,
            CAST(floor(CAST(v AS REAL) * (CAST(1 AS REAL) - s) + CAST(0.5 AS REAL)) AS BIGINT) AS p,
            CAST(floor(CAST(v AS REAL) * (CAST(1 AS REAL) - s * f) + CAST(0.5 AS REAL)) AS BIGINT) AS q,
            CAST(floor(CAST(v AS REAL) * (CAST(1 AS REAL) - s * (CAST(1 AS REAL) - f)) + CAST(0.5 AS REAL)) AS BIGINT) AS t
            FROM fi),
          rgb AS (SELECT gx, gy,
            CASE i6 WHEN 0 THEN v WHEN 1 THEN q WHEN 2 THEN p WHEN 3 THEN p WHEN 4 THEN t ELSE v END AS outr,
            CASE i6 WHEN 0 THEN t WHEN 1 THEN v WHEN 2 THEN v WHEN 3 THEN q WHEN 4 THEN p ELSE p END AS outg,
            CASE i6 WHEN 0 THEN p WHEN 1 THEN p WHEN 2 THEN t WHEN 3 THEN v WHEN 4 THEN v ELSE q END AS outb
            FROM pqt),
          long_ AS (
            SELECT 1 AS b, gx, gy, CAST(outr AS BIGINT) AS iv FROM rgb
            UNION ALL SELECT 2, gx, gy, CAST(outg AS BIGINT) FROM rgb
            UNION ALL SELECT 3, gx, gy, CAST(outb AS BIGINT) FROM rgb),
          cells AS (SELECT b, gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy, iv
            FROM long_)
          SELECT CAST(b AS BIGINT) AS b, tx AS x, ty AS y, ${cksCol("iv")} AS cks
          FROM cells GROUP BY 1, 2, 3 ORDER BY b, x, y"""
    }),

    // -- layer-algebra Identity + Erase (SpatialJoin.identity/erase;
    // OGRLayer::Identity / OGRLayer::Erase, ogr/ogrlayer.cpp — per input
    // feature: pieces cut by each intersecting method feature + the
    // remainder outside all of them). Fixture: left rects (1.8° side)
    // nearly tile a 2°-pitch grid; right rects (1.4° side) straddle the
    // grid corners, so interior left features are bitten by up to four
    // method features and the remainder fold is a real multi-subtraction.
    // All rects are axis-aligned, never touch edge-on (fractional offsets
    // differ), and right rects are pairwise disjoint — so every output
    // area has a closed form: intersection = rect overlap, remainder =
    // left area minus the disjoint bites. op 1 = identity rows
    // (rid = -1 marks the remainder piece), op 2 = erase rows.
    ("g37_identity_erase", (s, dir) => {
      prep(s)
      def rects(n: Int, cols: Int, off: Double, size: Double, idName: String): DataFrame =
        t(s, dir, "documents").where(col("doc_id") < n)
          .select(col("doc_id").cast("long").as(idName),
            expr(s"CAST(doc_id % $cols AS DOUBLE) * 2.0 + $off").as("x0"),
            expr(s"CAST(doc_id DIV $cols AS DOUBLE) * 2.0 + $off").as("y0"))
          .withColumn("wkb", expr(
            s"""st_geomfromtext(concat('POLYGON ((', x0, ' ', y0, ', ',
               x0 + $size, ' ', y0, ', ', x0 + $size, ' ', y0 + $size, ', ',
               x0, ' ', y0 + $size, ', ', x0, ' ', y0, '))'))"""))
          .drop("x0", "y0")
      val left = rects(500, 25, 0.1, 1.8, "lid")
      val right = rects(456, 24, 1.3, 1.4, "rid")
      val aMm = expr("CAST(floor(st_area(wkb) * 1000.0 + 0.5) AS BIGINT)")
      val ident = engine.SpatialJoin.identity(left, right, z = 8)
        .select(lit(1L).as("op"), col("lid"),
          coalesce(col("rid"), lit(-1L)).as("rid"), aMm.as("a_mm"))
      val er = engine.SpatialJoin.erase(left, right, z = 8)
        .select(lit(2L).as("op"), col("lid"), lit(-1L).as("rid"), aMm.as("a_mm"))
      ident.unionByName(er).orderBy("op", "lid", "rid")
    }, Some("""
      WITH lr AS (SELECT doc_id AS lid,
          CAST(doc_id % 25 AS DOUBLE) * 2.0 + 0.1 AS ax0,
          CAST(doc_id // 25 AS DOUBLE) * 2.0 + 0.1 AS ay0
        FROM documents WHERE doc_id < 500),
      l2 AS (SELECT lid, ax0, ay0, ax0 + 1.8 AS ax1, ay0 + 1.8 AS ay1 FROM lr),
      rr AS (SELECT doc_id AS rid,
          CAST(doc_id % 24 AS DOUBLE) * 2.0 + 1.3 AS bx0,
          CAST(doc_id // 24 AS DOUBLE) * 2.0 + 1.3 AS by0
        FROM documents WHERE doc_id < 456),
      r2 AS (SELECT rid, bx0, by0, bx0 + 1.4 AS bx1, by0 + 1.4 AS by1 FROM rr),
      px AS (SELECT lid, rid,
          (least(ax1, bx1) - greatest(ax0, bx0)) * (least(ay1, by1) - greatest(ay0, by0)) AS a
        FROM l2 JOIN r2 ON ax0 < bx1 AND bx0 < ax1 AND ay0 < by1 AND by0 < ay1),
      rem AS (SELECT l.lid AS lid, (l.ax1 - l.ax0) * (l.ay1 - l.ay0) - coalesce(sum(p.a), 0.0) AS a
        FROM l2 l LEFT JOIN px p ON l.lid = p.lid GROUP BY 1, l.ax0, l.ax1, l.ay0, l.ay1),
      ident AS (SELECT lid, rid, a FROM px
        UNION ALL SELECT lid, -1 AS rid, a FROM rem)
      SELECT CAST(1 AS BIGINT) AS op, CAST(lid AS BIGINT) AS lid,
        CAST(rid AS BIGINT) AS rid, CAST(floor(a * 1000.0 + 0.5) AS BIGINT) AS a_mm FROM ident
      UNION ALL
      SELECT CAST(2 AS BIGINT), CAST(lid AS BIGINT), CAST(-1 AS BIGINT),
        CAST(floor(a * 1000.0 + 0.5) AS BIGINT) FROM rem
      ORDER BY op, lid, rid""")),

    // -- multidim MDArray lazy views (MdArray.scala; GDALMDArray::GetView
    // gcore/multidim/gdalmultidim_array_view.cpp:743-792 + ::Transpose
    // gdalmultidim_array_transposed.cpp): strided slice with a REVERSED
    // dim and an integer-pinned dim, lazily transposed, then a distributed
    // axis reduction. Base is a closed-form 64×48×32 array in 16³ chunks;
    // the whole view chain is affine, so DuckDB replays it exactly.
    ("m02_mdarray_view", (s, dir) => {
      val gen: Array[Long] => Double =
        c => ((c(0) * 7919 + c(1) * 104729 + c(2) * 6151) % 9973).toDouble
      val base = engine.MdArray.create(s, Array(64L, 48L, 32L), Array(16, 16, 16))(gen)
      val out = base.getView("[5:37:2, ::-1, 7]") // (16, 48): i=5+2a, j=47-b, k=7
        .transpose(Array(1, 0))                   // (48, 16)
        .sumAxis(1)                               // (48): sum over a
      out.toTable.select(col("d0").cast("long").as("d0"),
          col("v").cast("long").as("s")).orderBy("d0")
    }, Some("""
      WITH aa AS (SELECT unnest(generate_series(0, 15)) AS a),
      bb AS (SELECT unnest(generate_series(0, 47)) AS b),
      v AS (SELECT b, ((5 + 2 * a) * 7919 + (47 - b) * 104729 + 7 * 6151) % 9973 AS val
        FROM aa CROSS JOIN bb)
      SELECT CAST(b AS BIGINT) AS d0, CAST(sum(val) AS BIGINT) AS s
      FROM v GROUP BY 1 ORDER BY 1""")),

    // -- a second fixture for the naive st_contains_point join that
    // CellJoinRule plans (g30 has 20 bands at 18° spacing; this one 12
    // wider bands at 30°), gated against the closed-form PIP oracle
    ("g38_strategy_join", (s, dir) => {
      prep(s)
      import s.implicits._
      import graft.functions.gf
      val pts = Queries.eventPoints(s, dir).where(col("event_id") < 3000)
      val polys = (0 until 12).map { i =>
        val x0 = -180.0 + 30.0 * i
        (i.toLong, s"POLYGON (($x0 -60, ${x0 + 20} -60, ${x0 + 20} 60, $x0 60, $x0 -60))")
      }.toDF("poly_id", "wkt")
        .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
      pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
        .select(col("event_id"), col("poly_id"))
        .orderBy("event_id", "poly_id")
    }, Some(s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 3000),
      polys AS (SELECT i AS poly_id, -180.0 + 30.0 * i AS x0
                FROM (SELECT unnest(generate_series(0, 11)) AS i))
      SELECT event_id, CAST(poly_id AS BIGINT) AS poly_id
      FROM pts JOIN polys
        ON lon > x0 AND lon < x0 + 20.0 AND lat > -60.0 AND lat < 60.0
      ORDER BY event_id, poly_id""")),

    // -- surface geometry types (wkbTriangle/TIN/PolyhedralSurface,
    // ogr_core.h:426-513): WKT/WKB round-trip with type preservation,
    // facet-sum area (OGRPolyhedralSurface::get_Area), vertex counts, and
    // CastToMultiPolygon via st_multi — all against closed forms
    ("g39_surface_types", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").where(col("doc_id") < 5000)
        .withColumn("k", expr("CAST(1 + doc_id % 7 AS STRING)"))
        .withColumn("wkt", expr("""
          CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN concat('TRIANGLE ((0 0, ', k, ' 0, 0 ', k, ', 0 0))')
            WHEN 1 THEN concat('TIN (((0 0, ', k, ' 0, 0 ', k, ', 0 0)), ((',
              k, ' 0, ', k, ' ', k, ', 0 ', k, ', ', k, ' 0)))')
            ELSE concat('POLYHEDRALSURFACE (((0 0, ', k, ' 0, ', k, ' ', k,
              ', 0 ', k, ', 0 0)), ((0 0, 0 ', k, ', ', k, ' ', k, ', ', k,
              ' 0, 0 0)))')
          END"""))
        .withColumn("g", gf.st_geomfromtext(col("wkt")))
      base.select(col("doc_id"),
          gf.st_geometrytype(col("g")).as("gtype"),
          expr("CAST(floor(st_area(g) * 1000000.0 + 0.5) AS BIGINT)").as("area_u"),
          expr("CAST(st_npoints(g) AS BIGINT)").as("np"),
          gf.st_geometrytype(gf.st_multi(col("g"))).as("gtype_multi"),
          // writer/parser fixpoint through both codecs (g is WKB-decoded)
          expr("st_astext(g) = st_astext(st_geomfromtext(st_astext(g)))").as("rt_ok"))
        .orderBy("doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, CAST(1 + doc_id % 7 AS DOUBLE) AS k,
                        CAST(doc_id % 3 AS INT) AS m
                 FROM documents WHERE doc_id < 5000)
      SELECT doc_id,
        CASE m WHEN 0 THEN 'TRIANGLE' WHEN 1 THEN 'TIN'
               ELSE 'POLYHEDRALSURFACE' END AS gtype,
        CAST(floor(CASE m WHEN 0 THEN k * k / 2.0 WHEN 1 THEN k * k
                          ELSE 2.0 * k * k END * 1000000.0 + 0.5) AS BIGINT) AS area_u,
        CAST(CASE m WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 10 END AS BIGINT) AS np,
        'MULTIPOLYGON' AS gtype_multi,
        true AS rt_ok
      FROM b ORDER BY doc_id""")),

    // -- gdal_translate: -srcwin crop + -outsize resize (near kernel) +
    // -scale + -ot Byte clamp (t1), and a non-tile-aligned outsize whose
    // edge-tile margin is zeroed (t2); integer-aligned windows so the
    // oracle is a closed-form pixel map + checksum
    ("r32_translate", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      def cks(t: engine.Tile) =
        (t.x.toLong, t.y.toLong, engine.Raster.checksum(t.pixels, t.w, t.h).toLong)
      val t1 = engine.Raster.translate(base, 300, 200, 1024, 512, 512, 256,
          2048, 2048, scale = Some((0.25, 10.0)), outType = Some("byte"))
        .map(cks _).toDF("x", "y", "cks_t1")
      val t2 = engine.Raster.translate(base, 0, 0, 800, 400, 400, 200, 2048, 2048)
        .map(cks _).toDF("x", "y", "cks_t2")
      t1.join(t2, Seq("x", "y"))
        .select("x", "y", "cks_t1", "cks_t2").orderBy("x", "y")
    }, Some {
      def fAt(xe: String, ye: String) =
        s"CAST((CAST($xe AS BIGINT) * 7919 + CAST($ye AS BIGINT) * 104729) % 9973 AS DOUBLE)"
      s"""WITH px AS (SELECT xs.dx AS dx, ys.dy AS dy
            FROM (SELECT unnest(generate_series(0, 511)) AS dx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS dy) ys),
          v AS (SELECT dx, dy,
            LEAST(255.0, floor(${fAt("2 * dx + 301", "2 * dy + 201")} * 0.25 + 10.0 + 0.5)) AS v1,
            CASE WHEN dx >= 400 OR dy >= 200 THEN 0.0
                 ELSE ${fAt("2 * dx + 1", "2 * dy + 1")} END AS v2
            FROM px),
          cells AS (SELECT dx >> 8 AS tx, dy >> 8 AS ty, dx % 256 AS cx, dy % 256 AS cy,
            CAST(floor(v1 + 0.5) AS BIGINT) AS iv1,
            CAST(floor(v2 + 0.5) AS BIGINT) AS iv2 FROM v)
          SELECT tx AS x, ty AS y,
            ${cksCol("iv1")} AS cks_t1,
            ${cksCol("iv2")} AS cks_t2
          FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- ogr_deflate / ogr_inflate (SQLite-dialect misc functions): zlib
    // round-trip identity over the documents text, plus compressed-stream
    // well-formedness (0x78 zlib header byte, non-empty)
    ("q25_deflate", (s, dir) => {
      prep(s)
      t(s, dir, "documents").where(col("doc_id") < 20000)
        .withColumn("z", expr("ogr_deflate(text)"))
        .select(col("doc_id"),
          expr("CAST(ogr_inflate(z) AS STRING) = text").as("rt_ok"),
          expr("length(z) > 0 AND hex(substring(z, 1, 1)) = '78'").as("zhdr_ok"),
          expr("ogr_inflate(CAST('not a zlib stream' AS BINARY)) IS NULL").as("bad_null"),
          col("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, true AS rt_ok, true AS zhdr_ok, true AS bad_null, n_chars
      FROM documents WHERE doc_id < 20000 ORDER BY doc_id""")),

    // -- coverage ops (clean-coverage + simplify-coverage): a 12×12 grid
    // coverage whose shared edges are densified with ±0.3 zigzag noise and
    // ±0.02 per-owner jitter. clean(0.1) snaps the jitter so both owners'
    // chains are bit-identical; simplify(0.5) removes the zigzag but pins
    // coverage nodes and keeps the >tol boundary corners — every cell must
    // come back as its exact 5-point rectangle (closed form)
    ("g40_simplify_coverage", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      import graft.functions.gf
      val grid = 12
      val wkts = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < grid * grid).as[Long]
        .map { c =>
          val i = (c % grid).toInt; val j = (c / grid).toInt
          val x0 = 8.0 * i; val y0 = 8.0 * j
          val d = if (c % 2 == 0) 0.02 else -0.02
          def zig(u: Double, w: Double): Double =
            (if (((u / 2).toLong + (w / 8).toLong) % 2 == 0) 0.3 else -0.3) + d
          val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
          def edgeH(xa: Double, xb: Double, y: Double): Unit = {
            val st = if (xb > xa) 2.0 else -2.0
            pts += ((xa, y))
            var k = 1
            while (k < 4) { val x = xa + st * k; pts += ((x, y + zig(x, y))); k += 1 }
          }
          def edgeV(x: Double, ya: Double, yb: Double): Unit = {
            val st = if (yb > ya) 2.0 else -2.0
            pts += ((x, ya))
            var k = 1
            while (k < 4) { val y = ya + st * k; pts += ((x + zig(y, x), y)); k += 1 }
          }
          edgeH(x0, x0 + 8, y0)          // bottom, left→right
          edgeV(x0 + 8, y0, y0 + 8)      // right, up
          edgeH(x0 + 8, x0, y0 + 8)      // top, right→left
          edgeV(x0, y0 + 8, y0)          // left, down
          pts += pts(0)                  // closure
          (c, "POLYGON ((" + pts.map(p => s"${p._1} ${p._2}").mkString(",") + "))")
        }.toDF("id", "wkt")
      val dfIn = wkts.select(col("id"), gf.st_geomfromtext(col("wkt")).as("wkb"))
      val out = engine.Coverage.simplifyCoverage(
        engine.Coverage.cleanCoverage(dfIn, 0.1), 0.5)
      out.select(col("id").as("doc_id"),
          expr("CAST(st_npoints(wkb) AS BIGINT)").as("np"),
          expr("CAST(floor(st_area(wkb) * 1000000.0 + 0.5) AS BIGINT)").as("area_u"),
          expr("CAST(floor(st_envelope(wkb)[0] * 1000000.0 + 0.5) AS BIGINT)").as("minx_u"),
          expr("CAST(floor(st_envelope(wkb)[1] * 1000000.0 + 0.5) AS BIGINT)").as("miny_u"),
          expr("CAST(floor(st_envelope(wkb)[2] * 1000000.0 + 0.5) AS BIGINT)").as("maxx_u"),
          expr("CAST(floor(st_envelope(wkb)[3] * 1000000.0 + 0.5) AS BIGINT)").as("maxy_u"),
          expr("st_isvalid(wkb)").as("valid"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(5 AS BIGINT) AS np, CAST(64000000 AS BIGINT) AS area_u,
        CAST((doc_id % 12) * 8000000 AS BIGINT) AS minx_u,
        CAST((doc_id // 12) * 8000000 AS BIGINT) AS miny_u,
        CAST((doc_id % 12 + 1) * 8000000 AS BIGINT) AS maxx_u,
        CAST((doc_id // 12 + 1) * 8000000 AS BIGINT) AS maxy_u,
        true AS valid
      FROM documents WHERE doc_id < 144 ORDER BY doc_id""")),

    // -- OGR SQL DDL: the ALTER TABLE family through the text entry point
    // (gdaldataset.cpp ProcessSQLAlterTable*): ADD/RENAME/ALTER TYPE/DROP
    // applied in sequence to the poly fixture, then read back via SELECT *
    ("q26_ogrsql_ddl", (s, _) => {
      prep(s)
      var ls = ogrLayers(s)
      ls = OgrSql.executeDdl(s, "ALTER TABLE poly ADD COLUMN note VARCHAR(32)", ls)
      ls = OgrSql.executeDdl(s, "ALTER TABLE poly RENAME COLUMN prfedea TO code", ls)
      ls = OgrSql.executeDdl(s, "ALTER TABLE poly ALTER COLUMN eas_id TYPE DOUBLE", ls)
      ls = OgrSql.executeDdl(s, "ALTER TABLE poly DROP COLUMN area", ls)
      OgrSql.execute(s, "SELECT * FROM poly ORDER BY code", ls)
    }, Some(s"""
      WITH poly AS ($polyValuesSql)
      SELECT CAST(eas_id AS DOUBLE) AS eas_id, prfedea AS code,
             CAST(NULL AS VARCHAR) AS note
      FROM poly ORDER BY code""")),

    // -- gdaltindex: tile index table + bbox query (gdaltindex_lib.cpp
    // footprint features; queried like buildvrt -te selects sources).
    // Index built from the z5 rasterization of the event cloud, queried
    // with the NE quadrant of the 3857 world.
    ("g41_tindex", (s, dir) => {
      val idx = engine.TileIndex.buildIndex(
        engine.Raster.rasterizePoints(Queries.eventPoints(s, dir), 5))
      val osd = graft.geom.Mercator.OriginShift
      engine.TileIndex.queryBbox(idx, 0.0, 0.0, osd, osd)
        .select(col("location"),
          col("z").cast("long").as("z"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"),
          expr(toInt("minx")).as("minx_m"), expr(toInt("miny")).as("miny_m"),
          expr(toInt("maxx")).as("maxx_m"), expr(toInt("maxy")).as("maxy_m"))
        .orderBy("x", "y")
    }, Some(s"""
      WITH pp AS (SELECT ((${mercX(lonOf("event_id"))}) + $os) / ${resAt(5)} AS pxd,
            8192.0 - ((${mercY(latOf("event_id"))}) + $os) / ${resAt(5)} AS pyd FROM events),
        pix AS (SELECT CAST(floor(pxd) AS BIGINT) AS px, CAST(floor(pyd) AS BIGINT) AS py
                FROM pp WHERE pxd >= 0 AND pxd < 8192 AND pyd >= 0 AND pyd < 8192),
        tk AS (SELECT DISTINCT px >> 8 AS x, py >> 8 AS y FROM pix),
        b AS (SELECT x, y,
            (-($os) + CAST(x AS DOUBLE) * ((2.0 * $os) / 32.0)) AS minx,
            (-($os) + CAST(x + 1 AS DOUBLE) * ((2.0 * $os) / 32.0)) AS maxx,
            ($os - CAST(y + 1 AS DOUBLE) * ((2.0 * $os) / 32.0)) AS miny,
            ($os - CAST(y AS DOUBLE) * ((2.0 * $os) / 32.0)) AS maxy
          FROM tk)
      SELECT 'z5/x' || x || '/y' || y || '.tile' AS location,
             CAST(5 AS BIGINT) AS z, x, y,
             ${toInt("minx")} AS minx_m, ${toInt("miny")} AS miny_m,
             ${toInt("maxx")} AS maxx_m, ${toInt("maxy")} AS maxy_m
      FROM b WHERE minx < $os AND maxx > 0.0 AND miny < $os AND maxy > 0.0
      ORDER BY x, y""")),

    // -- gdalbuildvrt: VRT mosaic descriptor — per selected source the
    // SrcRect/DstRect windows of its overlap with a non-tile-aligned
    // request bbox (vrtsources.cpp GetSrcDstWindow). Pure index math, no
    // pixels touched; the materialization is spec'd in TileIndexSpec.
    ("g42_buildvrt", (s, dir) => {
      val idx = engine.TileIndex.buildIndex(
        engine.Raster.rasterizePoints(Queries.eventPoints(s, dir), 5))
      val osd = graft.geom.Mercator.OriginShift
      engine.TileIndex.buildVrt(idx, -0.3 * osd, -0.2 * osd, 0.55 * osd, 0.4 * osd)
        .toDF()
        .select(col("location"),
          col("z").cast("long").as("z"), col("x").cast("long").as("x"),
          col("y").cast("long").as("y"),
          col("srcXOff").cast("long").as("src_xoff"),
          col("srcYOff").cast("long").as("src_yoff"),
          col("dstXOff").cast("long").as("dst_xoff"),
          col("dstYOff").cast("long").as("dst_yoff"),
          col("w").cast("long").as("w"), col("h").cast("long").as("h"))
        .orderBy("x", "y")
    }, Some(s"""
      WITH pp AS (SELECT ((${mercX(lonOf("event_id"))}) + $os) / ${resAt(5)} AS pxd,
            8192.0 - ((${mercY(latOf("event_id"))}) + $os) / ${resAt(5)} AS pyd FROM events),
        pix AS (SELECT CAST(floor(pxd) AS BIGINT) AS px, CAST(floor(pyd) AS BIGINT) AS py
                FROM pp WHERE pxd >= 0 AND pxd < 8192 AND pyd >= 0 AND pyd < 8192),
        tk AS (SELECT DISTINCT px >> 8 AS x, py >> 8 AS y FROM pix),
        d AS (SELECT
            CAST(floor((((-0.3) * $os) + $os) / ${resAt(5)}) AS BIGINT) AS dx0,
            CAST(floor(($os - (0.4 * $os)) / ${resAt(5)}) AS BIGINT) AS dy0,
            CAST(ceil(((0.55 * $os) + $os) / ${resAt(5)}) AS BIGINT) AS dx1,
            CAST(ceil(($os - ((-0.2) * $os)) / ${resAt(5)}) AS BIGINT) AS dy1),
        w AS (SELECT x, y,
            greatest(x * 256, dx0) AS ix0, least(x * 256 + 256, dx1) AS ix1,
            greatest(y * 256, dy0) AS iy0, least(y * 256 + 256, dy1) AS iy1,
            dx0, dy0
          FROM tk CROSS JOIN d)
      SELECT 'z5/x' || x || '/y' || y || '.tile' AS location,
             CAST(5 AS BIGINT) AS z, x, y,
             ix0 - x * 256 AS src_xoff, iy0 - y * 256 AS src_yoff,
             ix0 - dx0 AS dst_xoff, iy0 - dy0 AS dst_yoff,
             ix1 - ix0 AS w, iy1 - iy0 AS h
      FROM w WHERE ix1 - ix0 > 0 AND iy1 - iy0 > 0
      ORDER BY x, y""")),

    // -- raster clip: materialize the VRT over a non-aligned bbox (the
    // `gdal raster clip` / translate-of-a-VRT path) and checksum each dst
    // tile. The pixel side is touched only via the broadcast descriptor
    // semi-join — the clip never scans tiles outside the request.
    ("r33_raster_clip", (s, dir) => {
      val sp = s
      import sp.implicits._
      val tiles = engine.Raster.rasterizePoints(Queries.eventPoints(s, dir), 5)
      val idx = engine.TileIndex.buildIndex(tiles)
      val osd = graft.geom.Mercator.OriginShift
      val vrt = engine.TileIndex.buildVrt(idx, -0.3 * osd, -0.2 * osd, 0.55 * osd, 0.4 * osd)
      engine.TileIndex.mosaic(tiles, vrt)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks").orderBy("x", "y")
    }, Some(s"""
      WITH pp AS (SELECT ((${mercX(lonOf("event_id"))}) + $os) / ${resAt(5)} AS pxd,
            8192.0 - ((${mercY(latOf("event_id"))}) + $os) / ${resAt(5)} AS pyd FROM events),
        pix AS (SELECT CAST(floor(pxd) AS BIGINT) AS px, CAST(floor(pyd) AS BIGINT) AS py
                FROM pp WHERE pxd >= 0 AND pxd < 8192 AND pyd >= 0 AND pyd < 8192),
        d AS (SELECT
            CAST(floor((((-0.3) * $os) + $os) / ${resAt(5)}) AS BIGINT) AS dx0,
            CAST(floor(($os - (0.4 * $os)) / ${resAt(5)}) AS BIGINT) AS dy0,
            CAST(ceil(((0.55 * $os) + $os) / ${resAt(5)}) AS BIGINT) AS dx1,
            CAST(ceil(($os - ((-0.2) * $os)) / ${resAt(5)}) AS BIGINT) AS dy1),
        cells AS (SELECT (px - dx0) >> 8 AS tx, (py - dy0) >> 8 AS ty,
                  (px - dx0) % 256 AS cx, (py - dy0) % 256 AS cy, count(*) AS n
            FROM pix CROSS JOIN d
            WHERE px >= dx0 AND px < dx1 AND py >= dy0 AND py < dy1
            GROUP BY 1, 2, 3, 4)
      SELECT tx AS x, ty AS y,
        CAST(sum(n % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 256 + cx) % 11 AS INT) + 1]) % 65536 AS BIGINT) AS cks
      FROM cells GROUP BY 1, 2 ORDER BY x, y""")),

    // -- Polar Stereographic (variant B, EPSG:3413 params) + Sinusoidal
    // (MODIS grid) — Snyder §21/§30 ellipsoidal, geom/Conic.scala; the
    // reference delegates both to PROJ stere/sinu (ogr/ogrct.cpp). Same
    // scheme as g34: forward at mm, inverse exercised via µdeg roundtrip
    // columns that must land exactly 0; oracle re-derives the forward
    // with identical operation order and Conic-precomputed constants.
    ("g43_proj", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .withColumn("latp", expr("60.0 + (lat + 85.0) / 170.0 * 24.0"))
        .withColumn("pp", gf.st_point(col("lon"), col("latp")))
        .withColumn("pw", gf.st_point(col("lon"), col("lat")))
        .withColumn("gp", expr("st_transform_ps(pp, 70.0, -45.0)"))
        .withColumn("gs", expr("st_transform_sinu(pw, 0.0)"))
        .withColumn("rp", expr(
          "st_transform_ps_inv(st_transform_ps(pp, 70.0, -45.0), 70.0, -45.0)"))
        .withColumn("rs", expr(
          "st_transform_sinu_inv(st_transform_sinu(pw, 0.0), 0.0)"))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(gp) * 1000.0 + 0.5) AS BIGINT)").as("px_mm"),
          expr("CAST(floor(st_y(gp) * 1000.0 + 0.5) AS BIGINT)").as("py_mm"),
          expr("CAST(floor(st_x(gs) * 1000.0 + 0.5) AS BIGINT)").as("sx_mm"),
          expr("CAST(floor(st_y(gs) * 1000.0 + 0.5) AS BIGINT)").as("sy_mm"),
          expr("CAST(floor((st_x(rp) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("prlon_u"),
          expr("CAST(floor((st_y(rp) - latp) * 1000000.0 + 0.5) AS BIGINT)").as("prlat_u"),
          expr("CAST(floor((st_x(rs) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("srlon_u"),
          expr("CAST(floor((st_y(rs) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("srlat_u"))
        .orderBy("event_id")
    }, Some {
      import graft.geom.Conic
      val pp = Conic.psParams(70.0, -45.0)
      val sp = Conic.sinuParams(0.0)
      val f = 1.0 / 298.257223563
      val e2v = f * (2.0 - f); val ev = math.sqrt(e2v)
      val (e2l, el) = (dlit(e2v), dlit(ev))
      val eHalf = dlit(ev / 2.0)
      val rhoC = dlit(pp.rhoC); val plam0 = dlit(pp.lam0)
      val (m0l, m1l, m2l, m3l) = (dlit(sp.m0), dlit(sp.m1), dlit(sp.m2), dlit(sp.m3))
      val aL = dlit(Conic.A)
      val d2rl = dlit(math.Pi / 180.0)
      val piL = dlit(math.Pi)
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      cc AS (SELECT event_id,
          lon * $d2rl AS lam,
          (60.0 + (lat + 85.0) / 170.0 * 24.0) * $d2rl AS phip,
          lat * $d2rl AS phiw FROM pts),
      ps AS (SELECT event_id,
          $rhoC * (tan($piL / 4.0 - phip / 2.0) /
            power((1.0 - $el * sin(phip)) / (1.0 + $el * sin(phip)), $eHalf)) AS rho,
          lam - $plam0 AS th FROM cc),
      sn AS (SELECT event_id,
          $aL * (lam - 0.0) * cos(phiw) / sqrt(1.0 - $e2l * sin(phiw) * sin(phiw)) AS sx,
          $m0l * phiw - $m1l * sin(2.0 * phiw) + $m2l * sin(4.0 * phiw)
            - $m3l * sin(6.0 * phiw) AS sy FROM cc)
      SELECT p.event_id,
        CAST(floor((p.rho * sin(p.th)) * 1000.0 + 0.5) AS BIGINT) AS px_mm,
        CAST(floor((-(p.rho * cos(p.th))) * 1000.0 + 0.5) AS BIGINT) AS py_mm,
        CAST(floor(n.sx * 1000.0 + 0.5) AS BIGINT) AS sx_mm,
        CAST(floor(n.sy * 1000.0 + 0.5) AS BIGINT) AS sy_mm,
        CAST(0 AS BIGINT) AS prlon_u, CAST(0 AS BIGINT) AS prlat_u,
        CAST(0 AS BIGINT) AS srlon_u, CAST(0 AS BIGINT) AS srlat_u
      FROM ps p JOIN sn n USING (event_id) ORDER BY p.event_id"""
    }),

    // -- clean-coverage merge-sliver policy, all four reference strategies
    // (gdalalg_vector_clean_coverage.cpp:38-42 → GEOS_MERGE_*): a chain of
    // rectangles with deterministic 0.1°-wide overlap slivers and
    // decorrelated heights/areas (so longest-border ≠ max-area on some
    // pairs); output = each unit's area under each strategy. Oracle
    // recomputes the winner logic closed-form per pair.
    ("g44_merge_sliver", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val fixture = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").cast("long").as("id"))
        .withColumn("w", expr("(10.0 + CAST((id * 7) % 13 AS DOUBLE)) / 10.0"))
        .withColumn("h", expr("(5.0 + CAST((id * 3) % 11 AS DOUBLE)) / 10.0"))
        .withColumn("x", expr(
          "-80.0 + COALESCE(SUM(w) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)"))
        .select(col("id"), col("w"), col("h"), col("x"))
        .as[(Long, Double, Double, Double)]
        .map { case (id, w, h, x) =>
          val xr = x + w + 0.1
          (id, graft.geom.Wkb.write(graft.geom.Polygon(
            Array(Array(x, 0.0, xr, 0.0, xr, h, x, h, x, 0.0)))))
        }.toDF("id", "wkb").cache()
      def areaUnder(strategy: String, out: String): DataFrame =
        engine.Coverage.resolveOverlaps(fixture, strategy, z = 4)
          .select(col("id"),
            expr("CAST(floor(st_area(wkb) * 1000000.0 + 0.5) AS BIGINT)").as(out))
      areaUnder("min-index", "a_minidx_u")
        .join(areaUnder("max-area", "a_maxarea_u"), "id")
        .join(areaUnder("min-area", "a_minarea_u"), "id")
        .join(areaUnder("longest-border", "a_border_u"), "id")
        .orderBy("id")
    }, Some("""
      WITH k AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 40),
      f AS (SELECT id,
          (10.0 + CAST((id * 7) % 13 AS DOUBLE)) / 10.0 AS w,
          (5.0 + CAST((id * 3) % 11 AS DOUBLE)) / 10.0 AS h FROM k),
      a AS (SELECT id, w, h, (w + 0.1) * h AS area,
          lead(h) OVER (ORDER BY id) AS hn, lead(w) OVER (ORDER BY id) AS wn
        FROM f),
      p AS (SELECT id, area, h, hn,
          CASE WHEN hn IS NULL THEN NULL ELSE 0.1 * least(h, hn) END AS o_next,
          CASE WHEN hn IS NULL THEN NULL ELSE (wn + 0.1) * hn END AS area_next
        FROM a),
      q AS (SELECT id, area, h, hn, o_next, area_next,
          lag(o_next) OVER (ORDER BY id) AS o_prev,
          lag(area) OVER (ORDER BY id) AS area_prev,
          lag(h) OVER (ORDER BY id) AS h_prev
        FROM p)
      SELECT id,
        CAST(floor((area - COALESCE(o_prev, 0.0)) * 1000000.0 + 0.5) AS BIGINT) AS a_minidx_u,
        CAST(floor((area
          - CASE WHEN area_next > area THEN o_next ELSE 0.0 END
          - CASE WHEN area_prev >= area THEN o_prev ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) AS a_maxarea_u,
        CAST(floor((area
          - CASE WHEN area_next IS NOT NULL AND area > area_next THEN o_next ELSE 0.0 END
          - CASE WHEN area_prev IS NOT NULL AND area_prev <= area THEN o_prev ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) AS a_minarea_u,
        CAST(floor((area
          - CASE WHEN hn IS NOT NULL AND hn > h THEN o_next ELSE 0.0 END
          - CASE WHEN h_prev IS NOT NULL AND h_prev > h THEN o_prev ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) AS a_border_u
      FROM q ORDER BY id""")),

    // -- zonal stats, FULL reference stat list (gdalalg_raster_zonal_stats
    // .cpp:67-72: count/sum/min/max in r03; here mean, median, mode,
    // minority, variety, stdev, variance, weighted mean/sum, center_x/y,
    // max_center_x). Determinism scheme: value → exact integer cents, all
    // moments from exact integer sums (s1, s2, weighted) so both engines
    // floor the SAME double; mode/minority tie-break to smallest bucket;
    // argmax tie-break to smallest event_id.
    ("r34_zonal_full", (s, dir) => {
      val pts = t(s, dir, "events")
        .select(col("event_id"), col("value"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val j = engine.SpatialJoin.pipJoin(pts, Queries.fixturePolyDf(s), z = 3)
        .withColumn("c", expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
        .withColumn("wi", expr("CAST(event_id % 7 + 1 AS BIGINT)"))
        .withColumn("b", expr("CAST(floor(value) AS BIGINT)"))
        .cache()
      val counts = j.groupBy("poly_id", "b").agg(count(lit(1)).as("n"))
      val modes = counts.groupBy("poly_id").agg(
        expr("max_by(b, struct(n, -b))").as("mode_b"),
        expr("min_by(b, struct(n, b))").as("minority_b"),
        count(lit(1)).as("variety"))
      val stats = j.groupBy("poly_id").agg(
        count(lit(1)).as("n"),
        sum("c").as("s1"), sum(expr("c * c")).as("s2"),
        sum("wi").as("sw"), sum(expr("c * wi")).as("swc"),
        expr("percentile(c, 0.5D)").as("med"),
        avg("lon").as("cx"), avg("lat").as("cy"),
        expr("max_by(lon, struct(c, -event_id))").as("mx"))
      stats.join(modes, "poly_id")
        .select(col("poly_id"),
          expr("CAST(floor(CAST(s1 AS DOUBLE) * 100.0 / n + 0.5) AS BIGINT)").as("mean_u"),
          expr("CAST(floor(med * 2.0 + 0.5) AS BIGINT)").as("median_d"),
          expr("CAST(floor((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 100.0 + 0.5) AS BIGINT)").as("var_c"),
          expr("CAST(floor(sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) * 100.0 + 0.5) AS BIGINT)").as("stdev_u"),
          expr("CAST(floor(CAST(swc AS DOUBLE) * 100.0 / CAST(sw AS DOUBLE) + 0.5) AS BIGINT)").as("wmean_u"),
          col("swc").as("wsum_c"),
          expr("CAST(floor(cx * 1000000.0 + 0.5) AS BIGINT)").as("centerx_u"),
          expr("CAST(floor(cy * 1000000.0 + 0.5) AS BIGINT)").as("centery_u"),
          expr("CAST(floor(mx * 1000000.0 + 0.5) AS BIGINT)").as("maxcx_u"),
          col("mode_b"), col("minority_b"), col("variety"))
        .orderBy("poly_id")
    }, Some {
      val arms = polygons.map { case (id, _, _) =>
        s"SELECT event_id, value, lon, lat, '$id' AS poly_id FROM pts WHERE ${insidePolySql(id, "lon", "lat")}"
      }
      s"""WITH pts AS (SELECT event_id, value, ${lonOf("event_id")} AS lon,
            ${latOf("event_id")} AS lat FROM events),
      jj AS (${arms.mkString(" UNION ALL ")}),
      e AS (SELECT poly_id, event_id, lon, lat,
            CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
            CAST(event_id % 7 + 1 AS BIGINT) AS wi,
            CAST(floor(value) AS BIGINT) AS b FROM jj),
      cnt AS (SELECT poly_id, b, count(*) AS n FROM e GROUP BY 1, 2),
      mdr AS (SELECT poly_id, b, n,
            row_number() OVER (PARTITION BY poly_id ORDER BY n DESC, b ASC) AS rmode,
            row_number() OVER (PARTITION BY poly_id ORDER BY n ASC, b ASC) AS rmin
          FROM cnt),
      md AS (SELECT poly_id,
            max(CASE WHEN rmode = 1 THEN b END) AS mode_b,
            max(CASE WHEN rmin = 1 THEN b END) AS minority_b,
            CAST(count(*) AS BIGINT) AS variety FROM mdr GROUP BY 1),
      er AS (SELECT poly_id, lon,
            row_number() OVER (PARTITION BY poly_id ORDER BY c DESC, event_id ASC) AS rmx
          FROM e),
      mxs AS (SELECT poly_id, max(CASE WHEN rmx = 1 THEN lon END) AS mx FROM er GROUP BY 1),
      st AS (SELECT e.poly_id, count(*) AS n, sum(c) AS s1, sum(c * c) AS s2,
            sum(wi) AS sw, sum(c * wi) AS swc,
            quantile_cont(c, 0.5) AS med, avg(lon) AS cx, avg(lat) AS cy
          FROM e GROUP BY 1)
      SELECT poly_id,
        CAST(floor(CAST(s1 AS DOUBLE) * 100.0 / n + 0.5) AS BIGINT) AS mean_u,
        CAST(floor(med * 2.0 + 0.5) AS BIGINT) AS median_d,
        CAST(floor((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 100.0 + 0.5) AS BIGINT) AS var_c,
        CAST(floor(sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) * 100.0 + 0.5) AS BIGINT) AS stdev_u,
        CAST(floor(CAST(swc AS DOUBLE) * 100.0 / CAST(sw AS DOUBLE) + 0.5) AS BIGINT) AS wmean_u,
        CAST(swc AS BIGINT) AS wsum_c,
        CAST(floor(cx * 1000000.0 + 0.5) AS BIGINT) AS centerx_u,
        CAST(floor(cy * 1000000.0 + 0.5) AS BIGINT) AS centery_u,
        CAST(floor(mx * 1000000.0 + 0.5) AS BIGINT) AS maxcx_u,
        mode_b, minority_b, variety
      FROM st JOIN md USING (poly_id) JOIN mxs USING (poly_id) ORDER BY poly_id"""
    }),

    // -- gdaldem algorithm variants (-alg ZevenbergenThorne, -combined,
    // -multidirectional, -igor, slope -p): seven kernels over ONE halo
    // exchange (focal3x3Multi), checksummed per tile; the oracle recomputes
    // every 3x3 window in closed form with the identical double arithmetic
    // (gdaldem_lib.cpp:783-1478 formulas, unit north-up grid).
    ("r35_dem_shade", (s, dir) => {
      val sp = s
      import sp.implicits._
      val z = 2
      val base = engine.Raster.syntheticTiles(s, z) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val kernels: Seq[Array[Double] => Double] = Seq(
        engine.Focal.hillshadeAlgWindow(zt = true),
        engine.Focal.hillshadeCombinedWindow(),
        engine.Focal.hillshadeMultiWindow(),
        engine.Focal.hillshadeIgorWindow(),
        engine.Focal.slopePercentWindow _,
        engine.Focal.slopeZTWindow _,
        engine.Focal.aspectZTWindow())
      engine.Focal.focal3x3Multi(base, kernels)
        .map { case (k, ti) => (ti.x.toLong, ti.y.toLong, k,
          engine.Raster.checksum(ti.pixels, ti.w, ti.h).toLong) }
        .toDF("x", "y", "k", "cks")
        .groupBy("x", "y")
        .agg(max(when(col("k") === 0, col("cks"))).as("cks_hs_zt"),
          max(when(col("k") === 1, col("cks"))).as("cks_hs_comb"),
          max(when(col("k") === 2, col("cks"))).as("cks_hs_multi"),
          max(when(col("k") === 3, col("cks"))).as("cks_hs_igor"),
          max(when(col("k") === 4, col("cks"))).as("cks_slope_pct"),
          max(when(col("k") === 5, col("cks"))).as("cks_slope_zt"),
          max(when(col("k") === 6, col("cks"))).as("cks_aspect_zt"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_hs_zt", "cks_hs_comb", "cks_hs_multi",
          "cks_hs_igor", "cks_slope_pct", "cks_slope_zt", "cks_aspect_zt")
        .orderBy("x", "y")
    }, Some {
      val maxG = 4 * 256 - 1
      def fAt(dx: Int, dy: Int) =
        s"CAST(((gx + ($dx)) * 7919 + (gy + ($dy)) * 104729) % 9973 AS DOUBLE)"
      // shared trig constants, written exactly as the Scala side computes
      // them (45*(pi/180) etc.) so both engines evaluate the same doubles
      val sa = "sin(45.0 * (pi() / 180.0))"   // sin(alt)
      val ca = "cos(45.0 * (pi() / 180.0))"   // cos(alt)
      val c315 = "cos(315.0 * (pi() / 180.0))"
      val s315 = "sin(315.0 * (pi() / 180.0))"
      // k0: ZT standard hillshade (zf = 1/2)
      val num0 = s"($sa - (zy * $c315 * ($ca * 0.5) - zx * $s315 * ($ca * 0.5)))"
      val cang0 = s"($num0 / sqrt(1.0 + 0.25 * (zx * zx + zy * zy)))"
      val v0 = s"(CASE WHEN 254.0 * $cang0 <= 0.0 THEN 1.0 ELSE 1.0 + 254.0 * $cang0 END)"
      // k1: combined shading, Horn (zf = 1/8)
      val slope1 = "((hx * hx + hy * hy) * 0.125 * 0.125)"
      val num1 = s"($sa - (hy * $c315 * ($ca * 0.125) - hx * $s315 * ($ca * 0.125)))"
      val arg1 = s"least(greatest($num1 / sqrt(1.0 + $slope1), -1.0), 1.0)"
      val cang1 = s"(1.0 - acos($arg1) * atan(sqrt($slope1)) * (4.0 / (pi() * pi())))"
      val v1 = s"(CASE WHEN $cang1 <= 0.0 THEN 1.0 ELSE 1.0 + 254.0 * $cang1 END)"
      // k2: multidirectional (USGS OF 92-422 weights), Horn
      val caz = s"($ca * 0.125)"
      val c225 = s"(cos(225.0 * (pi() / 180.0)) * $caz)"
      val xxyy2 = "(hx * hx + hy * hy)"
      val v225 = s"greatest(0.0, $sa + (hx - hy) * $c225)"
      val v270 = s"greatest(0.0, $sa - hx * $caz)"
      val v315 = s"greatest(0.0, $sa + (hx + hy) * $c225)"
      val v360 = s"greatest(0.0, $sa - hy * $caz)"
      val w225 = s"(0.5 * $xxyy2 - hx * hy)"
      val wsum = s"($w225 * $v225 + hx * hx * $v270 + ($xxyy2 - $w225) * $v315 + hy * hy * $v360)"
      val v2 = s"(CASE WHEN $xxyy2 = 0.0 THEN 1.0 + 254.0 * $sa " +
        s"ELSE 1.0 + 127.0 * ($wsum / $xxyy2) / sqrt(1.0 + 0.015625 * $xxyy2) END)"
      // k3: Igor shading, Horn gradient
      val sd3 = "(atan(sqrt(hx * hx + hy * hy) * 0.125) * 180.0 / pi())"
      val asp3 = "atan2(-hy, hx)"
      val tgt3 = "(pi() * 1.5 - 315.0 * (pi() / 180.0))"
      def norm(e: String) =
        s"(CASE WHEN ($e % (2.0 * pi())) < 0.0 THEN $e % (2.0 * pi()) + 2.0 * pi() ELSE $e % (2.0 * pi()) END)"
      val df0 = s"abs(${norm(asp3)} - ${norm(tgt3)})"
      val df3 = s"(CASE WHEN $df0 > pi() THEN 2.0 * pi() - $df0 ELSE $df0 END)"
      val v3 = s"(255.0 * (1.0 - ($sd3 / 90.0) * (1.0 - $df3 / pi())))"
      // k4: Horn slope as percent; k5: ZT slope degrees
      val v4 = "((100.0 / 8.0) * sqrt(hx * hx + hy * hy))"
      val v5 = "(atan(sqrt(zx * zx + zy * zy) * 0.5) * 180.0 / pi())"
      // k6: ZT aspect azimuth with flat nodata
      val a6 = "(atan2(ady, -adx) * 180.0 / pi())"
      val az6 = s"(CASE WHEN $a6 > 90.0 THEN 450.0 - $a6 ELSE 90.0 - $a6 END)"
      val v6 = s"(CASE WHEN adx = 0.0 AND ady = 0.0 THEN -9999.0 " +
        s"WHEN $az6 = 360.0 THEN 0.0 ELSE $az6 END)"
      val border = s"gx = 0 OR gy = 0 OR gx = $maxG OR gy = $maxG"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          win AS (SELECT gx, gy,
            ${fAt(-1, -1)} AS wa, ${fAt(0, -1)} AS wb, ${fAt(1, -1)} AS wc,
            ${fAt(-1, 0)} AS wd, ${fAt(1, 0)} AS wf,
            ${fAt(-1, 1)} AS wg, ${fAt(0, 1)} AS wh, ${fAt(1, 1)} AS wi
            FROM px),
          grad AS (SELECT gx, gy,
            ((wa + 2.0 * wd + wg) - (wc + 2.0 * wf + wi)) AS hx,
            ((wa + 2.0 * wb + wc) - (wg + 2.0 * wh + wi)) AS hy,
            (wd - wf) AS zx, (wb - wh) AS zy,
            (wf - wd) AS adx, (wh - wb) AS ady FROM win),
          v AS (SELECT gx, gy,
            CASE WHEN $border THEN 0.0 ELSE $v0 END AS p0,
            CASE WHEN $border THEN 0.0 ELSE $v1 END AS p1,
            CASE WHEN $border THEN 0.0 ELSE $v2 END AS p2,
            CASE WHEN $border THEN 0.0 ELSE $v3 END AS p3,
            CASE WHEN $border THEN 0.0 ELSE $v4 END AS p4,
            CASE WHEN $border THEN 0.0 ELSE $v5 END AS p5,
            CASE WHEN $border THEN 0.0 ELSE $v6 END AS p6 FROM grad),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("p0")} AS i0, ${toInt("p1")} AS i1, ${toInt("p2")} AS i2,
            ${toInt("p3")} AS i3, ${toInt("p4")} AS i4, ${toInt("p5")} AS i5,
            ${toInt("p6")} AS i6 FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("i0")} AS cks_hs_zt, ${cksCol("i1")} AS cks_hs_comb,
            ${cksCol("i2")} AS cks_hs_multi, ${cksCol("i3")} AS cks_hs_igor,
            ${cksCol("i4")} AS cks_slope_pct, ${cksCol("i5")} AS cks_slope_zt,
            ${cksCol("i6")} AS cks_aspect_zt
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdal_rasterize polygon burn (scanline fill, llrasterize.cpp:58):
    // attribute burn values, MERGE_ALG=ADD vs REPLACE (feature order), edge
    // clipping — checksummed per touched tile; the oracle recomputes the
    // pixel-center-inside rule per triangle in closed form (half-plane sign
    // tests) and both merge algebras in SQL.
    ("r36_rasterize_poly", (s, dir) => {
      val sp = s
      import sp.implicits._
      prep(s)
      val z = 2
      val df = r36Tris.map { case (fid, x1, y1, x2, y2, x3, y3, burn) =>
        (fid, s"POLYGON (($x1 $y1, $x2 $y2, $x3 $y3, $x1 $y1))", burn)
      }.toDF("fid", "wkt", "burn")
        .withColumn("wkb", graft.functions.gf.st_geomfromtext(col("wkt"))).drop("wkt")
      val addR = engine.Rasterize.burnPolygons(df, z, add = true)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks_add")
      val repR = engine.Rasterize.burnPolygons(df, z, add = false)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks_rep")
      addR.join(repR, Seq("x", "y"))
        .withColumn("z", lit(z).cast("long"))
        .select("z", "x", "y", "cks_add", "cks_rep")
        .orderBy("x", "y")
    }, Some {
      def d(v: Double): String = "CAST(%.4f AS DOUBLE)".formatLocal(java.util.Locale.ROOT, v)
      val rows = r36Tris.map { case (fid, x1, y1, x2, y2, x3, y3, burn) =>
        s"($fid, ${d(x1)}, ${d(y1)}, ${d(x2)}, ${d(y2)}, ${d(x3)}, ${d(y3)}, ${d(burn)})"
      }.mkString(", ")
      val cx = "(gx + 0.5)"; val cy = "(gy + 0.5)"
      val s1 = s"((x2 - x1) * ($cy - y1) - (y2 - y1) * ($cx - x1))"
      val s2 = s"((x3 - x2) * ($cy - y2) - (y3 - y2) * ($cx - x2))"
      val s3 = s"((x1 - x3) * ($cy - y3) - (y1 - y3) * ($cx - x3))"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
          t(fid, x1, y1, x2, y2, x3, y3, burn) AS (VALUES $rows),
          hit AS (SELECT gx, gy, fid, burn FROM px CROSS JOIN t
            WHERE ($s1 > 0.0 AND $s2 > 0.0 AND $s3 > 0.0)
               OR ($s1 < 0.0 AND $s2 < 0.0 AND $s3 < 0.0)),
          tiles AS (SELECT DISTINCT gx >> 8 AS tx, gy >> 8 AS ty FROM hit),
          apx AS (SELECT gx, gy, sum(burn) AS vadd, arg_max(burn, fid) AS vrep
            FROM hit GROUP BY 1, 2),
          vals AS (SELECT p.gx AS gx, p.gy AS gy,
              coalesce(a.vadd, 0.0) AS vadd, coalesce(a.vrep, 0.0) AS vrep
            FROM px p JOIN tiles ON p.gx >> 8 = tiles.tx AND p.gy >> 8 = tiles.ty
            LEFT JOIN apx a ON a.gx = p.gx AND a.gy = p.gy),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy,
            ${toInt("vadd")} AS ia, ${toInt("vrep")} AS ir FROM vals)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y,
            ${cksCol("ia")} AS cks_add, ${cksCol("ir")} AS cks_rep
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- clean-coverage maximum-gap-width (gdalalg_vector_clean_coverage
    // .cpp:44): 12 frame units each enclosing a rectangular slot of width
    // g ∈ {0.2, 0.55, 0.9, 1.4}; maxWidth=1.0 closes the first three into
    // the longest-border neighbor (the 20-long top rectangle — bottom is
    // split 18+2 so the winner is untied). Oracle: closed-form post-close
    // areas. The ×1024 + 0.123456 quantizer keeps every expected value
    // ≥0.07 away from a rounding boundary, so shoelace-vs-formula fp noise
    // can never flip a bin.
    ("g45_close_gaps", (s, dir) => {
      prep(s)
      val sp = s
      import sp.implicits._
      val units = t(s, dir, "documents").where(col("doc_id") < 12)
        .select(col("doc_id").cast("long").as("u"))
        .as[Long].flatMap { u =>
          val x0 = -80.0 + (u % 6) * 26.0
          val y00 = (u / 6) * 30.0
          val g = Seq(0.2, 0.55, 0.9, 1.4)((u % 4).toInt)
          val yt = y00 + 10.0 - g / 2.0; val yb = y00 + 10.0 + g / 2.0
          def rect(id: Long, xa: Double, ya: Double, xb: Double, yb2: Double) =
            (id, graft.geom.Wkb.write(graft.geom.Polygon(Array(
              Array(xa, ya, xb, ya, xb, yb2, xa, yb2, xa, ya)))))
          Seq(
            rect(u * 5 + 0, x0, y00, x0 + 20.0, yt),
            rect(u * 5 + 1, x0, yb, x0 + 18.0, y00 + 20.0),
            rect(u * 5 + 2, x0 + 18.0, yb, x0 + 20.0, y00 + 20.0),
            rect(u * 5 + 3, x0 - 2.0, y00, x0, y00 + 20.0),
            rect(u * 5 + 4, x0 + 20.0, y00, x0 + 22.0, y00 + 20.0))
        }.toDF("id", "wkb")
      engine.Coverage.closeGaps(units, maxWidth = 1.0, z = 4)
        .select(col("id"),
          expr("CAST(floor(st_area(wkb) * 1024.0 + 0.123456) AS BIGINT)").as("area_q"))
        .orderBy("id")
    }, Some("""
      WITH k AS (SELECT CAST(doc_id AS BIGINT) AS u FROM documents WHERE doc_id < 12),
      p AS (SELECT u, CASE CAST(u % 4 AS INT)
            WHEN 0 THEN 0.2 WHEN 1 THEN 0.55 WHEN 2 THEN 0.9 ELSE 1.4 END AS g FROM k),
      r AS (
        SELECT u * 5 + 0 AS id,
          CASE WHEN g <= 1.0 THEN 20.0 * (10.0 - g / 2.0) + 20.0 * g
               ELSE 20.0 * (10.0 - g / 2.0) END AS area FROM p
        UNION ALL SELECT u * 5 + 1, 18.0 * (10.0 - g / 2.0) FROM p
        UNION ALL SELECT u * 5 + 2, 2.0 * (10.0 - g / 2.0) FROM p
        UNION ALL SELECT u * 5 + 3, 40.0 FROM p
        UNION ALL SELECT u * 5 + 4, 40.0 FROM p)
      SELECT id, CAST(floor(area * 1024.0 + 0.123456) AS BIGINT) AS area_q
      FROM r ORDER BY id""")),

    // -- gdal_contour -p polygon mode: radial DEM bucketed into interval-5
    // elevation bands, connected band regions labeled (min global pixel
    // idx) with elev_min/elev_max; oracle = the r06 recursive-CTE CCL over
    // the closed-form band value. Every arithmetic step is IEEE-identical
    // on both sides (dyadic /64, then /5 and floor on the same double).
    ("r37_contour_poly", (s, dir) => {
      // 32x32 fixture: the annulus components' recursive-CTE closure in
      // the oracle is O(sum |comp| * diameter) — at 64x64 the big rings
      // cost the oracle minutes; 32x32 keeps identical semantics at
      // seconds (the ENGINE side is size-indifferent: hash-min CC)
      val base = engine.Raster.syntheticTiles(s, 1, tileSize = 16) { (gx, gy) =>
        ((gx - 16.0) * (gx - 16.0) + (gy - 16.0) * (gy - 16.0)) / 16.0
      }
      engine.Contour.contourPolygons(base, interval = 5.0, width = 32)
        .select(col("label"), col("value"), col("size").cast("long").as("size"),
          col("elev_min"), col("elev_max"))
        .orderBy("label")
    }, Some("""
      WITH RECURSIVE px AS (
        SELECT xs.gx AS gx, ys.gy AS gy,
               floor((((xs.gx - 16.0) * (xs.gx - 16.0) + (ys.gy - 16.0) * (ys.gy - 16.0)) / 16.0) / 5.0) AS v,
               ys.gy * 32 + xs.gx AS idx
        FROM (SELECT unnest(generate_series(0, 31)) AS gx) xs
        CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS gy) ys),
      reach(gx, gy, lbl) AS (
        SELECT gx, gy, idx FROM px
        UNION
        SELECT p.gx, p.gy, r.lbl
        FROM reach r
        JOIN px q ON q.gx = r.gx AND q.gy = r.gy
        JOIN px p ON p.v = q.v AND abs(p.gx - q.gx) + abs(p.gy - q.gy) = 1),
      lab AS (SELECT gx, gy, min(lbl) AS label FROM reach GROUP BY gx, gy)
      SELECT l.label, CAST(p.v AS DOUBLE) AS value, count(*) AS size,
             p.v * 5.0 AS elev_min, (p.v + 1.0) * 5.0 AS elev_max
      FROM lab l JOIN px p ON p.gx = l.gx AND p.gy = l.gy
      GROUP BY l.label, p.v ORDER BY l.label""")),

    // -- gdalwarp -srcnodata masking: every 13th hash value marked nodata,
    // 2x downscale; area kernels reduce over the VALID footprint subset
    // only, near propagates the miss, all-invalid dst pixels take the
    // dstnodata convention (0). Oracle: per-pixel valid-subset reductions
    // in closed form.
    ("r38_warp_nodata", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        val v = ((gx * 7919 + gy * 104729) % 9973).toDouble
        if (v % 13.0 == 0.0) -1.0 else v
      }
      val masked = engine.Raster.maskNodata(base, -1.0)
      val aff = engine.Raster.WarpAffine(2.0, 2.0, 0.0, 0.0)
      val kernels = Seq("average", "sum", "rms", "min", "max", "mode", "near")
      engine.Raster.warpAffineMulti(masked, 2, 4, 4, aff, kernels, 2048, 2048)
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
      def raw(dx: Int, dy: Int) =
        s"CAST(((2 * gx + $dx) * 7919 + (2 * gy + $dy) * 104729) % 9973 AS DOUBLE)"
      def valid(dx: Int, dy: Int) = s"(((2 * gx + $dx) * 7919 + (2 * gy + $dy) * 104729) % 9973) % 13 <> 0"
      // scan order of GWKAverageOrMode: iy outer, ix inner
      val cells = Seq((0, 0), (1, 0), (0, 1), (1, 1))
      def vList = cells.map { case (dx, dy) =>
        s"CASE WHEN ${valid(dx, dy)} THEN ${raw(dx, dy)} ELSE NULL END"
      }.mkString("[", ", ", "]")
      val lv = s"list_filter($vList, x -> x IS NOT NULL)"
      val cols = Seq(
        "average" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE list_sum($lv) / len($lv) END)",
        "sum" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE list_sum($lv) END)",
        "rms" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE sqrt(list_sum(list_transform($lv, x -> x * x)) / len($lv)) END)",
        "min" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE list_min($lv) END)",
        "max" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE list_max($lv) END)",
        // hash values are distinct within the footprint -> mode = first
        // valid in scan order (GWKTS_First tie rule)
        "mode" -> s"(CASE WHEN len($lv) = 0 THEN 0.0 ELSE $lv[1] END)",
        // near samples src (2gx+1, 2gy+1); nodata -> 0
        "near" -> s"(CASE WHEN ${valid(1, 1)} THEN ${raw(1, 1)} ELSE 0.0 END)")
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

    // -- gdalwarp -cutline (binary crop): near-kernel 2x downscale, then
    // pixels whose center falls outside the triangle cutline take 0.
    // Oracle: the r16-style near map gated by the half-plane center test.
    ("r39_warp_cutline", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        ((gx * 7919 + gy * 104729) % 9973).toDouble
      }
      val aff = engine.Raster.WarpAffine(2.0, 2.0, 0.0, 0.0)
      val warped = engine.Raster.warpAffine(base, 2, 4, 4, aff, "near", 2048, 2048)
      val cut = graft.geom.Wkb.write(graft.geom.Polygon(Array(Array(
        101.37, 88.21, 903.44, 317.73, 402.18, 929.55, 101.37, 88.21))))
      engine.Raster.cutline(warped, cut)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks")
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      val (x1, y1, x2, y2, x3, y3) = (101.37, 88.21, 903.44, 317.73, 402.18, 929.55)
      val cx = "(gx + 0.5)"; val cy = "(gy + 0.5)"
      val s1 = s"(($x2 - $x1) * ($cy - $y1) - ($y2 - $y1) * ($cx - $x1))"
      val s2 = s"(($x3 - $x2) * ($cy - $y2) - ($y3 - $y2) * ($cx - $x2))"
      val s3 = s"(($x1 - $x3) * ($cy - $y3) - ($y1 - $y3) * ($cx - $x3))"
      val inside = s"(($s1 > 0.0 AND $s2 > 0.0 AND $s3 > 0.0) OR ($s1 < 0.0 AND $s2 < 0.0 AND $s3 < 0.0))"
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, $maxG)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, $maxG)) AS gy) ys),
          v AS (SELECT gx, gy, CASE WHEN $inside
              THEN ((2 * gx + 1) * 7919 + (2 * gy + 1) * 104729) % 9973
              ELSE 0 END AS iv FROM px),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy, iv
            FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y, ${cksCol("iv")} AS cks
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- spherical projection tail (PROJ aeqd/eqc/moll on the +R=a sphere):
    // Azimuthal Equidistant fwd values + round-trip, Equidistant
    // Cylindrical fwd, Mollweide equator fwd (closed form: theta = 0) +
    // full round-trip. Round-trip deltas oracle to literal 0 at micro
    // precision (Newton and the closed inverses converge to ~1e-13 deg).
    ("g46_proj_sph", (s, dir) => {
      prep(s)
      import graft.functions.gf
      // lon = -180 exactly is the antimeridian ambiguity (the inverse wraps
      // to +180 per PROJ adjlon) -- excluded from the round-trip fixture
      val base = Queries.eventPoints(s, dir).where(col("event_id") < 5000)
        .where(col("lon") =!= -180.0)
        .withColumn("pw", gf.st_point(col("lon"), col("lat")))
        .withColumn("pe", gf.st_point(col("lon"), lit(0.0)))
        .withColumn("ga", expr("st_transform_aeqd(pw, 40.0, 10.0)"))
        .withColumn("ge", expr("st_transform_eqc(pw, 30.0)"))
        .withColumn("gm", expr("st_transform_moll(pe, 0.0)"))
        .withColumn("ra", expr(
          "st_transform_aeqd_inv(st_transform_aeqd(pw, 40.0, 10.0), 40.0, 10.0)"))
        .withColumn("rm", expr(
          "st_transform_moll_inv(st_transform_moll(pw, 0.0), 0.0)"))
      base.select(col("event_id"),
          expr("CAST(floor(st_x(ga) * 1000.0 + 0.5) AS BIGINT)").as("ax_mm"),
          expr("CAST(floor(st_y(ga) * 1000.0 + 0.5) AS BIGINT)").as("ay_mm"),
          expr("CAST(floor(st_x(ge) * 1000.0 + 0.5) AS BIGINT)").as("ex_mm"),
          expr("CAST(floor(st_y(ge) * 1000.0 + 0.5) AS BIGINT)").as("ey_mm"),
          expr("CAST(floor(st_x(gm) * 1000.0 + 0.5) AS BIGINT)").as("mx_mm"),
          expr("CAST(floor((st_x(ra) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("arlon_u"),
          expr("CAST(floor((st_y(ra) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("arlat_u"),
          expr("CAST(floor((st_x(rm) - lon) * 1000000.0 + 0.5) AS BIGINT)").as("mrlon_u"),
          expr("CAST(floor((st_y(rm) - lat) * 1000000.0 + 0.5) AS BIGINT)").as("mrlat_u"))
        .orderBy("event_id")
    }, Some {
      val aL = dlit(graft.geom.Conic.A)
      val d2rl = "(pi() / 180.0)"
      s"""WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 5000),
      ptf AS (SELECT * FROM pts WHERE lon <> -180.0),
      cc AS (SELECT event_id, lon, lat,
          lon * $d2rl AS lam, lat * $d2rl AS phi,
          40.0 * $d2rl AS phi0, 10.0 * $d2rl AS lam0 FROM ptf),
      az AS (SELECT event_id, lon, lat, lam, phi, phi0, lam0,
          acos(least(greatest(sin(phi0) * sin(phi) + cos(phi0) * cos(phi) * cos(lam - lam0), -1.0), 1.0)) AS c
          FROM cc),
      kz AS (SELECT *, CASE WHEN c = 0.0 THEN 1.0 ELSE c / sin(c) END AS kp FROM az),
      v AS (SELECT event_id,
          $aL * kp * cos(phi) * sin(lam - lam0) AS ax,
          $aL * kp * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(lam - lam0)) AS ay,
          $aL * (lon * $d2rl) * cos(30.0 * $d2rl) AS ex,
          $aL * (lat * $d2rl) AS ey,
          (2.0 * sqrt(2.0) / pi()) * $aL * (lon * $d2rl - 0.0) * 1.0 AS mx
          FROM kz)
      SELECT event_id,
          CAST(floor(ax * 1000.0 + 0.5) AS BIGINT) AS ax_mm,
          CAST(floor(ay * 1000.0 + 0.5) AS BIGINT) AS ay_mm,
          CAST(floor(ex * 1000.0 + 0.5) AS BIGINT) AS ex_mm,
          CAST(floor(ey * 1000.0 + 0.5) AS BIGINT) AS ey_mm,
          CAST(floor(mx * 1000.0 + 0.5) AS BIGINT) AS mx_mm,
          CAST(0 AS BIGINT) AS arlon_u, CAST(0 AS BIGINT) AS arlat_u,
          CAST(0 AS BIGINT) AS mrlon_u, CAST(0 AS BIGINT) AS mrlat_u
      FROM v ORDER BY event_id"""
    }),

    // -- near-dup CLUSTERING, the canonical-doc dedup output: LSH banding
    // candidates -> trigram-Jaccard refine (>= 0.6, exact integer
    // cross-multiplication so there is no FP threshold ambiguity) -> dup
    // edges -> distributed hash-min connected components -> every clustered
    // doc labeled with its canonical (min) doc_id. The full training-data
    // dedup pipeline in one query; never group-quadratic at any stage.
    ("d09_dedup_clusters", (s, dir) => {
      prep(s)
      import graft.functions.gf
      val (cand, _) = graft.engine.Lsh.candidatePairs(
        graft.engine.Lsh.bandify(Queries.minhashDf(s, dir), nBands = 2),
        maxBucket = Long.MaxValue) // uncapped for oracle parity (see d05)
      val sets = t(s, dir, "documents").where(expr("length(text) >= 3"))
        .select(col("doc_id"),
          array_distinct(gf.text_trigram_codes(col("text"))).as("cd"))
      val edges = cand.join(sets.as("sa"), col("a") === col("sa.doc_id"))
        .select(col("a"), col("b"), col("sa.cd").as("ca"))
        .join(sets.as("sb"), col("b") === col("sb.doc_id"))
        .where(expr("size(array_intersect(ca, sb.cd)) * 1000 >= " +
          "600 * (size(ca) + size(sb.cd) - size(array_intersect(ca, sb.cd)))"))
        .select(col("a").as("src"), col("b").as("dst"))
      engine.GraphOps.connectedComponents(edges)
        .select(col("node").cast("long").as("doc_id"),
          col("comp").cast("long").as("canon"))
        .orderBy("doc_id")
    }, Some {
      val bandArms = (0 until 2).map { b =>
        s"SELECT doc_id, $b AS band, h${4 * b} AS x1, h${4 * b + 1} AS x2, h${4 * b + 2} AS x3, h${4 * b + 3} AS x4 FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH RECURSIVE ${Queries.minhashCte}, bands AS ($bandArms),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r ON l.band = r.band AND l.x1 = r.x1 AND l.x2 = r.x2
              AND l.x3 = r.x3 AND l.x4 = r.x4 AND l.doc_id < r.doc_id),
          sets AS (SELECT doc_id, list_distinct(${trigramCodes("text", duck = true)}) AS cd
            FROM documents WHERE length(text) >= 3),
          p AS (SELECT a, b,
              len(list_filter(sa.cd, x -> list_contains(sb.cd, x))) AS inter,
              len(sa.cd) + len(sb.cd) AS tot
            FROM cand JOIN sets sa ON a = sa.doc_id JOIN sets sb ON b = sb.doc_id),
          e AS (SELECT a, b FROM p WHERE inter * 1000 >= 600 * (tot - inter)),
          und AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
          nodes AS (SELECT DISTINCT x AS node FROM und),
          reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.y, r.lbl FROM reach r JOIN und u ON u.x = r.node),
          cc AS (SELECT node, min(lbl) AS canon FROM reach GROUP BY node)
          SELECT CAST(node AS BIGINT) AS doc_id, CAST(canon AS BIGINT) AS canon
          FROM cc ORDER BY doc_id"""
    }),

    // -- gdalwarp bilinear with srcnodata (GWKBilinearResample4Sample
    // renormalization): valid-weighted accumulate, divisor renormalize,
    // all-invalid -> 0. Scale 1.25 keeps every weight an exact eighth, so
    // engine and oracle arithmetic is dyadic-exact and the checksum cannot
    // sit on a rounding boundary.
    ("r40_warp_bilinear_nodata", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        val v = ((gx * 7919 + gy * 104729) % 9973).toDouble
        if (v % 13.0 == 0.0) -1.0 else v
      }
      val masked = engine.Raster.maskNodata(base, -1.0)
      val aff = engine.Raster.WarpAffine(1.25, 1.25, 0.0, 0.0)
      engine.Raster.warpAffine(masked, 2, 4, 4, aff, "bilinear", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks")
        .orderBy("x", "y")
    }, Some {
      val maxG = 1023
      // sxp = (g + 0.5) * 1.25 - 0.5 (exact eighths); x0 = floor, w = frac
      def raw(cx: String, cy: String) = s"CAST((($cx) * 7919 + ($cy) * 104729) % 9973 AS DOUBLE)"
      def ok(cx: String, cy: String) = s"((($cx) * 7919 + ($cy) * 104729) % 9973) % 13 <> 0"
      val pre = """px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
          m AS (SELECT gx, gy,
            CAST(floor((gx + 0.5) * 1.25 - 0.5) AS BIGINT) AS x0,
            CAST(floor((gy + 0.5) * 1.25 - 0.5) AS BIGINT) AS y0,
            ((gx + 0.5) * 1.25 - 0.5) - floor((gx + 0.5) * 1.25 - 0.5) AS wx,
            ((gy + 0.5) * 1.25 - 0.5) - floor((gy + 0.5) * 1.25 - 0.5) AS wy FROM px)"""
      val (v00, v10) = (raw("x0", "y0"), raw("x0 + 1", "y0"))
      val (v01, v11) = (raw("x0", "y0 + 1"), raw("x0 + 1", "y0 + 1"))
      val (k00, k10) = (ok("x0", "y0"), ok("x0 + 1", "y0"))
      val (k01, k11) = (ok("x0", "y0 + 1"), ok("x0 + 1", "y0 + 1"))
      val fact = s"((1.0 - wy) * ((1.0 - wx) * $v00 + wx * $v10) + wy * ((1.0 - wx) * $v01 + wx * $v11))"
      val acc = s"((CASE WHEN $k00 THEN $v00 * ((1.0 - wx) * (1.0 - wy)) ELSE 0.0 END) + " +
        s"(CASE WHEN $k10 THEN $v10 * (wx * (1.0 - wy)) ELSE 0.0 END) + " +
        s"(CASE WHEN $k01 THEN $v01 * ((1.0 - wx) * wy) ELSE 0.0 END) + " +
        s"(CASE WHEN $k11 THEN $v11 * (wx * wy) ELSE 0.0 END))"
      val div = s"((CASE WHEN $k00 THEN (1.0 - wx) * (1.0 - wy) ELSE 0.0 END) + " +
        s"(CASE WHEN $k10 THEN wx * (1.0 - wy) ELSE 0.0 END) + " +
        s"(CASE WHEN $k01 THEN (1.0 - wx) * wy ELSE 0.0 END) + " +
        s"(CASE WHEN $k11 THEN wx * wy ELSE 0.0 END))"
      val value = s"(CASE WHEN $k00 AND $k10 AND $k01 AND $k11 THEN $fact " +
        s"WHEN $div = 1.0 THEN $acc WHEN $div < 0.00001 THEN 0.0 ELSE $acc / $div END)"
      s"""WITH $pre,
          v AS (SELECT gx, gy, ${toInt(value)} AS iv FROM m),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy, iv
            FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y, ${cksCol("iv")} AS cks
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdalwarp cubic with srcnodata (GWKResample mask semantics,
    // gdalwarpkernel.cpp:4027-4180): nodata pixels drop from both
    // accumulators, result renormalizes by the surviving weight unless it
    // is within 1e-5 of 1; weight < 1e-6 -> dstnodata; windows crossing
    // the source edge keep the out-of-source -> 0 convention. Scale 1.25
    // keeps every Keys weight dyadic-exact.
    ("r41_warp_cubic_nodata", (s, dir) => {
      val sp = s
      import sp.implicits._
      val base = engine.Raster.syntheticTiles(s, 3) { (gx, gy) =>
        val v = ((gx * 7919 + gy * 104729) % 9973).toDouble
        if (v % 13.0 == 0.0) -1.0 else v
      }
      val masked = engine.Raster.maskNodata(base, -1.0)
      val aff = engine.Raster.WarpAffine(1.25, 1.25, 0.0, 0.0)
      engine.Raster.warpAffine(masked, 2, 4, 4, aff, "cubic", 2048, 2048)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks")
        .withColumn("z", lit(2).cast("long"))
        .select("z", "x", "y", "cks")
        .orderBy("x", "y")
    }, Some {
      val maxG2 = 2047
      def w(f: String, i: Int): String = i match {
        case 0 => s"((0.5 * $f) * (-1.0 + $f * (2.0 - $f)))"
        case 1 => s"(1.0 + ((0.5 * $f) * $f) * (-5.0 + 3.0 * $f))"
        case 2 => s"((0.5 * $f) * (1.0 + $f * (4.0 - 3.0 * $f)))"
        case _ => s"(((0.5 * $f) * $f) * (-1.0 + $f))"
      }
      def raw(xe: String, ye: String) = s"CAST((($xe) * 7919 + ($ye) * 104729) % 9973 AS DOUBLE)"
      def ok(xe: String, ye: String) = s"((($xe) * 7919 + ($ye) * 104729) % 9973) % 13 <> 0"
      val acc = (0 until 4).map { j =>
        val row = (0 until 4).map { i =>
          val (xe, ye) = (s"bx + ${i - 1}", s"by + ${j - 1}")
          s"(CASE WHEN ${ok(xe, ye)} THEN ${w("fx", i)} * ${raw(xe, ye)} ELSE 0.0 END)"
        }.mkString(" + ")
        s"${w("fy", j)} * ($row)"
      }.mkString(" + ")
      val wsum = (0 until 4).map { j =>
        val row = (0 until 4).map { i =>
          val (xe, ye) = (s"bx + ${i - 1}", s"by + ${j - 1}")
          s"(CASE WHEN ${ok(xe, ye)} THEN ${w("fx", i)} ELSE 0.0 END)"
        }.mkString(" + ")
        s"${w("fy", j)} * ($row)"
      }.mkString(" + ")
      val value = s"""CASE WHEN bx - 1 < 0 OR by - 1 < 0 OR bx + 2 > $maxG2 OR by + 2 > $maxG2 THEN 0.0
          WHEN ($wsum) < 0.000001 THEN 0.0
          WHEN ($wsum) < 0.99999 OR ($wsum) > 1.00001 THEN ($acc) / ($wsum)
          ELSE ($acc) END"""
      s"""WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
            FROM (SELECT unnest(generate_series(0, 1023)) AS gx) xs
            CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS gy) ys),
          m AS (SELECT gx, gy,
            CAST(floor((gx + 0.5) * 1.25 - 0.5) AS BIGINT) AS bx,
            CAST(floor((gy + 0.5) * 1.25 - 0.5) AS BIGINT) AS by,
            ((gx + 0.5) * 1.25 - 0.5) - floor((gx + 0.5) * 1.25 - 0.5) AS fx,
            ((gy + 0.5) * 1.25 - 0.5) - floor((gy + 0.5) * 1.25 - 0.5) AS fy FROM px),
          v AS (SELECT gx, gy, ${toInt(value)} AS iv FROM m),
          cells AS (SELECT gx >> 8 AS tx, gy >> 8 AS ty, gx % 256 AS cx, gy % 256 AS cy, iv
            FROM v)
          SELECT CAST(2 AS BIGINT) AS z, tx AS x, ty AS y, ${cksCol("iv")} AS cks
          FROM cells GROUP BY 2, 3 ORDER BY x, y"""
    }),

    // -- gdal_grid elliptical search window (radius1/radius2/angle,
    // alg/gdalgrid.cpp:124-160): rotated-ellipse membership, IDW weight on
    // the unrotated distance, minPoints nodata rule. r1=6, r2=3, 30 deg.
    ("g47_grid_ellipse", (s, dir) => {
      val pts = t(s, dir, "events").select(
        col("event_id").as("pid"), col("value"),
        expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val nodes = engine.GridInterp.gridNodes(s, 64, 64, -180.0, 180.0, -85.0, 85.0)
      engine.GridInterp.invdistEllipse(nodes, pts, radius1 = 6.0, radius2 = 3.0,
          angleDeg = 30.0, power = 2.0, smoothing = 0.0, minPoints = 2)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"))
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
            (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) AS r2,
            ((lon - nlon) * cos((30.0 * pi()) / 180.0) + (lat - nlat) * sin((30.0 * pi()) / 180.0)) AS rx,
            ((lat - nlat) * cos((30.0 * pi()) / 180.0) - (lon - nlon) * sin((30.0 * pi()) / 180.0)) AS ry
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 36.0),
      e AS (SELECT * FROM c WHERE 9.0 * rx * rx + 36.0 * ry * ry <= 324.0),
      inv AS (SELECT i, j, count(*) AS n,
            sum(value / r2) / sum(1.0 / r2) AS value
          FROM e GROUP BY i, j)
      SELECT CAST(n.i AS BIGINT) AS i, CAST(n.j AS BIGINT) AS j,
        COALESCE(inv.n, 0) AS n,
        CASE WHEN COALESCE(inv.n, 0) >= 2
             THEN CAST(floor(inv.value * 1000000.0 + 0.5) AS BIGINT) END AS val_micro
      FROM nodes n LEFT JOIN inv ON n.i = inv.i AND n.j = inv.j
      ORDER BY i, j""")),

    // -- gdal_grid data metrics (-a minimum/maximum/range/count/
    // average_distance, alg/gdalgrid.cpp:1024-1171): per-node value
    // extremes + mean node->point distance with the minPoints nodata rule.
    ("g48_grid_metrics", (s, dir) => {
      val pts = t(s, dir, "events").select(
        col("event_id").as("pid"), col("value"),
        expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val nodes = engine.GridInterp.gridNodes(s, 64, 64, -180.0, 180.0, -85.0, 85.0)
      val circ = engine.GridInterp.dataMetrics(nodes, pts, radius = 5.0, minPoints = 2)
      val ell = engine.GridInterp.dataMetricsEllipse(nodes, pts,
          radius1 = 5.0, radius2 = 2.5, angleDeg = 30.0, minPoints = 2)
        .select(col("i"), col("j"), col("cnt").as("cnt_e"),
          expr("CAST(floor(vrange * 100.0 + 0.5) AS BIGINT)").as("vrange_e_c"))
      circ.join(ell, Seq("i", "j"))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"), col("cnt"),
          expr("CAST(floor(vmin * 100.0 + 0.5) AS BIGINT)").as("vmin_c"),
          expr("CAST(floor(vmax * 100.0 + 0.5) AS BIGINT)").as("vmax_c"),
          expr("CAST(floor(vrange * 100.0 + 0.5) AS BIGINT)").as("vrange_c"),
          expr("CAST(floor(avgdist * 1000000.0 + 0.5) AS BIGINT)").as("avgdist_u"),
          col("cnt_e"), col("vrange_e_c"))
        .orderBy("i", "j")
    }, Some(s"""
      WITH nodes AS (SELECT xs.i AS i, ys.j AS j,
            -180.0 + (CAST(xs.i AS DOUBLE) + 0.5) * 5.625 AS nlon,
            -85.0 + (CAST(ys.j AS DOUBLE) + 0.5) * 2.65625 AS nlat
          FROM (SELECT unnest(generate_series(0, 63)) AS i) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) ys),
      pts AS (SELECT event_id AS pid, value, ${lonOf("event_id")} AS lon,
              ${latOf("event_id")} AS lat FROM events),
      c AS (SELECT i, j, value,
            (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) AS r2
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 25.0),
      m AS (SELECT i, j, count(*) AS n, min(value) AS vmin, max(value) AS vmax,
            sum(sqrt(r2)) / count(*) AS avgdist FROM c GROUP BY i, j),
      ce AS (SELECT i, j, value FROM (
          SELECT i, j, value,
            ((lon - nlon) * cos((30.0 * pi()) / 180.0) + (lat - nlat) * sin((30.0 * pi()) / 180.0)) AS rx,
            ((lat - nlat) * cos((30.0 * pi()) / 180.0) - (lon - nlon) * sin((30.0 * pi()) / 180.0)) AS ry
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 25.0)
        WHERE 6.25 * rx * rx + 25.0 * ry * ry <= 156.25),
      me AS (SELECT i, j, count(*) AS n, max(value) - min(value) AS vrange
          FROM ce GROUP BY i, j)
      SELECT CAST(n.i AS BIGINT) AS i, CAST(n.j AS BIGINT) AS j,
        COALESCE(m.n, 0) AS n,
        CASE WHEN COALESCE(m.n, 0) >= 2 THEN m.n END AS cnt,
        CASE WHEN COALESCE(m.n, 0) >= 2
             THEN CAST(floor(m.vmin * 100.0 + 0.5) AS BIGINT) END AS vmin_c,
        CASE WHEN COALESCE(m.n, 0) >= 2
             THEN CAST(floor(m.vmax * 100.0 + 0.5) AS BIGINT) END AS vmax_c,
        CASE WHEN COALESCE(m.n, 0) >= 2
             THEN CAST(floor((m.vmax - m.vmin) * 100.0 + 0.5) AS BIGINT) END AS vrange_c,
        CASE WHEN COALESCE(m.n, 0) >= 2
             THEN CAST(floor(m.avgdist * 1000000.0 + 0.5) AS BIGINT) END AS avgdist_u,
        CASE WHEN COALESCE(me.n, 0) >= 2 THEN me.n END AS cnt_e,
        CASE WHEN COALESCE(me.n, 0) >= 2
             THEN CAST(floor(me.vrange * 100.0 + 0.5) AS BIGINT) END AS vrange_e_c
      FROM nodes n LEFT JOIN m ON n.i = m.i AND n.j = m.j
      LEFT JOIN me ON n.i = me.i AND n.j = me.j
      ORDER BY i, j""")),

    // -- polygonize with ring geometries (alg/polygonize.cpp:455-498 +
    // polygonize_polygonizer.cpp ring assembly): per-tile boundary arcs,
    // distributed CC label merge, per-component ring assembly with holes in
    // canonical form. Fixture: background + rectangle + donut-with-filler +
    // L shape on a 32×32 raster spanning 16 tiles; oracle = the closed-form
    // expected polygons (hand-assembled, verified tiling-invariant in
    // PolygonizeRingsSpec).
    ("r42_polygonize_rings", (s, dir) => {
      val base = engine.Raster.syntheticTiles(s, 2, tileSize = 8) { (gx, gy) =>
        if (gx >= 4 && gx < 12 && gy >= 4 && gy < 10) 1.0
        else if (gx >= 16 && gx < 28 && gy >= 16 && gy < 28) {
          if (gx >= 20 && gx < 24 && gy >= 20 && gy < 24) 3.0 else 2.0
        } else if ((gx >= 2 && gx < 6 && gy >= 20 && gy < 22) ||
                   (gx >= 2 && gx < 4 && gy >= 22 && gy < 26)) 4.0
        else 0.0
      }
      engine.Polygonize.polygons(base, width = 32)
        .select(col("label"), col("value"), col("size").cast("long").as("size"),
          col("wkt"))
        .orderBy("label")
    }, Some("""
      SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(816 AS BIGINT),
         'POLYGON ((0 0,32 0,32 32,0 32,0 0),(2 20,2 26,4 26,4 22,6 22,6 20,2 20),(4 4,4 10,12 10,12 4,4 4),(16 16,16 28,28 28,28 16,16 16))'),
        (CAST(132 AS BIGINT), CAST(1.0 AS DOUBLE), CAST(48 AS BIGINT),
         'POLYGON ((4 4,12 4,12 10,4 10,4 4))'),
        (CAST(528 AS BIGINT), CAST(2.0 AS DOUBLE), CAST(128 AS BIGINT),
         'POLYGON ((16 16,28 16,28 28,16 28,16 16),(20 20,20 24,24 24,24 20,20 20))'),
        (CAST(642 AS BIGINT), CAST(4.0 AS DOUBLE), CAST(16 AS BIGINT),
         'POLYGON ((2 20,6 20,6 22,4 22,4 26,2 26,2 20))'),
        (CAST(660 AS BIGINT), CAST(3.0 AS DOUBLE), CAST(16 AS BIGINT),
         'POLYGON ((20 20,24 20,24 24,20 24,20 20))')
      ) AS t(label, value, size, wkt) ORDER BY label""")),

    // -- ellipsoidal geodesic measures: ST_Length(geom,1) / ST_Area(geom,1)
    // (ogrsqlitesqlfunctions.cpp:630,675 -> ogrlinestring.cpp:3225-3262).
    // Length = fixed-8-iteration Vincenty inverse per segment; area =
    // authalic-sphere polygon area (Snyder 3-11/3-12 + Van Oosterom-
    // Strackee fan). Both closed-form expression trees, so the DuckDB twin
    // evaluates the IDENTICAL arithmetic (8 unrolled iteration CTEs).
    // Geometry goes through WKT concat -> st_geomfromtext -> WKB to
    // exercise the full parse/decode path (Double.toString round-trips).
    ("g49_geodesic", (s, dir) => {
      prep(s)
      t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("event_id"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
        .withColumn("line", expr(
          "st_geomfromtext(concat('LINESTRING(', lon, ' ', lat, ',', lon + 2.0, ' ', lat + 1.5, ')'))"))
        .withColumn("quad", expr(
          "st_geomfromtext(concat('POLYGON((', lon, ' ', lat, ',', lon + 0.25, ' ', lat, ',', " +
            "lon + 0.25, ' ', lat + 0.25, ',', lon, ' ', lat + 0.25, ',', lon, ' ', lat, '))'))"))
        .select(col("event_id"),
          expr("CAST(floor(st_geodesic_length(line) * 1000.0 + 0.5) AS BIGINT)").as("len_mm"),
          expr("CAST(floor(st_geodesic_area(quad) + 0.5) AS BIGINT)").as("area_m2"))
        .orderBy("event_id")
    }, Some {
      import graft.geom.Geodesic
      val fl = dlit(Geodesic.F); val al = dlit(Geodesic.A); val bl = dlit(Geodesic.B)
      val el = dlit(Geodesic.E); val e2l = dlit(Geodesic.E2)
      val qpl = dlit(Geodesic.qPole); val rql = dlit(Geodesic.AuthalicR)
      val d2rl = dlit(math.Pi / 180.0)
      // one Vincenty lambda-relaxation iteration (mirrors Geodesic.vincenty's
      // loop body op-for-op; i{n}h carries the post-iteration state forward)
      def vit(n: Int): String = {
        val prev = if (n == 1) "w0" else s"i${n - 1}h"
        s"""
      i${n}a AS (SELECT event_id, l, su1, cu1, su2, cu2, lam,
                 sin(lam) AS sl, cos(lam) AS cl FROM $prev),
      i${n}b AS (SELECT *, cu2 * sl AS t1, cu1 * su2 - su1 * cu2 * cl AS t2 FROM i${n}a),
      i${n}c AS (SELECT *, sqrt(t1 * t1 + t2 * t2) AS ss,
                 su1 * su2 + cu1 * cu2 * cl AS cs FROM i${n}b),
      i${n}d AS (SELECT *, atan2(ss, cs) AS sig,
                 CASE WHEN ss = 0.0 THEN 0.0 ELSE cu1 * cu2 * sl / ss END AS sa FROM i${n}c),
      i${n}e AS (SELECT *, 1.0 - sa * sa AS c2a FROM i${n}d),
      i${n}f AS (SELECT *, CASE WHEN c2a = 0.0 THEN 0.0
                 ELSE cs - 2.0 * su1 * su2 / c2a END AS c2m FROM i${n}e),
      i${n}g AS (SELECT *, $fl / 16.0 * c2a * (4.0 + $fl * (4.0 - 3.0 * c2a)) AS cc FROM i${n}f),
      i${n}h AS (SELECT event_id, l, su1, cu1, su2, cu2, ss, cs, sig, c2a, c2m,
                 l + (1.0 - cc) * $fl * sa * (sig + cc * ss * (c2m + cc * cs *
                   (-1.0 + 2.0 * c2m * c2m))) AS lam FROM i${n}g)"""
      }
      // authalic q(phi) for a sin(phi) column (Geodesic.qOf)
      def qOf(sn: String): String =
        s"(1.0 - $e2l) * ($sn / (1.0 - $e2l * $sn * $sn) - (1.0 / (2.0 * $el)) * " +
          s"ln((1.0 - $el * $sn) / (1.0 + $el * $sn)))"
      s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 2000),
      v0 AS (SELECT event_id, lon, lat,
             atan((1.0 - $fl) * tan(lat * $d2rl)) AS u1,
             atan((1.0 - $fl) * tan((lat + 1.5) * $d2rl)) AS u2,
             ((lon + 2.0) - lon) * $d2rl AS l FROM pts),
      w0 AS (SELECT event_id, l, sin(u1) AS su1, cos(u1) AS cu1,
             sin(u2) AS su2, cos(u2) AS cu2, l AS lam FROM v0),
      ${(1 to 8).map(vit).mkString(",")},
      fin AS (SELECT event_id, ss, cs, sig, c2m,
              c2a * ($al * $al - $bl * $bl) / ($bl * $bl) AS uu FROM i8g),
      fin2 AS (SELECT *, 1.0 + uu / 16384.0 * (4096.0 + uu * (-768.0 + uu *
               (320.0 - 175.0 * uu))) AS biga,
               uu / 1024.0 * (256.0 + uu * (-128.0 + uu * (74.0 - 47.0 * uu))) AS bigb FROM fin),
      fin3 AS (SELECT event_id, $bl * biga * (sig - bigb * ss * (c2m + bigb / 4.0 *
               (cs * (-1.0 + 2.0 * c2m * c2m) - bigb / 6.0 * c2m *
                (-3.0 + 4.0 * ss * ss) * (-3.0 + 4.0 * c2m * c2m)))) AS dist FROM fin2),
      b0 AS (SELECT event_id, lon * $d2rl AS lo0, (lon + 0.25) * $d2rl AS lo1,
             sin(lat * $d2rl) AS sna, sin((lat + 0.25) * $d2rl) AS snb FROM pts),
      b2 AS (SELECT event_id, lo0, lo1, ${qOf("sna")} AS qa, ${qOf("snb")} AS qb FROM b0),
      b3 AS (SELECT event_id, lo0, lo1,
             asin(greatest(-1.0, least(1.0, qa / $qpl))) AS xa,
             asin(greatest(-1.0, least(1.0, qb / $qpl))) AS xb FROM b2),
      b4 AS (SELECT event_id,
             cos(xa) * cos(lo0) AS x0, cos(xa) * sin(lo0) AS y0, sin(xa) AS z0,
             cos(xa) * cos(lo1) AS x1, cos(xa) * sin(lo1) AS y1, sin(xa) AS z1,
             cos(xb) * cos(lo1) AS x2, cos(xb) * sin(lo1) AS y2, sin(xb) AS z2,
             cos(xb) * cos(lo0) AS x3, cos(xb) * sin(lo0) AS y3, sin(xb) AS z3 FROM b3),
      b5 AS (SELECT event_id,
             2.0 * atan2(x0 * (y1 * z2 - z1 * y2) + y0 * (z1 * x2 - x1 * z2) + z0 * (x1 * y2 - y1 * x2),
                         1.0 + (x0 * x1 + y0 * y1 + z0 * z1) + (x1 * x2 + y1 * y2 + z1 * z2) + (x2 * x0 + y2 * y0 + z2 * z0))
             + 2.0 * atan2(x0 * (y2 * z3 - z2 * y3) + y0 * (z2 * x3 - x2 * z3) + z0 * (x2 * y3 - y2 * x3),
                         1.0 + (x0 * x2 + y0 * y2 + z0 * z2) + (x2 * x3 + y2 * y3 + z2 * z3) + (x3 * x0 + y3 * y0 + z3 * z0)) AS omega
             FROM b4)
      SELECT f.event_id,
             CAST(floor(f.dist * 1000.0 + 0.5) AS BIGINT) AS len_mm,
             CAST(floor(abs(b5.omega) * $rql * $rql + 0.5) AS BIGINT) AS area_m2
      FROM fin3 f JOIN b5 ON f.event_id = b5.event_id ORDER BY f.event_id"""
    }),

    // -- index DDL through the OGR SQL text path: CREATE INDEX ON t USING f
    // / DROP INDEX ON t [USING f] / DROP TABLE / ALTER TABLE RENAME TO
    // (gdaldataset.cpp:6683,6768,6875,7505), replaying ogr_index_test.py's
    // join_t/index_p fixture: the join's six VALUE hits must be IDENTICAL
    // before indexing, with both indexes live, and after rename+drop — an
    // index is a side structure, never a semantic change. *_state rows pin
    // the registry bookkeeping (which fields are indexed, which layers
    // survive DROP TABLE).
    ("q27_ogrsql_index", (s, _) => {
      import s.implicits._
      prep(s)
      val joinT = (0 until 20).map(i => (i.toLong, i, s"Value $i"))
        .toDF("rid", "skey", "value")
      val indexP = Seq(5, 10, 9, 4, 3, 1).zipWithIndex
        .map { case (k, i) => (i.toLong, k) }.toDF("rid", "pkey")
      var ls = Map("join_t" -> Layer(joinT, fid = Some("rid")),
                   "index_p" -> Layer(indexP, fid = Some("rid")))
      def join(phase: String, tn: String): DataFrame =
        OgrSql.execute(s,
          s"SELECT index_p.pkey AS pkey, $tn.value AS val " +
            s"FROM index_p LEFT JOIN $tn ON index_p.pkey = $tn.skey", ls)
          .select(lit(phase).as("phase"), col("pkey").cast("long").as("pkey"),
            col("val"))
      def state(phase: String, key: String): DataFrame = {
        val idx = ls(key).indexed.toSeq.sorted
        Seq((phase, idx.size.toLong, idx.mkString(",")))
          .toDF("phase", "pkey", "val")
      }
      val a = join("a_noidx", "join_t")
      ls = OgrSql.executeDdl(s, "CREATE INDEX ON join_t USING VALUE", ls)
      ls = OgrSql.executeDdl(s, "CREATE INDEX ON join_t USING skey", ls)
      val b = state("b_state", "join_t")
      val c = join("c_indexed", "join_t")
      ls = OgrSql.executeDdl(s, "DROP INDEX ON join_t USING value", ls)
      val d = state("d_state", "join_t")
      ls = OgrSql.executeDdl(s, "DROP INDEX ON join_t", ls)
      val e = state("e_state", "join_t")
      ls = OgrSql.executeDdl(s, "ALTER TABLE join_t RENAME TO join_u", ls)
      val f = join("f_renamed", "join_u")
      ls = OgrSql.executeDdl(s, "DROP TABLE join_u", ls)
      val g = Seq(("g_state", ls.size.toLong, ls.keys.toSeq.sorted.mkString(",")))
        .toDF("phase", "pkey", "val")
      a.unionByName(b).unionByName(c).unionByName(d).unionByName(e)
        .unionByName(f).unionByName(g).orderBy("phase", "pkey")
    }, Some("""
      WITH j AS (SELECT * FROM (VALUES
          (CAST(5 AS BIGINT), 'Value 5'), (CAST(10 AS BIGINT), 'Value 10'),
          (CAST(9 AS BIGINT), 'Value 9'), (CAST(4 AS BIGINT), 'Value 4'),
          (CAST(3 AS BIGINT), 'Value 3'), (CAST(1 AS BIGINT), 'Value 1'))
          AS t(pkey, val))
      SELECT phase, pkey, val FROM (
        SELECT 'a_noidx' AS phase, pkey, val FROM j
        UNION ALL SELECT 'b_state', CAST(2 AS BIGINT), 'skey,value'
        UNION ALL SELECT 'c_indexed', pkey, val FROM j
        UNION ALL SELECT 'd_state', CAST(1 AS BIGINT), 'skey'
        UNION ALL SELECT 'e_state', CAST(0 AS BIGINT), ''
        UNION ALL SELECT 'f_renamed', pkey, val FROM j
        UNION ALL SELECT 'g_state', CAST(1 AS BIGINT), 'index_p'
      ) ORDER BY phase, pkey""")),

    // -- tile sink E2E: PNG files in the z/x/y.png layout + --resume +
    // metadata.json (gdalalg_raster_tile.cpp GenerateTile :667-680, resume
    // stat-and-skip :675, GenerateLeaflet variables :2176). Phase a: full
    // write, every tile read BACK from disk and checksummed (encode→file→
    // decode round-trip). Phase b: delete a deterministic subset, rerun
    // with resume=true — exactly the missing tiles are regenerated. Phase
    // c: post-resume re-read — checksums identical to phase a, so the
    // regenerated bytes decode to the same pixels. Phase m: metadata.json
    // read back and pinned. Oracle recomputes the GDALChecksumImage sums
    // from the closed-form pixel pattern.
    ("u04_tile_sink", (s, _) => {
      import s.implicits._
      prep(s)
      val ts = 64
      def pix(z: Int, x: Int, y: Int): Array[Double] =
        Array.tabulate(ts * ts)(i =>
          (((i % ts) * 7919 + (i / ts) * 104729 + z * 37 + x * 11 + y * 13) % 251).toDouble)
      val tiles = for { z <- 0 to 2; x <- 0 until (1 << z); y <- 0 until (1 << z) }
        yield engine.Tile(z, x, y, 0, ts, ts, pix(z, x, y))
      val out = java.nio.file.Files.createTempDirectory("graft_u04").toString
      val ds = s.createDataset(tiles)
      // phase a: full write, then round-trip checksum from the files
      val w1 = engine.TileSink.writeTiles(ds, out).collect()
      require(w1.length == 21 && w1.forall(_.getBoolean(4)), "full write must write all 21")
      def readBack(phase: String): Seq[(String, Long, Long, Long, Long)] =
        engine.TileSink.readTiles(s, out)
          .map(t => (t.z.toLong, t.x.toLong, t.y.toLong,
            engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
          .collect().toSeq.map { case (z, x, y, c) => (phase, z, x, y, c) }
      val a = readBack("a_full")
      // delete the z0 root + the odd-parity half of z2, then resume
      val conf = s.sparkContext.hadoopConfiguration
      val victims = Seq((0, 0, 0)) ++
        (for { x <- 0 until 4; y <- 0 until 4 if (x + y) % 2 == 1 } yield (2, x, y))
      victims.foreach { case (z, x, y) =>
        val p = new org.apache.hadoop.fs.Path(s"$out/$z/$x/$y.png")
        p.getFileSystem(conf).delete(p, false)
      }
      val w2 = engine.TileSink.writeTiles(ds, out, resume = true).collect()
      val b = w2.filter(_.getBoolean(4)).map(r =>
        ("b_resumed", r.getInt(0).toLong, r.getInt(1).toLong, r.getInt(2).toLong, -1L)).toSeq
      val c = readBack("c_after")
      // phase m: metadata descriptor, read back and flattened
      engine.TileSink.writeMetadata(s, out, "u04", -180.0, -85.0, 180.0, 85.0,
        minZoom = 0, maxZoom = 2, tileSize = ts)
      val md = s.read.option("multiLine", "true").json(s"$out/metadata.json").collect().head
      def num(f: String): Double = md.get(md.fieldIndex(f)) match {
        case l: java.lang.Long => l.toDouble
        case d: java.lang.Double => d
        case o => o.toString.toDouble
      }
      val m = Seq(("m_meta", num("minzoom").toLong, num("maxzoom").toLong,
        num("tile_size").toLong,
        (num("east") - num("west") + num("north") - num("south")).toLong + num("tms").toLong))
      (a ++ b ++ c ++ m).toDF("phase", "z", "x", "y", "cks")
        .orderBy("phase", "z", "x", "y")
    }, Some("""
      WITH tiles AS (
        SELECT z, x.x AS x, y.y AS y
        FROM (SELECT unnest(generate_series(0, 2)) AS z) zz
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS x) x
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS y) y
        WHERE x.x < (1 << z) AND y.y < (1 << z)),
      px AS (SELECT unnest(generate_series(0, 63)) AS p),
      cks AS (
        SELECT t.z, t.x, t.y,
          ((SUM(((i.p * 7919 + j.p * 104729 + t.z * 37 + t.x * 11 + t.y * 13) % 251)
                % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((j.p * 64 + i.p) % 11 AS INT) + 1])
            % 65536) + 65536) % 65536 AS cks
        FROM tiles t CROSS JOIN px i CROSS JOIN px j
        GROUP BY t.z, t.x, t.y),
      victims AS (
        SELECT 0 AS z, 0 AS x, 0 AS y
        UNION ALL
        SELECT 2, x, y FROM (SELECT x.x AS x, y.y AS y
          FROM (SELECT unnest(generate_series(0, 3)) AS x) x
          CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS y) y)
        WHERE (x + y) % 2 = 1)
      SELECT phase, CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x,
             CAST(y AS BIGINT) AS y, CAST(cks AS BIGINT) AS cks FROM (
        SELECT 'a_full' AS phase, z, x, y, cks FROM cks
        UNION ALL SELECT 'b_resumed', z, x, y, -1 FROM victims
        UNION ALL SELECT 'c_after', z, x, y, cks FROM cks
        UNION ALL SELECT 'm_meta', 0, 2, 64, 530
      ) ORDER BY phase, z, x, y""")),

    // -- 7-parameter Helmert datum shift (TOWGS84 / EPSG 9606 position-
    // vector; ogrct.cpp:1788-2122 builds the same cart+helmert PROJ
    // pipeline from the SRS TOWGS84 node). Events treated as OSGB36
    // (Airy 1830) coordinates shifted to WGS84 through the full WKB
    // geometry path; the DuckDB twin evaluates the IDENTICAL arithmetic —
    // geodetic→ECEF, Helmert, then the engine's fixed-6-iteration
    // ECEF→geodetic — so values match at the 1e-7 deg (cm) rounding.
    ("g50_datum_shift", (s, dir) => {
      prep(s)
      t(s, dir, "events").where(col("event_id") < 3000)
        .select(col("event_id"),
          expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
        .withColumn("pt", expr("st_point(lon, lat)"))
        .withColumn("sh", expr(
          "st_towgs84(pt, 6377563.396, 299.3249646, 446.448, -125.157, 542.060, " +
            "0.1502, 0.2470, 0.8421, -20.4894)"))
        .select(col("event_id"),
          expr("CAST(floor(st_x(sh) * 10000000.0 + 0.5) AS BIGINT)").as("lon_e7"),
          expr("CAST(floor(st_y(sh) * 10000000.0 + 0.5) AS BIGINT)").as("lat_e7"))
        .orderBy("event_id")
    }, Some {
      val d2r = dlit(math.Pi / 180.0)
      val as2r = dlit(math.Pi / (180.0 * 3600.0))
      val aA = dlit(graft.geom.Datum.Airy1830.a); val e2A = dlit(graft.geom.Datum.Airy1830.e2)
      val aW = dlit(graft.geom.Datum.WGS84.a); val e2W = dlit(graft.geom.Datum.WGS84.e2)
      // one fixed-point iteration of phi = atan2(z + e2*nu*sin(phi), p)
      def it(n: Int): String = {
        val prev = if (n == 1) "g0" else s"g${n - 1}"
        s"""g$n AS (SELECT event_id, xw, yw, zw, p,
            atan2(zw + $e2W * ($aW / sqrt(1.0 - $e2W * sin(phi) * sin(phi))) * sin(phi), p) AS phi
          FROM $prev)"""
      }
      s"""
      WITH pts AS (SELECT event_id, ${lonOf("event_id")} AS lon,
                   ${latOf("event_id")} AS lat FROM events WHERE event_id < 3000),
      e AS (SELECT event_id,
            ($aA / sqrt(1.0 - $e2A * sin(lat * $d2r) * sin(lat * $d2r)))
              * cos(lat * $d2r) * cos(lon * $d2r) AS x,
            ($aA / sqrt(1.0 - $e2A * sin(lat * $d2r) * sin(lat * $d2r)))
              * cos(lat * $d2r) * sin(lon * $d2r) AS y,
            (($aA / sqrt(1.0 - $e2A * sin(lat * $d2r) * sin(lat * $d2r)))
              * (1.0 - $e2A)) * sin(lat * $d2r) AS z
          FROM pts),
      h AS (SELECT event_id,
            446.448 + (1.0 + (-20.4894) * 1e-6) *
              (x - (0.8421 * $as2r) * y + (0.2470 * $as2r) * z) AS xw,
            (-125.157) + (1.0 + (-20.4894) * 1e-6) *
              ((0.8421 * $as2r) * x + y - (0.1502 * $as2r) * z) AS yw,
            542.060 + (1.0 + (-20.4894) * 1e-6) *
              (-(0.2470 * $as2r) * x + (0.1502 * $as2r) * y + z) AS zw
          FROM e),
      g0 AS (SELECT event_id, xw, yw, zw, sqrt(xw * xw + yw * yw) AS p,
            atan2(zw, sqrt(xw * xw + yw * yw) * (1.0 - $e2W)) AS phi FROM h),
      ${(1 to 6).map(it).mkString(",\n      ")}
      SELECT event_id,
        CAST(floor((atan2(yw, xw) / $d2r) * 10000000.0 + 0.5) AS BIGINT) AS lon_e7,
        CAST(floor((phi / $d2r) * 10000000.0 + 0.5) AS BIGINT) AS lat_e7
      FROM g6 ORDER BY event_id"""
    }),

    // -- Arrow IPC batch export (ogrlayerarrow.cpp GetArrowStream): the
    // events layer exported as per-partition Arrow record-batch streams in
    // executors, then decoded back from the REAL IPC bytes — the values the
    // external consumer would see are what the oracle checks.
    ("m04_arrow_export", (s, dir) => {
      import s.implicits._
      prep(s)
      val df = t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("event_id").cast("long").as("event_id"),
          col("value").cast("double").as("value"),
          expr(lonOf("event_id")).as("lon"))
      val streams = engine.ArrowExport.toIpcStreams(df.repartition(4), batchRows = 128)
        .collect()
      val rows = streams.toSeq.flatMap { case (_, bytes) =>
        val (_, cols) = engine.ArrowExport.readIpc(bytes)
        cols("event_id").indices.map { r =>
          (cols("event_id")(r).asInstanceOf[Long],
           cols("value")(r).asInstanceOf[Double],
           cols("lon")(r).asInstanceOf[Double])
        }
      }
      rows.toDF("event_id", "value", "lon")
        .select(col("event_id"),
          expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("value_c"),
          expr("CAST(floor(lon * 10000000.0 + 0.5) AS BIGINT)").as("lon_e7"))
        .orderBy("event_id")
    }, Some(s"""
      SELECT CAST(event_id AS BIGINT) AS event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_c,
             CAST(floor((${lonOf("event_id")}) * 10000000.0 + 0.5) AS BIGINT) AS lon_e7
      FROM events WHERE event_id < 2000 ORDER BY event_id""")),

    // -- gdal raster as-features (gdalalg_raster_as_features.cpp): raster →
    // one point feature per pixel, global coords + value, with -skip-nodata.
    // Narrow flatMap; gated over the closed-form synthetic raster.
    ("r43_as_features", (s, _) => {
      prep(s)
      val tiles = engine.Raster.syntheticTiles(s, 1, tileSize = 64)((gx, gy) =>
        if ((gx + gy) % 17 == 0) Double.NaN
        else ((gx * 7919 + gy * 104729) % 9973).toDouble)
      engine.Raster.asFeatures(tiles, skipNodata = true)
        .select(col("gx"), col("gy"), col("v").cast("long").as("v"))
        .orderBy("gx", "gy")
    }, Some("""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 127)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS gy) ys)
      SELECT gx, gy, (gx * 7919 + gy * 104729) % 9973 AS v
      FROM px WHERE (gx + gy) % 17 <> 0 ORDER BY gx, gy""")),

    // -- cumulative viewshed (gdal_viewshed -mode cumulative,
    // alg/viewshed/cumulative.cpp): 16 observers on the 64-px grid, counts
    // summed, floor(255/max) scaled. Fixture is closed-form derivable: a
    // full-height wall column at gx=200 with every observer west of it —
    // flat ground (and the wall top) is visible to all 16 observers
    // (count 16 → 255), everything east of the wall is visible to none
    // (0). The occlusion engine itself is pinned by r20 + the brute-sum
    // spec in ViewshedSplitSpec; this gates the grid/rollup/scale E2E.
    ("r44_viewshed_cumulative", (s, _) => {
      val sp = s
      import sp.implicits._
      prep(s)
      val tiles = engine.Raster.syntheticTiles(s, 2, tileSize = 64)((gx, _) =>
        if (gx == 200) 1000.0 else 0.0)
      engine.Viewshed.cumulative(tiles, 4, 4, 64, observerSpacing = 64, observerZ = 5.0)
        .map(t => (t.x.toLong, t.y.toLong,
          engine.Raster.checksum(t.pixels, t.w, t.h).toLong))
        .toDF("x", "y", "cks").orderBy("x", "y")
    }, Some(s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
      cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
          CASE WHEN gx <= 200 THEN 255 ELSE 0 END AS iv FROM px)
      SELECT tx AS x, ty AS y,
        CAST(((sum(iv % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks
      FROM cells GROUP BY 1, 2 ORDER BY x, y""")),

    // -- gdal_viewshed -om ground / -om dem height modes (setOutputNormal,
    // viewshed_executor.cpp:228-245: result = base + max(0, requiredZ −
    // relHeight); base = 0 for ground, raw DEM for dem). Same wall fixture
    // as r20: terrain is y-invariant, so inside the |dx| ≥ |dy| wedge the
    // 2D edge interpolation collapses to the 1D line recursion z(n) =
    // −2n/7 behind the wall, giving the closed form min-height
    // 5 − 2n/7 for n ∈ [8,17] (0 elsewhere; + raw 3 at the wall column in
    // dem mode). Out-of-wedge pixels are masked with a marker like r20. */
    ("r45_viewshed_heights", (s, _) => {
      val sp = s
      import sp.implicits._
      prep(s)
      val tiles = engine.Raster.syntheticTiles(s, 2, tileSize = 64)((gx, _) =>
        if (gx == 135) 3.0 else 0.0)
      def heights(om: Int) =
        engine.Viewshed.viewshedsSplit(tiles, Seq((1L, 128, 128, 5.0)), 4, 4,
            outputMode = om)
          .map { case (_, t) =>
            val out = new Array[Double](t.pixels.length)
            var i = 0
            while (i < out.length) {
              val gx = t.x.toLong * t.w + i % t.w
              val gy = t.y.toLong * t.h + i / t.w
              out(i) = if (math.abs(gx - 128) >= math.abs(gy - 128))
                math.floor(t.pixels(i) * 10000.0 + 0.5) else 77777.0
              i += 1
            }
            (t.x.toLong, t.y.toLong,
              engine.Raster.checksum(out, t.w, t.h).toLong)
          }.toDF("x", "y", "cks")
      val gr = heights(engine.Viewshed.OutGround).withColumnRenamed("cks", "cks_ground")
      val dm = heights(engine.Viewshed.OutDem).withColumnRenamed("cks", "cks_dem")
      gr.join(dm, Seq("x", "y")).orderBy("x", "y")
    }, Some(s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 255)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS gy) ys),
      v AS (SELECT gx, gy,
        CASE WHEN abs(gx - 128) < abs(gy - 128) THEN 77777
             WHEN gx - 128 BETWEEN 8 AND 17
               THEN floor((5.0 - 2.0 * (gx - 128) / 7.0) * 10000.0 + 0.5)
             ELSE 0 END AS gu,
        CASE WHEN abs(gx - 128) < abs(gy - 128) THEN 77777
             WHEN gx = 135 THEN 30000
             WHEN gx - 128 BETWEEN 8 AND 17
               THEN floor((5.0 - 2.0 * (gx - 128) / 7.0) * 10000.0 + 0.5)
             ELSE 0 END AS du FROM px),
      cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
          CAST(gu AS BIGINT) AS gu, CAST(du AS BIGINT) AS du FROM v)
      SELECT tx AS x, ty AS y,
        CAST(((sum(gu % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks_ground,
        CAST(((sum(du % ([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT) AS cks_dem
      FROM cells GROUP BY 1, 2 ORDER BY x, y""")),

    // -- OGR_STYLE feature-style strings (ogr/ogrfeaturestyle.cpp; grammar,
    // quoted values, unit suffixes, GetParamDbl unit conversion,
    // GetRGBFromString). Fixture replays the reference's own test literals
    // (test_ogr.cpp:531 pen, ogr_style.py SYMBOL with a ':' inside the
    // quoted id) plus the unit table corners; the oracle is the
    // hand-computed expected VALUES (px conversions at micro rounding:
    // 2px→2, 5px→5, 12pt→12, 1in→72, 3[mm]→3·72·39.37/1000).
    ("q28_ogr_style", (s, _) => {
      import s.implicits._
      prep(s)
      val styles = Seq(
        (1L, """PEN(w:2px,c:#000000,id:"mapinfo-pen-2,ogr-pen-0")"""),
        (2L, """SYMBOL(id:"http://style1_normal",c:#67452301)"""),
        (3L, """PEN(c:#FF0000,w:5px);BRUSH(fc:#0000FF)"""),
        (4L, """LABEL(f:"Arial",s:12pt,t:"Hello, World",bo:1)"""),
        (5L, """BRUSH(fc:#00FF007F,s:1in)"""),
        (6L, """PEN(w:3)"""))
      styles.toDF("id", "style")
        .select(col("id"),
          expr("st_style_part_count(style)").cast("long").as("cnt"),
          expr("st_style_tool(style, 0)").as("t0"),
          expr("st_style_tool(style, 1)").as("t1"),
          expr("CAST(floor(st_style_param_dbl(style, 0, 'w', 'px') * 1000000.0 + 0.5) AS BIGINT)").as("wpx_u"),
          expr("CAST(floor(st_style_param_dbl(style, 0, 's', 'px') * 1000000.0 + 0.5) AS BIGINT)").as("spx_u"),
          expr("st_style_param(style, 0, 'id')").as("idp"),
          expr("st_style_param(style, 0, 't')").as("tp"),
          expr("st_style_param(style, 0, 'bo')").as("bop"),
          expr("st_style_rgba(st_style_param(style, 0, 'c'))").as("c_rgba"),
          expr("st_style_rgba(st_style_param(style, 0, 'fc'))").as("fc0_rgba"),
          expr("st_style_rgba(st_style_param(style, 1, 'fc'))").as("fc1_rgba"))
        .orderBy("id")
    }, Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'PEN', CAST(NULL AS VARCHAR),
         CAST(2000000 AS BIGINT), CAST(NULL AS BIGINT),
         'mapinfo-pen-2,ogr-pen-0', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
         '0,0,0,255', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'SYMBOL', NULL,
         NULL, NULL, 'http://style1_normal', NULL, NULL,
         '103,69,35,1', NULL, NULL),
        (CAST(3 AS BIGINT), CAST(2 AS BIGINT), 'PEN', 'BRUSH',
         CAST(5000000 AS BIGINT), NULL, NULL, NULL, NULL,
         '255,0,0,255', NULL, '0,0,255,255'),
        (CAST(4 AS BIGINT), CAST(1 AS BIGINT), 'LABEL', NULL,
         NULL, CAST(12000000 AS BIGINT), NULL, 'Hello, World', '1',
         NULL, NULL, NULL),
        (CAST(5 AS BIGINT), CAST(1 AS BIGINT), 'BRUSH', NULL,
         NULL, CAST(72000000 AS BIGINT), NULL, NULL, NULL,
         NULL, '0,255,0,127', NULL),
        (CAST(6 AS BIGINT), CAST(1 AS BIGINT), 'PEN', NULL,
         CAST(8503920 AS BIGINT), NULL, NULL, NULL, NULL,
         NULL, NULL, NULL)
      ) AS t(id, cnt, t0, t1, wpx_u, spx_u, idp, tp, bop, c_rgba, fc0_rgba, fc1_rgba)
      ORDER BY id""")),

    // -- complex pixel functions (pixelfunctions.cpp mod :415, phase :484,
    // cmul :1675) over (re, im) tile pairs — the engine's model for
    // CFloat/CInt bands. Integer-valued synthetic bands; cmul outputs are
    // exact integers, mod/phase gated at micro rounding.
    ("r46_complex_funcs", (s, _) => {
      val sp = s
      import sp.implicits._
      prep(s)
      def band(f: (Long, Long) => Double) =
        engine.Raster.syntheticTiles(s, 1, tileSize = 64)(f)
      val re = band((gx, gy) => ((gx * 7 + gy * 3) % 21 - 10).toDouble)
      val im = band((gx, gy) => ((gx * 5 + gy * 11) % 17 - 8).toDouble)
      val bre = band((gx, gy) => ((gx * 2 + gy * 13) % 19 - 9).toDouble)
      val bim = band((gx, gy) => ((gx * 3 + gy * 7) % 23 - 11).toDouble)
      val mod = engine.PixelFuncs.modC(re, im)
      val ph = engine.PixelFuncs.phaseC(re, im)
      val (cre, cim) = engine.PixelFuncs.cmulC(re, im, bre, bim)
      def cks(ds: org.apache.spark.sql.Dataset[engine.Tile], name: String) =
        ds.map(t => (t.x.toLong, t.y.toLong, engine.Raster.checksum(
          t.pixels.map(v => math.floor(v * 1000000.0 + 0.5)), t.w, t.h).toLong))
          .toDF("x", "y", name)
      cks(mod, "cks_mod").join(cks(ph, "cks_phase"), Seq("x", "y"))
        .join(cks(cre, "cks_cre"), Seq("x", "y"))
        .join(cks(cim, "cks_cim"), Seq("x", "y"))
        .orderBy("x", "y")
    }, Some {
      def cksOf(e: String) = s"CAST(((sum(CAST(floor(($e) * 1000000.0 + 0.5) AS BIGINT) % " +
        s"([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"
      s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 127)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS gy) ys),
      v AS (SELECT gx, gy,
          CAST((gx * 7 + gy * 3) % 21 - 10 AS DOUBLE) AS re,
          CAST((gx * 5 + gy * 11) % 17 - 8 AS DOUBLE) AS im,
          CAST((gx * 2 + gy * 13) % 19 - 9 AS DOUBLE) AS bre,
          CAST((gx * 3 + gy * 7) % 23 - 11 AS DOUBLE) AS bim FROM px),
      cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
          sqrt(re * re + im * im) AS modv, atan2(im, re) AS ph,
          re * bre + im * bim AS cre, bre * im - re * bim AS cim FROM v)
      SELECT tx AS x, ty AS y,
        ${cksOf("modv")} AS cks_mod, ${cksOf("ph")} AS cks_phase,
        ${cksOf("cre")} AS cks_cre, ${cksOf("cim")} AS cks_cim
      FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- Float16 payload codec (GDT_Float16, port/cpl_float.h): decode
    // little-endian half bit patterns (normals, subnormal ulp, max finite,
    // smallest normal, ±, Inf, NaN, a 1/3 rounding case, multi-value
    // payload) to exact doubles; re-encode round-trips bit-exactly except
    // NaN which canonicalizes to 0x7e00. v24 = value·2²⁴ (always integral
    // for halves).
    ("m05_float16", (s, _) => {
      prep(s)
      val df = s.sql("""SELECT * FROM VALUES
        (CAST(1 AS BIGINT), X'003C'), (CAST(2 AS BIGINT), X'00C0'),
        (CAST(3 AS BIGINT), X'FF7B'), (CAST(4 AS BIGINT), X'0100'),
        (CAST(5 AS BIGINT), X'0004'), (CAST(6 AS BIGINT), X'007C'),
        (CAST(7 AS BIGINT), X'5535'), (CAST(8 AS BIGINT), X'017E'),
        (CAST(9 AS BIGINT), X'003C00C0FF7B') AS t(id, payload)""")
      df.select(col("id"),
        expr("CAST(size(st_half_decode(payload)) AS BIGINT)").as("n"),
        expr("""CASE WHEN isnan(st_half_decode(payload)[0]) THEN 'nan'
                WHEN abs(st_half_decode(payload)[0]) = double('Infinity') THEN 'inf'
                ELSE 'fin' END""").as("kind"),
        expr("""CASE WHEN NOT isnan(st_half_decode(payload)[0])
                AND abs(st_half_decode(payload)[0]) <> double('Infinity')
                THEN CAST(floor(st_half_decode(payload)[0] * 16777216.0) AS BIGINT) END""").as("v24"),
        expr("st_half_encode(st_half_decode(payload)) = payload").as("rt"),
        expr("""CASE WHEN size(st_half_decode(payload)) > 2
                THEN CAST(floor(st_half_decode(payload)[2] * 16777216.0) AS BIGINT) END""").as("v24_3"))
        .orderBy("id")
    }, Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(16777216 AS BIGINT), true, CAST(NULL AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(-33554432 AS BIGINT), true, NULL),
        (CAST(3 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(1098974756864 AS BIGINT), true, NULL),
        (CAST(4 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(1 AS BIGINT), true, NULL),
        (CAST(5 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(1024 AS BIGINT), true, NULL),
        (CAST(6 AS BIGINT), CAST(1 AS BIGINT), 'inf', NULL, true, NULL),
        (CAST(7 AS BIGINT), CAST(1 AS BIGINT), 'fin', CAST(5591040 AS BIGINT), true, NULL),
        (CAST(8 AS BIGINT), CAST(1 AS BIGINT), 'nan', NULL, false, NULL),
        (CAST(9 AS BIGINT), CAST(3 AS BIGINT), 'fin', CAST(16777216 AS BIGINT), true,
         CAST(1098974756864 AS BIGINT))
      ) AS t(id, n, kind, v24, rt, v24_3) ORDER BY id""")),

    // -- OGR special fields through the TEXT path: OGR_GEOMETRY /
    // OGR_GEOM_WKT / OGR_GEOM_AREA / OGR_STYLE resolvable by name,
    // filterable (the ogr_sql_test.py "WHERE OGR_GEOMETRY='POLYGON'"
    // pattern), and excluded from `*` (ogrfeaturequery.cpp:38 name list;
    // ogr_gensql special-field columns). Same POINT/POLYGON alternating
    // fixture as g17, now with a per-row PEN style string.
    ("q29_special_fields_sql", (s, dir) => {
      prep(s)
      val base = t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("event_id").as("fid"),
          expr(s"CAST(floor(${lonOf("event_id")}) AS BIGINT)").as("ix"),
          expr(s"CAST(floor(${latOf("event_id")}) AS BIGINT)").as("iy"))
        .withColumn("wkb", expr(
          """st_geomfromtext(CASE WHEN fid % 2 = 0
             THEN concat('POINT (', ix, ' ', iy, ')')
             ELSE concat('POLYGON ((', ix, ' ', iy, ',', ix + 3, ' ', iy, ',',
                         ix + 3, ' ', iy + 2, ',', ix, ' ', iy + 2, ',', ix, ' ', iy, '))')
             END)"""))
        .withColumn("sty", expr("concat('PEN(c:#FF0000,w:', fid % 9 + 1, 'px)')"))
        .drop("ix", "iy")
      val ls = Map("feat" -> Layer(base, fid = Some("fid"),
        geom = Some("wkb"), style = Some("sty")))
      val out = OgrSql.execute(s,
        "SELECT fid, OGR_GEOMETRY AS gt, OGR_GEOM_WKT AS wkt, " +
          "OGR_GEOM_AREA AS area, OGR_STYLE AS style " +
          "FROM feat WHERE OGR_GEOMETRY = 'POLYGON'", ls)
      // `*` must NOT include the special fields (reference contract)
      val star = OgrSql.execute(s, "SELECT * FROM feat", ls)
      require(!star.columns.exists(_.toLowerCase.startsWith("ogr_")),
        s"special fields leaked into *: ${star.columns.mkString(",")}")
      out.select(col("fid"), col("gt"), col("wkt"),
          expr("CAST(floor(area + 0.5) AS BIGINT)").as("area_i"), col("style"))
        .orderBy("fid")
    }, Some(s"""
      WITH b AS (SELECT event_id AS fid,
            CAST(floor(${lonOf("event_id")}) AS BIGINT) AS ix,
            CAST(floor(${latOf("event_id")}) AS BIGINT) AS iy
          FROM events WHERE event_id < 2000)
      SELECT fid, 'POLYGON' AS gt,
        'POLYGON ((' || ix || ' ' || iy || ',' || (ix + 3) || ' ' || iy || ',' ||
          (ix + 3) || ' ' || (iy + 2) || ',' || ix || ' ' || (iy + 2) || ',' ||
          ix || ' ' || iy || '))' AS wkt,
        CAST(6 AS BIGINT) AS area_i,
        'PEN(c:#FF0000,w:' || (fid % 9 + 1) || 'px)' AS style
      FROM b WHERE fid % 2 = 1 ORDER BY fid""")),

    // -- gdal_grid per-quadrant search (min/max_points_per_quadrant;
    // GDALGridInverseDistanceToAPowerNearestNeighborPerQuadrant,
    // alg/gdalgrid.cpp:351-480): per-quadrant nearest-4 sets, nodata when
    // any quadrant is empty. With no global cap the round-robin interleave
    // reduces to per-quadrant top-k, so the oracle is a plain window rank.
    ("g51_grid_quadrant", (s, dir) => {
      val pts = t(s, dir, "events").select(
        col("event_id").as("pid"), col("value"),
        expr(lonOf("event_id")).as("lon"), expr(latOf("event_id")).as("lat"))
      val nodes = engine.GridInterp.gridNodes(s, 64, 64, -180.0, 180.0, -85.0, 85.0)
      engine.GridInterp.invdistPerQuadrant(nodes, pts, radius = 5.0,
          power = 2.0, smoothing = 0.0, minPoints = 0,
          minPerQuadrant = 1, maxPerQuadrant = 4)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("val_micro"))
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
            (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) AS r2,
            (CASE WHEN lon - nlon >= 0 THEN 1 ELSE 0 END +
             CASE WHEN lat - nlat >= 0 THEN 2 ELSE 0 END) AS quad
          FROM nodes JOIN pts
          ON (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat) <= 25.0),
      k AS (SELECT * FROM (SELECT c.*,
            row_number() OVER (PARTITION BY i, j, quad ORDER BY r2, pid) AS qrk
          FROM c) WHERE qrk <= 4),
      m AS (SELECT i, j, count(*) AS n,
            sum(value / r2) / sum(1.0 / r2) AS value,
            count(CASE WHEN quad = 0 THEN 1 END) AS n0,
            count(CASE WHEN quad = 1 THEN 1 END) AS n1,
            count(CASE WHEN quad = 2 THEN 1 END) AS n2,
            count(CASE WHEN quad = 3 THEN 1 END) AS n3
          FROM k GROUP BY i, j)
      SELECT CAST(n.i AS BIGINT) AS i, CAST(n.j AS BIGINT) AS j,
        COALESCE(m.n, 0) AS n,
        CASE WHEN m.n0 >= 1 AND m.n1 >= 1 AND m.n2 >= 1 AND m.n3 >= 1
             THEN CAST(floor(m.value * 1000000.0 + 0.5) AS BIGINT) END AS val_micro
      FROM nodes n LEFT JOIN m ON n.i = m.i AND n.j = m.j
      ORDER BY i, j""")),

    // -- gdal raster calc expression strings (gdalalg_raster_calc.cpp,
    // muparser dialect): the autotest's "(A+B) / (A - B + 3)" shape plus a
    // function/power mix, parsed and evaluated per pixel. Oracle writes the
    // SAME expressions (same precedence/associativity → identical fp op
    // order), micro-rounded and checksummed per tile.
    ("r47_raster_calc", (s, _) => {
      val sp = s
      import sp.implicits._
      prep(s)
      def band(f: (Long, Long) => Double) =
        engine.Raster.syntheticTiles(s, 1, tileSize = 64)(f)
      val a = band((gx, gy) => ((gx * 3 + gy * 5) % 50 + 1).toDouble)
      val b = band((gx, gy) => ((gx * 7 + gy * 2) % 40 + 2).toDouble)
      val c = band((gx, gy) => ((gx + gy) % 30 + 3).toDouble)
      val named = Seq("A" -> a, "B" -> b, "C" -> c)
      val f1 = engine.CalcExpr.calc(named, "(A + B) / (A - B + 100)")
      val f2 = engine.CalcExpr.calc(named,
        "sqrt(abs(A - B)) + max(A, B, C) * 0.5 + A ^ 2 / 100")
      def cks(ds: org.apache.spark.sql.Dataset[engine.Tile], name: String) =
        ds.map(t => (t.x.toLong, t.y.toLong, engine.Raster.checksum(
          t.pixels.map(v => math.floor(v * 1000000.0 + 0.5)), t.w, t.h).toLong))
          .toDF("x", "y", name)
      cks(f1, "cks_f1").join(cks(f2, "cks_f2"), Seq("x", "y")).orderBy("x", "y")
    }, Some {
      def cksOf(e: String) = s"CAST(((sum(CAST(floor(($e) * 1000000.0 + 0.5) AS BIGINT) % " +
        s"([7,11,13,17,19,23,29,31,37,41,43])[CAST((cy * 64 + cx) % 11 AS INT) + 1]) % 65536) + 65536) % 65536 AS BIGINT)"
      s"""
      WITH px AS (SELECT xs.gx AS gx, ys.gy AS gy
          FROM (SELECT unnest(generate_series(0, 127)) AS gx) xs
          CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS gy) ys),
      v AS (SELECT gx, gy,
          CAST((gx * 3 + gy * 5) % 50 + 1 AS DOUBLE) AS a,
          CAST((gx * 7 + gy * 2) % 40 + 2 AS DOUBLE) AS b,
          CAST((gx + gy) % 30 + 3 AS DOUBLE) AS c FROM px),
      cells AS (SELECT gx >> 6 AS tx, gy >> 6 AS ty, gx % 64 AS cx, gy % 64 AS cy,
          (a + b) / (a - b + 100.0) AS f1,
          sqrt(abs(a - b)) + greatest(a, b, c) * 0.5 + pow(a, 2.0) / 100.0 AS f2
        FROM v)
      SELECT tx AS x, ty AS y,
        ${cksOf("f1")} AS cks_f1, ${cksOf("f2")} AS cks_f2
      FROM cells GROUP BY 1, 2 ORDER BY x, y"""
    }),

    // -- SQLite-dialect ST_* functions through the OGR SQL TEXT path (the
    // bAcceptCustomFuncs branch, swq_parser.y:707-716 → our FunctionRegistry
    // fall-through): geometry functions compose inside the parsed string,
    // including in WHERE.
    ("q30_ogrsql_stfuncs", (s, dir) => {
      prep(s)
      val base = t(s, dir, "events").where(col("event_id") < 2000)
        .select(col("event_id").as("fid"),
          expr(s"CAST(floor(${lonOf("event_id")}) AS BIGINT)").as("ix"),
          expr(s"CAST(floor(${latOf("event_id")}) AS BIGINT)").as("iy"))
        .withColumn("wkb", expr(
          """st_geomfromtext(concat('POLYGON ((', ix, ' ', iy, ',', ix + 4, ' ', iy, ',',
             ix + 4, ' ', iy + 2, ',', ix, ' ', iy + 2, ',', ix, ' ', iy, '))'))"""))
        .drop("ix", "iy")
      val ls = Map("feat" -> Layer(base, fid = Some("fid")))
      OgrSql.execute(s,
        "SELECT fid, ST_ASTEXT(ST_CENTROID(wkb)) AS ct, ST_AREA(wkb) AS area, " +
          "ST_NPOINTS(wkb) AS np FROM feat WHERE ST_ISVALID(wkb) AND fid % 3 = 0",
        ls)
        .select(col("fid"), col("ct"),
          expr("CAST(floor(area + 0.5) AS BIGINT)").as("area_i"),
          col("np").cast("long").as("np"))
        .orderBy("fid")
    }, Some(s"""
      WITH b AS (SELECT event_id AS fid,
            CAST(floor(${lonOf("event_id")}) AS BIGINT) AS ix,
            CAST(floor(${latOf("event_id")}) AS BIGINT) AS iy
          FROM events WHERE event_id < 2000)
      SELECT fid, 'POINT (' || (ix + 2) || ' ' || (iy + 1) || ')' AS ct,
        CAST(8 AS BIGINT) AS area_i, CAST(5 AS BIGINT) AS np
      FROM b WHERE fid % 3 = 0 ORDER BY fid"""))
  )
}
