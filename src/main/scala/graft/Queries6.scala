package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryFixtures.t

/** Round-5 final-continuation gates: the remaining training-data-pipeline
  * operators (semantic dedup, PII redaction, composite quality rules).
  * Same conventions as [[Queries]]. */
object Queries6 {

  // PII patterns shared by the Spark path and the DuckDB twin. Kept inside
  // the common Java-regex/RE2 subset (char classes, bounded repetition) so
  // both engines match identical spans.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  // Gopher-rule thresholds (Rae et al. 2021, Table A1), word-count bound
  // scaled to this corpus's ~25-75-word synthetic docs (the paper's 50-word
  // floor would drop everything; the RULE is what's under test, the
  // constants are dataset parameters).
  private val MinWords = 10L; private val MaxWords = 100000L
  private val MinMwlU = 3000000L; private val MaxMwlU = 10000000L
  private val MaxSymPpm = 100000L   // symbol-to-word ratio < 0.1
  private val MinAlphaPpm = 800000L // ≥80% of words contain a letter
  private val MinStop = 1L          // ≥1 of the 8 Gopher stopwords

  private val Stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** e11 corpus: the embeddings table plus, for vec_id < 40, a synthetic
    * near-duplicate (id+1000, first coordinate scaled ×1.5 — cosine ≈0.998
    * to its source, far above any natural pair's 0.51 max). ×1.5 is one
    * exact IEEE rounding per engine, so both sides build bit-identical
    * corpora. */
  private def semCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val dups = base.where(col("vec_id") < 40).select(
      (col("vec_id") + 1000).as("vec_id"),
      concat(array(element_at(col("e"), 1) * lit(1.5)),
        slice(col("e"), 2, 63)).as("e"))
    base.unionByName(dups)
  }

  private val DitherPal: Array[(Int, Int, Int)] = Array(
    (0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
    (0, 0, 255), (128, 128, 0), (0, 128, 128), (128, 0, 128))

  val defs8: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- SemDeDup semantic near-dup removal (Abbas et al. 2023): k-means
    // cluster the embeddings, then WITHIN each cluster drop every vector
    // with a lower-id neighbor at cosine ≥ 0.95. The pairwise stage joins
    // ON THE CLUSTER KEY (cluster-bounded, never corpus-quadratic; the
    // maxCluster guard refuses loudly if a cluster would go quadratic).
    // The twin replays the identical deterministic recipe: same stride
    // init, same unrolled micro-rounded Lloyd's iterations, same integer
    // micro-cosine threshold — bit-identical kept sets.
    ("e11_semdedup", (s, dir) => {
      engine.Ann.semDedup(semCorpus(s, dir), "vec_id", "e",
          k = 8, iters = 2, tauU = 950000L, trainCap = 250, maxCluster = 500)
        .orderBy("vec_id")
    }, Some(semDedupOracle)),

    // -- PII redaction (d20): email + phone detection counts and the
    // redacted-text md5 — the scrub step every training corpus runs before
    // tokenization. Map-only (codegen regexp over each partition; no
    // shuffle at any scale). PII spans are synthesized deterministically
    // into the text so the gate has known positives; counts are computed
    // on the ORIGINAL text, the md5 on the redacted text (emails first,
    // then phones — order pinned on both sides).
    ("d20_pii_redact", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          concat(lit("see "), substring(col("text"), 1, 30), lit(" mail user"),
            col("doc_id"), lit("@m"), col("doc_id") % 7,
            lit(".example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" bye")).as("txt"))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("txt"), lit(PhoneRe)).cast("long").as("n_phone"),
          md5(regexp_replace(regexp_replace(col("txt"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>")).as("red_md5"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH p AS (SELECT doc_id,
          'see ' || substr(text, 1, 30) || ' mail user'
          || CAST(doc_id AS VARCHAR) || '@m' || CAST(doc_id % 7 AS VARCHAR)
          || '.example.com or +1-555-'
          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' bye' AS txt
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(txt, '$EmailRe')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phone,
        md5(regexp_replace(regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'),
          '$PhoneRe', '<PHONE>', 'g')) AS red_md5
      FROM p ORDER BY doc_id""")),

    // -- Gopher composite quality rules (d21, Rae et al. 2021 A1.1): the
    // keep/drop decision that composes the quality stats — word count
    // bounds, mean word length, symbol-to-word ratio, alphabetic-word
    // fraction, stopword presence — into a reasons BITMASK (bit set =
    // rule failed) and a kept flag. All ratios are integer fixed-point
    // (ppm via BIGINT division) so threshold edges are exact in both
    // engines. Map-only at any scale. Docs get a deterministic numeric /
    // symbol tail (doc_id % 4) so the alpha and symbol rules have real
    // positives.
    ("d21_gopher_rules", (s, dir) => {
      val stops = Stopwords.map(w =>
        array_contains(split(col("txt"), " "), w).cast("long")).reduce(_ + _)
      t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0, lit(" 123 456"))
              .when(col("doc_id") % 4 === 1, lit(" ### #"))
              .otherwise(lit(""))).as("txt"))
        .withColumn("n_words", size(split(col("txt"), " ")).cast("long"))
        .withColumn("mwl_u", expr(
          "(CAST(length(txt) AS BIGINT) - n_words + 1) * 1000000 div n_words"))
        .withColumn("alpha_ppm", expr("CAST(size(filter(split(txt, ' '), " +
          "w -> w rlike '[A-Za-z]')) AS BIGINT) * 1000000 div n_words"))
        .withColumn("sym_ppm", expr("CAST(length(txt) - " +
          "length(replace(txt, '#', '')) AS BIGINT) * 1000000 div n_words"))
        .withColumn("n_stop", stops)
        .withColumn("reasons",
          when(col("n_words") < MinWords || col("n_words") > MaxWords, 1L).otherwise(0L) +
          when(col("mwl_u") < MinMwlU || col("mwl_u") > MaxMwlU, 2L).otherwise(0L) +
          when(col("sym_ppm") >= MaxSymPpm, 4L).otherwise(0L) +
          when(col("alpha_ppm") < MinAlphaPpm, 8L).otherwise(0L) +
          when(col("n_stop") < MinStop, 16L).otherwise(0L))
        .select(col("doc_id"), col("n_words"), col("mwl_u"), col("alpha_ppm"),
          col("sym_ppm"), col("n_stop"), col("reasons"),
          when(col("reasons") === 0L, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH p AS (SELECT doc_id,
          text || CASE WHEN doc_id % 4 = 0 THEN ' 123 456'
                       WHEN doc_id % 4 = 1 THEN ' ### #' ELSE '' END AS txt
        FROM documents),
      w AS (SELECT doc_id, txt, string_split(txt, ' ') AS ws FROM p),
      m AS (SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          (CAST(length(txt) AS BIGINT) - len(ws) + 1) * 1000000 // len(ws) AS mwl_u,
          CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
            * 1000000 // len(ws) AS alpha_ppm,
          CAST(length(txt) - length(replace(txt, '#', '')) AS BIGINT)
            * 1000000 // len(ws) AS sym_ppm,
          ${Stopwords.map(w => s"CAST(list_contains(ws, '$w') AS BIGINT)")
            .mkString(" + ")} AS n_stop
        FROM w),
      r AS (SELECT *,
          (CASE WHEN n_words < $MinWords OR n_words > $MaxWords THEN 1 ELSE 0 END)
          + (CASE WHEN mwl_u < $MinMwlU OR mwl_u > $MaxMwlU THEN 2 ELSE 0 END)
          + (CASE WHEN sym_ppm >= $MaxSymPpm THEN 4 ELSE 0 END)
          + (CASE WHEN alpha_ppm < $MinAlphaPpm THEN 8 ELSE 0 END)
          + (CASE WHEN n_stop < $MinStop THEN 16 ELSE 0 END) AS reasons
        FROM m)
      SELECT doc_id, n_words, mwl_u, alpha_ppm, sym_ppm, n_stop,
        CAST(reasons AS BIGINT) AS reasons,
        CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM r ORDER BY doc_id""")),

    // -- gdal_rasterize line burning, oracle-gated (was spec-only): exact
    // GDALdllImageLine integer Bresenham (llrasterize.cpp:236-390) —
    // floor()ed endpoints, the intermediate-vertex endpoint-skip rule,
    // the both-endpoints-out-of-range segment skip, per-pixel clipping,
    // fid-order overwrite. The twin replays the walk with the CLOSED FORM
    // of the Bresenham error recurrence (y at step i = y0 + ys·⌊(2·dy·i +
    // dx − 1)/(2·dx)⌋, verified identical to the stepped loop), so a
    // different evaluation shape reproduces every burned pixel exactly.
    // 40 three-vertex polylines exercise both axis-major branches, both
    // directions, and all four clip edges of the z=1 512px raster.
    ("r63_line_burn", (s, dir) => {
      val sp = s
      import sp.implicits._
      engine.Rasterize.burnLines(lineFeats(s), z = 1)
        .flatMap { t =>
          val ts = t.w
          for {
            cy <- (0 until t.h).iterator
            cx <- (0 until ts).iterator
            v = t.pixels(cy * ts + cx)
            if v != 0.0
          } yield (t.x.toLong * ts + cx, t.y.toLong * ts + cy, v.toLong)
        }.toDF("gx", "gy", "v").orderBy("gx", "gy")
    }, Some(lineBurnOracle)),

    // -- tee / materialize pipeline step, oracle-gated (was spec-only):
    // one persisted upstream feeding two sinks (`gdal ... tee`'s
    // one-read/N-consumer contract; the no-recompute property itself is
    // pinned by TeeMaterializeSpec's accumulator + InMemoryTableScan
    // asserts — this gate pins that both branches see the identical
    // materialized row set).
    ("q33_tee_materialize", (s, dir) => {
      val up = t(s, dir, "lineitem").where(col("l_quantity") > 25)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .persist()
      val a = up.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("long")).as("metric"))
        .select(lit("sum").as("branch"), col("l_returnflag"), col("metric"))
      val b = up.groupBy("l_returnflag").agg(count(lit(1)).as("metric"))
        .select(lit("cnt").as("branch"), col("l_returnflag"), col("metric"))
      a.unionByName(b).orderBy("branch", "l_returnflag")
    }, Some("""
      WITH up AS (SELECT l_orderkey, l_returnflag, l_quantity
          FROM lineitem WHERE l_quantity > 25)
      SELECT 'sum' AS branch, l_returnflag,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS metric
        FROM up GROUP BY l_returnflag
      UNION ALL
      SELECT 'cnt' AS branch, l_returnflag, count(*) AS metric
        FROM up GROUP BY l_returnflag
      ORDER BY branch, l_returnflag""")),

    // -- Floyd–Steinberg dither, oracle-gated (was spec-only with a
    // documented tile-local deviation): the error-diffusion scan is
    // sequential by construction, but every diffused error is an exact
    // dyadic rational (integer·k/16), so IEEE doubles carry it EXACTLY
    // and an independent replay must agree bit-for-bit — the twin runs
    // the scan as a 256-step recursive CTE carrying the three error
    // buffers as list state (gdaldither.cpp semantics: clamp(v+0.5),
    // first-min nearest color, 7/3/5/1 sixteenths to the four
    // neighbors). One 16×16 tile; palette = 8 fixed colors; 5 of them
    // actually win pixels, so the diffusion visibly reorders choices vs
    // the undithered nearest-color raster.
    ("r64_fs_dither", (s, dir) => {
      val sp = s
      import sp.implicits._
      def band(fa: Long, fb: Long) =
        engine.Raster.syntheticTiles(s, 0, tileSize = 16)(
          (gx, gy) => ((gx * fa + gy * fb) % 256).toDouble)
      engine.Palette.dither(band(7, 3), band(11, 5), band(13, 2), DitherPal)
        .flatMap { t =>
          for {
            cy <- (0 until t.h).iterator
            cx <- (0 until t.w).iterator
          } yield (cx.toLong, cy.toLong, t.pixels(cy * t.w + cx).toLong)
        }.toDF("gx", "gy", "idx").orderBy("gy", "gx")
    }, Some(fsDitherOracle))
  )

  /** DuckDB replay of [[graft.engine.Palette.dither]] on the r64 fixture:
    * the scan-order error diffusion as a recursive CTE whose state is the
    * three per-channel error buffers (exact dyadic doubles) plus the
    * emitted index list. clamp = min(255, max(0, trunc(v + 0.5))) and the
    * nearest color is the FIRST squared-distance minimum, both exactly
    * the engine's (and gdaldither.cpp's) rules. */
  private def fsDitherOracle: String = {
    val pr = "[" + DitherPal.map(_._1).mkString(",") + "]"
    val pg = "[" + DitherPal.map(_._2).mkString(",") + "]"
    val pb = "[" + DitherPal.map(_._3).mkString(",") + "]"
    def upd(errName: String, eName: String) = s"""
      list_transform(generate_series(1, 256), j ->
        CASE WHEN j = i + 2 AND i % 16 + 1 < 16
               THEN $errName[j] + CAST($eName AS DOUBLE) * 7.0 / 16.0
             WHEN j = i + 16 AND i // 16 + 1 < 16 AND i % 16 > 0
               THEN $errName[j] + CAST($eName AS DOUBLE) * 3.0 / 16.0
             WHEN j = i + 17 AND i // 16 + 1 < 16
               THEN $errName[j] + CAST($eName AS DOUBLE) * 5.0 / 16.0
             WHEN j = i + 18 AND i // 16 + 1 < 16 AND i % 16 + 1 < 16
               THEN $errName[j] + CAST($eName AS DOUBLE) * 1.0 / 16.0
             ELSE $errName[j] END)"""
    def chan(errName: String, fa: Int, fb: Int) =
      s"greatest(0, least(255, CAST(trunc(CAST(((s.i % 16) * $fa + " +
        s"(s.i // 16) * $fb) % 256 AS DOUBLE) + s.$errName[s.i + 1] + 0.5) AS BIGINT)))"
    s"""
    WITH RECURSIVE rec AS (
      SELECT 0 AS i,
        list_transform(generate_series(1, 256), j -> CAST(0.0 AS DOUBLE)) AS er,
        list_transform(generate_series(1, 256), j -> CAST(0.0 AS DOUBLE)) AS eg,
        list_transform(generate_series(1, 256), j -> CAST(0.0 AS DOUBLE)) AS eb,
        CAST([] AS BIGINT[]) AS out
      UNION ALL
      SELECT i + 1,
        ${upd("er", s"(rv - $pr[idx + 1])")},
        ${upd("eg", s"(gv - $pg[idx + 1])")},
        ${upd("eb", s"(bv - $pb[idx + 1])")},
        list_append(out, idx)
      FROM (
        SELECT q1.*, CAST(list_position(dl, list_min(dl)) - 1 AS BIGINT) AS idx
        FROM (
          SELECT q0.*, list_transform(generate_series(1, 8), k ->
              ($pr[k] - rv) * ($pr[k] - rv) + ($pg[k] - gv) * ($pg[k] - gv)
              + ($pb[k] - bv) * ($pb[k] - bv)) AS dl
          FROM (
            SELECT s.i, s.er, s.eg, s.eb, s.out,
              ${chan("er", 7, 3)} AS rv,
              ${chan("eg", 11, 5)} AS gv,
              ${chan("eb", 13, 2)} AS bv
            FROM rec s WHERE s.i < 256) q0) q1) q2)
    SELECT CAST((j - 1) % 16 AS BIGINT) AS gx, CAST((j - 1) // 16 AS BIGINT) AS gy,
      v AS idx
    FROM (SELECT generate_subscripts(out, 1) AS j, unnest(out) AS v
          FROM rec WHERE i = 256)
    ORDER BY gy, gx"""
  }

  /** r63 fixture: 40 three-vertex polylines whose coordinates are exact
    * double expressions both engines compute identically; several run off
    * every edge of the 512px raster to exercise segment-skip + clipping. */
  private def lineFeats(s: SparkSession): DataFrame = {
    val sp = s
    import sp.implicits._
    (0L until 40L).map { f =>
      val x0 = -20.0 + (f % 11).toDouble * 53.7
      val y0 = -15.0 + (f % 7).toDouble * 81.3
      val x1 = x0 + (if (f % 3 == 0) 197.4 else -83.2)
      val y1 = y0 + (f % 5).toDouble * 37.9 - 60.0
      val x2 = x1 + 45.9
      val y2 = y1 + (if (f % 2 == 0) 177.5 else -99.1)
      val wkt = s"LINESTRING ($x0 $y0, $x1 $y1, $x2 $y2)"
      (f, graft.geom.Wkb.write(graft.geom.Wkt.parse(wkt)), 10.0 + f.toDouble)
    }.toDF("fid", "wkb", "burn")
  }

  /** DuckDB replay of [[graft.engine.Rasterize.burnLines]] over
    * [[lineFeats]] at z=1 (512×512): per segment, the floored endpoints
    * and axis-major branch, pixel i enumerated via the closed form of the
    * integer Bresenham error recurrence; intermediate-vertex skip = one
    * fewer step on non-final segments; add=false overwrite in ascending
    * fid order = max(burn) per pixel (burn is monotone in fid). */
  private def lineBurnOracle: String = """
    WITH f0 AS (SELECT f,
        -20.0 + CAST(f % 11 AS DOUBLE) * 53.7 AS x0,
        -15.0 + CAST(f % 7 AS DOUBLE) * 81.3 AS y0,
        10.0 + CAST(f AS DOUBLE) AS burn
      FROM generate_series(0, 39) t(f)),
    f2 AS (SELECT *,
        x0 + CASE WHEN f % 3 = 0 THEN 197.4 ELSE -83.2 END AS x1,
        y0 + CAST(f % 5 AS DOUBLE) * 37.9 - 60.0 AS y1 FROM f0),
    f3 AS (SELECT *, x1 + 45.9 AS x2,
        y1 + CASE WHEN f % 2 = 0 THEN 177.5 ELSE -99.1 END AS y2 FROM f2),
    seg AS (SELECT f, burn, x0 AS ax, y0 AS ay, x1 AS bx, y1 AS byy, 0 AS lastseg FROM f3
      UNION ALL SELECT f, burn, x1, y1, x2, y2, 1 FROM f3),
    d AS (SELECT f, burn, lastseg,
        CAST(floor(ax) AS BIGINT) AS ix, CAST(floor(ay) AS BIGINT) AS iy,
        CAST(floor(bx) AS BIGINT) AS jx, CAST(floor(byy) AS BIGINT) AS jy
      FROM seg
      WHERE NOT ((ay < 0 AND byy < 0) OR (ay > 512 AND byy > 512)
              OR (ax < 0 AND bx < 0) OR (ax > 512 AND bx > 512))),
    e AS (SELECT f, burn, lastseg, ix, iy,
        abs(jx - ix) AS dx, abs(jy - iy) AS dy,
        CASE WHEN ix > jx THEN -1 ELSE 1 END AS xs,
        CASE WHEN iy > jy THEN -1 ELSE 1 END AS ys FROM d),
    xm AS (SELECT f, burn, ix, iy, dx, dy, xs, ys,
        unnest(generate_series(0, dx - CASE WHEN lastseg = 1 THEN 0 ELSE 1 END)) AS i
      FROM e WHERE dx >= dy),
    ym AS (SELECT f, burn, ix, iy, dx, dy, xs, ys,
        unnest(generate_series(0, dy - CASE WHEN lastseg = 1 THEN 0 ELSE 1 END)) AS i
      FROM e WHERE dx < dy),
    px AS (
      SELECT f, burn, ix + xs * i AS gx,
          iy + ys * (CASE WHEN dx = 0 THEN 0
                     ELSE (2 * dy * i + dx - 1) // (2 * dx) END) AS gy FROM xm
      UNION ALL
      SELECT f, burn, ix + xs * ((2 * dx * i + dy - 1) // (2 * dy)) AS gx,
          iy + ys * i AS gy FROM ym)
    SELECT gx, gy, CAST(max(burn) AS BIGINT) AS v FROM px
    WHERE gx >= 0 AND gy >= 0 AND gx < 512 AND gy < 512
    GROUP BY gx, gy ORDER BY gx, gy"""

  /** DuckDB replay of [[graft.engine.Ann.semDedup]] over [[semCorpus]]:
    * the same deterministic k-means chain as the e04 oracle (stride init,
    * 2 unrolled assign/update iterations with 1e-6-rounded centroid
    * means, trainCap stride sample), then the within-cluster lower-id
    * pair rule on integer micro-cosines. */
  private def semDedupOracle: String = {
    def dotD(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"
    def ccD(c: String) = s"list_sum(list_transform($c, x -> x * x))"
    def score(v: String, c: String) = s"${ccD(c)} - 2.0 * ${dotD(v, c)}"
    def assignCte(i: Int, src: String, name: String) = s"""
      $name AS (SELECT vec_id, emb, nm, cid FROM (
          SELECT e.vec_id, e.emb, e.nm, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${score("e.emb", "c.ce")}, c.cid) AS rk
          FROM $src e CROSS JOIN c$i c) WHERE rk = 1)"""
    def updateCte(i: Int) = s"""
      c${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS ce FROM (
          SELECT cid, pos, floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS m FROM (
            SELECT cid, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM a$i)
          GROUP BY cid, pos) GROUP BY cid)"""
    val iters = 2; val k = 8; val cap = 250; val tau = 950000L
    val loop = (0 until iters).map(i =>
      assignCte(i, "tr", s"a$i") + "," + updateCte(i)).mkString(",")
    s"""
      WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      d AS (SELECT vec_id + 1000 AS vec_id,
            list_concat([e[1] * 1.5], e[2:]) AS e FROM b WHERE vec_id < 40),
      u AS (SELECT * FROM b UNION ALL SELECT * FROM d),
      en AS (SELECT vec_id, e AS emb,
            sqrt(list_sum(list_transform(e, x -> x * x))) AS nm FROM u),
      tr AS (SELECT * FROM en WHERE vec_id %
          (SELECT greatest(1, count(*) // $cap) FROM en) = 0),
      c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS ce
          FROM en WHERE vec_id % (SELECT greatest(1, count(*) // $k) FROM en) = 0
          ORDER BY vec_id LIMIT $k),
      $loop,
      ${assignCte(iters, "en", "asg").trim},
      pairs AS (SELECT l.vec_id AS lo, r.vec_id AS hi,
          CAST(floor(${dotD("l.emb", "r.emb")} / (l.nm * r.nm)
            * 1000000.0 + 0.5) AS BIGINT) AS cos_u
        FROM asg l JOIN asg r ON l.cid = r.cid AND l.vec_id < r.vec_id),
      dd AS (SELECT hi, count(*) AS n_dups, min(lo) AS dup_lo
        FROM pairs WHERE cos_u >= $tau GROUP BY hi)
      SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
        CAST(CASE WHEN dd.hi IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
        CAST(coalesce(dd.n_dups, 0) AS BIGINT) AS n_dups,
        CAST(coalesce(dd.dup_lo, a.vec_id) AS BIGINT) AS dup_lo
      FROM asg a LEFT JOIN dd ON a.vec_id = dd.hi ORDER BY a.vec_id"""
  }
}
