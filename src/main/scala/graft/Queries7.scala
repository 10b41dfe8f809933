package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryFixtures.t

/** Round-5 eighth-continuation gates: BPE subword tokenizer training /
  * encoding (Sennrich et al. 2016) and BM25 corpus retrieval (Robertson &
  * Zaragoza 2009) — the two classic text-pipeline operators the
  * training-data family still lacked. Same conventions as [[Queries]]. */
object Queries7 {

  private val NMerges = 12
  private val VocabCap = 4096L

  // BM25 constants (k1 = 1.2, b = 0.75 — the standard Robertson defaults).
  // k1*(1-b) = 0.3 and k1*b = 0.9 are written as the pre-multiplied
  // literals in BOTH engines so the IEEE evaluation order is identical.
  private val Bm25Terms = Seq("spark", "merge", "stream", "vector")
  private val TopK = 20

  private val defs9a: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- BPE merge-table training (d22): the real subword-vocabulary
    // trainer (d15 is the pre-tokenizer that runs before it). Scale shape:
    // one distributed groupBy(word) builds the vocabulary-bounded frequency
    // table; the inherently-sequential merge loop runs on the driver over
    // that bounded vocab (cap-guarded, refuse-loudly) — the same
    // bounded-driver-state pattern as the k-means codebooks. The twin
    // replays all 12 merges exactly: pair counting, (count desc, pair asc)
    // tie-break, and the bracketed-literal replace whose left-to-right
    // non-overlapping semantics Spark, Java and DuckDB share.
    ("d22_bpe_train", (s, dir) => {
      val merges = engine.Bpe.train(
        engine.Bpe.wordFreq(t(s, dir, "documents"), "text"), NMerges, VocabCap)
      s.createDataFrame(merges)
        .select(col("step"), col("p1"), col("p2"), col("cnt"))
        .orderBy("step")
    }, Some(bpeTrainOracle)),

    // -- BPE corpus encoding (d23): apply the learned merge table to every
    // document — map-only, the merges are literal replace chains inside
    // whole-stage codegen (no UDF, no broadcast, no shuffle). Output is
    // the per-doc subword token count and the md5 of the segmented text;
    // the twin retrains the merge chain and re-applies it relationally.
    ("d23_bpe_encode", (s, dir) => {
      val merges = engine.Bpe.train(
        engine.Bpe.wordFreq(t(s, dir, "documents"), "text"), NMerges, VocabCap)
      engine.Bpe.encodeDocs(t(s, dir, "documents"), "doc_id", "text", merges)
        .orderBy("doc_id")
    }, Some(bpeEncodeOracle)),

    // -- BM25 ranked retrieval (d24): the Okapi BM25(k1=1.2, b=0.75) score
    // of a 4-term query over the corpus, top-20 docs. Scale shape: df and
    // (N, sum dl) are term-/scalar-bounded aggregates broadcast back; the
    // per-doc scoring pass is map-only over the corpus; the final top-k is
    // TakeOrdered (no global sort shuffle). idf uses the d14 fixed-point-ln
    // convention (floor(ln·1e4)) so cross-engine libm differences cannot
    // flip a unit; everything else is exact-order IEEE arithmetic.
    ("d24_bm25", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("dl", size(col("ws")).cast("long"))
      val stats = docs.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
      val terms = {
        val sp = s; import sp.implicits._
        Bm25Terms.toDF("term")
      }
      val dt = docs.crossJoin(broadcast(terms))
        .withColumn("tf", size(filter(col("ws"), w => w === col("term"))).cast("long"))
        .where(col("tf") > 0)
      val dft = dt.groupBy("term").agg(count(lit(1)).as("dft"))
      dt.join(broadcast(dft), "term").crossJoin(broadcast(stats))
        .withColumn("idf_e4", expr(
          "CAST(floor(ln((CAST(n AS DOUBLE) - CAST(dft AS DOUBLE) + 0.5) / " +
            "(CAST(dft AS DOUBLE) + 0.5) + 1.0) * 10000.0) AS BIGINT)"))
        .withColumn("tfp_e4", expr(
          "CAST(floor(CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 0.3 + " +
            "0.9 * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sdl AS DOUBLE))) " +
            "* 10000.0) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(sum(col("idf_e4") * col("tfp_e4")).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(TopK)
    }, Some(s"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      dl AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS dl FROM d),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
      q AS (SELECT unnest([${Bm25Terms.map(x => s"'$x'").mkString(", ")}]) AS term),
      dt AS (SELECT doc_id, term, dl,
          CAST(len(list_filter(ws, x -> x = term)) AS BIGINT) AS tf
        FROM dl CROSS JOIN q),
      dth AS (SELECT * FROM dt WHERE tf > 0),
      dft AS (SELECT term, CAST(count(*) AS BIGINT) AS dft FROM dth GROUP BY term),
      sc AS (SELECT doc_id,
          CAST(floor(ln((CAST(n AS DOUBLE) - CAST(dft AS DOUBLE) + 0.5) /
            (CAST(dft AS DOUBLE) + 0.5) + 1.0) * 10000.0) AS BIGINT) AS idf_e4,
          CAST(floor(CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 0.3 +
            0.9 * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sdl AS DOUBLE)))
            * 10000.0) AS BIGINT) AS tfp_e4
        FROM dth JOIN dft USING (term) CROSS JOIN st)
      SELECT doc_id, CAST(sum(idf_e4 * tfp_e4) AS BIGINT) AS score,
        CAST(count(*) AS BIGINT) AS n_terms
      FROM sc GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT $TopK""")),

    // -- ESRI Shapefile record codec round-trip (g64): the canonical GDAL
    // vector format. Each doc builds a 3-shell MULTIPOLYGON whose rings are
    // DELIBERATELY mixed-winding (A outer CCW + hole CW = both wrong, B
    // outer CW + hole CCW = both right, C outer CCW = wrong): the writer
    // must invert exactly the wrong ones (shape2ogr.cpp:1021), and the
    // reader must re-assemble the 5-ring record with the ONLY_CCW
    // organizePolygons contract — hole A1 reaches shell A only through the
    // biggest-shell backstop, hole B1 only through the point-in-ring walk
    // (its area ties shell C, whose envelope rejects it). content_len pins
    // the writer's byte layout (4 type + 32 box + 8 counts + 4·5 parts +
    // 16·25 points = 464); the per-part area/npoints rows pin the hole
    // ASSIGNMENT (a misassigned hole moves area between parts).
    ("g64_shp_roundtrip", (s, dir) => {
      functions.GraftFunctions.register(s)
      import graft.functions.gf
      val base = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("x0", expr("CAST(doc_id % 50 AS DOUBLE)"))
        .withColumn("y0", expr("CAST(doc_id % 37 AS DOUBLE)"))
        .withColumn("dA", expr("CAST(8 + doc_id % 3 AS DOUBLE)"))
      def pt(xe: String, ye: String) = s"CAST($xe AS STRING), ' ', CAST($ye AS STRING)"
      def ring(pts: Seq[(String, String)]) =
        s"'(', ${pts.map { case (x, y) => pt(x, y) }.mkString(", ',', ")}, ')'"
      val aO = ring(Seq(("x0", "y0"), ("x0 + dA", "y0"), ("x0 + dA", "y0 + dA"),
        ("x0", "y0 + dA"), ("x0", "y0")))                              // CCW (wrong)
      val aH = ring(Seq(("x0 + 1", "y0 + 1"), ("x0 + 1", "y0 + 3"),
        ("x0 + 3", "y0 + 3"), ("x0 + 3", "y0 + 1"), ("x0 + 1", "y0 + 1"))) // CW (wrong)
      val bO = ring(Seq(("x0 + 20", "y0"), ("x0 + 20", "y0 + 3"),
        ("x0 + 23", "y0 + 3"), ("x0 + 23", "y0"), ("x0 + 20", "y0")))  // CW (right)
      val bH = ring(Seq(("x0 + 21", "y0 + 1"), ("x0 + 22", "y0 + 1"),
        ("x0 + 22", "y0 + 2"), ("x0 + 21", "y0 + 2"), ("x0 + 21", "y0 + 1"))) // CCW (right)
      val cO = ring(Seq(("x0 + 1.5", "y0 + 1.5"), ("x0 + 2.5", "y0 + 1.5"),
        ("x0 + 2.5", "y0 + 2.5"), ("x0 + 1.5", "y0 + 2.5"), ("x0 + 1.5", "y0 + 1.5")))
      val wkt = s"concat('MULTIPOLYGON ((', $aO, ',', $aH, "  +
        s"'),(', $bO, ',', $bH, '),(', $cO, '))')"
      base.withColumn("rec", gf.st_asshp(gf.st_geomfromtext(expr(wkt))))
        .withColumn("out", gf.st_fromshp(col("rec")))
        .select(col("doc_id"),
          length(col("rec")).cast("long").as("content_len"),
          gf.st_geometrytype(col("out")).as("gtype"),
          expr("(st_envelope(out)[2] - st_envelope(out)[0]) * " +
            "(st_envelope(out)[3] - st_envelope(out)[1])").as("env_area"),
          posexplode(gf.st_dump(col("out"))).as(Seq("pos", "part")))
        .select(col("doc_id"), col("content_len"), col("gtype"), col("env_area"),
          col("pos").cast("long").as("pos"),
          gf.st_area(col("part")).as("part_area"),
          gf.st_npoints(col("part")).cast("long").as("part_npts"))
        .orderBy("doc_id", "pos")
    }, Some("""
      WITH b AS (SELECT doc_id, CAST(doc_id % 50 AS DOUBLE) AS x0,
          CAST(doc_id % 37 AS DOUBLE) AS y0,
          CAST(8 + doc_id % 3 AS DOUBLE) AS dA FROM documents),
      e AS (SELECT doc_id, x0, y0, dA, unnest([0, 1, 2]) AS pos FROM b)
      SELECT doc_id, CAST(464 AS BIGINT) AS content_len,
        'MULTIPOLYGON' AS gtype, 23.0 * dA AS env_area,
        CAST(pos AS BIGINT) AS pos,
        CASE pos WHEN 0 THEN dA * dA - 4.0 WHEN 1 THEN 8.0 ELSE 1.0 END AS part_area,
        CAST(CASE pos WHEN 0 THEN 10 WHEN 1 THEN 10 ELSE 5 END AS BIGINT) AS part_npts
      FROM e ORDER BY doc_id, pos""")),

    // -- DSIR data selection (d25, Xie et al. 2023 "Data Selection for
    // Language Models via Importance Resampling"): hashed-n-gram importance
    // weights. Feature buckets are the first md5 hex byte of each unigram/
    // bigram (256 buckets, string keys — both engines bucket identically
    // with no hex→int conversion); the target distribution is the lang='en'
    // slice, raw is the whole corpus; per-doc weight = Σ over the doc's
    // n-grams of the add-one-smoothed log likelihood ratio (d14's
    // fixed-point-ln convention). Selection is the deterministic top-50 by
    // (weight desc, doc_id) — the paper's Gumbel-noise draw with the noise
    // term pinned to zero so the gate is exact. Scale shape: two
    // 256-bounded bucket aggregations broadcast back; the corpus pass is
    // explode → broadcast join → one per-doc re-aggregation (map-side
    // partial combine); top-k is TakeOrdered.
    ("d25_dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      // bigrams via zip_with over offset slices: slice length size(ws)-1
      // is 0 for a single-token doc (empty list, matching the twin's
      // generate_series(1, 0)) — sequence(1, size-1) would DESCEND to
      // [1, 0] there and element_at(ws, 0) throws
      val grams = docs.select(col("doc_id"), col("lang"),
          explode(concat(col("ws"),
            expr("zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
              "(a, b) -> concat(a, ' ', b))"))).as("g"))
        .withColumn("b", expr("substring(md5(g), 1, 2)"))
      // raw and target distributions in ONE gram-scan aggregation (count +
      // conditional count) — 2 corpus passes total (fit, score), the DSIR
      // reference shape
      val buckets = grams.groupBy("b").agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      val tots = buckets.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      grams.join(broadcast(buckets), "b")
        .crossJoin(broadcast(tots))
        .withColumn("lr_e4", expr(
          "CAST(floor(ln(((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0) / " +
            "(CAST(tt AS DOUBLE) + 256.0)) / ((CAST(cr AS DOUBLE) + 1.0) / " +
            "(CAST(tr AS DOUBLE) + 256.0))) * 10000.0) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("lr_e4").as("weight_e4"))
        .orderBy(col("weight_e4").desc, col("doc_id"))
        .limit(50)
    }, Some("""
      WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      gr AS (SELECT doc_id, lang, unnest(list_concat(ws,
          list_transform(generate_series(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i + 1]))) AS g FROM d),
      gb AS (SELECT doc_id, lang, substr(md5(g), 1, 2) AS b FROM gr),
      tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM gb WHERE lang = 'en' GROUP BY b),
      raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM gb GROUP BY b),
      tt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt FROM tgt),
      tr AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM raw),
      sc AS (SELECT doc_id,
          CAST(floor(ln(((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0) /
            (CAST(tt AS DOUBLE) + 256.0)) / ((CAST(cr AS DOUBLE) + 1.0) /
            (CAST(tr AS DOUBLE) + 256.0))) * 10000.0) AS BIGINT) AS lr_e4
        FROM gb JOIN raw USING (b) LEFT JOIN tgt USING (b)
        CROSS JOIN tt CROSS JOIN tr)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(lr_e4) AS BIGINT) AS weight_e4
      FROM sc GROUP BY doc_id
      ORDER BY weight_e4 DESC, doc_id LIMIT 50""")),

    // -- Count-min sketch (d26, Cormode & Muthukrishnan 2005): the
    // mergeable bounded-state frequency summary for streams/corpora too
    // large to count exactly. 4 rows × 256 columns; row r's hash of word w
    // is the first md5 hex byte of "r:w" (string bucket keys — both
    // engines bucket identically). The build is ONE bounded aggregation
    // (≤1024 cells regardless of corpus size — the 100-TB story; cells are
    // sums, so partition sketches merge by addition). The gate queries 6
    // terms: est = min over rows of the hashed cell, alongside the exact
    // count and the CM guarantee flag est ≥ exact (must be all-1).
    ("d26_countmin", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      cmReport(s, dir, engine.CountMin.cells(words))
    }, Some(countMinOracle)),

    // -- STREAMING count-min maintenance (s07): the ingest-time twin of
    // d26 — every micro-batch reduces to a ≤1024-cell PARTIAL sketch
    // appended to the sketch store (cells merge by addition, so any batch
    // slicing gives the same final sketch); the slices arrive across a
    // checkpoint RESTART plus a no-data restart, and the gate's est ==
    // exact equality (no collisions at this vocab) proves every input
    // file contributed exactly once. Same oracle as d26: the streamed
    // sketch must equal the batch build bit-for-bit.
    ("s07_stream_countmin", (s, dir) => {
      cmReport(s, dir, streaming.StreamJobs.streamCountMin(
        s, s"$dir/documents.parquet", "/tmp/graft_s07_work"))
    }, Some(countMinOracle)),

    // -- HyperLogLog distinct sketch (d27, Flajolet et al. 2007): m = 64
    // registers over md5 bits — bucket = first two hex chars mod 64 (via
    // the instr('0123456789abcdef', c) digit decode both engines share),
    // rank ρ = leading-zero bits of the next 12 hex chars + 1 (regexp '^0*'
    // prefix × 4 + a per-digit CASE), register = max ρ. The indicator
    // Σ 2^-M sums exact dyadic rationals spanning < 53 bits, so IEEE
    // addition is order-independent and both engines agree bit-for-bit;
    // the raw estimate α₆₄·m²/Σ and the small-range linear-counting branch
    // (V > 0 ∧ raw ≤ 2.5m → m·ln(m/V)) are both exercised: distinct WORDS
    // (~30 ≪ m, linear counting) and distinct BIGRAMS (≫ m, raw branch).
    // Registers are max-mergeable — the same bounded-state story as d26.
    ("d27_hll", (s, dir) => {
      val grams = hllGrams(s, dir)
      val ranks = engine.Hll.ranks(grams)
      hllReport(engine.Hll.registers(ranks), ranks)
    }, Some(hllOracle)),

    // -- STREAMING HyperLogLog maintenance (s08): the max-merge twin of
    // s07's sum-merge — each micro-batch reduces to its own ≤128-row
    // partial register table appended to the register store; the final
    // registers are the per-(scope, bkt) MAX. Max-merging is idempotent,
    // so this sketch class is restart-safe even WITHOUT exactly-once
    // delivery (re-maxing a replayed slice changes nothing) — the
    // complementary durability story to s07, proven by the same
    // streamed ≡ batch oracle (d27's, verbatim).
    ("s08_stream_hll", (s, dir) => {
      val regs = streaming.StreamJobs.streamHll(
        s, s"$dir/documents.parquet", "/tmp/graft_s08_work")
      hllReport(regs, engine.Hll.ranks(hllGrams(s, dir)))
    }, Some(hllOracle))
  )

  /** Shared d27/s08 gram builder: words + bigrams (zip_with over offset
    * slices — empty, not crashing, on single-token docs). */
  private def hllGrams(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val words = docs.select(explode(col("ws")).as("g"))
      .withColumn("scope", lit("words"))
    val bigrams = docs.select(explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("g"))
      .withColumn("scope", lit("bigrams"))
    words.unionByName(bigrams)
  }

  /** Shared d27/s08 reporting tail: estimate from a register table
    * (batch- or stream-built) + exact distincts from the batch grams. */
  private def hllReport(regs: DataFrame, ranks: DataFrame): DataFrame = {
    val exact = ranks.select("scope", "g").distinct()
      .groupBy("scope").agg(count(lit(1)).as("exact"))
    engine.Hll.estimate(regs)
      .join(broadcast(exact), "scope")
      .select(col("scope"), col("v"), col("est_e2"), col("exact"))
      .orderBy("scope")
  }

  /** Shared d27/s08 oracle: relational HLL build + both estimator
    * branches (the streamed registers must equal the batch registers). */
  private def hllOracle: String = ("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT 'words' AS scope, unnest(ws) AS g FROM d
        UNION ALL
        SELECT 'bigrams' AS scope, unnest(list_transform(
          generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])) AS g FROM d),
      h AS (SELECT scope, g, md5(g) AS h FROM g),
      hb AS (SELECT scope, g,
          ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS bkt,
          length(regexp_extract(substr(h, 3, 12), '^0*')) AS z, h
        FROM h),
      hr AS (SELECT scope, g, bkt,
          CAST(z * 4 + CASE WHEN z = 12 THEN 1 ELSE
            CASE WHEN instr('89abcdef', substr(h, 3 + z, 1)) > 0 THEN 1
                 WHEN instr('4567', substr(h, 3 + z, 1)) > 0 THEN 2
                 WHEN instr('23', substr(h, 3 + z, 1)) > 0 THEN 3
                 ELSE 4 END END AS BIGINT) AS rho
        FROM hb),
      regs AS (SELECT scope, bkt, max(rho) AS m_reg FROM hr GROUP BY 1, 2),
      sums AS (SELECT scope, sum(pow(2.0, -CAST(m_reg AS DOUBLE))) AS s,
          CAST(count(*) AS BIGINT) AS nz FROM regs GROUP BY 1),
      ex AS (SELECT scope, CAST(count(DISTINCT g) AS BIGINT) AS exact
        FROM hr GROUP BY 1),
      fin AS (SELECT scope, 64 - nz AS v,
          0.709 * 4096.0 / (s + CAST(64 - nz AS DOUBLE)) AS raw, s FROM sums)
      SELECT scope, CAST(v AS BIGINT) AS v,
        CAST(floor((CASE WHEN v > 0 AND raw <= 160.0
          THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE)) ELSE raw END) * 100.0) AS BIGINT)
          AS est_e2,
        exact
      FROM fin JOIN ex USING (scope) ORDER BY scope""")

  private val defs9b: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // -- Exact distributed quantiles (d28): the k-th order statistic of a
    // double column WITHOUT a global sort — 16-bit-digit radix selection
    // over the order-preserving IEEE bit map (double_usort_bits), four
    // bounded aggregation passes per quantile, ≤2^16 driver counters per
    // pass. No sample, no approximation: the twin computes the same k-th
    // element by brute row_number and the values must be bit-equal
    // doubles. k = floor((n-1)·q) + 1 (the lower order statistic).
    ("d28_exact_quantile", (s, dir) => {
      // k is defined over the NON-NULL population on both sides —
      // exactKth excludes nulls, so counting them into n would let k
      // exceed the selectable rows
      val ev = t(s, dir, "events").select(col("value"))
        .where(col("value").isNotNull)
      val n = ev.count()
      val sp = s; import sp.implicits._
      Seq(50L, 90L, 99L).map { q =>
        val k = (n - 1) * q / 100 + 1
        (q, k, engine.Quantiles.exactKth(ev, "value", k))
      }.toDF("q_e2", "k", "value").orderBy("q_e2")
    }, Some("""
      WITH ev AS (SELECT value FROM events WHERE value IS NOT NULL),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
      q AS (SELECT unnest([50, 90, 99]) AS q_e2),
      kq AS (SELECT CAST(q_e2 AS BIGINT) AS q_e2,
          (n - 1) * q_e2 // 100 + 1 AS k FROM q CROSS JOIN n),
      o AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM ev)
      SELECT kq.q_e2, CAST(kq.k AS BIGINT) AS k, o.value
      FROM kq JOIN o ON o.rn = kq.k ORDER BY kq.q_e2""")),

    // -- Bloom-filter semi-join (d29, Bloom 1970 / the runtime-filter
    // pushdown every 100-TB join planner reaches for): build a 65536-bit
    // 3-hash bloom over the o_orderkey set of high-value orders (positions
    // = instr-decoded first-4-hex-chars of md5("h:key") — identical in
    // both engines), broadcast the ≤65536-entry set-bit table, probe every
    // distinct l_orderkey: pass ⟺ all 3 positions set. The gate pins the
    // structural guarantees: zero false negatives (every exact semi-join
    // key passes) and bloom_pass ≥ exact_pass, plus the exact
    // false-positive count so the fill factor is itself oracle-checked.
    ("d29_bloom_semijoin", (s, dir) => {
      val hexpos = (src: String, h: Int) =>
        s"(instr('0123456789abcdef', substring(md5(concat('$h:', CAST($src AS STRING))), 1, 1)) - 1) * 4096 + " +
        s"(instr('0123456789abcdef', substring(md5(concat('$h:', CAST($src AS STRING))), 2, 1)) - 1) * 256 + " +
        s"(instr('0123456789abcdef', substring(md5(concat('$h:', CAST($src AS STRING))), 3, 1)) - 1) * 16 + " +
        s"(instr('0123456789abcdef', substring(md5(concat('$h:', CAST($src AS STRING))), 4, 1)) - 1)"
      val hs = Seq(0, 1, 2)
      val build = t(s, dir, "orders").where(col("o_totalprice") > 280000.0)
        .select(col("o_orderkey"))
      val bits = hs.map(h => build.select(expr(hexpos("o_orderkey", h)).as("p")))
        .reduce(_ unionAll _).distinct()
      val probe = t(s, dir, "lineitem").select(col("l_orderkey")).distinct()
      val hits = hs.map(h => probe
          .withColumn("p", expr(hexpos("l_orderkey", h)))
          .join(broadcast(bits), "p")
          .select(col("l_orderkey")))
        .reduce(_ unionAll _)
        .groupBy("l_orderkey").agg(count(lit(1)).as("nh"))
        .where(col("nh") === 3)
        .select(col("l_orderkey"), lit(1L).as("bloom_pass"))
      val exact = probe.join(build.distinct(),
          probe("l_orderkey") === build("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), lit(1L).as("exact_pass"))
      probe.join(hits, Seq("l_orderkey"), "left")
        .join(exact, Seq("l_orderkey"), "left")
        .agg(count(lit(1)).as("probed"),
          sum(coalesce(col("bloom_pass"), lit(0L))).as("bloom_pass"),
          sum(coalesce(col("exact_pass"), lit(0L))).as("exact_pass"),
          sum(when(col("exact_pass") === 1L && col("bloom_pass").isNull, 1L)
            .otherwise(0L)).as("false_neg"),
          sum(when(col("bloom_pass") === 1L && col("exact_pass").isNull, 1L)
            .otherwise(0L)).as("false_pos"))
    }, Some {
      def hexpos(src: String, h: Int) =
        s"""(instr('0123456789abcdef', substr(md5('$h:' || CAST($src AS VARCHAR)), 1, 1)) - 1) * 4096 +
            (instr('0123456789abcdef', substr(md5('$h:' || CAST($src AS VARCHAR)), 2, 1)) - 1) * 256 +
            (instr('0123456789abcdef', substr(md5('$h:' || CAST($src AS VARCHAR)), 3, 1)) - 1) * 16 +
            (instr('0123456789abcdef', substr(md5('$h:' || CAST($src AS VARCHAR)), 4, 1)) - 1)"""
      s"""
      WITH build AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 280000),
      bits AS (SELECT DISTINCT p FROM (
          SELECT ${hexpos("o_orderkey", 0)} AS p FROM build
          UNION ALL SELECT ${hexpos("o_orderkey", 1)} FROM build
          UNION ALL SELECT ${hexpos("o_orderkey", 2)} FROM build)),
      probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
      ph AS (SELECT l_orderkey, ${hexpos("l_orderkey", 0)} AS p FROM probe
        UNION ALL SELECT l_orderkey, ${hexpos("l_orderkey", 1)} FROM probe
        UNION ALL SELECT l_orderkey, ${hexpos("l_orderkey", 2)} FROM probe),
      hits AS (SELECT l_orderkey FROM ph JOIN bits USING (p)
        GROUP BY l_orderkey HAVING count(*) = 3),
      ex AS (SELECT DISTINCT l_orderkey FROM probe
        WHERE l_orderkey IN (SELECT o_orderkey FROM build))
      SELECT CAST(count(*) AS BIGINT) AS probed,
        CAST(sum(CASE WHEN h.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS bloom_pass,
        CAST(sum(CASE WHEN e.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS exact_pass,
        CAST(sum(CASE WHEN e.l_orderkey IS NOT NULL AND h.l_orderkey IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS false_neg,
        CAST(sum(CASE WHEN h.l_orderkey IS NOT NULL AND e.l_orderkey IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS false_pos
      FROM probe pr
      LEFT JOIN hits h ON pr.l_orderkey = h.l_orderkey
      LEFT JOIN ex e ON pr.l_orderkey = e.l_orderkey"""
    }),

    // -- Per-domain document caps (d30, the C4/RefinedWeb per-host limit):
    // keep at most 10 docs per domain, deterministically the 10 SMALLEST
    // doc_ids. The engine is a bounded-state typed Aggregator
    // (TopPerKey.minKAgg: buffer = ascending array of ≤K values, map-side
    // partial merges) — a hot domain never materializes its full doc list,
    // unlike collect_list + sort, and unlike a window rank it needs no
    // per-domain total sort. The twin is the window form (row_number ≤ K),
    // proving the bounded aggregator computes the identical kept set.
    ("d30_domain_cap", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("domain", expr(
          "concat('m', CAST(doc_id % 7 AS STRING), '.', lang, '.example')"))
      docs.groupBy("domain")
        .agg(engine.TopPerKey.minKCol(10)(col("doc_id")).as("kept"),
          count(lit(1)).as("n_docs"))
        .select(col("domain"), col("n_docs"), explode(col("kept")).as("doc_id"))
        .orderBy("domain", "doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id,
          'm' || CAST(doc_id % 7 AS VARCHAR) || '.' || lang || '.example' AS domain
        FROM documents),
      r AS (SELECT domain, doc_id,
          row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk,
          count(*) OVER (PARTITION BY domain) AS n_docs
        FROM d)
      SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, doc_id
      FROM r WHERE rk <= 10 ORDER BY domain, doc_id""")),

    // -- Interpolated Kneser–Ney bigram scoring (d31, Kneser & Ney 1995 /
    // Chen & Goodman 1999 — the smoothing KenLM uses, which is what CCNet
    // actually filters with; d14 is the unsmoothed MLE baseline):
    // P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1)·(N1+(·w2)/N1+(··))
    // with D = 0.75 (exact dyadic). All four count tables are
    // vocabulary-bounded and broadcast; the corpus pass is the d14 shape
    // (explode bigrams → broadcast joins → one per-doc re-aggregation);
    // per-position log-probs are fixed-point (floor(ln·1e4)) so document
    // sums are order-independent and cross-engine exact. Unlike MLE,
    // every in-vocabulary bigram — seen or not — gets positive mass, so
    // the score is defined for novel word pairs (the reason KN exists).
    ("d31_kn_bigram_lm", (s, dir) => {
      val docsW = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " ", -1))
      val big = docsW.where(size(col("ws")) >= 2)
        .select(col("doc_id"),
          expr("explode(sequence(1, size(ws) - 1))").as("i"), col("ws"))
        .withColumn("w1", expr("element_at(ws, i)"))
        .withColumn("w2", expr("element_at(ws, i + 1)"))
        .select("doc_id", "w1", "w2")
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val fol = c12.groupBy("w1").agg(count(lit(1)).as("n1f"))   // N1+(w1·)
      val pre = c12.groupBy("w2").agg(count(lit(1)).as("n1p"))   // N1+(·w2)
      val nbig = c12.agg(count(lit(1)).as("nbig"))               // N1+(··)
      big.join(broadcast(c12), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .join(broadcast(fol), Seq("w1"))
        .join(broadcast(pre), Seq("w2"))
        .crossJoin(broadcast(nbig))
        .withColumn("lp_e4", expr(
          "CAST(floor(ln(" +
            "greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) + " +
            "0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) * " +
            "(CAST(n1p AS DOUBLE) / CAST(nbig AS DOUBLE))" +
          ") * 10000.0) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("lp_e4").as("ll_sum_e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
            FROM w WHERE len(ws) >= 2),
      big AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM b),
      c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
      fol AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY 1),
      pre AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM c12 GROUP BY 1),
      nbig AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM c12),
      sc AS (SELECT doc_id,
          CAST(floor(ln(
            greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) +
            0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE) *
            (CAST(n1p AS DOUBLE) / CAST(nbig AS DOUBLE))
          ) * 10000.0) AS BIGINT) AS lp_e4
        FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        JOIN fol USING (w1) JOIN pre USING (w2) CROSS JOIN nbig)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum(lp_e4) AS BIGINT) AS ll_sum_e4
      FROM sc GROUP BY 1 ORDER BY doc_id"""))
  )

  val defs9: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    defs9a ++ defs9b

  private val CmTerms = Seq("spark", "join", "the", "vector", "zebra", "window")

  /** Shared d26/s07 reporting tail: estimate the fixed term set against a
    * cell table (batch-built or stream-built), join exact counts, emit the
    * overestimate-guarantee flag. One definition — the s07 gate's premise
    * is streamed ≡ batch, so the estimation pipeline must be shared, not
    * copied. */
  private def cmReport(s: SparkSession, dir: String,
                       cells: DataFrame): DataFrame = {
    val est = engine.CountMin.estimate(s, cells, CmTerms)
    val exact = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("exact"))
    est.join(broadcast(exact), est("term") === exact("w"), "left")
      .select(col("term"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        (col("est") >= coalesce(col("exact"), lit(0L))).cast("long").as("ge"))
      .orderBy("term")
  }

  /** Shared d26/s07 oracle: the relational count-min build + 6-term query
    * (the streamed sketch must equal the batch sketch exactly). */
  private def countMinOracle: String = """
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
      cells AS (SELECT r, substr(md5(CAST(r AS VARCHAR) || ':' || w), 1, 2) AS b,
          CAST(count(*) AS BIGINT) AS c
        FROM w CROSS JOIN rows_ GROUP BY 1, 2),
      q AS (SELECT unnest(['spark', 'join', 'the', 'vector', 'zebra', 'window']) AS term),
      qb AS (SELECT term, r, substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 2) AS b
        FROM q CROSS JOIN rows_),
      est AS (SELECT term, min(coalesce(c, 0)) AS est
        FROM qb LEFT JOIN cells USING (r, b) GROUP BY term),
      ex AS (SELECT w AS term, CAST(count(*) AS BIGINT) AS exact FROM w GROUP BY 1)
      SELECT term, CAST(est AS BIGINT) AS est,
        CAST(coalesce(exact, 0) AS BIGINT) AS exact,
        CAST(CASE WHEN est >= coalesce(exact, 0) THEN 1 ELSE 0 END AS BIGINT) AS ge
      FROM est LEFT JOIN ex USING (term) ORDER BY term"""

  /** The shared DuckDB replay of [[graft.engine.Bpe.train]]: CTE chain
    * wf → v0 → (t_i, g_i, p_i, m_i, v_{i+1})* — pair counts weighted by
    * word frequency, argmax with (cnt desc, p1, p2) tie-break, literal
    * bracketed replace. Returns the chain text up to v$NMerges / m_i. */
  private def bpeChainCtes: String = {
    // AS MATERIALIZED: v$i is referenced twice per level (pair-count branch
    // + the next apply); DuckDB would otherwise inline the chain into a
    // 2^NMerges-node plan.
    val iters = (0 until NMerges).map { i =>
      s"""
      t$i AS (SELECT word, f, string_split(substr(repr, 2, length(repr) - 2), '><') AS ts
        FROM v$i),
      g$i AS (SELECT f, unnest(generate_series(1, len(ts) - 1)) AS i, ts
        FROM t$i WHERE len(ts) >= 2),
      p$i AS (SELECT ts[i] AS p1, ts[i + 1] AS p2, CAST(sum(f) AS BIGINT) AS cnt
        FROM g$i GROUP BY 1, 2),
      m$i AS MATERIALIZED (SELECT p1, p2, cnt FROM p$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
      v${i + 1} AS MATERIALIZED (SELECT word, f,
          CASE WHEN m.p1 IS NULL THEN repr ELSE
            replace(repr, '<' || m.p1 || '><' || m.p2 || '>',
                    '<' || m.p1 || m.p2 || '>') END AS repr
        FROM v$i LEFT JOIN m$i m ON TRUE)"""
    }.mkString(",")
    s"""
      wf AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS f FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents) GROUP BY 1),
      v0 AS MATERIALIZED (SELECT word, f,
          regexp_replace(word, '(.)', '<\\1>', 'g') || '<_>' AS repr FROM wf),
      $iters"""
  }

  private def bpeTrainOracle: String = {
    val union = (0 until NMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, p1, p2, cnt FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH $bpeChainCtes SELECT * FROM ($union) ORDER BY step"
  }

  private def bpeEncodeOracle: String = {
    val applies = (0 until NMerges).map { i =>
      s"""
      r${i + 1} AS MATERIALIZED (SELECT doc_id, i,
          CASE WHEN m.p1 IS NULL THEN repr ELSE
            replace(repr, '<' || m.p1 || '><' || m.p2 || '>',
                    '<' || m.p1 || m.p2 || '>') END AS repr
        FROM r$i LEFT JOIN m$i m ON TRUE)"""
    }.mkString(",")
    s"""
      WITH $bpeChainCtes,
      dws AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
      dw AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
        FROM dws WHERE len(ws) >= 1),
      r0 AS (SELECT doc_id, i,
          regexp_replace(ws[i], '(.)', '<\\1>', 'g') || '<_>' AS repr FROM dw),
      $applies
      SELECT doc_id,
        CAST(sum(len(string_split(substr(repr, 2, length(repr) - 2), '><'))) AS BIGINT)
          AS n_tokens,
        md5(string_agg(repr, ' ' ORDER BY i)) AS tok_md5
      FROM r$NMerges GROUP BY doc_id ORDER BY doc_id"""
  }
}
