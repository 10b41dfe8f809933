package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, gf}

/** Approximate-nearest-neighbor over an embedding column: a deterministic
  * Lloyd's-k-means coarse quantizer feeding an IVF (inverted-file) probe +
  * exact-cosine refine. This is the bounded-candidate scale path for
  * similarity search — the candidate set per query is the union of `nprobe`
  * inverted lists, never the full corpus.
  *
  * Reference analog: the gridded/quadtree AOI walk that bounds gdal_grid's
  * neighbor search (/root/reference/alg/gdalgrid.cpp:348-430) — partition
  * space coarsely, probe only nearby partitions, score exactly inside.
  *
  * Scale shape (100 TB): centroids are k×dim doubles — driver-held and
  * bounded by design (like the ≤32k-bin palette histogram). Assignment is a
  * map-only projection against centroid *literals* (zero shuffle, stays in
  * whole-stage codegen via the native vec_dot kernel); the per-iteration
  * centroid update shuffles only k×dim keys after map-side partial
  * aggregation. The probe/refine join shuffles on cid — inverted lists,
  * not all-pairs.
  *
  * Determinism: init is a stride-by-id sample; every updated centroid
  * coordinate is rounded to 1e-6 (absolute), which swamps any
  * aggregation-order float noise so an independent engine replaying the
  * same recipe (the DuckDB oracle) reproduces bit-identical centroids,
  * assignments, and top-k.
  *
  * Every search is one pipeline written once below: candidates (an IVF
  * probe, or an ADC scan over PQ or SQ8 codes) → [[candidates]] window →
  * exact-cosine [[refine]].
  */
object Ann {

  /** sequential-fold L2 norm as a SQL snippet (the lambda-context twin of
    * gf.vec_norm — same left-to-right accumulation). */
  private def vecNormSql(embCol: String): String =
    s"sqrt(aggregate(transform(CAST($embCol AS array<double>), y -> y * y), 0D, (acc, v) -> acc + v))"

  /** Squared L2 distance between two array<double> SQL expressions, summed
    * left to right (the oracle's list_sum(list_transform(...)) order). */
  private def sqL2Sql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"

  /** round(x·1e6) as a BIGINT: scores are ranked in these integer
    * micro-units, so an independent engine ranks them identically. */
  private def micro(x: String): Column =
    expr(s"CAST(floor($x * 1000000.0 + 0.5) AS BIGINT)")

  // score(v, c) = c·c − 2·(v·c): monotone in squared L2 distance to the
  // centroid (the ‖v‖² term is constant per row and cannot change an
  // argmin); dots are sequential folds matching the oracle's
  // list_sum(list_transform(...)) order exactly. Evaluated inside the
  // fused VecNearestCid/VecProbeCids kernels below.

  /** The fused kernels' centroid literals: ids, vectors and their c·c. */
  private def centroidLits(cents: Seq[(Int, Array[Double])])
      : (Array[Int], Array[Array[Double]], Array[Double]) = {
    val cs = cents.map(_._2).toArray
    (cents.map(_._1).toArray, cs, cs.map(_.foldLeft(0.0)((a, x) => a + x * x)))
  }

  /** cid of the nearest centroid (ties → lowest cid). Map-only. Fused
    * into one native expression (functions.VecNearestCid): the previous
    * k-wide array_min(array(struct(vec_dot(...)))) tree generated Java
    * beyond Janino's method limits at realistic k×dim and silently fell
    * back to interpreted evaluation on the assignment map stage. */
  def nearestCid(emb: Column, cents: Seq[(Int, Array[Double])]): Column = {
    val (cids, cs, ccs) = centroidLits(cents)
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.VecNearestCid(
        org.apache.spark.sql.graft.ColumnBridge.expression(emb),
        cids, cs, ccs))
  }

  /** The `nprobe` nearest centroid ids, nearest first. Map-only; same
    * fused-expression rationale as [[nearestCid]]. */
  def probeCids(emb: Column, cents: Seq[(Int, Array[Double])], nprobe: Int): Column = {
    val (cids, cs, ccs) = centroidLits(cents)
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.VecProbeCids(
        org.apache.spark.sql.graft.ColumnBridge.expression(emb),
        cids, cs, ccs, nprobe))
  }

  /** Deterministic Lloyd's k-means: init = the first k vectors whose id is
    * a multiple of floor(n/k) (ordered by id), then `iters` fixed
    * iterations of assign (map-only, centroid literals) + elementwise-mean
    * update rounded to 1e-6. Empty clusters drop out (both engines drop
    * them identically via GROUP BY). Returns (cid, centroid) sorted by cid.
    *
    * `trainCap` bounds the TRAINING passes: the per-iteration assign+update
    * runs over a deterministic stride sample of ≈trainCap rows
    * (id % max(1, n/trainCap) == 0) instead of the full corpus — at 100 TB
    * the codebook trainer must not scan the corpus m×iters times (sampled
    * k-means training is the standard IVF/PQ practice; Jégou 2011 trains
    * on a learning subset). Init and the CALLER's final assignment remain
    * as before (assignment is always full-corpus, one map-only pass). */
  def kmeans(vecs: DataFrame, idCol: String, embCol: String,
             k: Int, iters: Int, trainCap: Long = Long.MaxValue): Seq[(Int, Array[Double])] = {
    GraftFunctions.register(vecs.sparkSession)
    val emb = col(embCol).cast("array<double>")
    val n = vecs.count()
    val stride = math.max(1L, n / k)
    val tStride = math.max(1L, n / trainCap)
    val train = if (tStride > 1L) vecs.where(col(idCol) % tStride === 0) else vecs
    var cents: Seq[(Int, Array[Double])] =
      vecs.where(col(idCol) % stride === 0).orderBy(idCol).limit(k)
        .select(emb.as("e")).collect().toIndexedSeq
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    for (_ <- 0 until iters) {
      val upd = train
        .select(nearestCid(emb, cents).as("cid"), posexplode(emb).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg((floor(avg("v") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("ce"))
        .collect()
      cents = upd.map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toIndexedSeq
    }
    cents
  }

  // ---- the shared pipeline steps ------------------------------------------

  /** (idCol, e, nm): the raw vector and its sequential-fold norm. */
  private def rawBase(vecs: DataFrame, idCol: String, embCol: String): DataFrame = {
    val emb = col(embCol).cast("array<double>")
    vecs.select(col(idCol), emb.as("e"), gf.vec_norm(emb).as("nm"))
  }

  /** The embedding on the unit sphere. Cosine ranking quantizes there:
    * after normalization squared L2 is 2 − 2cos, so a compressed-domain L2
    * ordering matches the cosine ordering up to quantization error (the
    * standard PQ-for-cosine setup). */
  private def unitVec(embCol: String): Column =
    expr(s"transform(CAST($embCol AS array<double>), x -> x / ${vecNormSql(embCol)})")

  /** Sub-space width dim/m of the embedding, refusing a ragged split. */
  private def subWidth(vecs: DataFrame, embCol: String, m: Int): Int = {
    val dim = vecs.select(size(col(embCol).cast("array<double>"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    dim / m
  }

  /** Per query the `candC` (qid, pid) pairs of least approximate distance
    * `ad_u` (ties → lowest pid). */
  private def candidates(approx: DataFrame, candC: Int): DataFrame = {
    val wCand = Window.partitionBy("qid").orderBy(col("ad_u").asc, col("pid").asc)
    approx.withColumn("crk", row_number().over(wCand))
      .where(col("crk") <= candC).select("qid", "pid")
  }

  /** Exact-cosine refine of (qid, pid, qe, qn, pe, pn) pairs: per query the
    * `topK` best by (cos desc, pid asc) as (qid, pid, rank, cos_u) with
    * cos_u = round(cos·1e6). */
  private def refine(pairs: DataFrame, topK: Int): DataFrame = {
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    pairs
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"), micro("cos").as("cos_u"))
  }

  /** [[refine]] of candidate (qid, pid) pairs against the raw vectors. */
  private def refineCandidates(cands: DataFrame, vecs: DataFrame, idCol: String,
                               embCol: String, isQuery: Column => Column,
                               topK: Int): DataFrame = {
    val raw = rawBase(vecs, idCol, embCol)
    val base = raw.select(col(idCol).as("pid"), col("e").as("pe"), col("nm").as("pn"))
    val qref = raw.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"))
    refine(cands.join(base, "pid").join(qref, "qid"), topK)
  }

  /** Product quantizer over `src` (idCol, lcid, v): the w-wide sub-space s
    * of v gets a deterministic [[kmeans]] codebook of k codewords, and every
    * vector is encoded as its m nearest-codeword ids (map-only, codebooks
    * are literals). Returns the codebooks as (s, code, cw) and the codes as
    * (pid, lcid, s, code). */
  private def productQuantize(src: DataFrame, idCol: String, m: Int, w: Int,
                              k: Int, iters: Int, trainCap: Long): (DataFrame, DataFrame) = {
    val spark = src.sparkSession
    import spark.implicits._
    def sub(s: Int) = slice(col("v"), s * w + 1, w)
    val books = (0 until m).map { s =>
      kmeans(src.select(col(idCol), sub(s).as("sub")), idCol, "sub", k, iters, trainCap)
    }
    val codeCols = books.zipWithIndex.map { case (cb, s) =>
      struct(lit(s).as("s"), nearestCid(sub(s), cb).as("code"))
    }
    val codes = src.select(col(idCol).as("pid"), col("lcid"),
        explode(array(codeCols: _*)).as("sc"))
      .select(col("pid"), col("lcid"), col("sc.s").as("s"), col("sc.code").as("code"))
    val bookDf = books.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, cw) => (s, cid, cw.toSeq) }
    }.toDF("s", "code", "cw")
    (bookDf, codes)
  }

  /** ADC scan (asymmetric distance computation): one distance table per
    * (query, probed list) row of `qvecs` (qid, lcid, qv) — the squared
    * sub-distance of every codeword to the query's sub-vector, one small
    * broadcast cross join — and each code in a probed list scores as the
    * sum of its m table entries, never touching the raw vectors. lcid is on
    * the join key, so the shuffle carries only the probed lists' codes. */
  private def adcScan(codes: DataFrame, bookDf: DataFrame, qvecs: DataFrame,
                      w: Int, candC: Int): DataFrame = {
    val dtab = qvecs.crossJoin(broadcast(bookDf))
      .select(col("qid"), col("lcid"), col("s"), col("code"),
        expr(sqL2Sql(s"slice(qv, s * $w + 1, $w)", "cw")).as("d"))
    val approx = codes.join(dtab, Seq("lcid", "s", "code"))
      .where(col("qid") =!= col("pid"))
      .groupBy("qid", "pid")
      .agg(micro("sum(d)").as("ad_u"))
    candidates(approx, candC)
  }

  /** PQ search: quantize `src` (idCol, lcid, v), ADC-scan the probed lists
    * of `qvecs` (qid, lcid, qv), refine the candidates exactly. */
  private def pqSearch(vecs: DataFrame, idCol: String, embCol: String,
                       isQuery: Column => Column, src: DataFrame, qvecs: DataFrame,
                       m: Int, w: Int, k: Int, iters: Int, candC: Int, topK: Int,
                       trainCap: Long): DataFrame = {
    val (bookDf, codes) = productQuantize(src, idCol, m, w, k, iters, trainCap)
    refineCandidates(adcScan(codes, bookDf, qvecs, w, candC),
      vecs, idCol, embCol, isQuery, topK)
  }

  /** PQ search over unit vectors: each vector in list `list`, each query
    * probing the lists of the array `probes` (both over the raw vector). */
  private def unitPqSearch(vecs: DataFrame, idCol: String, embCol: String,
                           isQuery: Column => Column, list: Column, probes: Column,
                           m: Int, w: Int, k: Int, iters: Int, candC: Int, topK: Int,
                           trainCap: Long): DataFrame = {
    val src = vecs.select(col(idCol), list.as("lcid"), unitVec(embCol).as("v"))
    val qvecs = vecs.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), explode(probes).as("lcid"), unitVec(embCol).as("qv"))
    pqSearch(vecs, idCol, embCol, isQuery, src, qvecs, m, w, k, iters, candC, topK, trainCap)
  }

  /** SQ8 scalar-quantized top-k — the uniform 8-bit scalar-quantization
    * tier of the ANN compression ladder (the public faiss
    * ScalarQuantizer QT_8bit form), completing brute → IVF → PQ → IVF-PQ
    * → residual with the simplest compressed representation:
    *
    *  1. TRAIN: per-dimension [min, max] over the unit-sphere corpus —
    *     ONE aggregation, 2×dim doubles of driver state;
    *  2. ENCODE: code_j = clamp(round((u_j − mn_j)/span_j · 255)) —
    *     map-only against the min/max literals; the stored form is dim
    *     BYTES per vector (8× cut vs float64);
    *  3. approximate score = squared L2 between RECONSTRUCTED unit
    *     vectors (mn_j + code_j·span_j/255) — a compressed-domain linear
    *     scan, the SQ analog of e05's ADC scan (labeled baseline; the
    *     IVF composition bounds it exactly as for PQ);
    *  4. candC best rounded-approx candidates re-ranked by exact cosine
    *     on the raw vectors (same refine as [[pqTopK]]).
    *
    * Approx distances round to 1e-6 before ranking (ties → pid) so an
    * independent engine reproduces the candidate sets bit-for-bit. */
  def sq8TopK(vecs: DataFrame, idCol: String, embCol: String,
              isQuery: Column => Column, candC: Int, topK: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val unit = vecs.select(col(idCol), unitVec(embCol).as("u"))
    val stats = unit.select(posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
      .orderBy("pos").collect()
    val mns = stats.map(_.getDouble(1)).toSeq
    val spans = stats.map(r => r.getDouble(2) - r.getDouble(1)).toSeq
    val withCodes = unit
      .withColumn("mns", typedLit(mns)).withColumn("sps", typedLit(spans))
      .withColumn("codes", expr(
        "zip_with(zip_with(u, mns, (x, a) -> x - a), sps, (d, sp) -> " +
          "IF(sp = 0D, 0L, least(255L, greatest(0L, floor(d / sp * 255.0 + 0.5)))))"))
      .withColumn("r", expr(
        "zip_with(zip_with(codes, sps, (c, sp) -> c * sp / 255.0), mns, (t, a) -> a + t)"))
      .select(col(idCol), col("r"))
    val q = withCodes.where(isQuery(col(idCol))).select(col(idCol).as("qid"), col("r").as("rq"))
    val p = withCodes.select(col(idCol).as("pid"), col("r").as("rp"))
    val approx = q.crossJoin(p).where(col("qid") =!= col("pid"))
      .select(col("qid"), col("pid"), micro(sqL2Sql("rq", "rp")).as("ad_u"))
    refineCandidates(candidates(approx, candC), vecs, idCol, embCol, isQuery, topK)
  }

  /** Product-quantization top-k (the PQ half of the IVF-PQ shape used for
    * web-scale ANN; Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — public method):
    *
    *  1. split the `dim` dimensions into `m` contiguous sub-spaces of
    *     width dim/m; train a deterministic k-means codebook per sub-space
    *     (reusing [[kmeans]] — same init/rounding recipe);
    *  2. ENCODE every vector as m codebook ids (map-only, codebooks are
    *     literals — at scale this is the 8·m-bit compressed corpus);
    *  3. per query build the ADC distance TABLE (m·k squared sub-distances,
    *     one small cross join), score every candidate as the SUM of table
    *     entries looked up by its codes — a join on (subspace, code), never
    *     touching the raw vectors;
    *  4. take `candC` best approximate candidates (approx distance rounded
    *     to 1e-6 so independent engines rank identically; ties → pid) and
    *     re-rank them by exact cosine → `topK`.
    *
    * This is IVF-PQ with one inverted list: every vector is in list 0 and
    * every query probes it.
    *
    * Scale: the approx pass streams CODES (m bytes/vector) instead of
    * dim·8 bytes — the 64× bandwidth cut that makes a 100 TB corpus
    * scannable; the exact refine touches only candC vectors per query. */
  def pqTopK(vecs: DataFrame, idCol: String, embCol: String,
             isQuery: Column => Column, m: Int, k: Int, iters: Int,
             candC: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    unitPqSearch(vecs, idCol, embCol, isQuery, lit(0), array(lit(0)),
      m, subWidth(vecs, embCol, m), k, iters, candC, topK, trainCap)
  }

  /** IVF-PQ: the full web-scale composition — the coarse IVF quantizer
    * bounds the candidate set to `nprobe` inverted lists, PQ codes score
    * the list members in the compressed domain (ADC tables), and the best
    * `candC` re-rank by exact cosine. Global PQ codebooks over unit
    * vectors (the IVFFlat-PQ simplification; per-list residual codebooks
    * are the classic refinement, traded here for oracle-replayable
    * determinism). At scale: lists bound the scan, codes bound the
    * bandwidth, the refine touches candC raw vectors per query. The ADC
    * table entries are list-independent (global codebooks), so one table
    * per probed list changes the plan, not the values. */
  def ivfPqTopK(vecs: DataFrame, idCol: String, embCol: String,
                isQuery: Column => Column, kCoarse: Int, itersCoarse: Int,
                nprobe: Int, m: Int, k: Int, iters: Int,
                candC: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val rawEmb = col(embCol).cast("array<double>")
    val w = subWidth(vecs, embCol, m)
    val coarse = kmeans(vecs, idCol, embCol, kCoarse, itersCoarse, trainCap)
    unitPqSearch(vecs, idCol, embCol, isQuery, nearestCid(rawEmb, coarse),
      probeCids(rawEmb, coarse, nprobe), m, w, k, iters, candC, topK, trainCap)
  }

  /** Residual IVF-PQ — the classic form (Jégou et al. 2011 §IV): PQ
    * codebooks are trained on RESIDUALS v − c(v) (the coarse centroid is
    * subtracted first, so the codebooks only have to cover the
    * within-cell displacement — far finer at the same bit budget), and
    * each query builds one ADC table PER PROBED LIST from its own
    * residual q − c_list. Everything stays deterministic: coarse
    * centroids are micro-rounded, residuals are exact differences, and
    * the approx scores round to integers. */
  def ivfPqResidualTopK(vecs: DataFrame, idCol: String, embCol: String,
                        isQuery: Column => Column, kCoarse: Int, itersCoarse: Int,
                        nprobe: Int, m: Int, k: Int, iters: Int,
                        candC: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val rawEmb = col(embCol).cast("array<double>")
    val w = subWidth(vecs, embCol, m)
    val coarse = kmeans(vecs, idCol, embCol, kCoarse, itersCoarse, trainCap)
    // residual v − c(list); centroid looked up from a literal map by cid
    // (kmeans can drop empty clusters, so cids need not be contiguous)
    val centMap = typedLit(coarse.map { case (cid, c) => cid -> c.toSeq }.toMap)
    def resid(v: Column, list: Column) = zip_with(v, element_at(centMap, list), (x, y) => x - y)
    val src = vecs.select(col(idCol), rawEmb.as("e"), nearestCid(rawEmb, coarse).as("lcid"))
      .select(col(idCol), col("lcid"), resid(col("e"), col("lcid")).as("v"))
    val qvecs = vecs.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), rawEmb.as("e"),
        explode(probeCids(rawEmb, coarse, nprobe)).as("lcid"))
      .select(col("qid"), col("lcid"), resid(col("e"), col("lcid")).as("qv"))
    pqSearch(vecs, idCol, embCol, isQuery, src, qvecs, m, w, k, iters, candC, topK, trainCap)
  }

  /** IVF postings (pid, pe, pn, cid): every vector with its norm in its
    * nearest centroid's inverted list. */
  private def ivfPostings(vecs: DataFrame, idCol: String, embCol: String,
                          cents: Seq[(Int, Array[Double])]): DataFrame =
    rawBase(vecs, idCol, embCol).select(col(idCol).as("pid"), col("e").as("pe"),
      col("nm").as("pn"), nearestCid(col("e"), cents).as("cid"))

  /** IVF probe: each query joins the postings of its `nprobe` nearest
    * lists on cid, and the members are refined exactly. */
  private def ivfProbe(vecs: DataFrame, idCol: String, embCol: String,
                       isQuery: Column => Column, cents: Seq[(Int, Array[Double])],
                       postings: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    val probes = rawBase(vecs, idCol, embCol).where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"),
        explode(probeCids(col("e"), cents, nprobe)).as("cid"))
    refine(probes.join(postings, "cid").where(col("qid") =!= col("pid")), topK)
  }

  /** IVF top-k: every vector joins its nearest centroid's inverted list;
    * each query probes the `nprobe` nearest lists and ranks candidates by
    * exact cosine (ties → lowest pid). Output: (qid, pid, rank, cos_u)
    * with cos_u = round(cos·1e6). Self-matches are excluded. */
  def ivfTopK(vecs: DataFrame, idCol: String, embCol: String,
              isQuery: Column => Column, k: Int, iters: Int,
              nprobe: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    val cents = kmeans(vecs, idCol, embCol, k, iters, trainCap)
    ivfProbe(vecs, idCol, embCol, isQuery, cents,
      ivfPostings(vecs, idCol, embCol, cents), nprobe, topK)
  }

  /** Persist an IVF index as TABLES — the Spark-native take on "build the
    * index once, query it many times": `centroids` (cid, ce) is the k×dim
    * driver-state codebook, `postings` (pid, pe, pn, cid) is the corpus
    * with its coarse assignment, written **hive-partitioned by cid** so
    * the on-disk layout IS the inverted lists — an nprobe query reads
    * only the probed lists' files (partition pruning at the scan), never
    * the whole corpus. Build cost = one kmeans + one map-only assignment
    * pass + one write. */
  def ivfBuildIndex(vecs: DataFrame, idCol: String, embCol: String,
                    k: Int, iters: Int, dir: String,
                    trainCap: Long = Long.MaxValue): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = kmeans(vecs, idCol, embCol, k, iters, trainCap)
    cents.map { case (cid, ce) => (cid, ce.toSeq) }.toDF("cid", "ce")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    ivfPostings(vecs, idCol, embCol, cents)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/postings")
  }

  /** Query a persisted IVF index WITHOUT retraining: reload the codebook
    * (k×dim driver state), probe nprobe lists per query, join the
    * cid-partitioned postings (the probed-cid predicate prunes at the
    * scan) and refine by exact cosine — bit-identical to [[ivfTopK]] run
    * in one session (parquet round-trips doubles losslessly). */
  def ivfQueryIndex(dir: String, vecs: DataFrame, idCol: String, embCol: String,
                    isQuery: Column => Column, nprobe: Int, topK: Int): DataFrame = {
    val spark = vecs.sparkSession
    GraftFunctions.register(spark)
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toIndexedSeq
    val postings = spark.read.parquet(s"$dir/postings")
      .select(col("pid"), col("pe"), col("pn"), col("cid"))
    ivfProbe(vecs, idCol, embCol, isQuery, cents, postings, nprobe, topK)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate removal over an embedding column. Cluster the corpus
    * with the deterministic [[kmeans]] trainer, then WITHIN each cluster
    * remove every vector that has a lower-id neighbor at cosine ≥ tau.
    * The paper keeps one representative per within-cluster epsilon-ball;
    * our deterministic tie rule keeps the lowest id (the same min-id
    * canonical rule as the d09 near-dup clusters), so an independent
    * engine replaying the recipe reproduces the kept set bit-for-bit —
    * the threshold compares *integer* micro-cosines (floor(cos·1e6+0.5)),
    * never raw doubles, so threshold-edge pairs cannot diverge.
    *
    * Scale shape (100 TB): the pairwise stage self-joins ON THE CLUSTER
    * KEY — cluster-bounded, never corpus-quadratic — and SemDeDup's own
    * scaling argument applies: k grows with corpus size (the paper uses
    * ~100k clusters for LAION) so per-cluster candidate sets stay
    * bounded. `maxCluster` makes that bound explicit: if any cluster
    * exceeds it the job REFUSES loudly (report-and-refuse, same contract
    * as the LSH hot-bucket guard and the sieve cluster cap) instead of
    * silently going quadratic. Assignment is map-only against centroid
    * literals; the only shuffles are the cid-keyed self-join and the
    * k×dim-bounded training updates.
    *
    * Returns one row per input vector: (vec_id, cid, kept, n_dups,
    * dup_lo) where n_dups counts lower-id cluster neighbors at ≥ tau and
    * dup_lo is the lowest such id (= vec_id when kept). */
  def semDedup(vecs: DataFrame, idCol: String, embCol: String,
               k: Int, iters: Int, tauU: Long,
               trainCap: Long = Long.MaxValue,
               maxCluster: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val cents = kmeans(vecs, idCol, embCol, k, iters, trainCap)
    // persisted: the guard count, the lo/hi self-join (two scans) and the
    // final left-join would otherwise each recompute the full-corpus
    // assignment pass. At cluster scale, materialize this to a table
    // instead (the e10 postings pattern) — persist is the single-node
    // equivalent.
    val assigned = rawBase(vecs, idCol, embCol)
      .select(col(idCol).cast("long").as("vec_id"), col("e"), col("nm"))
      .withColumn("cid", nearestCid(col("e"), cents))
      .persist()
    if (maxCluster != Long.MaxValue) {
      val over = assigned.groupBy("cid").count()
        .where(col("count") > maxCluster).count()
      require(over == 0L, s"semDedup: $over cluster(s) exceed " +
        s"maxCluster=$maxCluster — raise k (SemDeDup scales k with corpus " +
        "size) or the cap; refusing a quadratic cluster scan")
    }
    val lo = assigned.select(col("cid"), col("vec_id").as("lo"),
      col("e").as("le"), col("nm").as("ln"))
    val hi = assigned.select(col("cid"), col("vec_id").as("hi"),
      col("e").as("he"), col("nm").as("hn"))
    val dups = lo.join(hi, "cid").where(col("lo") < col("hi"))
      .withColumn("cos", gf.vec_dot(col("le"), col("he")) / (col("ln") * col("hn")))
      .withColumn("cos_u", micro("cos"))
      .where(col("cos_u") >= tauU)
      .groupBy("hi")
      .agg(count(lit(1)).as("n_dups"), min("lo").as("dup_lo"))
    // the per-vector result is small: materialized here, so the
    // full-corpus assignment cache (embeddings included) can be released
    // before returning instead of staying pinned for the session
    val out = assigned.select(col("vec_id"), col("cid").cast("long").as("cid"))
      .join(dups, col("vec_id") === col("hi"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("hi").isNull, 1L).otherwise(0L).as("kept"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dup_lo"), col("vec_id")).as("dup_lo"))
      .persist()
    out.count()
    assigned.unpersist(blocking = false)
    out
  }
}
