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
  */
object Ann {

  /** sequential-fold L2 norm as a SQL snippet (the lambda-context twin of
    * gf.vec_norm — same left-to-right accumulation). */
  private def vecNormSql(embCol: String): String =
    s"sqrt(aggregate(transform(CAST($embCol AS array<double>), y -> y * y), 0D, (acc, v) -> acc + v))"

  // score(v, c) = c·c − 2·(v·c): monotone in squared L2 distance to the
  // centroid (the ‖v‖² term is constant per row and cannot change an
  // argmin); dots are sequential folds matching the oracle's
  // list_sum(list_transform(...)) order exactly. Evaluated inside the
  // fused VecNearestCid/VecProbeCids kernels below.

  /** cid of the nearest centroid (ties → lowest cid). Map-only. Fused
    * into one native expression (functions.VecNearestCid): the previous
    * k-wide array_min(array(struct(vec_dot(...)))) tree generated Java
    * beyond Janino's method limits at realistic k×dim and silently fell
    * back to interpreted evaluation on the assignment map stage. */
  def nearestCid(emb: Column, cents: Seq[(Int, Array[Double])]): Column = {
    val cids = cents.map(_._1).toArray
    val cs = cents.map(_._2).toArray
    val ccs = cs.map(_.foldLeft(0.0)((a, x) => a + x * x))
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.VecNearestCid(
        org.apache.spark.sql.graft.ColumnBridge.expression(emb),
        cids, cs, ccs))
  }

  /** The `nprobe` nearest centroid ids, nearest first. Map-only; same
    * fused-expression rationale as [[nearestCid]]. */
  def probeCids(emb: Column, cents: Seq[(Int, Array[Double])], nprobe: Int): Column = {
    val cids = cents.map(_._1).toArray
    val cs = cents.map(_._2).toArray
    val ccs = cs.map(_.foldLeft(0.0)((a, x) => a + x * x))
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
    val spark = vecs.sparkSession
    GraftFunctions.register(spark)
    val rawEmb = col(embCol).cast("array<double>")
    val unit = vecs.select(col(idCol),
      expr(s"transform(CAST($embCol AS array<double>), x -> x / ${vecNormSql(embCol)})").as("u"))
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
    val rawBase = vecs.select(col(idCol), rawEmb.as("e"), gf.vec_norm(rawEmb).as("nm"))
    val q = rawBase.where(isQuery(col(idCol))).join(withCodes, idCol)
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"),
        col("r").as("rq"))
    val p = withCodes.select(col(idCol).as("pid"), col("r").as("rp"))
    val approx = q.crossJoin(p).where(col("qid") =!= col("pid"))
      .select(col("qid"), col("pid"), expr(
        "CAST(floor(aggregate(zip_with(rq, rp, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, v) -> acc + v) * 1000000.0 + 0.5) AS BIGINT)").as("ad_u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad_u").asc, col("pid").asc)
    val cands = approx.withColumn("crk", row_number().over(wCand))
      .where(col("crk") <= candC).select("qid", "pid")
    val base = rawBase.select(col(idCol).as("pid"), col("e").as("pe"), col("nm").as("pn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    cands.join(base, "pid").join(q, "qid")
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
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
    * Scale: the approx pass streams CODES (m bytes/vector) instead of
    * dim·8 bytes — the 64× bandwidth cut that makes a 100 TB corpus
    * scannable; the exact refine touches only candC vectors per query. */
  def pqTopK(vecs: DataFrame, idCol: String, embCol: String,
             isQuery: Column => Column, m: Int, k: Int, iters: Int,
             candC: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val rawEmb = col(embCol).cast("array<double>")
    val dim = vecs.select(size(rawEmb)).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val w = dim / m
    // cosine ranking → quantize on the UNIT SPHERE: after normalization,
    // squared L2 is 2−2cos, so the ADC ordering matches the cosine
    // ordering up to quantization error (the standard PQ-for-cosine setup)
    val unit = vecs.select(col(idCol),
      expr(s"transform(CAST($embCol AS array<double>), x -> x / ${vecNormSql(embCol)})").as("u"))
    val emb = col("u")

    // 1. per-sub-space codebooks (deterministic kmeans on the slices)
    val books: Seq[(Int, Seq[(Int, Array[Double])])] = (0 until m).map { s =>
      (s, kmeans(unit.select(col(idCol), slice(emb, s * w + 1, w).as("sub")),
        idCol, "sub", k, iters, trainCap))
    }

    // 2. encode: m nearest-codeword ids per vector, exploded to (pid, s, code)
    val codeCols = books.map { case (s, cb) =>
      struct(lit(s).as("s"), nearestCid(slice(emb, s * w + 1, w), cb).as("code"))
    }
    val codes = unit.select(col(idCol).as("pid"),
        explode(array(codeCols: _*)).as("sc"))
      .select(col("pid"), col("sc.s").as("s"), col("sc.code").as("code"))

    // 3. per-query ADC tables: (qid, s, code, d) over the m·k codewords
    val bookRows = books.flatMap { case (s, cb) =>
      cb.map { case (cid, cw) => (s, cid, cw.toSeq) }
    }
    val bookDf = bookRows.toDF("s", "code", "cw")
    val rawBase = vecs.select(col(idCol), rawEmb.as("e"), gf.vec_norm(rawEmb).as("nm"))
    val queries = rawBase.where(isQuery(col(idCol)))
      .join(unit, idCol)
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"),
        col("u").as("uq"))
    val dtab = queries.crossJoin(broadcast(bookDf))
      .select(col("qid"), col("s"), col("code"),
        expr(s"aggregate(zip_with(slice(uq, s * $w + 1, $w), cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)").as("d"))

    // approximate distance = sum of the m table entries for the candidate's
    // codes; rounded so ranking is engine-independent
    val approx = codes.join(dtab, Seq("s", "code"))
      .where(col("qid") =!= col("pid"))
      .groupBy("qid", "pid")
      .agg(expr("CAST(floor(sum(d) * 1000000.0 + 0.5) AS BIGINT)").as("ad_u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad_u").asc, col("pid").asc)
    val cands = approx.withColumn("crk", row_number().over(wCand))
      .where(col("crk") <= candC).select("qid", "pid", "ad_u")

    // 4. exact-cosine refine of the candidates only (raw vectors)
    val base = rawBase.select(col(idCol).as("pid"), col("e").as("pe"),
      col("nm").as("pn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    cands.join(base, "pid").join(queries, "qid")
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
  }

  /** IVF-PQ: the full web-scale composition — the coarse IVF quantizer
    * bounds the candidate set to `nprobe` inverted lists, PQ codes score
    * the list members in the compressed domain (ADC tables), and the best
    * `candC` re-rank by exact cosine. Global PQ codebooks over unit
    * vectors (the IVFFlat-PQ simplification; per-list residual codebooks
    * are the classic refinement, traded here for oracle-replayable
    * determinism). At scale: lists bound the scan, codes bound the
    * bandwidth, the refine touches candC raw vectors per query. */
  def ivfPqTopK(vecs: DataFrame, idCol: String, embCol: String,
                isQuery: Column => Column, kCoarse: Int, itersCoarse: Int,
                nprobe: Int, m: Int, k: Int, iters: Int,
                candC: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val rawEmb = col(embCol).cast("array<double>")
    val dim = vecs.select(size(rawEmb)).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val w = dim / m
    val coarse = kmeans(vecs, idCol, embCol, kCoarse, itersCoarse, trainCap)
    val unit = vecs.select(col(idCol),
      expr(s"transform(CAST($embCol AS array<double>), x -> x / ${vecNormSql(embCol)})").as("u"))
    val emb = col("u")
    val books = (0 until m).map { s =>
      (s, kmeans(unit.select(col(idCol), slice(emb, s * w + 1, w).as("sub")),
        idCol, "sub", k, iters, trainCap))
    }
    val codeCols = books.map { case (s, cb) =>
      struct(lit(s).as("s"), nearestCid(slice(emb, s * w + 1, w), cb).as("code"))
    }
    // codes carry the coarse list id so the ADC join is list-bounded
    val codes = vecs.select(col(idCol).as("pid"),
        nearestCid(rawEmb, coarse).as("lcid"))
      .join(unit.select(col(idCol).as("pid"),
        explode(array(codeCols: _*)).as("sc")), "pid")
      .select(col("pid"), col("lcid"), col("sc.s").as("s"), col("sc.code").as("code"))
    val bookDf = books.flatMap { case (s, cb) =>
      cb.map { case (cid, cw) => (s, cid, cw.toSeq) }
    }.toDF("s", "code", "cw")
    val rawBase = vecs.select(col(idCol), rawEmb.as("e"), gf.vec_norm(rawEmb).as("nm"))
    // one row per (query, probed list): the explode puts the coarse list id
    // on the JOIN KEY so the ADC join below is list-bounded — the shuffle
    // carries only codes whose lcid is actually probed, never all-pairs in
    // the compressed domain (same shape as ivfPqResidualTopK). The ADC
    // table entries are list-independent (global codebooks), so replicating
    // them per probed lcid changes the plan, not the values.
    val queries = rawBase.where(isQuery(col(idCol)))
      .join(unit, idCol)
      .select(col(idCol).as("qid"), col("u").as("uq"),
        explode(probeCids(col("e"), coarse, nprobe)).as("lcid"))
    val dtab = queries.crossJoin(broadcast(bookDf))
      .select(col("qid"), col("lcid"), col("s"), col("code"),
        expr(s"aggregate(zip_with(slice(uq, s * $w + 1, $w), cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)").as("d"))
    val approx = codes.join(dtab, Seq("lcid", "s", "code"))
      .where(col("qid") =!= col("pid"))
      .groupBy("qid", "pid")
      .agg(expr("CAST(floor(sum(d) * 1000000.0 + 0.5) AS BIGINT)").as("ad_u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad_u").asc, col("pid").asc)
    val cands = approx.withColumn("crk", row_number().over(wCand))
      .where(col("crk") <= candC).select("qid", "pid")
    val base = rawBase.select(col(idCol).as("pid"), col("e").as("pe"), col("nm").as("pn"))
    val qref = rawBase.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    cands.join(base, "pid")
      .join(qref, "qid")
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
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
    val spark = vecs.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val rawEmb = col(embCol).cast("array<double>")
    val dim = vecs.select(size(rawEmb)).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val w = dim / m
    val coarse = kmeans(vecs, idCol, embCol, kCoarse, itersCoarse, trainCap)
    // residual r = v − c(v); centroid looked up from a literal map by cid
    // (kmeans can drop empty clusters, so cids need not be contiguous)
    val centMap = typedLit(coarse.map { case (cid, c) => cid -> c.toSeq }.toMap)
    val residWithMap = vecs.select(col(idCol), rawEmb.as("e"))
      .withColumn("cmap", centMap)
      .withColumn("lcid", nearestCid(col("e"), coarse))
      .withColumn("r", expr("zip_with(e, element_at(cmap, lcid), (x, y) -> x - y)"))
      .select(col(idCol), col("lcid"), col("r"))
    val books = (0 until m).map { s =>
      (s, kmeans(residWithMap.select(col(idCol), slice(col("r"), s * w + 1, w).as("sub")),
        idCol, "sub", k, iters, trainCap))
    }
    val codeCols = books.map { case (s, cb) =>
      struct(lit(s).as("s"), nearestCid(slice(col("r"), s * w + 1, w), cb).as("code"))
    }
    val codes = residWithMap.select(col(idCol).as("pid"), col("lcid"),
        explode(array(codeCols: _*)).as("sc"))
      .select(col("pid"), col("lcid"), col("sc.s").as("s"), col("sc.code").as("code"))
    val bookDf = books.flatMap { case (s, cb) =>
      cb.map { case (cid, cw) => (s, cid, cw.toSeq) }
    }.toDF("s", "code", "cw")
    val rawBase = vecs.select(col(idCol), rawEmb.as("e"), gf.vec_norm(rawEmb).as("nm"))
    val queries = rawBase.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"),
        explode(probeCids(col("e"), coarse, nprobe)).as("lcid"))
      .withColumn("cmap", centMap)
      .withColumn("qr", expr("zip_with(qe, element_at(cmap, lcid), (x, y) -> x - y)"))
      .drop("cmap")
    // one ADC table per (query, probed list): residual vs codeword
    val dtab = queries.select("qid", "lcid", "qr").crossJoin(broadcast(bookDf))
      .select(col("qid"), col("lcid"), col("s"), col("code"),
        expr(s"aggregate(zip_with(slice(qr, s * $w + 1, $w), cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)").as("d"))
    val approx = codes.join(dtab, Seq("lcid", "s", "code"))
      .where(col("qid") =!= col("pid"))
      .groupBy("qid", "pid")
      .agg(expr("CAST(floor(sum(d) * 1000000.0 + 0.5) AS BIGINT)").as("ad_u"))
    val wCand = Window.partitionBy("qid").orderBy(col("ad_u").asc, col("pid").asc)
    val cands = approx.withColumn("crk", row_number().over(wCand))
      .where(col("crk") <= candC).select("qid", "pid")
    val base = rawBase.select(col(idCol).as("pid"), col("e").as("pe"), col("nm").as("pn"))
    val qref = rawBase.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    cands.join(base, "pid").join(qref, "qid")
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
  }

  /** IVF top-k: every vector joins its nearest centroid's inverted list;
    * each query probes the `nprobe` nearest lists and ranks candidates by
    * exact cosine (ties → lowest pid). Output: (qid, pid, rank, cos_u)
    * with cos_u = round(cos·1e6). Self-matches are excluded. */
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
    val emb = col(embCol).cast("array<double>")
    vecs.select(col(idCol).as("pid"), emb.as("pe"),
        gf.vec_norm(emb).as("pn"), nearestCid(emb, cents).as("cid"))
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
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).toIndexedSeq
    val postings = spark.read.parquet(s"$dir/postings")
      .select(col("pid"), col("pe"), col("pn"), col("cid"))
    val emb = col(embCol).cast("array<double>")
    val probes = vecs.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), emb.as("qe"), gf.vec_norm(emb).as("qn"),
        explode(probeCids(emb, cents, nprobe)).as("cid"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    probes.join(postings, "cid")
      .where(col("qid") =!= col("pid"))
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
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
    val emb = col(embCol).cast("array<double>")
    // persisted: the guard count, the lo/hi self-join (two scans) and the
    // final left-join would otherwise each recompute the full-corpus
    // assignment pass. At cluster scale, materialize this to a table
    // instead (the e10 postings pattern) — persist is the single-node
    // equivalent.
    val assigned = vecs.select(col(idCol).cast("long").as("vec_id"),
        emb.as("e"), gf.vec_norm(emb).as("nm"))
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
      .withColumn("cos_u", expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)"))
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

  def ivfTopK(vecs: DataFrame, idCol: String, embCol: String,
              isQuery: Column => Column, k: Int, iters: Int,
              nprobe: Int, topK: Int, trainCap: Long = Long.MaxValue): DataFrame = {
    val cents = kmeans(vecs, idCol, embCol, k, iters, trainCap)
    val emb = col(embCol).cast("array<double>")
    val base = vecs.select(col(idCol), emb.as("e"),
      gf.vec_norm(emb).as("nm"))
    val assigned = base.select(col(idCol).as("pid"), col("e").as("pe"),
      col("nm").as("pn"), nearestCid(col("e"), cents).as("cid"))
    val probes = base.where(isQuery(col(idCol)))
      .select(col(idCol).as("qid"), col("e").as("qe"), col("nm").as("qn"),
        explode(probeCids(col("e"), cents, nprobe)).as("cid"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    probes.join(assigned, "cid")
      .where(col("qid") =!= col("pid"))
      .withColumn("cos", gf.vec_dot(col("qe"), col("pe")) / (col("qn") * col("pn")))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("pid"), col("rank"),
        expr("CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)").as("cos_u"))
  }
}
