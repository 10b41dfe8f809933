package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Multidimensional array (MDArray) with LAZY views — the reference's last
  * declared-out-of-scope subsystem (GDALMDArray::GetView,
  * /root/reference/gcore/multidim/gdalmultidim_array_view.cpp:743-792:
  * NumPy-style spec string with integer indexing, start:stop:step slices,
  * negative steps, ellipsis and newaxis; GDALMDArray::Transpose,
  * /root/reference/gcore/multidim/gdalmultidim_array_transposed.cpp).
  *
  * GDAL evaluates views lazily on a single machine: a view object rewrites
  * each Read() window into base-array windows. The Spark-native analog:
  *
  *  - storage is a Dataset of CHUNKS — (cid: Long = linear chunk-grid
  *    index, data: Array[Double] row-major over the chunk's local extents).
  *    Edge chunks are partial (no padding). A chunk is the unit of
  *    distribution, exactly like a raster tile (Raster.scala) — at 100 TB
  *    the chunk table is just a big DataFrame, never driver-resident.
  *  - a view is a PURE DESCRIPTOR (per-view-dim affine map onto base dims
  *    + integer-pinned base dims) composed on the driver in O(#dims);
  *    NOTHING is computed until `materialize()`.
  *  - materialize() maps each OUTPUT chunk to the bounded set of base
  *    chunks its affine footprint touches, joins chunk-to-chunk, and
  *    assembles per output chunk — one shuffle, replication bounded by
  *    |step| · chunk-size ratio, no element-wise explode.
  *
  * Supported spec grammar (GetView parity): `[a]` integer index (drops the
  * dim), `[a:b:c]` slice with optional parts and negative step
  * (`[::-1]` reverses), `...` ellipsis, `newaxis`. Negative integer
  * indices/bounds count from the end (NumPy semantics, matching the
  * reference's GDALSlicedMDArray).
  */
object MdArray {

  /** Per-view-dim affine read: base_coord(map(d)) = off(d) + v * step(d);
    * map(d) == -1 marks a newaxis (size-1, reads nothing). `fixed` pins
    * integer-indexed base dims to a constant coordinate. */
  final case class View(shape: Array[Long], map: Array[Int],
                        off: Array[Long], step: Array[Long],
                        fixed: Array[(Int, Long)]) {
    def isIdentity(baseShape: Array[Long]): Boolean =
      fixed.isEmpty && shape.length == baseShape.length &&
        map.zipWithIndex.forall { case (b, d) => b == d } &&
        off.forall(_ == 0L) && step.forall(_ == 1L) &&
        shape.sameElements(baseShape)
  }

  def identityView(shape: Array[Long]): View =
    View(shape.clone(), Array.tabulate(shape.length)(identity),
      Array.fill(shape.length)(0L), Array.fill(shape.length)(1L), Array.empty)

  /** Chunk-grid helpers: grid(d) = ceil(shape(d) / chunk(d)); cid is the
    * row-major linear index over the grid. */
  private[engine] def gridDims(shape: Array[Long], chunk: Array[Int]): Array[Long] =
    shape.indices.map(d => (shape(d) + chunk(d) - 1) / chunk(d)).toArray

  private[engine] def linearize(idx: Array[Long], grid: Array[Long]): Long = {
    var cid = 0L; var d = 0
    while (d < grid.length) { cid = cid * grid(d) + idx(d); d += 1 }
    cid
  }

  private[engine] def delinearize(cid: Long, grid: Array[Long]): Array[Long] = {
    val idx = new Array[Long](grid.length)
    var r = cid; var d = grid.length - 1
    while (d >= 0) { idx(d) = r % grid(d); r /= grid(d); d -= 1 }
    idx
  }

  /** Local extents of chunk `idx` (edge chunks are partial). */
  private[engine] def extents(idx: Array[Long], shape: Array[Long],
                              chunk: Array[Int]): Array[Int] =
    shape.indices.map(d =>
      math.min(chunk(d).toLong, shape(d) - idx(d) * chunk(d)).toInt).toArray

  /** Create a materialized array from a closed-form generator — distributed:
    * one task per chunk, no driver-side data. */
  def create(spark: SparkSession, shape: Array[Long], chunk: Array[Int])
            (f: Array[Long] => Double): MdArray = {
    import spark.implicits._
    val grid = gridDims(shape, chunk)
    val n = grid.product
    val (sh, ch, gr) = (shape, chunk, grid)
    val chunks = spark.range(n).map { cid =>
      val idx = delinearize(cid, gr)
      val ext = extents(idx, sh, ch)
      val len = ext.product
      val data = new Array[Double](len)
      val coord = new Array[Long](sh.length)
      var i = 0
      while (i < len) {
        var r = i; var d = sh.length - 1
        while (d >= 0) { coord(d) = idx(d) * ch(d) + r % ext(d); r /= ext(d); d -= 1 }
        data(i) = f(coord)
        i += 1
      }
      (cid, data)
    }.toDF("cid", "data")
    new MdArray(spark, shape.clone(), chunk.clone(), chunks, identityView(shape))
  }

  /** Multidimensional mosaic — gdal mdim mosaic
    * (/root/reference/apps/gdalalg_mdim_mosaic.cpp): place each input
    * array at its integer offset in a common output grid. The reference
    * resolves offsets from regularly-spaced 1-D indexing variables
    * (off_d = (start_in − start_out)/spacing, validated per dimension);
    * this API takes the resolved offsets. Later inputs win where they
    * overlap; cells covered by no input take `fill`; input cells falling
    * outside the output shape are clipped.
    *
    * One shuffle: every source chunk is mapped to the output chunks its
    * global footprint intersects (chunk-granular, never per cell) and the
    * pieces are assembled per output chunk — the standard re-chunk plan,
    * so a 10^12-cell mosaic moves each byte once. */
  def mosaic(spark: SparkSession, inputs: Seq[(MdArray, Array[Long])],
             shape: Array[Long], chunk: Array[Int],
             fill: Double = Double.NaN): MdArray = {
    import spark.implicits._
    val rank = shape.length
    require(inputs.nonEmpty && inputs.forall(_._2.length == rank))
    val oShape = shape.clone(); val oChunk = chunk.clone()
    val oGrid = gridDims(oShape, oChunk)
    val pieces = inputs.zipWithIndex.map { case ((arrIn, offIn), k) =>
      val arr = arrIn.materialize()
      val bShape = arr.baseShape; val bChunk = arr.chunk
      val bGrid = gridDims(bShape, bChunk)
      val off = offIn.clone()
      arr.chunks.as[(Long, Array[Double])].flatMap { case (cid, data) =>
        val idx = delinearize(cid, bGrid)
        val ext = extents(idx, bShape, bChunk)
        val glo = Array.tabulate(rank)(d => off(d) + idx(d) * bChunk(d))
        // output-chunk index box this source chunk touches (after clipping)
        val lo = new Array[Long](rank); val hi = new Array[Long](rank)
        var empty = false
        var d = 0
        while (d < rank) {
          val a = math.max(0L, glo(d))
          val b = math.min(oShape(d), glo(d) + ext(d)) - 1
          if (b < a) empty = true
          lo(d) = a / oChunk(d); hi(d) = b / oChunk(d)
          d += 1
        }
        if (empty) Iterator.empty
        else {
          val cnt = (0 until rank).map(d => (hi(d) - lo(d) + 1)).product
          (0L until cnt).iterator.map { r0 =>
            val oIdx = new Array[Long](rank)
            var r = r0; var dd = rank - 1
            while (dd >= 0) {
              val span = hi(dd) - lo(dd) + 1
              oIdx(dd) = lo(dd) + r % span; r /= span; dd -= 1
            }
            (linearize(oIdx, oGrid), k, glo, ext.clone(), data)
          }
        }
      }
    }.reduce(_ union _)
    val (shC, chC, grC, fillC) = (oShape, oChunk, oGrid, fill)
    // marker row per output chunk so uncovered chunks materialize as fill
    // in the SAME reduce pass (no anti-join recomputing the piece pipeline)
    val markers = spark.range(oGrid.product).map(ocid =>
      (ocid.toLong, -1, Array.empty[Long], Array.empty[Int], Array.emptyDoubleArray))
    val chunks = pieces.union(markers).groupByKey(_._1).mapGroups { (ocid, it) =>
      val oIdx = delinearize(ocid, grC)
      val oExt = extents(oIdx, shC, chC)
      val oBase = Array.tabulate(shC.length)(d => oIdx(d) * chC(d))
      val len = oExt.product
      val out = Array.fill(len)(fillC)
      for ((_, _, glo, ext, data) <- it.toArray.filter(_._2 >= 0).sortBy(_._2)) {
        val a = new Array[Long](shC.length); val b = new Array[Long](shC.length)
        var ok = true
        var d = 0
        while (d < shC.length) {
          a(d) = math.max(oBase(d), math.max(0L, glo(d)))
          b(d) = math.min(oBase(d) + oExt(d), math.min(shC(d), glo(d) + ext(d)))
          if (b(d) <= a(d)) ok = false
          d += 1
        }
        if (ok) {
          val span = Array.tabulate(shC.length)(d => (b(d) - a(d)).toInt)
          val n = span.map(_.toLong).product
          var i = 0L
          while (i < n) {
            var r = i
            var oPos = 0L; var sPos = 0L
            var dd = shC.length - 1
            var oMul = 1L; var sMul = 1L
            while (dd >= 0) {
              val g = a(dd) + r % span(dd); r /= span(dd)
              oPos += (g - oBase(dd)) * oMul
              sPos += (g - glo(dd)) * sMul
              oMul *= oExt(dd); sMul *= ext(dd)
              dd -= 1
            }
            out(oPos.toInt) = data(sPos.toInt)
            i += 1
          }
        }
      }
      (ocid, out)
    }.toDF("cid", "data")
    new MdArray(spark, oShape, oChunk, chunks, identityView(oShape))
  }

  /** Mesh-grid views (GDALMDArray::GetMeshGrid,
    * gcore/multidim/gdalmultidim_array_meshgrid.cpp:252-330 — the NumPy
    * meshgrid semantics): from n rank-1 arrays x1(N1)..xn(Nn), return n
    * rank-n arrays where output i broadcasts xi along its own dim and is
    * constant along every other. `indexing` = "xy" (Cartesian, default —
    * dims 0 and 1 swapped, shape (N2, N1, N3, ..)) or "ij" (matrix order,
    * shape (N1, .., Nn)), reference :313-320.
    *
    * PURE VIEW composition: each output wraps its input's chunk table with
    * a broadcast View (the non-self dims map to NO base dim, exactly like
    * newaxis but with the broadcast extent) — O(#dims) driver work, nothing
    * reads until materialize(), and materialize's chunk-to-chunk join then
    * replicates each base chunk only across the output chunk grid (never
    * per element). Inputs may themselves be sliced/reversed views — the
    * affine map composes. */
  def meshgrid(arrays: Seq[MdArray], indexing: String = "xy"): Seq[MdArray] = {
    require(indexing == "xy" || indexing == "ij",
      s"meshgrid: INDEXING must be xy or ij, got '$indexing'")
    require(arrays.nonEmpty && arrays.forall(_.dims == 1),
      "meshgrid: all inputs must be rank-1")
    val n = arrays.length
    val xy = indexing == "xy" && n >= 2
    // output dim j carries input tdim(j); input i varies along output dim
    // tdim(i) (tdim is an involution), reference Create() :76-78
    def tdim(j: Int): Int = if (xy && j <= 1) 1 - j else j
    val outShape = Array.tabulate(n)(j => arrays(tdim(j)).shape(0))
    arrays.zipWithIndex.map { case (a, i) =>
      val d = tdim(i)
      val v = a.view
      new MdArray(a.spark, a.baseShape, a.chunk, a.chunks, View(
        outShape.clone(),
        Array.tabulate(n)(j => if (j == d) v.map(0) else -1),
        Array.tabulate(n)(j => if (j == d) v.off(0) else 0L),
        Array.tabulate(n)(j => if (j == d) v.step(0) else 1L),
        v.fixed))
    }
  }

  /** A gridded array plus the regular-grid georeferencing the reference
    * exposes as the dims' indexing variables
    * (GDALMDArrayRegularlySpaced, gdalmultidim_array_gridded.cpp:790-800):
    * node (j, i) sits at (minX + i·resX, minY + j·resY); `arr` has shape
    * (nY, nX), row 0 = south. */
  final case class Gridded(arr: MdArray, minX: Double, minY: Double,
                           resX: Double, resY: Double)

  private val SliceRe = """^([+-]?\d+)?:([+-]?\d+)?(?::([+-]?\d+)?)?$""".r

  /** Parse one "[...]" spec against `dims` view dims; returns per-token ops. */
  private[engine] sealed trait Tok
  private[engine] case class IntIdx(i: Long) extends Tok
  private[engine] case class Slice(start: Option[Long], stop: Option[Long],
                                   step: Long) extends Tok
  private[engine] case object NewAxis extends Tok
  private[engine] case object Ellip extends Tok

  private[engine] def parseSpec(spec: String): Array[Tok] = {
    val body = spec.trim.stripPrefix("[").stripSuffix("]")
    if (body.trim.isEmpty) return Array.empty
    body.split(",", -1).map(_.trim).map {
      case "..." => Ellip
      case "newaxis" | "np.newaxis" => NewAxis
      case SliceRe(s, e, st) =>
        val step = Option(st).map(_.toLong).getOrElse(1L)
        require(step != 0, s"zero step in view spec $spec")
        Slice(Option(s).map(_.toLong), Option(e).map(_.toLong), step)
      case t if t.matches("[+-]?\\d+") => IntIdx(t.toLong)
      case t => throw new IllegalArgumentException(s"bad view token '$t' in $spec")
    }
  }
}

final class MdArray private (
    val spark: SparkSession,
    /** Shape of the STORED base array (chunks' coordinate system). */
    val baseShape: Array[Long],
    val chunk: Array[Int],
    /** (cid: Long, data: Array[Double]) — see MdArray scaladoc. */
    val chunks: DataFrame,
    val view: MdArray.View) {

  import MdArray._

  /** Shape the consumer sees (after the lazy view stack). */
  def shape: Array[Long] = view.shape

  def dims: Int = view.shape.length

  /** NumPy/GDAL-style lazy view (GetView,
    * gdalmultidim_array_view.cpp:743-792). O(#dims) driver work. */
  def getView(spec: String): MdArray = {
    val toks = parseSpec(spec)
    val nIndexing = toks.count(t => t != NewAxis && t != Ellip)
    require(nIndexing <= dims, s"view spec $spec indexes $nIndexing of $dims dims")
    // expand ellipsis to full slices over the unindexed dims
    val full: Array[Tok] = {
      val pad = dims - nIndexing
      val expanded = ArrayBuffer[Tok]()
      var sawEllipsis = false
      toks.foreach {
        case Ellip =>
          require(!sawEllipsis, s"two ellipses in $spec"); sawEllipsis = true
          (0 until pad).foreach(_ => expanded += Slice(None, None, 1L))
        case t => expanded += t
      }
      if (!sawEllipsis)
        (0 until pad).foreach(_ => expanded += Slice(None, None, 1L))
      expanded.toArray
    }
    val nShape = ArrayBuffer[Long](); val nMap = ArrayBuffer[Int]()
    val nOff = ArrayBuffer[Long](); val nStep = ArrayBuffer[Long]()
    val nFixed = ArrayBuffer[(Int, Long)](); nFixed ++= view.fixed
    var vd = 0 // current view dim being consumed
    full.foreach {
      case NewAxis =>
        nShape += 1L; nMap += -1; nOff += 0L; nStep += 1L
      case IntIdx(i0) =>
        val n = view.shape(vd)
        val i = if (i0 < 0) i0 + n else i0
        require(i >= 0 && i < n, s"index $i0 out of range for dim $vd (size $n)")
        if (view.map(vd) >= 0)
          nFixed += ((view.map(vd), view.off(vd) + i * view.step(vd)))
        vd += 1
      case Slice(s0, e0, st) =>
        val n = view.shape(vd)
        def clamp(v: Long, lo: Long, hi: Long) = math.max(lo, math.min(hi, v))
        def norm(v: Long, forStop: Boolean): Long = {
          val w = if (v < 0) v + n else v
          if (st > 0) clamp(w, 0, n) else clamp(w, if (forStop) -1 else 0, n - 1)
        }
        val start = s0.map(norm(_, forStop = false))
          .getOrElse(if (st > 0) 0L else n - 1)
        val stop = e0.map(norm(_, forStop = true))
          .getOrElse(if (st > 0) n else -1L)
        val count = if (st > 0) math.max(0L, (stop - start + st - 1) / st)
                    else math.max(0L, (start - stop - st - 1) / (-st))
        nShape += count
        nMap += view.map(vd)
        nOff += view.off(vd) + start * view.step(vd)
        nStep += view.step(vd) * st
        vd += 1
      case Ellip => () // already expanded
    }
    new MdArray(spark, baseShape, chunk, chunks,
      View(nShape.toArray, nMap.toArray, nOff.toArray, nStep.toArray, nFixed.toArray))
  }

  /** Lazy transpose (GDALMDArray::Transpose,
    * gdalmultidim_array_transposed.cpp): permute view dims. */
  def transpose(perm: Array[Int]): MdArray = {
    require(perm.sorted.sameElements(Array.tabulate(dims)(identity)),
      s"perm ${perm.mkString(",")} is not a permutation of 0..${dims - 1}")
    new MdArray(spark, baseShape, chunk, chunks,
      View(perm.map(view.shape), perm.map(view.map),
        perm.map(view.off), perm.map(view.step), view.fixed))
  }

  /** Materialize the view stack into a stored array with chunk sizes
    * `outChunk` (defaults to the base chunk sizes truncated/padded to the
    * view rank). One chunk-to-chunk shuffle; each output chunk joins only
    * the base chunks its affine footprint touches. */
  def materialize(outChunkOpt: Option[Array[Int]] = None): MdArray = {
    if (view.isIdentity(baseShape)) return this
    import spark.implicits._
    val v = view
    val oShape = v.shape
    val oChunk = outChunkOpt.getOrElse(
      Array.tabulate(oShape.length)(d =>
        math.min(if (d < chunk.length) chunk(d) else 64, math.max(1L, oShape(d))).toInt))
    val oGrid = gridDims(oShape, oChunk)
    val bShape = baseShape; val bChunk = chunk
    val bGrid = gridDims(bShape, bChunk)
    val nOut = oGrid.product
    // (outCid, baseCid) pairs: per output chunk, the base-chunk box its
    // footprint touches (per base dim: min/max of the affine image of the
    // out-chunk's coordinate range, or the pinned coordinate)
    val pairs = spark.range(nOut).flatMap { ocid =>
      val oIdx = delinearize(ocid, oGrid)
      val oExt = extents(oIdx, oShape, oChunk)
      val lo = new Array[Long](bShape.length)
      val hi = new Array[Long](bShape.length)
      java.util.Arrays.fill(lo, 0L); java.util.Arrays.fill(hi, -1L)
      var d = 0
      while (d < oShape.length) {
        val b = v.map(d)
        if (b >= 0) {
          val c0 = v.off(d) + (oIdx(d) * oChunk(d)) * v.step(d)
          val c1 = v.off(d) + (oIdx(d) * oChunk(d) + oExt(d) - 1) * v.step(d)
          lo(b) = math.min(c0, c1) / bChunk(b)
          hi(b) = math.max(c0, c1) / bChunk(b)
        }
        d += 1
      }
      v.fixed.foreach { case (b, c) => lo(b) = c / bChunk(b); hi(b) = lo(b) }
      // dims of the base never read by the view (possible only if rank was
      // reduced by integer indexing — those are all in `fixed`); any hi<lo
      // left means an empty view extent: emit nothing
      if ((0 until bShape.length).exists(b => hi(b) < lo(b))) Iterator.empty
      else {
        val cur = lo.clone()
        val out = ArrayBuffer[(Long, Long)]()
        var done = false
        while (!done) {
          out += ((ocid, linearize(cur, bGrid)))
          var d2 = bShape.length - 1
          while (d2 >= 0 && { cur(d2) += 1; cur(d2) > hi(d2) }) {
            cur(d2) = lo(d2); d2 -= 1
          }
          done = d2 < 0
        }
        out.iterator
      }
    }.toDF("ocid", "bcid")
    val joined = pairs.join(chunks, pairs("bcid") === chunks("cid"))
      .select(col("ocid"), col("bcid"), col("data"))
      .as[(Long, Long, Array[Double])]
    val outChunks = joined.groupByKey(_._1).mapGroups { (ocid, it) =>
      val have = new java.util.HashMap[Long, Array[Double]]()
      it.foreach { case (_, bcid, data) => have.put(bcid, data) }
      val oIdx = delinearize(ocid, oGrid)
      val oExt = extents(oIdx, oShape, oChunk)
      val len = oExt.product
      val data = new Array[Double](len)
      val bCoord = new Array[Long](bShape.length)
      v.fixed.foreach { case (b, c) => bCoord(b) = c }
      val bIdx = new Array[Long](bShape.length)
      var i = 0
      while (i < len) {
        var r = i; var d = oShape.length - 1
        while (d >= 0) {
          val vCoord = oIdx(d) * oChunk(d) + r % oExt(d)
          val b = v.map(d)
          if (b >= 0) bCoord(b) = v.off(d) + vCoord * v.step(d)
          r /= oExt(d); d -= 1
        }
        var b2 = 0
        while (b2 < bShape.length) { bIdx(b2) = bCoord(b2) / bChunk(b2); b2 += 1 }
        val src = have.get(linearize(bIdx, bGrid))
        val bExt = extents(bIdx, bShape, bChunk)
        var pos = 0; var b3 = 0
        while (b3 < bShape.length) {
          pos = pos * bExt(b3) + (bCoord(b3) - bIdx(b3) * bChunk(b3)).toInt
          b3 += 1
        }
        data(i) = src(pos)
        i += 1
      }
      (ocid, data)
    }.toDF("cid", "data")
    new MdArray(spark, oShape.clone(), oChunk, outChunks, identityView(oShape))
  }

  private def materialized: MdArray = materialize()

  /** Elementwise map over values (GDALMDArrayUnscaled-style derived view,
    * gdalmultidim_array_unscaled.cpp) — no shuffle. */
  def mapValues(f: Double => Double): MdArray = {
    val m = materialized
    import spark.implicits._
    val out = m.chunks.as[(Long, Array[Double])]
      .map { case (cid, data) => (cid, data.map(f)) }.toDF("cid", "data")
    new MdArray(spark, m.baseShape, m.chunk, out, identityView(m.baseShape))
  }

  /** Reduce one axis with a commutative op: per-chunk partial reduce
    * (map-side), then an elementwise merge of partials grouped by the
    * remaining chunk coordinates — one shuffle whose width is the reduced
    * chunk grid, never per-element. */
  def reduceAxis(axis: Int, op: (Double, Double) => Double,
                 unit: Double): MdArray = {
    val m = materialized
    require(axis >= 0 && axis < m.baseShape.length, s"axis $axis")
    import spark.implicits._
    val bShape = m.baseShape; val bChunk = m.chunk
    val bGrid = gridDims(bShape, bChunk)
    val oShape = bShape.indices.filter(_ != axis).map(bShape).toArray
    val oChunk = bShape.indices.filter(_ != axis).map(bChunk).toArray
    val oGrid = gridDims(oShape, oChunk)
    val partials = m.chunks.as[(Long, Array[Double])].map { case (cid, data) =>
      val idx = delinearize(cid, bGrid)
      val ext = extents(idx, bShape, bChunk)
      val oExt = ext.indices.filter(_ != axis).map(ext).toArray
      val oLen = math.max(1, oExt.product)
      val out = Array.fill(oLen)(unit)
      val len = ext.product
      var i = 0
      while (i < len) {
        var r = i; var o = 0; var d = 0
        // row-major position with dim `axis` removed
        var stride = 1
        val coordLocal = new Array[Int](ext.length)
        var d2 = ext.length - 1
        r = i
        while (d2 >= 0) { coordLocal(d2) = r % ext(d2); r /= ext(d2); d2 -= 1 }
        o = 0; d = 0; stride = 1
        while (d < ext.length) {
          if (d != axis) o = o * ext(d) + coordLocal(d)
          d += 1
        }
        out(o) = op(out(o), data(i))
        i += 1
      }
      val oIdx = idx.indices.filter(_ != axis).map(idx).toArray
      (linearize(oIdx, oGrid), out)
    }
    val merged = partials.groupByKey(_._1).mapGroups { (ocid, it) =>
      var acc: Array[Double] = null
      it.foreach { case (_, part) =>
        if (acc == null) acc = part.clone()
        else { var i = 0; while (i < acc.length) { acc(i) = op(acc(i), part(i)); i += 1 } }
      }
      (ocid, acc)
    }.toDF("cid", "data")
    new MdArray(spark, oShape, oChunk, merged, identityView(oShape))
  }

  /** Unscaled view (GDALMDArray::GetUnscaled,
    * gdalmultidim_array_unscaled.cpp:395-449): v' = v·scale + offset with
    * `srcNodata` mapped to `dstNodata` (reference default NaN, :410
    * dfOverriddenDstNodata). scale == 1 && offset == 0 short-circuits to
    * this exact array (reference :435). Lazy: the per-chunk map runs only
    * when the result is evaluated — one narrow stage, no shuffle. */
  def unscale(scale: Double, offset: Double,
              srcNodata: Option[Double] = None,
              dstNodata: Double = Double.NaN): MdArray =
    if (scale == 1.0 && offset == 0.0) this
    else mapValues { v =>
      if (srcNodata.exists(nd => v == nd || (nd.isNaN && v.isNaN))) dstNodata
      else v * scale + offset
    }

  /** Gridded view (GDALMDArray::GetGridded,
    * gdalmultidim_array_gridded.cpp:377-830): treat this rank-1 array as
    * scattered point VALUES whose index dim also indexes the rank-1 `x`
    * and `y` coordinate arrays, and grid them with a gdal_grid algorithm.
    * The reference reads higher-rank arrays one slice at a time (count must
    * be 1 on the extra dims) — the caller here does the same thing
    * explicitly with `getView` before gridding, so this method requires
    * rank 1.
    *
    * Grid frame (reference :762-800): res defaults to the reference's
    * two-stage guess (sqrt(area/n), then sqrt of the mean min-squared-
    * distance of 10 stride-sampled points, :710-755); nX/nY =
    * max(2, 1 + floor(extent/res + 1e-8)); nodes AT the lattice points
    * minX + i·resX (not cell centers); default radius 5·max(resX, resY)
    * (:818). Algorithm "invdist" delegates to [[GridInterp.invdist]] —
    * the candidate search is cell-bucketed, never node×point quadratic.
    * Empty nodes (minPoints not met / no candidates) take `nodata`
    * (reference default 0, :812-816). Returns the (nY, nX) array, row 0 =
    * south, plus the grid frame. */
  def gridded(x: MdArray, y: MdArray, algorithm: String = "invdist",
              radius: Option[Double] = None, power: Double = 2.0,
              smoothing: Double = 0.0, minPoints: Int = 0, maxPoints: Int = 0,
              nodata: Double = 0.0, resolution: Option[Double] = None,
              outChunk: Int = 64): MdArray.Gridded = {
    require(dims == 1 && x.dims == 1 && y.dims == 1,
      "gridded: rank-1 arrays required (getView a slice of extra dims first, " +
        "the reference's per-slice Read contract)")
    val npts = shape(0)
    require(npts > 2, s"gridded: need > 2 points, have $npts (reference :581)")
    require(x.shape(0) == npts && y.shape(0) == npts,
      s"gridded: x/y length ${x.shape(0)}/${y.shape(0)} != $npts")
    import spark.implicits._
    val pts = toTable.select(col("d0").as("pid"), col("v").as("value"))
      .join(x.toTable.select(col("d0").as("pid"), col("v").as("lon")), "pid")
      .join(y.toTable.select(col("d0").as("pid"), col("v").as("lat")), "pid")
      .cache()
    val env = pts.agg(min("lon"), max("lon"), min("lat"), max("lat")).head()
    val (minX, maxX, minY, maxY) =
      (env.getDouble(0), env.getDouble(1), env.getDouble(2), env.getDouble(3))
    val res = resolution.getOrElse(
      guessResolution(pts, npts, minX, maxX, minY, maxY))
    require(res > 0, s"gridded: invalid RESOLUTION $res (reference :758)")
    val EPS = 1e-8
    val nX = math.max(2, (1 + math.floor((maxX - minX) / res + EPS)).toInt)
    val nY = math.max(2, (1 + math.floor((maxY - minY) / res + EPS)).toInt)
    val resX = (maxX - minX) / (nX - 1)
    val resY = (maxY - minY) / (nY - 1)
    val nodes = spark.range(0, nX.toLong * nY, 1, math.min(nX * nY, 64))
      .select((col("id") % nX).cast("int").as("i"),
        (col("id") / nX).cast("int").as("j"))
      .withColumn("nlon", lit(minX) + col("i") * lit(resX))
      .withColumn("nlat", lit(minY) + col("j") * lit(resY))
    val rad = radius.getOrElse(5.0 * math.max(resX, resY))
    val g = algorithm.toLowerCase match {
      case "invdist" | "invdistnn" =>
        GridInterp.invdist(nodes, pts, rad, power, smoothing, minPoints, maxPoints)
      case other => throw new IllegalArgumentException(
        s"gridded: unsupported algorithm '$other' (invdist family implemented; " +
          "see GridInterp for the full gdal_grid set on DataFrames)")
    }
    // assemble (j = dimY, i = dimX) into a chunked rank-2 array
    val oShape = Array(nY.toLong, nX.toLong)
    val oChunk = Array(math.min(outChunk, nY), math.min(outChunk, nX))
    val oGrid = gridDims(oShape, oChunk)
    val nd = nodata
    val outChunks = g
      .select(col("i"), col("j"), coalesce(col("value"), lit(nd)).as("v"))
      .as[(Int, Int, Double)]
      .groupByKey { case (i, j, _) =>
        linearize(Array(j.toLong / oChunk(0), i.toLong / oChunk(1)), oGrid) }
      .mapGroups { (ocid, it) =>
        val oIdx = delinearize(ocid, oGrid)
        val ext = extents(oIdx, oShape, oChunk)
        val data = new Array[Double](ext(0) * ext(1))
        it.foreach { case (i, j, v) =>
          data((j - oIdx(0) * oChunk(0)).toInt * ext(1) +
            (i - oIdx(1) * oChunk(1)).toInt) = v
        }
        (ocid, data)
      }.toDF("cid", "data")
    MdArray.Gridded(
      new MdArray(spark, oShape, oChunk, outChunks, identityView(oShape)),
      minX, minY, resX, resY)
  }

  /** The reference's RESOLUTION guess (gdalmultidim_array_gridded.cpp:
    * 710-755): first sqrt(extent area / n); then refine by stride-sampling
    * 10 points, taking each sample's min positive squared distance to a
    * point within its ±2·res₀ box, and returning sqrt of the MEAN of those
    * (the reference's dfSumDist2Min/nCountDistMin). One broadcast join pass
    * over the point table — sample side is ≤10 literal rows. */
  private def guessResolution(pts: DataFrame, n: Long,
                              minX: Double, maxX: Double,
                              minY: Double, maxY: Double): Double = {
    import spark.implicits._
    val res0 = math.sqrt((maxY - minY) * (maxX - minX) / n.toDouble)
    if (!(res0 > 0)) return res0
    val nSamp = math.min(10L, n)
    val idxs = (0L until nSamp).map(i => i * n / nSamp)
    val samp = pts.where(col("pid").isin(idxs: _*))
      .select("pid", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    if (samp.isEmpty) return res0
    val sdf = samp.toDF("sid", "slon", "slat")
    val row = pts
      .join(broadcast(sdf),
        col("lon") >= col("slon") - lit(2 * res0) &&
          col("lon") <= col("slon") + lit(2 * res0) &&
          col("lat") >= col("slat") - lit(2 * res0) &&
          col("lat") <= col("slat") + lit(2 * res0))
      .withColumn("d2",
        (col("lon") - col("slon")) * (col("lon") - col("slon")) +
          (col("lat") - col("slat")) * (col("lat") - col("slat")))
      .where(col("d2") > 0.0)
      .groupBy("sid").agg(min("d2").as("m"))
      .agg(sum("m").as("s"), count(lit(1)).as("c")).head()
    if (row.isNullAt(0) || row.getLong(1) == 0L) res0
    else math.sqrt(row.getDouble(0) / row.getLong(1).toDouble)
  }

  def sumAxis(axis: Int): MdArray = reduceAxis(axis, _ + _, 0.0)
  def maxAxis(axis: Int): MdArray = reduceAxis(axis, math.max, Double.NegativeInfinity)

  /** Flatten to a coordinate table (d0..dN-1, v) — the gate/inspection
    * surface (GDALMDArray::AsClassicDataset analog for rank ≤ 2 plus the
    * generic coordinate dump). */
  def toTable: DataFrame = {
    val m = materialized
    import spark.implicits._
    val bShape = m.baseShape; val bChunk = m.chunk
    val bGrid = gridDims(bShape, bChunk)
    val rows = m.chunks.as[(Long, Array[Double])].flatMap { case (cid, data) =>
      val idx = delinearize(cid, bGrid)
      val ext = extents(idx, bShape, bChunk)
      val len = ext.product
      (0 until len).iterator.map { i =>
        val coord = new Array[Long](bShape.length)
        var r = i; var d = bShape.length - 1
        while (d >= 0) { coord(d) = idx(d) * bChunk(d) + r % ext(d); r /= ext(d); d -= 1 }
        (coord.toSeq, data(i))
      }
    }.toDF("coord", "v")
    val withDims = (0 until m.baseShape.length).foldLeft(rows) { (df, d) =>
      df.withColumn(s"d$d", col("coord").getItem(d))
    }
    withDims.drop("coord")
  }

  /** Whole-array statistics (GDALMDArray::GetStatistics,
    * gdalmultidim.cpp) — one aggregate over the chunk table. */
  def stats: DataFrame = {
    import spark.implicits._
    val m = materialized
    m.chunks.as[(Long, Array[Double])].flatMap(_._2.iterator)
      .toDF("v")
      .agg(count(lit(1)).as("n"), min("v").as("min"), max("v").as("max"),
        avg("v").as("mean"), stddev_pop("v").as("stddev"))
  }

  /** GDALMDArray::GetResampled — the engine behind `gdal mdim reproject`
    * (gcore/multidim/gdalmultidim_array_resampled.cpp:918, wrapped per
    * array by apps/gdalalg_mdim_reproject.cpp): resample/reproject the
    * LAST TWO dimensions (y = rank-2, x = rank-1) while every leading
    * dimension passes through unchanged. The reference wraps the 2-D tail
    * as a dataset and runs GDALWarp per leading index; here all leading
    * slices warp in ONE chunk-granular shuffle.
    *
    * Reference semantics kept: < 2 dims refuses (":414"), gauss refuses
    * (":391-392 unsupported"), leading block sizes are inherited
    * (":467 anBlockSize from parent"), and the two new spatial dimensions
    * carry regularly-spaced pixel-CENTER indexing variables
    * start = origin + scale/2, value(i) = start + i·scale (":747-757").
    * Cells whose kernel window finds no valid source are NaN (the mdim
    * fill convention used by mosaic/views).
    *
    * `fwd` maps src-CRS → dst-CRS and is used ONLY for chunk routing
    * (boundary-sample bbox, padded — approximate is fine); `inv` maps
    * dst-CRS → src-CRS and defines the per-pixel semantics exactly:
    *   dstX = x0d + (i+0.5)·dxd, dstY = y0d + (j+0.5)·dyd
    *   (sx, sy) = inv(dstX, dstY)
    *   px = (sx − x0s)/dxs − 0.5, py = (sy − y0s)/dys − 0.5
    * Kernels: "near" (floor(p+0.5), the GetResampled default) and
    * "bilinear" (edge-renormalized over the in-bounds 2×2 window).
    *
    * Scale shape: each source chunk forward-maps its boundary to the
    * output chunks it can influence and is shipped ONCE per covering
    * output chunk (one groupByKey); uncovered output chunks materialize
    * as NaN fill via an anti-join, never touching source data. The plan
    * is the mosaic/warp plan — no driver state, no per-slice jobs.
    *
    * @return (resampled array, varX, varY) — the new array plus the two
    *         pixel-center indexing variables for dimX/dimY. */
  def resampled(dstH: Long, dstW: Long,
                srcGt: (Double, Double, Double, Double),
                dstGt: (Double, Double, Double, Double),
                fwd: (Double, Double) => (Double, Double),
                inv: (Double, Double) => (Double, Double),
                kernel: String = "near"): (MdArray, MdArray, MdArray) = {
    require(dims >= 2, "GetResampled() only supports 2 dimensions or more")
    require(kernel == "near" || kernel == "bilinear",
      "Unsupported resample method for GetResampled()")
    import spark.implicits._
    val m = materialized
    val rank = m.baseShape.length
    val bShape = m.baseShape; val bChunk = m.chunk
    val bGrid = gridDims(bShape, bChunk)
    val srcH = bShape(rank - 2); val srcW = bShape(rank - 1)
    val oShape = bShape.clone(); oShape(rank - 2) = dstH; oShape(rank - 1) = dstW
    val oChunk = bChunk.clone()
    oChunk(rank - 2) = math.min(oChunk(rank - 2).toLong, dstH).toInt
    oChunk(rank - 1) = math.min(oChunk(rank - 1).toLong, dstW).toInt
    val oGrid = gridDims(oShape, oChunk)
    val (x0s, dxs, y0s, dys) = srcGt
    val (x0d, dxd, y0d, dyd) = dstGt
    val rad = if (kernel == "bilinear") 1 else 0
    val bilinear = kernel == "bilinear"

    val pieces = m.chunks.as[(Long, Array[Double])].flatMap { case (cid, data) =>
      val idx = delinearize(cid, bGrid)
      val ext = extents(idx, bShape, bChunk)
      // src pixel bbox of this chunk + kernel halo + 1px rounding slack
      val py0 = idx(rank - 2) * bChunk(rank - 2) - (rad + 1)
      val py1 = idx(rank - 2) * bChunk(rank - 2) + ext(rank - 2) + rad
      val px0 = idx(rank - 1) * bChunk(rank - 1) - (rad + 1)
      val px1 = idx(rank - 1) * bChunk(rank - 1) + ext(rank - 1) + rad
      // boundary-sample the bbox in src CRS, forward-map to dst CRS
      var xmin = Double.PositiveInfinity; var xmax = Double.NegativeInfinity
      var ymin = Double.PositiveInfinity; var ymax = Double.NegativeInfinity
      val k = 8
      var si = 0
      while (si <= k) {
        val fx = px0 + (px1 - px0) * si.toDouble / k
        val fy = py0 + (py1 - py0) * si.toDouble / k
        var e = 0
        while (e < 4) {
          val (ppx, ppy) = e match {
            case 0 => (fx, py0.toDouble)
            case 1 => (fx, py1.toDouble)
            case 2 => (px0.toDouble, fy)
            case _ => (px1.toDouble, fy)
          }
          val (dX, dY) = fwd(x0s + (ppx + 0.5) * dxs, y0s + (ppy + 0.5) * dys)
          if (java.lang.Double.isFinite(dX) && java.lang.Double.isFinite(dY)) {
            if (dX < xmin) xmin = dX
            if (dX > xmax) xmax = dX
            if (dY < ymin) ymin = dY
            if (dY > ymax) ymax = dY
          }
          e += 1
        }
        si += 1
      }
      if (!java.lang.Double.isFinite(xmin)) Iterator.empty
      else {
        // dst CRS bbox → dst pixel bbox (±2 px boundary-sampling slack)
        val cs = Seq((xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax))
          .map { case (cx, cy) => ((cx - x0d) / dxd - 0.5, (cy - y0d) / dyd - 0.5) }
        val dpx0 = math.max(0L, math.floor(cs.map(_._1).min).toLong - 2)
        val dpx1 = math.min(dstW - 1, math.ceil(cs.map(_._1).max).toLong + 2)
        val dpy0 = math.max(0L, math.floor(cs.map(_._2).min).toLong - 2)
        val dpy1 = math.min(dstH - 1, math.ceil(cs.map(_._2).max).toLong + 2)
        if (dpx1 < dpx0 || dpy1 < dpy0) Iterator.empty
        else {
          val oy0 = dpy0 / oChunk(rank - 2); val oy1 = dpy1 / oChunk(rank - 2)
          val ox0 = dpx0 / oChunk(rank - 1); val ox1 = dpx1 / oChunk(rank - 1)
          (for {
            oy <- oy0 to oy1
            ox <- ox0 to ox1
          } yield {
            val oIdx = idx.clone()
            oIdx(rank - 2) = oy; oIdx(rank - 1) = ox
            (linearize(oIdx, oGrid), cid, data)
          }).iterator
        }
      }
    }

    val (shC, chC, grC) = (oShape, oChunk, oGrid)
    val (bShC, bChC, bGrC) = (bShape, bChunk, bGrid)
    // marker row per output chunk (the warpAffineMulti idiom): every ocid
    // reaches the reducer, so out-of-source chunks materialize as NaN fill
    // in the SAME pass — no anti-join recomputing the upstream pipeline
    val markers = spark.range(oGrid.product)
      .map(ocid => (ocid.toLong, -1L, Array.emptyDoubleArray))
    val outChunks = pieces.union(markers).groupByKey(_._1).mapGroups { (ocid, it) =>
      val have = scala.collection.mutable.LongMap
        .empty[(Array[Long], Array[Int], Array[Double])]
      it.foreach { case (_, scid, data) =>
        if (scid >= 0L && !have.contains(scid)) {
          val sIdx = delinearize(scid, bGrC)
          val sBase = Array.tabulate(bShC.length)(d => sIdx(d) * bChC(d))
          have(scid) = (sBase, extents(sIdx, bShC, bChC), data)
        }
      }
      val g = new Array[Long](bShC.length)
      def srcVal(): Double = {
        // g holds full-rank global source coords; spatial already bounds-checked
        var scid = 0L; var d = 0
        while (d < bShC.length) { scid = scid * bGrC(d) + g(d) / bChC(d); d += 1 }
        have.get(scid) match {
          case None => Double.NaN
          case Some((sBase, sExt, data)) =>
            var pos = 0L; var dd = 0
            while (dd < bShC.length) { pos = pos * sExt(dd) + (g(dd) - sBase(dd)); dd += 1 }
            data(pos.toInt)
        }
      }
      val oIdx = delinearize(ocid, grC)
      val oExt = extents(oIdx, shC, chC)
      val oBase = Array.tabulate(shC.length)(d => oIdx(d) * chC(d))
      val len = oExt.product
      if (have.isEmpty) (ocid, Array.fill(len)(Double.NaN))
      else {
      val out = new Array[Double](len)
      val rk = shC.length
      var p = 0
      while (p < len) {
        var r = p; var d = rk - 1
        while (d >= 0) { g(d) = oBase(d) + r % oExt(d); r /= oExt(d); d -= 1 }
        val i = g(rk - 1); val j = g(rk - 2)
        val dstX = x0d + (i + 0.5) * dxd
        val dstY = y0d + (j + 0.5) * dyd
        val (sx, sy) = inv(dstX, dstY)
        val px = (sx - x0s) / dxs - 0.5
        val py = (sy - y0s) / dys - 0.5
        out(p) =
          if (!java.lang.Double.isFinite(px) || !java.lang.Double.isFinite(py))
            Double.NaN
          else if (!bilinear) {
            val ix = math.floor(px + 0.5).toLong
            val iy = math.floor(py + 0.5).toLong
            if (ix >= 0 && ix < srcW && iy >= 0 && iy < srcH) {
              g(rk - 2) = iy; g(rk - 1) = ix
              srcVal()
            } else Double.NaN
          } else {
            val bx = math.floor(px); val by = math.floor(py)
            val fx = px - bx; val fy = py - by
            var acc = 0.0; var wsum = 0.0
            var q = 0
            while (q < 4) {
              val ix = bx.toLong + q % 2; val iy = by.toLong + q / 2
              if (ix >= 0 && ix < srcW && iy >= 0 && iy < srcH) {
                g(rk - 2) = iy; g(rk - 1) = ix
                val v = srcVal()
                if (!java.lang.Double.isNaN(v)) {
                  val w = (if (q % 2 == 0) 1.0 - fx else fx) *
                    (if (q / 2 == 0) 1.0 - fy else fy)
                  acc += w * v; wsum += w
                }
              }
              q += 1
            }
            if (wsum > 0.0) acc / wsum else Double.NaN
          }
        p += 1
      }
      (ocid, out)
      }
    }.toDF("cid", "data")
    val outArr = new MdArray(spark, oShape, oChunk, outChunks,
      identityView(oShape))
    // pixel-center regularly-spaced indexing variables (reference :747-757)
    val xStart = x0d + dxd / 2
    val yStart = y0d + dyd / 2
    val varX = MdArray.create(spark, Array(dstW),
      Array(math.min(dstW, 65536L).toInt))(c => xStart + c(0) * dxd)
    val varY = MdArray.create(spark, Array(dstH),
      Array(math.min(dstH, 65536L).toInt))(c => yStart + c(0) * dyd)
    (outArr, varX, varY)
  }
}
