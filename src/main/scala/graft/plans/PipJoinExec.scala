package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.{StContainsPoint, StIntersectsPoint}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.BinaryType
import graft.functions.GeoKernel

/** Physical-plan path for the naive point-in-polygon join — the whole-
  * operator extensibility mechanism (SURVEY.md §2.J: custom `SparkStrategy`
  * + `SparkPlan`), complementing the logical rewrite in [[CellJoinRule]].
  *
  * Where the Rule re-expresses the join as cover-explode + equi-join and
  * lets Catalyst pick the join algorithm, this strategy plans the join
  * DIRECTLY: the polygon side (the dim side — admin boundaries, AOIs) is
  * collected once on the driver into a cell → prepared-polygon hash index
  * and broadcast; the point side streams through `mapPartitions`, probing
  * one cell per row. No exploded cover is materialized, no shuffle at all
  * on the 100-TB fact side — the same plan shape as Spark's own
  * BroadcastHashJoinExec, with the hash table keyed by spatial cell.
  *
  * Reference analog: OGR's layer-algebra loop installs a spatial-index
  * filter per probe feature (ogrlayer.cpp:5385-5538); the broadcast index
  * IS that spatial index, shipped to every executor once.
  *
  * Selection is config-gated so the Rule and the Strategy never compete:
  * `spark.graft.celljoin.strategy = rule` (default) keeps the logical
  * rewrite; `= exec` makes [[CellJoinRule]] leave point joins alone and
  * this strategy claim them. Zoom shares `spark.graft.celljoin.zoom`.
  * Polygons whose cover at that zoom exceeds the 4096-cell cap go to a
  * small always-probed side list instead of the index (same degradation
  * as the Rule's naive branch, bounded by the broadcast contract).
  */
object PipJoinStrategy extends SparkStrategy {

  private[plans] def mode: String =
    try SQLConf.get.getConfString("spark.graft.celljoin.strategy", "rule")
    catch { case _: Exception => "rule" }

  private def zoom: Int = {
    val z =
      try SQLConf.get.getConfString("spark.graft.celljoin.zoom", "4").toInt
      catch { case _: Exception => 4 }
    math.max(0, math.min(18, z))
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ Join(left, right, Inner | Cross, Some(pred), _) if mode == "exec" =>
      val (wkb, lon, lat, boundary) = pred match {
        case StContainsPoint(w, lo, la) => (w, lo, la, false)
        case StIntersectsPoint(w, lo, la) => (w, lo, la, true)
        case _ => return Nil
      }
      val ptRefs = lon.references ++ lat.references
      if (wkb.dataType != BinaryType || wkb.references.isEmpty || ptRefs.isEmpty) return Nil
      if (ptRefs.subsetOf(left.outputSet) && wkb.references.subsetOf(right.outputSet))
        Seq(BroadcastPipJoinExec(planLater(left), planLater(right),
          wkb, lon, lat, zoom, ptsLeft = true, boundary))
      else if (ptRefs.subsetOf(right.outputSet) && wkb.references.subsetOf(left.outputSet))
        Seq(BroadcastPipJoinExec(planLater(right), planLater(left),
          wkb, lon, lat, zoom, ptsLeft = false, boundary))
      else Nil
    case _ => Nil
  }
}

/** Broadcast cell-indexed PIP join: see [[PipJoinStrategy]]. `pts` streams,
  * `polys` is collected + broadcast as a cell hash index. Output order
  * matches the logical join (left ++ right). */
case class BroadcastPipJoinExec(pts: SparkPlan, polys: SparkPlan,
    wkb: Expression, lon: Expression, lat: Expression,
    zoom: Int, ptsLeft: Boolean, boundary: Boolean) extends BinaryExecNode {

  override def left: SparkPlan = if (ptsLeft) pts else polys
  override def right: SparkPlan = if (ptsLeft) polys else pts
  override def output: Seq[Attribute] = left.output ++ right.output

  protected override def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): BroadcastPipJoinExec =
    if (ptsLeft) copy(pts = newLeft, polys = newRight)
    else copy(pts = newRight, polys = newLeft)

  protected override def doExecute(): RDD[InternalRow] = {
    val polyOut = polys.output
    val wkbBound = BindReferences.bindReference(wkb, polyOut)
    val z = zoom
    // dim-side index build (the broadcast-hash-join contract: this side is
    // small). Each entry holds the polygon's boxed struct (StBox), so the
    // probe tests the envelope before it reads the WKB, with the same
    // kernel as the join paths' refine. Oversized covers fall into a linear
    // side list, not an error.
    val index = new java.util.HashMap[Long, java.util.ArrayList[(InternalRow, InternalRow)]]()
    val oversize = new java.util.ArrayList[(InternalRow, InternalRow)]()
    polys.executeCollect().foreach { row =>
      val w = wkbBound.eval(row)
      if (w != null) {
        val bytes = w.asInstanceOf[Array[Byte]]
        val entry = (GeoKernel.box(bytes), row)
        if (GeoKernel.coverCount(bytes, z) > 4096L) oversize.add(entry)
        else GeoKernel.cover(bytes, z).foreach { c =>
          var l = index.get(c)
          if (l == null) { l = new java.util.ArrayList(); index.put(c, l) }
          l.add(entry)
        }
      }
    }
    val bcIdx = sparkContext.broadcast(index)
    val bcBig = sparkContext.broadcast(oversize)
    val ptsOut = pts.output
    val lonB = BindReferences.bindReference(lon, ptsOut)
    val latB = BindReferences.bindReference(lat, ptsOut)
    val pl = ptsLeft; val bnd = boundary; val outAtts = output
    pts.execute().mapPartitions { it =>
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAtts,
        if (pl) ptsOut ++ polyOut else polyOut ++ ptsOut)
      val idx = bcIdx.value; val big = bcBig.value
      it.flatMap { ptRow =>
        val lo = lonB.eval(ptRow); val la = latB.eval(ptRow)
        if (lo == null || la == null) Iterator.empty
        else {
          val x = lo.asInstanceOf[Double]; val y = la.asInstanceOf[Double]
          val cands = idx.get(GeoKernel.cell(x, y, z))
          val hits = new scala.collection.mutable.ArrayBuffer[InternalRow]()
          def probe(l: java.util.ArrayList[(InternalRow, InternalRow)]): Unit =
            if (l != null) {
              var i = 0
              while (i < l.size()) {
                val (box, polyRow) = l.get(i)
                val in = if (bnd) GeoKernel.boxIntersectsPoint(box, x, y)
                         else GeoKernel.boxContainsPoint(box, x, y)
                if (in) hits += polyRow
                i += 1
              }
            }
          probe(cands); probe(big)
          hits.iterator.map { polyRow =>
            proj(if (pl) joined(ptRow, polyRow) else joined(polyRow, ptRow))
          }
        }
      }
    }
  }
}
