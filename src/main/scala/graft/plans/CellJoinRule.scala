package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.graft.{DatasetBridge, KernelFns, StBox, StContainsPoint, StIntersectsPoint}

/** Optimizer rule: rewrite naive spatial-predicate joins
  *
  *   points JOIN polys ON st_contains_point(polys.wkb, points.lon, points.lat)
  *   a      JOIN b     ON st_intersects(a.wkb, b.wkb)
  *
  * — which Spark can only plan as nested-loop / cartesian joins, O(n·m)
  * predicate evaluations — into cell-indexed equi-joins (SpatialJoin's
  * point and polygon-polygon joins build theirs through `plan`):
  *
  *   point case:  points × st_cell(lon,lat,z)  ⋈_cell  polys × explode(st_join_cover(wkb,z))
  *                … refined by the ORIGINAL predicate (a point is in exactly
  *                one cell, so no dedup is introduced). The polygon side
  *                carries its geometry once, as the boxed struct
  *                <minx, miny, maxx, maxy, wkb> (StBox) in place of the
  *                wkb column, and the refine takes the struct: it tests
  *                the envelope, then runs the ray test on the WKB where
  *                the row holds it, copying no candidate's bytes. The wkb
  *                column is re-projected from the struct above the join
  *   geom case:   both sides explode their covers and equi-join on the cell;
  *                a pair sharing k cells would appear k times, so the join
  *                keeps only the row whose matched cell is the MINIMUM cell
  *                shared by both covers (array_min ∘ array_intersect — the
  *                classic report-at-smallest-common-cell dedup, fully
  *                distributed, no aggregation barrier), then refines with
  *                the original predicate.
  *
  * The equi-join key lets Catalyst pick broadcast-hash or sort-merge (and AQE
  * handle skew) instead of a quadratic loop — at 100 TB this is the
  * difference between a plan that finishes and one that cannot.
  *
  * The cover is the join cover (CellId.joinCover), not st_cover: it holds
  * st_cell of every point of the geometry's envelope, where st_cover's
  * GetTileIndices slack drops the row or column that an envelope enters
  * by less than 1e-3 of a tile, and with it the points there.
  *
  * Oversize guard (geometries whose cover at the chosen zoom would exceed
  * CellId's 4096-cell cap — continental polygons at a fine zoom, by
  * the cheap envelope-only st_join_cover_count; only above zoom 6, which has
  * 4^6 = 4096 cells): in the point case an oversized polygon is keyed by
  * its zoom-6 cover and each point also probes its zoom-6 cell (packed
  * cells carry their zoom, so a pair meets under exactly one key), which
  * keeps one hash join and spreads the extra probe over the zoom-6 cells;
  * in the geom case (where a zoom-6 key would pair every geometry with
  * its zoom-6 neighbours) each side is split above zoom 6, oversized rows
  * fall back to the original nested-loop join, and the branches union, so a
  * user-raised spark.graft.celljoin.zoom degrades those rows to a
  * quadratic (slow but correct) path instead of throwing.
  *
  * Reference analog: OGR's layer-algebra loop installs a spatial filter per
  * probe feature (ogrlayer.cpp:5385-5538) — its index-accelerated candidate
  * scan is exactly what this rewrite recovers declaratively.
  *
  * The rule fires only when the join condition IS the bare spatial
  * predicate over WKB, so it rewrites each join exactly once: the cell
  * join carries the predicate under an And with its cell keys, and the
  * fallback joins carry it inside CellJoinFallback, a pass-through
  * expression no optimizer rule folds (an And(true, pred) guard is folded
  * by BooleanSimplification, which shares the operator-optimization batch
  * with a rule injected through GraftExtensions) and no join-rebuilding
  * rule drops (as it would a plan tag).
  *
  * It is the one planner entry for these joins: Spark picks the physical
  * equi-join. Two entries reach the same rewrite:
  *  - as an optimizer rule, at `spark.graft.celljoin.zoom` (an integer,
  *    default 4, clamped to [0, 18]; anything else is refused), registered
  *    at runtime through `spark.experimental.extraOptimizations`
  *    (GraftFunctions.register) or at build time via GraftExtensions;
  *  - as `plan(df, z)`, over a DataFrame's analyzed plan at an explicit
  *    zoom: the DataFrame builders in SpatialJoin write the naive
  *    predicate join and hand it here. */
object CellJoinRule extends Rule[LogicalPlan] {

  /** Matches CellId.joinCover's default cap. */
  private val MaxCoverCells = 4096L

  /** The finest zoom at which no cover exceeds the cap: 4^6 = 4096 cells. */
  private val CoarseZoom = 6

  private val ZoomKey = "spark.graft.celljoin.zoom"

  private val Cell = KernelFns("st_cell")
  private val Cover = KernelFns("st_join_cover")
  private val CoverCount = KernelFns("st_join_cover_count")
  private val Intersects = KernelFns("st_intersects")

  /** A malformed value is refused: silently planning at another zoom
    * would hide the typo behind a different cover size. */
  private def zoom: Int = {
    val v = SQLConf.get.getConfString(ZoomKey, "4")
    val z = v.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$ZoomKey must be an integer zoom level, got '$v'"))
    math.max(0, math.min(18, z))
  }

  private sealed trait SpatialMatch
  private case class PointMatch(wkb: Expression, lon: Expression, lat: Expression,
                                ptsLeft: Boolean) extends SpatialMatch
  private case class GeomMatch(wkbLeft: Expression, wkbRight: Expression) extends SpatialMatch

  def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, zoom)

  /** The rewrite at zoom `z` over `df`'s analyzed plan, as a DataFrame; a
    * join that is no bare spatial predicate join is left as it is. */
  def plan(df: DataFrame, z: Int): DataFrame =
    DatasetBridge.ofRows(df.sparkSession, rewrite(df.queryExecution.analyzed, z))

  /** `z` is by name: the zoom is read only for a join that matches. */
  private def rewrite(plan: LogicalPlan, z: => Int): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner | Cross, Some(pred), hint)
        if matchPredicate(pred, left, right).isDefined =>
      matchPredicate(pred, left, right).get match {
        case PointMatch(wkb, lon, lat, ptsLeft) =>
          rewritePoint(j, pred, wkb, lon, lat, ptsLeft, hint, z)
        case GeomMatch(wl, wr) =>
          rewriteGeom(j, pred, wl, wr, hint, z)
      }
  }

  /** The rows of a geometry-bearing side whose cover fits the cap
    * (`fits`) or exceeds it. Rows with a null wkb go to neither — the
    * original predicate would have evaluated to null and dropped them from
    * the inner join anyway. */
  private def coverFilter(side: LogicalPlan, wkb: Expression, z: Int,
                          fits: Boolean): LogicalPlan = {
    val cnt = CoverCount(wkb, Literal(z)); val cap = Literal(MaxCoverCells)
    Filter(if (fits) LessThanOrEqual(cnt, cap) else GreaterThan(cnt, cap), side)
  }

  /** The fallback nested-loop branch: original join shape, predicate
    * wrapped in CellJoinFallback so this rule cannot re-fire on it. */
  private def naiveBranch(out: Seq[Attribute], l: LogicalPlan, r: LogicalPlan,
                          pred: Expression, hint: JoinHint): LogicalPlan =
    Project(out, Join(l, r, Inner, Some(CellJoinFallback(pred)), hint))

  private def rewritePoint(j: Join, pred: Expression, wkb: Expression,
                           lon: Expression, lat: Expression, ptsLeft: Boolean,
                           hint: JoinHint, z: Int): LogicalPlan = {
    val (ptsSide, polySide) = if (ptsLeft) (j.left, j.right) else (j.right, j.left)
    // points side: each row probes its own cell and, where a cover can
    // exceed the cap, its zoom-6 cell too
    val own = Cell(lon, lat, Literal(z))
    val (pts2, cellL) =
      if (z <= CoarseZoom) {
        val c = Alias(own, "__graft_cell_pt")()
        (Project(ptsSide.output :+ c, ptsSide), c.toAttribute)
      } else {
        val c = AttributeReference("__graft_cell_pt", LongType)()
        (Generate(Explode(CreateArray(Seq(own, Cell(lon, lat, Literal(CoarseZoom))))), Nil,
          outer = false, qualifier = None, generatorOutput = Seq(c), child = ptsSide), c)
      }
    // polygon side: the geometry rides once, as the boxed struct the refine
    // reads in place, exploded over its cover (at zoom 6 if it is over the
    // cap; a null geometry has none); a bare wkb column is dropped here and
    // re-projected from the struct above the join under its own name and id
    val boxA = Alias(StBox(wkb), "__graft_box")()
    val box = boxA.toAttribute
    val boxed = Project(polySide.output.filterNot(wkb.semanticEquals) :+ boxA, polySide)
    val polyWkb = StBox.wkb(box)
    val cover = Cover(polyWkb, Literal(z))
    val cells = if (z <= CoarseZoom) cover
      else If(GreaterThan(CoverCount(polyWkb, Literal(z)), Literal(MaxCoverCells)),
        Cover(polyWkb, Literal(CoarseZoom)), cover)
    val cellR = AttributeReference("__graft_cell_poly", LongType, nullable = false)()
    val polys2 = Generate(Explode(cells), Nil, outer = false, qualifier = None,
      generatorOutput = Seq(cellR), child = boxed)
    val cond = And(EqualTo(cellL, cellR), pred.withNewChildren(box +: pred.children.tail))
    val joined =
      if (ptsLeft) Join(pts2, polys2, Inner, Some(cond), hint)
      else Join(polys2, pts2, Inner, Some(cond), hint)
    val out: Seq[NamedExpression] = j.output.map {
      case a if a.semanticEquals(wkb) =>
        Alias(polyWkb, a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case a => a
    }
    Project(out, joined)
  }

  private def rewriteGeom(j: Join, pred: Expression, wl: Expression,
                          wr: Expression, hint: JoinHint, z: Int): LogicalPlan = {
    // at z <= 6 no cover can exceed the cap: no split, no fallback branches
    val coarse = z <= CoarseZoom
    val lFit = if (coarse) j.left else coverFilter(j.left, wl, z, fits = true)
    val rFit = if (coarse) j.right else coverFilter(j.right, wr, z, fits = true)
    // each side carries its full (sorted) cover array AND the exploded cell
    val covL = Alias(Cover(wl, Literal(z)), "__graft_cov_l")()
    val lProj = Project(j.left.output :+ covL, lFit)
    val cellL = AttributeReference("__graft_cell_l", LongType, nullable = false)()
    val lExp = Generate(Explode(covL.toAttribute), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellL), child = lProj)
    val covR = Alias(Cover(wr, Literal(z)), "__graft_cov_r")()
    val rProj = Project(j.right.output :+ covR, rFit)
    val cellR = AttributeReference("__graft_cell_r", LongType, nullable = false)()
    val rExp = Generate(Explode(covR.toAttribute), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellR), child = rProj)
    // dedup: report the pair only at the smallest cell both covers share
    val minCommon = ArrayMin(ArrayIntersect(covL.toAttribute, covR.toAttribute))
    val cond = And(EqualTo(cellL, cellR),
      And(EqualTo(minCommon, cellL), pred))
    val cellBranch = Project(j.output, Join(lExp, rExp, Inner, Some(cond), hint))
    // oversized rows: oversized left rows join everything on the right;
    // fitting left rows still need the oversized right rows
    if (coarse) cellBranch
    else Union(Seq(cellBranch,
      naiveBranch(j.output, coverFilter(j.left, wl, z, fits = false), j.right, pred, hint),
      naiveBranch(j.output, lFit, coverFilter(j.right, wr, z, fits = false), pred, hint)))
  }

  /** The condition must be exactly one bare spatial predicate with its
    * geometry/point references cleanly split across the two sides. */
  private def matchPredicate(pred: Expression, left: LogicalPlan,
                             right: LogicalPlan): Option[SpatialMatch] = {
    val lSet = left.outputSet; val rSet = right.outputSet
    pred match {
      // the geometry as WKB: a predicate over a boxed struct keeps its plan
      case StContainsPoint(w, lo, la) if w.dataType == BinaryType => matchPoint(w, lo, la, lSet, rSet)
      case StIntersectsPoint(w, lo, la) if w.dataType == BinaryType => matchPoint(w, lo, la, lSet, rSet)
      case Intersects(a, b)
          if a.references.nonEmpty && b.references.nonEmpty =>
        if (a.references.subsetOf(lSet) && b.references.subsetOf(rSet))
          Some(GeomMatch(a, b))
        else if (a.references.subsetOf(rSet) && b.references.subsetOf(lSet))
          Some(GeomMatch(b, a))
        else None
      case _ => None
    }
  }

  private def matchPoint(wkb: Expression, lon: Expression, lat: Expression,
                         lSet: AttributeSet, rSet: AttributeSet): Option[SpatialMatch] = {
    val ptCols = lon.references ++ lat.references
    if (wkb.references.subsetOf(rSet) && ptCols.subsetOf(lSet) &&
        wkb.references.nonEmpty && ptCols.nonEmpty)
      Some(PointMatch(wkb, lon, lat, ptsLeft = true))
    else if (wkb.references.subsetOf(lSet) && ptCols.subsetOf(rSet) &&
        wkb.references.nonEmpty && ptCols.nonEmpty)
      Some(PointMatch(wkb, lon, lat, ptsLeft = false))
    else None
  }
}

/** The oversize fallback's join condition: evaluates as the spatial
  * predicate it wraps, but is no bare predicate, so CellJoinRule leaves the
  * join it guards as it is. */
case class CellJoinFallback(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "celljoin_fallback"
  override def eval(input: InternalRow): Any = child.eval(input)
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  protected override def withNewChildInternal(newChild: Expression): CellJoinFallback =
    copy(child = newChild)
}
