package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.types.{DataType, IntegerType}

import graft.cells.GridCell
import graft.exprs.{CellDiskRect, CellEncode, Haversine}

/** Per-row adaptive lon half-width for a distance join's rectangular cell
  * disk: the smallest k whose ±k lon cells at `res` cover every point within
  * `meters` of a point at this latitude (GridCell.kFor — lon extent grows
  * with |lat|; the lat half-width is the plan-time constant kLatFor).
  */
case class CellDiskK(lat: Expression, meters: Double, res: Int)
    extends UnaryExpression {
  override def child: Expression = lat
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    GridCell.kFor(v.asInstanceOf[Double], meters, res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cells.GridCell.kFor($c, ${meters}D, $res)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(lat = c)
}

/** Blocked-join rule ([[BlockedJoin]]) for a naive distance theta-join —
  *
  *   a.join(b, haversine_m(a.lat, a.lon, b.lat, b.lon) <= meters)
  *
  * the cell-bucketed equi-join this library builds by hand in SpatialOps:
  * one side is exploded into the cell disk that covers its
  * `meters`-neighborhood, the other side keeps its single cell, and the join
  * key is cell equality. A pair meets in exactly one cell (the one-cell
  * side's), so no owner conjunct is needed.
  *
  * Pattern: some conjunct is `Haversine(latA, lonA, latB, lonB) <= / < lit`
  * with the two points cleanly split across the two sides and the literal
  * radius in (0, 100 km].
  *
  * Resolution is the finest grid res whose cell covers the latitude radius;
  * the per-row longitude radius (grows with |lat|) is absorbed by CellDiskK
  * into a RECTANGULAR disk — lat half-width is a plan-time constant (the
  * lat extent of a distance d is ≤ d/R at every latitude), only the lon
  * half-width widens per row — so the rewrite is correct at any latitude
  * whose neighborhood excludes the poles, with disk size O(kLon·kLat), not
  * O(kLon²). Neighborhoods CONTAINING a pole (|lat| + d/R ≥ 90°) degrade to
  * the full-longitude band, which at res 5 exceeds GridCell.MaxDiskCells and
  * fails with a clear message rather than a 10⁸-cell explode;
  * antimeridian-crossing neighborhoods ARE matched — diskRect wraps lon
  * indices modulo the full span (the reference's bins, gpsBins.js:60-63,
  * do not wrap; this rule is strictly more complete). The side with the
  * smaller size estimate is the one replicated into the disk.
  */
object DistanceJoinRewrite extends BlockedJoin {

  /** beyond this the disk would be enormous at any sensible res — a distance
    * join this coarse is better served by a coarser manual layout. */
  private val MaxMeters = 100000.0

  override protected def rewrite(j: Join, conjuncts: Seq[Expression]): Option[LogicalPlan] =
    conjuncts.iterator.flatMap(distancePred(_, j.left, j.right)).nextOption().map {
      case (latL, lonL, latR, lonR, meters) => blocked(j, latL, lonL, latR, lonR, meters)
    }

  private def litDouble(e: Expression): Option[Double] = e match {
    case Literal(v: Double, _) => Some(v)
    case Literal(v: Float, _)  => Some(v.toDouble)
    case Literal(v: Int, _)    => Some(v.toDouble)
    case Literal(v: Long, _)   => Some(v.toDouble)
    case _                     => None
  }

  /** (latFromLeft, lonFromLeft, latFromRight, lonFromRight, meters). */
  private def distancePred(p: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression, Double)] = {
    val hm: Option[(Haversine, Double)] = p match {
      case LessThanOrEqual(h: Haversine, m)    => litDouble(m).map((h, _))
      case LessThan(h: Haversine, m)           => litDouble(m).map((h, _))
      case GreaterThanOrEqual(m, h: Haversine) => litDouble(m).map((h, _))
      case GreaterThan(m, h: Haversine)        => litDouble(m).map((h, _))
      case _                                   => None
    }
    hm.filter { case (_, m) => m > 0.0 && m <= MaxMeters }.flatMap { case (h, m) =>
      if (fromSide(h.lat1, left) && fromSide(h.lon1, left) &&
          fromSide(h.lat2, right) && fromSide(h.lon2, right))
        Some((h.lat1, h.lon1, h.lat2, h.lon2, m))
      else if (fromSide(h.lat1, right) && fromSide(h.lon1, right) &&
               fromSide(h.lat2, left) && fromSide(h.lon2, left))
        Some((h.lat2, h.lon2, h.lat1, h.lon1, m))
      else None
    }
  }

  private def blocked(j: Join, latL: Expression, lonL: Expression,
                      latR: Expression, lonR: Expression, meters: Double): LogicalPlan = {
    // finest res whose cell size covers the latitude radius → the disk is
    // (2k+1)² with k == 1 in lat; only the lon extent can push k above 1
    val latRadDeg = meters / (graft.geom.Geom.EarthRadiusM * math.Pi / 180.0)
    val res = math.max(0, math.min(5,
      math.floor(-math.log10(math.max(latRadDeg, 1e-12))).toInt))

    def disk(child: LogicalPlan, lat: Expression, lon: Expression) =
      exploded(child, CellDiskRect(CellEncode(lat, lon, res),
        CellDiskK(lat, meters, res), Literal(GridCell.kLatFor(meters, res)), res),
        "_graft_cell")
    def cell(child: LogicalPlan, lat: Expression, lon: Expression) =
      keyed(child, CellEncode(lat, lon, res), "_graft_cell_o")

    // replicate the smaller side into the disk; the bigger side keeps 1 cell
    val ((l, kl), (r, kr)) =
      if (j.left.stats.sizeInBytes <= j.right.stats.sizeInBytes)
        (disk(j.left, latL, lonL), cell(j.right, latR, lonR))
      else (cell(j.left, latL, lonL), disk(j.right, latR, lonR))
    assemble(j, l, r, Seq((kl, kr)), owner = None, j.condition.toSeq)
  }
}
