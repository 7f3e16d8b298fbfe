package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

import graft.exprs.{CellEncode, CellsCovering}

/** Blocked-join rule ([[BlockedJoin]]) for a naive cell-cover theta-join,
  * the reference's bin-candidate rule (gpsBins.js, geo.js:248-329) and that
  * of Raster Intervals (SIGMOD 2023):
  *
  *   box × box:    arrays_overlap(cells_covering(boxL, res), cells_covering(boxR, res))
  *   point × box:  array_contains(cells_covering(box, res), cell_encode(lat, lon, res))
  *
  * A box side explodes into its covering, a point side keeps its one cell,
  * and the join key `cell` is cell equality. Owner (box × box): the pair is
  * kept only at cell_encode(greatest(minLatL, minLatR), greatest(minLonL,
  * minLonR)). floor(x·10^res) is monotone, so that cell has the larger low
  * index of the two boxes on each axis: the low corner of the coverings'
  * intersection, in both, and each covering holds it once. A point lies in
  * one cell, so point × box needs no owner. The consumed conjunct leaves the
  * residual (cell equality implies it; keeping it would build two coverings
  * per candidate). The rule runs after column pruning, so callers select
  * each side down to the columns the join needs.
  */
object CoverJoinRewrite extends BlockedJoin {

  override protected def rewrite(j: Join, conjuncts: Seq[Expression]): Option[LogicalPlan] =
    conjuncts.iterator.flatMap { c =>
      def split(a: Expression, b: Expression) = orient(a, b, j.left, j.right)
      (c match {
        case ArraysOverlap(a: CellsCovering, b: CellsCovering) if a.res == b.res => split(a, b)
        case ArrayContains(a: CellsCovering, b: CellEncode) if a.res == b.res    => split(a, b)
        case _                                                                   => None
      }).map(blocked(j, _, conjuncts.filterNot(_ == c)))
    }.nextOption()

  /** keys: (left side's, right side's) covering to explode or cell to key */
  private def blocked(j: Join, keys: (Expression, Expression), residual: Seq[Expression]) = {
    def side(child: LogicalPlan, k: Expression) = k match {
      case c: CellsCovering => exploded(child, c, "cell")
      case e                => keyed(child, e, "cell")
    }
    val ((lp, cellL), (rp, cellR)) = (side(j.left, keys._1), side(j.right, keys._2))
    val owner = keys match {
      case (a: CellsCovering, b: CellsCovering) => Some(EqualTo(cellL, CellEncode(
        Greatest(Seq(a.minLat, b.minLat)), Greatest(Seq(a.minLon, b.minLon)), a.res)))
      case _ => None
    }
    assemble(j, lp, rp, Seq((cellL, cellR)), owner, residual)
  }
}
