package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** The consecutive bin ids `floorDiv(min(lo,hi),bin) .. floorDiv(max(lo,hi),bin)`
  * covering a 1-D interval. Bounds are normalized (min/max) so a degenerate
  * reversed interval still covers every bin its brute-force matches can land
  * in. Guarded: a row whose interval spans more than [[RangeJoinRewrite.MaxBinsPerRow]]
  * bins fails loudly (raise `spark.graft.range.bin`) instead of exploding
  * unboundedly.
  */
case class RangeBins(lo: Expression, hi: Expression, bin: Long)
    extends BinaryExpression {
  require(bin > 0, s"range-join bin size must be positive: $bin")
  override def left: Expression = lo
  override def right: Expression = hi
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, h: Any): Any =
    RangeBins.bins(l.asInstanceOf[Long], h.asInstanceOf[Long], bin)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, h) => s"graft.plans.RangeBins.bins($l, $h, ${bin}L)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lo = l, hi = r)
}
object RangeBins {
  def bins(lo: Long, hi: Long, bin: Long): ArrayData = {
    val a = math.min(lo, hi)
    val b = math.max(lo, hi)
    val b0 = Math.floorDiv(a, bin)
    val b1 = Math.floorDiv(b, bin)
    val n = b1 - b0 + 1
    require(n <= RangeJoinRewrite.MaxBinsPerRow,
      s"range-join bin explode of $n bins for interval [$a,$b] at bin size $bin " +
        s"exceeds ${RangeJoinRewrite.MaxBinsPerRow} — raise spark.graft.range.bin")
    val out = new Array[Long](n.toInt)
    var i = 0
    while (i < n) { out(i) = b0 + i; i += 1 }
    new GenericArrayData(out)
  }
}

/** `Math.floorDiv(child, bin)` — the bin id of a single value (floor, not
  * truncate-toward-zero, so negative values bin consistently with
  * [[RangeBins]]). */
case class FloorDivBin(child: Expression, bin: Long) extends UnaryExpression {
  require(bin > 0)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Math.floorDiv(v.asInstanceOf[Long], bin)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.floorDiv($c, ${bin}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Blocked-join rule ([[BlockedJoin]]) for a naive 1-D range/interval
  * theta-join —
  *
  *   point-in-interval:  p.ts >= i.s AND p.ts <= i.e       (BETWEEN)
  *   interval overlap:   a.s <= b.e AND b.s <= a.e
  *
  * a bin-bucketed equi-join: both sides explode their interval into the
  * fixed-width bins it covers (a point is the degenerate interval [p,p] —
  * exactly one bin) and the join key is bin equality. This is the temporal
  * twin of DistanceJoinRewrite's cell disk (Spark itself has no range-join
  * strategy, cf. the public binned-range-join literature).
  *
  * A pair of overlapping intervals shares every bin their intersection
  * touches; the owner conjunct is the FIRST SHARED BIN
  * (`bin == floorDiv(max(loL, loR))` — the first bin of the normalized
  * intersection, which is nonempty whenever the original predicate holds),
  * which keeps exactly one copy per pair.
  *
  * Pattern: two inequality conjuncts cross the sides in opposite directions
  * — `x ≤/< y` with x from L, y from R and `u ≤/< v` with u from R, v from
  * L — yielding L interval [x, v] and R interval [u, y] (for BETWEEN one
  * side's lo/hi are the same expression); all four exprs integral (int/long
  * — timestamps should be projected through unix_micros first).
  *
  * Correctness of coverage: if the original predicate holds then
  * x ≤ y ≤ max(u,y) and u ≤ v ≤ max(x,v), so the NORMALIZED intervals
  * [min(x,v),max(x,v)] and [min(u,y),max(u,y)] intersect, both sides emit
  * every bin of their normalized interval, and the first shared bin
  * floorDiv(max(loL,loR)) lies inside both — every qualifying pair meets on
  * exactly that bin; strictness and any extra conjuncts are enforced by the
  * retained original condition.
  *
  * Bin width comes from `spark.graft.range.bin` (default 3_600_000_000 —
  * one hour in microseconds). A too-small bin fails loudly per row past
  * MaxBinsPerRow; a too-large bin only costs refinement selectivity. Scale
  * shape: candidate generation is an equi-join on ~(len/bin + 1)-replicated
  * rows, never all-pairs; a hot bin (burst hour) routes through the same
  * skew machinery as any hot key (graft.ops.Skew / AQE skew join).
  */
object RangeJoinRewrite extends BlockedJoin {

  val MaxBinsPerRow = 4096L
  val BinConfKey = "spark.graft.range.bin"
  val DefaultBin = 3600000000L // 1 h in micros

  override protected def rewrite(j: Join, conjuncts: Seq[Expression]): Option[LogicalPlan] =
    intervalPair(conjuncts, j.left, j.right).map {
      case (sL, eL, sR, eR) => blocked(j, sL, eL, sR, eR)
    }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** (sL, eL, sR, eR): left interval [sL, eL], right interval [sR, eR], from
    * two opposite-direction inequality conjuncts. */
  private def intervalPair(conjuncts: Seq[Expression],
                           left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression)] = {
    // normalize every comparison conjunct to (small, large)
    val ineqs = conjuncts.collect {
      case LessThanOrEqual(a, b)    => (a, b)
      case LessThan(a, b)           => (a, b)
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b)        => (b, a)
    }.filter { case (a, b) => integral(a) && integral(b) }
    val out = for {
      i <- ineqs.indices.iterator
      k <- ineqs.indices.iterator if i != k
      (x, y) = ineqs(i) // x ≤ y : x from L, y from R
      (u, v) = ineqs(k) // u ≤ v : u from R, v from L
      if fromSide(x, left) && fromSide(y, right) &&
        fromSide(u, right) && fromSide(v, left)
    } yield (x, v, u, y)
    out.nextOption()
  }

  private def blocked(j: Join, sL: Expression, eL: Expression,
                      sR: Expression, eR: Expression): LogicalPlan = {
    val bin = conf.getConfString(BinConfKey, DefaultBin.toString).toLong
    require(bin > 0, s"$BinConfKey must be positive: $bin")

    def asLong(e: Expression): Expression =
      if (e.dataType == LongType) e else Cast(e, LongType)

    val (lp, binL) = exploded(j.left, RangeBins(asLong(sL), asLong(eL), bin), "_graft_rbinl")
    val (rp, binR) = exploded(j.right, RangeBins(asLong(sR), asLong(eR), bin), "_graft_rbinr")

    val firstShared = FloorDivBin(
      Greatest(Seq(Least(Seq(asLong(sL), asLong(eL))),
                   Least(Seq(asLong(sR), asLong(eR))))), bin)
    assemble(j, lp, rp, Seq((binL, binR)), Some(EqualTo(binL, firstShared)), j.condition.toSeq)
  }
}
