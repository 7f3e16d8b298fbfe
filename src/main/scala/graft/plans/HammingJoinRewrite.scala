package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Blocked-join rule ([[BlockedJoin]]) for a naive Hamming-distance
  * theta-join —
  *
  *   a.join(b, bit_count(a.phash ^ b.phash) <= k)        (k ≤ 3, 64-bit)
  *
  * the 4×16-bit band-blocked equi-join under ImageOps.phashNearDups and
  * incrementalPhashDedup: both sides explode into their 4 (band, bucket)
  * keys and the join key is band+bucket equality (pigeonhole: a pair within
  * Hamming distance ≤ 3 of a 64-bit key shares at least one intact 16-bit
  * band).
  *
  * Each qualifying pair can share up to 4 intact bands; the owner conjunct
  * is the FIRST MATCHING BAND (band b matches AND every band below b
  * differs), which keeps exactly one copy of each pair.
  *
  * Pattern: some conjunct is `bit_count(el ^ er) <= / < lit` with el/er
  * LongType and cleanly split across the two sides, and the effective max
  * distance is in [0, 3] — 4 bands are complete exactly for Hamming < 4; a
  * coarser threshold needs more/wider bands, so the rule leaves it alone.
  *
  * Scale shape: candidate generation is an equi-join on narrow
  * ×4-replicated rows, never all-pairs; hot 16-bit buckets (e.g.
  * near-constant hash regions) route through the same skew machinery as any
  * hot key (graft.ops.Skew / AQE skew join).
  */
object HammingJoinRewrite extends BlockedJoin {

  private val Bands = 4
  private val BandBits = 16
  private val BandMask = 0xFFFFL

  override protected def rewrite(j: Join, conjuncts: Seq[Expression]): Option[LogicalPlan] =
    conjuncts.iterator.flatMap(hammingPred(_, j.left, j.right)).nextOption().map {
      case (el, er) => blocked(j, el, er)
    }

  private def litMax(e: Expression, strict: Boolean): Option[Int] = {
    val v = e match {
      case Literal(v: Int, _)  => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _                   => None
    }
    v.map(x => if (strict) x - 1 else x).filter(k => k >= 0 && k < Bands).map(_.toInt)
  }

  /** (exprFromLeft, exprFromRight) of the xor operands, if this conjunct is
    * a band-blockable Hamming bound. */
  private def hammingPred(p: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression)] = {
    val bc: Option[(Expression, Expression)] = p match {
      case LessThanOrEqual(BitwiseCount(BitwiseXor(a, b)), m) =>
        litMax(m, strict = false).map(_ => (a, b))
      case LessThan(BitwiseCount(BitwiseXor(a, b)), m) =>
        litMax(m, strict = true).map(_ => (a, b))
      case GreaterThanOrEqual(m, BitwiseCount(BitwiseXor(a, b))) =>
        litMax(m, strict = false).map(_ => (a, b))
      case GreaterThan(m, BitwiseCount(BitwiseXor(a, b))) =>
        litMax(m, strict = true).map(_ => (a, b))
      case _ => None
    }
    bc.filter { case (a, b) => a.dataType == LongType && b.dataType == LongType }
      .flatMap { case (a, b) => orient(a, b, left, right) }
  }

  /** bucket of `key` at the band that starts at bit `shift`. */
  private def bucketAt(key: Expression, shift: Expression): Expression =
    BitwiseAnd(ShiftRight(key, shift), Literal(BandMask))

  private def blocked(j: Join, el: Expression, er: Expression): LogicalPlan = {
    val bandsLit = Literal.create((0 until Bands).toSeq,
      ArrayType(IntegerType, containsNull = false))

    def banded(child: LogicalPlan, key: Expression, tag: String) = {
      val (gen, band) = exploded(child, bandsLit, s"_graft_band$tag")
      val (p, bkt) = keyed(gen, bucketAt(key, Multiply(band, Literal(BandBits))), s"_graft_bkt$tag")
      (p, band, bkt)
    }
    val (lp, bandL, bktL) = banded(j.left, el, "l")
    val (rp, bandR, bktR) = banded(j.right, er, "r")

    // first-matching-band: keep the pair only at the LOWEST shared band (one
    // exists by pigeonhole). The rule runs after constant folding, so the
    // static bands' shifts are emitted folded.
    def bandsDifferBelow(b: Int): Expression =
      (0 until b).map { i =>
        val shift = Literal(i * BandBits)
        Not(EqualTo(bucketAt(el, shift), bucketAt(er, shift))): Expression
      }.reduceOption(And).getOrElse(Literal.TrueLiteral)
    val firstMatch = (0 until Bands).map { b =>
      And(EqualTo(bandL, Literal(b)), bandsDifferBelow(b)): Expression
    }.reduce(Or)

    assemble(j, lp, rp, Seq((bandL, bandR), (bktL, bktR)), Some(firstMatch), j.condition.toSeq)
  }
}
