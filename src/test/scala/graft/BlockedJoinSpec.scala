package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exprs.fns
import graft.plans.{BlockedJoin, RangeJoinRewrite}

/** Exactly-once property of the blocked-join rules: on random small inputs,
  * each rule's rewritten join returns the naive join's rows as a MULTISET,
  * the naive side planned with every blocked-join rule disabled. Both sides
  * draw their rows with replacement from a small pool, so duplicate rows and
  * pairs that share several blocks are common: a pair the owner conjunct
  * lets through twice, or drops, shows up as a multiset difference. */
class BlockedJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** the naive and the rewritten rows agree, and the rewrite's block key
    * `key` is in the rewritten plan */
  private def sameRows(key: String)(join: => DataFrame): Boolean = {
    val prev = spark.experimental.extraOptimizations
    val others = prev.filterNot(r => BlockedJoin.rules.contains(r))
    try {
      spark.experimental.extraOptimizations = others
      val naive = rows(join)
      spark.experimental.extraOptimizations = others ++ BlockedJoin.rules
      val blocked = join
      blocked.queryExecution.optimizedPlan.toString.contains(key) && rows(blocked) == naive
    } finally spark.experimental.extraOptimizations = prev
  }

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(15)
      .withInitialSeed(Seed(20261017L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  /** n rows drawn with replacement from `pool`, tagged by pool index */
  private def drawn[T](pool: Seq[T], n: Gen[Int]): Gen[Seq[(Int, T)]] =
    n.flatMap(k => Gen.listOfN(k, Gen.choose(0, pool.length - 1).map(i => (i, pool(i)))))

  private def cmp(strict: Boolean)(a: org.apache.spark.sql.Column,
                                   b: org.apache.spark.sql.Column) =
    if (strict) a < b else a <= b

  test("exactly once: hamming rewrite, distances 0-3, < and <= forms") {
    import spark.implicits._
    val flips = for {
      n <- Gen.choose(0, 5)
      bits <- Gen.listOfN(n, Gen.choose(0, 63))
    } yield bits.foldLeft(0L)((m, b) => m ^ (1L << b))
    val gen = for {
      bases <- Gen.listOfN(3, Gen.long)
      pool <- Gen.listOfN(8, Gen.zip(Gen.oneOf(bases), flips).map { case (b, f) => b ^ f })
      l <- drawn(pool, Gen.choose(3, 10))
      r <- drawn(pool, Gen.choose(3, 10))
      maxHam <- Gen.choose(0, 3)
      strict <- Gen.oneOf(false, true)
    } yield (l, r, maxHam, strict)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, maxHam, strict) =>
      val a = l.toDF("id1", "p1")
      val b = r.toDF("id2", "p2")
      val bound = if (strict) maxHam + 1 else maxHam
      sameRows("_graft_band") {
        a.join(b, cmp(strict)(bit_count(col("p1").bitwiseXOR(col("p2"))), lit(bound)))
      } :| c.toString
    })
  }

  private val intervalPool: Gen[Seq[(Long, Long)]] = Gen.listOfN(8, for {
    s <- Gen.choose(-300L, 300L)
    len <- Gen.frequency(9 -> Gen.choose(0L, 120L), 1 -> Gen.choose(-20L, -1L))
  } yield (s, s + len))

  test("exactly once: range rewrite, interval overlap with negative values and strict bounds") {
    import spark.implicits._
    val gen = for {
      poolA <- intervalPool
      poolB <- intervalPool
      l <- drawn(poolA, Gen.choose(3, 10))
      r <- drawn(poolB, Gen.choose(3, 10))
      bin <- Gen.choose(1L, 64L)
      strict1 <- Gen.oneOf(false, true)
      strict2 <- Gen.oneOf(false, true)
    } yield (l, r, bin, strict1, strict2)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, bin, strict1, strict2) =>
      val a = l.map { case (i, (s, e)) => (i, s, e) }.toDF("a_id", "a_s", "a_e")
      val b = r.map { case (i, (s, e)) => (i, s, e) }.toDF("b_id", "b_s", "b_e")
      withBin(bin) {
        sameRows("_graft_rbin") {
          a.join(b, cmp(strict1)(col("a_s"), col("b_e")) && cmp(strict2)(col("b_s"), col("a_e")))
        }
      } :| c.toString
    })
  }

  test("exactly once: range rewrite, point-in-interval") {
    import spark.implicits._
    val gen = for {
      pool <- intervalPool
      pts <- Gen.listOfN(8, Gen.choose(-350L, 450L))
      l <- drawn(pool, Gen.choose(3, 10))
      r <- drawn(pts, Gen.choose(3, 10))
      bin <- Gen.choose(1L, 64L)
      strict <- Gen.oneOf(false, true)
    } yield (l, r, bin, strict)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, bin, strict) =>
      val iv = l.map { case (i, (s, e)) => (i, s, e) }.toDF("a_id", "a_s", "a_e")
      val pt = r.toDF("b_id", "b_p")
      withBin(bin) {
        sameRows("_graft_rbin") {
          iv.join(pt, cmp(strict)(col("a_s"), col("b_p")) && cmp(strict)(col("b_p"), col("a_e")))
        }
      } :| c.toString
    })
  }

  test("exactly once: distance rewrite at high latitude and across ±180°") {
    import spark.implicits._
    val mPerDeg = graft.geom.Geom.EarthRadiusM * math.Pi / 180.0
    val anchor = Gen.oneOf(
      Gen.zip(Gen.choose(60.0, 86.0), Gen.choose(-180.0, 180.0)), // high latitude
      Gen.zip(Gen.choose(-60.0, 60.0), Gen.choose(179.98, 180.0))) // antimeridian
    val gen = for {
      (lat0, lon0) <- anchor
      meters <- Gen.choose(30.0, 3000.0)
      offsets <- Gen.listOfN(8, Gen.zip(Gen.choose(-2.0, 2.0), Gen.choose(-2.0, 2.0)))
      pool = offsets.map { case (dy, dx) =>
        val lat = lat0 + dy * meters / mPerDeg
        val lon = lon0 + dx * meters / (mPerDeg * math.cos(math.toRadians(lat)))
        (lat, (lon + 540.0) % 360.0 - 180.0)
      }
      l <- drawn(pool, Gen.choose(3, 10))
      r <- drawn(pool, Gen.choose(3, 10))
      strict <- Gen.oneOf(false, true)
    } yield (l, r, meters, strict)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, meters, strict) =>
      val a = l.map { case (i, (la, lo)) => (i, la, lo) }.toDF("a_id", "a_lat", "a_lon")
      val b = r.map { case (i, (la, lo)) => (i, la, lo) }.toDF("b_id", "b_lat", "b_lon")
      sameRows("_graft_cell") {
        a.join(b, cmp(strict)(
          fns.haversine_m(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")), lit(meters)))
      } :| c.toString
    })
  }

  /** boxes (minLat, minLon, maxLat, maxLon) on a half-cell lattice around
    * the origin at `res`, so they touch cell edges, straddle negative
    * coordinates and cover 1-16 cells; pairs often share 2-9 */
  private def half(res: Int): Double = 0.5 / graft.cells.GridCell.pow10(res)

  private def boxPool(res: Int): Gen[Seq[(Double, Double, Double, Double)]] =
    Gen.listOfN(8, for {
      lat <- Gen.choose(-6, 6); lon <- Gen.choose(-6, 6)
      h <- Gen.choose(0, 6); w <- Gen.choose(0, 6)
    } yield (lat * half(res), lon * half(res), (lat + h) * half(res), (lon + w) * half(res)))

  private def cover(p: String, res: Int) = fns.cells_covering(col(s"${p}_lat0"),
    col(s"${p}_lon0"), col(s"${p}_lat1"), col(s"${p}_lon1"), res)

  test("exactly once: cover rewrite, box x box sharing several cells") {
    import spark.implicits._
    val gen = for {
      res <- Gen.choose(0, 3)
      poolA <- boxPool(res)
      poolB <- boxPool(res)
      l <- drawn(poolA, Gen.choose(3, 10))
      r <- drawn(poolB, Gen.choose(3, 10))
      refine <- Gen.oneOf(false, true)
    } yield (l, r, res, refine)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, res, refine) =>
      val a = l.map { case (i, (y0, x0, y1, x1)) => (i, y0, x0, y1, x1) }
        .toDF("a_id", "a_lat0", "a_lon0", "a_lat1", "a_lon1")
      val b = r.map { case (i, (y0, x0, y1, x1)) => (i, y0, x0, y1, x1) }
        .toDF("b_id", "b_lat0", "b_lon0", "b_lat1", "b_lon1")
      val overlap = arrays_overlap(cover("a", res), cover("b", res))
      sameRows("cell#") {
        a.join(b, if (refine) overlap && col("a_id") =!= col("b_id") else overlap)
      } :| c.toString
    })
  }

  test("exactly once: cover rewrite, point x box on either side") {
    import spark.implicits._
    val gen = for {
      res <- Gen.choose(0, 3)
      pool <- boxPool(res)
      pts <- Gen.listOfN(8, Gen.zip(Gen.choose(-8, 14), Gen.choose(-8, 14))
        .map { case (y, x) => (y * half(res), x * half(res)) })
      l <- drawn(pool, Gen.choose(3, 10))
      r <- drawn(pts, Gen.choose(3, 10))
      pointLeft <- Gen.oneOf(false, true)
    } yield (l, r, res, pointLeft)
    holds(Prop.forAllNoShrink(gen) { case c @ (l, r, res, pointLeft) =>
      val box = l.map { case (i, (y0, x0, y1, x1)) => (i, y0, x0, y1, x1) }
        .toDF("a_id", "a_lat0", "a_lon0", "a_lat1", "a_lon1")
      val pt = r.map { case (i, (y, x)) => (i, y, x) }.toDF("b_id", "b_lat", "b_lon")
      val within = array_contains(cover("a", res), fns.cell_encode(col("b_lat"), col("b_lon"), res))
      sameRows("cell#") {
        if (pointLeft) pt.join(box, within) else box.join(pt, within)
      } :| c.toString
    })
  }

  private def withBin[A](bin: Long)(body: => A): A = {
    val key = RangeJoinRewrite.BinConfKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bin.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
