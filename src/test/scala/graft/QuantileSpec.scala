package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.QuantileOps

/** Histogram-narrowing exact quantiles vs brute-force sorted-array truth,
  * with collectLimit forced tiny so the multi-level narrowing path (not
  * the collect shortcut) is what's under test. */
class QuantileSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private val QS = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)

  private def truth(vals: Array[Double], q: Double): Double = {
    val s = vals.sorted
    s(math.floor(q * (s.length - 1).toDouble).toInt)
  }

  private def check(vals: Array[Double], collectLimit: Int, buckets: Int = 32): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.toSeq.map(Tuple1(_)), 16)).toDF("x")
    val got = QuantileOps.exactQuantiles(df, "x", QS, buckets, collectLimit)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for (q <- QS)
      assert(got(q) == truth(vals, q), s"q=$q got=${got(q)} want=${truth(vals, q)}")
  }

  test("multi-level narrowing matches sorted-array truth (deterministic LCG values)") {
    // 40k values, collectLimit 256 → must narrow at least two levels
    val vals = Array.iterate(123456789L, 40000)(x => (x * 48271) % 2147483647L)
      .map(x => (x % 1000000L).toDouble / 7.0)
    check(vals, collectLimit = 256)
  }

  test("duplicate pileups: 90% of mass on 3 values forces the no-progress fallback") {
    val vals = Array.tabulate(30000) { i =>
      if (i % 10 == 0) i.toDouble else (i % 3).toDouble * 1e-9
    }
    check(vals, collectLimit = 64, buckets = 16)
  }

  test("all-equal population short-circuits") {
    val vals = Array.fill(5000)(42.5)
    check(vals, collectLimit = 100)
  }

  test("small population takes the collect shortcut and stays exact") {
    val vals = Array.tabulate(500)(i => (499 - i).toDouble)
    check(vals, collectLimit = 1 << 16)
  }

  test("negative and mixed-sign ranges") {
    val vals = Array.tabulate(20000)(i => (i - 10000).toDouble * 0.37)
    check(vals, collectLimit = 128)
  }

  test("empty input is a clear error, not NaN") {
    val df = spark.range(0).select(col("id").cast("double").as("x"))
    val e = intercept[IllegalArgumentException](
      QuantileOps.exactQuantiles(df, "x", Seq(0.5)).collect())
    assert(e.getMessage.contains("no non-null values"))
  }

  // values whose order a float bucket width gets wrong: the non-finite
  // ends, the extremes of the finite range, subnormals and both zeros
  private val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, -Double.MinPositiveValue,
    3 * Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 0.0, -0.0, 1.0, -1.0)

  private def bitsEqual(a: Double, b: Double) =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("property: any doubles, buckets and collectLimit give the sorted-array quantiles") {
    val value = Gen.frequency(3 -> Gen.oneOf(edges), 2 -> Gen.choose(-1e3, 1e3),
      1 -> Gen.choose(-1e-310, 1e-310), 1 -> Gen.choose(-Double.MaxValue, Double.MaxValue))
    val gen = for {
      pool <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, value))
      n <- Gen.choose(1, 300)
      // pool(0) takes most draws: heavy duplicates
      vals <- Gen.listOfN(n, Gen.frequency(3 -> Gen.const(0), 2 -> Gen.choose(0, pool.size - 1)))
        .map(_.map(pool).toArray)
      qs <- Gen.choose(1, 6).flatMap(Gen.listOfN(_,
        Gen.frequency(1 -> Gen.oneOf(0.0, 1.0), 3 -> Gen.choose(0.0, 1.0))))
      buckets <- Gen.choose(2, 64)
      limit <- Gen.choose(4, 256)
    } yield (vals, qs, buckets, limit)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(24)
      .withInitialSeed(Seed(20261021L)), Prop.forAllNoShrink(gen) { case (vals, qs, buckets, limit) =>
      val df = spark.createDataFrame(vals.toSeq.map(Tuple1(_))).toDF("x").repartition(3)
      val sorted = vals.clone(); java.util.Arrays.sort(sorted)
      val want = qs.sorted.map(q => q -> sorted(math.floor(q * (vals.length - 1).toDouble).toInt))
      // the same answer whether or not n exceeds collectLimit
      Seq(limit, vals.length).forall { cl =>
        val got = QuantileOps.exactQuantiles(df, "x", qs, buckets, cl).collect()
          .map(r => r.getDouble(0) -> r.getDouble(1)).toSeq
        got.map(_._1) == want.map(_._1) &&
          got.zip(want).forall { case ((_, g), (_, w)) => bitsEqual(g, w) }
      } :| s"n=${vals.length} buckets=$buckets limit=$limit qs=$qs vals=${vals.distinct.toSeq}"
    })
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("jobs: 1 and 7 quantiles whose target buckets fit collectLimit run the same jobs") {
    // 20,000 values over 40 binary exponents: each level-0 bucket (sign,
    // exponent, top mantissa bit) holds about 250 of them
    val vals = Array.tabulate(20000)(i => math.scalb(1.0 + (i / 40) / 500.0, i % 40))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.toSeq.map(Tuple1(_)), 4)).toDF("x")
    def jobs(qs: Seq[Double]) = JobCounter.jobs(spark) {
      val got = QuantileOps.exactQuantiles(df, "x", qs, collectLimit = 8192).collect()
      for (r <- got) assert(r.getDouble(1) == truth(vals, r.getDouble(0)))
    }
    val (one, seven) = (jobs(Seq(0.5)), jobs(QS))
    assert(one == seven, s"1 quantile: $one jobs, 7 quantiles: $seven jobs")
  }

  test("registry q_quantiles_exact: rows ascend in q, in the bare call's jobs") {
    val dir = tempDir("quantiles")
    spark.range(0, 20000, 1, 3).select((col("id") * 7919L % 20000L).cast("double")
      .as("l_extendedprice")).write.parquet(s"$dir/lineitem.parquet")
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val registry = JobCounter.jobs(spark) {
      rows = SparkEntry.queries("q_quantiles_exact")(spark, dir).collect()
    }
    val bare = JobCounter.jobs(spark) {
      QuantileOps.exactQuantiles(spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_extendedprice", qs).collect()
    }
    assert(rows.map(_.getDouble(0)).toSeq == qs)
    assert(registry == bare, s"registry frame: $registry jobs, bare call: $bare jobs")
  }
}
