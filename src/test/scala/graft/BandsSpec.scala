package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Bands
import graft.sim.SimOps
import graft.text.TextOps

/** Exactly-once property of the banded pair join, for each key family that
  * runs through it, in the self-join form (`id1 < id2`) and the probe form
  * (`q_id != vec_id`): on random small inputs, `Bands.pairs` returns the
  * brute-force pair set as a MULTISET, each pair with its first agreeing
  * band. Rows are drawn with replacement from a small pool of values that
  * agree on several bands, so repeated ids and pairs met at several bands
  * are common: a pair kept twice, dropped, or owned by the wrong band shows
  * up as a multiset difference. */
class BandsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withInitialSeed(Seed(20261020L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  /** n rows drawn with replacement from a pool of `size`, as pool indices */
  private def drawn(size: Int): Gen[Seq[Int]] =
    Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, Gen.choose(0, size - 1)))

  /** `pool` is a frame of (id, v), one row per pool index; `keys` builds a
    * family's band keys from `v`. Both forms agree with brute force over
    * the pool's evaluated keys, where a null key never agrees. */
  private def exactlyOnce(pool: DataFrame, keys: Column => Seq[Column],
                          l: Seq[Int], r: Seq[Int]): Boolean = {
    val poolKeys = pool.select(col("id"), array(keys(col("v")): _*)).collect()
      .map(row => row.getInt(0) -> row.getSeq[Any](1)).toMap
    def firstBand(i: Int, j: Int): Option[Int] = {
      val (a, b) = (poolKeys(i), poolKeys(j))
      a.indices.find(x => a(x) != null && a(x) == b(x))
    }
    def rowsOf(ids: Seq[Int]) = pool.join(
      spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), "id")
    def side(d: DataFrame, id: String) =
      (d.select(col("id").as(id), col("v").as(s"${id}_v")), keys(col(s"${id}_v")))
    def form(a: String, b: String, cond: Column, rs: Seq[Int],
             keep: (Int, Int) => Boolean): Boolean = {
      val got = Bands.pairs(side(rowsOf(l), a), side(rowsOf(rs), b), cond)
        .select(a, b, "band").collect().map(_.mkString("|")).toSeq.sorted
      val want = (for { i <- l; j <- rs if keep(i, j); band <- firstBand(i, j) }
        yield s"$i|$j|$band").sorted
      got == want
    }
    form("id1", "id2", col("id1") < col("id2"), l, _ < _) &&
      form("q_id", "vec_id", col("q_id") =!= col("vec_id"), r, _ != _)
  }

  private def family[T](values: Gen[T], toPool: Seq[(Int, T)] => DataFrame,
                        keys: Column => Seq[Column]): Unit = {
    val gen = for {
      vs <- Gen.listOfN(6, values)
      l <- drawn(vs.length)
      r <- drawn(vs.length)
    } yield (vs, l, r)
    holds(Prop.forAllNoShrink(gen) { case c @ (vs, l, r) =>
      exactlyOnce(toPool(vs.zipWithIndex.map(_.swap)), keys, l, r) :| c.toString
    })
  }

  // 4 bands of 2 rows over the values {0, 1}: a band agrees with
  // probability 1/4 or more, and most pairs agree on several
  private val sigs = Gen.listOfN(8, Gen.choose(0, 1))

  test("exactly once: hashed minhash buckets, self-join and probe") {
    import spark.implicits._
    family[List[Int]](sigs, _.toDF("id", "v"), TextOps.minhashBuckets(_, 4, 2))
  }

  test("exactly once: minhash slice-equality keys, self-join and probe") {
    import spark.implicits._
    family[List[Int]](sigs, _.toDF("id", "v"), TextOps.minhashSlices(_, 4, 2))
  }

  test("exactly once: simhash quarters with null sketches, self-join and probe") {
    import spark.implicits._
    val quarter = Gen.oneOf(0L, 1L, 0xffffL)
    val sim = Gen.listOfN(4, quarter).map(_.zipWithIndex.map { case (q, b) => q << (16 * b) }.sum)
    family[Option[Long]](Gen.frequency(5 -> sim.map(Some(_)), 1 -> Gen.const(None)),
      _.toDF("id", "v"), TextOps.simhashQuarters)
  }

  test("exactly once: sign-LSH tables, self-join and probe") {
    import spark.implicits._
    // 2 planes per table: 4 buckets, so vectors share buckets in most tables
    val emb = Gen.listOfN(4, Gen.choose(-1.0f, 1.0f))
    family[List[Float]](emb, _.toDF("id", "v"), SimOps.lshKeys(_, 2, 4, 4))
  }

  test("sign-LSH keys: the codegen'd sign bits equal the aggregate(zip_with) fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    def vec(n: Int): Seq[Option[Float]] = Seq.fill(n)(Some(rnd.nextFloat() * 2 - 1))
    val vecs: Seq[Option[Seq[Option[Float]]]] = Seq.fill(40)(Some(vec(4))) ++ Seq(
      None, Some(Seq.empty), Some(vec(3)), Some(vec(5)), Some(vec(2) ++ Seq(None) ++ vec(1)),
      Some(vec(3) :+ Some(Float.NaN)), Some(Seq.fill(4)(Some(0.0f))), Some(Seq.fill(4)(Some(-0.0f))))
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    // the key as the interpreted higher-order functions computed it
    val folded = (0 until 3).map(t => SimOps.hyperplanesFor(t, 5, 4).zipWithIndex.map {
      case (plane, i) =>
        val dot = aggregate(zip_with(col("v"), lit(plane), (x, p) => x.cast("double") * p),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _))
    val key = "spark.sql.codegen.factoryMode"
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, mode)
      try {
        val got = df.select((col("id") +: (SimOps.lshKeys(col("v"), 5, 3, 4) ++ folded)): _*)
          .collect()
        assert(got.length === vecs.length)
        assert(got.map(_.getLong(1)).distinct.length > 4, s"$mode: too few distinct keys")
        for (r <- got) assert((1 to 3).map(r.getLong) === (4 to 6).map(r.getLong),
          s"$mode, vector ${r.getInt(0)}")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
