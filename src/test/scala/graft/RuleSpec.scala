package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.GridCell
import graft.exprs.fns
import graft.plans.{DistanceJoinRewrite, GraftExtensions, GraftPlans}

/** DistanceJoinRewrite: a naive haversine theta-join must (a) plan as a
  * nested-loop/cartesian without the rule, (b) plan as a cell equi-join with
  * it, (c) return the identical row set, including at high latitudes where
  * the per-row disk radius must exceed 1. */
class RuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def withRule[A](body: => A): A = {
    GraftPlans.enable(spark)
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == DistanceJoinRewrite)
  }

  /** other suites (FunctionsSpec, SketchSpec) call GraftPlans.enable on the
    * shared session and legitimately leave the rule on — the naive-plan leg
    * must strip it explicitly or the sanity check is suite-order flaky. */
  private def withoutRule[A](body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev.filterNot(_ == DistanceJoinRewrite)
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  /** deterministic scattered points around (lat0, lon0), ~1.1 km span */
  private def pts(n: Int, tag: String, lat0: Double, lon0: Double,
                  s: SparkSession = spark): DataFrame =
    s.range(n).select(
      concat(lit(tag), col("id")).as(s"${tag}_id"),
      (lit(lat0) + (col("id") * 7919L % 1000L).cast("double") * lit(1e-5)).as(s"${tag}_lat"),
      (lit(lon0) + (col("id") * 104729L % 1000L).cast("double") * lit(1e-5)).as(s"${tag}_lon"))

  private def distJoin(a: DataFrame, b: DataFrame, meters: Double): DataFrame =
    a.join(b, fns.haversine_m(col("a_lat"), col("a_lon"),
      col("b_lat"), col("b_lon")) <= lit(meters))
      .select(col("a_id"), col("b_id"))

  test("rewrite preserves the naive join's exact row set") {
    val a = pts(400, "a", 37.0, -122.0)
    val b = pts(150, "b", 37.001, -122.001)
    val expected = withoutRule {
      val naive = distJoin(a, b, 111.0)
      val naivePlan = naive.queryExecution.executedPlan.toString
      assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
        naivePlan.contains("CartesianProduct"),
        s"sanity: without the rule this must be a nested-loop join\n$naivePlan")
      naive.collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    assert(expected.nonEmpty)

    withRule {
      val rewritten = distJoin(a, b, 111.0)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"rule must remove the nested-loop join\n$plan")
      assert(plan.contains("_graft_cell"), "cell key must appear in the plan")
      val got = rewritten.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === expected)
    }
  }

  test("high latitude: per-row disk radius k > 1 keeps the join correct") {
    // at lat 83, 250 m is ~0.0185° of longitude: res picks 0.01° cells from
    // the LATITUDE radius, so a fixed 3×3 disk would miss this pair
    // (cells 2 apart in lon); CellDiskK must widen the disk per row
    import spark.implicits._
    val a = Seq(("a0", 83.0, 9.9999)).toDF("a_id", "a_lat", "a_lon")
    val b = Seq(("b0", 83.0, 10.0150), ("b1", 83.0, 11.0)).toDF("b_id", "b_lat", "b_lon")
    assert(graft.geom.Geom.haversineM(83.0, 9.9999, 83.0, 10.0150) <= 250.0)
    val expected = distJoin(a, b, 250.0).collect().map(_.getString(1)).toSet
    assert(expected === Set("b0"))
    withRule {
      val got = distJoin(a, b, 250.0)
      assert(got.queryExecution.executedPlan.toString.contains("_graft_cell"))
      assert(got.collect().map(_.getString(1)).toSet === expected)
    }
  }

  test("rule does not fire when an equi-key already exists") {
    val a = pts(50, "a", 37.0, -122.0).withColumn("k", col("a_id"))
    val b = pts(50, "b", 37.0, -122.0).withColumn("k", col("b_id"))
    withRule {
      val j = a.join(b, a("k") === b("k") &&
        fns.haversine_m(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")) <= lit(500.0))
      assert(!j.queryExecution.optimizedPlan.toString.contains("_graft_cell"))
    }
  }

  test("kFor disk covers every point within the radius (lat/res/meters sweep)") {
    for (lat <- BigDecimal(-88) to BigDecimal(88) by BigDecimal(7.3); res <- 0 to 5;
         meters <- Seq(50.0, 500.0, 5000.0, 50000.0)) {
      val lat0 = lat.toDouble
      val k = GridCell.kFor(lat0, meters, res)
      val c0 = GridCell.encode(lat0, 0.0, res)
      val latRad = meters / (graft.geom.Geom.EarthRadiusM * math.Pi / 180.0)
      val lonMax = math.min(179.0, 2.5 * latRad / math.max(0.02, math.cos(math.toRadians(math.abs(lat0) + latRad))))
      for (i <- -10 to 10; jj <- -10 to 10) {
        val dlat = i * latRad / 10.0; val dlon = jj * lonMax / 10.0
        if (math.abs(lat0 + dlat) <= 90.0 &&
            graft.geom.Geom.haversineM(lat0, 0.0, lat0 + dlat, dlon) <= meters) {
          val c1 = GridCell.encode(lat0 + dlat, dlon, res)
          val dx = math.abs(GridCell.unpackLonIdx(c1) - GridCell.unpackLonIdx(c0))
          val dy = math.abs(GridCell.unpackLatIdx(c1) - GridCell.unpackLatIdx(c0))
          assert(math.max(dx, dy) <= k,
            s"lat=$lat0 res=$res m=$meters: point ($dlat,$dlon) outside disk k=$k")
          // the rectangular disk the rule actually explodes must cover too
          assert(dy <= GridCell.kLatFor(meters, res),
            s"lat=$lat0 res=$res m=$meters: point ($dlat,$dlon) outside rect kLat")
        }
      }
    }
  }

  test("polar rows (lat 89.5) rewrite without overflow and stay correct") {
    // pre-fix: kFor's >=89° fallback returned k = 180·10^res; at the res the
    // rule picks for a ~15 m radius (res 5) disk() then computed (2k+1)² in
    // Int arithmetic → negative array size. The neighborhood excludes the
    // pole, so the exact formula applies and the disk stays tiny.
    import spark.implicits._
    val a = Seq(("a0", 89.5, 10.0)).toDF("a_id", "a_lat", "a_lon")
    val b = Seq(("b0", 89.5, 10.001), // ~9.7 m away at this latitude
                ("b1", 89.5, 25.0)).toDF("b_id", "b_lat", "b_lon")
    assert(graft.geom.Geom.haversineM(89.5, 10.0, 89.5, 10.001) <= 15.0)
    val expected = withoutRule { distJoin(a, b, 15.0).collect().map(_.getString(1)).toSet }
    assert(expected === Set("b0"))
    withRule {
      val got = distJoin(a, b, 15.0)
      assert(got.queryExecution.executedPlan.toString.contains("_graft_cell"))
      assert(got.collect().map(_.getString(1)).toSet === expected)
    }
  }

  test("antimeridian: pairs straddling ±180° join end-to-end (wrap-aware disk + periodic haversine)") {
    // a at lon 179.9995, b0 at -179.9990: 0.0015° apart ACROSS the line
    // (~120 m at lat 20); naive haversine is periodic so the theta-join
    // finds it — the rewritten cell join must too, which requires diskRect
    // to wrap lon indices (pre-wrap it emitted nonexistent ids > 180·10^res
    // and silently dropped the pair). b1 is on the far side but out of
    // range.
    import spark.implicits._
    val a = Seq(("a0", 20.0, 179.9995)).toDF("a_id", "a_lat", "a_lon")
    val b = Seq(("b0", 20.0, -179.9990), ("b1", 20.0, -179.9))
      .toDF("b_id", "b_lat", "b_lon")
    assert(graft.geom.Geom.haversineM(20.0, 179.9995, 20.0, -179.9990) <= 200.0)
    val expected = withoutRule { distJoin(a, b, 200.0).collect().map(_.getString(1)).toSet }
    assert(expected === Set("b0"))
    withRule {
      val got = distJoin(a, b, 200.0)
      assert(got.queryExecution.executedPlan.toString.contains("_graft_cell"))
      assert(got.collect().map(_.getString(1)).toSet === expected)
    }
  }

  test("disk/diskRect size guards use Long arithmetic and a clear cap") {
    val c = GridCell.encode(89.5, 10.0, 5)
    val e1 = intercept[IllegalArgumentException](GridCell.disk(c, 180 * 100000, 5))
    assert(e1.getMessage.contains("exceeds cap"))
    val e2 = intercept[IllegalArgumentException](GridCell.diskRect(c, 180 * 100000, 2, 5))
    assert(e2.getMessage.contains("exceeds cap"))
    // a pole-free polar neighborhood is small: 15 m at lat 89.5, res 5
    val kLon = GridCell.kFor(89.5, 15.0, 5)
    val kLat = GridCell.kLatFor(15.0, 5)
    assert(kLon >= 1 && kLon < 10000, s"kLon=$kLon")
    assert(kLat >= 1 && kLat <= 20, s"kLat=$kLat") // 15 m ≈ 14 res-5 (1.11 m) cells
    assert(GridCell.diskRect(c, kLon, kLat, 5).length === (2 * kLon + 1) * (2 * kLat + 1))
  }

  test("session built with GraftExtensions has the rule active") {
    val orig = spark // force shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions()).getOrCreate()
      val a = pts(60, "a", 37.0, -122.0, s2)
      val b = pts(60, "b", 37.0, -122.0, s2)
      val j = distJoin(a, b, 100.0)
      assert(j.queryExecution.optimizedPlan.toString.contains("_graft_cell"))
      assert(j.count() > 0)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  // ---- HammingJoinRewrite ------------------------------------------------

  private def withoutHam[A](body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ == graft.plans.HammingJoinRewrite)
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  private def hamJoin(all: DataFrame, maxHam: Int = 3): DataFrame = {
    val l = all.select(col("image_id").as("id1"), col("phash").as("p1"))
    val r = all.select(col("image_id").as("id2"), col("phash").as("p2"))
    l.join(r, col("id1") < col("id2") &&
        bit_count(col("p1").bitwiseXOR(col("p2"))) <= lit(maxHam))
      .select("id1", "id2")
  }

  private def hamCorpus(n: Int): (DataFrame, Set[(String, String)]) = {
    import spark.implicits._
    val base = (0L until n.toLong).map(i => (f"a$i%05d", i * 0x9E3779B97F4A7C15L))
    val twins = base.filter(_._2 % 8 == 0)
      .map { case (id, p) => (id + "_d", p ^ 9L) } // hamming 2
    val all = base ++ twins
    val expect = (for {
      (i1, p1) <- all; (i2, p2) <- all
      if i1 < i2 && java.lang.Long.bitCount(p1 ^ p2) <= 3
    } yield (i1, i2)).toSet
    (all.toDF("image_id", "phash"), expect)
  }

  test("hamming rewrite: banded hash-join plan, exact pair set, each pair ONCE") {
    val (df, expect) = hamCorpus(400)
    assert(expect.nonEmpty)
    GraftPlans.enable(spark)
    val j = hamJoin(df)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), "rule must replace the nested loop")
    assert(plan.contains("_graft_band"), "banded explode missing from plan")
    val rows = j.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length === rows.toSet.size,
      "first-matching-band must emit each pair exactly once")
    assert(rows.toSet === expect)
    // without the rule the same query is the nested loop (sanity: the plan
    // assertion above is meaningful)
    withoutHam {
      assert(hamJoin(df).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
    }
  }

  test("hamming rewrite: the owner conjunct's band shifts are folded, no Multiply per pair") {
    val (df, _) = hamCorpus(50)
    GraftPlans.enable(spark)
    val conds = hamJoin(df).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition
    }.flatten
    assert(conds.exists(_.toString.contains("_graft_band")), conds.mkString("\n"))
    assert(!conds.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Multiply])),
      conds.mkString("\n"))
  }

  test("hamming rewrite: distance-0 twin pairs (strict < form) survive exactly once") {
    import spark.implicits._
    val df = (Seq(("x1", 42L), ("x2", 42L), ("y1", 7L)))
      .toDF("image_id", "phash")
    GraftPlans.enable(spark)
    val rows = hamJoin(df, maxHam = 0).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("x1", "x2")))
  }

  test("hamming rewrite fires through the SQL surface too") {
    val (df, expect) = hamCorpus(120)
    GraftPlans.enable(spark)
    df.createOrReplaceTempView("ham_imgs")
    val j = spark.sql(
      """SELECT a.image_id AS id1, b.image_id AS id2
        |FROM ham_imgs a JOIN ham_imgs b
        |  ON a.image_id < b.image_id
        | AND bit_count(a.phash ^ b.phash) <= 3""".stripMargin)
    assert(j.queryExecution.optimizedPlan.toString.contains("_graft_band"))
    assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSet === expect)
  }

  test("hamming rule does not fire when an equi-key already exists") {
    val (df, _) = hamCorpus(50)
    GraftPlans.enable(spark)
    val l = df.select(col("image_id").as("id1"), col("phash").as("p1"),
      (col("phash") % 2).as("g1"))
    val r = df.select(col("image_id").as("id2"), col("phash").as("p2"),
      (col("phash") % 2).as("g2"))
    val j = l.join(r, col("g1") === col("g2") && col("id1") < col("id2") &&
      bit_count(col("p1").bitwiseXOR(col("p2"))) <= lit(3))
    assert(!j.queryExecution.optimizedPlan.toString.contains("_graft_band"))
  }

  // ---- RangeJoinRewrite ----------------------------------------------------

  private def withoutRange[A](body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ == graft.plans.RangeJoinRewrite)
    try body
    finally spark.experimental.extraOptimizations = prev
  }

  private def withBin[A](bin: Long)(body: => A): A = {
    val key = graft.plans.RangeJoinRewrite.BinConfKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bin.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** intervals scattered over [0, 5000) with lengths 1..~400; negative-shift
    * variant exercises floorDiv binning below zero */
  private def intervals(n: Int, tag: String, shift: Long = 0L): DataFrame =
    spark.range(n).select(
      col("id").as(s"${tag}_id"),
      (col("id") * 7919L % 5000L + lit(shift)).as(s"${tag}_s"),
      (col("id") * 7919L % 5000L + col("id") * 131L % 400L + 1L + lit(shift))
        .as(s"${tag}_e"))

  private def points(n: Int, tag: String, shift: Long = 0L): DataFrame =
    spark.range(n).select(
      col("id").as(s"${tag}_id"),
      (col("id") * 104729L % 5400L + lit(shift)).as(s"${tag}_p"))

  test("range rewrite: point-in-interval plans as binned equi-join, exact rows, each pair once") {
    val iv = intervals(300, "a")
    val pt = points(500, "b")
    def join() = iv.join(pt,
        col("b_p") >= col("a_s") && col("b_p") <= col("a_e"))
      .select(col("a_id"), col("b_id"))
    val expected = withoutRange {
      val naive = join()
      assert(naive.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"), "sanity: naive must be a nested loop")
      naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(expected.nonEmpty)
    GraftPlans.enable(spark)
    withBin(64L) { // interval len ≤ 400 → up to ~8 bins/row
      val j = join()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"rule must replace the nested loop\n$plan")
      assert(plan.contains("_graft_rbin"), "bin key missing from plan")
      val rows = j.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === rows.toSet.size,
        "first-shared-bin must emit each pair exactly once")
      assert(rows.toSet === expected)
    }
  }

  test("range rewrite: interval overlap (incl. negative values) exact, each pair once") {
    // shift = -2700 puts roughly half of every interval below zero, so the
    // floorDiv (not truncate) binning is load-bearing
    val a = intervals(250, "a", shift = -2700L)
    val b = intervals(350, "b", shift = -2713L)
    def join() = a.join(b,
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select(col("a_id"), col("b_id"))
    val expected = withoutRange {
      join().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(expected.nonEmpty)
    GraftPlans.enable(spark)
    withBin(64L) {
      val j = join()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"))
      assert(plan.contains("_graft_rbin"))
      val rows = j.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length === rows.toSet.size)
      assert(rows.toSet === expected)
    }
  }

  test("range rewrite: strict < bounds are enforced by the retained predicate") {
    import spark.implicits._
    val a = Seq((1L, 10L, 20L)).toDF("a_id", "a_s", "a_e")
    val b = Seq((1L, 20L), (2L, 15L), (3L, 10L)).toDF("b_id", "b_p")
    GraftPlans.enable(spark)
    withBin(64L) {
      val j = a.join(b, col("b_p") > col("a_s") && col("b_p") < col("a_e"))
        .select(col("b_id"))
      assert(j.queryExecution.optimizedPlan.toString.contains("_graft_rbin"))
      // 20 fails p<e, 10 fails p>s — only 15 qualifies
      assert(j.collect().map(_.getLong(0)).toSet === Set(2L))
    }
  }

  test("range rule does not fire when an equi-key already exists") {
    val a = intervals(40, "a").withColumn("k", col("a_id") % 7)
    val b = points(40, "b").withColumn("k", col("b_id") % 7)
    GraftPlans.enable(spark)
    val j = a.join(b, a("k") === b("k") &&
      col("b_p") >= col("a_s") && col("b_p") <= col("a_e"))
    assert(!j.queryExecution.optimizedPlan.toString.contains("_graft_rbin"))
  }

  test("range rewrite: over-wide interval fails loudly, not unboundedly") {
    import spark.implicits._
    val a = Seq((1L, 0L, Long.MaxValue / 4)).toDF("a_id", "a_s", "a_e")
    val b = Seq((1L, 5L)).toDF("b_id", "b_p")
    GraftPlans.enable(spark)
    withBin(64L) {
      val e = intercept[Exception] {
        a.join(b, col("b_p") >= col("a_s") && col("b_p") <= col("a_e")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("spark.graft.range.bin")), msgs(e).mkString("|"))
    }
  }
}
