package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exprs.fns
import graft.ops.{TopoIntersections, TopoRow, WayOps}

/** `TopoIntersections`: one node aggregate over wayData and one typed pass
  * over the streets groups, against the earlier plan (a second explode of
  * the raw ways joined on node, then A4, A5 and A6 as separate stages, kept
  * below as the oracle). lat/lon agree to 1e-12, every other column
  * exactly. */
class TopoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  type Way = (Long, Seq[Long], Map[String, String])

  // node positions on a 7×7 grid of 20 m × 30 m steps: some same-streets
  // rows fall within the 50 m clustering radius, others do not
  private def waysDf(ws: Seq[Way]): DataFrame = {
    import spark.implicits._
    ws.toDF("id", "nodes", "tags").withColumn("geometry", expr(
      "transform(nodes, n -> struct(37.0d + (n % 7) * 0.0002d as lat, " +
        "-122.0d + ((n div 7) % 7) * 0.0003d as lon))"))
  }

  private def named(id: Long, nodes: Seq[Long], name: String): Way =
    (id, nodes, Map("highway" -> "residential", "name" -> name))

  /** an unnamed way over k nodes of way "Comb A", touching "Comb B" at its
    * first node: its fake name holds JUNCTION, and all k nodes share one
    * JUNCTION streets key (an A4 group of k rows) */
  private def comb(k: Int): Seq[Way] = Seq(
    (500L, (101L to 100L + k).toSeq, Map("highway" -> "residential")),
    named(501, (101L to 100L + k).toSeq, "Comb A"),
    named(502, Seq(101L, 120L), "Comb B"))

  /** k rungs "Ladder P" dead-ending on rail "Ladder Q": k nodes share one
    * intString, so from 10 rungs on the last one overwrites the first (W1) */
  private def ladder(k: Int): Seq[Way] =
    named(650, (201L to 200L + k).toSeq, "Ladder Q") +:
      (1 to k).map(i => named(600L + i, Seq(200L + i, 230L + i), "Ladder P"))

  private def rows(df: DataFrame): Seq[TopoRow] = {
    import spark.implicits._
    df.as[TopoRow].collect().toSeq
      .map(r => r.copy(memberships = r.memberships.sortBy(m => (m.way_id, m.name))))
      .sortBy(r => (r.ord, r.raw, r.nodeId, r.streets, r.wayIds.mkString(","), r.lat, r.lon))
  }

  /** (outputs agree, both outputs) */
  private def sameTopo(ws: Seq[Way]): (Boolean, String) = {
    val ways = waysDf(ws)
    val wd = WayOps.deriveWayData(spark, ways)
    val got = rows(TopoIntersections(spark, wd, ways))
    val want = rows(RawAggTopo(spark, wd, ways))
    def same(a: TopoRow, b: TopoRow) =
      math.abs(a.lat - b.lat) <= 1e-12 && math.abs(a.lon - b.lon) <= 1e-12 &&
        a.copy(lat = 0, lon = 0) == b.copy(lat = 0, lon = 0)
    (got.length == want.length && got.zip(want).forall((same _).tupled),
      s"got:\n${got.mkString("\n")}\nwant:\n${want.mkString("\n")}")
  }

  test("parity with the raw-ways join and staged A4/A5/A6 (ScalaCheck, fixed seed)") {
    val way: Gen[(Long, Seq[Long]) => Way] = Gen.frequency(
      5 -> Gen.oneOf("Elm", "Oak", "Pine").map(n => (id: Long, ns: Seq[Long]) => named(id, ns, n)),
      2 -> Gen.const((id: Long, ns: Seq[Long]) => (id, ns, Map("highway" -> "residential"))),
      2 -> Gen.oneOf("I 5", "US 50").map(r => (id: Long, ns: Seq[Long]) =>
        (id, ns, Map("highway" -> "motorway", "ref" -> r))),
      1 -> Gen.const((id: Long, ns: Seq[Long]) =>
        (id, ns, Map("highway" -> "motorway_link", "name" -> "Ramp A"))),
      2 -> Gen.const((id: Long, ns: Seq[Long]) => (id, ns, Map("highway" -> "motorway_link"))),
      // ref-only link: a named row (by ref) and, once X1 names it, a link row
      1 -> Gen.const((id: Long, ns: Seq[Long]) =>
        (id, ns, Map("highway" -> "motorway_link", "ref" -> "R 1"))))
    val path = for {
      n <- Gen.choose(2, 4)
      ns <- Gen.listOfN(n, Gen.choose(1L, 12L))
    } yield ns
    val world = for {
      n <- Gen.choose(4, 14)
      kinds <- Gen.listOfN(n, way)
      paths <- Gen.listOfN(n, path)
      k <- Gen.choose(1, 4)
      rungs <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(9, 12))
    } yield kinds.zip(paths).zipWithIndex.map { case ((kind, ns), i) => kind(i + 1L, ns) } ++
      comb(k) ++ ladder(rungs)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(Seed(20261019L)), Prop.forAllNoShrink(world) { w =>
        val (ok, outputs) = sameTopo(w)
        ok :| outputs
      })
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("parity on hand-built worlds: junction groups of 1-4 rows, a 12-rung ladder") {
    for (w <- (1 to 4).map(comb) :+ ladder(12)) {
      val (ok, outputs) = sameTopo(w)
      assert(ok, outputs)
    }
  }

  test("job ceiling: at most 4 jobs per materialization over a checkpointed wayData") {
    val ways = waysDf(comb(3) ++ ladder(11))
    val wd = WayOps.deriveWayData(spark, ways).localCheckpoint()
    def jobs(): Int = JobCounter.jobs(spark) {
      assert(TopoIntersections(spark, wd, ways).collect().nonEmpty)
    }
    // two calls: the ceiling holds without a cache an earlier call left
    val counts = Seq(jobs(), jobs())
    assert(counts.forall(_ <= 4), counts)
  }
}

/** `TopoIntersections.apply` before the single pass: the per-node highway
  * set and way ids from a second explode of the raw ways, joined on node;
  * A4 as a SQL average per JUNCTION streets group; A5 as a count window
  * splitting singles from the A6 groups. Kept as the parity oracle. */
object RawAggTopo {
  def apply(spark: SparkSession, wayData: DataFrame, rawWays: DataFrame): DataFrame = {
    import spark.implicits._
    val n = size(col("nodes"))
    val exploded = wayData
      .select(col("way_pos"), col("way_id"), col("name"), col("src"), n.as("n"),
        posexplode(arrays_zip(col("nodes"), col("geometry"))))
      .select(col("name"), col("way_id"),
        col("col.nodes").as("node"),
        col("col.geometry.lat").as("lat"), col("col.geometry.lon").as("lon"),
        (col("way_pos") * 1000000L + col("pos")).as("okey"),
        (col("src") =!= "fake" && col("n") >= 2 &&
          (col("pos") === 0 || col("pos") === col("n") - 1)).as("is_end"))
    val wdAgg = exploded.groupBy("node")
      .agg(
        collect_set(col("name")).as("names"),
        min(col("okey")).as("ord"),
        min_by(struct(col("lat"), col("lon")), col("okey")).as("g"),
        collect_set(struct(col("way_id"), col("name"))).as("memberships"),
        collect_list(when(col("is_end"), col("name"))).as("end_names"))
      .filter(size(col("names")) > 1)
      .withColumn("dead_names",
        sort_array(filter(array_distinct(col("end_names")),
          nm => size(filter(col("end_names"), x => x === nm)) % 2 === 1)))
      .select(col("node"), col("names"), col("ord"),
        col("g.lat").as("lat"), col("g.lon").as("lon"),
        col("memberships"), col("dead_names"))
    val rawAgg = rawWays.filter(col("tags").isNotNull)
      .select(explode(col("nodes")).as("node"), col("id"),
        col("tags").getItem("highway").as("hw"))
      .groupBy("node").agg(
        collect_set(col("hw")).as("hws"),
        sort_array(collect_set(col("id"))).as("wayIds"))

    val wIntString = Window.partitionBy("intString").orderBy("ord")
    val ints0 = wdAgg
      .join(rawAgg, Seq("node"))
      .filter(exists(col("hws"), h => h =!= "motorway_link"))
      .filter(!forall(col("hws"), h => h === "motorway" || h === "motorway_link"))
      .withColumn("intString", concat_ws("/", array_sort(col("names"))))
      .withColumn("rn", row_number().over(wIntString))
      .withColumn("mx", max(col("rn")).over(Window.partitionBy("intString")))
      .filter(col("rn") <= 9 || col("rn") === col("mx"))
      .filter(!(col("mx") >= 10 && col("rn") === 1))
      .withColumn("raw",
        when(col("rn") === 1 || col("rn") >= 10, col("intString"))
          .otherwise(concat(col("intString"), lit("_"), col("rn"))))
      .withColumn("streets", fns.clean_street_key(col("raw")))
      .select(col("lat"), col("lon"), col("raw"), col("streets"), col("wayIds"),
        col("node").as("nodeId"), col("ord"),
        coalesce(col("dead_names"), array().cast("array<string>")).as("deadNames"),
        col("memberships"))

    // A4: JUNCTION groups averaged relationally
    val isJ = col("streets").contains("JUNCTION")
    val simple = ints0.filter(!isJ)
    val junction = ints0.filter(isJ)
      .groupBy(col("streets"))
      .agg(
        avg(col("lat")).as("lat"), avg(col("lon")).as("lon"),
        min_by(col("raw"), col("ord")).as("raw"),
        sort_array(array_distinct(flatten(collect_list(col("wayIds"))))).as("wayIds"),
        min_by(col("nodeId"), col("ord")).as("nodeId"),
        min(col("ord")).as("ord"),
        min_by(col("deadNames"), col("ord")).as("deadNames"),
        min_by(col("memberships"), col("ord")).as("memberships"))
      .select(simple.columns.map(col).toIndexedSeq: _*)
    val afterJunction = simple.unionByName(junction)

    // A5 + A6: singles pass, duplicate streets cluster
    val counted = afterJunction.withColumn("ct", count(lit(1)).over(Window.partitionBy("streets")))
    val singles = counted.filter(col("ct") === 1).drop("ct")
    val dupes = counted.filter(col("ct") > 1).drop("ct")
      .as[TopoRow]
      .groupByKey(_.streets)
      .flatMapGroups((_: String, it: Iterator[TopoRow]) => TopoIntersections.greedyCluster(it.toSeq))
    TopoIntersections.removeJunctions(singles.unionByName(dupes.toDF()))
  }
}
