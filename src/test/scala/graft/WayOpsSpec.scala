package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.WayOps

/** X1 motorway-link naming: the driver solve of `WayOps.deriveWayData`
  * against the earlier distributed fixpoint (one Spark round trip per
  * round, kept below as the oracle), compared on the whole wayData as a
  * multiset of (way_id, name, src, way_pos). */
class WayOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  type Way = (Long, Seq[Long], Map[String, String])

  private def waysDf(ws: Seq[Way]): DataFrame = {
    import spark.implicits._
    ws.toDF("id", "nodes", "tags").withColumn("geometry",
      expr("transform(nodes, n -> struct(cast(n as double) as lat, 0.0d as lon))"))
  }

  private def rows(wd: DataFrame): Seq[String] =
    wd.select("way_id", "name", "src", "way_pos").collect().map(_.mkString("|")).toSeq.sorted

  private def sameWayData(ws: Seq[Way]): Boolean = {
    val ways = waysDf(ws)
    rows(WayOps.deriveWayData(spark, ways)) == rows(DistributedX1.deriveWayData(spark, ways))
  }

  private def motorway(id: Long, nodes: Seq[Long], ref: String): Way =
    (id, nodes, Map("highway" -> "motorway", "ref" -> ref))
  private def link(id: Long, nodes: Seq[Long], tags: (String, String)*): Way =
    (id, nodes, Map("highway" -> "motorway_link") ++ tags)

  /** a motorway with ref at node 100 and an unnamed link chain off it, the
    * links' ids ascending away from the motorway */
  private def chain(n: Int): Seq[Way] =
    motorway(1, Seq(99, 100), "I 5") +: (0 until n).map(k => link(2 + k, Seq(100L + k, 101L + k)))

  test("X1 parity: a 25-link chain stops at the 20-round cap") {
    val wd = WayOps.deriveWayData(spark, waysDf(chain(25)))
    assert(wd.filter(col("src") === "link").count() === 20)
    assert(wd.filter(col("src") === "fake").count() === 5)
    assert(sameWayData(chain(25)))
  }

  test("X1 parity: branches, cycles, interior sources, two sources at a node, first vs last, ref-only") {
    val world = Seq(
      motorway(50, Seq(1, 2, 3), "I 5"),          // node 2 interior
      motorway(40, Seq(9, 2), "US 50"),           // node 2: pos 40 beats pos 50
      link(60, Seq(2, 4)),                        // round 1 via node 2
      link(61, Seq(4, 5)), link(62, Seq(4, 6)),   // branch at node 4, round 2
      link(63, Seq(5, 7)), link(64, Seq(7, 5)),   // cycle hanging off the branch
      link(70, Seq(20, 21)), link(71, Seq(21, 20)), // cycle with no source: fake
      link(65, Seq(3, 9)),                        // first node says I 5, last US 50
      link(66, Seq(6, 30), "ref" -> "R 1"),       // ref-only: named and X1, via node 30
      link(30, Seq(30, 31), "name" -> "Ramp A"),  // named link source
      link(67, Seq(31, 8, 6)),                    // first Ramp A, last the branch
      link(68, Seq(8, 41)),                       // touches link 67 at its interior node
      (80L, Seq(41L, 42L), Map("highway" -> "residential")))
    val byId = WayOps.deriveWayData(spark, waysDf(world)).filter(col("src") === "link")
      .select("way_id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(60) === "US 50" && byId(65) === "I 5" && byId(67) === "Ramp A")
    assert(byId(68) === "Ramp A" && byId(66) === "Ramp A" && !byId.contains(70))
    assert(sameWayData(world))
  }

  test("X1 parity: random link graphs over a small node pool (ScalaCheck, fixed seed)") {
    val path = for {
      n <- Gen.choose(2, 4)
      ns <- Gen.listOfN(n, Gen.choose(1L, 9L))
    } yield ns
    val way: Gen[(Long, Seq[Long]) => Way] = Gen.frequency(
      2 -> Gen.oneOf("I 5", "US 50", "CA 1").map(r => (id: Long, ns: Seq[Long]) => motorway(id, ns, r)),
      1 -> Gen.oneOf("Ramp A", "Ramp B").map(n => (id: Long, ns: Seq[Long]) => link(id, ns, "name" -> n)),
      5 -> Gen.const((id: Long, ns: Seq[Long]) => link(id, ns)),
      1 -> Gen.const((id: Long, ns: Seq[Long]) => link(id, ns, "ref" -> "R 1")),
      1 -> Gen.oneOf(Map("highway" -> "residential"), Map("highway" -> "residential", "name" -> "Elm"))
        .map(t => (id: Long, ns: Seq[Long]) => (id, ns, t)))
    // a third of the worlds also hang a chain of 21-25 links, ids ascending
    // away from it, off a pool node: it outlasts the 20-round cap
    val world = for {
      n <- Gen.choose(3, 12)
      ids <- Gen.pick(n, 1L to 200L)
      kinds <- Gen.listOfN(n, way)
      paths <- Gen.listOfN(n, path)
      tail <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(21, 25))
      at <- Gen.choose(1L, 9L)
    } yield ids.toSeq.zip(kinds).zip(paths).map { case ((id, k), ns) => k(id, ns) } ++
      (0 until tail).map(k => link(300L + k, Seq(if (k == 0) at else 999L + k, 1000L + k)))
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(15)
      .withInitialSeed(Seed(20261018L)), Prop.forAllNoShrink(world)(w => sameWayData(w) :| w.mkString("\n")))
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("X1 job count does not grow with the rounds: a 2-link and a 15-link chain") {
    def jobs(n: Int): Int = JobCounter.jobs(spark) {
      val wd = WayOps.deriveWayData(spark, waysDf(chain(n)))
      assert(wd.filter(col("src") === "link").count() === n)
    }
    jobs(2) // warm-up
    assert(jobs(2) === jobs(15))
  }
}

/** The distributed X1 fixpoint `WayOps.deriveWayData` ran before the driver
  * solve: per round a groupBy, two left joins, eager localCheckpoints and a
  * count. Kept verbatim as the parity oracle. */
object DistributedX1 {
  def deriveWayData(spark: SparkSession, ways: DataFrame, maxIter: Int = 20): DataFrame = {
    val tagged = ways.filter(col("tags").isNotNull).withColumn("way_pos", col("id"))
      .select(col("id").as("way_id"),
        WayOps.wayName(col("tags")).as("fname"),
        col("tags").getItem("highway").as("highway"),
        col("tags").getItem("name").as("tag_name"),
        col("tags").getItem("ref").as("tag_ref"),
        col("nodes"), col("geometry"), col("way_pos"))
      .localCheckpoint() // synth lineage is deep; cut it once

    val named = tagged.filter(length(col("fname")) > 0)
      .select(col("way_id"), col("fname").as("name"), col("highway"),
        col("nodes"), col("geometry"), col("way_pos"), lit("named").as("src"))

    // --- X1 fixpoint: unnamed motorway_links take ref of an adjacent
    // motorway or name of an adjacent named link (first/last node, first
    // matching way in input order), repeated until no progress.
    var links = tagged.filter(col("highway") === "motorway_link" && col("tag_name").isNull)
      .select(col("way_id"), col("highway"), col("nodes"), col("geometry"), col("way_pos"),
        element_at(col("nodes"), 1).as("first_node"),
        element_at(col("nodes"), -1).as("last_node"))
      .localCheckpoint()
    // naming sources present from the start: motorways with ref; named links
    val motorwaySrc = tagged
      .filter(col("highway") === "motorway" && col("tag_ref").isNotNull)
      .select(col("way_pos"), col("tag_ref").as("src_name"), explode(col("nodes")).as("node"))
    val namedLinkSrc0 = tagged
      .filter(col("highway") === "motorway_link" && col("tag_name").isNotNull)
      .select(col("way_pos"), col("tag_name").as("src_name"), explode(col("nodes")).as("node"))
    var sources = motorwaySrc.unionByName(namedLinkSrc0).localCheckpoint()

    var resolved = spark.emptyDataFrame
    var resolvedInit = false
    var remaining = links.count()
    var iter = 0
    var progress = true
    while (remaining > 0 && progress && iter < maxIter) {
      // first matching source way per node, by input order
      val perNode = sources.groupBy("node")
        .agg(min_by(col("src_name"), col("way_pos")).as("node_name"))
      val cand = links
        .join(perNode.withColumnRenamed("node", "fn").withColumnRenamed("node_name", "name_first"),
          links("first_node") === col("fn"), "left")
        .join(perNode.withColumnRenamed("node", "ln").withColumnRenamed("node_name", "name_last"),
          links("last_node") === col("ln"), "left")
        .withColumn("new_name", coalesce(col("name_first"), col("name_last")))
      val newlyNamed = cand.filter(col("new_name").isNotNull)
        .select(col("way_id"), col("new_name").as("name"), col("highway"),
          col("nodes"), col("geometry"), col("way_pos"),
          col("first_node"), col("last_node"))
        .localCheckpoint()
      val n = newlyNamed.count()
      if (n == 0) progress = false
      else {
        val newRows = newlyNamed.drop("first_node", "last_node")
        resolved = if (resolvedInit) resolved.unionByName(newRows) else newRows
        resolvedInit = true
        links = cand.filter(col("new_name").isNull)
          .select(col("way_id"), col("highway"), col("nodes"), col("geometry"),
            col("way_pos"), col("first_node"), col("last_node"))
          .localCheckpoint()
        sources = sources.unionByName(
          newlyNamed.select(col("way_pos"), col("name").as("src_name"),
            explode(col("nodes")).as("node"))).localCheckpoint()
        remaining -= n
      }
      iter += 1
    }
    // X1-named links are pushed after all named ways (reference push order)
    val linkRows =
      if (resolvedInit)
        resolved.select(col("way_id"), col("name"), col("highway"),
          col("nodes"), col("geometry"),
          (col("way_pos") + 1000000000L).as("way_pos"), lit("link").as("src"))
      else named.limit(0)

    // --- A10 fake names for still-unnamed ways: sorted union of adjacent
    // named-way names + sentinel ('motorway_link' for unnamed links that X1
    // could not name, 'JUNCTION' otherwise).
    val namedSoFar = named.unionByName(linkRows)
    val nodeNames = namedSoFar
      .select(explode(col("nodes")).as("node"), col("name"))
      .groupBy("node").agg(collect_set(col("name")).as("nnames"))
    val unnamed = tagged.filter(length(col("fname")) === 0)
      .join(linkRows.select(col("way_id")).withColumn("was_named", lit(true)),
        Seq("way_id"), "left_anti")
    val fakeRows = unnamed
      .select(col("way_id"), col("highway"), col("nodes"), col("geometry"), col("way_pos"),
        posexplode(col("nodes")))
      .withColumnRenamed("col", "node")
      .join(nodeNames, Seq("node"), "left")
      .groupBy("way_id", "highway", "nodes", "geometry", "way_pos")
      .agg(array_sort(array_distinct(concat(
        array(when(col("highway") === "motorway_link", lit("motorway_link"))
          .otherwise(lit("JUNCTION"))),
        flatten(collect_list(coalesce(col("nnames"), array().cast("array<string>"))))
      ))).as("names_arr"))
      .select(col("way_id"), concat_ws("/", col("names_arr")).as("name"), col("highway"),
        col("nodes"), col("geometry"),
        (col("way_pos") + 2000000000L).as("way_pos"), lit("fake").as("src"))

    named.unionByName(linkRows).unionByName(fakeRows)
  }
}
