package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import graft.model._

/** Operator-level Spark tests with hand-built fixtures exercising the
  * reference code paths the synthetic grid cannot reach via the oracle
  * (A6 branch matrix, X1 chains, W1 >9 overflow, P5/P6 filters, F1/F2). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkWay(id: Long, nodes: Seq[Long], geom: Seq[(Double, Double)],
                    tags: Map[String, String]): (Long, Seq[Long], Seq[(Double, Double)], Map[String, String]) =
    (id, nodes, geom, tags)

  private def waysDf(ws: Seq[(Long, Seq[Long], Seq[(Double, Double)], Map[String, String])]) =
    ws.toDF("id", "nodes", "geom0", "tags")
      .withColumn("geometry", expr("transform(geom0, g -> struct(g._1 as lat, g._2 as lon))"))
      .drop("geom0")

  // ---- F1 name derivation ----------------------------------------------
  test("F1 getWayName: name + split ref tokens joined with ';'") {
    val df = Seq(
      Map("name" -> "X", "ref" -> "I 80;US 50"),
      Map("name" -> "X"),
      Map("ref" -> "I 80"),
      Map("highway" -> "residential")
    ).toDF("tags").select(WayOps.wayName(col("tags")).as("n"))
    assert(df.as[String].collect().toSeq === Seq("X;I 80;US 50", "X", "I 80", ""))
  }

  // ---- F2 clean ----------------------------------------------------------
  test("F2 clean: first _digit only, dedupe, sort (matches JS non-global regex)") {
    assert(graft.exprs.CleanStreetKey.clean("B st_2/A st/B st") === "A st/B st")
    assert(graft.exprs.CleanStreetKey.clean("A_1B_2/C") === "AB_2/C") // only _1 stripped
    assert(graft.exprs.CleanStreetKey.clean("Z/Z/Z") === "Z")
  }

  // ---- X1 fixpoint chain ---------------------------------------------------
  test("X1: link chain picks up motorway ref across two rounds; dead chain keeps fake name") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(10, 11), Seq((0.0, 0.0), (0.0, 1.0)),
        Map("highway" -> "motorway", "ref" -> "I 5")),
      mkWay(2, Seq(11, 20), Seq((0.0, 1.0), (1.0, 1.0)), Map("highway" -> "motorway_link")),
      mkWay(3, Seq(20, 21), Seq((1.0, 1.0), (2.0, 1.0)), Map("highway" -> "motorway_link")),
      mkWay(4, Seq(30, 31), Seq((5.0, 5.0), (6.0, 5.0)), Map("highway" -> "motorway_link"))))
    val wd = WayOps.deriveWayData(spark, ways)
    val byId = wd.select("way_id", "name", "src").as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1) === (("I 5", "named")))
    assert(byId(2) === (("I 5", "link")))
    assert(byId(3) === (("I 5", "link")))   // second round via named link 2
    assert(byId(4)._2 === "fake")            // unreachable: fake motorway_link name
    assert(byId(4)._1 === "motorway_link")   // sentinel only (no adjacent names)
  }

  // ---- A10 fake name: union of adjacent names + JUNCTION ----------------
  test("A10: unnamed way takes sorted union of node names + JUNCTION") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(1, 2), Seq((0.0, 0.0), (0.0, 1.0)), Map("highway" -> "residential", "name" -> "B st")),
      mkWay(2, Seq(2, 3), Seq((0.0, 1.0), (1.0, 1.0)), Map("highway" -> "residential", "name" -> "A st")),
      mkWay(3, Seq(2, 4), Seq((0.0, 1.0), (0.5, 0.5)), Map("highway" -> "residential"))))
    val wd = WayOps.deriveWayData(spark, ways)
    val fake = wd.filter(col("src") === "fake").select("name").as[String].collect()
    assert(fake.toSeq === Seq("A st/B st/JUNCTION"))
  }

  // ---- A7 dead ends: parity / loop cancellation ---------------------------
  test("A7: odd endpoint count = dead end; closed loop cancels") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(1, 2, 3), Seq((0.0, 0.0), (0.0, 1.0), (0.0, 2.0)),
        Map("highway" -> "residential", "name" -> "X")),
      mkWay(2, Seq(3, 4, 5), Seq((0.0, 2.0), (0.0, 3.0), (0.0, 4.0)),
        Map("highway" -> "residential", "name" -> "X")), // X continues at 3: even -> not dead end
      mkWay(3, Seq(9, 10, 9), Seq((1.0, 0.0), (1.0, 1.0), (1.0, 0.0)),
        Map("highway" -> "residential", "name" -> "Loop")))) // closed: toggles twice -> none
    val wd = WayOps.deriveWayData(spark, ways)
    val de = WayOps.deadEnds(wd).select("node", "dead_names")
      .as[(Long, Seq[String])].collect().toMap
    assert(de.keySet === Set(1L, 5L))
    assert(de(1L) === Seq("X") && de(5L) === Seq("X"))
  }

  // ---- W1 suffixing overflow (>9 duplicates) ------------------------------
  test("W1: 2nd..9th get _2.._9; 10th+ overwrites the unsuffixed entry") {
    // 11 parallel ways named P crossing way Q at 11 shared nodes
    val shared = (1L to 11L)
    val ways = waysDf(
      shared.map(n => mkWay(n, Seq(n, 100 + n),
        Seq((n * 0.001, 0.0), (n * 0.001, 1.0)),
        Map("highway" -> "residential", "name" -> "P"))).toSeq :+
        mkWay(50, shared, shared.map(n => (n * 0.001, 0.0)).toSeq,
          Map("highway" -> "residential", "name" -> "Q")))
    val wd = WayOps.deriveWayData(spark, ways)
    val topo = TopoIntersections(spark, wd, ways)
    val raws = topo.select("raw").as[String].collect().sorted
    // 9 survive: 'P/Q' (last node wins) + _2.._9; nodes 10,... dropped
    assert(raws.length === 9)
    assert(raws.count(_ == "P/Q") === 1)
    assert(raws.filter(_ != "P/Q").toSeq === (2 to 9).map(i => s"P/Q_$i"))
    // the unsuffixed row must carry the LAST node (11), not the first
    val unsuffixed = topo.filter(col("raw") === "P/Q").select("nodeId").as[Long].head()
    assert(unsuffixed === 11L)
  }

  // ---- P5/P6 motorway filters ---------------------------------------------
  test("P5/P6: all-link and motorway+link-only nodes are dropped") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(1, 2), Seq((0.0, 0.0), (0.0, 1.0)),
        Map("highway" -> "motorway_link", "name" -> "L1")),
      mkWay(2, Seq(1, 3), Seq((0.0, 0.0), (1.0, 0.0)),
        Map("highway" -> "motorway_link", "name" -> "L2")),      // node 1: all links -> drop
      mkWay(3, Seq(5, 6), Seq((2.0, 0.0), (2.0, 1.0)),
        Map("highway" -> "motorway", "ref" -> "I 9")),
      mkWay(4, Seq(5, 7), Seq((2.0, 0.0), (3.0, 0.0)),
        Map("highway" -> "motorway_link", "name" -> "Ramp")),    // node 5: motorway+link -> drop
      mkWay(5, Seq(8, 9), Seq((4.0, 0.0), (4.0, 1.0)),
        Map("highway" -> "residential", "name" -> "A")),
      mkWay(6, Seq(8, 10), Seq((4.0, 0.0), (5.0, 0.0)),
        Map("highway" -> "residential", "name" -> "B"))))        // node 8: kept
    val wd = WayOps.deriveWayData(spark, ways)
    val topo = TopoIntersections(spark, wd, ways)
    val nodes = topo.select("nodeId").as[Long].collect().toSet
    assert(nodes === Set(8L))
  }

  // ---- A6 branch matrix -----------------------------------------------------
  private def row(lat: Double, lon: Double, node: Long, ord: Long,
                  dead: Seq[String] = Nil, memb: Seq[Memb] = Nil) =
    TopoRow(lat, lon, "S/T", "S/T", Seq(node), node, ord, dead, memb)

  test("A6: no dead ends within 50 m -> single averaged row") {
    val rows = Seq(row(37.0, -122.0, 1, 1), row(37.0001, -122.0001, 2, 2))
    val out = TopoIntersections.greedyCluster(rows)
    assert(out.length === 1)
    assert(out.head.lat === (37.0 + 37.0001) / 2)
    assert(out.head.nodeId === 1L)
  }

  test("A6: two rows, two dead ends -> both kept (offset crossing)") {
    val rows = Seq(
      row(37.0, -122.0, 1, 1, dead = Seq("S")),
      row(37.0001, -122.0, 2, 2, dead = Seq("S")))
    assert(TopoIntersections.greedyCluster(rows).length === 2)
  }

  test("A6: ≥50 m apart -> separate greedy groups, both kept") {
    val rows = Seq(row(37.0, -122.0, 1, 1), row(37.01, -122.0, 2, 2))
    assert(TopoIntersections.greedyCluster(rows).length === 2)
  }

  test("A6: 3 rows with 1 dead end pairing via shared named way (early return)") {
    val m = Seq(Memb(7L, "S"))
    val rows = Seq(
      row(37.0, -122.0, 1, 1, memb = m),
      row(37.0001, -122.0, 2, 2, dead = Seq("S"), memb = m),
      row(37.0002, -122.0, 3, 3, memb = Seq(Memb(8L, "S"))))
    val out = TopoIntersections.greedyCluster(rows)
    // dead-end row 2 finds first onSameWay match scanning from row 1 -> avg(1,2), early return drops row 3
    assert(out.length === 1)
    assert(out.head.nodeId === 1L)
    assert(out.head.lat === (37.0 + 37.0001) / 2)
  }

  // ---- geometric finder: P7 type rules --------------------------------------
  test("P7: motorway×motorway needs no common node; motorway×link rejected") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(1, 2), Seq((0.0, -1.0), (0.0, 1.0)),
        Map("highway" -> "motorway", "ref" -> "M1")),
      mkWay(2, Seq(3, 4), Seq((-1.0, 0.0), (1.0, 0.0)),
        Map("highway" -> "motorway", "ref" -> "M2")),      // crosses M1, no shared node -> kept
      mkWay(3, Seq(5, 2), Seq((1.0, 1.0), (0.0, 1.0)),
        Map("highway" -> "motorway", "ref" -> "M3")),      // touches M1 at node 2 -> rejected
      mkWay(4, Seq(6, 7), Seq((-0.5, -0.5), (0.5, -0.5)),
        Map("highway" -> "motorway_link", "name" -> "R")))) // link -> rejected
    val wd = WayOps.deriveWayData(spark, ways)
    val out = GeomIntersections(spark, wd)
    val streets = out.select("streets").as[String].collect().toSet
    assert(streets === Set("M1/M2"))
    assert(out.select("nodeId").as[String].head() === "Geom")
  }

  test("geometric: first common node id reported when ways touch") {
    val ways = waysDf(Seq(
      mkWay(1, Seq(1, 2, 3), Seq((0.0, -1.0), (0.0, 0.0), (0.0, 1.0)),
        Map("highway" -> "motorway", "ref" -> "M1")),
      mkWay(2, Seq(9, 2, 8), Seq((-1.0, 0.0), (0.0, 0.0), (1.0, 0.0)),
        Map("highway" -> "residential", "name" -> "A"))))
    val wd = WayOps.deriveWayData(spark, ways)
    val out = GeomIntersections(spark, wd)
    assert(out.select("nodeId").as[String].collect().toSeq === Seq("2"))
  }

  // ---- J7 kNN ring expansion (reference findClosest, geo.js:1319-1361) ---
  private def knnWaysDf(ws: Seq[(Long, String, Seq[(Double, Double)])]) =
    ws.toDF("way_id", "name", "g0")
      .withColumn("geometry", expr("transform(g0, g -> struct(g._1 as lat, g._2 as lon))"))
      .drop("g0")

  test("J7: ring expands when the in-disk k-th candidate is not provably nearest") {
    // image at (0.0005, 0.0005), res 3 (0.001° cells). Way 1 is adjacent
    // (0.0003°). Way 2 sits in the far corner of ring-1 cell (1,1) at
    // ~0.0021°; way 3 is in lon-cell 2 — OUTSIDE ring 1 — at 0.0016°, i.e.
    // CLOSER than way 2. A fixed ring-1 disk returns (1, 2): wrong 2nd
    // neighbor. Expansion must detect 0.0021 ≥ 1·cellSize and re-probe.
    val ways = knnWaysDf(Seq(
      (1L, "A", Seq((0.0, 0.0008), (0.001, 0.0008))),
      (2L, "C", Seq((0.00198, 0.00199), (0.00199, 0.00199))),
      (3L, "B", Seq((0.0, 0.0021), (0.001, 0.0021)))))
    val imgs = Seq(("i0", 0.0005, 0.0005)).toDF("image_id", "lat", "lon")
    val out = SpatialOps.knnWays(imgs, ways, k = 2, res = 3)
      .select("rk", "way_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(out === Seq((1, 1L), (2, 3L)))
  }

  test("J7: ring expands until k hits exist on a sparse layout (ring 1 finds < k)") {
    // only one way near the image; the second is 9 cells away — ring 1 would
    // return a single row for k = 2
    val ways = knnWaysDf(Seq(
      (1L, "Near", Seq((0.0, 0.0008), (0.001, 0.0008))),
      (2L, "Far", Seq((0.0, 0.009), (0.001, 0.009)))))
    val imgs = Seq(("i0", 0.0005, 0.0005)).toDF("image_id", "lat", "lon")
    val out = SpatialOps.knnWays(imgs, ways, k = 2, res = 3)
      .select("rk", "way_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(out === Seq((1, 1L), (2, 2L)))
  }

  test("J7: empty region past maxRing returns best effort, not an infinite loop") {
    val ways = knnWaysDf(Seq(
      (1L, "Only", Seq((0.0, 0.0008), (0.001, 0.0008)))))
    val imgs = Seq(("i0", 0.0005, 0.0005)).toDF("image_id", "lat", "lon")
    // k=2 but only one way exists anywhere: loop must terminate at maxRing
    // and emit the single found row
    val out = SpatialOps.knnWays(imgs, ways, k = 2, res = 3, maxRing = 8)
      .select("rk", "way_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(out === Seq((1, 1L)))
  }

  /** the ring fixture: ways within 8 cells of the origin, images within
    * 14, so images settle in different rounds and some only at the last
    * ring (maxRing 8: rings 1,2,4,8) */
  private lazy val ringFixture = {
    val rnd = new scala.util.Random(20261018L)
    def at(scale: Double) = rnd.nextDouble() * scale
    val ways = knnWaysDf((1L to 12L).map { id =>
      val (lat, lon) = (at(0.006), at(0.006)) // + up to 0.002: inside 8 cells
      (id, s"W$id", Seq((lat, lon), (lat + at(0.002), lon + at(0.002))))
    })
    val imgs = (0 until 40).map(i => (s"i$i", at(0.014), at(0.014))).toDF("image_id", "lat", "lon")
    (ways, imgs)
  }

  test("J7: power-of-two start rings return the rows of a start at ring 1") {
    // rings 1,2,4,8 against 2,4,8 and 4,8
    val (ways, imgs) = ringFixture
    def rows(ring: Int) = SpatialOps.knnWays(imgs, ways, k = 2, res = 3, ring = ring, maxRing = 8)
      .select("image_id", "rk", "way_id").as[(String, Int, Long)].collect().sorted.toSeq
    val base = rows(1)
    assert(base.map(_._1).distinct.length >= 30)
    assert(rows(2) === base)
    assert(rows(4) === base)
  }

  test("J7: the settle loop's Spark jobs on the ring fixture") {
    // four rounds (rings 1,2,4,8), three of them leaving images unsettled.
    // A settle round checkpoints the top-k, counts the proven images with
    // one filter whatever k, and checkpoints the pending rest; the pending
    // count is taken once, at the first check, then kept by subtraction.
    val (ways, imgs) = ringFixture
    def jobs(k: Int) = JobCounter.jobs(spark) {
      SpatialOps.knnWays(imgs, ways, k = k, res = 3, ring = 1, maxRing = 8)
    }
    assert(jobs(2) === 34)
    assert(jobs(1) === 30)
  }

  test("empty input: ops that need a global scalar fail with a named message") {
    val events = Seq.empty[(Long, String)].toDF("ts", "event_type")
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val points = Seq.empty[(Double, Double)].toDF("lat", "lon")
    def fails(op: String, scalar: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](run.collect())
      assert(e.getMessage.contains(op) && e.getMessage.contains(scalar), e.getMessage)
    }
    fails("lagCrossCorr", "bucket range")(EventOps.lagCrossCorr(events, "view", "purchase"))
    fails("pmiCollocations", "totals")(graft.text.TextOps.pmiCollocations(docs))
    fails("vocabGrowth", "max doc_id")(graft.text.TextOps.vocabGrowth(docs))
    fails("sourceDrift", "total N")(graft.text.TextOps.sourceDrift(docs))
    fails("moranI", "tile moments")(GeoStatsOps.moranI(points, 12))
    fails("giStarHotspots", "global moments")(GeoStatsOps.giStarHotspots(points, 12))
    fails("localMoran", "global moments")(GeoStatsOps.localMoran(points, 12))
    // one occupied tile has no neighbour pairs: their sums are 0, not null
    val one = GeoStatsOps.moranI(Seq((0.5, 0.5)).toDF("lat", "lon"), 12).head()
    assert((one.getLong(0), one.getLong(1), one.getLong(2), one.getLong(3)) === ((1L, 0L, 0L, 0L)))
  }
}
