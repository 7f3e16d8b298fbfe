package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Geom
import graft.cells.GridCell

class GeomSpec extends AnyFunSuite {

  // --- segment intersection --------------------------------------------
  test("segSegIntersect: crossing segments") {
    val out = new Array[Double](2)
    assert(Geom.segSegIntersect(0, -1, 0, 1, -1, 0, 1, 0, out))
    assert(out(0) === 0.0 && out(1) === 0.0)
  }

  test("segSegIntersect: disjoint parallel") {
    val out = new Array[Double](2)
    assert(!Geom.segSegIntersect(0, 0, 0, 1, 1, 0, 1, 1, out))
  }

  test("segSegIntersect: touching endpoint") {
    val out = new Array[Double](2)
    assert(Geom.segSegIntersect(0, 0, 1, 1, 1, 1, 2, 0, out))
    assert(out(0) === 1.0 && out(1) === 1.0)
  }

  test("segSegIntersect: collinear overlap is NO intersection (turf parity, geo.js:209)") {
    val out = new Array[Double](2)
    // turf.lineIntersect skips zero-denominator pairs — overlapping same-line
    // ways (common in real OSM) must NOT produce intersections, unlike JTS
    assert(!Geom.segSegIntersect(0, 0, 0, 10, 0, 4, 0, 20, out))
    assert(!Geom.segSegIntersect(0, 0, 0, 10, 1, 0, 1, 10, out)) // parallel
    assert(!Geom.segSegIntersect(0, 0, 0, 0, 0, 0, 0, 10, out))  // zero-length
  }

  test("segSegIntersect agrees with JTS on random segments") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val rnd = new scala.util.Random(42)
    var hits = 0
    (1 to 2000).foreach { _ =>
      val v = Array.fill(8)(math.rint(rnd.nextDouble() * 10 - 5) / 1) // integer coords: robust predicates
      val out = new Array[Double](2)
      val mine = Geom.segSegIntersect(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), out)
      val l1 = gf.createLineString(Array(
        new org.locationtech.jts.geom.Coordinate(v(1), v(0)),
        new org.locationtech.jts.geom.Coordinate(v(3), v(2))))
      val l2 = gf.createLineString(Array(
        new org.locationtech.jts.geom.Coordinate(v(5), v(4)),
        new org.locationtech.jts.geom.Coordinate(v(7), v(6))))
      val jts = l1.intersects(l2)
      // zero-denominator pairs (parallel/collinear/degenerate) are the
      // DOCUMENTED turf-parity divergence from JTS: we report none
      val denom = (v(3) - v(1)) * (v(4) - v(6)) - (v(2) - v(0)) * (v(5) - v(7))
      if (denom == 0.0) assert(!mine, s"turf parity: denom==0 must be false, segs=${v.toSeq}")
      else assert(mine === jts, s"mine=$mine jts=$jts segs=${v.toSeq}")
      if (mine) hits += 1
    }
    assert(hits > 100) // sanity: the generator actually produces intersections
  }

  test("polylineIntersectFirst finds grid crossing point") {
    // horizontal line at lat=2 and vertical at lon=3
    val h = Array(2.0, 0.0, 2.0, 10.0)
    val v = Array(0.0, 3.0, 10.0, 3.0)
    val hit = Geom.polylineIntersectFirst(h, v)
    assert(hit != null && hit(0) === 2.0 && hit(1) === 3.0)
    assert(Geom.polylineIntersectFirst(h, Array(3.0, 0.0, 3.0, 10.0)) == null)
  }

  // --- point in polygon -------------------------------------------------
  test("pointInPolygon: unit square") {
    val sq = Array(Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0)) // lon,lat pairs
    assert(Geom.pointInPolygon(0.5, 0.5, sq))
    assert(!Geom.pointInPolygon(1.5, 0.5, sq))
    assert(!Geom.pointInPolygon(0.5, -0.1, sq))
  }

  test("pointInPolygon: square with hole") {
    val rings = Array(
      Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0),
      Array(1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0))
    assert(Geom.pointInPolygon(0.5, 0.5, rings))
    assert(!Geom.pointInPolygon(2.0, 2.0, rings)) // inside hole
    assert(Geom.pointInPolygon(3.5, 3.5, rings))
  }

  test("pointInPolygon agrees with JTS on random concave polygon") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    // concave L-shape
    val ring = Array((0.0, 0.0), (6.0, 0.0), (6.0, 2.0), (2.0, 2.0), (2.0, 6.0), (0.0, 6.0), (0.0, 0.0))
    val flat = ring.flatMap { case (x, y) => Array(x, y) }
    val shell = gf.createPolygon(ring.map { case (x, y) => new org.locationtech.jts.geom.Coordinate(x, y) })
    val rnd = new scala.util.Random(7)
    (1 to 5000).foreach { _ =>
      val x = rnd.nextDouble() * 8 - 1
      val y = rnd.nextDouble() * 8 - 1
      val mine = Geom.pointInPolygon(y, x, Array(flat))
      val jts = shell.contains(gf.createPoint(new org.locationtech.jts.geom.Coordinate(x, y)))
      // skip boundary-ambiguous points
      if (shell.getBoundary.distance(gf.createPoint(new org.locationtech.jts.geom.Coordinate(x, y))) > 1e-9)
        assert(mine === jts, s"($x,$y)")
    }
  }

  // --- distances ---------------------------------------------------------
  private def assertApprox(a: Double, b: Double, eps: Double): Unit =
    assert(math.abs(a - b) <= eps, s"$a vs $b")

  test("manhattanDeg matches reference formula") {
    assertApprox(Geom.manhattanDeg(37.0, -122.0, 37.0003, -122.0001),
      1e5 * (math.abs(37.0 - 37.0003) + math.abs(-122.0 + 122.0001)), 1e-9)
  }

  test("haversine: known distance SF->LA about 559 km") {
    val d = Geom.haversineM(37.7749, -122.4194, 34.0522, -118.2437)
    assertApprox(d, 559120, 5000)
  }

  test("pointSegDist basics") {
    assertApprox(Geom.pointSegDist(1, 0.5, 0, 0, 0, 1), 1.0, 1e-12)     // above middle
    assertApprox(Geom.pointSegDist(0, -3, 0, 0, 0, 1), 3.0, 1e-12)      // beyond end
    assertApprox(Geom.pointSegDist(3, 4, 0, 0, 0, 0), 5.0, 1e-12)       // degenerate seg
  }

  test("pointPolylineDist picks min over segments") {
    val line = Array(0.0, 0.0, 0.0, 10.0, 5.0, 10.0)
    assertApprox(Geom.pointPolylineDist(1.0, 5.0, line), 1.0, 1e-12)
    assertApprox(Geom.pointPolylineDist(3.0, 11.0, line), 1.0, 1e-12)
  }

  // --- tiles --------------------------------------------------------------
  test("tileXY matches slippy formula reference values") {
    // OSM wiki example: lat=41.85, lon=-87.65, z=15 -> x=8405, y=12363? (recompute below)
    val z = 15
    val x = Geom.tileX(-87.65, z)
    val y = Geom.tileY(41.85, z)
    val n = 1 << z
    val ex = math.floor((-87.65 + 180.0) / 360.0 * n).toLong
    val lr = math.toRadians(41.85)
    val ey = math.floor((1 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.Pi) / 2 * n).toLong
    assert(x === ex && y === ey)
    assert(Geom.tileX(-180.0, 1) === 0 && Geom.tileX(179.9999, 1) === 1)
    assert(Geom.tileY(85.0, 1) === 0 && Geom.tileY(-85.0, 1) === 1)
  }

  test("W4: a way pair sharing three cells is emitted once") {
    // crossing ways whose bboxes share THREE 0.01° cells: the reference's
    // bin iterator yields the pair once per shared cell (geo.js:270); the
    // finder keeps each pair in one cell. Way 3's covering starts one lat
    // cell below the motorway's, so only the larger low corner is shared.
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ways = Seq(
      (1L, Seq(1L, 2L), Seq((0.005, 0.0), (0.005, 0.025)),
        Map("highway" -> "motorway", "name" -> "M")),
      (2L, Seq(3L, 4L), Seq((0.004, 0.0), (0.006, 0.025)),
        Map("highway" -> "residential", "name" -> "R")),
      (3L, Seq(5L, 6L), Seq((-0.005, 0.008), (0.015, 0.028)),
        Map("highway" -> "residential", "name" -> "S")))
      .toDF("id", "nodes", "g0", "tags")
      .withColumn("geometry", expr("transform(g0, g -> struct(g._1 as lat, g._2 as lon))"))
      .drop("g0")
    val wd = ops.WayOps.deriveWayData(spark, ways).coalesce(1)
    val cells = ops.GeomIntersections.withBounds(wd)
      .select(col("way_id"), size(graft.exprs.fns.cells_covering(col("min_lat"), col("min_lon"),
        col("max_lat"), col("max_lon"), 2)))
      .as[(Long, Int)].collect().sorted
    assert(cells.toSeq === Seq((1L, 3), (2L, 3), (3L, 9)))
    val pairs = ops.GeomIntersections(spark, wd).select("wayIds").as[Seq[Long]].collect()
    assert(pairs.toSeq.sortBy(_.last) === Seq(Seq(1L, 2L), Seq(1L, 3L)))
  }
}

class CellsSpec extends AnyFunSuite {
  test("diskRect covers every point within the radius (random lat/meters/res sweep, incl. antimeridian)") {
    val rnd = new scala.util.Random(42)
    var checked = 0
    var wrapped = 0
    for (trial <- 0 until 400) {
      val res = rnd.nextInt(6)
      val meters = math.pow(10, 1 + rnd.nextDouble() * 3) // 10 m .. 10 km
      val lat0 = -89.0 + rnd.nextDouble() * 178.0
      // every 4th trial hugs the antimeridian so the disk must wrap
      val lon0 = if (trial % 4 == 0) {
        val eps = rnd.nextDouble() * 1e-3 // within ~100 m of ±180°
        if (rnd.nextBoolean()) 180.0 - eps else -180.0 + eps
      } else -170.0 + rnd.nextDouble() * 340.0
      val latRadDeg = meters / (Geom.EarthRadiusM * math.Pi / 180.0)
      val kLon = GridCell.kFor(lat0, meters, res)
      val kLat = GridCell.kLatFor(meters, res)
      if (math.abs(lat0) + latRadDeg < 89.9 &&
          (2L * kLon + 1) * (2L * kLat + 1) <= GridCell.MaxDiskCells) {
        // sorted primitive array: disks reach 2^26 cells, far too many to box
        val disk = GridCell.diskRect(GridCell.encode(lat0, lon0, res), kLon, kLat, res)
        java.util.Arrays.sort(disk)
        var i = 1
        while (i < disk.length && disk(i - 1) != disk(i)) i += 1
        assert(i >= disk.length, "disk must not contain duplicate cells")
        for (_ <- 0 until 20) {
          val ang = rnd.nextDouble() * 2 * math.Pi
          val d = rnd.nextDouble() * meters
          val dlat = d * math.cos(ang) / 111194.9
          val dlon = d * math.sin(ang) /
            (111194.9 * math.max(0.02, math.cos(math.toRadians(math.abs(lat0) + latRadDeg))))
          // wrap the probe point into [-180, 180) — the other side of the
          // antimeridian when lon0 ± dlon crosses it
          val laRaw = lat0 + dlat
          val loRaw = lon0 + dlon
          val lo = loRaw - 360.0 * math.floor((loRaw + 180.0) / 360.0)
          if (math.abs(laRaw) <= 90.0 &&
              Geom.haversineM(lat0, lon0, laRaw, lo) <= meters) {
            checked += 1
            if (math.signum(lo) != math.signum(lon0) && math.abs(lon0) > 179.0) wrapped += 1
            assert(java.util.Arrays.binarySearch(disk, GridCell.encode(laRaw, lo, res)) >= 0,
              s"lat=$lat0 lon=$lon0 m=$meters res=$res point ($laRaw,$lo) outside rect disk ($kLon,$kLat)")
          }
        }
      }
    }
    assert(checked > 2000, s"sweep must exercise real points, got $checked")
    assert(wrapped > 100, s"sweep must exercise antimeridian-crossing points, got $wrapped")
  }

  test("encode/unpack round trip, negative coords") {
    val c = GridCell.encode(37.123456, -122.987654, 2)
    assert(GridCell.unpackLonIdx(c) === math.floor(-122.987654 * 100).toLong)
    assert(GridCell.unpackLatIdx(c) === math.floor(37.123456 * 100).toLong)
  }

  test("covering spans the bbox inclusively") {
    val cells = GridCell.covering(37.001, -122.019, 37.031, -122.001, 2)
    // latIdx 3700..3703 (4), lonIdx -12202..-12201 (2)
    assert(cells.length === 8)
    assert(cells.contains(GridCell.encode(37.001, -122.019, 2)))
    assert(cells.contains(GridCell.encode(37.031, -122.001, 2)))
    assert(cells.toSet.size === cells.length)
  }

  private def coveringFails(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double,
                            res: Int, why: String): Unit = {
    val e = intercept[IllegalArgumentException](
      GridCell.covering(minLat, minLon, maxLat, maxLon, res))
    assert(e.getMessage.contains(s"[$minLat, $minLon, $maxLat, $maxLon] at res $res") &&
      e.getMessage.contains(why), e.getMessage)
  }

  test("covering: a box inverted on both axes fails, not a fake cell 0") {
    coveringFails(37.03, -122.0, 37.0, -122.02, 2, "min <= max")
  }

  test("covering: a box inverted on one axis fails by name, not NegativeArraySize") {
    coveringFails(37.03, -122.02, 37.0, -122.0, 2, "min <= max")
    coveringFails(37.0, -122.0, 37.03, -122.02, 2, "min <= max")
    coveringFails(Double.NaN, -122.02, 37.0, -122.0, 2, "min <= max")
  }

  test("covering: a box over MaxDiskCells fails instead of wrapping its Int size") {
    // 36,000,001 x 18,000,001 cells: the Long product wraps an Int cast
    coveringFails(-90.0, -180.0, 90.0, 180.0, 5, s"${GridCell.MaxDiskCells} cells")
    // the index span itself overflows a Long
    coveringFails(0.0, 0.0, 1e300, 1e300, 5, s"${GridCell.MaxDiskCells} cells")
  }

  test("ring sizes: 1, 8k") {
    val c = GridCell.encode(37.0, -122.0, 2)
    assert(GridCell.ring(c, 0).toSeq === Seq(c))
    assert(GridCell.ring(c, 1).length === 8)
    assert(GridCell.ring(c, 3).length === 24)
    assert(GridCell.disk(c, 2, 2).length === 25)
    // ring(k) = disk(k) -- disk(k-1)
    assert(GridCell.ring(c, 2).toSet === (GridCell.disk(c, 2, 2).toSet -- GridCell.disk(c, 1, 2).toSet))
  }

  test("parent at coarser res contains child center") {
    val c = GridCell.encode(37.123, -122.456, 3)
    val p = GridCell.parent(c, 3, 2)
    assert(p === GridCell.encode(37.123, -122.456, 2))
  }

  test("point is always inside its own cell (property)") {
    val rnd = new scala.util.Random(1)
    (1 to 10000).foreach { _ =>
      val lat = rnd.nextDouble() * 180 - 90
      val lon = rnd.nextDouble() * 360 - 180
      val res = rnd.nextInt(5)
      val c = GridCell.encode(lat, lon, res)
      val cells = GridCell.covering(lat, lon, lat, lon, res)
      assert(cells.contains(c))
    }
  }

}
