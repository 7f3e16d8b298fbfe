package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SpatialOps

/** raster→vector polygonize vs an INDEPENDENT per-pixel BFS flood fill:
  * the operator never materializes pixels (row runs labeled per row band,
  * band seams closed on the driver), the reference materializes every OFF
  * pixel and flood fills — agreement on every aggregate column is the
  * gate. */
class PolygonizeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val OFF = 20000000L
  private val SCALE = 100000000L
  private def pack(x: Long, y: Long) = (x + OFF) * SCALE + (y + OFF)

  /** (block_id, n_pixels, n_rows, lon_min, lon_max, lat_min, lat_max) by
    * 4-connected BFS over the OFF pixels of the ON bbox. block_id = min
    * pixel pack (provably the min run id: the component's leftmost-lowest
    * pixel always starts a run); n_rows = Σ per-row maximal intervals. */
  private def floodFill(on: Set[(Long, Long)]): Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    val l0 = on.map(_._1).min; val l1 = on.map(_._1).max
    val a0 = on.map(_._2).min; val a1 = on.map(_._2).max
    var rest = (for { x <- l0 to l1; y <- a0 to a1 if !on((x, y)) } yield (x, y)).toSet
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long, Long, Long, Long)]()
    while (rest.nonEmpty) {
      val seed = rest.head
      var comp = List(seed); rest -= seed
      var frontier = List(seed)
      while (frontier.nonEmpty) {
        val (x, y) = frontier.head; frontier = frontier.tail
        for (n <- Seq((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)) if rest(n)) {
          rest -= n; comp ::= n; frontier ::= n
        }
      }
      val nRows = comp.groupBy(_._2).valuesIterator.map { ps =>
        val xs = ps.map(_._1).sorted
        1 + xs.sliding(2).count { case Seq(a, b) => b - a > 1; case _ => false }
      }.sum.toLong
      out += ((comp.map { case (x, y) => pack(x, y) }.min,
        comp.size.toLong, nRows,
        comp.map(_._1).min, comp.map(_._1).max,
        comp.map(_._2).min, comp.map(_._2).max))
    }
    out.toSet
  }

  private def run(on: Set[(Long, Long)]): Set[(Long, Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val df = on.toSeq.toDF("lon_idx", "lat_idx")
    SpatialOps.polygonizeRaster(df).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
  }

  test("plus shape: 4-connectivity is strict — the four corner pixels are four regions") {
    val on = Set[(Long, Long)]((1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L), (1L, 2L))
    val got = run(on)
    assert(got.size === 4)
    assert(got === floodFill(on))
    assert(got.forall(b => b._2 == 1L && b._3 == 1L))
  }

  test("U shape: the cavity connects around the opening — one region") {
    // walls at x=0 and x=4, floor at y=0, open top; domain 5 x 4
    val on = (0L to 3L).flatMap(y => Seq((0L, y), (4L, y))).toSet ++
      (0L to 4L).map(x => (x, 0L)).toSet
    val got = run(on)
    assert(got.size === 1)
    assert(got === floodFill(on))
  }

  test("empty-row bands coalesce: enclosed horizontal slab is one region with correct n_rows") {
    // two full-width ON rows with a 3-row empty band between; side walls
    // close the slab so the band is one enclosed region
    val on = (0L to 9L).flatMap(x => Seq((x, 0L), (x, 4L))).toSet ++
      (1L to 3L).flatMap(y => Seq((0L, y), (9L, y))).toSet
    val got = run(on)
    assert(got === floodFill(on))
    assert(got.size === 1)
    val b = got.head
    assert(b._2 === 8L * 3L) // n_pixels
    assert(b._3 === 3L)      // n_rows: three single-row slices (walls split full width)
  }

  test("diagonal separates the complement under 4-connectivity; a one-pixel gap reconnects it") {
    // any 4-path across the diagonal must step through an x==y pixel (x-y
    // changes by ±1 per move), so even the strict diagonal separates
    val strict = (0L to 7L).map(i => (i, i)).toSet
    val gotStrict = run(strict)
    assert(gotStrict.size === 2)
    assert(gotStrict === floodFill(strict))
    // knocking one pixel out reconnects the two sides through the gap
    val gapped = strict - ((3L, 3L))
    val gotGap = run(gapped)
    assert(gotGap.size === 1)
    assert(gotGap === floodFill(gapped))
  }

  test("block image density: exact pixel containment, street-pixel images count nowhere, empty blocks kept") {
    import spark.implicits._
    // cross of ON row y=2 and ON column x=2 inside a 5x5 ring wall: four
    // 1-pixel... use a simpler world: full border walls + cross → 4 blocks
    val wall = (0L to 4L).flatMap(i => Seq((i, 0L), (i, 4L), (0L, i), (4L, i))).toSet
    val cross = (0L to 4L).flatMap(i => Seq((i, 2L), (2L, i))).toSet
    val on = wall ++ cross
    val blocks = SpatialOps.polygonizeRaster(on.toSeq.toDF("lon_idx", "lat_idx"))
    assert(blocks.count() === 4) // four 1-pixel corners of the cross
    // images at res 4: pixel (1,1) twice, pixel (3,3) once, pixel (2,2) on
    // the street cross (counts nowhere), one far outside every block
    def at(px: Long, py: Long, k: Int) = (s"i$px$py$k", py.toDouble / 1e4 + 0.00005, px.toDouble / 1e4 + 0.00005)
    val images = Seq(at(1, 1, 0), at(1, 1, 1), at(3, 3, 0), at(2, 2, 0),
      ("far", 10.0, 10.0)).toDF("image_id", "lat", "lon")
    val got = graft.ops.SpatialOps.blockImageDensity(blocks, images)
      .orderBy("block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 4)
    assert(got.map(_._2).toSeq === Seq(1L, 1L, 1L, 1L)) // all blocks 1 pixel
    assert(got.map(_._3).sum === 3L)                    // 2 + 1, street/far images dropped
    assert(got.map(_._3).toSeq.sorted === Seq(0L, 0L, 1L, 2L))
  }

  test("randomized rasters match the flood-fill reference, and OFF+ON tiles the bbox") {
    for (seed <- Seq(7, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val on = (for { x <- 0L until 24L; y <- 0L until 16L if rnd.nextDouble() < 0.35 }
        yield (x, y)).toSet
      if (on.nonEmpty) {
        val got = run(on)
        assert(got === floodFill(on), s"seed $seed")
        val l0 = on.map(_._1).min; val l1 = on.map(_._1).max
        val a0 = on.map(_._2).min; val a1 = on.map(_._2).max
        val onInBox = on.count { case (x, y) => x >= l0 && x <= l1 && y >= a0 && y <= a1 }
        assert(got.toSeq.map(_._2).sum + onInBox === (l1 - l0 + 1) * (a1 - a0 + 1), s"seed $seed")
      }
    }
  }

  /** `body` at `n` shuffle partitions, which is also the band count of a
    * raster this small */
  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** one OFF corridor through every row: full OFF rows between ON walls,
    * each inner wall open at alternating ends */
  private def serpentine(w: Long, walls: Int): Set[(Long, Long)] =
    (0 until walls).flatMap { k =>
      val gap = if (k == 0 || k == walls - 1) -1L else if (k % 2 == 0) w - 2 else 1L
      (0L until w).filter(_ != gap).map(x => (x, 2L * k))
    }.toSet

  test("seeded rasters taller than the band count match the flood fill at 1, 3 and 8 bands") {
    for (parts <- Seq(1, 3, 8); seed <- Seq(11, 42, 77)) withPartitions(parts) {
      val rnd = new scala.util.Random(seed * 31 + parts)
      val (w, h) = (8 + rnd.nextInt(25), 40 + rnd.nextInt(161))
      val p = 0.15 + 0.35 * rnd.nextDouble()
      val on = (for { x <- 0L until w; y <- 0L until h if rnd.nextDouble() < p } yield (x, y)).toSet
      assert(run(on) === floodFill(on), s"seed $seed, $w x $h, at $parts partitions")
    }
  }

  test("a serpentine corridor crosses every seam and stays one region") {
    val on = serpentine(9, 30)
    for (parts <- Seq(3, 8)) withPartitions(parts) {
      val got = run(on)
      assert(got.size === 1)
      assert(got === floodFill(on))
      assert(got.head._2 === 29L * 9L + 28L) // 29 corridor rows and 28 wall gaps
    }
  }

  test("bands with no ON pixel still run: their rows join the regions above and below") {
    val on = (0L to 5L).flatMap(x => Seq((x, 0L), (x, 99L))).toSet ++
      Set((0L, 50L), (1L, 50L), (2L, 50L), (3L, 10L), (4L, 70L), (4L, 71L))
    withPartitions(8) { // bands of 13 rows: bands 1, 2, 4 and 6 hold no ON pixel
      val got = run(on)
      assert(got === floodFill(on))
      assert(got.size === 1)
    }
  }

  test("degenerate rasters: one row, one column, one pixel") {
    val row = Set((0L, 0L), (3L, 0L), (4L, 0L), (7L, 0L))
    assert(run(row) === floodFill(row))
    assert(run(row).size === 2)
    val column = Set((0L, 0L), (0L, 3L), (0L, 5L))
    assert(run(column) === floodFill(column))
    assert(run(column).size === 2)
    assert(run(Set((5L, -3L))).isEmpty)
  }

  test("polygonize runs in at most 7 jobs, as many on a street grid as on a serpentine") {
    import spark.implicits._
    def jobs(on: Set[(Long, Long)]) = JobCounter.jobs(spark)(
      SpatialOps.polygonizeRaster(on.toSeq.toDF("lon_idx", "lat_idx")).collect())
    val grid = (for { x <- 0L to 60L; y <- 0L to 60L if x % 10 == 0 || y % 10 == 0 }
      yield (x, y)).toSet
    val (g, s) = (jobs(grid), jobs(serpentine(9, 30)))
    assert(g <= 7, s"$g jobs on the street grid")
    assert(s === g, s"$s jobs on the serpentine, $g on the street grid")
  }
}
