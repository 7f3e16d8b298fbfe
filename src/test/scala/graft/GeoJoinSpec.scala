package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.GeoStatsOps

/** The two join primitives of the spatial-statistics layer against brute
  * force: the µ°-radius pair join (`radiusPairs`) and the tile-neighbour
  * join (`tileNeighbours`), each on random inputs with a fixed seed, as
  * multisets of pairs. A ratchet keeps their hand-copied forms from coming
  * back into GeoStatsOps. */
class GeoJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(15)
      .withInitialSeed(Seed(20261019L)), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("radiusPairs: each pair within R exactly once, res 2-5, R off the cell grid, pairs exactly R apart") {
    import spark.implicits._
    val gen = for {
      res <- Gen.choose(2, 5)
      cell = math.round(1e6 / graft.cells.GridCell.pow10(res))
      // R = 5m, so that (3m, 4m) is exactly R off-axis; never a whole number of cells
      m0 <- Gen.choose(1L, 3L * cell / 5L + 1L)
      m = if (5L * m0 % cell == 0) m0 + 1 else m0
      r = 5L * m
      span = 3L * r
      pts <- Gen.listOfN(24, Gen.zip(Gen.choose(-span, span), Gen.choose(-span, span)))
      anchors <- Gen.listOfN(3, Gen.zip(Gen.choose(-span, span), Gen.choose(-span, span)))
    } yield {
      // the largest diagonal step inside R, and the first one outside it
      val a = (math.sqrt(r.toDouble * r / 2).toLong + 1 to 0 by -1).find(x => 2 * x * x <= r * r).get
      val planted = anchors.flatMap { case (u, v) =>
        Seq((u, v), (u + r, v), (u, v - r), (u - r, v), (u, v + r), (u + 3 * m, v + 4 * m),
          (u - 4 * m, v - 3 * m), (u + a, v + a), (u - a - 1, v + a + 1))
      }
      (res, r, pts ++ planted)
    }
    holds(Prop.forAllNoShrink(gen) { case c @ (res, r, pts) =>
      val df = pts.zipWithIndex.map { case ((u, v), i) => (i.toLong, u, v) }.toDF("pid", "u", "v")
      val got = GeoStatsOps.radiusPairs(df,
          df.select(col("pid").as("spid"), col("u").as("su"), col("v").as("sv")),
          r, res, graft.synth.Synth.LAT0, graft.synth.Synth.LON0)
        .filter(col("d2") <= r * r)
        .select("pid", "spid", "d2").as[(Long, Long, Long)].collect().toSeq.sorted
      val want = (for {
        ((u, v), i) <- pts.zipWithIndex
        ((su, sv), j) <- pts.zipWithIndex
        d2 = (su - u) * (su - u) + (sv - v) * (sv - v)
        if d2 <= r * r
      } yield (i.toLong, j.toLong, d2)).sorted
      (got == want) :| s"$c: ${got.diff(want).take(5)} extra, ${want.diff(got).take(5)} missing"
    })
  }

  test("tileNeighbours: 8-ring, 8-ring plus self and 4-cross match the coordinate brute force, no wrap at the raster edge") {
    import spark.implicits._
    val ring = for (du <- -1 to 1; dv <- -1 to 1) yield (du, dv)
    val sets = Seq(
      "8-ring" -> (GeoStatsOps.Ring8, ring.filter(_ != ((0, 0)))),
      "8-ring plus self" -> (GeoStatsOps.Ring8Self, ring),
      "4-cross" -> (GeoStatsOps.Cross4, ring.filter { case (du, dv) => math.abs(du + dv) == 1 }))
    val gen = for {
      zoom <- Gen.choose(2, 14)
      top = (1L << zoom) - 1
      // clusters at the raster's edges and corners (y = 0 among them) and one
      // inside; the clusters at x and x - 1 put y = 0 next to y = top, which
      // a wrapping id would join
      x <- Gen.choose(1L, top)
      corners = Seq((x, 0L), (x - 1, top), (0L, 0L), (top, top), (x / 2, top / 2))
      tiles <- Gen.listOfN(30, for {
        (cx, cy) <- Gen.oneOf(corners)
        dx <- Gen.choose(-2L, 2L)
        dy <- Gen.choose(-2L, 2L)
        n <- Gen.choose(1L, 9L)
      } yield ((cx + dx, cy + dy), n))
    } yield (zoom, tiles.filter { case ((tx, ty), _) => tx >= 0 && tx <= top && ty >= 0 && ty <= top }
      .toMap)
    holds(Prop.forAllNoShrink(gen) { case c @ (zoom, tiles) =>
      def id(tx: Long, ty: Long) = zoom.toLong * (1L << 52) + tx * (1L << 26) + ty
      val df = tiles.toSeq.map { case ((tx, ty), n) => (id(tx, ty), n) }.toDF("tile_id", "n")
      sets.map { case (name, (offsets, brute)) =>
        val got = GeoStatsOps.tileNeighbours(df.select(col("tile_id")),
            df.select(col("tile_id"), col("n").as("nj")), offsets)
          .select("tile_id", "nbr_id", "nj").as[(Long, Long, Long)].collect().toSeq.sorted
        val want = (for {
          ((tx, ty), _) <- tiles.toSeq
          (du, dv) <- brute
          nj <- tiles.get((tx + du, ty + dv))
        } yield (id(tx, ty), id(tx + du, ty + dv), nj)).sorted
        (got == want) :| s"$name $c: ${got.diff(want).take(5)} extra, ${want.diff(got).take(5)} missing"
      }.reduce(_ && _)
    })
  }

  test("lint: GeoStatsOps holds one cell-disk explode and one tile-offset packing") {
    // the radius and tile-neighbour joins live in radiusPairs and
    // tileNeighbours; these counts may not grow
    val f = new java.io.File("src/main/scala/graft/ops/GeoStatsOps.scala")
    assert(f.exists, s"sources not found at ${f.getAbsolutePath}")
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val disks = "cell_disk\\(".r.findAllMatchIn(src).length
    val packs = "67108864|<<\\s*26".r.findAllMatchIn(src).length
    assert(disks <= 1, s"$disks cell_disk( calls, at most 1")
    assert(packs <= 1, s"$packs tile-offset packings, at most 1")
  }
}
