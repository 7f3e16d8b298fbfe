package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.ImageOps
import graft.synth.{Bmp, Codec, Synth}

/** Image-curation operators: cross-codec pixel dedup, deterministic
  * augmentations, spatially-local shard packing. */
class ImageCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("pixelDigest: hand-computed on a 3-byte array; sensitive to position swaps") {
    // bytes [1, 2, 3]: Σ (p+1)(p+7)(v+17) = 1·7·18 + 2·8·19 + 3·9·20 = 970
    assert(ImageOps.pixelDigest(Array[Byte](1, 2, 3)) === 1L * 7 * 18 + 2L * 8 * 19 + 3L * 9 * 20)
    // swapping two equal-sum positions changes the digest (position weights)
    assert(ImageOps.pixelDigest(Array[Byte](3, 2, 1)) !==
      ImageOps.pixelDigest(Array[Byte](1, 2, 3)))
  }

  test("augmentPixels: involutions and a hand-checked 2x1 hflip") {
    val rgb = Array[Byte](10, 11, 12, 20, 21, 22) // two pixels, 2x1
    val flipped = ImageOps.augmentPixels(rgb, 2, 1, "hflip")
    assert(flipped.toSeq === Seq[Byte](20, 21, 22, 10, 11, 12))
    // hflip ∘ hflip = id, rot180 ∘ rot180 = id on a non-square image
    val src = Bmp.pixels(12345L, 5, 3)
    for (a <- Seq("hflip", "rot180")) {
      val once = ImageOps.augmentPixels(src, 5, 3, a)
      assert(ImageOps.augmentPixels(once, 5, 3, a).toSeq === src.toSeq, a)
      assert(once.toSeq !== src.toSeq, s"$a must move pixels")
    }
    // rot180 = hflip ∘ vflip: row y of rot180 equals reversed row h-1-y
    val rot = ImageOps.augmentPixels(src, 5, 3, "rot180")
    val hf = ImageOps.augmentPixels(src, 5, 3, "hflip")
    for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
      assert(rot((y * 5 + x) * 3 + c) === hf(((3 - 1 - y) * 5 + x) * 3 + c))
  }

  test("pixelDedupGroups: bmp↔png re-encodes of the same pixels group; distinct pixels don't") {
    val imgs = Seq(
      ("a1", "bmp", Codec.encodeFor("bmp", 777L, 6, 4)),
      ("a2", "png", Codec.encodeFor("png", 777L, 6, 4)), // same pixels, different codec
      ("b1", "bmp", Codec.encodeFor("bmp", 778L, 6, 4)), // different pixels
      ("c1", "png", Codec.encodeFor("png", 779L, 5, 5))
    ).toDF("image_id", "fmt", "bytes")
    val groups = ImageOps.pixelDedupGroups(imgs).collect()
    assert(groups.length === 1)
    val g = groups.head
    assert(g.getAs[String]("keep_id") === "a1")
    assert(g.getAs[Long]("n_copies") === 2L)
    assert(g.getAs[String]("fmts") === "bmp,png")
  }

  test("shardPack: shards respect the budget chop and partition by cell") {
    val g = 16
    val imgs = Synth.withGeotag(
      Synth.images(spark, sf, g, withBytes = false), g)
    val packed = ImageOps.shardPack(imgs, cellMicro = 5000L, budgetBytes = 4096L)
    val rows = packed.collect()
    assert(rows.nonEmpty)
    // per (cell, shard): px_bytes of all but the last shard in a cell must
    // have crossed the budget (the chop rule: an item starts a new shard
    // only once cum-before passes the boundary) — so every non-final shard
    // holds ≥ budget - maxItem and ≤ budget + maxItem bytes
    val maxItem = 15L * 15L * 3L
    val byCell = rows.groupBy(_.getAs[Long]("cell"))
    byCell.foreach { case (_, shards) =>
      val sorted = shards.sortBy(_.getAs[Long]("shard"))
      sorted.dropRight(1).foreach { r =>
        val b = r.getAs[Long]("px_bytes")
        assert(b >= 4096L - maxItem && b <= 4096L + maxItem,
          s"non-final shard bytes $b out of chop envelope")
      }
      // shard ids are dense from 0
      assert(sorted.map(_.getAs[Long]("shard")).toSeq ===
        (0L until sorted.length.toLong))
    }
    // total images preserved
    assert(rows.map(_.getAs[Long]("n_images")).sum === imgs.count())
  }

  test("dominantColor: hand-built palettes; lowest-bucket tie-break; unknown fmt skipped") {
    // 2x2 image: 3 red-ish pixels (bucket 7*64 = 448), 1 blue-ish (bucket 7)
    val redDom = Array[Byte](
      230.toByte, 10, 10,   240.toByte, 20, 5,
      255.toByte, 0, 0,     10, 10, 230.toByte)
    // 2x1 tie: one black (bucket 0), one white (bucket 511) -> lowest wins
    val tie = Array[Byte](0, 0, 0, 255.toByte, 255.toByte, 255.toByte)
    val got = ImageOps.dominantColor(
        Seq(("red", "bmp", Bmp.encode(redDom, 2, 2)),
            ("tie", "bmp", Bmp.encode(tie, 2, 1)),
            ("bad", "gif", Array[Byte](1, 2, 3)))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        ((r.getAs[Long]("n_px"), r.getAs[Long]("dom_bucket"),
          r.getAs[Long]("dom_count")))).toMap
    assert(got === Map(
      "red" -> ((4L, 448L, 3L)),   // 7*64 + 0*8 + 0
      "tie" -> ((2L, 0L, 1L))))    // tie at count 1 -> bucket 0 wins
  }

  test("qualityStats: exact integer variance, flat image drops, noise image keeps") {
    // flat gray image: variance 0 → drop at any positive threshold
    val flat = Bmp.encode(Array.fill(6 * 4 * 3)(100.toByte), 6, 4)
    // splitmix noise: variance ≈ 5461 ≫ 1000
    val noise = Codec.encodeFor("png", 999L, 6, 4)
    val got = ImageOps.qualityStats(
        Seq(("flat", "bmp", flat), ("noise", "png", noise))
          .toDF("image_id", "fmt", "bytes"), minVar = 1000L)
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("sum_v"), r.getAs[Long]("var_num"), r.getAs[Boolean]("keep"))).toMap
    assert(got("flat") === ((6L * 4 * 3 * 100, 0L, false)))
    val (s1, vn, keep) = got("noise")
    // recompute var_num from the known source pixels
    val rgb = Bmp.pixels(999L, 6, 4)
    val vs = rgb.map(_ & 0xff)
    val n = vs.length.toLong
    assert(s1 === vs.map(_.toLong).sum)
    assert(vn === n * vs.map(v => v.toLong * v).sum - s1 * s1)
    assert(keep === (vn >= 1000L * n * n))
  }

  test("sharpnessStats: flat/checkerboard/no-interior fixtures + noise parity with in-JVM reference") {
    // flat image: every Laplacian 0 → never sharp
    val flat = Bmp.encode(Array.fill(4 * 4 * 3)(100.toByte), 4, 4)
    // 4×4 checkerboard 0/255 all channels: interior L alternates ±4·765,
    // s1 = 0, var_num = 4·Σ(3060²)·... = 16·3060² exactly
    val cb = Bmp.encode((0 until 16).flatMap { i =>
      val v = if (((i % 4) + (i / 4)) % 2 == 0) 255.toByte else 0.toByte
      Seq(v, v, v)
    }.toArray, 4, 4)
    // 2×2: no interior pixels → m = 0, never sharp (no 0 ≥ 0 vacuity)
    val tiny = Bmp.encode(Array.fill(2 * 2 * 3)(7.toByte), 2, 2)
    val noise = Codec.encodeFor("png", 424242L, 9, 7)
    val got = ImageOps.sharpnessStats(
        Seq(("flat", "bmp", flat), ("cb", "bmp", cb), ("tiny", "bmp", tiny),
          ("noise", "png", noise)).toDF("image_id", "fmt", "bytes"),
        minVar = 320000L)
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("m"), r.getAs[Long]("lap_sum"),
          r.getAs[Long]("lap_var_num"), r.getAs[Boolean]("sharp"))).toMap
    assert(got("flat") === ((4L, 0L, 0L, false)))
    assert(got("cb") === ((4L, 0L, 16L * 3060 * 3060, true)))
    assert(got("tiny") === ((0L, 0L, 0L, false)))
    // noise image: parity with an independent in-JVM reference on the
    // known source pixels
    val rgb = Bmp.pixels(424242L, 9, 7)
    def g(x: Int, y: Int): Long =
      (0 until 3).map(c => (rgb((y * 9 + x) * 3 + c) & 0xff).toLong).sum
    val lps = for (y <- 1 until 6; x <- 1 until 8)
      yield 4 * g(x, y) - g(x - 1, y) - g(x + 1, y) - g(x, y - 1) - g(x, y + 1)
    val (m, s1, s2) = (lps.size.toLong, lps.sum, lps.map(l => l * l).sum)
    assert(got("noise") === ((m, s1, m * s2 - s1 * s1,
      m * s2 - s1 * s1 >= 320000L * m * m)))
  }

  test("equalizeStats: flat→0, two-level→{0,255}, noise parity with in-JVM LUT reference") {
    // flat: every channel constant → n = cdf_min → all bytes 0
    val flat = Bmp.encode(Array.fill(3 * 2 * 3)(100.toByte), 3, 2)
    // two-level 4×1 (values 10,10,200,200 in every channel):
    // cdf(10)=2=cdf_min, cdf(200)=4 → eq(10)=0, eq(200)=255
    val two = Bmp.encode(Array[Byte](10, 10, 10, 10, 10, 10,
      200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte), 4, 1)
    val noise = Codec.encodeFor("png", 77L, 8, 6)
    val got = ImageOps.equalizeStats(
        Seq(("flat", "bmp", flat), ("two", "bmp", two), ("noise", "png", noise))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("eq_digest"), r.getAs[Long]("min_eq"),
          r.getAs[Long]("max_eq"), r.getAs[Long]("sum_eq"))).toMap
    val flatDigest = (0 until 18).map(p => (p + 1L) * (p + 7L) * 17L).sum
    assert(got("flat") === ((flatDigest, 0L, 0L, 0L)))
    val twoEq = Array.fill(6)(0) ++ Array.fill(6)(255)
    val twoDigest = twoEq.zipWithIndex.map { case (e, p) =>
      (p + 1L) * (p + 7L) * (e + 17L) }.sum
    assert(got("two") === ((twoDigest, 0L, 255L, 6L * 255)))
    // noise: independent in-JVM LUT reference from the known source pixels
    val rgb = Bmp.pixels(77L, 8, 6)
    val eq = new Array[Int](rgb.length)
    for (c <- 0 until 3) {
      val vs = rgb.indices.filter(_ % 3 == c).map(i => rgb(i) & 0xff)
      val n = vs.size.toLong
      val cdf = (0 to 255).map(v => vs.count(_ <= v).toLong)
      val cdfMin = cdf.find(_ > 0).get
      for (i <- rgb.indices if i % 3 == c)
        eq(i) = if (n > cdfMin)
          (((cdf(rgb(i) & 0xff) - cdfMin) * 255L) / (n - cdfMin)).toInt else 0
    }
    val wantDigest = eq.zipWithIndex.map { case (e, p) =>
      (p + 1L) * (p + 7L) * (e + 17L) }.sum
    assert(got("noise") === ((wantDigest, eq.min.toLong, eq.max.toLong,
      eq.map(_.toLong).sum)))
  }

  test("otsuStats: two-level exact cut, flat emits no row, noise parity with in-JVM reference") {
    // two-level 4×1 (10,10,200,200 in all channels → gray 30,30,600,600):
    // only valid cut t=30: A = 60·2 − 1200·2 = −2280, score = A²/4 = 1299600
    val two = Bmp.encode(Array[Byte](10, 10, 10, 10, 10, 10,
      200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte), 4, 1)
    val flat = Bmp.encode(Array.fill(3 * 2 * 3)(100.toByte), 3, 2)
    val noise = Codec.encodeFor("png", 550055L, 9, 8)
    val got = ImageOps.otsuStats(
        Seq(("two", "bmp", two), ("flat", "bmp", flat), ("noise", "png", noise))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("t_star"), r.getAs[Long]("score_q"),
          r.getAs[Long]("n_bg"), r.getAs[Long]("n_fg"))).toMap
    assert(!got.contains("flat")) // single bin → no valid cut
    assert(got("two") === ((30L, 1299600L, 2L, 2L)))
    // noise parity: brute-force argmax over every occupied gray value
    val rgb = Bmp.pixels(550055L, 9, 8)
    val gs = rgb.grouped(3).map(p => p.map(_ & 0xff).sum.toLong).toSeq
    val n = gs.size.toLong; val s = gs.sum
    val cand = gs.distinct.sorted.flatMap { t =>
      val lo = gs.filter(_ <= t)
      val (n0, s0) = (lo.size.toLong, lo.sum)
      if (n - n0 > 0) {
        val a = s0 * (n - n0) - (s - s0) * n0
        Some((t, (a * a) / (n0 * (n - n0)), n0))
      } else None
    }
    val best = cand.maxBy { case (t, sc, _) => (sc, -t) }
    assert(got("noise") === ((best._1, best._2, best._3, n - best._3)))
  }

  test("entropyStats: flat→0, two-level exact, noise parity with in-JVM reference") {
    def ln9(x: Long): Long = Math.round(math.log(x.toDouble) * 1e9)
    val flat = Bmp.encode(Array.fill(3 * 2 * 3)(100.toByte), 3, 2)
    val two = Bmp.encode(Array[Byte](10, 10, 10, 10, 10, 10,
      200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte, 200.toByte), 4, 1)
    val noise = Codec.encodeFor("png", 808080L, 8, 7)
    val got = ImageOps.entropyStats(
        Seq(("flat", "bmp", flat), ("two", "bmp", two), ("noise", "png", noise))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("n_px"), r.getAs[Long]("n_bins"),
          r.getAs[Long]("ent_num"), r.getAs[Long]("ratio_ppm"))).toMap
    assert(got("flat") === ((6L, 1L, 0L, 0L)))
    val entTwo = 4L * ln9(4) - 4L * ln9(2)
    assert(got("two") === ((4L, 2L, entTwo, 1000000L * entTwo / (4L * ln9(4)))))
    // noise parity from the known source pixels
    val gs = Bmp.pixels(808080L, 8, 7).grouped(3)
      .map(p => p.map(_ & 0xff).sum).toSeq
    val n = gs.size.toLong
    val acc = gs.groupBy(identity).values.map(v => v.size.toLong * ln9(v.size)).sum
    val ent = n * ln9(n) - acc
    assert(got("noise") === ((n, gs.distinct.size.toLong, ent,
      1000000L * ent / (n * ln9(n)))))
  }

  test("sobelStats: step edges land in the right buckets; noise parity with in-JVM reference") {
    // vertical step (columns 0,0,255,255): every interior gx = +3060, gy = 0
    val vstep = Bmp.encode((0 until 16).flatMap { i =>
      val v = if (i % 4 >= 2) 255.toByte else 0.toByte; Seq(v, v, v)
    }.toArray, 4, 4)
    // horizontal step (rows 0,0,255,255): gx = 0, gy = +3060
    val hstep = Bmp.encode((0 until 16).flatMap { i =>
      val v = if (i / 4 >= 2) 255.toByte else 0.toByte; Seq(v, v, v)
    }.toArray, 4, 4)
    val noise = Codec.encodeFor("png", 660066L, 9, 8)
    val got = ImageOps.sobelStats(
        Seq(("v", "bmp", vstep), ("h", "bmp", hstep), ("n", "png", noise))
          .toDF("image_id", "fmt", "bytes"), minMag2 = 1000L)
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("m"), r.getAs[Long]("n_edge"), r.getAs[Long]("sum_abs_gx"),
          r.getAs[Long]("sum_abs_gy"), r.getAs[Long]("h_cnt"), r.getAs[Long]("v_cnt"),
          r.getAs[Long]("d1_cnt"), r.getAs[Long]("d2_cnt"))).toMap
    assert(got("v") === ((4L, 4L, 4L * 3060, 0L, 4L, 0L, 0L, 0L)))
    assert(got("h") === ((4L, 4L, 0L, 4L * 3060, 0L, 4L, 0L, 0L)))
    // noise parity with an independent in-JVM reference
    val rgb = Bmp.pixels(660066L, 9, 8)
    def g(x: Int, y: Int): Long =
      (0 until 3).map(c => (rgb((y * 9 + x) * 3 + c) & 0xff).toLong).sum
    var (m, ne, sgx, sgy, ch, cv, cd1, cd2) = (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    for (y <- 1 until 7; x <- 1 until 8) {
      val gx = g(x+1,y-1) + 2*g(x+1,y) + g(x+1,y+1) - g(x-1,y-1) - 2*g(x-1,y) - g(x-1,y+1)
      val gy = g(x-1,y+1) + 2*g(x,y+1) + g(x+1,y+1) - g(x-1,y-1) - 2*g(x,y-1) - g(x+1,y-1)
      m += 1; sgx += math.abs(gx); sgy += math.abs(gy)
      if (gx*gx + gy*gy >= 1000L) {
        ne += 1
        if (math.abs(gx) >= 2*math.abs(gy)) ch += 1
        else if (math.abs(gy) >= 2*math.abs(gx)) cv += 1
        else if (gx*gy > 0) cd1 += 1 else cd2 += 1
      }
    }
    assert(got("n") === ((m, ne, sgx, sgy, ch, cv, cd1, cd2)))
  }

  test("borderStats: hand-built letterbox/pillarbox/flat/clean cases") {
    // 4×5 with 1 uniform top row, 2 uniform bottom rows (different colors)
    val lbPx = Array.fill(4 * 5 * 3)(0.toByte)
    for (x <- 0 until 4; c <- 0 until 3) lbPx((0 * 4 + x) * 3 + c) = 9
    for (x <- 0 until 4) { // rows 1,2 noise (make non-uniform)
      lbPx((1 * 4 + x) * 3) = (x * 13 + 5).toByte
      lbPx((2 * 4 + x) * 3) = (x * 29 + 1).toByte
    }
    for (x <- 0 until 4; c <- 0 until 3) {
      lbPx((3 * 4 + x) * 3 + c) = 77; lbPx((4 * 4 + x) * 3 + c) = 77
    }
    val lb = Bmp.encode(lbPx, 4, 5)
    // pillarbox: 5×3 with 1 uniform left col, 1 uniform right col
    val pbPx = Array.fill(5 * 3 * 3)(0.toByte)
    for (y <- 0 until 3) pbPx((y * 5 + 2) * 3) = (y * 31 + 7).toByte // noise col
    for (y <- 0 until 3) pbPx((y * 5 + 1) * 3) = (y * 17 + 3).toByte
    for (y <- 0 until 3) pbPx((y * 5 + 3) * 3) = (y * 11 + 5).toByte
    val pb = Bmp.encode(pbPx, 5, 3)
    val flat = Bmp.encode(Array.fill(3 * 2 * 3)(42.toByte), 3, 2)
    val clean = Codec.encodeFor("png", 909090L, 8, 7)
    val got = ImageOps.borderStats(
        Seq(("lb", "bmp", lb), ("pb", "bmp", pb), ("flat", "bmp", flat),
          ("clean", "png", clean)).toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("top_rows"), r.getAs[Long]("bottom_rows"),
          r.getAs[Long]("left_cols"), r.getAs[Long]("right_cols"),
          r.getAs[Boolean]("boxed"))).toMap
    assert(got("lb") === ((1L, 2L, 0L, 0L, true)))
    assert(got("pb") === ((0L, 0L, 1L, 1L, true)))
    assert(got("flat") === ((2L, 2L, 3L, 3L, true))) // all-uniform convention
    assert(got("clean") === ((0L, 0L, 0L, 0L, false)))
  }

  test("rleStats: flat image 1 run, striped exact runs, boundary ratio") {
    val flat = Bmp.encode(Array.fill(4 * 2 * 3)(50.toByte), 4, 2)
    // 2×1: pixels (1,2,3), (4,5,6) → 6 bytes all distinct → 6 runs
    val dist = Bmp.encode(Array[Byte](1, 2, 3, 4, 5, 6), 2, 1)
    val got = ImageOps.rleStats(
        Seq(("flat", "bmp", flat), ("dist", "bmp", dist))
          .toDF("image_id", "fmt", "bytes"), maxRatioPpm = 1985000L)
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("n_bytes"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("ratio_ppm"), r.getAs[Boolean]("compressible"))).toMap
    assert(got("flat") === ((24L, 1L, 1000000L * 2 / 24, true)))
    assert(got("dist") === ((6L, 6L, 2000000L, false)))
  }

  test("boxDownsample: hand 4x2 block means, odd edges drop, 1-px-tall skipped, noise parity") {
    // 4×2 all-channels values: blocks {10,20,30,40}→25, {100,101,102,103}→101
    val px = Array[Byte](10, 10, 10, 20, 20, 20, 100, 100, 100, 101, 101, 101,
      30, 30, 30, 40, 40, 40, 102, 102, 102, 103, 103, 103)
    val four = Bmp.encode(px, 4, 2)
    // 3×3: odd row+col drop → 1×1 = mean of the top-left 2×2 block
    val nine = Codec.encodeFor("bmp", 31337L, 3, 3)
    val tiny = Bmp.encode(Array.fill(2 * 1 * 3)(5.toByte), 2, 1) // dh=0 → no row
    val got = ImageOps.boxDownsample(
        Seq(("four", "bmp", four), ("nine", "bmp", nine), ("tiny", "bmp", tiny))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Int]("dw"), r.getAs[Int]("dh"),
          r.getAs[Long]("down_digest"), r.getAs[Long]("sum_down"))).toMap
    val wantFour = Array.fill(3)(25) ++ Array.fill(3)(101)
    val digFour = wantFour.zipWithIndex.map { case (v, p) =>
      (p + 1L) * (p + 7L) * (v + 17L) }.sum
    assert(got("four") === ((2, 1, digFour, 3L * 25 + 3L * 101)))
    assert(!got.contains("tiny"))
    // noise parity from known source pixels
    val rgb = Bmp.pixels(31337L, 3, 3)
    val dv = (0 until 3).map { c =>
      ((rgb(c) & 0xff) + (rgb(3 + c) & 0xff) + (rgb(9 + c) & 0xff) + (rgb(12 + c) & 0xff)) / 4
    }
    val digNine = dv.zipWithIndex.map { case (v, p) =>
      (p + 1L) * (p + 7L) * (v + 17L) }.sum
    assert(got("nine") === ((1, 1, digNine, dv.map(_.toLong).sum)))
  }

  test("channelCorrStats: grayscale exact, anti-correlated channels, brute-force parity") {
    // grayscale: r=g=b everywhere → n_eq = n, cov = var (perfect corr basis)
    val gray = Bmp.encode(Array[Byte](10, 10, 10, 200.toByte, 200.toByte, 200.toByte), 2, 1)
    // anti-correlated: r high where g low → cov_num < 0; never r=g=b
    val anti = Bmp.encode(Array[Byte](200.toByte, 10, 0, 10, 200.toByte, 0), 2, 1)
    val noise = Codec.encodeFor("png", 424243L, 7, 6)
    val got = ImageOps.channelCorrStats(
        Seq(("gray", "bmp", gray), ("anti", "bmp", anti), ("noise", "png", noise))
          .toDF("image_id", "fmt", "bytes"))
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("n_eq"), r.getAs[Long]("cov_num"),
          r.getAs[Long]("varr_num"), r.getAs[Boolean]("grayscale"))).toMap
    // gray: sr=sg=210, srg=100+40000=40100 → cov = 2·40100 − 210² = 36100
    assert(got("gray") === ((2L, 36100L, 36100L, true)))
    assert(got("anti")._2 < 0 && !got("anti")._4 && got("anti")._1 === 0L)
    // noise parity with brute force on the known pixels
    val rgb = Bmp.pixels(424243L, 7, 6)
    val px = rgb.grouped(3).map(p => (p(0) & 0xff, p(1) & 0xff, p(2) & 0xff)).toSeq
    val n = px.size.toLong
    val (sr, sg) = (px.map(_._1.toLong).sum, px.map(_._2.toLong).sum)
    val srg = px.map(p => p._1.toLong * p._2).sum
    val sr2 = px.map(p => p._1.toLong * p._1).sum
    val nEq = px.count(p => p._1 == p._2 && p._2 == p._3).toLong
    assert(got("noise") === ((nEq, n * srg - sr * sg, n * sr2 - sr * sr, nEq == n)))
  }

  test("paletteStats: exact distinct colors, argmax tie to smallest packed color, limited flag") {
    // 3 pixels: two colors — (1,2,3) twice, (200,0,0) once → top = packed(1,2,3)
    val two = Bmp.encode(Array[Byte](1, 2, 3, 200.toByte, 0, 0, 1, 2, 3), 3, 1)
    // 2 pixels, 2 distinct colors with EQUAL counts → smallest packed wins
    val tie = Bmp.encode(Array[Byte](5, 0, 0, 1, 0, 0), 2, 1)
    val got = ImageOps.paletteStats(
        Seq(("two", "bmp", two), ("tie", "bmp", tie))
          .toDF("image_id", "fmt", "bytes"), maxColors = 2L)
      .collect().map(r => r.getAs[String]("image_id") ->
        (r.getAs[Long]("n_colors"), r.getAs[Long]("top_color"),
          r.getAs[Long]("top_share_ppm"), r.getAs[Boolean]("limited_palette"))).toMap
    assert(got("two") === ((2L, (1L << 16) | (2L << 8) | 3L, 666666L, true)))
    assert(got("tie") === ((2L, 1L << 16, 500000L, true)))
  }

  test("aspectHistogram: gcd reduction and ppm shares on a hand corpus") {
    val df = Seq((8, 8), (12, 12), (8, 12), (10, 15), (9, 8))
      .toDF("w", "h")
    val got = ImageOps.aspectHistogram(df)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((1, 1)) === ((2L, 400000L)))   // 8:8 and 12:12
    assert(got((2, 3)) === ((2L, 400000L)))   // 8:12 and 10:15
    assert(got((9, 8)) === ((1L, 200000L)))   // coprime stays
    assert(got.size === 3)
  }

  test("phash components: a planted chain merges into ONE component with one survivor") {
    // chain: p, p^1, p^3 — pairwise hamming ≤ 2, all within ≤3 of each other;
    // plus an isolated far image that must NOT join
    val imgs = Seq(
      ("a", 1024L), ("b", 1024L ^ 1L), ("c", 1024L ^ 3L),
      ("z", 0x0f0f0f0f0f0f0f0fL)
    ).toDF("image_id", "phash")
    val comp = graft.ops.GraphOps.dedupClusters(
      graft.ops.ImageOps.phashNearDups(imgs, maxHam = 3))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(comp.keySet === Set("a", "b", "c")) // z has no pairs → absent
    assert(comp.values.map(_._1).toSet === Set("a"))
    assert(comp.count(_._2._2) === 1 && comp("a")._2)
  }

  test("geoScrub: in-zone geotags snap to cell centers, out-of-zone pass through") {
    val g = 16
    val geo = Synth.withGeotag(
      Synth.images(spark, sf, g, withBytes = false), g)
    val out = graft.ops.SpatialOps.geoScrub(geo, Synth.cityPolys(g), cellMicro = 10000L)
      .join(geo.select("image_id", "u", "v"), "image_id").collect()
    assert(out.nonEmpty)
    var scrubbed = 0
    out.foreach { r =>
      val (city, uo, vo, u, v) = (r.getAs[String]("city"), r.getAs[Long]("u_out"),
        r.getAs[Long]("v_out"), r.getAs[Long]("u"), r.getAs[Long]("v"))
      if (city != "Unincorporated") {
        scrubbed += 1
        assert(uo % 10000L === 5000L && vo % 10000L === 5000L, s"$city not snapped")
        assert(math.abs(uo - u) <= 5000L && math.abs(vo - v) <= 5000L, "moved out of cell")
      } else assert(uo === u && vo === v, "rural geotag must not move")
    }
    assert(scrubbed > 0, "test corpus must contain in-zone images")
  }

  test("hybridRrf: doc in both legs outranks a doc in one leg at equal single-leg rank") {
    val out = graft.sim.SimOps.hybridRrf(
      Synth.documents(spark, sf), Synth.embeddings(spark, sf),
      qMod = 100L, kPer = 20, k = 10).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (rrf9, rkT, rkV) = (r.getAs[Long]("rrf9"),
        Option(r.getAs[Any]("rk_t")), Option(r.getAs[Any]("rk_v")))
      // rrf9 recomputes from the leg ranks
      val expect = rkT.map(t => 1000000000L / (60L + t.asInstanceOf[Int])).getOrElse(0L) +
        rkV.map(v => 1000000000L / (60L + v.asInstanceOf[Int])).getOrElse(0L)
      assert(rrf9 === expect)
      assert(rkT.nonEmpty || rkV.nonEmpty)
    }
    // within each query, fused ranking is by rrf9 desc
    out.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Long]("rrf9")).toSeq.sliding(2).forall {
        case Seq(a, b) => a >= b; case _ => true })
    }
  }

  test("shardManifest: offsets tile each shard blob contiguously; lens are real byte sizes") {
    val g = 16
    val bmps = Synth.withGeotag(Synth.images(spark, sf, g), g)
      .filter(col("fmt") === "bmp")
    val man = ImageOps.shardManifest(bmps, cellMicro = 5000L, budgetBytes = 4096L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("cell"),
        r.getAs[Long]("shard"), r.getAs[Long]("offset"), r.getAs[Long]("len")))
    assert(man.nonEmpty)
    // within a (cell, shard), sorted by k: each record starts where the
    // previous one ends (a reader can slice the blob with offset/len alone)
    man.groupBy(t => (t._2, t._3)).values.foreach { recs =>
      val sorted = recs.sortBy(_._1)
      sorted.head match { case (_, _, shard, off, _) =>
        if (shard == 0L) assert(off === 0L) // first shard of a cell starts at 0
      }
      sorted.sliding(2).foreach {
        case Array((_, _, _, o1, l1), (_, _, _, o2, _)) => assert(o2 === o1 + l1)
        case _ =>
      }
      // every record's chop invariant: offset < budget
      sorted.foreach { case (_, _, _, off, _) => assert(off < 4096L) }
    }
    // len is the real encoded size (matches the BMP formula)
    val byK = bmps.select(col("image_id"), col("w"), col("h")).collect()
      .map(r => r.getString(0).stripPrefix("img").toLong ->
        (r.getInt(1), r.getInt(2))).toMap
    man.foreach { case (k, _, _, _, len) =>
      val (w, h) = byK(k)
      assert(len === graft.synth.Bmp.encodedSize(w, h).toLong)
    }
  }

  test("augmentDigests: digest equals digest of physically flipped source pixels") {
    val imgs = Seq(
      ("x1", "bmp", Codec.encodeFor("bmp", 424242L, 7, 5)),
      ("x2", "png", Codec.encodeFor("png", 434343L, 4, 9))
    ).toDF("image_id", "fmt", "bytes")
    val got = ImageOps.augmentDigests(imgs, Seq("hflip", "rot180"))
      .select("image_id", "aug", "digest").as[(String, String, Long)]
      .collect().map { case (id, a, d) => (id, a) -> d }.toMap
    for ((id, ph, w, h) <- Seq(("x1", 424242L, 7, 5), ("x2", 434343L, 4, 9));
         a <- Seq("hflip", "rot180")) {
      val expect = ImageOps.pixelDigest(
        ImageOps.augmentPixels(Bmp.pixels(ph, w, h), w, h, a))
      assert(got((id, a)) === expect, s"$id/$a")
    }
  }

  test("incrementalPhashDedup: hand-built planted set — policy, dup_of argmin, corpus untouched") {
    // corpus: c10 (0b0000), c20 (0xF0F0). batch arrival order is id order:
    //   b05 = 0b0001        -> dups c10 (hamming 1)
    //   b15 = 0b0011        -> dups b05 (hamming 1) AND c10 (hamming 2):
    //                          argmin (hamming, id) -> b05
    //   b25 = 0b0111        -> dups b15 (hamming 1) — a CHAIN: b15 is itself
    //                          dropped but stays indexed (documented policy)
    //   b30 = 0xFFFF_FFFF.. -> no match, keeper
    val corpus = Seq(("c10", 0L), ("c20", 0xF0F0L)).toDF("image_id", "phash")
    val batch = Seq(("b05", 1L), ("b15", 3L), ("b25", 7L),
      ("b30", 0x0FFFFFFFFL)).toDF("image_id", "phash")
    val got = ImageOps.incrementalPhashDedup(corpus, batch, maxHam = 3)
      .as[(String, Boolean, Option[String], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("b05") === ((false, Some("c10"), Some(1))))
    assert(got("b15") === ((false, Some("b05"), Some(1))))
    assert(got("b25") === ((false, Some("b15"), Some(1))))
    assert(got("b30") === ((true, None, None)))
    assert(got.size === 4) // one row per batch image, corpus never emitted
  }

  test("aspectBatches: ladder argmin + chop identity recomputed serially; budget envelope") {
    val (g, _, _) = Pipeline.prepared(spark, sf)
    val imgs = Synth.images(spark, sf, g, withBytes = false)
      .withColumn("pid", expr("CAST(substring(image_id, 4) AS BIGINT)"))
    val budget = 2048L
    val ladder = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
    val got = ImageOps.aspectBatches(imgs, budget)
      .as[(String, Int, Int, Long, Long, Long)].collect()
    val dims = imgs.select(col("image_id"), col("w"), col("h"))
      .as[(String, Int, Int)].collect()
    // serial reference: argmin (|w*bh - h*bw|, index), then pid-ordered chop
    val expect = dims.map { case (id, w, h) =>
      val bi = ladder.zipWithIndex
        .minBy { case ((bw, bh), i) => (math.abs(w * bh - h * bw), i) }._2
      (id, id.drop(3).toLong, ladder(bi), w.toLong * h)
    }.groupBy(_._3).toSeq.flatMap { case (b, rows) =>
      var off = 0L
      rows.sortBy(_._2).map { case (id, _, _, px) =>
        val r = (id, b._1, b._2, px, off, off / budget); off += px; r
      }.toSeq
    }
    assert(got.sortBy(_._1) === expect.toSeq.sortBy(_._1))
    // batches within a bucket are contiguous and start where the chop says
    val perBatch = got.groupBy(r => (r._2, r._3, r._6))
    perBatch.foreach { case ((_, _, bid), rows) =>
      assert(rows.map(_._5).min / budget === bid)
    }
    assert(got.map(r => (r._2, r._3)).distinct.length === 5) // all buckets used
  }

  test("orbitDigests: each slot matches the physically augmented digest; canonical is group-invariant") {
    val (w, h) = (6, 4)
    val rgb = Bmp.pixels(987654L, w, h)
    val d = ImageOps.orbitDigests(rgb, w, h)
    assert(d(0) === ImageOps.pixelDigest(rgb))
    assert(d(1) === ImageOps.pixelDigest(ImageOps.augmentPixels(rgb, w, h, "hflip")))
    assert(d(3) === ImageOps.pixelDigest(ImageOps.augmentPixels(rgb, w, h, "rot180")))
    val vflip = ImageOps.augmentPixels(
      ImageOps.augmentPixels(rgb, w, h, "rot180"), w, h, "hflip")
    assert(d(2) === ImageOps.pixelDigest(vflip))
    // canonical key is identical for every element of the orbit
    for (t <- Seq(ImageOps.augmentPixels(rgb, w, h, "hflip"),
        ImageOps.augmentPixels(rgb, w, h, "rot180"), vflip)) {
      assert(ImageOps.orbitDigests(t, w, h).min === d.min)
    }
  }

  test("dihedralDedupGroups pairs a mirrored copy with its source; plain digest cannot") {
    val (w, h) = (7, 5)
    val a = Bmp.pixels(4242L, w, h)
    val fl = ImageOps.augmentPixels(a, w, h, "hflip")
    assert(!java.util.Arrays.equals(a, fl)) // asymmetric fixture
    val df = Seq(
      ("a", "bmp", Bmp.encode(a, w, h)),
      ("a_f", "bmp", Bmp.encode(fl, w, h))).toDF("image_id", "fmt", "bytes")
    val groups = ImageOps.dihedralDedupGroups(df).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("n_copies") === 2L)
    assert(groups(0).getAs[String]("keep_id") === "a")
    assert(ImageOps.pixelDedupGroups(df).count() === 0L)
  }

  test("atlasDigests: hand-derived single-blit digest; 17 members chop into 16+1 shards") {
    val (w, h) = (2, 2)
    val rgb = Array.tabulate[Byte](w * h * 3)(i => (i + 1).toByte)
    val df = Seq(("a", "bmp", Bmp.encode(rgb, w, h), 0L, 0L))
      .toDF("image_id", "fmt", "bytes", "u", "v")
    val row = ImageOps.atlasDigests(spark, df).head()
    var expect = 0L
    for (p <- 0 until 64 * 64 * 3) expect += (p + 1L) * (p + 7L) * 17L
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val pp = (y * 64 + x) * 3 + c // slot 0 at canvas origin
      expect += (pp + 1L) * (pp + 7L) * (rgb((y * w + x) * 3 + c) & 0xff)
    }
    assert(row.getAs[Long]("digest") === expect)
    assert(row.getAs[Long]("n_imgs") === 1L)
    val many = (0 until 17).map(i => (f"img$i%03d", "bmp", Bmp.encode(rgb, w, h), 0L, 0L))
      .toDF("image_id", "fmt", "bytes", "u", "v")
    val shards = ImageOps.atlasDigests(spark, many).orderBy("shard").collect()
    assert(shards.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 16L), (1L, 1L)))
  }

  test("cropDups: planted crop found with exact containment; unrelated images never pair") {
    val (w, h) = (8, 7)
    val rgb = Bmp.pixels(999L, w, h)
    val (cw, ch) = (w - 2, h - 2)
    val crop = new Array[Byte](cw * ch * 3)
    for (y <- 0 until ch; x <- 0 until cw; c <- 0 until 3)
      crop((y * cw + x) * 3 + c) = rgb(((y + 1) * w + x + 1) * 3 + c)
    val df = Seq(
      ("a", "bmp", Bmp.encode(rgb, w, h)),
      ("a_c", "bmp", Bmp.encode(crop, cw, ch)),
      ("b", "bmp", Bmp.encode(Bmp.pixels(777L, w, h), w, h)))
      .toDF("image_id", "fmt", "bytes")
    val rows = ImageOps.cropDups(df).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "a" && rows(0).getString(1) === "a_c")
    assert(rows(0).getAs[Long]("n_shared") === ((cw - 3) * (ch - 3)).toLong)
    assert(rows(0).getAs[Boolean]("is_crop"))
  }

  test("crossmodalDedup splits pixel twins by caption equality") {
    val (w, h) = (4, 4)
    val px = Bmp.encode(Bmp.pixels(7L, w, h), w, h)
    val df = Seq(
      ("a", "bmp", "cap one", px),
      ("b", "bmp", "cap one", px),
      ("c", "bmp", "different", px)).toDF("image_id", "fmt", "caption", "bytes")
    val rows = ImageOps.crossmodalDedup(spark, df).orderBy("dup_id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1),
      r.getBoolean(3))).toSeq === Seq(("a", "b", true), ("a", "c", false)))
  }

  // ---- the decode island's failure contract and its lint ratchet ----

  /** decodable bmp, png and jpeg rows beside a truncated bmp, a png with a
    * garbled signature and an unknown fmt */
  private def corruptCorpus = {
    val bmp = Codec.encodeFor("bmp", 515151L, 6, 5)
    val png = Codec.encodeFor("png", 525252L, 5, 7)
    val garbled = png.clone(); garbled(1) = 'X'.toByte; garbled(2) = 'Y'.toByte
    Seq(
      ("ok_bmp", "bmp", bmp),
      ("ok_png", "png", png),
      ("ok_jpeg", "jpeg", Codec.encodeFor("jpeg", 535353L, 8, 8)),
      ("truncated", "bmp", bmp.dropRight(7)),
      ("garbled", "png", garbled),
      ("unknown", "gif", bmp))
  }

  test("decode island: undecodable rows drop, decodable rows match a direct decode") {
    val corpus = corruptCorpus
    val direct = corpus.flatMap { case (id, fmt, bytes) =>
      Codec.decodeAny(fmt, bytes).map(d => id -> d) }.toMap
    assert(direct.keySet === Set("ok_bmp", "ok_png", "ok_jpeg"))
    val df = corpus.toDF("image_id", "fmt", "bytes")

    val quality = ImageOps.qualityStats(df, minVar = 1000L)
      .select("image_id", "w", "h", "sum_v", "var_num", "keep")
      .as[(String, Int, Int, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    assert(quality === direct.map { case (id, (rgb, w, h)) =>
      val v = rgb.map(_ & 0xff).map(_.toLong)
      val n = v.length.toLong
      val varNum = n * v.map(x => x * x).sum - v.sum * v.sum
      id -> (w, h, v.sum, varNum, varNum >= 1000L * n * n)
    })

    val augs = Seq("hflip", "rot180")
    val digests = ImageOps.augmentDigests(df, augs)
      .select("image_id", "aug", "w", "h", "digest")
      .as[(String, String, Int, Int, Long)].collect()
    assert(digests.sorted.toSeq === (for {
      (id, (rgb, w, h)) <- direct.toSeq
      a <- augs
    } yield (id, a, w, h, ImageOps.pixelDigest(ImageOps.augmentPixels(rgb, w, h, a)))).sorted)
  }

  test("lint: one decode island in ImageOps, one channel-sum loop in src/main") {
    val root = new java.io.File("src/main/scala/graft")
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def count(src: String, literal: String) =
      java.util.regex.Pattern.quote(literal).r.findAllMatchIn(src).length
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val imageOps = new java.io.File(root, "ops/ImageOps.scala")
    assert(imageOps.isFile, s"ImageOps not found under ${root.getAbsolutePath}")
    // the helper, the four paths that emit a row for an undecodable payload
    // (decodeFeatures, thumbnails, decodeSse, psnrVsSource), crossmodalDedup
    // (carries caption) and atlasDigests (decodes inside its cell groups)
    val decodes = count(read(imageOps), "Codec.decodeAny(")
    assert(decodes <= 7, s"$decodes Codec.decodeAny( calls in ImageOps.scala, at most 7")
    val sums = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => f.getPath -> count(read(f), "r += rgb(i) & 0xff"))
      .filter(_._2 > 0)
    assert(sums.map(_._2).sum === 1, s"channel-sum loops (Codec.channelSums is the one): $sums")
  }
}
