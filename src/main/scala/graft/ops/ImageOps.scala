package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.functions._
import graft.synth.{Bmp, Codec}

/** Multimodal (binary) column operators: decode / feature-extract /
  * thumbnail over the opaque `bytes` column, batched per partition
  * (Scala analog of mapInPandas: one decoder instance per partition,
  * rows streamed through it — no per-row setup cost).
  *
  * Decode is REAL for all three corpus formats: BMP via the hand-rolled
  * graft.synth.Bmp, PNG and JPEG via the JDK's javax.imageio
  * (graft.synth.Codec — no external dependency). Only genuinely unknown
  * formats take the clearly-marked deterministic stub path
  * (decode_ok=false / passthrough).
  */
object ImageOps {

  case class ImageFeatures(
      image_id: String, fmt: String, w: Int, h: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, decode_ok: Boolean)

  /** The decode island of the image operators: selects (image_id, fmt,
    * bytes), decodes each payload once inside ONE typed mapPartitions
    * (DeserializeToObject → MapPartitions → SerializeFromObject; bytes are
    * read once and never shuffle) and hands `f` the id, fmt and decoded
    * row-major RGB with its (w, h). `f` emits zero or more rows, named
    * `cols`. An undecodable payload (decodeAny's None: unknown fmt,
    * truncated or garbled bytes) emits no row. The operators that emit a
    * decode_ok=false row instead, or carry other columns through the
    * island, write their own pass. */
  private def decoded[T <: Product : TypeTag](images: DataFrame, cols: String*)(
      f: (String, String, Array[Byte], Int, Int) => IterableOnce[T]): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("image_id", "fmt", "bytes")
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, fmt, bytes) =>
        Codec.decodeAny(fmt, bytes) match {
          case Some((rgb, w, h)) => f(id, fmt, rgb, w, h)
          case None => Iterator.empty
        }
      })(Encoders.product[T])
      .toDF(cols: _*)
  }

  /** Integer gray r+g+b (0..765) of pixel (x, y) of a w-wide RGB buffer. */
  @inline private def gray(rgb: Array[Byte], w: Int, x: Int, y: Int): Long = {
    val i = (y * w + x) * 3
    (rgb(i) & 0xff).toLong + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)
  }

  /** Histogram of the integer gray r+g+b over every pixel: 766 bins. */
  private def grayHist(rgb: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](766)
    var i = 0
    while (i < rgb.length) {
      hist((rgb(i) & 0xff) + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)) += 1
      i += 3
    }
    hist
  }

  /** (Σv, n·Σv² − (Σv)²) over all n channel bytes: the value sum and the
    * exact variance numerator. */
  private def valueVariance(rgb: Array[Byte]): (Long, Long) = {
    var s1 = 0L; var s2 = 0L; var i = 0
    while (i < rgb.length) {
      val v = (rgb(i) & 0xff).toLong; s1 += v; s2 += v * v; i += 1
    }
    (s1, rgb.length.toLong * s2 - s1 * s1)
  }

  /** Perceptual-hash near-duplicate image pairs — the image twin of SimHash
    * text dedup: the naive Hamming theta-join bit_count(p1 ^ p2) ≤ maxHam
    * over the 64-bit `phash` column (id1 < id2), which
    * plans/HammingJoinRewrite plans as its 4×16-bit band-blocked equi-join:
    * a pair within Hamming distance ≤ 3 must share at least one intact band
    * (pigeonhole), so candidates come from a (band, bucket) equi-join on
    * narrow (id, phash) rows — never all-pairs, and image bytes never enter
    * the join — with the first-matching-band owner conjunct (each pair
    * exactly once, no dedup shuffle) and the exact bit_count(xor) verify on
    * candidates only.
    *
    * Scale rung: the bucket space is 2^16 per band, so at corpus sizes far
    * beyond that, per-bucket collision lists grow linearly and the
    * within-bucket pairing dominates; the standard next step is secondary
    * blocking inside hot buckets (split on a prefix of the OTHER bands'
    * bits — any ≤3-flip pair still collides in one refined bucket because
    * the intact band plus intact other-band prefix pigeonhole again), the
    * same remedy Skew.scala applies to hot spatial cells. */
  def phashNearDups(images: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam < 4, "4-band blocking is complete only for hamming < 4")
    hammingJoin(images.select(col("image_id").as("id1"), col("phash").as("p1")),
        images.select(col("image_id").as("id2"), col("phash").as("p2")),
        col("p1"), col("p2"), maxHam, col("id1") < col("id2"))
      .select("id1", "id2", "hamming")
  }

  /** `l` × `r` pairs within Hamming distance `maxHam` of keys `pl`, `pr`
    * (and `cond`), with their `hamming`: the naive join, blocked by
    * plans/HammingJoinRewrite, which this enables on the session. */
  private def hammingJoin(l: DataFrame, r: DataFrame, pl: Column, pr: Column,
                          maxHam: Int, cond: Column = lit(true)): DataFrame = {
    graft.plans.GraftPlans.enable(l.sparkSession)
    l.join(r, cond && bit_count(pl.bitwiseXOR(pr)) <= lit(maxHam))
      .withColumn("hamming", bit_count(pl.bitwiseXOR(pr)))
  }

  /** INCREMENTAL phash dedup — the daily-ingest shape: a new batch is
    * checked against the AT-REST corpus plus itself, without ever re-pairing
    * the corpus. The corpus probe is phashNearDups' band-blocked Hamming
    * join, batch × corpus: only the (band, bucket) keys the batch occupies
    * meet, and corpus×corpus pairs (the expensive part of a full re-dedup)
    * are never generated.
    *
    * Policy (documented): a batch image is a duplicate iff it is within
    * `maxHam` of ANY corpus image or any LEXICOGRAPHICALLY-EARLIER batch
    * image (kept or dropped — the conservative everything-stays-indexed
    * variant of streaming dedup; id order plays arrival order).
    * `dup_of` = the matched id minimizing (hamming, id) — deterministic.
    *
    * Output: one row per batch image — (image_id, keep, dup_of, hamming);
    * dup_of/hamming null for keepers. */
  def incrementalPhashDedup(corpus: DataFrame, batch: DataFrame,
                            maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam < 4, "4-band blocking is complete only for hamming < 4")
    val vsCorpus = hammingJoin(batch.select(col("image_id"), col("phash")),
        corpus.select(col("image_id").as("match_id"), col("phash").as("c_phash")),
        col("phash"), col("c_phash"), maxHam)
      .select(col("image_id"), col("match_id"), col("hamming"))
    // batch-internal: the pair (id1 < id2) makes id2 the duplicate
    val internal = phashNearDups(batch, maxHam)
      .select(col("id2").as("image_id"), col("id1").as("match_id"), col("hamming"))
    val best = vsCorpus.unionByName(internal)
      .groupBy(col("image_id"))
      .agg(min(struct(col("hamming"), col("match_id"))).as("m"))
    batch.select(col("image_id")).join(best, Seq("image_id"), "left")
      .select(col("image_id"), col("m").isNull.as("keep"),
        col("m.match_id").as("dup_of"), col("m.hamming").as("hamming"))
  }

  /** Aspect-ratio bucketing + pixel-budget batch packing — the image twin of
    * sequence packing (public recipe: NovelAI's aspect-ratio bucketing,
    * adopted by SDXL-class trainers): every image joins the ladder bucket
    * minimizing the integer cross-difference |w·bh − h·bw| (ties → first
    * ladder entry), and each bucket's images are chopped into training
    * batches by cumulative pixel budget using the same pixels-before DIV
    * budget identity as shardPack — ONE shuffle on the bucket key, a window
    * within the bucket, no global sort, payload never read (w·h is a
    * column).
    *
    * Input needs a numeric `pid` column providing the deterministic
    * within-bucket order (the caller owns id → pid; any total order works).
    * Output: (image_id, bucket_w, bucket_h, px, offset_px, batch_id) with
    * batch_id dense within a bucket (deterministic pid order). */
  def aspectBatches(images: DataFrame, budgetPx: Long,
                    ladder: Seq[(Int, Int)] = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16)))
      : DataFrame = {
    require(budgetPx >= 1, "budgetPx must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = array(ladder.zipWithIndex.map { case ((bw, bh), i) =>
      struct(abs(col("w") * bh - col("h") * bw).as("s"), lit(i).as("i"))
    }: _*)
    val bucketed = images
      .select(col("image_id"), col("pid"), col("w"), col("h"))
      .withColumn("bi", array_min(scored).getField("i"))
      .select(col("image_id"), col("pid"),
        element_at(lit(ladder.map(_._1).toArray), col("bi") + 1).as("bucket_w"),
        element_at(lit(ladder.map(_._2).toArray), col("bi") + 1).as("bucket_h"),
        (col("w") * col("h")).cast("long").as("px"))
    val w = Window.partitionBy("bucket_w", "bucket_h").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("offset_px", coalesce(sum(col("px")).over(w), lit(0L)))
      .withColumn("batch_id", expr(s"offset_px DIV ${budgetPx}L"))
      .select("image_id", "bucket_w", "bucket_h", "px", "offset_px", "batch_id")
  }

  /** decode + per-channel mean feature extraction. Partition-batched typed
    * island: binary payloads never pass through (de)serialization more than
    * once and the hot loop is plain JVM byte math. */
  def decodeFeatures(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "fmt", "w", "h", "bytes", "phash")
      .as[(String, String, Int, Int, Array[Byte], Long)]
      .mapPartitions { it =>
        it.map { case (id, fmt, w, h, bytes, phash) =>
          Codec.decodeAny(fmt, bytes) match {
            case Some((rgb, dw, dh)) =>
              val (r, g, b) = Codec.channelSums(rgb)
              val n = (dw * dh).toDouble
              ImageFeatures(id, fmt, dw, dh, r / n, g / n, b / n, decode_ok = true)
            case None =>
              // STUB: no codec for this format in-container; deterministic
              // fake derived from phash so the pipeline shape stays real.
              val fake = (phash & 0xff).toDouble
              ImageFeatures(id, fmt, w, h, fake, fake, fake, decode_ok = false)
          }
        }
      }.toDF()
  }

  /** Dominant-color extraction — palette quantization to the 3-bit RGB cube
    * (512 buckets, the classic color-signature preprocessing for color-based
    * filtering/search/dedup triage): per image the most populated bucket,
    * ties to the LOWEST bucket id (mirrors ORDER BY cnt DESC, bucket ASC).
    * Decode + histogram are one map-side pass over the partition-batched
    * typed island (bytes never shuffle); output rows are 5 scalars/image.
    * Unknown formats are skipped (the decodeAny None contract). */
  def dominantColor(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "n_px", "dom_bucket", "dom_count") {
      (id, fmt, rgb, dw, dh) =>
        val counts = new Array[Long](512)
        var i = 0
        while (i < rgb.length) {
          val bk = ((rgb(i) & 0xff) >> 5) * 64 +
            ((rgb(i + 1) & 0xff) >> 5) * 8 + ((rgb(i + 2) & 0xff) >> 5)
          counts(bk) += 1
          i += 3
        }
        var best = 0
        var j = 1
        while (j < 512) { if (counts(j) > counts(best)) best = j; j += 1 }
        Some((id, fmt, dw.toLong * dh, best.toLong, counts(best)))
    }

  /** thumbnail (nearest-neighbor resize) of the decoded image. Decodes all
    * three real codecs (bmp/png/jpeg); thumbs re-encode as BMP regardless of
    * source fmt — the thumbnail store wants ONE deterministic lossless layout
    * for downstream exact checks, not a re-compression. Unknown fmts pass
    * through (stub, decode_ok=false). */
  def thumbnails(spark: SparkSession, images: DataFrame, tw: Int, th: Int): DataFrame = {
    import spark.implicits._
    images.select("image_id", "fmt", "bytes")
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, fmt, bytes) =>
          Codec.decodeAny(fmt, bytes) match {
            case Some((rgb, w, h)) =>
              val out = new Array[Byte](tw * th * 3)
              var y = 0
              while (y < th) {
                val sy = y * h / th
                var x = 0
                while (x < tw) {
                  val sx = x * w / tw
                  val si = (sy * w + sx) * 3
                  val di = (y * tw + x) * 3
                  out(di) = rgb(si); out(di + 1) = rgb(si + 1); out(di + 2) = rgb(si + 2)
                  x += 1
                }
                y += 1
              }
              (id, fmt, Bmp.encode(out, tw, th), true)
            case None => (id, fmt, bytes, false) // STUB: unknown codec, pass through
          }
        }
      }.toDF("image_id", "fmt", "thumb", "decode_ok")
  }

  /** Shard MANIFEST for the export stage: per record, the (cell, shard,
    * offset, length) a reader needs to slice it back out of the
    * concatenated shard blob (webdataset/tar-style index). The chop rule
    * (shard = bytes-before DIV budget) gives bytes-before ∈
    * [shard·budget, (shard+1)·budget), so offset ≡ bytes-before mod budget
    * — ONE window over the cell partitioning computes shard and offset
    * together; no second (cell, shard) exchange, no global sort. Lengths
    * are the REAL payload sizes (length(bytes)); the oracle re-derives them
    * from the BMP size formula 54 + ((3w+3) DIV 4 · 4)·h, so the manifest
    * doubles as a check that encoded sizes match the closed form. */
  def shardManifest(images: DataFrame, cellMicro: Long, budgetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cellMicro > 0 && budgetBytes > 0)
    val sized = images
      .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
      .withColumn("cell",
        expr(s"(u DIV $cellMicro) * 100000 + (v DIV $cellMicro)"))
      .withColumn("len", length(col("bytes")).cast("long"))
    val win = Window.partitionBy("cell").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .withColumn("cum", sum(col("len")).over(win))
      .withColumn("shard", expr(s"(cum - len) DIV $budgetBytes"))
      .withColumn("offset", expr(s"(cum - len) % $budgetBytes"))
      .select("k", "cell", "shard", "offset", "len")
  }

  /** Exact integer decode fidelity vs the synthesis-time source pattern:
    * per image, sse = Σ over all 3·w·h channel samples of (decoded −
    * source)² and npix = 3·w·h (sse = −1 marks a decode failure). Every
    * term is a perfect-square integer ≤ 255², so sse ≤ 65025·npix stays
    * far inside i64 and the PSNR≥40 dB contract becomes the PURE-INTEGER
    * compare 10⁴·sse ≤ 255²·npix (PSNR = 10·log₁₀(255²·npix/sse) ≥ 40 ⇔
    * 10⁴·sse ≤ 65025·npix; sse = 0 ⇔ bit-exact ⇔ PSNR ∞) — no float log
    * anywhere on the gated path, which is what lets q_image_psnr be a TRUE
    * DuckDB oracle instead of a pin. Caption equality rides the same row. */
  def decodeSse(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "fmt", "w", "h", "bytes", "phash", "caption")
      .as[(String, String, Int, Int, Array[Byte], Long, String)]
      .mapPartitions { it =>
        it.map { case (id, fmt, w, h, bytes, phash, caption) =>
          val (sse, npix) = Codec.decodeAny(fmt, bytes) match {
            case Some((rgb, _, _)) =>
              val src = Codec.sourcePixels(fmt, phash, w, h)
              var se = 0L; var i = 0
              val n = math.min(src.length, rgb.length)
              while (i < n) {
                val d = (src(i) & 0xff) - (rgb(i) & 0xff)
                se += (d * d).toLong
                i += 1
              }
              // a size mismatch is a decode bug, not a fidelity score
              (if (src.length == rgb.length) se else -1L, 3L * w * h)
            case None => (-1L, 3L * w * h)
          }
          (id, fmt, sse, npix, caption == s"caption ${id.stripPrefix("img")}")
        }
      }.toDF("image_id", "fmt", "sse", "npix", "caption_ok")
  }

  /** Per-row decoded-pixel verification vs the synthesis-time source pattern
    * (the input_hint contract: "decoded-pixel allclose — PSNR≥40dB for lossy
    * formats — plus caption equality"). Lossless rows must match bit-exactly
    * (PSNR ∞, stored as the cap); lossy rows must clear 40 dB. PSNR is
    * reported in integer centi-dB; the gated aggregate (q_image_psnr) runs
    * on the integer-exact [[decodeSse]] twin instead so it can be a TRUE
    * SQL oracle — this cdB form remains the human-readable fidelity API. */
  def psnrVsSource(spark: SparkSession, images: DataFrame, capCdb: Long = 99900L): DataFrame = {
    import spark.implicits._
    images.select("image_id", "fmt", "w", "h", "bytes", "phash", "caption")
      .as[(String, String, Int, Int, Array[Byte], Long, String)]
      .mapPartitions { it =>
        it.map { case (id, fmt, w, h, bytes, phash, caption) =>
          val cdb = Codec.decodeAny(fmt, bytes) match {
            case Some((rgb, _, _)) =>
              val p = Codec.psnrRgb(Codec.sourcePixels(fmt, phash, w, h), rgb)
              if (p.isInfinite) capCdb else math.min(capCdb, math.round(p * 100.0))
            case None => -1L
          }
          // caption equality is part of the same per-row invariant
          (id, fmt, cdb, caption == s"caption ${id.stripPrefix("img")}")
        }
      }.toDF("image_id", "fmt", "psnr_cdb", "caption_ok")
  }

  /** frame sampling over an opaque "video" payload: frames are fixed-size
    * encoded stills concatenated back-to-back (a container-less layout, like
    * raw AVI). The sampler SLICES the kept frames out by offset arithmetic
    * WITHOUT decoding — at 100 TB a 1-in-K sampler must never touch the
    * (K−1)/K of the bytes it drops — and each emitted frame is a standalone
    * decodable still. Real for BMP (exact frame size from the header
    * formula); other fmts stubbed (skipped, like decodeFeatures). Input:
    * (video_id, fmt, w, h, n_frames, bytes). */
  def sampleFrames(spark: SparkSession, videos: DataFrame, everyK: Int): DataFrame = {
    import spark.implicits._
    require(everyK >= 1, "everyK must be >= 1")
    videos.select("video_id", "fmt", "w", "h", "n_frames", "bytes")
      .as[(String, String, Int, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, fmt, w, h, n, bytes) =>
          fmt match {
            case "bmp" =>
              // fixed-size frames: pure offset arithmetic, dropped frames
              // never touched
              val fsize = Bmp.encodedSize(w, h)
              // a truncated payload (or a lying n_frames field) must yield
              // the frames that ARE there, not an ArrayIndexOutOfBounds —
              // same corrupt-corpus contract as the decoders
              (0 until n by everyK).iterator
                .filter(f => (f + 1).toLong * fsize <= bytes.length)
                .map { f =>
                  (id, f, java.util.Arrays.copyOfRange(bytes, f * fsize, (f + 1) * fsize))
                }
            case "jpeg" | "mjpeg" =>
              // variable-size frames: one linear marker scan, NO decode.
              // The EOI marker FF D9 is unambiguous inside a baseline JFIF
              // stream — FF bytes in entropy-coded data are byte-stuffed as
              // FF 00 and restart markers stop at FF D7 — so frame
              // boundaries are exactly the bytes after each EOI. (Frames
              // embedding an EXIF preview JPEG would need a full segment
              // walk; baseline JFIF, incl. the JDK writer's output, does
              // not.) Dropped frames are scanned (one pass, unavoidable
              // for variable-size) but never decoded.
              new Iterator[(String, Int, Array[Byte])] {
                private var start = 0
                private var idx = 0
                private var nextOut: (String, Int, Array[Byte]) = null
                private def advance(): Unit = {
                  nextOut = null
                  while (nextOut == null && start < bytes.length && idx < n) {
                    var i = start + 1
                    while (i < bytes.length &&
                      !(bytes(i - 1) == 0xff.toByte && bytes(i) == 0xd9.toByte)) i += 1
                    if (i >= bytes.length) { start = bytes.length }
                    else {
                      val fr = java.util.Arrays.copyOfRange(bytes, start, i + 1)
                      if (idx % everyK == 0) nextOut = (id, idx, fr)
                      idx += 1
                      start = i + 1
                    }
                  }
                }
                advance()
                override def hasNext: Boolean = nextOut != null
                override def next(): (String, Int, Array[Byte]) = {
                  val r = nextOut; advance(); r
                }
              }
            case _ => Iterator.empty // STUB: no codec for this container format
          }
        }
      }.toDF("video_id", "frame_idx", "frame_bytes")
  }

  /** Position-weighted exact pixel digest over a flat RGB array: sum of
    * (p+1)·(p+7)·(v+17) across byte positions p. Order-insensitive in the
    * algebra (a plain sum) but position-SENSITIVE through the weights, so
    * any pixel move/swap/channel-shuffle changes it; bounded by ~8.5e10 for
    * the ≤15×15 corpus, so plain Long arithmetic with no wrap — and exactly
    * re-derivable in DuckDB HUGEINT SQL from the splitmix synthesis closed
    * form (the same first-principles machinery as q_image_decode_sample). */
  def pixelDigest(rgb: Array[Byte]): Long = {
    var d = 0L
    var i = 0
    while (i < rgb.length) {
      val p = i.toLong
      d += (p + 1L) * (p + 7L) * ((rgb(i) & 0xff) + 17L)
      i += 1
    }
    d
  }

  /** Deterministic pixel-space augmentations (training-data variants):
    * horizontal flip and 180° rotation. Pure index permutations — the
    * augmented array is physically rebuilt (not just re-weighted), so the
    * digest of the output catches real rearrangement bugs. */
  def augmentPixels(rgb: Array[Byte], w: Int, h: Int, aug: String): Array[Byte] = {
    val out = new Array[Byte](rgb.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val nx = aug match { case "hflip" | "rot180" => w - 1 - x; case _ => x }
        val ny = aug match { case "rot180" => h - 1 - y; case _ => y }
        val si = (y * w + x) * 3
        val di = (ny * w + nx) * 3
        out(di) = rgb(si); out(di + 1) = rgb(si + 1); out(di + 2) = rgb(si + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-image digests of augmented pixels, one row per (image, aug).
    * Decode + augment + digest all happen map-side in one partition-batched
    * pass; only (id, fmt, aug, w, h, digest) ever leaves the executor —
    * at 100 TB the augmented bytes are never shuffled, never collected. */
  def augmentDigests(images: DataFrame, augs: Seq[String]): DataFrame =
    decoded(images, "image_id", "fmt", "aug", "w", "h", "digest") { (id, fmt, rgb, w, h) =>
      augs.iterator.map(a => (id, fmt, a, w, h, pixelDigest(augmentPixels(rgb, w, h, a))))
    }

  /** Image quality gate (low-contrast / blank-image filter, a standard
    * multimodal-curation pass): per-image channel-value sum and EXACT
    * integer variance numerator n·Σv² − (Σv)², so keep/drop thresholds are
    * engine-reproducible with zero float drift (keep ⇔ var_num ≥ minVar·n²,
    * i.e. population variance ≥ minVar in value² units). Bounded: n ≤ 675,
    * v ≤ 255 ⇒ n·Σv² < 2^35 — plain Long math, SQL-rebuildable from the
    * splitmix closed form. All map-side; bytes never shuffle. */
  def qualityStats(images: DataFrame, minVar: Long = 1000L): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "sum_v", "var_num", "keep") {
      (id, fmt, rgb, w, h) =>
        val (s1, varNum) = valueVariance(rgb)
        val n = rgb.length.toLong
        Some((id, fmt, w, h, s1, varNum, varNum >= minVar * n * n))
    }

  /** Blur/sharpness detection — variance of the 3×3 Laplacian (the classic
    * focus measure; Pech-Pacheco et al., ICPR 2000): per decoded image,
    * L(x,y) = 4·g − g_left − g_right − g_up − g_down over interior pixels
    * on the integer gray g = r+g+b (0..765), reduced to the EXACT variance
    * numerator m·ΣL² − (ΣL)² so the sharp/blurry cut is engine-reproducible
    * with zero float drift (sharp ⇔ m > 0 ∧ var_num ≥ minVar·m²). Bounds:
    * |L| ≤ 3060, m ≤ 169 ⇒ m·ΣL² < 2^38 — plain Long math, SQL-rebuildable
    * from the splitmix closed form. One map-side pass over the typed
    * island; bytes never shuffle — at 100 TB this is a pure scan whose
    * output is 7 scalars/image. */
  def sharpnessStats(images: DataFrame, minVar: Long = 320000L): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "m", "lap_sum", "lap_var_num", "sharp") {
      (id, fmt, rgb, w, h) =>
        @inline def g(x: Int, y: Int): Long = gray(rgb, w, x, y)
        var m = 0L; var s1 = 0L; var s2 = 0L
        var y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            val lp = 4L * g(x, y) - g(x - 1, y) - g(x + 1, y) - g(x, y - 1) - g(x, y + 1)
            m += 1; s1 += lp; s2 += lp * lp
            x += 1
          }
          y += 1
        }
        val varNum = m * s2 - s1 * s1
        Some((id, fmt, w, h, m, s1, varNum, m > 0 && varNum >= minVar * m * m))
    }

  /** Histogram equalization (global contrast normalization — the standard
    * preprocessing pass before training/feature extraction): per channel,
    * eq(v) = (cdf(v) − cdf_min)·255 DIV (n − cdf_min) with cdf_min = the
    * cdf at the lowest occupied bin (the OpenCV formula in pure integer
    * floor division, so both engines land on the same byte for every
    * pixel); a flat channel (n = cdf_min) maps to 0. Emitted per image:
    * the position-weighted digest of the equalized bytes plus min/max/sum
    * of the equalized values — the digest pins every output byte without
    * ever shuffling pixels. Histogram + LUT + remap fuse into the decode
    * pass: one map-side scan, 256-long thread-local tables, 7 scalars/image
    * out. */
  def equalizeStats(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "eq_digest", "min_eq", "max_eq", "sum_eq") {
      (id, fmt, rgb, w, h) =>
        val n = w.toLong * h
        val eq = new Array[Byte](rgb.length)
        var minEq = 255L; var maxEq = 0L; var sumEq = 0L
        var c = 0
        while (c < 3) {
          val hist = new Array[Long](256)
          var i = c
          while (i < rgb.length) { hist(rgb(i) & 0xff) += 1; i += 3 }
          var cdfMin = 0L; var acc = 0L; var v = 0
          val lutCdf = new Array[Long](256)
          while (v < 256) {
            if (cdfMin == 0L && hist(v) > 0) cdfMin = acc + hist(v)
            acc += hist(v); lutCdf(v) = acc; v += 1
          }
          val lut = new Array[Byte](256)
          v = 0
          while (v < 256) {
            lut(v) = if (n > cdfMin)
              (((lutCdf(v) - cdfMin) * 255L) / (n - cdfMin)).toByte
            else 0.toByte
            v += 1
          }
          i = c
          while (i < rgb.length) {
            val e = lut(rgb(i) & 0xff)
            eq(i) = e
            val ev = e & 0xff
            if (ev < minEq) minEq = ev
            if (ev > maxEq) maxEq = ev
            sumEq += ev
            i += 3
          }
          c += 1
        }
        Some((id, fmt, w, h, pixelDigest(eq), minEq, maxEq, sumEq))
    }

  /** Otsu global threshold (Otsu, IEEE TSMC 1979 — public): the
    * between-class-variance-maximizing binarization cut on integer gray
    * g = r+g+b (0..765), the standard adaptive foreground/background split
    * (document scans, masks, saliency pre-pass). Division-free exactness:
    * for a cut t, σ²_b ∝ A(t)²/(n0·n1) with A = s0·n1 − s1·n0 (all exact
    * Longs — n ≤ 2^16 px and g ≤ 765 bound A² < 2^63); both engines rank by
    * the floored quotient score = A² DIV (n0·n1) (identical non-negative
    * floor division) with the LOWEST t winning ties, so the chosen
    * threshold is bit-decided. Flat images (single occupied bin → no valid
    * cut) emit no row in both engines.
    *
    * Scale shape: histogram + prefix scan fuse into the decode pass (one
    * 766-long thread-local table); only 8 scalars per image shuffle —
    * bytes never travel. */
  def otsuStats(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "t_star", "score_q", "n_bg", "n_fg") {
      (id, fmt, rgb, w, h) =>
        val hist = grayHist(rgb)
        val n = w.toLong * h
        var s = 0L
        var g = 0
        while (g < 766) { s += g * hist(g); g += 1 }
        var n0 = 0L; var s0 = 0L
        var bestT = -1L; var bestScore = -1L; var bestN0 = 0L
        g = 0
        while (g < 766) {
          if (hist(g) > 0) {
            n0 += hist(g); s0 += g.toLong * hist(g)
            val n1 = n - n0
            if (n1 > 0) {
              val a = s0 * n1 - (s - s0) * n0
              val score = (a * a) / (n0 * n1)
              if (score > bestScore) { bestScore = score; bestT = g; bestN0 = n0 }
            }
          }
          g += 1
        }
        if (bestT >= 0) Some((id, fmt, w, h, bestT, bestScore, bestN0, n - bestN0))
        else None
    }

  /** Shannon entropy of the integer-gray histogram (Shannon 1948) — the
    * information-content triage signal (flat/synthetic/low-texture detection
    * in a crawl corpus). Exact integer form: with ln9(x) = round(ln(x)·1e9)
    * (the proven q_doc_bigram_ppl LN convention), n·H·1e9 = n·ln9(n) −
    * Σ_g cnt_g·ln9(cnt_g) =: ent_num — a BIGINT identity with no division,
    * so the gate ratio_ppm = 1e6·ent_num DIV (n·ln9(n)) is bit-decided.
    *
    * Scale shape: histogram + both sums fuse into the decode pass; 7
    * scalars per image shuffle, bytes never travel. */
  def entropyStats(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "n_px", "n_bins", "ent_num", "ratio_ppm") {
      (id, fmt, rgb, w, h) =>
        val hist = grayHist(rgb)
        @inline def ln9(x: Long): Long = Math.round(math.log(x.toDouble) * 1e9)
        val n = w.toLong * h
        var bins = 0L; var acc = 0L
        var g = 0
        while (g < 766) {
          if (hist(g) > 0) { bins += 1; acc += hist(g) * ln9(hist(g)) }
          g += 1
        }
        val entNum = n * ln9(n) - acc
        val ratioPpm =
          if (n > 1) 1000000L * entNum / (n * ln9(n)) else 0L
        Some((id, fmt, w, h, n, bins, entNum, ratioPpm))
    }

  /** Sobel gradient statistics (Sobel & Feldman 1968 — public): per
    * interior pixel the two 3×3 gradient kernels on integer gray
    * gx = (tr+2r+br) − (tl+2l+bl), gy = (bl+2b+br) − (tl+2t+tr) — the
    * edge-density / dominant-orientation triage signal (screenshot/text
    * detection, blur complement). Edge pixels are gx²+gy² ≥ minMag2;
    * orientation buckets use integer comparisons ONLY (no atan):
    * horizontal-gradient |gx| ≥ 2|gy|, vertical |gy| ≥ 2|gx|, else
    * diagonal split by sign(gx·gy) — every count is bit-decided. One
    * map-side decode pass; 12 scalars per image shuffle. */
  def sobelStats(images: DataFrame, minMag2: Long): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "m", "n_edge", "sum_abs_gx",
        "sum_abs_gy", "h_cnt", "v_cnt", "d1_cnt", "d2_cnt") { (id, fmt, rgb, w, h) =>
      @inline def g(x: Int, y: Int): Long = gray(rgb, w, x, y)
      var m = 0L; var nEdge = 0L; var sGx = 0L; var sGy = 0L
      var cH = 0L; var cV = 0L; var cD1 = 0L; var cD2 = 0L
      var y = 1
      while (y < h - 1) {
        var x = 1
        while (x < w - 1) {
          val gx = g(x + 1, y - 1) + 2 * g(x + 1, y) + g(x + 1, y + 1) -
            g(x - 1, y - 1) - 2 * g(x - 1, y) - g(x - 1, y + 1)
          val gy = g(x - 1, y + 1) + 2 * g(x, y + 1) + g(x + 1, y + 1) -
            g(x - 1, y - 1) - 2 * g(x, y - 1) - g(x + 1, y - 1)
          m += 1; sGx += math.abs(gx); sGy += math.abs(gy)
          if (gx * gx + gy * gy >= minMag2) {
            nEdge += 1
            if (math.abs(gx) >= 2 * math.abs(gy)) cH += 1
            else if (math.abs(gy) >= 2 * math.abs(gx)) cV += 1
            else if (gx * gy > 0) cD1 += 1
            else cD2 += 1
          }
          x += 1
        }
        y += 1
      }
      Some((id, fmt, w, h, m, nEdge, sGx, sGy, cH, cV, cD1, cD2))
    }

  /** Scene-cut detection over fixed-frame video clips (the shot-boundary
    * pre-pass of a video curation pipeline — frame-difference SAD is the
    * classic hard-cut detector): for every consecutive decoded frame pair,
    * the exact sum of absolute per-channel differences, normalized to
    * integer milli-SAD per pixel-channel (sad·1000 DIV 3wh — positive, so
    * floor = truncate in both engines), cut at ≥ threshold. Each frame is
    * decoded ONCE and compared to its predecessor in the same streamed
    * pass (two frame buffers live at a time, never the clip); truncated
    * payloads yield the pairs that ARE there (corrupt-corpus contract).
    * Only 7 scalars per pair shuffle. */
  def sceneCuts(spark: SparkSession, videos: DataFrame,
                cutMilliPerPx: Long): DataFrame = {
    import spark.implicits._
    videos.select("video_id", "fmt", "w", "h", "n_frames", "bytes")
      .as[(String, String, Int, Int, Int, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, fmt, w, h, n, bytes) =>
          if (fmt != "bmp") Iterator.empty
          else {
            val fsize = Bmp.encodedSize(w, h)
            val avail = math.min(n.toLong, bytes.length.toLong / fsize).toInt
            var prev: Array[Byte] = null
            (0 until avail).iterator.flatMap { f =>
              val (rgb, _, _) = Bmp.decode(
                java.util.Arrays.copyOfRange(bytes, f * fsize, (f + 1) * fsize))
              val out = if (f == 0) None else {
                var sad = 0L; var i = 0
                while (i < rgb.length) {
                  sad += math.abs((rgb(i) & 0xff) - (prev(i) & 0xff)); i += 1
                }
                val milliPx = sad * 1000L / (3L * w * h)
                Some((id, f - 1, f, w.toLong * h, sad, milliPx,
                  milliPx >= cutMilliPerPx))
              }
              prev = rgb
              out
            }
          }
        }
      }.toDF("video_id", "f1", "f2", "n_px", "sad", "sad_milli_px", "cut")
  }

  /** Letterbox / pillarbox border detection (the crop-before-train
    * curation pass: black bars waste pixels and shift aspect-ratio
    * statistics): counts of consecutive UNIFORM rows from the top and
    * bottom and uniform columns from the left and right, where a line is
    * uniform iff every pixel on it is identical (all three channels) —
    * pure integer comparisons in the decode pass, 9 scalars per image
    * shuffle. A fully-uniform image reports top = bottom = h (the loop
    * convention the oracle mirrors). */
  def borderStats(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "top_rows", "bottom_rows",
        "left_cols", "right_cols", "boxed") { (id, fmt, rgb, w, h) =>
      @inline def eqPx(i: Int, j: Int): Boolean =
        rgb(i) == rgb(j) && rgb(i + 1) == rgb(j + 1) && rgb(i + 2) == rgb(j + 2)
      def rowUni(y: Int): Boolean = {
        val base = y * w * 3
        var x = 1
        while (x < w && eqPx(base + x * 3, base)) x += 1
        x == w
      }
      def colUni(x: Int): Boolean = {
        val base = x * 3
        var y = 1
        while (y < h && eqPx((y * w) * 3 + base, base)) y += 1
        y == h
      }
      var top = 0; while (top < h && rowUni(top)) top += 1
      var bottom = 0
      while (bottom < h - top && rowUni(h - 1 - bottom)) bottom += 1
      // convention: fully-uniform image → top = h, bottom = h
      if (top == h) bottom = h
      var left = 0; while (left < w && colUni(left)) left += 1
      var right = 0
      while (right < w - left && colUni(w - 1 - right)) right += 1
      if (left == w) right = w
      Some((id, fmt, w, h, top.toLong, bottom.toLong, left.toLong,
        right.toLong, top + bottom + left + right > 0))
    }

  /** RLE compressibility triage (the cheap complexity proxy behind
    * flat/synthetic/screenshot detection — a near-incompressible photo and
    * a banded graphic separate by an order of magnitude): maximal
    * equal-byte run count over the decoded RGB scan order, rle_size =
    * 2·n_runs (count, value pairs), ratio_ppm = 1e6·rle_size DIV n_bytes.
    * Pure integers in the decode pass; 5 scalars per image shuffle. */
  def rleStats(images: DataFrame, maxRatioPpm: Long): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "n_bytes", "n_runs", "ratio_ppm",
        "compressible") { (id, fmt, rgb, w, h) =>
      var runs = if (rgb.nonEmpty) 1L else 0L
      var i = 1
      while (i < rgb.length) {
        if (rgb(i) != rgb(i - 1)) runs += 1
        i += 1
      }
      val ratio = if (rgb.isEmpty) 0L
        else 1000000L * 2L * runs / rgb.length
      Some((id, fmt, w, h, rgb.length.toLong, runs, ratio, ratio < maxRatioPpm))
    }

  /** 2×2 box-average downsample (the anti-aliased mip level — `thumbs` is
    * the every-2nd-pixel DECIMATION; this is the AVERAGING variant that
    * real resize pipelines use): each output channel byte is the integer
    * floor mean of its 2×2 source block, odd edge rows/cols drop (floor
    * dims). The position-weighted digest of the downsampled bytes pins
    * EVERY output pixel while only 8 scalars per image shuffle. */
  def boxDownsample(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "dw", "dh", "down_digest", "sum_down") {
      (id, fmt, rgb, w, h) =>
        val dw = w / 2; val dh = h / 2
        if (dw == 0 || dh == 0) None
        else {
          val out = new Array[Byte](dw * dh * 3)
          var sum = 0L
          var y = 0
          while (y < dh) {
            var x = 0
            while (x < dw) {
              var c = 0
              while (c < 3) {
                val i00 = ((2 * y) * w + 2 * x) * 3 + c
                val i01 = i00 + 3
                val i10 = ((2 * y + 1) * w + 2 * x) * 3 + c
                val i11 = i10 + 3
                val v = ((rgb(i00) & 0xff) + (rgb(i01) & 0xff) +
                  (rgb(i10) & 0xff) + (rgb(i11) & 0xff)) / 4
                out((y * dw + x) * 3 + c) = v.toByte
                sum += v
                c += 1
              }
              x += 1
            }
            y += 1
          }
          Some((id, fmt, w, h, dw, dh, pixelDigest(out), sum))
        }
    }

  /** Inter-channel correlation — monochrome/grayscale/sepia detection (a
    * curation gate: grayscale re-encodes of color images are a distinct
    * duplicate class, and monochrome-heavy shards skew training): the R–G
    * Pearson numerators as EXACT integers — cov_num = n·Σrg − Σr·Σg,
    * var numerators likewise — and the grayscale verdict r=g=b∀px as an
    * exact equality count. No float correlation is ever formed; the
    * monochrome test is n_eq = n. One decode pass, 8 scalars/image. */
  def channelCorrStats(images: DataFrame): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "n_px", "n_eq",
        "cov_num", "varr_num", "varg_num", "grayscale") { (id, fmt, rgb, w, h) =>
      var sr = 0L; var sg = 0L; var srg = 0L
      var sr2 = 0L; var sg2 = 0L; var nEq = 0L
      var i = 0
      while (i < rgb.length) {
        val r = (rgb(i) & 0xff).toLong; val g = (rgb(i + 1) & 0xff).toLong
        val b = (rgb(i + 2) & 0xff).toLong
        sr += r; sg += g; srg += r * g; sr2 += r * r; sg2 += g * g
        if (r == g && g == b) nEq += 1
        i += 3
      }
      val n = w.toLong * h
      Some((id, fmt, w, h, n, nEq,
        n * srg - sr * sg, n * sr2 - sr * sr, n * sg2 - sg * sg, nEq == n))
    }

  /** Distinct-color (palette) counting — the graphic/synthetic-image
    * detector complementing RLE: photographs use thousands of distinct
    * colors, rendered graphics dozens. Exact distinct count of packed
    * (r,g,b) triples per image plus the most frequent color's share in
    * exact ppm (argmax ties to the smallest packed color); limited-palette
    * flag at ≤ maxColors. One decode pass with a per-image hash set;
    * 6 scalars per image shuffle. */
  def paletteStats(images: DataFrame, maxColors: Long): DataFrame =
    decoded(images, "image_id", "fmt", "w", "h", "n_colors", "top_color",
        "top_share_ppm", "limited_palette") { (id, fmt, rgb, w, h) =>
      val counts = new java.util.HashMap[Integer, Long]()
      var i = 0
      while (i < rgb.length) {
        val c = ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) |
          (rgb(i + 2) & 0xff)
        counts.merge(c, 1L, (a, b) => a + b)
        i += 3
      }
      var bestC = -1L; var bestN = 0L
      val itr = counts.entrySet().iterator()
      while (itr.hasNext) {
        val e = itr.next()
        val c = e.getKey.toLong; val n0 = e.getValue
        if (n0 > bestN || (n0 == bestN && c < bestC)) { bestN = n0; bestC = c }
      }
      val n = w.toLong * h
      Some((id, fmt, w, h, counts.size.toLong, bestC,
        1000000L * bestN / n, counts.size.toLong <= maxColors))
    }

  /** Reduced aspect-ratio histogram — the shape-distribution audit behind
    * aspect-ratio bucketing (how many distinct w:h shapes does the corpus
    * actually have, and which dominate?): each image's (w, h) reduced by
    * gcd to lowest terms, counted per reduced ratio with exact ppm share.
    * Metadata-only (no decode — w/h are columns); one ratio-keyed
    * map-side-combined count. */
  def aspectHistogram(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val reduced = images.select(col("w").cast("int"), col("h").cast("int"))
      .as[(Int, Int)]
      .map { case (w, h) =>
        var a = w; var b = h
        while (b != 0) { val t = a % b; a = b; b = t }
        (w / a, h / a)
      }.toDF("rw", "rh")
    val total = images.count() // driver scalar
    reduced.groupBy("rw", "rh").agg(count(lit(1)).as("n"))
      .withColumn("share_ppm", expr(s"1000000 * n div ${total}L"))
  }

  /** Cross-codec EXACT duplicate groups: the image twin of exact text dedup,
    * keyed on decoded CONTENT rather than the byte payload — a BMP and a PNG
    * of the same pixels land in the same group even though their bytes (and
    * so any byte-hash) differ. Digest is computed map-side during decode;
    * only narrow (id, fmt, w, h, digest) rows reach the one shuffle
    * (groupBy 8-byte digest), the payload never travels — the same shape
    * that makes exact text dedup survive 100 TB. Undecodable rows are
    * dropped (they cannot have content-equal twins). */
  def pixelDedupGroups(images: DataFrame): DataFrame =
    dupGroups(decoded(images, "image_id", "fmt", "w", "h", "digest") { (id, fmt, rgb, w, h) =>
      Some((id, fmt, w, h, pixelDigest(rgb)))
    }, "digest")

  /** Digests of an image's ORBIT under the orientation Klein four-group
    * {identity, hflip, vflip, rot180} — one pass over the pixels, four
    * accumulators (each source pixel contributes to every digest at its
    * remapped position). Returned in that fixed order. */
  def orbitDigests(rgb: Array[Byte], w: Int, h: Int): Array[Long] = {
    val d = new Array[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val src = (y * w + x) * 3
        val pId = src.toLong
        val pHf = ((y * w + (w - 1 - x)) * 3).toLong
        val pVf = (((h - 1 - y) * w + x) * 3).toLong
        val pRo = (((h - 1 - y) * w + (w - 1 - x)) * 3).toLong
        var c = 0
        while (c < 3) {
          val v = (rgb(src + c) & 0xff) + 17L
          d(0) += (pId + c + 1L) * (pId + c + 7L) * v
          d(1) += (pHf + c + 1L) * (pHf + c + 7L) * v
          d(2) += (pVf + c + 1L) * (pVf + c + 7L) * v
          d(3) += (pRo + c + 1L) * (pRo + c + 7L) * v
          c += 1
        }
        x += 1
      }
      y += 1
    }
    d
  }

  /** FLIP/ROTATION-INVARIANT exact dedup: groups keyed on the CANONICAL
    * orbit digest — the minimum of the four orbit digests. The Klein group
    * is closed, so a mirrored or upside-down re-encode of an image has the
    * same orbit digest SET as its source and therefore the same canonical
    * key: mirrored duplicates (a classic crawl artifact that evades both
    * byte hashes and plain content digests) land in the source's group with
    * zero pairwise work. Same scale shape as pixelDedupGroups — the four
    * digests are computed in the single decode pass, one narrow shuffle on
    * the 8-byte canonical key, payload bytes never travel. */
  def dihedralDedupGroups(images: DataFrame): DataFrame =
    dupGroups(decoded(images, "image_id", "fmt", "w", "h", "canon") { (id, fmt, rgb, w, h) =>
      Some((id, fmt, w, h, orbitDigests(rgb, w, h).min))
    }, "canon")

  /** Duplicate groups over digest rows (image_id, fmt, w, h, `key`): one row
    * per (`key`, w, h) with more than one member — the min image_id keeper,
    * the copy count and the sorted distinct fmts. */
  private def dupGroups(digests: DataFrame, key: String): DataFrame =
    digests.groupBy(key, "w", "h")
      .agg(min(col("image_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        concat_ws(",", sort_array(collect_set(col("fmt")))).as("fmts"))
      .filter(col("n_copies") > 1)

  /** CROSS-MODAL duplicate classification: exact pixel duplicates split by
    * whether their CAPTIONS also agree. Pixel-identical pairs with equal
    * captions are true duplicates (drop one); pixel-identical pairs with
    * DIFFERENT captions are label noise / caption spam — dropping either
    * silently discards a distinct supervision signal, so real curation
    * pipelines route the two classes differently. One narrow shuffle on the
    * decoded-content digest; the keeper's caption rides the window frame
    * (groups are duplicate clusters — tiny), bytes never shuffle.
    * Output: one row per non-keeper duplicate —
    * (keep_id, dup_id, fmt, captions_match). */
  def crossmodalDedup(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val digests = images.select("image_id", "fmt", "caption", "bytes")
      .as[(String, String, String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, fmt, cap, bytes) =>
          Codec.decodeAny(fmt, bytes).map { case (rgb, w, h) =>
            (id, fmt, cap, w, h, pixelDigest(rgb))
          }
        }
      }.toDF("image_id", "fmt", "caption", "w", "h", "digest")
    val win = Window.partitionBy("digest", "w", "h").orderBy("image_id")
    digests
      .withColumn("keep_id", first(col("image_id")).over(win))
      .withColumn("keep_caption", first(col("caption")).over(win))
      .filter(col("image_id") =!= col("keep_id"))
      .select(col("keep_id"), col("image_id").as("dup_id"), col("fmt"),
        (col("caption") === col("keep_caption")).as("captions_match"))
  }

  /** CROP / SUB-IMAGE dedup — the duplicate class every whole-image signal
    * misses: a cropped copy shares NO digest (content moved), no orbit
    * digest, and generally no phash with its source, yet it is pure
    * redundant training signal. Detection is the classic patch-fingerprint
    * inverted index: every 4×4 pixel window gets a translation-INVARIANT
    * fingerprint (position weights relative to the WINDOW origin), images
    * sharing ≥ minShared distinct fingerprints become candidate pairs, and
    * full containment is decided by the closed-form window count — a crop
    * of size (cw, ch) is fully contained iff the pair shares exactly
    * (cw−3)·(ch−3) fingerprints.
    *
    * Scale shape: fingerprints are computed map-side in the decode pass
    * (deduped per image before emission); the inverted index is an
    * equi-join on the 8-byte fingerprint over narrow (fp, id, dims) rows —
    * never all-pairs, bytes never travel; the pair aggregate is a count.
    * Output: (id1, id2, n_shared, is_crop) — is_crop ⇔ id2's full window
    * set is shared. */
  def cropDups(images: DataFrame, minShared: Int = 4, patch: Int = 4): DataFrame = {
    val patches = decoded(images, "image_id", "w", "h", "fp") { (id, _, rgb, w, h) =>
      val fps = scala.collection.mutable.HashSet.empty[Long]
      var oy = 0
      while (oy + patch <= h) {
        var ox = 0
        while (ox + patch <= w) {
          var d = 0L
          var py = 0
          while (py < patch) {
            var px = 0
            while (px < patch) {
              val si = ((oy + py) * w + ox + px) * 3
              val lp = (py * patch + px) * 3
              var c = 0
              while (c < 3) {
                d += (lp + c + 1L) * (lp + c + 7L) * ((rgb(si + c) & 0xff) + 17L)
                c += 1
              }
              px += 1
            }
            py += 1
          }
          fps += d
          ox += 1
        }
        oy += 1
      }
      fps.iterator.map(d => (id, w, h, d))
    }
    val l = patches.select(col("fp"), col("image_id").as("id1"))
    val r = patches.select(col("fp"), col("image_id").as("id2"),
      col("w").as("w2"), col("h").as("h2"))
    l.join(r, Seq("fp")).filter(col("id1") < col("id2"))
      .groupBy("id1", "id2", "w2", "h2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id1"), col("id2"), col("n_shared"),
        (col("n_shared") ===
          (col("w2") - (patch - 1)) * (col("h2") - (patch - 1))).as("is_crop"))
  }

  /** SPRITE-ATLAS EXPORT (dataset-browser leg of the export stage): images
    * are bucketed into spatial cells, ordered by image_id, chopped into
    * 16-image shards, and each shard is PHYSICALLY composed onto a 64×64
    * RGB canvas (4×4 grid of 16×16 slots, slot s at row s/4, col s%4;
    * unfilled canvas stays zero) — the sprite-sheet every dataset browser
    * builds. The output row digests the composed canvas bytes, so every
    * blit offset of every pixel of every image is pinned.
    *
    * Scale shape: one shuffle on the cell key; each group materializes ONE
    * atlas at a time (a few KB) and only (cell, shard, n_imgs, digest)
    * leaves the executor. Like any webdataset/atlas exporter the per-cell
    * member list is sorted in memory — cells are export shards, bounded by
    * construction (the spatial chop), not by the corpus. */
  def atlasDigests(spark: SparkSession, geoImages: DataFrame,
                   cellMicro: Long = 5000L): DataFrame = {
    import spark.implicits._
    val slotPx = 16
    val gridN = 4
    val W = gridN * slotPx
    val keyed = geoImages
      .withColumn("cell",
        expr(s"(u DIV $cellMicro) * 100000 + (v DIV $cellMicro)"))
      .select("cell", "image_id", "fmt", "bytes")
      .as[(Long, String, String, Array[Byte])]
    keyed.groupByKey(_._1).flatMapGroups { (cell, it) =>
      val sorted = it.toArray.sortBy(_._2)
      sorted.grouped(gridN * gridN).zipWithIndex.map { case (grp, shard) =>
        val canvas = new Array[Byte](W * W * 3)
        grp.zipWithIndex.foreach { case ((_, _, fmt, bytes), s) =>
          Codec.decodeAny(fmt, bytes).foreach { case (rgb, w, h) =>
            val r0 = (s / gridN) * slotPx
            val c0 = (s % gridN) * slotPx
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val di = (((r0 + y) * W) + (c0 + x)) * 3
                val si = (y * w + x) * 3
                canvas(di) = rgb(si)
                canvas(di + 1) = rgb(si + 1)
                canvas(di + 2) = rgb(si + 2)
                x += 1
              }
              y += 1
            }
          }
        }
        (cell, shard.toLong, grp.length.toLong, pixelDigest(canvas))
      }
    }.toDF("cell", "shard", "n_imgs", "digest")
  }

  /** END-TO-END IMAGE CURATION PIPELINE — the full multimodal curation pass
    * as ONE call, the image twin of TextOps.curate: decode (a SINGLE pass
    * computing the content digest AND the exact quality sums — bytes are
    * read once and never shuffle), quality gate (var_num ≥ minVar·n²),
    * cross-codec exact dedup (survivor = min image_id per decoded-content
    * group), geo-privacy scrubbing of the survivors, and spatially-local
    * shard packing of the scrubbed records.
    *
    * Shuffle budget of the whole pass: ONE narrow shuffle on the digest
    * (survivor election over (id, fmt, w, h, digest, var_num) rows), the
    * broadcast-PIP scrub (zero exchange), and ONE shuffle on the export
    * cell (the window chop) — payload bytes never enter any exchange.
    * Input must carry bytes AND u, v, lat, lon geotag columns.
    * Output: one row per exported image —
    * (image_id, w, h, digest, city, u_out, v_out, cell, shard, offset_b). */
  def curatePipeline(images: DataFrame,
                     polys: Array[(String, Array[Array[Double]])],
                     minVar: Long, cellMicro: Long, budgetBytes: Long,
                     scrubCellMicro: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = decoded(images, "image_id", "fmt", "w", "h", "digest", "var_num") {
      (id, fmt, rgb, w, h) => Some((id, fmt, w, h, pixelDigest(rgb), valueVariance(rgb)._2))
    }
    val n = (col("w") * col("h") * 3).cast("long")
    val gated = stats.filter(col("var_num") >= lit(minVar) * n * n)
    val survivors = gated
      .withColumn("keep_id",
        min(col("image_id")).over(Window.partitionBy("digest", "w", "h")))
      .filter(col("image_id") === col("keep_id"))
      .select("image_id", "w", "h", "digest")
    val scrubbed = graft.ops.SpatialOps.geoScrub(
      survivors.join(images.select("image_id", "u", "v", "lat", "lon"), "image_id"),
      polys, scrubCellMicro)
    val packedIn = scrubbed.join(survivors, "image_id")
      .withColumn("cell",
        expr(s"(u_out DIV $cellMicro) * 100000 + (v_out DIV $cellMicro)"))
      .withColumn("sz", (col("w") * col("h") * 3).cast("long"))
    val wc = Window.partitionBy("cell").orderBy("image_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    packedIn
      .withColumn("offset_b", coalesce(sum(col("sz")).over(wc), lit(0L)))
      .withColumn("shard", expr(s"offset_b DIV ${budgetBytes}L"))
      .select("image_id", "w", "h", "digest", "city", "u_out", "v_out",
        "cell", "shard", "offset_b")
  }

  /** Spatially-local training-shard packing (webdataset-style export): images
    * are grouped into size-bounded shards WITHIN a spatial cell, so a shard's
    * contents are geographically coherent and the packing needs no global
    * sort — one shuffle on the cell key, a window within each cell. Shard
    * boundary rule is the integer chop used by sequence packing
    * (TextOps.packSequences): shard = floor(bytes-before / budget). Weight is
    * the DECODED size w·h·3 (the training-relevant cost), closed-form from
    * the schema — the payload is never read. Input must carry u, v microdeg
    * offsets (Synth.withGeotag shape). */
  def shardPack(images: DataFrame, cellMicro: Long, budgetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cellMicro > 0 && budgetBytes > 0)
    val sized = images
      .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
      .withColumn("cell",
        expr(s"(u DIV $cellMicro) * 100000 + (v DIV $cellMicro)"))
      .withColumn("sz", col("w").cast("long") * col("h").cast("long") * 3L)
    val win = Window.partitionBy("cell").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized
      .withColumn("cum", sum(col("sz")).over(win))
      .withColumn("shard", expr(s"(cum - sz) DIV $budgetBytes"))
      .groupBy("cell", "shard")
      .agg(count(lit(1)).as("n_images"),
        sum(col("sz")).as("px_bytes"),
        min(col("k")).as("first_k"),
        max(col("k")).as("last_k"))
  }

  /** pixel-level PSNR between two byte payloads of the same fmt/size
    * (verification path per input_hint: ≥40 dB for lossy, ∞/exact for BMP). */
  def psnr(a: Array[Byte], b: Array[Byte]): Double =
    Codec.psnrRgb(Bmp.decode(a)._1, Bmp.decode(b)._1)
}
