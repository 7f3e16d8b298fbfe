package graft.synth

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** PNG/JPEG codec over the JDK's javax.imageio (public API, ships with every
  * JRE — no new dependency). Complements the hand-rolled BMP codec
  * (graft.synth.Bmp): together they give the multimodal column REAL decode
  * for the three formats the synthetic corpus emits.
  *
  * Determinism: the JDK's PNG codec is lossless (decode(encode(p)) == p
  * bit-exactly) and its JPEG codec is a deterministic function of the input
  * bytes within a JDK build — both encode and decode are pure byte→byte
  * functions here (no wall clock, no RNG, cache disabled), so pinned
  * checksums over decoded pixels are stable across runs.
  *
  * PSNR contract (input_hint: "decoded-pixel allclose, PSNR≥40dB for lossy"):
  * JPEG rows carry smooth gradient pixels (Codec.smoothPixels) and encode at
  * quality 0.95, which lands well above 40 dB; BMP/PNG are lossless (PSNR ∞).
  */
object Codec {
  ImageIO.setUseCache(false) // never spill scratch files on executor disks

  /** Smooth gradient pattern for lossy rows: a spatial luma ramp SHARED by
    * all three channels, on per-channel constant bases seeded by phash.
    * Splitmix noise (Bmp.pixels) is the JPEG worst case (~25 dB at q=0.95),
    * and per-channel ramps still lose to 4:2:0 chroma subsampling on the
    * tiny synth images (~39 dB at 8×8); a shared ramp keeps chroma constant
    * per image so subsampling is exact and only mild luma quantization
    * remains — comfortably inside the ≥40 dB contract at every synth size,
    * while the base color still varies per image. */
  def smoothPixels(phash: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    val r0 = ((phash & 0xff).toInt) / 2
    val g0 = (((phash >>> 8) & 0xff).toInt) / 2
    val b0 = (((phash >>> 16) & 0xff).toInt) / 2
    var i = 0
    var y = 0
    while (y < h) {
      val gy = if (h > 1) y * 255 / (h - 1) else 0
      var x = 0
      while (x < w) {
        val rx = if (w > 1) x * 255 / (w - 1) else 0
        val v = (rx + gy) / 4 // shared ramp, 0..127: chroma stays constant
        out(i) = (r0 + v).toByte
        out(i + 1) = (g0 + v).toByte
        out(i + 2) = (b0 + v).toByte
        i += 3
        x += 1
      }
      y += 1
    }
    out
  }

  private def toImage(rgb: Array[Byte], w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) | (rgb(i + 2) & 0xff))
        i += 3
        x += 1
      }
      y += 1
    }
    img
  }

  def encodePng(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toImage(rgb, w, h), "png", bos)
    bos.toByteArray
  }

  def encodeJpeg(rgb: Array[Byte], w: Int, h: Int, quality: Float = 0.95f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(toImage(rgb, w, h), null, null), params)
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Decode PNG/JPEG bytes to row-major RGB (same shape as Bmp.decode). */
  def decode(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "imageio could not decode payload")
    val w = img.getWidth
    val h = img.getHeight
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        rgb(i) = ((p >> 16) & 0xff).toByte
        rgb(i + 1) = ((p >> 8) & 0xff).toByte
        rgb(i + 2) = (p & 0xff).toByte
        i += 3
        x += 1
      }
      y += 1
    }
    (rgb, w, h)
  }

  /** Dispatch decode across the three real codecs. None for unknown
    * container formats AND for malformed payloads of known ones — at corpus
    * scale a truncated or bit-flipped file is routine, and a decoder that
    * throws turns one bad record into a dead job. Callers uniformly treat
    * None as decode_ok=false / row-dropped. */
  def decodeAny(fmt: String, bytes: Array[Byte]): Option[(Array[Byte], Int, Int)] =
    try fmt match {
      case "bmp"          => Some(Bmp.decode(bytes))
      case "png" | "jpeg" => Some(decode(bytes))
      case _              => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-channel value sums (Σr, Σg, Σb) of a row-major RGB buffer. */
  def channelSums(rgb: Array[Byte]): (Long, Long, Long) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i < rgb.length) {
      r += rgb(i) & 0xff; g += rgb(i + 1) & 0xff; b += rgb(i + 2) & 0xff
      i += 3
    }
    (r, g, b)
  }

  /** The reference pixel pattern a synthetic image of `fmt` was encoded
    * from (the PSNR ground truth). */
  def sourcePixels(fmt: String, phash: Long, w: Int, h: Int): Array[Byte] =
    if (fmt == "jpeg") smoothPixels(phash, w, h) else Bmp.pixels(phash, w, h)

  /** Encode `fmt` bytes for a synthetic image. */
  def encodeFor(fmt: String, phash: Long, w: Int, h: Int): Array[Byte] = fmt match {
    case "bmp"  => Bmp.encode(Bmp.pixels(phash, w, h), w, h)
    case "png"  => encodePng(Bmp.pixels(phash, w, h), w, h)
    case "jpeg" => encodeJpeg(smoothPixels(phash, w, h), w, h)
    case other  => throw new IllegalArgumentException(s"no encoder for fmt=$other")
  }

  /** PSNR (dB) between two equal-length RGB buffers; ∞ when identical. */
  def psnrRgb(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length, "size mismatch")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val d = ((a(i) & 0xff) - (b(i) & 0xff)).toDouble
      se += d * d
      i += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * a.length / se)
  }
}
