package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cells.GridCell
import graft.geom.Geom

/** Catalyst-native expressions (SURVEY.md §2.11): the geometric / cell
  * primitives the reference takes from @turf/turf and its string-keyed grid
  * (`/root/reference/js/gpsBins.js:60-63`), re-expressed as codegen-friendly
  * Spark expressions. EVERY expression here is whole-stage-codegen'd —
  * scalar and array-shaped alike compile to static calls into
  * graft.geom/graft.cells/companion kernels (round-4: the last
  * CodegenFallbacks were converted; a fallback in a Project splits the
  * codegen span and re-evaluates children interpreted).
  */

/** cell id of (lat, lon) at grid resolution `res` (decimal digits).
  * Reference grid key: `gpsBins.js:60-63` ("lng/lat" string at 2 digits);
  * here a packed BIGINT (GridCell layout, SQL-mirrorable).
  */
case class CellEncode(lat: Expression, lon: Expression, res: Int)
    extends BinaryExpression {
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(latV: Any, lonV: Any): Any =
    GridCell.encode(latV.asInstanceOf[Double], lonV.asInstanceOf[Double], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) => s"graft.cells.GridCell.encode($la, $lo, $res)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** array of cell ids covered by a bbox (the reference replicates ways into
  * every cell their bounds cover, `gpsBins.js:94-116`).
  */
case class CellsCovering(minLat: Expression, minLon: Expression,
                         maxLat: Expression, maxLon: Expression, res: Int)
    extends QuaternaryExpression {
  override def first: Expression = minLat
  override def second: Expression = minLon
  override def third: Expression = maxLat
  override def fourth: Expression = maxLon
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    CellsCovering.coveringData(
      a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.exprs.CellsCovering.coveringData($a, $b, $c, $d, $res)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(minLat = f, minLon = s, maxLat = t, maxLon = q)
}
object CellsCovering {
  /** static entry for generated code. */
  def coveringData(minLat: Double, minLon: Double, maxLat: Double,
                   maxLon: Double, res: Int): ArrayData =
    new GenericArrayData(GridCell.covering(minLat, minLon, maxLat, maxLon, res))
}

/** cells at Chebyshev distance ≤ k of `cell` (kNN ring expansion, SURVEY
  * J7); `res` (static) sizes the antimeridian longitude wrap. */
case class CellDisk(cell: Expression, k: Expression, res: Int)
    extends BinaryExpression {
  require(res >= 0 && res <= 5, s"grid res out of range [0,5]: $res")
  override def left: Expression = cell
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, kk: Any): Any =
    CellDisk.diskData(c.asInstanceOf[Long], kk.asInstanceOf[Int], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, kk) => s"graft.exprs.CellDisk.diskData($c, $kk, $res)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(cell = l, k = r)
}
object CellDisk {
  def diskData(cell: Long, k: Int, res: Int): ArrayData =
    new GenericArrayData(GridCell.disk(cell, k, res))
}

/** Rectangular cell disk (lon half-width, lat half-width) — the covering
  * shape of a distance neighborhood, whose lon extent grows as 1/cos(lat)
  * while the lat extent stays constant (DistanceJoinRewrite's explode).
  * `res` is the grid resolution the cell was encoded at (static param):
  * it sizes the longitude wrap, so disks straddling ±180° cover the far
  * side's cells (GridCell.diskRect). */
case class CellDiskRect(cell: Expression, kLon: Expression, kLat: Expression,
                        res: Int)
    extends TernaryExpression {
  require(res >= 0 && res <= 5, s"grid res out of range [0,5]: $res")
  override def first: Expression = cell
  override def second: Expression = kLon
  override def third: Expression = kLat
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, kx: Any, ky: Any): Any =
    CellDiskRect.diskRectData(
      c.asInstanceOf[Long], kx.asInstanceOf[Int], ky.asInstanceOf[Int], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, kx, ky) => s"graft.exprs.CellDiskRect.diskRectData($c, $kx, $ky, $res)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(cell = f, kLon = s, kLat = t)
}
object CellDiskRect {
  def diskRectData(cell: Long, kLon: Int, kLat: Int, res: Int): ArrayData =
    new GenericArrayData(GridCell.diskRect(cell, kLon, kLat, res))
}

/** S2 cell id (level 0-30) of a lat/lon — from-scratch S2 (graft.cells.S2). */
case class S2CellEncode(lat: Expression, lon: Expression, level: Int)
    extends BinaryExpression {
  require(level >= 0 && level <= 30)
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(latV: Any, lonV: Any): Any =
    graft.cells.S2.fromLatLonAtLevel(latV.asInstanceOf[Double], lonV.asInstanceOf[Double], level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) => s"graft.cells.S2.fromLatLonAtLevel($la, $lo, $level)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** H3-style cell id (aperture-7 icosahedral hex, res 0-15) — clean-room
  * graft.cells.Hex7; see its scaladoc for the documented divergence from
  * canonical H3 base-cell numbering. */
case class Hex7CellEncode(lat: Expression, lon: Expression, res: Int)
    extends BinaryExpression {
  require(res >= 0 && res <= graft.cells.Hex7.MaxRes)
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(latV: Any, lonV: Any): Any =
    graft.cells.Hex7.latLngToCell(latV.asInstanceOf[Double], lonV.asInstanceOf[Double], res)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) => s"graft.cells.Hex7.latLngToCell($la, $lo, $res)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** parent cell at a coarser resolution (adaptive subdivision support). */
case class CellParent(cell: Expression, res: Int, parentRes: Int)
    extends UnaryExpression {
  override def child: Expression = cell
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    GridCell.parent(v.asInstanceOf[Long], res, parentRes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cells.GridCell.parent($c, $res, $parentRes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(cell = c)
}

/** haversine meters between two points (replaces turf.distance, offset.js:112). */
case class Haversine(lat1: Expression, lon1: Expression,
                     lat2: Expression, lon2: Expression)
    extends QuaternaryExpression {
  override def first: Expression = lat1
  override def second: Expression = lon1
  override def third: Expression = lat2
  override def fourth: Expression = lon2
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geom.haversineM(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.geom.Geom.haversineM($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(lat1 = f, lon1 = s, lat2 = t, lon2 = q)
}

/** packed Web-Mercator slippy tile id: z*2^52 + x*2^26 + y (z ≤ 26).
  * SQL-mirrorable: x = floor((lon+180)/360 * 2^z), y per slippy formula.
  */
case class TileId(lat: Expression, lon: Expression, zoom: Int)
    extends BinaryExpression {
  require(zoom >= 0 && zoom <= 26, s"zoom out of range [0,26]: $zoom")
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(latV: Any, lonV: Any): Any = {
    val la = latV.asInstanceOf[Double]; val lo = lonV.asInstanceOf[Double]
    zoom.toLong * (1L << 52) + Geom.tileX(lo, zoom) * (1L << 26) + Geom.tileY(la, zoom)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) =>
      s"${zoom}L * (1L << 52) + graft.geom.Geom.tileX($lo, $zoom) * (1L << 26) + graft.geom.Geom.tileY($la, $zoom)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** Geohash (G. Niemeyer 2008, public domain) base-32 cell id, CLOSED FORM:
  * the successive-halving construction is equivalent to taking the leading
  * latBits/lonBits of the binary fractions (lat+90)/180 and (lon+180)/360,
  * interleaving lon-first, and mapping 5-bit groups through the base-32
  * alphabet. We DEFINE the encode as that closed form (one floor per axis),
  * which makes it a pure IEEE expression any engine reproduces bit-for-bit
  * — the DuckDB oracle runs the identical arithmetic. (The classic
  * iterative midpoint loop can differ from the closed form by one cell for
  * inputs within 1 ulp of a boundary, because its midpoints round; the
  * closed form rounds once and is the better-defined contract.)
  */
object GeohashOps {
  private val B32 = "0123456789bcdefghjkmnpqrstuvwxyz".toCharArray

  def encodeU(lat: Double, lon: Double, p: Int): UTF8String =
    UTF8String.fromString(encode(lat, lon, p))

  def encode(lat: Double, lon: Double, p: Int): String = {
    val bits = 5 * p
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    val latInt = axis(lat, 90.0, 180.0, latBits)
    val lonInt = axis(lon, 180.0, 360.0, lonBits)
    val out = new Array[Char](p)
    var i = 0 // bit index from the MSB of the interleaved stream
    var k = 0
    while (k < p) {
      var c = 0
      var j = 0
      while (j < 5) {
        val bit =
          if (i % 2 == 0) (lonInt >>> (lonBits - 1 - i / 2)) & 1L
          else (latInt >>> (latBits - 1 - (i - 1) / 2)) & 1L
        c = (c << 1) | bit.toInt
        i += 1; j += 1
      }
      out(k) = B32(c)
      k += 1
    }
    new String(out)
  }

  private def axis(v: Double, off: Double, span: Double, nBits: Int): Long = {
    val max = (1L << nBits) - 1
    val q = math.floor((v + off) / span * (1L << nBits).toDouble).toLong
    if (q < 0L) 0L else if (q > max) max else q
  }
}

case class GeohashEncode(lat: Expression, lon: Expression, precision: Int)
    extends BinaryExpression {
  require(precision >= 1 && precision <= 12,
    s"geohash precision out of range [1,12]: $precision")
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geohash_encode"
  override protected def nullSafeEval(latV: Any, lonV: Any): Any =
    GeohashOps.encodeU(latV.asInstanceOf[Double], lonV.asInstanceOf[Double], precision)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo) =>
      s"graft.exprs.GeohashOps.encodeU($la, $lo, $precision)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** First intersection point of two polylines (array<struct<lat,lon>>) as
  * array<double>[lat, lon], null when disjoint. Replaces turf.lineIntersect
  * keeping features[0] (`geo.js:209-214`). Per-segment bbox prefilter inside.
  */
case class SegmentsIntersect(line1: Expression, line2: Expression)
    extends BinaryExpression {
  override def left: Expression = line1
  override def right: Expression = line2
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(l1: Any, l2: Any): Any =
    SegmentsIntersect.firstHit(l1.asInstanceOf[ArrayData], l2.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.exprs.SegmentsIntersect.firstHit($a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(line1 = l, line2 = r)
}
object SegmentsIntersect {
  /** static entry for generated code; null when the polylines are disjoint. */
  def firstHit(l1: ArrayData, l2: ArrayData): ArrayData = {
    val hit = Geom.polylineIntersectFirst(toFlat(l1), toFlat(l2))
    if (hit == null) null else new GenericArrayData(hit)
  }
  /** array<struct<lat:double,lon:double>> → flat [lat0,lon0,lat1,lon1,...] */
  def toFlat(arr: ArrayData): Array[Double] = {
    val n = arr.numElements()
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      out(2 * i) = row.getDouble(0)
      out(2 * i + 1) = row.getDouble(1)
      i += 1
    }
    out
  }
}

/** Douglas-Peucker simplification of an array<struct<lat,lon>> polyline at
  * a fixed tolerance (planar degrees). Per-row kernel, no shuffle — at
  * 100 TB of trajectories this is a map-side transform that typically
  * drops 80-95% of GPS-trace vertices before any join or sink touches
  * them, which is the point: simplify EARLY, move less. Deterministic
  * (strict-> split, first-max tie break — see Geom.simplifyDp), so the
  * output is pinnable; JTS's DouglasPeuckerSimplifier is the independent
  * test oracle. */
case class SimplifyPolyline(line: Expression, epsDeg: Double)
    extends UnaryExpression {
  require(epsDeg >= 0.0, s"epsilon must be non-negative, got $epsDeg")
  override def child: Expression = line
  override def dataType: DataType = line.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simplify_polyline"
  override protected def nullSafeEval(v: Any): Any =
    SimplifyPolyline.run(v.asInstanceOf[ArrayData], epsDeg)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.exprs.SimplifyPolyline.run($v, $epsDeg)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(line = c)
}
object SimplifyPolyline {
  /** static entry for generated code. */
  def run(line: ArrayData, epsDeg: Double): ArrayData = {
    val flat = SegmentsIntersect.toFlat(line)
    val simp = Geom.simplifyDp(flat, epsDeg)
    val n = simp.length / 2
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(simp(2 * i), simp(2 * i + 1))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** Min planar distance (degrees) from a point to a polyline
  * (array<struct<lat,lon>>). Used by kNN exact refinement (SURVEY J7;
  * reference `distGpsGeometry` geo.js:1305-1312 uses vertex distance only —
  * we use true point-to-segment distance, strictly more accurate; the
  * divergence is documented and the oracle mirrors ours).
  */
case class PointPolylineDist(lat: Expression, lon: Expression, line: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = line
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, l: Any): Any =
    PointPolylineDist.distData(a.asInstanceOf[Double], b.asInstanceOf[Double],
      l.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, l) => s"graft.exprs.PointPolylineDist.distData($a, $b, $l)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(lat = f, lon = s, line = t)
}
object PointPolylineDist {
  def distData(lat: Double, lon: Double, line: ArrayData): Double =
    Geom.pointPolylineDist(lat, lon, SegmentsIntersect.toFlat(line))
}

/** Ray-casting point-in-polygon against a PREPARED polygon list bound at plan
  * time (broadcast nested-loop spatial join with envelope prefilter —
  * SURVEY J6; replaces turf.booleanPointInPolygon, geo.js:60-70). Returns the
  * FIRST containing polygon's name (reference takes first match) or
  * `default`. `polys`: (name, rings) with rings flat [lon,lat,...] per ring.
  */
case class PointInPolygonFirst(lat: Expression, lon: Expression,
                               polys: Array[(String, Array[Array[Double]])],
                               default: String)
    extends BinaryExpression {
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  // envelopes + interned names prepared ONCE at plan time; bound into the
  // generated code as a reference object so the probe stays in whole-stage
  // codegen (this is the hot per-image op of the headline join)
  @transient private lazy val prepared = new graft.geom.PreparedPolys(polys, default)
  override protected def nullSafeEval(latV: Any, lonV: Any): Any =
    prepared.first(latV.asInstanceOf[Double], lonV.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("preparedPolys", prepared, "graft.geom.PreparedPolys")
    defineCodeGen(ctx, ev, (la, lo) => s"$ref.first($la, $lo)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lat = l, lon = r)
}

/** General point-in-polygon test: rings column as array<array<double>>
  * (flat [lon,lat,...] per ring, outer ring first). */
case class PointInPolygon(lat: Expression, lon: Expression, rings: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = rings
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, r: Any): Any =
    PointInPolygon.inData(a.asInstanceOf[Double], b.asInstanceOf[Double],
      r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, r) => s"graft.exprs.PointInPolygon.inData($a, $b, $r)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(lat = f, lon = s, rings = t)
}
object PointInPolygon {
  def inData(lat: Double, lon: Double, arr: ArrayData): Boolean = {
    val rr = new Array[Array[Double]](arr.numElements())
    var i = 0
    while (i < rr.length) { rr(i) = arr.getArray(i).toDoubleArray(); i += 1 }
    Geom.pointInPolygon(lat, lon, rr)
  }
}

/** F2 `clean` (geo.js:674-691): remove the FIRST `_<digit>` occurrence (JS
  * non-global regex, geo.js:683-684), split on '/', dedupe, sort, rejoin.
  * Spark's regexp_replace replaces all matches, hence this expression.
  */
case class CleanStreetKey(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    CleanStreetKey.cleanU(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.exprs.CleanStreetKey.cleanU($v)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object CleanStreetKey {
  def cleanU(u: UTF8String): UTF8String = UTF8String.fromString(clean(u.toString))
  private val firstSuffix = java.util.regex.Pattern.compile("_[0-9]")
  def clean(s: String): String = {
    val m = firstSuffix.matcher(s)
    val stripped = if (m.find()) s.substring(0, m.start()) + s.substring(m.end()) else s
    stripped.split("/", -1).distinct.sorted.mkString("/")
  }
}

/** FNV-1a 64 of a string's UTF-8 bytes, masked to the non-negative 63-bit
  * range — the plain engine-mirrorable string hash (the same Hashing core
  * the minhash/simhash signatures build on, exposed directly for
  * winnowing-style fingerprint selection where hash ORDER matters and so
  * must agree between Spark's signed longs and an oracle's unsigned
  * arithmetic). Codegen: one static call, stays in whole-stage codegen. */
case class Fnv63(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Hashing.utf8Hash(v.asInstanceOf[UTF8String]) & Long.MaxValue
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"(graft.exprs.Hashing.utf8Hash($v) & Long.MAX_VALUE)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature over a token array: k independent hash mins.
  * Public construction (Broder 1997 shingling minhash); hash_i(t) =
  * murmur-style mix of (token bytes hash, seed i).
  */
case class MinHashSig(tokens: Expression, k: Int)
    extends UnaryExpression {
  override def child: Expression = tokens
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    MinHashSig.sigData(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.exprs.MinHashSig.sigData($v, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(tokens = c)
}
object MinHashSig {
  def sigData(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h0 = Hashing.utf8Hash(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val h = Hashing.mix(h0, j)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** 64-bit SimHash over a token array (Charikar 2002). */
case class SimHash64(tokens: Expression)
    extends UnaryExpression {
  override def child: Expression = tokens
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    SimHash64.hashData(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.exprs.SimHash64.hashData($v)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(tokens = c)
}
object SimHash64 {
  def hashData(arr: ArrayData): Long = {
    val n = arr.numElements()
    val acc = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = Hashing.utf8Hash(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Karp-Rabin rolling-hash document fingerprint: min of rolling hashes of
  * all `window`-byte windows (winnowing-style min fingerprint; Schleimer
  * et al. 2003).
  */
case class RollingMinHash(text: Expression, window: Int)
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    RollingMinHash.hashText(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.exprs.RollingMinHash.hashText($v, $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(text = c)
}
object RollingMinHash {
  def hashText(u: UTF8String, window: Int): Long = {
    val bytes = u.getBytes
    if (bytes.length < window) return Hashing.bytesHash(bytes)
    val B = 1000000007L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow = pow * B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var best = Hashing.mix(h, 0)
    i = window
    while (i < bytes.length) {
      h = (h - (bytes(i - window) & 0xff) * pow) * B + (bytes(i) & 0xff)
      val m = Hashing.mix(h, 0)
      if (m < best) best = m
      i += 1
    }
    best
  }
}

/** One linear-referencing step WITHIN a way (X2, reference offset.js:170-244):
  * walk `meters` from `nodeId` along (nodes, flat geometry). Returns
  * struct<status:int, olat:double, olon:double, term:long, rem:double>:
  * status 0 = landed (olat/olon set), 1 = ran off the way (term = terminal
  * node id, rem = remaining signed meters — the driver loop continues on the
  * unique same-named way), 2 = node not on way. The cross-way continuation
  * is a relational join in OffsetOps.offsetAlong, NOT an in-memory map, so
  * the operator is fully distributed.
  */
case class WalkWithinWay(nodes: Expression, flat: Expression,
                         nodeId: Expression, meters: Expression)
    extends QuaternaryExpression {
  override def first: Expression = nodes
  override def second: Expression = flat
  override def third: Expression = nodeId
  override def fourth: Expression = meters
  override def dataType: DataType = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("olat", DoubleType, nullable = true),
    StructField("olon", DoubleType, nullable = true),
    StructField("term", LongType, nullable = true),
    StructField("rem", DoubleType, nullable = true)))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(nv: Any, fv: Any, idv: Any, mv: Any): Any =
    WalkWithinWay.walkData(nv.asInstanceOf[ArrayData], fv.asInstanceOf[ArrayData],
      idv.asInstanceOf[Long], mv.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (n, f, id, m) => s"graft.exprs.WalkWithinWay.walkData($n, $f, $id, $m)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(nodes = f, flat = s, nodeId = t, meters = q)
}
object WalkWithinWay {
  def walkData(nv: ArrayData, fv: ArrayData, id: Long, meters: Double): InternalRow = {
    val nodes = nv.toLongArray()
    val flat = fv.toDoubleArray()
    val out = new Array[Double](4)
    Geom.walkWithin(nodes, flat, id, meters, out) match {
      case 0 => InternalRow(0, out(0), out(1), null, null)
      case 1 => InternalRow(1, null, null, nodes(out(2).toInt), out(3))
      case _ => InternalRow(2, null, null, null, null)
    }
  }
}

/** Cosine similarity of two float vectors (array<float>), computed in double.
  * Tight loop over ArrayData — faster than zip_with/aggregate HOFs and keeps
  * the ANN brute-force path cheap.
  */
case class CosineSim(a: Expression, b: Expression)
    extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    CosineSim.cos(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, v) => s"graft.exprs.CosineSim.cos($u, $v)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}
object CosineSim {
  /** static entry for generated code (hot inner op of ANN brute force). */
  def cos(u: ArrayData, v: ArrayData): Double = {
    val n = math.min(u.numElements(), v.numElements())
    var dot = 0.0; var nu = 0.0; var nv = 0.0
    var i = 0
    while (i < n) {
      val ue = u.getFloat(i).toDouble; val ve = v.getFloat(i).toDouble
      dot += ue * ve; nu += ue * ue; nv += ve * ve
      i += 1
    }
    if (nu == 0.0 || nv == 0.0) 0.0 else dot / (math.sqrt(nu) * math.sqrt(nv))
  }
}

/** Sign-LSH bucket key of a float vector: bit i is set when the left fold
  * ((0.0 + x0·p0) + x1·p1) + … of float → double products with planes(i)
  * is >= 0 — bit-identical to `aggregate(zip_with(v, plane, …), 0.0, …)
  * >= 0`, so 0 where that is null (a null element, a length mismatch) and
  * 1 for NaN. Static entry of fns.lsh_sign_bits. */
object LshSignBits {
  def bits(planes: Array[Array[Double]], v: ArrayData): Long =
    planes.indices.foldLeft(0L) { (key, i) =>
      val (p, n) = (planes(i), v.numElements())
      var (dot, j) = (0.0, 0)
      while (j < n && j < p.length && !v.isNullAt(j)) { dot += v.getFloat(j).toDouble * p(j); j += 1 }
      if (j == n && n == p.length && !(dot < 0)) key | (1L << i) else key
    }
}

object Hashing {
  /** stable 64-bit hash of UTF8 bytes (FNV-1a 64). */
  def utf8Hash(s: UTF8String): Long = bytesHash(s.getBytes)
  def bytesHash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) {
      h ^= (b(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  /** splitmix64-style mix of (h, seed) → non-negative long. */
  def mix(h0: Long, seed: Int): Long = {
    var z = h0 + 0x9e3779b97f4a7c15L * (seed + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}

/** Column-level wrappers. */
/** Product-quantization encode (Jégou et al., PAMI 2011, public): the
  * vector splits into m = books.length subvectors; each maps to the id of
  * its nearest (subspace-L2, ties → smallest id) codeword. Output: m ints.
  * Codebooks ride in the expression (kB-sized artifact, task closure) and
  * enter generated code as a reference object — the hot loops stay inside
  * whole-stage codegen via static entry points (PqOps). */
case class PqEncode(emb: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def child: Expression = emb
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    PqOps.encode(books, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    defineCodeGen(ctx, ev, v => s"graft.exprs.PqOps.encode($b, $v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(emb = c)
}

/** ADC preparation: per QUERY row, the m×k table of dot(q_subspace_j,
  * codeword_c) plus the query norm appended at the end (m*k + 1 doubles).
  * Computed once per query; scoring a corpus code is then m lookups. */
case class PqDotTable(emb: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def child: Expression = emb
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    PqOps.dotTable(books, v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    defineCodeGen(ctx, ev, v => s"graft.exprs.PqOps.dotTable($b, $v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(emb = c)
}

/** ADC score: approximate cosine between the query (via its dot table) and
  * a PQ-coded corpus vector — m table lookups + the reconstruction norm
  * (precomputed per codeword), rounded to 1e-9 for reproducible ranking.
  * This is the per-candidate hot op of the PQ scan, so it is codegen'd. */
case class PqAdcCos9(table: Expression, codes: Expression,
                     books: Array[Array[Array[Float]]])
    extends BinaryExpression {
  override def left: Expression = table
  override def right: Expression = codes
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  @transient private lazy val normSq: Array[Array[Double]] =
    books.map(_.map(cw => cw.map(x => x.toDouble * x).sum))
  override protected def nullSafeEval(tv: Any, cv: Any): Any =
    PqOps.adcCos9(normSq, tv.asInstanceOf[ArrayData], cv.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ns = ctx.addReferenceObj("pqNormSq", normSq, "double[][]")
    defineCodeGen(ctx, ev, (t, c) => s"graft.exprs.PqOps.adcCos9($ns, $t, $c)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(table = l, codes = r)
}

/** static entry points for PQ generated code (and interpreted eval). */
object PqOps {
  def encode(books: Array[Array[Array[Float]]], a: ArrayData): ArrayData = {
    val m = books.length
    val dsub = books(0)(0).length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < books(j).length) {
        val cw = books(j)(c)
        var d = 0.0; var t = 0
        while (t < dsub) {
          val diff = a.getFloat(base + t).toDouble - cw(t)
          d += diff * diff; t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best; j += 1
    }
    new GenericArrayData(out)
  }

  def dotTable(books: Array[Array[Array[Float]]], a: ArrayData): ArrayData = {
    val m = books.length
    val k = books(0).length
    val dsub = books(0)(0).length
    val out = new Array[Any](m * k + 1)
    var qn = 0.0
    var i = 0
    while (i < m * dsub) { val x = a.getFloat(i).toDouble; qn += x * x; i += 1 }
    var j = 0
    while (j < m) {
      val base = j * dsub
      var c = 0
      while (c < k) {
        val cw = books(j)(c)
        var dot = 0.0; var t = 0
        while (t < dsub) { dot += a.getFloat(base + t).toDouble * cw(t); t += 1 }
        out(j * k + c) = dot; c += 1
      }
      j += 1
    }
    out(m * k) = math.sqrt(qn)
    new GenericArrayData(out)
  }

  def adcCos9(normSq: Array[Array[Double]], t: ArrayData, c: ArrayData): Long = {
    val m = normSq.length
    val k = normSq(0).length
    var dot = 0.0; var n2 = 0.0
    var j = 0
    while (j < m) {
      val code = c.getInt(j)
      dot += t.getDouble(j * k + code)
      n2 += normSq(j)(code)
      j += 1
    }
    val qn = t.getDouble(m * k)
    val denom = qn * math.sqrt(n2)
    val cos = if (denom == 0.0) 0.0 else dot / denom
    math.round(cos * 1e9)
  }
}

/** Matches `text` against a whole pattern TABLE at once, returning the
  * indices of satisfied entries (RLIKE find() semantics, XOR the per-entry
  * negate flag). The point is compilation cost: `streets RLIKE regex` with a
  * non-literal regex recompiles the pattern per ROW — at 470 patterns ×
  * millions of rows that is the dominant cost of the F16 pattern join
  * (measured 31 s at sf0.1). Here every pattern compiles once per expression
  * instance and is reused across all rows of all partitions. */
case class MultiPatternMatch(text: Expression, regexes: Array[String],
                             negates: Array[Boolean])
    extends UnaryExpression {
  require(regexes.length == negates.length)
  @transient private lazy val cp = new CompiledPatterns(regexes, negates)
  override def child: Expression = text
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    cp.matches(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("patterns", cp, "graft.exprs.CompiledPatterns")
    defineCodeGen(ctx, ev, v => s"$ref.matches($v)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(text = c)
}
/** compile-once pattern bank bound into generated code as a reference
  * object (the PointInPolygonFirst prepared-polys pattern). */
final class CompiledPatterns(regexes: Array[String], negates: Array[Boolean])
    extends Serializable {
  @transient private lazy val compiled = regexes.map(java.util.regex.Pattern.compile)
  def matches(u: UTF8String): ArrayData = {
    val s = u.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var i = 0
    while (i < compiled.length) {
      if (compiled(i).matcher(s).find() != negates(i)) out += i
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** F13 gmapUrl (reference offset.js:133-137): the exact padded
  * "   lat,lon  " string JS template interpolation produces, via a faithful
  * ECMAScript Number::toString (radix 10) for finite doubles. Java's
  * Double.toString is NOT usable here: it switches to scientific notation
  * for 0 < |x| < 1e-3 ("1.0E-4" where JS prints "0.0001") and renders
  * negative zero as "-0.0" (JS template gives "0"), so near-equator /
  * prime-meridian fix6 coordinates would diverge. jsRepr computes the
  * ECMA algorithm: shortest round-trip digits, plain decimal while the
  * point position is in (-6, 21], exponential outside, -0 → "0". ONE
  * construction shared by the Column (fns.gmap_url) and SQL
  * (graft_gmap_url) surfaces; StaticInvoke keeps it codegen'd. */
object GmapUrl {
  def jsRepr(x: Double): UTF8String = UTF8String.fromString(jsReprString(x))

  def jsReprString(x: Double): String = {
    if (x == 0.0) return "0" // covers -0.0: JS `${-0}` is "0"
    if (x.isNaN) return "NaN"
    if (x.isInfinite) return if (x > 0) "Infinity" else "-Infinity"
    val ax = math.abs(x)
    // shortest decimal that round-trips (ECMA 6.1.6.1.20 step 5): fewest
    // significant digits whose nearest decimal recovers the exact double
    var bd: java.math.BigDecimal = null
    var sig = 1
    while (bd == null && sig <= 17) {
      val cand = new java.math.BigDecimal(ax).round(new java.math.MathContext(sig))
      if (cand.doubleValue() == ax) bd = cand
      sig += 1
    }
    if (bd == null) bd = new java.math.BigDecimal(ax)
    val st = bd.stripTrailingZeros()
    val digits = st.unscaledValue().toString
    val k = digits.length
    val n = k - st.scale() // decimal-point position: value = 0.digits * 10^n
    val s =
      if (n >= k && n <= 21) digits + "0" * (n - k)
      else if (n > 0 && n < k) digits.substring(0, n) + "." + digits.substring(n)
      else if (n > -6 && n <= 0) "0." + ("0" * (-n)) + digits
      else {
        val e = n - 1
        val mant = if (k == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
        mant + (if (e >= 0) "e+" else "e-") + math.abs(e)
      }
    if (x < 0) "-" + s else s
  }

  def expr(lat: Expression, lon: Expression): Expression = {
    def js(x: Expression): Expression =
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[GmapUrl.type], StringType, "jsRepr",
        Seq(Cast(x, DoubleType)), propagateNull = true)
    Concat(Seq(Literal("   "), js(lat), Literal(","), js(lon), Literal("  ")))
  }
}

object fns {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def cell_encode(lat: Column, lon: Column, res: Int): Column = c(CellEncode(e(lat), e(lon), res))
  def cells_covering(minLat: Column, minLon: Column, maxLat: Column, maxLon: Column, res: Int): Column =
    c(CellsCovering(e(minLat), e(minLon), e(maxLat), e(maxLon), res))
  def cell_disk(cell: Column, k: Column, res: Int): Column = c(CellDisk(e(cell), e(k), res))
  def cell_disk_rect(cell: Column, kLon: Column, kLat: Column, res: Int): Column =
    c(CellDiskRect(e(cell), e(kLon), e(kLat), res))
  /** F13 gmapUrl — see GmapUrl (one shared expression tree for the Column
    * and SQL surfaces). */
  def gmap_url(lat: Column, lon: Column): Column = c(GmapUrl.expr(e(lat), e(lon)))
  def cell_parent(cell: Column, res: Int, parentRes: Int): Column =
    c(CellParent(e(cell), res, parentRes))
  def s2_cell(lat: Column, lon: Column, level: Int): Column =
    c(S2CellEncode(e(lat), e(lon), level))
  /** H3-STYLE hex cell id. DIVERGENCE NOTICE (see graft.cells.Hex7 scaladoc):
    * this is an honest clean-room aperture-7 icosahedral index whose 20
    * faces serve as base cells (canonical H3 has 122 base cells); ids are
    * functionally equivalent for bucketing/joins/aggregation but are NOT
    * interchangeable with ids from the official H3 library. */
  def hex7_cell(lat: Column, lon: Column, res: Int): Column =
    c(Hex7CellEncode(e(lat), e(lon), res))
  def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    c(Haversine(e(lat1), e(lon1), e(lat2), e(lon2)))
  def tile_id(lat: Column, lon: Column, zoom: Int): Column = c(TileId(e(lat), e(lon), zoom))
  def geohash(lat: Column, lon: Column, precision: Int): Column =
    c(GeohashEncode(e(lat), e(lon), precision))
  def simplify_polyline(line: Column, epsDeg: Double): Column =
    c(SimplifyPolyline(e(line), epsDeg))
  def segments_intersect(l1: Column, l2: Column): Column = c(SegmentsIntersect(e(l1), e(l2)))
  def point_polyline_dist(lat: Column, lon: Column, line: Column): Column =
    c(PointPolylineDist(e(lat), e(lon), e(line)))
  /** planar point-to-segment distance over 6 scalar doubles — expressed via
    * StaticInvoke so Catalyst codegens a direct static call (the hot inner
    * op of segment-indexed spatial joins). */
  def point_seg_dist(lat: Column, lon: Column, lat1: Column, lon1: Column,
                     lat2: Column, lon2: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.geom.Geom.type],
      DoubleType,
      "pointSegDist",
      Seq(e(lat), e(lon), e(lat1), e(lon1), e(lat2), e(lon2)),
      propagateNull = true))
  def point_in_polygon(lat: Column, lon: Column, rings: Column): Column =
    c(PointInPolygon(e(lat), e(lon), e(rings)))
  private val uvPairType =
    ArrayType(StructType(Seq(
      StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false))), containsNull = false)
  /** the hull (u,v) element type, shared with the SQL function registry. */
  def uvPairTypePublic: DataType = uvPairType
  /** convex hull of integer-µ° (u,v) points (monotone chain) — per-GROUP
    * kernel over collect_list output. */
  def convex_hull_uv(pts: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.geom.Hull.type], uvPairType, "hullData",
      Seq(e(pts)), propagateNull = true))
  /** exact squared diameter (µ°²) of a (u,v) point set via its hull. */
  def hull_diam2(pts: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.geom.Hull.type], LongType, "diam2Data",
      Seq(e(pts)), propagateNull = true))
  /** TWICE the hull area (exact integer µ°²) of a (u,v) point set. */
  def hull_area2(pts: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.geom.Hull.type], LongType, "area2Data",
      Seq(e(pts)), propagateNull = true))
  /** polygon ∩ axis-aligned-rect area (Sutherland–Hodgman + shoelace) in
    * squared degrees; StaticInvoke keeps the clip in whole-stage codegen. */
  def clip_rect_area(rings: Column, latLo: Column, lonLo: Column,
                     latHi: Column, lonHi: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[graft.geom.Geom.type],
      DoubleType,
      "clipRectAreaData",
      Seq(e(rings), e(latLo), e(lonLo), e(latHi), e(lonHi)),
      propagateNull = true))
  /** |A ∩ B| of two SORTED (sort_array order = binary UTF8String order)
    * distinct string arrays by linear merge — no per-row hash set, no
    * allocation (vs array_intersect, which builds a hash map per row: the
    * PPJoin verify stage over ~4·10⁵ candidate pairs spent ~7 s there). */
  def sorted_inter_count(a: Column, b: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      classOf[SortedSets.type], LongType, "interCount",
      Seq(e(a), e(b)), propagateNull = true))
  def point_in_polygon_first(lat: Column, lon: Column,
                             polys: Array[(String, Array[Array[Double]])], default: String): Column =
    c(PointInPolygonFirst(e(lat), e(lon), polys, default))
  def clean_street_key(raw: Column): Column = c(CleanStreetKey(e(raw)))
  def fnv63(text: Column): Column = c(Fnv63(e(text)))
  def minhash_sig(tokens: Column, k: Int): Column = c(MinHashSig(e(tokens), k))
  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))
  def rolling_min_hash(text: Column, window: Int): Column = c(RollingMinHash(e(text), window))
  def cosine_sim(a: Column, b: Column): Column = c(CosineSim(e(a), e(b)))
  /** sign-LSH bucket key of an array<float> (null for null), codegen'd */
  def lsh_sign_bits(emb: Column, planes: Array[Array[Double]]): Column =
    c(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(classOf[LshSignBits.type],
      LongType, "bits", Seq(Literal(planes, ObjectType(planes.getClass)), e(emb)),
      propagateNull = true))
  def walk_within_way(nodes: Column, flat: Column, nodeId: Column, meters: Column): Column =
    c(WalkWithinWay(e(nodes), e(flat), e(nodeId), e(meters)))
  def patterns_matched(text: Column, regexes: Array[String], negates: Array[Boolean]): Column =
    c(MultiPatternMatch(e(text), regexes, negates))
  def pq_encode(emb: Column, books: Array[Array[Array[Float]]]): Column =
    c(PqEncode(e(emb), books))
  def pq_dot_table(emb: Column, books: Array[Array[Array[Float]]]): Column =
    c(PqDotTable(e(emb), books))
  def pq_adc_cos9(table: Column, codes: Column, books: Array[Array[Array[Float]]]): Column =
    c(PqAdcCos9(e(table), e(codes), books))
}

/** Static kernel for fns.sorted_inter_count: linear merge over two sorted
  * distinct string arrays. Ordering contract: both inputs were produced by
  * sort_array(...), whose string order is UTF8String.compareTo (binary) —
  * the same comparator used here, so the merge sees both arrays in strictly
  * increasing order and counts exactly |A ∩ B|. */
object SortedSets {
  def interCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1L; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}
