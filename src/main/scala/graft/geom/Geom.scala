package graft.geom

/** Pure-Scala computational geometry used by the Catalyst expressions.
  *
  * Re-expresses (from scratch) the geometric primitives the reference gets
  * from @turf/turf (`/root/reference/js/geo.js:4`):
  *  - segment×segment intersection (`turf.lineIntersect`, geo.js:209)
  *  - point-in-polygon ray casting (`turf.booleanPointInPolygon`, geo.js:65)
  *  - haversine distance (`turf.distance`, offset.js:112)
  * plus the reference's own Manhattan-degree metric (geo.js:661-666) and
  * Web-Mercator slippy-tile math (new, per the tiling requirement).
  *
  * All functions are allocation-free on the hot path so the Catalyst
  * expressions wrapping them stay codegen/eval friendly.
  */
object Geom {

  /** Earth radius in meters (mean radius, as used by common geo libs). */
  val EarthRadiusM: Double = 6371008.8

  /** Manhattan-degree pseudo-meters: 1e5 * (|dLat| + |dLon|).
    * Reference: `distGpsGps` /root/reference/js/geo.js:661-666. The 50 m
    * coalescing threshold is defined against THIS metric, not haversine.
    */
  @inline def manhattanDeg(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    1e5 * (math.abs(lat1 - lat2) + math.abs(lon1 - lon2))

  /** Haversine great-circle distance in meters. */
  def haversineM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Segment (p1-p2) × segment (p3-p4) intersection.
    * Returns true and writes (lat, lon) into `out` when the closed segments
    * properly intersect (including touching endpoints).
    *
    * TURF PARITY (reference geo.js:209 uses turf.lineIntersect): when the
    * parametric denominator is zero — parallel segments, collinear OVERLAP,
    * and zero-length segments — turf reports NO intersection, and so do we.
    * This matters on real OSM where duplicated same-line ways are common:
    * JTS would report the overlap, the reference does not (divergence vs JTS
    * asserted in GeomSpec).
    * Coordinates are treated as planar (lon=x, lat=y) — identical to turf's
    * lineIntersect plane-sweep on raw coordinates.
    */
  def segSegIntersect(
      lat1: Double, lon1: Double, lat2: Double, lon2: Double,
      lat3: Double, lon3: Double, lat4: Double, lon4: Double,
      out: Array[Double]): Boolean = {
    // x = lon, y = lat
    val d1x = lon2 - lon1; val d1y = lat2 - lat1
    val d2x = lon4 - lon3; val d2y = lat4 - lat3
    val denom = d1x * d2y - d1y * d2x
    if (denom == 0.0) return false // turf: parallel/collinear/degenerate → none
    val ex = lon3 - lon1; val ey = lat3 - lat1
    val t = (ex * d2y - ey * d2x) / denom
    val u = (ex * d1y - ey * d1x) / denom
    if (t >= 0.0 && t <= 1.0 && u >= 0.0 && u <= 1.0) {
      out(0) = lat1 + t * d1y
      out(1) = lon1 + t * d1x
      true
    } else false
  }

  /** First intersection point of two polylines (flat arrays: lat0,lon0,lat1,lon1,...).
    * Scans segments in order (i outer, j inner) and returns the first hit —
    * this matches the reference keeping `lineIntersect(...).features[0]`
    * (geo.js:209-214) for turf's scan order. Per-segment bbox prefilter keeps
    * the common (non-intersecting) case cheap.
    * Returns null when no intersection.
    */
  def polylineIntersectFirst(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](2)
    val na = a.length / 2 - 1
    val nb = b.length / 2 - 1
    var i = 0
    while (i < na) {
      val aLat1 = a(2 * i); val aLon1 = a(2 * i + 1)
      val aLat2 = a(2 * i + 2); val aLon2 = a(2 * i + 3)
      val aMinLat = math.min(aLat1, aLat2); val aMaxLat = math.max(aLat1, aLat2)
      val aMinLon = math.min(aLon1, aLon2); val aMaxLon = math.max(aLon1, aLon2)
      var j = 0
      while (j < nb) {
        val bLat1 = b(2 * j); val bLon1 = b(2 * j + 1)
        val bLat2 = b(2 * j + 2); val bLon2 = b(2 * j + 3)
        // bbox prefilter
        if (!(math.max(bLat1, bLat2) < aMinLat || math.min(bLat1, bLat2) > aMaxLat ||
              math.max(bLon1, bLon2) < aMinLon || math.min(bLon1, bLon2) > aMaxLon)) {
          if (segSegIntersect(aLat1, aLon1, aLat2, aLon2, bLat1, bLon1, bLat2, bLon2, out))
            return Array(out(0), out(1))
        }
        j += 1
      }
      i += 1
    }
    null
  }

  /** Ray-casting point-in-polygon over rings.
    * `rings`: outer ring first, holes after; each ring is a flat array
    * lon0,lat0,lon1,lat1,... (GeoJSON [lon,lat] order, ring closure optional).
    * Even-odd rule (same as turf's booleanPointInPolygon default).
    * Includes an envelope prefilter on the outer ring.
    */
  def pointInPolygon(lat: Double, lon: Double, rings: Array[Array[Double]]): Boolean = {
    if (rings.isEmpty) return false
    // envelope prefilter on outer ring
    val outer = rings(0)
    var minLon = Double.MaxValue; var maxLon = Double.MinValue
    var minLat = Double.MaxValue; var maxLat = Double.MinValue
    var k = 0
    while (k < outer.length - 1) {
      val x = outer(k); val y = outer(k + 1)
      if (x < minLon) minLon = x; if (x > maxLon) maxLon = x
      if (y < minLat) minLat = y; if (y > maxLat) maxLat = y
      k += 2
    }
    if (lon < minLon || lon > maxLon || lat < minLat || lat > maxLat) return false
    var inside = false
    var r = 0
    while (r < rings.length) {
      if (inRing(lat, lon, rings(r))) inside = !inside
      r += 1
    }
    inside
  }

  private def inRing(lat: Double, lon: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if (((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Distance (degrees, planar) from point to segment. */
  def pointSegDist(plat: Double, plon: Double,
                   lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dx = lon2 - lon1; val dy = lat2 - lat1
    val len2 = dx * dx + dy * dy
    if (len2 == 0.0) {
      val ex = plon - lon1; val ey = plat - lat1
      return math.sqrt(ex * ex + ey * ey)
    }
    var t = ((plon - lon1) * dx + (plat - lat1) * dy) / len2
    if (t < 0.0) t = 0.0 else if (t > 1.0) t = 1.0
    val ex = plon - (lon1 + t * dx); val ey = plat - (lat1 + t * dy)
    math.sqrt(ex * ex + ey * ey)
  }

  /** Douglas-Peucker polyline simplification (Douglas & Peucker 1973 —
    * public) on flat [lat0,lon0,...] pairs, planar-degrees metric (the
    * same pointSegDist the spatial joins refine with). Endpoints always
    * kept; a section splits at its FIRST maximum-distance interior point
    * when that distance exceeds epsDeg (strict >, ties → first index) —
    * both choices pinned so the output is deterministic. Iterative
    * explicit stack: no recursion depth limit on pathological inputs. */
  def simplifyDp(flat: Array[Double], epsDeg: Double): Array[Double] = {
    val n = flat.length / 2
    if (n <= 2) return flat.clone()
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    var stack = new Array[Int](32)
    var top = 0
    def push(a: Int, b: Int): Unit = {
      if (top + 2 > stack.length) stack = java.util.Arrays.copyOf(stack, stack.length * 2)
      stack(top) = a; stack(top + 1) = b; top += 2
    }
    push(0, n - 1)
    while (top > 0) {
      top -= 2
      val a = stack(top); val b = stack(top + 1)
      if (b - a >= 2) {
        var maxD = -1.0; var idx = -1
        var i = a + 1
        while (i < b) {
          val d = pointSegDist(flat(2 * i), flat(2 * i + 1),
            flat(2 * a), flat(2 * a + 1), flat(2 * b), flat(2 * b + 1))
          if (d > maxD) { maxD = d; idx = i }
          i += 1
        }
        if (maxD > epsDeg) { keep(idx) = true; push(a, idx); push(idx, b) }
      }
    }
    var cnt = 0
    var i = 0
    while (i < n) { if (keep(i)) cnt += 1; i += 1 }
    val out = new Array[Double](2 * cnt)
    var j = 0; i = 0
    while (i < n) {
      if (keep(i)) { out(2 * j) = flat(2 * i); out(2 * j + 1) = flat(2 * i + 1); j += 1 }
      i += 1
    }
    out
  }

  /** Min planar distance (degrees) from point to polyline (flat lat,lon pairs). */
  def pointPolylineDist(plat: Double, plon: Double, line: Array[Double]): Double = {
    var best = Double.MaxValue
    var i = 0
    val n = line.length / 2 - 1
    while (i < n) {
      val d = pointSegDist(plat, plon, line(2 * i), line(2 * i + 1), line(2 * i + 2), line(2 * i + 3))
      if (d < best) best = d
      i += 1
    }
    if (n <= 0 && line.length >= 2) {
      val ex = plon - line(1); val ey = plat - line(0)
      best = math.sqrt(ex * ex + ey * ey)
    }
    best
  }

  /** fix6: round to 1e-6 degrees (reference offset.js fix6). */
  @inline def fix6(x: Double): Double = math.round(x * 1e6) / 1e6

  /** Linear-referencing walk WITHIN one way (reference offset.js:170-244):
    * from `nodeId`, move `meters` along the way (sign = direction),
    * interpolating inside the containing segment. Per-segment distances are
    * fix6(haversine) like the reference.
    *
    * Returns status + payload packed for the WalkWithinWay expression:
    *  - status 0 (done): out(0)=olat, out(1)=olon
    *  - status 1 (ran off the way): out(2)=terminal node INDEX (0 or n-1,
    *    exact in double), out(3)=remaining signed meters — caller continues
    *    on the unique same-named way at the terminal node
    *  - status 2 (dead): nodeId not on the way
    */
  def walkWithin(nodes: Array[Long], flat: Array[Double], nodeId: Long,
                 meters: Double, out: Array[Double]): Int = {
    val nodeIndex = nodes.indexOf(nodeId)
    if (nodeIndex < 0) return 2
    val n = nodes.length
    def segDist(i: Int): Double =
      fix6(haversineM(flat(2 * i), flat(2 * i + 1), flat(2 * i + 2), flat(2 * i + 3)))
    var distSoFar = 0.0
    if (meters >= 0) {
      var i = nodeIndex
      while (i < n - 1) {
        val d = segDist(i)
        if (d + distSoFar >= meters) {
          val w2 = (meters - distSoFar) / d
          out(0) = fix6((1 - w2) * flat(2 * i) + w2 * flat(2 * i + 2))
          out(1) = fix6((1 - w2) * flat(2 * i + 1) + w2 * flat(2 * i + 3))
          return 0
        }
        distSoFar += d
        i += 1
      }
      out(2) = (n - 1).toDouble
      out(3) = meters - distSoFar
      1
    } else {
      val pos = -meters
      var i = nodeIndex - 1
      while (i >= 0) {
        val d = segDist(i)
        if (d + distSoFar >= pos) {
          val w2 = (pos - distSoFar) / d
          // interpolate from the upper node backward (offset.js:212-216)
          out(0) = fix6((1 - w2) * flat(2 * i + 2) + w2 * flat(2 * i))
          out(1) = fix6((1 - w2) * flat(2 * i + 3) + w2 * flat(2 * i + 1))
          return 0
        }
        distSoFar += d
        i -= 1
      }
      out(2) = 0.0
      out(3) = meters + distSoFar
      1
    }
  }

  /** pointInPolygon without the envelope prefilter (caller already did it). */
  def pointInPolygonNoEnv(lat: Double, lon: Double, rings: Array[Array[Double]]): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      if (inRing(lat, lon, rings(r))) inside = !inside
      r += 1
    }
    inside
  }

  /** Planar area of `rings` clipped to the axis-aligned rectangle
    * [latLo,latHi]×[lonLo,lonHi], in squared degrees — Sutherland–Hodgman
    * (CACM 1974, public) against the four rect half-planes, then the
    * shoelace about the rect's own corner (translating first keeps every
    * term at the clipped area's scale; the raw lon≈-122 products would
    * cancel ~12 digits, same analysis as the q_poly_measures shoelace).
    *
    * Orientation-insensitive: each ring contributes |signed area|; holes are
    * NOT supported (a hole ring would ADD its area). Rings are flat
    * [lon,lat,...]. Axis-aligned subject edges never divide by zero: an
    * edge parallel to a clip line cannot strictly cross it, so the
    * interpolation below only runs with a nonzero denominator.
    */
  def clipRectArea(rings: Array[Array[Double]], latLo: Double, lonLo: Double,
                   latHi: Double, lonHi: Double): Double = {
    var total = 0.0
    var r = 0
    while (r < rings.length) {
      total += math.abs(clipRingSigned(rings(r), latLo, lonLo, latHi, lonHi))
      r += 1
    }
    total
  }

  /** Catalyst adapter (StaticInvoke target): rings as array<array<double>>. */
  def clipRectAreaData(rings: org.apache.spark.sql.catalyst.util.ArrayData,
                       latLo: Double, lonLo: Double,
                       latHi: Double, lonHi: Double): Double = {
    val rr = new Array[Array[Double]](rings.numElements())
    var i = 0
    while (i < rr.length) { rr(i) = rings.getArray(i).toDoubleArray(); i += 1 }
    clipRectArea(rr, latLo, lonLo, latHi, lonHi)
  }

  private def clipRingSigned(ring: Array[Double], latLo: Double, lonLo: Double,
                             latHi: Double, lonHi: Double): Double = {
    val n0 = ring.length / 2
    if (n0 < 3) return 0.0
    // working buffers: clipping a convex window can add ≤1 vertex per edge
    // per pass; n0 + 8 bounds all four passes
    var xs = new Array[Double](n0); var ys = new Array[Double](n0)
    var i = 0
    while (i < n0) { xs(i) = ring(2 * i); ys(i) = ring(2 * i + 1); i += 1 }
    var n = n0
    // pass: keep side where sel(x,y) >= bound (or <= for hi): encode as
    // axis (0=x,1=y), bound, keepGE
    var pass = 0
    while (pass < 4 && n > 0) {
      val axis = if (pass < 2) 0 else 1
      val bound = pass match {
        case 0 => lonLo; case 1 => lonHi; case 2 => latLo; case _ => latHi
      }
      val keepGE = (pass % 2) == 0
      val ox = new Array[Double](2 * n + 8); val oy = new Array[Double](2 * n + 8)
      var m = 0
      var j = 0
      while (j < n) {
        val k = if (j == 0) n - 1 else j - 1
        val pc = if (axis == 0) xs(k) else ys(k)
        val cc = if (axis == 0) xs(j) else ys(j)
        val pin = if (keepGE) pc >= bound else pc <= bound
        val cin = if (keepGE) cc >= bound else cc <= bound
        if (cin != pin) { // edge crosses: emit intersection
          val t = (bound - pc) / (cc - pc)
          if (axis == 0) {
            ox(m) = bound; oy(m) = ys(k) + t * (ys(j) - ys(k))
          } else {
            ox(m) = xs(k) + t * (xs(j) - xs(k)); oy(m) = bound
          }
          m += 1
        }
        if (cin) { ox(m) = xs(j); oy(m) = ys(j); m += 1 }
        j += 1
      }
      xs = ox; ys = oy; n = m
      pass += 1
    }
    if (n < 3) return 0.0
    var area2 = 0.0
    i = 0
    while (i < n) {
      val j = if (i == n - 1) 0 else i + 1
      area2 += (xs(i) - lonLo) * (ys(j) - latLo) - (xs(j) - lonLo) * (ys(i) - latLo)
      i += 1
    }
    area2 * 0.5
  }

  /** Web-Mercator slippy tile X for lon at zoom z. */
  @inline def tileX(lon: Double, z: Int): Long = {
    val n = 1L << z
    val x = math.floor((lon + 180.0) / 360.0 * n).toLong
    if (x < 0) 0L else if (x >= n) n - 1 else x
  }

  /** Web-Mercator slippy tile Y for lat at zoom z. */
  @inline def tileY(lat: Double, z: Int): Long = {
    val n = 1L << z
    val latRad = math.toRadians(lat)
    val y = math.floor((1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0 * n).toLong
    if (y < 0) 0L else if (y >= n) n - 1 else y
  }
}

/** Prepared polygon list for first-match point-in-polygon: names interned
  * as UTF8String and per-polygon envelopes precomputed ONCE at plan time
  * (the raw path recomputed the outer-ring envelope on every call — at
  * 10¹² probe rows that is the dominant cost). Bound into generated code
  * via ctx.addReferenceObj, so PointInPolygonFirst participates in
  * whole-stage codegen. */
final class PreparedPolys(polys: Array[(String, Array[Array[Double]])],
                          default: String) extends Serializable {
    private val names: Array[org.apache.spark.unsafe.types.UTF8String] =
      polys.map(p => org.apache.spark.unsafe.types.UTF8String.fromString(p._1))
    private val rings: Array[Array[Array[Double]]] = polys.map(_._2)
    private val defaultU = org.apache.spark.unsafe.types.UTF8String.fromString(default)
    // envelopes: minLon, maxLon, minLat, maxLat per polygon (outer ring)
    private val env: Array[Array[Double]] = rings.map { rr =>
      val outer = rr(0)
      var minLon = Double.MaxValue; var maxLon = Double.MinValue
      var minLat = Double.MaxValue; var maxLat = Double.MinValue
      var k = 0
      while (k < outer.length - 1) {
        val x = outer(k); val y = outer(k + 1)
        if (x < minLon) minLon = x; if (x > maxLon) maxLon = x
        if (y < minLat) minLat = y; if (y > maxLat) maxLat = y
        k += 2
      }
      Array(minLon, maxLon, minLat, maxLat)
    }
    def first(lat: Double, lon: Double): org.apache.spark.unsafe.types.UTF8String = {
      var i = 0
      while (i < rings.length) {
        val e = env(i)
        if (lon >= e(0) && lon <= e(1) && lat >= e(2) && lat <= e(3) &&
            Geom.pointInPolygonNoEnv(lat, lon, rings(i))) return names(i)
        i += 1
      }
      defaultU
    }
}
