package graft.cells

/** Uniform lat/lon grid cell index, generalizing the reference's 0.01° bins
  * (`/root/reference/js/gpsBins.js:40-74`, FRACTION_DIGITS=2) to resolutions
  * 0..5 decimal digits. Cell ids are packed BIGINTs — never strings — with a
  * deliberately SQL-mirrorable layout so a DuckDB oracle can recompute them
  * with plain arithmetic:
  *
  *   cellId = (floor(lon * 10^res) + OFF) * SCALE + (floor(lat * 10^res) + OFF)
  *
  * OFF = 2e7, SCALE = 1e8: valid for res ≤ 5 (|lonIdx| ≤ 1.8e7 < OFF,
  * latIdx + OFF < SCALE, product < 2^62). floor (round toward -inf) matches
  * SQL FLOOR for negative coordinates.
  */
object GridCell {
  val OFF: Long = 20000000L
  val SCALE: Long = 100000000L

  /** 10^res as an exact double (res ≤ 5). */
  @inline def pow10(res: Int): Double = res match {
    case 0 => 1.0
    case 1 => 10.0
    case 2 => 100.0
    case 3 => 1000.0
    case 4 => 10000.0
    case 5 => 100000.0
    case _ => throw new IllegalArgumentException(s"grid res out of range [0,5]: $res")
  }

  @inline def lonIdx(lon: Double, res: Int): Long = math.floor(lon * pow10(res)).toLong
  @inline def latIdx(lat: Double, res: Int): Long = math.floor(lat * pow10(res)).toLong

  @inline def pack(lonI: Long, latI: Long): Long = (lonI + OFF) * SCALE + (latI + OFF)

  @inline def encode(lat: Double, lon: Double, res: Int): Long =
    pack(lonIdx(lon, res), latIdx(lat, res))

  @inline def unpackLonIdx(cell: Long): Long = cell / SCALE - OFF
  @inline def unpackLatIdx(cell: Long): Long = cell % SCALE - OFF

  /** All cells covered by the closed bbox — the reference replicates a way
    * into every cell its BOUNDS cover (`gpsBins.js:94-116`), not just cells
    * its geometry passes through; we reproduce that (coarse candidate set,
    * refined later by exact geometry). An inverted box fails, as does one over MaxDiskCells.
    */
  def covering(minLat: Double, minLon: Double, maxLat: Double, maxLon: Double, res: Int): Array[Long] = {
    val lo0 = lonIdx(minLon, res); val hi0 = lonIdx(maxLon, res)
    val la0 = latIdx(minLat, res); val la1 = latIdx(maxLat, res)
    val w = hi0 - lo0 + 1; val h = la1 - la0 + 1 // <= 0 only on Long overflow
    require(minLat <= maxLat && minLon <= maxLon && w > 0 && h > 0 && w <= MaxDiskCells / h,
      s"cells_covering: box [$minLat, $minLon, $maxLat, $maxLon] at res $res must have " +
        s"min <= max on each axis and cover at most $MaxDiskCells cells")
    val out = new Array[Long]((w * h).toInt)
    var k = 0
    var i = 0L
    while (i < w) {
      var j = 0L
      while (j < h) { out(k) = pack(lo0 + i, la0 + j); k += 1; j += 1 }
      i += 1
    }
    out
  }

  /** Cells at Chebyshev distance exactly k from `cell` (k=0 → the cell
    * itself). Used for kNN cell-ring expansion (SURVEY.md J7).
    */
  def ring(cell: Long, k: Int): Array[Long] = {
    val cx = unpackLonIdx(cell); val cy = unpackLatIdx(cell)
    if (k == 0) return Array(cell)
    val out = new Array[Long](8 * k)
    var i = 0
    var x = -k
    while (x <= k) {
      if (x == -k || x == k) {
        var y = -k
        while (y <= k) { out(i) = pack(cx + x, cy + y); i += 1; y += 1 }
      } else {
        out(i) = pack(cx + x, cy - k); i += 1
        out(i) = pack(cx + x, cy + k); i += 1
      }
      x += 1
    }
    out
  }

  /** Hard cap on materialized disk size: beyond this a per-row explode is a
    * plan defect (use a coarser res / manual layout), and silently attempting
    * the allocation would OOM or Int-overflow into a negative array size. */
  val MaxDiskCells: Long = 1L << 26

  private def checkedSize(cellsLon: Long, cellsLat: Long): Int = {
    require(cellsLon > 0 && cellsLat > 0,
      s"cell disk half-widths must be >= 0 (got side lengths 2k+1 = $cellsLon x $cellsLat)")
    val n = cellsLon * cellsLat // Long arithmetic: no Int overflow
    require(n <= MaxDiskCells,
      s"cell disk of $n cells exceeds cap $MaxDiskCells — use a coarser grid res " +
        "or a manual layout for neighborhoods this large (e.g. polar data at fine res)")
    n.toInt
  }

  /** All cells at Chebyshev distance ≤ k (the (2k+1)² disk), WRAP-AWARE in
    * longitude like diskRect (res sizes the wrap): kNN ring expansion at
    * ±180° probes the far side's cells instead of nonexistent ids. The lon
    * span is capped at one full wrap so no duplicate cells are ever
    * emitted. */
  def disk(cell: Long, k: Int, res: Int): Array[Long] = {
    val cx = unpackLonIdx(cell); val cy = unpackLatIdx(cell)
    val side = 2L * k + 1
    val fullSpan = 2L * (180.0 * pow10(res)).toLong
    val span = math.min(side, fullSpan)
    val out = new Array[Long](checkedSize(span, side))
    var i = 0
    var xi = 0L
    while (xi < span) {
      val x = wrapLonIdx(cx - k + xi, res)
      var y = -k
      while (y <= k) { out(i) = pack(x, cy + y); i += 1; y += 1 }
      xi += 1
    }
    out
  }

  /** Longitude index wrapped into [-180·10^res, 180·10^res): cells west of
    * the antimeridian alias onto the east side and vice versa, so disks
    * crossing ±180° land on the cells the other side's encode() produced. */
  @inline def wrapLonIdx(lonI: Long, res: Int): Long = {
    val f = (180.0 * pow10(res)).toLong
    Math.floorMod(lonI + f, 2L * f) - f
  }

  /** Rectangular disk: lon half-width kLon, lat half-width kLat. A distance
    * join's lat extent is bounded by d/R regardless of latitude while the lon
    * extent grows as 1/cos(lat), so near the poles the covering region is a
    * short, wide band — materializing it as a square (2·kLon+1)² disk would
    * waste kLon/kLat× cells.
    *
    * WRAP-AWARE in longitude (hence the res parameter): lon indices are
    * taken modulo the full 360·10^res span, so a neighborhood straddling
    * the antimeridian emits the far side's cells instead of nonexistent
    * out-of-range ids (the reference's bins share that former limitation,
    * gpsBins.js:94-116). The lon span is capped at one full wrap so the
    * saturated polar case emits every lon index exactly once — never
    * duplicate cells (which would duplicate join pairs).
    */
  def diskRect(cell: Long, kLon: Int, kLat: Int, res: Int): Array[Long] = {
    val cx = unpackLonIdx(cell); val cy = unpackLatIdx(cell)
    val fullSpan = 2L * (180.0 * pow10(res)).toLong
    val span = math.min(2L * kLon + 1, fullSpan)
    val out = new Array[Long](checkedSize(span, 2L * kLat + 1))
    var i = 0
    var xi = 0L
    while (xi < span) {
      val x = wrapLonIdx(cx - kLon + xi, res)
      var y = -kLat
      while (y <= kLat) { out(i) = pack(x, cy + y); i += 1; y += 1 }
      xi += 1
    }
    out
  }

  /** Chebyshev cell radius k such that the (2k+1)² disk at `res` around a
    * point at latitude `lat` covers every point within `meters` great-circle
    * meters of it (spherical model, matching Geom.haversineM).
    *
    * Latitude extent: a haversine distance d bounds |Δlat| ≤ d/R exactly
    * (hav(d/R) = hav(Δlat) + cosφ₁cosφ₂·hav(Δlon) ≥ hav(Δlat), hav monotone
    * on [0,π]). Longitude extent: sin²(Δlon/2) ≤ sin²(d/2R)/(cosφ₁cosφ₂);
    * bounding both cosines below by cos(|lat| + latRad) keeps the bound
    * conservative (exact algebra, no small-angle approximation; the asin
    * argument is clamped to 1, so the lon extent saturates at the full
    * longitude span as cos(phiMax) → 0). Only when the neighborhood actually
    * CONTAINS a pole (|lat| + latRad ≥ 90°) does it fall back to the
    * full-longitude span — every sub-polar latitude gets the exact bounded
    * formula (a fallback at ±89° used to return k = 180·10^res and crash
    * disk() by Int overflow for, e.g., lat 89.5 at res 5).
    * Neighborhoods crossing the antimeridian ARE covered when the disk is
    * materialized via the wrap-aware diskRect (square disk()/ring() do not
    * wrap — same limitation as the reference's lat/lon bins).
    */
  def kFor(lat: Double, meters: Double, res: Int): Int = {
    val cs = 1.0 / pow10(res) // cell size in degrees
    val fullLon = (180.0 * pow10(res)).toInt
    val latRadDeg = meters / (graft.geom.Geom.EarthRadiusM * math.Pi / 180.0)
    val phiMax = math.abs(lat) + latRadDeg
    if (phiMax >= 90.0) return math.max(1, fullLon)
    val c = math.cos(math.toRadians(phiMax))
    val sinHalf = math.sin(meters / (2.0 * graft.geom.Geom.EarthRadiusM))
    val lonRadDeg = 2.0 * math.toDegrees(math.asin(math.min(1.0, sinHalf / c)))
    val k = math.max(math.ceil(latRadDeg / cs), math.ceil(lonRadDeg / cs)).toInt
    math.max(1, math.min(k, fullLon))
  }

  /** Lat-axis cell half-width covering `meters`: |Δlat| ≤ d/R exactly, so
    * this is latitude-independent (pairs with kFor's lon extent in diskRect). */
  def kLatFor(meters: Double, res: Int): Int = {
    val cs = 1.0 / pow10(res)
    val latRadDeg = meters / (graft.geom.Geom.EarthRadiusM * math.Pi / 180.0)
    math.max(1, math.ceil(latRadDeg / cs).toInt)
  }

  /** Parent cell at a coarser resolution (for adaptive subdivision). */
  def parent(cell: Long, res: Int, parentRes: Int): Long = {
    require(parentRes <= res)
    val f = math.pow(10, res - parentRes).toLong
    val lonI = unpackLonIdx(cell); val latI = unpackLatIdx(cell)
    pack(Math.floorDiv(lonI, f), Math.floorDiv(latI, f))
  }
}
