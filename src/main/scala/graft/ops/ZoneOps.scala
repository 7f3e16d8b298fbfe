package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.cells.GridCell
import graft.exprs.fns

/** Polygon-zone ↔ cell-grid operators: polyfill (polygon → covering cell
  * set), covering compaction (complete sibling blocks promote to their
  * parent), and area-of-intersection weighting (polygon × cell overlap
  * area) — the H3-polyfill/compact and area-weighted raster↔vector
  * assignment primitives of a geospatial corpus engine (north_star:
  * "raster-tile↔vector assignment"; the reference assigns by point-in-
  * polygon only, `/root/reference/js/geo.js:60-70` — these generalize that
  * to whole-zone cell sets and fractional weights).
  *
  * All three are DISTRIBUTED over the zones table (zones never collect to
  * the driver): a zone explodes map-side into its bbox covering at the
  * requested res, candidates refine per-row (center PIP / clip area), and
  * any shuffle keys on (zone, cell). At planetary scale the covering
  * explode is the fan-out to watch: cells-per-zone grows with zone area ×
  * 10^(2·res) — pick res from zone size, then `compact` the result for
  * storage (it shrinks dense interiors ~100×/level).
  */
object ZoneOps {

  private def pow10(res: Int): Double = GridCell.pow10(res)

  /** `cell`-column → index columns (the packed-long layout is plain
    * arithmetic; integral DIV — never double division — for the high half). */
  private def latIdx: Column = col("cell") % GridCell.SCALE - GridCell.OFF
  private def lonIdx: Column = expr(s"cell DIV ${GridCell.SCALE}") - GridCell.OFF

  /** zones with the coordinates of all their rings split into `zf_lats`
    * and `zf_lons` (rings are flat [lon, lat, ...] arrays) */
  private def ringCoords(zones: DataFrame): DataFrame =
    zones
      .withColumn("zf_flat", flatten(col("rings")))
      .withColumn("zf_lats", expr(
        "transform(sequence(0, size(zf_flat) DIV 2 - 1), i -> zf_flat[2*i+1])"))
      .withColumn("zf_lons", expr(
        "transform(sequence(0, size(zf_flat) DIV 2 - 1), i -> zf_flat[2*i])"))

  /** the res-`res` cells covering the rings' bbox, from its low corner
    * (`lat0`, `lon0`) to the rings' maxima, one row each */
  private def ringCover(lat0: Column, lon0: Column, res: Int): Column =
    explode(fns.cells_covering(lat0, lon0,
      array_max(col("zf_lats")), array_max(col("zf_lons")), res))

  /** POLYFILL: every res-`res` grid cell whose CENTER lies inside the
    * zone's polygon (the standard H3/S2 polyfill containment mode).
    * Input zones: (zone, rings array<array<double>>, flat [lon,lat,...]
    * per ring, outer ring first). Output: (zone, cell).
    *
    * Shape: bbox per zone from one array fold, covering explode, center
    * ray-cast per candidate — all map-side, zero shuffles. Cells whose
    * center sits exactly on a zone edge follow the ray-cast's half-open
    * convention; callers needing engine-exact boundaries keep edges off
    * the center lattice (the synthetic world's half-µ° edges do).
    */
  def polyfill(zones: DataFrame, res: Int): DataFrame = {
    val p10 = pow10(res)
    ringCoords(zones)
      .withColumn("cell", ringCover(array_min(col("zf_lats")), array_min(col("zf_lons")), res))
      .withColumn("c_lat", (latIdx.cast("double") + lit(0.5)) / lit(p10))
      .withColumn("c_lon", (lonIdx.cast("double") + lit(0.5)) / lit(p10))
      .filter(fns.point_in_polygon(col("c_lat"), col("c_lon"), col("rings")))
      .select(col("zone"), col("cell"))
  }

  /** COMPACT: iteratively replace every complete block of 100 sibling cells
    * (10×10 at the next-coarser decimal res) by its parent, from `res` down
    * to `minRes` (H3's compact(), aperture 100 here). Input: (zone, cell) at
    * uniform res `res`; output: (zone, res, cell) — a minimal multi-res
    * covering with identical union.
    *
    * Shape: one groupBy-window per level on (zone, parent) — the data
    * SHRINKS monotonically (promoted levels are 1% the size), so the loop
    * cost is dominated by the first level; the loop runs res−minRes rounds,
    * a small count fixed before it starts, not a data-dependent fixpoint.
    */
  def compact(cells: DataFrame, res: Int, minRes: Int): DataFrame =
    compactBy(cells, res, minRes, 100, (c, r) => fns.cell_parent(c, r, r - 1))

  /** GENERIC compaction over ANY cell hierarchy: promote every complete
    * group of `childCount` siblings to its parent, from `res` down to
    * `minRes`. `parentOf(cell, r)` maps a level-r id to its level-(r-1)
    * parent. Instances: decimal grid (aperture 100, `compact`), Web-Mercator
    * quadtree tiles (aperture 4, `compactTiles`), S2 (aperture 4,
    * `compactS2`), Hex7 (aperture 7, `compactHex7`) — H3's compact() shape
    * once per index family, one shuffle per level, shrinking data.
    *
    * Id-algebra contract: promotion requires ALL childCount child IDS
    * present — exact set semantics for space-partitioning hierarchies
    * (grid/quadtree/S2); for aperture-7 hexagons the id-set union is the
    * standard H3 compact semantics even though child hexes overhang the
    * parent boundary. */
  def compactBy(cells: DataFrame, res: Int, minRes: Int, childCount: Int,
                parentOf: (Column, Int) => Column): DataFrame = {
    require(minRes >= 0 && minRes < res, s"need 0 <= minRes < res, got $minRes/$res")
    require(childCount >= 2, s"childCount must be >= 2: $childCount")
    var out: DataFrame = null
    var cur = cells.select(col("zone"), col("cell"))
    var r = res
    while (r > minRes) {
      val w = Window.partitionBy(col("zone"), col("parent"))
      val tagged = cur
        .withColumn("parent", parentOf(col("cell"), r))
        .withColumn("nc", count(lit(1)).over(w))
      val kept = tagged.filter(col("nc") < childCount)
        .select(col("zone"), lit(r).as("res"), col("cell"))
      out = if (out == null) kept else out.unionByName(kept)
      cur = tagged.filter(col("nc") === childCount)
        .select(col("zone"), col("parent").as("cell")).distinct()
      r -= 1
    }
    out.unionByName(cur.select(col("zone"), lit(minRes).as("res"), col("cell")))
  }

  /** quadtree (Web-Mercator tile) compaction — packed tile id layout
    * zoom·2⁵² + x·2²⁶ + y (the tilePyramid rollup arithmetic). */
  def compactTiles(cells: DataFrame, zoom: Int, minZoom: Int): DataFrame =
    compactBy(cells, zoom, minZoom, 4, (_, _) =>
      // parent: zoom-1, x DIV 2, y DIV 2 — integral DIVs on the packed
      // layout zoom·2⁵² + x·2²⁶ + y (the tilePyramid rollup arithmetic)
      expr("""(cell DIV 4503599627370496L - 1) * 4503599627370496L
             + (((cell % 4503599627370496L) DIV 67108864) DIV 2) * 67108864L
             + (cell % 67108864) DIV 2"""))

  /** S2 compaction (aperture 4): parent id via the standard lsb algebra
    * (clear everything below the parent's lsb, then set it). */
  def compactS2(cells: DataFrame, level: Int, minLevel: Int): DataFrame =
    compactBy(cells, level, minLevel, 4, (_, l) => {
      val lsbp = 1L << (2 * (graft.cells.S2.MaxLevel - (l - 1)))
      expr(s"(cell & ${-lsbp}L) | ${lsbp}L")
    })

  /** UNCOMPACT (H3's uncompact): expand a multi-res covering back to a
    * uniform resolution — the inverse of compact, generic over the same
    * hierarchies via `childrenOf(cell, r)` returning the level-(r+1) child
    * ids. Map-side explode per level, no shuffle; output size is the
    * covering's uniform-res cardinality.
    */
  def uncompactBy(cells: DataFrame, targetRes: Int, minRes: Int,
                  childrenOf: (Column, Int) => Column): DataFrame = {
    require(minRes <= targetRes, s"need minRes <= targetRes: $minRes/$targetRes")
    val cur = cells.select(col("zone"), col("res"), col("cell"))
    var done = cur.filter(col("res") === targetRes)
    var remaining = cur.filter(col("res") < targetRes)
    var r = minRes
    while (r < targetRes) { // one explode pass per level actually present
      remaining = remaining
        .withColumn("cell", explode(childrenOf(col("cell"), r)))
        .withColumn("res", col("res") + 1)
      done = done.unionByName(remaining.filter(col("res") === targetRes))
      remaining = remaining.filter(col("res") < targetRes)
      r += 1
    }
    done.select(col("zone"), col("cell"))
  }

  /** decimal-grid uncompact (aperture 100). */
  def uncompact(cells: DataFrame, targetRes: Int, minRes: Int): DataFrame =
    uncompactBy(cells, targetRes, minRes, (_, _) => expr(
      s"""transform(sequence(0, 99), i ->
            ((cell DIV ${GridCell.SCALE} - ${GridCell.OFF}) * 10 + i DIV 10 + ${GridCell.OFF})
              * ${GridCell.SCALE}
            + ((cell % ${GridCell.SCALE} - ${GridCell.OFF}) * 10 + i % 10 + ${GridCell.OFF}))"""))

  /** Hex7 compaction (aperture 7): parent via the digit algebra. */
  def compactHex7(cells: DataFrame, res: Int, minRes: Int): DataFrame =
    compactBy(cells, res, minRes, 7, (c, r) =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          classOf[graft.cells.Hex7.type],
          org.apache.spark.sql.types.LongType, "parent",
          Seq(org.apache.spark.sql.graft.ColumnBridge.expression(c),
            org.apache.spark.sql.catalyst.expressions.Literal(r - 1)),
          propagateNull = true)))

  /** OVERLAP AREAS: for every res-`res` cell touching a zone's polygon, the
    * exact area of polygon∩cell — the weight matrix of area-weighted
    * raster↔vector assignment (apportioning per-cell counts to zones, or
    * zone attributes to cells). Output: (zone, cell, area_q4) with area in
    * QUARTER-µ°² (area·4·10¹²): the synthetic zones' half-µ° edges make
    * every true overlap an exact multiple of ¼ µ°², so the rounded integer
    * is engine-exact (double noise ~1e-5 of the quantum — analysis mirrors
    * q_poly_measures).
    *
    * Shape: identical to polyfill (map-side covering explode + per-row
    * Sutherland–Hodgman clip, zero shuffles); the clip kernel is a
    * codegen'd static call.
    */
  def cellOverlap(zones: DataFrame, res: Int): DataFrame = {
    val p10 = pow10(res)
    ringCoords(zones)
      .withColumn("cell", ringCover(array_min(col("zf_lats")), array_min(col("zf_lons")), res))
      .withColumn("c_lat_lo", latIdx.cast("double") / lit(p10))
      .withColumn("c_lon_lo", lonIdx.cast("double") / lit(p10))
      .withColumn("area_q4", round(fns.clip_rect_area(col("rings"),
        col("c_lat_lo"), col("c_lon_lo"),
        col("c_lat_lo") + lit(1.0 / p10), col("c_lon_lo") + lit(1.0 / p10))
        * lit(4.0e12)).cast("long"))
      .filter(col("area_q4") > 0L)
      .select(col("zone"), col("cell"), col("area_q4"))
  }

  /** POLYGON × POLYGON (extent) INTERSECTION JOIN — both sides are TABLES,
    * neither broadcast: the missing two-sided spatial join (every other
    * join here has points on one side or driver-prepared polygons). The
    * pattern is the raster/interval approximation of polygon joins
    * (Raster Intervals, SIGMOD 2023; Raptor, VLDB 2019 — public):
    * candidates come from a shared covering cell at res `res` — COMPLETE,
    * because any positive-area overlap contains a point whose cell both
    * coverings include — then ONE exact Sutherland–Hodgman refine per
    * surviving pair.
    *
    * Sides: `extents` = axis-aligned boxes (id, uLo, uHi, vLo, vHi —
    * integer µ° in the corpus frame, e.g. cluster/footprint bounding
    * boxes); `zones` = arbitrary polygons (zone, rings). Output:
    * (id, zone, overlap_q4) for pairs with positive overlap, exact
    * quarter-µ°² integers (extent edges whole-µ°, zone edges half-µ°).
    *
    * Scale shape: both sides explode their bbox covering map-side, the
    * candidate join is a SHUFFLE_HASH equi-join on the cell, each pair is
    * kept in ONE shared cell by a reference-point owner conjunct (the cell
    * of the two bboxes' common low corner, which both coverings hold
    * exactly once: no dedup shuffle), and the refine is a per-row
    * codegen'd static call. At 10⁶ polygons × 10⁶ extents nothing is
    * broadcast and nothing is quadratic; res trades candidate fan-out
    * against refine count.
    */
  def extentZoneJoin(extents: DataFrame, zones: DataFrame, res: Int,
                     frameLat0: Double = graft.synth.Synth.LAT0,
                     frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    val uDeg = (u: Column) => GeoStatsOps.frameDeg(u, frameLat0)
    val vDeg = (v: Column) => GeoStatsOps.frameDeg(v, frameLon0)
    val a = extents.withColumn("cell", explode(fns.cells_covering(
      uDeg(col("uLo")), vDeg(col("vLo")), uDeg(col("uHi")), vDeg(col("vHi")), res)))
    val b = ringCoords(zones)
      .withColumn("zf_lat0", array_min(col("zf_lats")))
      .withColumn("zf_lon0", array_min(col("zf_lons")))
      .withColumn("cell", ringCover(col("zf_lat0"), col("zf_lon0"), res))
      .select(col("zone"), col("rings"), col("zf_lat0"), col("zf_lon0"), col("cell"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("cell"))
      .filter(col("cell") === fns.cell_encode(greatest(uDeg(col("uLo")), col("zf_lat0")),
        greatest(vDeg(col("vLo")), col("zf_lon0")), res))
      .withColumn("overlap_q4", round(fns.clip_rect_area(col("rings"),
        uDeg(col("uLo")), vDeg(col("vLo")), uDeg(col("uHi")), vDeg(col("vHi")))
        * lit(4.0e12)).cast("long"))
      .filter(col("overlap_q4") > 0L)
      .select(col("id"), col("zone"), col("overlap_q4"))
  }

  /** AREA-WEIGHTED APPORTIONMENT: distribute a point corpus over zones by
    * cell-overlap fraction — the dasymetric counterpart of exact PIP
    * assignment (and the standard way to join aggregated raster counts to
    * vector zones when per-point coordinates are already rolled up). For
    * each zone: Σ over cells of n_points(cell) · area(zone∩cell), an exact
    * integer in count·quarter-µ°²; `est_count_micro` divides out the cell
    * area (integral DIV, still exact).
    *
    * Shape: points collapse to per-cell counts FIRST (one partial-aggregated
    * groupBy — the join input is cell-sized, never corpus-sized), then ONE
    * equi-join against the overlap weight matrix, then a zone-sized
    * aggregate. At 10^12 points the expensive side is the first groupBy,
    * which is the tile-pyramid cost profile.
    */
  def apportion(points: DataFrame, zones: DataFrame, res: Int): DataFrame = {
    val p10 = pow10(res)
    // cell area in quarter-µ°²: (2·cellMicro)² with cellMicro = 1e6/10^res
    val cellAreaQ4 = {
      val m = math.round(1e6 / p10)
      4L * m * m
    }
    val counts = points
      .withColumn("cell", fns.cell_encode(col("lat"), col("lon"), res))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_pts"))
    cellOverlap(zones, res)
      .join(counts, Seq("cell"), "left")
      .withColumn("n_pts", coalesce(col("n_pts"), lit(0L)))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n_pts") * col("area_q4")).as("apportioned_q4"))
      .withColumn("est_count_micro",
        expr(s"(apportioned_q4 * 1000000) DIV $cellAreaQ4"))
  }

  /** Zonal LINE statistics — total polyline length inside each zone (road
    * length per district, the line twin of `apportion`'s area weighting and
    * `zonalImageStats`' raster zoning). Zones arrive as an interior-disjoint
    * RECTILINEAR decomposition (zone, lat_lo, lat_hi, lon_lo, lon_hi) — any
    * rectilinear polygon (our gamma L-shape included) decomposes exactly;
    * each segment is clipped to each overlapping rectangle by the classic
    * Liang–Barsky parametric clip (Liang & Barsky, CACM 1984 — public).
    *
    * Determinism contract: the clip parameter window [t0,t1] and the planar
    * segment length are ONE fixed double dag over the input coordinates
    * (divisions, GREATEST/LEAST, one SQRT), emitted as per-segment integer
    * nanodegrees — the same verbatim-dag + integer-sum pattern as Gi*, so a
    * DuckDB oracle re-deriving every way segment from the synth closed form
    * must reproduce each zone total bit-for-bit.
    *
    * Scale shape: the zone table is bounded (broadcast); the bbox-overlap
    * pre-join keeps the NLJ probe per segment at O(|rects|) with the exact
    * clip map-side; ONE partial-aggregated groupBy of zone-sized output.
    * Segments stream through — no geometry arrays, no shuffle of the
    * corpus beyond the final zone reduce.
    *
    * Input: segs (way_id, lat1, lon1, lat2, lon2),
    *        rects (zone, lat_lo, lat_hi, lon_lo, lon_hi).
    * Output: (zone, n_segs, len_nano) — clipped length in nanodegrees.
    */
  def zonalLineLength(segs: DataFrame, rects: DataFrame): DataFrame =
    segs
      .join(broadcast(rects),
        least(col("lat1"), col("lat2")) <= col("lat_hi") &&
          greatest(col("lat1"), col("lat2")) >= col("lat_lo") &&
          least(col("lon1"), col("lon2")) <= col("lon_hi") &&
          greatest(col("lon1"), col("lon2")) >= col("lon_lo"))
      .withColumn("du", col("lat2") - col("lat1"))
      .withColumn("dv", col("lon2") - col("lon1"))
      // Liang–Barsky entering/leaving parameters; a degenerate axis outside
      // its slab pushes t0 to 2 > t1 (empty window) — mirrored verbatim in SQL
      .withColumn("t0", expr("""GREATEST(0.0D,
        CASE WHEN du > 0.0D THEN (lat_lo - lat1) / du
             WHEN du < 0.0D THEN (lat_hi - lat1) / du
             WHEN lat1 >= lat_lo AND lat1 <= lat_hi THEN 0.0D ELSE 2.0D END,
        CASE WHEN dv > 0.0D THEN (lon_lo - lon1) / dv
             WHEN dv < 0.0D THEN (lon_hi - lon1) / dv
             WHEN lon1 >= lon_lo AND lon1 <= lon_hi THEN 0.0D ELSE 2.0D END)"""))
      .withColumn("t1", expr("""LEAST(1.0D,
        CASE WHEN du > 0.0D THEN (lat_hi - lat1) / du
             WHEN du < 0.0D THEN (lat_lo - lat1) / du
             ELSE 1.0D END,
        CASE WHEN dv > 0.0D THEN (lon_hi - lon1) / dv
             WHEN dv < 0.0D THEN (lon_lo - lon1) / dv
             ELSE 1.0D END)"""))
      .filter(col("t1") > col("t0"))
      .withColumn("len_nano", expr(
        "CAST(ROUND((t1 - t0) * SQRT(du * du + dv * dv) * 1000000000.0D) AS BIGINT)"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_segs"), sum(col("len_nano")).as("len_nano"))
}
