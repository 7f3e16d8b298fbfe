package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exprs.fns

/** Output assembly + image-table spatial operators.
  *
  * Assembly reproduces makeIntersectionGeoJson (geo.js:1246-1266): fix6
  * rounding, first-match city PIP with 'Unincorporated' fallback (J6).
  * The image operators generalize the reference's spatial join to the
  * north_rule workload: geotagged image rows joined against ways via cell
  * buckets, kNN street lookup (J7), and Web-Mercator tile assignment.
  */
object SpatialOps {

  /** Final feature rows: topo ∪ geometric, rounded, city-assigned.
    * polys: prepared city polygons (broadcast-nested-loop PIP with envelope
    * prefilter inside PointInPolygonFirst). */
  def assemble(topo: DataFrame, geom: DataFrame,
               polys: Array[(String, Array[Array[Double]])]): DataFrame = {
    val unioned = topo
      .withColumn("nodeId", col("nodeId").cast("string"))
      .select("lat", "lon", "raw", "streets", "wayIds", "nodeId", "ord")
      .unionByName(geom.select("lat", "lon", "raw", "streets", "wayIds", "nodeId", "ord"))
    unioned
      .withColumn("lat", round(col("lat"), 6))
      .withColumn("lon", round(col("lon"), 6))
      .withColumn("cityName",
        fns.point_in_polygon_first(col("lat"), col("lon"), polys, "Unincorporated"))
  }

  /** BUFFERED-REGION membership (polygon dilation / fringe query — the GIS
    * buffer op every zoning pipeline runs): images NOT inside any zone but
    * within `dDeg` planar degrees of one, tagged with the nearest zone
    * (Euclidean distance to the polygon region = min point-to-segment
    * distance over its CLOSED ring when outside; ties between zones → first
    * poly in array order, the same convention as the PIP first-match).
    *
    * Scale shape: the polygon set rides the plan as broadcast constants
    * (same contract as PointInPolygonFirst) and every distance is a
    * codegen'd map-side expression — ZERO shuffles end to end. At the
    * million-polygon scale the cell-indexed PIP twin's layout applies
    * (explode polys to cells, equi-join, refine); this is the
    * broadcast-dimension path.
    * Output: (image_id, fringe_city, dist9) — distance in nano-degrees. */
  def cityFringe(geoImages: DataFrame,
                 polys: Array[(String, Array[Array[Double]])],
                 dDeg: Double): DataFrame = {
    require(polys.nonEmpty)
    val distCols = polys.map { case (_, rings) =>
      val flat = rings(0) // [lon,lat, lon,lat, ...]
      val closed = flat.grouped(2).toArray :+ Array(flat(0), flat(1))
      val ring = array(closed.map(p =>
        struct(lit(p(1)).as("lat"), lit(p(0)).as("lon"))): _*)
      fns.point_polyline_dist(col("lat"), col("lon"), ring)
    }
    // first-poly-wins argmin: poly i is nearest iff its distance is <= all
    // later ones and no earlier poly already won (the when-chain encodes it)
    val nearest = polys.indices.init.foldRight(lit(polys.last._1)) { (i, rest) =>
      when(polys.indices.drop(i + 1)
          .map(j => distCols(i) <= distCols(j)).reduce(_ && _),
        lit(polys(i)._1)).otherwise(rest)
    }
    geoImages
      .withColumn("city0",
        fns.point_in_polygon_first(col("lat"), col("lon"), polys, "Unincorporated"))
      .filter(col("city0") === "Unincorporated")
      .withColumn("mind", least(distCols: _*))
      .filter(col("mind") <= lit(dDeg))
      // floor(x·1e9 + 0.5) is HALF_UP spelled identically in both engines —
      // no ROUND half-tie semantics in the contract
      .select(col("image_id"), nearest.as("fringe_city"),
        floor(col("mind") * lit(1e9) + lit(0.5)).cast("long").as("dist9"))
  }

  /** VECTOR-TILE ENCODER (the vector leg of the raster↔vector export
    * story; Mapbox-Vector-Tile-style geometry encoding, public spec): each
    * way's vertices are bucketed into integer-µdeg cells and every
    * (cell, way) run is serialized as the MVT wire format's coordinate
    * stream — per vertex, Δu and Δv zigzag-mapped (2d / −2d−1) and written
    * as base-128 varints with continuation bits, the first vertex relative
    * to the CELL ORIGIN, the rest to the previous in-cell vertex. The
    * output row digests the encoded byte stream, so every varint digit of
    * every delta of every vertex is pinned.
    *
    * Scale shape: one shuffle on (cell, way); each tile run is encoded in
    * isolation map-side after the exchange and only
    * (cell, way_id, n_pts, n_bytes, digest) leaves the executor — the
    * payload a real tile sink would upload, minus the upload. */
  def vectorTiles(spark: SparkSession, ways: DataFrame,
                  lat0: Double, lon0: Double,
                  cellMicro: Long = 5000L): DataFrame = {
    import spark.implicits._
    val verts = ways
      .select(col("id").as("way_id"), posexplode(col("geometry")).as(Seq("k", "pt")))
      .select(col("way_id"), col("k"),
        expr(s"CAST(ROUND((pt.lat - ${lat0}D) * 1000000.0D) AS BIGINT)").as("u"),
        expr(s"CAST(ROUND((pt.lon - ${lon0}D) * 1000000.0D) AS BIGINT)").as("v"))
      .withColumn("cell",
        expr(s"(u DIV $cellMicro) * 100000 + (v DIV $cellMicro)"))
      .select("cell", "way_id", "k", "u", "v")
      .as[(Long, Long, Int, Long, Long)]
    verts.groupByKey(r => (r._1, r._2)).mapGroups { (key, it) =>
      val (cell, wayId) = key
      val pts = it.toArray.sortBy(_._3)
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def zig(d: Long): Long = if (d >= 0) 2 * d else -2 * d - 1
      def putVarint(z0: Long): Unit = {
        var z = z0
        while (z >= 128) { out += ((z % 128) + 128).toByte; z /= 128 }
        out += z.toByte
      }
      var pu = (cell / 100000) * cellMicro // cell origin
      var pv = (cell % 100000) * cellMicro
      pts.foreach { case (_, _, _, u, v) =>
        putVarint(zig(u - pu)); putVarint(zig(v - pv))
        pu = u; pv = v
      }
      var dig = 0L
      var i = 0
      while (i < out.length) {
        val p = i.toLong
        dig += (p + 1L) * (p + 7L) * ((out(i) & 0xff) + 17L)
        i += 1
      }
      (cell, wayId, pts.length.toLong, out.length.toLong, dig)
    }.toDF("cell", "way_id", "n_pts", "n_bytes", "digest")
  }

  /** Segment-level cell index: ways exploded into individual segments, each
    * replicated into the cells of its (buffered) bbox. This is THE scale
    * structure for point-vs-way joins: rows are 6 doubles + ids (no geometry
    * arrays duplicated per cell), the per-candidate refine is a single
    * codegen'd point-seg distance instead of an O(|way|) polyline scan, and
    * dense ways cost proportional to their length, not length × cells.
    */
  def segmentCells(wayData: DataFrame, res: Int, bufferDeg: Double): DataFrame =
    wayData
      .select(col("way_id"), col("name"),
        explode(expr(
          """transform(sequence(0, size(geometry) - 2), i -> struct(
               geometry[i].lat as lat1, geometry[i].lon as lon1,
               geometry[i+1].lat as lat2, geometry[i+1].lon as lon2))""")).as("seg"))
      .select(col("way_id"), col("name"),
        col("seg.lat1"), col("seg.lon1"), col("seg.lat2"), col("seg.lon2"))
      .withColumn("cell", explode(fns.cells_covering(
        least(col("lat1"), col("lat2")) - bufferDeg,
        least(col("lon1"), col("lon2")) - bufferDeg,
        greatest(col("lat1"), col("lat2")) + bufferDeg,
        greatest(col("lon1"), col("lon2")) + bufferDeg, res)))

  /** Vector→raster LINE RASTERIZATION — the inverse leg of the
    * raster↔vector pair (zonalImageStats reads rasters against vectors;
    * this renders vectors INTO a raster): every way segment is drawn into
    * exactly the res-`res` grid pixels its geometry passes through (a
    * supercover rasterization, not the bbox blob), and the output is the
    * per-pixel distinct-way count — the road-density raster.
    *
    * Candidates come from the segment-cell index (bbox covering, buffer 0);
    * the refine is the exact segment-vs-pixel-rectangle test by the
    * separating-axis theorem: given bbox overlap (guaranteed by the
    * candidate generator, which covers the x and y axes), the segment
    * intersects the pixel iff the pixel's four corners do not lie strictly
    * on one side of the segment's line — ≤/≥ keeps edge-touching pixels
    * WITHIN the candidate set, matching JTS `intersects` there (gated in
    * SpatialRasterSpec). Along the bbox axes the contract is the standard
    * half-open floor pixel convention: a segment lying exactly on a
    * row/column boundary renders into the floor-assigned row only, not
    * both closed-rect neighbors (the oracle mirrors the same floor).
    * Everything is a map-side codegen'd expression; the only shuffle is
    * the final per-pixel count, whose input is narrow (cell, way_id) rows.
    *
    * Scale shape: cost ∝ Σ segment length in pixels (the rendered ink),
    * never width×height of the raster; per-pixel counts partial-aggregate
    * map-side. Input: wayData with (way_id, geometry). Output:
    * (cell, lon_idx, lat_idx, n_ways). */
  def rasterizeWays(wayData: DataFrame, res: Int): DataFrame = {
    val p = graft.cells.GridCell.pow10(res)
    val segs = segmentCells(wayData, res, 0.0)
      .withColumn("lonI", expr(s"cell DIV ${graft.cells.GridCell.SCALE}L - ${graft.cells.GridCell.OFF}L"))
      .withColumn("latI", expr(s"cell % ${graft.cells.GridCell.SCALE}L - ${graft.cells.GridCell.OFF}L"))
    val lonLo = col("lonI").cast("double") / p
    val lonHi = (col("lonI") + 1).cast("double") / p
    val latLo = col("latI").cast("double") / p
    val latHi = (col("latI") + 1).cast("double") / p
    def side(cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column) =
      (col("lon2") - col("lon1")) * (cy - col("lat1")) -
        (col("lat2") - col("lat1")) * (cx - col("lon1"))
    val s1 = side(lonLo, latLo); val s2 = side(lonLo, latHi)
    val s3 = side(lonHi, latLo); val s4 = side(lonHi, latHi)
    segs
      .filter(least(s1, s2, s3, s4) <= 0 && greatest(s1, s2, s3, s4) >= 0)
      .groupBy(col("cell"), col("lonI"), col("latI"))
      .agg(countDistinct(col("way_id")).as("n_ways"))
      .select(col("cell"), col("lonI").as("lon_idx"), col("latI").as("lat_idx"),
        col("n_ways"))
  }

  /** J2 applied to the image workload: geotagged images equi-joined to the
    * segment-cell index on their single cell, refined by codegen'd point-seg
    * distance, min per (image, way). The big (image) side is never
    * replicated; the way side absorbs the distance buffer. Skewed inputs
    * route through Skew.saltedImageWayJoin / Skew.adaptiveImageWayJoin,
    * which only re-key both sides and share this join body. */
  def imageWayCellJoin(images: DataFrame, wayData: DataFrame,
                       res: Int, maxDistDeg: Double): DataFrame =
    imageWayJoin(images.withColumn("cell", fns.cell_encode(col("lat"), col("lon"), res)),
      segmentCells(wayData, res, maxDistDeg), "cell", maxDistDeg)

  /** The image↔way join body under any key policy: `probes` (image rows)
    * and `segs` (segment rows) meet on the column `key`, candidates are
    * refined by point-seg distance, min per (image, way).
    *
    * The segment side is SHUFFLE_HASH: at planet scale (~10⁹ segment rows)
    * a broadcast OOMs the driver, and even when it fits the build is
    * driver-serial (measured ~10 s at 1.8 M rows, PERF.md) while a shuffled
    * build parallelizes with cores. */
  private[ops] def imageWayJoin(probes: DataFrame, segs: DataFrame, key: String,
                                maxDistDeg: Double): DataFrame =
    probes.join(segs.hint("SHUFFLE_HASH"), Seq(key))
      .withColumn("seg_dist", fns.point_seg_dist(col("lat"), col("lon"),
        col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .filter(col("seg_dist") <= maxDistDeg)
      .groupBy(col("image_id"), col("way_id"), col("name"))
      .agg(min(col("seg_dist")).as("dist_deg"),
        first(col("lat")).as("lat"), first(col("lon")).as("lon"))

  /** J7 kNN: k nearest ways per image via cell-disk candidate join + exact
    * refinement + row_number top-k, with CELL-RING EXPANSION (the reference's
    * findClosest semantics, geo.js:1319-1361): an image whose k-th neighbor
    * lies beyond the current disk keeps expanding (ring ×2 per round) until
    * its result is PROVABLY exact or maxRing is hit.
    *
    * Settledness proof: any point at planar degree distance d from the image
    * lies in a cell at Chebyshev distance ≤ floor(d/cellSize)+1, so once the
    * k-th candidate distance is strictly < ring·cellSize no unseen way can
    * enter the top-k (or tie under the (dist, way_id) order — strict
    * inequality also excludes equal-distance unseen ties). Dense inputs
    * settle in round 1 and pay two cheap counts vs the fixed-ring
    * plan; only the unsettled residue (usually a tiny fraction) re-joins at
    * wider rings: a driver loop of one candidate join per round, with
    * localCheckpoint per round. Images still unsettled at maxRing return
    * best-effort top-k over the final disk (the fixed-ring behavior).
    *
    * `ring` is the first disk radius in cells; rounds double it, and the
    * last is the largest ring·2^j ≤ maxRing. A settled image's rows are
    * exact, and it would settle at any wider ring too, so two starts with
    * the same last ring return the same rows: every power-of-two start ≤
    * maxRing matches a start of 1 (`q_image_knn_expand` starts at 2; pinned
    * in OpsSpec).
    *
    * Distances are rounded to 1e-9 degrees before ranking so ordering is
    * reproducible across engines; ties break by way_id.
    *
    * Input contract: `image_id` is unique in `images`. The settle loop
    * counts pending images by subtracting the proven ones, and an image
    * settled in one round must not be pending in the next.
    *
    * Antimeridian: the cell disk wraps lon indices (GridCell.disk), so
    * far-side segments DO enter the candidate set at ±180° — but the
    * ranking metric is PLANAR degrees (reference parity), which does not
    * wrap; a cross-line neighbor ranks at ~360° and never wins. Fully
    * wrap-correct nearest-neighbor needs the haversine metric — that path
    * is the DistanceJoinRewrite rule, whose refine is periodic and which is
    * antimeridian-exact end-to-end (RuleSpec).
    */
  def knnWays(images: DataFrame, wayData: DataFrame,
              k: Int, res: Int = 3, ring: Int = 1, maxRing: Int = 32): DataFrame = {
    val cs = 1.0 / math.pow(10, res)
    val segs = segmentCells(wayData, res, bufferDeg = 0.0).drop("name")
    // candidate scan stays NARROW end-to-end: (image_id, way_id, dist) only;
    // image payload and way names join back after top-k (k·N rows, not the
    // full candidate set)
    var pending = images
      .select(col("image_id"), col("lat"), col("lon"))
      .withColumn("cell0", fns.cell_encode(col("lat"), col("lon"), res))
    var nPending = -1L // computed lazily on the first settle check
    val settledParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var r = math.max(1, ring)
    var remaining = true
    while (remaining) {
      val last = r * 2 > maxRing // widest round: accept best effort
      val perSeg = pending
        .withColumn("cell", explode(fns.cell_disk(col("cell0"), lit(r), res)))
        // SHUFFLE_HASH: the segment index scales with the way table (never
        // driver-broadcast); the probe side was just exploded ×(2·r+1)² so
        // it is the big side by construction
        .join(segs.hint("SHUFFLE_HASH"), Seq("cell"))
        .select(col("image_id"), col("way_id"),
          fns.point_seg_dist(col("lat"), col("lon"),
            col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("seg_dist"))
      // materialize the candidate top-k ONCE per round: the settle check,
      // the settled slice, and the pending anti-join all reuse it (without
      // this the whole join+window pipeline re-executes 3× per round).
      // k = 1 (map matching): a single codegen'd struct-min straight over
      // per-SEGMENT rows — per-segment rounding commutes with the per-way
      // min (round is monotone) and lexicographic (dist9, way_id) min is
      // exactly the window's (dist9 ASC, way_id ASC) first row, so ONE
      // map-side-combinable shuffle replaces the per-(image, way) exchange
      // plus the per-image sort (guide §2.3/§2.4).
      val topk = (
        if (k == 1)
          perSeg
            .select(col("image_id"),
              struct(round(col("seg_dist") * lit(1e9), 0).cast("long").as("dist9"),
                col("way_id")).as("dw"))
            .groupBy(col("image_id"))
            .agg(min(col("dw")).as("m"))
            .select(col("image_id"), col("m.way_id").as("way_id"),
              col("m.dist9").as("dist9"), lit(1).as("rk"))
        else {
          val grouped = perSeg.groupBy(col("image_id"), col("way_id"))
            .agg(min(col("seg_dist")).as("dist"))
            .withColumn("dist9", round(col("dist") * lit(1e9), 0).cast("long"))
          val w = Window.partitionBy("image_id").orderBy(col("dist9"), col("way_id"))
          grouped.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        }
      ).localCheckpoint(true)
      if (last) { settledParts += topk; remaining = false }
      else {
        // an image is PROVEN exact iff k candidates were found AND the k-th
        // is strictly inside the guaranteed-covered radius (rounding to 1e-9
        // is conservative here: a borderline image re-expands, never settles
        // wrong). Ranks are ordered by (dist9, way_id), so both halves are
        // one filter on the rank-k row, whatever k. Images with zero in-disk
        // candidates never reach topk, so all-settled is detected by count
        // parity with the probe set — the dense common case then skips the
        // semi/anti-join machinery and this loop costs one candidate pass
        // plus two counts.
        if (nPending < 0) nPending = pending.count()
        val bound = math.round(r * cs * 1e9)
        val proven = topk.filter(col("rk") === k && col("dist9") < lit(bound))
          .select(col("image_id"))
        val nProven = proven.count()
        if (nProven == nPending) { settledParts += topk; remaining = false }
        else {
          settledParts += topk.join(proven, Seq("image_id"), "left_semi")
          pending = pending.join(proven, Seq("image_id"), "left_anti")
            .localCheckpoint(true)
          // proven ⊆ pending and image_id is unique, so the anti-join keeps
          // nPending − nProven > 0 rows: no count job, and another round
          nPending -= nProven
          r *= 2
        }
      }
    }
    val topkAll = settledParts.reduce(_ unionByName _)
      .select(col("image_id"), col("rk"), col("way_id"))
    // join-back tables scale with ways/images — no forced broadcast; AQE
    // picks broadcast at small scale and sort-merge/shuffled-hash at large
    val names = wayData.select(col("way_id"), col("name")).distinct()
    topkAll.join(names, Seq("way_id")).join(images, Seq("image_id"))
  }

  /** Raster-tile assignment: packed Web-Mercator tile id per image. */
  def tileAssign(images: DataFrame, zoom: Int): DataFrame =
    images.withColumn("tile_id", fns.tile_id(col("lat"), col("lon"), zoom))

  /** Bing-Maps quadkey layout roll-up (public spec, Schwartz MSDN 2018:
    * digit i of the base-4 key is bit (z-i) of tile y interleaved over x,
    * so every ancestor tile's key is a string PREFIX of its descendants').
    * That prefix-containment is the point at 100 TB: data written sorted
    * by quadkey clusters every zoom level at once, and a z8 region scan is
    * one contiguous key range — no re-shuffle per pyramid level. Composed
    * entirely from the codegen'd TileId expression plus built-in
    * transform/substr (no UDF); one narrow shuffle for the roll-up.
    * Output: per-`prefixLen`-prefix image count and distinct-descendant
    * count at `zoom` — the roll-up a tile server sizes its shards with. */
  def quadkeyRollup(images: DataFrame, zoom: Int, prefixLen: Int): DataFrame = {
    require(zoom >= 1 && zoom <= 26 && prefixLen >= 1 && prefixLen <= zoom)
    val mask = (1L << 26) - 1
    // per-row quadkey construction (zoom× transform/substr string build) is
    // the heavy map work here and runs pre-exchange — spread an undersized
    // scan so it parallelizes (measured: 1-task, ~1 s CPU at gate scale)
    Par.spread(images.select(col("lat"), col("lon")), col("lat"))
      .withColumn("t", fns.tile_id(col("lat"), col("lon"), zoom))
      .withColumn("tx", expr(s"(t DIV ${1L << 26}) % ${mask + 1}"))
      .withColumn("ty", expr(s"t % ${mask + 1}"))
      .withColumn("quadkey", expr(
        s"""array_join(transform(sequence(1, $zoom), i ->
           |  substr('0123',
           |    CAST((shiftright(tx, $zoom - i) % 2)
           |         + 2 * (shiftright(ty, $zoom - i) % 2) AS INT) + 1, 1)),
           |'')""".stripMargin))
      .groupBy(expr(s"substr(quadkey, 1, $prefixLen)").as("qk_prefix"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("quadkey")).as("n_children"))
  }

  /** J6 for images: city per image point. */
  def imageCity(images: DataFrame, polys: Array[(String, Array[Array[Double]])]): DataFrame =
    images.withColumn("city",
      fns.point_in_polygon_first(col("lat"), col("lon"), polys, "Unincorporated"))

  /** Geo-privacy scrubbing: geotags of images inside a named zone polygon
    * are coarsened to the center of their cellMicro-µdeg cell (spatial
    * k-anonymity — every scrubbed image is indistinguishable from the rest
    * of its cell), geotags outside any zone pass through untouched. Pure
    * map-side conditional arithmetic on top of the broadcast PIP join —
    * at 100 TB this is the same zero-extra-shuffle plan as imageCity, and
    * the precise coordinates never outlive the projection. Input is the
    * geoImages shape (u, v integer µdeg offsets). */
  def geoScrub(geoImages: DataFrame, polys: Array[(String, Array[Array[Double]])],
               cellMicro: Long = 10000L): DataFrame = {
    require(cellMicro > 0)
    val half = cellMicro / 2
    imageCity(geoImages, polys).select(
      col("image_id"), col("city"),
      when(col("city") =!= "Unincorporated",
        expr(s"(u DIV $cellMicro) * $cellMicro + $half")).otherwise(col("u"))
        .as("u_out"),
      when(col("city") =!= "Unincorporated",
        expr(s"(v DIV $cellMicro) * $cellMicro + $half")).otherwise(col("v"))
        .as("v_out"))
  }

  /** J6 at the million-polygon scale: the broadcast-prepared-polys path
    * (imageCity) dies when the boundary table no longer fits every
    * executor — countries ship ~50 MB of city polygons, cadastral/parcel
    * layers ship millions. This twin keeps polygons DISTRIBUTED: a point
    * joins each polygon whose bbox covering holds its cell, which
    * [[graft.plans.CoverJoinRewrite]] plans as polygons exploded to their
    * covering cells (a few hundred at res 2) and points keyed on their one
    * cell (SHUFFLE_HASH — the index scales with the polygon table, never
    * the driver); the exact ray-cast PIP refines candidates only.
    * First-match-wins parity with imageCity via min(poly_idx) over
    * containing polygons (the prepared path scans polys in array order).
    * Must produce the IDENTICAL rowset — registered on the same oracle SQL
    * as q_image_city. */
  def imageCityIndexed(images: DataFrame,
                       polys: Array[(String, Array[Array[Double]])],
                       res: Int = 2, default: String = "Unincorporated"): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    graft.plans.GraftPlans.enable(spark)
    val polyDf = polys.zipWithIndex.map { case ((name, rings), i) =>
      // outer-ring bbox: rings(0) is flat [lon,lat,...]
      val (lons, lats) = rings(0).grouped(2).map(p => (p(0), p(1))).toSeq.unzip
      (i, name, rings.map(_.toSeq).toSeq, lats.min, lons.min, lats.max, lons.max)
    }.toSeq.toDF("poly_idx", "poly_name", "rings", "lat0", "lon0", "lat1", "lon1")
    val firstHit = images.select(col("image_id"), col("lat"), col("lon"))
      .join(polyDf.drop("poly_name").hint("SHUFFLE_HASH"), array_contains(
        fns.cells_covering(col("lat0"), col("lon0"), col("lat1"), col("lon1"), res),
        fns.cell_encode(col("lat"), col("lon"), res)))
      .filter(fns.point_in_polygon(col("lat"), col("lon"), col("rings")))
      .groupBy(col("image_id")).agg(min(col("poly_idx")).as("poly_idx"))
      .join(polyDf.select(col("poly_idx"), col("poly_name")), Seq("poly_idx"))
    images.join(firstHit.select(col("image_id"), col("poly_name")),
        Seq("image_id"), "left")
      .withColumn("city", coalesce(col("poly_name"), lit(default)))
      .drop("poly_name")
  }

  /** RASTER→VECTOR POLYGONIZE — the closing leg of the raster↔vector pair
    * (rasterizeWays renders vectors INTO a raster; this extracts the vector
    * regions back OUT): one row per 4-connected component of OFF pixels
    * within the ON-pixel bounding box — on a road raster, the city BLOCKS.
    *
    * Two-pass raster labeling over row bands on maximal OFF row runs (the
    * run form of Raptor, VLDB 2019, and Raster Intervals, SIGMOD 2023),
    * never materializing the raster area: cost O(ink + height).
    *  - Bands: a bbox job fixes [l0, l1] × [a0, a1] and the ON count. Rows
    *    fall into bands of h rows, one per shuffle partition, more when the
    *    run bound ON + height would average over `BandRuns` runs a band. ON
    *    pixels and one sentinel row per band (so an empty band runs too)
    *    are hash-partitioned on band.
    *  - Band pass: one typed mapPartitions over the sorted rows cuts each
    *    row into OFF runs inside [l0, l1] and, by two pointers, unions those
    *    overlapping a run of the row below. A local component with no run on
    *    its band's first or last row is a whole region.
    *  - Seams: those rows' runs and components come back in one
    *    Driver.collectBounded, capped at `SeamRows` rows (the bound is
    *    4 × bands × (width/2 + 1)) and `SeamBytes`; over a cap it fails
    *    loudly. A driver union-find joins runs of consecutive rows.
    *  - Output: the whole regions plus the seam regions as a local relation.
    * Jobs: pixel checkpoint 1, bbox 2, band-pass checkpoint 2, seam collect
    * 1, the caller's map-only job 1 — however many regions cross a seam.
    *
    * Input: one DISTINCT row per ON pixel (lon_idx, lat_idx). Output:
    * (block_id, n_pixels, n_rows, lon_min, lon_max, lat_min, lat_max) per
    * region; block_id = its minimum packed pixel (GridCell.pack: leftmost,
    * then lowest), n_rows = its maximal row runs. Reference analogue: the
    * city-block faces the reference's way grid implies (gpsBins.js binning
    * world) but never computes — a pipeline addition, not a port. */
  def polygonizeRaster(pixels: DataFrame): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val px = pixels.select(col("lon_idx").cast("long"), col("lat_idx").cast("long"))
      .localCheckpoint(true)
    val bb = px.agg(min("lon_idx"), max("lon_idx"), min("lat_idx"), max("lat_idx"),
      count(lit(1))).head()
    require(!bb.isNullAt(0), "polygonizeRaster: empty raster")
    val Seq(l0, l1, a0, a1, on) = (0 until 5).map(bb.getLong)
    val (height, parts) = (a1 - a0 + 1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    val h = ceilDiv(height, math.max(parts, (on + height) / RowBands.BandRuns + 1))
    val bands = ceilDiv(height, h).toInt
    val pieces = px.select(expr(s"CAST((lat_idx - $a0) DIV $h AS INT)").as("band"),
        col("lat_idx"), col("lon_idx"))
      .unionByName(spark.range(0, bands, 1, 1).select(col("id").cast("int").as("band"),
        lit(Long.MinValue).as("lat_idx"), lit(Long.MinValue).as("lon_idx")))
      .repartition(parts, col("band"))
      .sortWithinPartitions("band", "lat_idx", "lon_idx")
      .as[(Int, Long, Long)]
      .mapPartitions(rows => RowBands.bands(rows.buffered, l0, l1, a0, a1, h))
      .toDF().localCheckpoint(true)
    val seamCap = math.min(4L * bands * ((l1 - l0 + 1) / 2 + 1), RowBands.SeamRows).toInt
    val seams = Driver.collectBounded(pieces.filter(col("kind") =!= 0), seamCap,
        RowBands.SeamBytes, "polygonizeRaster seam pieces")
      .map(r => RowBands.Piece(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    pieces.filter(col("kind") === 0).drop("kind")
      .unionByName(RowBands.closeSeams(seams).toSeq.toDF().drop("kind"))
  }

  /** Images per city BLOCK — the polygonize capstone: geotagged images
    * assigned to the OFF-region bounding boxes [[polygonizeRaster]] emits
    * (for the street grid these ARE the blocks), giving block-granular
    * image density — the tile statistic a curation pipeline shards and
    * rebalances by.
    *
    * Join shape: an image joins each block whose coarse covering
    * (`cells_covering`, a handful of cells per block) holds its cell, the
    * point × box form of [[graft.plans.CoverJoinRewrite]]; candidates
    * refine by EXACT integer pixel containment (floor(coord·10^res), the
    * rasterizer's own floor convention — an image sitting ON a street pixel
    * belongs to no block).
    * The image side is never replicated; the block side is SHUFFLE_HASH
    * (at planet scale blocks ∝ area — too big to broadcast, small enough
    * to hash-build per partition). Zero-image blocks are kept (count 0):
    * the empty blocks are the coverage story, not noise. */
  def blockImageDensity(blocks: DataFrame, images: DataFrame,
                        res: Int = 4, cellRes: Int = 3): DataFrame = {
    graft.plans.GraftPlans.enable(images.sparkSession)
    val p = graft.cells.GridCell.pow10(res)
    val bc = blocks.select(col("block_id"), col("lon_min"), col("lon_max"),
      col("lat_min"), col("lat_max"))
    val counted = images.select(col("lat"), col("lon"))
      .join(bc.hint("SHUFFLE_HASH"), array_contains(fns.cells_covering(
          col("lat_min").cast("double") / p, col("lon_min").cast("double") / p,
          (col("lat_max") + 1L).cast("double") / p, (col("lon_max") + 1L).cast("double") / p,
          cellRes), fns.cell_encode(col("lat"), col("lon"), cellRes)) &&
        floor(col("lon") * p).cast("long").between(col("lon_min"), col("lon_max")) &&
        floor(col("lat") * p).cast("long").between(col("lat_min"), col("lat_max")))
      .groupBy("block_id").agg(count(lit(1)).as("n_images"))
    blocks.select("block_id", "n_pixels")
      .join(counted, Seq("block_id"), "left")
      .select(col("block_id"), col("n_pixels"),
        coalesce(col("n_images"), lit(0L)).as("n_images"))
  }
}

/** The band pass and the seam union-find of [[SpatialOps.polygonizeRaster]]. */
private[ops] object RowBands {
  /** runs per band (bounds the band pass's run buffer); the seam collect's caps */
  val BandRuns = 1L << 18
  val SeamRows = 1L << 21
  val SeamBytes = 1L << 28

  /** A run [lon_min, lon_max] in row lat_min, or the stats of a component
    * of runs labeled by its minimum packed pixel (GridCell.pack), unique
    * across bands. kind 0: a whole region; kind 2: a local component with a
    * run on its band's first or last row; kind 1: such a run, labeled by
    * its local component. */
  case class Piece(kind: Int, block_id: Long, n_pixels: Long, n_rows: Long,
                   lon_min: Long, lon_max: Long, lat_min: Long, lat_max: Long)

  /** the stats of two disjoint pieces as one */
  def merge(s: Piece, t: Piece): Piece = s.copy(block_id = math.min(s.block_id, t.block_id),
    n_pixels = s.n_pixels + t.n_pixels, n_rows = s.n_rows + t.n_rows,
    lon_min = math.min(s.lon_min, t.lon_min), lon_max = math.max(s.lon_max, t.lon_max),
    lat_min = math.min(s.lat_min, t.lat_min), lat_max = math.max(s.lat_max, t.lat_max))

  /** f(i, j) for each overlapping pair of the lon-sorted disjoint runs
    * runs(i), i in [a, aEnd), and runs(j), j in [b, bEnd) */
  def overlaps(runs: collection.IndexedSeq[Piece], a: Int, aEnd: Int, b: Int, bEnd: Int)(
      f: (Int, Int) => Unit): Unit = {
    var (i, j) = (a, b)
    while (i < aEnd && j < bEnd) {
      val (s, t) = (runs(i), runs(j))
      if (s.lon_min <= t.lon_max && t.lon_min <= s.lon_max) f(i, j)
      if (s.lon_max <= t.lon_max) i += 1
      if (t.lon_max <= s.lon_max) j += 1
    }
  }

  /** the pieces of the bands of a partition sorted by (band, lat, lon),
    * each band led by its sentinel row */
  def bands(in: BufferedIterator[(Int, Long, Long)], l0: Long, l1: Long, a0: Long,
            a1: Long, h: Long): Iterator[Piece] = if (!in.hasNext) Iterator.empty else {
    val b = in.next()._1
    val (r0, r1) = (a0 + b * h, math.min(a0 + (b + 1) * h - 1, a1))
    val (runs, uf) = (scala.collection.mutable.ArrayBuffer[Piece](), new UnionFind)
    def add(x0: Long, x1: Long, y: Long): Unit =
      runs += Piece(0, graft.cells.GridCell.pack(x0, y), x1 - x0 + 1, 1L, x0, x1, y, y)
    // each row's OFF runs, joined to the overlapping runs of the row below
    var (prev, firstEnd) = (0, 0)
    for (y <- r0 to r1) {
      val beg = runs.size
      var x = l0
      while (in.hasNext && in.head._1 == b && in.head._2 == y) {
        val lon = in.next()._3
        if (lon > x) add(x, lon - 1, y)
        x = lon + 1
      }
      if (x <= l1) add(x, l1, y)
      overlaps(runs, prev, beg, beg, runs.size)(uf.union _)
      if (y == r0) firstEnd = runs.size
      prev = beg
    }
    val seam = (0 until firstEnd) ++ (math.max(prev, firstEnd) until runs.size)
    val onSeam = seam.map(uf.find).toSet
    val comps = runs.indices.groupBy(uf.find).map { case (root, rs) =>
      root -> rs.map(runs).reduce(merge).copy(kind = if (onSeam(root)) 2 else 0)
    }
    comps.valuesIterator ++ seam.iterator.map(i =>
      runs(i).copy(kind = 1, block_id = comps(uf.find(i)).block_id)) ++ bands(in, l0, l1, a0, a1, h)
  }

  /** the regions that cross a seam, from every band's seam pieces: runs
    * (kind 1) in consecutive rows that overlap join their local components
    * (kind 2), and each region sums its local components */
  def closeSeams(seams: Seq[Piece]): Iterable[Piece] = {
    val (comps, runs) = seams.partition(_.kind == 2)
    val (index, uf) = (comps.map(_.block_id).zipWithIndex.toMap, new UnionFind)
    val byRow = runs.groupBy(_.lat_min).map { case (y, rs) => y -> rs.sortBy(_.lon_min) }
    for ((y, below) <- byRow; above <- byRow.get(y + 1)) {
      val both = (below ++ above).toIndexedSeq
      overlaps(both, 0, below.size, below.size, both.size)((i, j) =>
        uf.union(index(both(i).block_id), index(both(j).block_id)))
    }
    comps.indices.groupBy(uf.find).values.map(_.map(comps).reduce(merge))
  }
}
