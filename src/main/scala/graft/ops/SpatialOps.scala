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
    * layers ship millions. This twin keeps polygons DISTRIBUTED: each
    * polygon explodes to its bbox-covering cells (a few hundred cells at
    * res 2), points equi-join on their single cell (SHUFFLE_HASH — the
    * index scales with the polygon table, never the driver), and the exact
    * ray-cast PIP refines candidates only. First-match-wins parity with
    * imageCity via min(poly_idx) over containing polygons (the prepared
    * path scans polys in array order). Must produce the IDENTICAL rowset —
    * registered on the same oracle SQL as q_image_city. */
  def imageCityIndexed(images: DataFrame,
                       polys: Array[(String, Array[Array[Double]])],
                       res: Int = 2, default: String = "Unincorporated"): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val polyDf = polys.zipWithIndex.map { case ((name, rings), i) =>
      (i, name, rings.map(_.toSeq).toSeq)
    }.toSeq.toDF("poly_idx", "poly_name", "rings")
    // outer-ring bbox: rings[0] is flat [lon,lat,...]
    val lons = expr("transform(sequence(0, size(rings[0]) div 2 - 1), i -> rings[0][2*i])")
    val lats = expr("transform(sequence(0, size(rings[0]) div 2 - 1), i -> rings[0][2*i + 1])")
    val polyCells = polyDf
      .withColumn("cell", explode(fns.cells_covering(
        array_min(lats), array_min(lons), array_max(lats), array_max(lons), res)))
    val firstHit = images
      .select(col("image_id"), col("lat"), col("lon"),
        fns.cell_encode(col("lat"), col("lon"), res).as("cell"))
      .join(polyCells.hint("SHUFFLE_HASH"), Seq("cell"))
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
    * regions back OUT): labels every 4-connected component of OFF pixels
    * within the ON-pixel bounding box and returns one row per region —
    * applied to a road raster this is city-BLOCK extraction, the classic
    * OSM polygonize workload.
    *
    * Never materializes the raster area. The OFF set is run-length encoded:
    *  - per occupied row, the maximal OFF intervals between consecutive ON
    *    pixels (one `lag`/`lead` window pass partitioned by row — parallel
    *    across rows);
    *  - maximal bands of completely-empty rows coalesce into ONE full-width
    *    multi-row run each (a window over the DISTINCT occupied-row table,
    *    whose size is bounded by the raster HEIGHT — ≤ 180·10^res rows
    *    regardless of data volume, so its single-task sort is O(height),
    *    not O(data));
    *  - runs with the IDENTICAL lon interval in consecutive rows merge into
    *    one multi-row run before labeling (one partitioned window per
    *    interval stack), so a rectangular region is ONE run and the CC
    *    graph holds only genuine shape transitions — on a street grid it
    *    is empty.
    * Total runs = O(ink + height), the same cost class as the rasterizer.
    *
    * Region labeling is the dedup pipeline's own machinery: runs in
    * vertically adjacent rows whose lon intervals overlap are CC edges, and
    * [[graft.ops.GraphOps.connectedComponents]] (large/small-star, O(log n)
    * rounds, nothing graph-sized on the driver) closes them. Edge
    * generation reuses the RangeJoinRewrite expressions ([[graft.plans.RangeBins]]
    * / [[graft.plans.FloorDivBin]]): each run explodes into the fixed-width
    * lon bins it covers, candidates equi-join on (row boundary, bin) — never
    * a per-boundary all-pairs — and the first-shared-bin conjunct keeps each
    * adjacent pair exactly once before the exact interval-overlap refine.
    * The bin width auto-sizes to ceil(rasterWidth/2048) so a full-width run
    * explodes into ≤2049 bins (inside RangeBins' loud 4096 guard).
    *
    * Run id = packed bottom-left pixel (GridCell.pack layout), so the
    * region label (CC minimum) is the packed leftmost-then-bottom run
    * origin — closed-form predictable on rectangular regions.
    *
    * Input contract: `pixels` has one DISTINCT row per ON pixel
    * (lon_idx, lat_idx) — rasterizeWays' per-pixel aggregate satisfies it.
    * Output: (block_id, n_pixels, n_rows, lon_min, lon_max, lat_min,
    * lat_max) per OFF region. Reference analogue: the city-block faces the
    * reference's way grid implies (gpsBins.js binning world) but never
    * computes — a pipeline addition, not a port. */
  def polygonizeRaster(pixels: DataFrame, minBin: Long = 64L): DataFrame = {
    import graft.cells.GridCell.{OFF, SCALE}
    val px = pixels.select(col("lon_idx").cast("long"), col("lat_idx").cast("long"))
      .localCheckpoint(true)
    // raster domain = ON bbox: four longs to the driver, once
    val bb = px.agg(min("lon_idx"), max("lon_idx"), min("lat_idx"), max("lat_idx")).head()
    require(!bb.isNullAt(0), "polygonizeRaster: empty raster")
    val (l0, l1) = (bb.getLong(0), bb.getLong(1))

    // horizontal OFF runs inside occupied rows: gaps between consecutive ON
    // pixels, plus the leading run from the domain edge (trailing runs fall
    // out of the lead() gap at the sentinel below)
    val w = Window.partitionBy("lat_idx").orderBy("lon_idx")
    // gap/leading run ending at this ON pixel (prev sentinel l0-2 makes a
    // row-leading pixel at lon_idx > l0 emit [l0, lon_idx-1]); trailing run
    // of the row is emitted by the row's last ON pixel
    val candidates = array(
      struct(greatest(col("prev") + 1L, lit(l0)).as("lo"), (col("lon_idx") - 1L).as("hi")),
      struct(when(col("nxt").isNull, col("lon_idx") + 1L).as("lo"), lit(l1).as("hi")))
    val keep = (r: org.apache.spark.sql.Column) =>
      r.getField("lo").isNotNull && r.getField("lo") <= r.getField("hi")
    val rowRuns = px
      .withColumn("prev", coalesce(lag(col("lon_idx"), 1).over(w), lit(l0 - 2L)))
      .withColumn("nxt", lead(col("lon_idx"), 1).over(w))
      .select(col("lat_idx"), explode(filter(candidates, keep)).as("run"))
      .select(col("run.lo").as("lon_lo"), col("run.hi").as("lon_hi"),
        col("lat_idx").as("lat_lo"), col("lat_idx").as("lat_hi"))

    // completely-empty row bands between consecutive occupied rows: one
    // full-width multi-row run each. The DISTINCT occupied-row table is
    // bounded by raster height (≤ 180·10^res), so the global-order window's
    // single task is O(height) — independent of data volume.
    val wr = Window.orderBy("lat_idx")
    val bandRuns = px.select("lat_idx").distinct()
      .withColumn("prev", lag(col("lat_idx"), 1).over(wr))
      .filter(col("prev").isNotNull && col("lat_idx") - col("prev") >= 2L)
      .select(lit(l0).as("lon_lo"), lit(l1).as("lon_hi"),
        (col("prev") + 1L).as("lat_lo"), (col("lat_idx") - 1L).as("lat_hi"))

    // vertical coalescing: runs with the IDENTICAL lon interval stacked in
    // consecutive rows are one region by construction (4-connected via every
    // column), so merge each maximal stack into one multi-row run BEFORE the
    // CC — a rectangular region collapses to a single run and contributes
    // ZERO CC edges (the grid-city case: the CC loop sees an empty graph).
    // One window per (lon_lo, lon_hi) stack — fully partitioned, bounded by
    // raster height per stack. Labels are unchanged: the region minimum run
    // id survives merging (only lat-dominated candidates within a stack are
    // removed).
    val wv = Window.partitionBy("lon_lo", "lon_hi").orderBy("lat_lo")
    val runs = rowRuns.unionByName(bandRuns)
      .withColumn("brk",
        when(col("lat_lo") === lag(col("lat_hi"), 1).over(wv) + 1L, 0L).otherwise(1L))
      .withColumn("grp", sum("brk").over(wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("lon_lo"), col("lon_hi"), col("grp"))
      .agg(min("lat_lo").as("lat_lo"), max("lat_hi").as("lat_hi"))
      .drop("grp")
      .withColumn("run_id", (col("lon_lo") + OFF) * SCALE + (col("lat_lo") + OFF))
      .localCheckpoint(true)

    // CC edges: runs in vertically adjacent rows with overlapping lon
    // intervals. Bin the lon axis (RangeJoinRewrite's own expressions) so
    // the per-boundary match is an equi-join on (boundary, bin); the
    // first-shared-bin conjunct emits each qualifying pair exactly once.
    val bin = math.max(minBin, Math.floorDiv(l1 - l0, 2048L) + 1L)
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    def binned(df: DataFrame, lo: String, hi: String) = df.withColumn("bin", explode(column(
      graft.plans.RangeBins(expression(col(lo)), expression(col(hi)), bin))))
    val below = binned(runs.select(col("run_id").as("src"), (col("lat_hi") + 1L).as("bndry"),
      col("lon_lo").as("a_lo"), col("lon_hi").as("a_hi")), "a_lo", "a_hi")
    val above = binned(runs.select(col("run_id").as("dst"), col("lat_lo").as("bndry"),
      col("lon_lo").as("b_lo"), col("lon_hi").as("b_hi")), "b_lo", "b_hi")
    val firstShared = column(graft.plans.FloorDivBin(
      expression(greatest(col("a_lo"), col("b_lo"))), bin))
    val edges = below.join(above, Seq("bndry", "bin"))
      .filter(col("bin") === firstShared &&
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("src", "dst")

    // label = component minimum (packed leftmost-then-bottom run origin);
    // runs with no edges are their own single-run regions
    val labeled = runs.join(
        GraphOps.connectedComponents(edges).withColumnRenamed("id", "run_id"),
        Seq("run_id"), "left")
      .withColumn("block_id", coalesce(col("component"), col("run_id")))
    labeled.groupBy("block_id").agg(
      sum((col("lon_hi") - col("lon_lo") + 1L) * (col("lat_hi") - col("lat_lo") + 1L)).as("n_pixels"),
      sum(col("lat_hi") - col("lat_lo") + 1L).as("n_rows"),
      min("lon_lo").as("lon_min"), max("lon_hi").as("lon_max"),
      min("lat_lo").as("lat_min"), max("lat_hi").as("lat_max"))
  }

  /** Images per city BLOCK — the polygonize capstone: geotagged images
    * assigned to the OFF-region bounding boxes [[polygonizeRaster]] emits
    * (for the street grid these ARE the blocks), giving block-granular
    * image density — the tile statistic a curation pipeline shards and
    * rebalances by.
    *
    * Join shape: blocks explode into their coarse covering cells
    * (`cells_covering` — a handful per block), images bucket by the same
    * cell, the candidate equi-join refines by EXACT integer pixel
    * containment (floor(coord·10^res), the rasterizer's own floor
    * convention — an image sitting ON a street pixel belongs to no block).
    * The image side is never replicated; the block side is SHUFFLE_HASH
    * (at planet scale blocks ∝ area — too big to broadcast, small enough
    * to hash-build per partition). Zero-image blocks are kept (count 0):
    * the empty blocks are the coverage story, not noise. */
  def blockImageDensity(blocks0: DataFrame, images: DataFrame,
                        res: Int = 4, cellRes: Int = 3): DataFrame = {
    val p = graft.cells.GridCell.pow10(res)
    // blocks feed two consumers (covering-cell explode + the keep-empty
    // left join); materialize once so the upstream labeling aggregate is
    // not recomputed
    val blocks = blocks0.localCheckpoint(true)
    val bc = blocks.select(col("block_id"), col("lon_min"), col("lon_max"),
        col("lat_min"), col("lat_max"))
      .withColumn("cell", explode(fns.cells_covering(
        col("lat_min").cast("double") / p, col("lon_min").cast("double") / p,
        (col("lat_max") + 1L).cast("double") / p, (col("lon_max") + 1L).cast("double") / p,
        cellRes)))
    val imgs = images
      .select(col("image_id"),
        fns.cell_encode(col("lat"), col("lon"), cellRes).as("cell"),
        floor(col("lon") * p).cast("long").as("ilon"),
        floor(col("lat") * p).cast("long").as("ilat"))
    val counted = imgs.join(bc.hint("SHUFFLE_HASH"), Seq("cell"))
      .filter(col("ilon").between(col("lon_min"), col("lon_max")) &&
        col("ilat").between(col("lat_min"), col("lat_max")))
      .groupBy("block_id").agg(count(lit(1)).as("n_images"))
    blocks.select("block_id", "n_pixels")
      .join(counted, Seq("block_id"), "left")
      .select(col("block_id"), col("n_pixels"),
        coalesce(col("n_images"), lit(0L)).as("n_images"))
  }
}
