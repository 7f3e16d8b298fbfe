package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.exprs.fns
import graft.synth.Codec

/** Geospatial statistics over the image corpus — the raster↔vector analytics
  * layer on top of the join engine: zonal statistics (exact decoded-pixel
  * aggregates per polygon zone) and Getis-Ord Gi* hotspot detection (local
  * spatial autocorrelation z-scores per map tile; Getis & Ord,
  * Geographical Analysis 1992 — public).
  *
  * Both are DETERMINISTIC end-to-end: zonal stats carry only exact integer
  * channel sums into the aggregate, and Gi* does all its floating-point math
  * in ONE fixed expression dag over exact BIGINT totals, so a DuckDB oracle
  * evaluating the identical dag reproduces every output bit.
  */
object GeoStatsOps {

  /** A µ° offset of the corpus frame in degrees: `origin + x·1e-6` (lat from
    * u, lon from v). */
  private[ops] def frameDeg(x: Column, origin: Double): Column =
    lit(origin) + x.cast("double") * lit(1e-6)

  /** The µ°-radius pair join under idwInterpolate, semivariogram,
    * semivariogramDirectional, ripleyK, nnDistance and kernelDensity: every
    * (focal, sample) pair within `rMicro` µ°, plus nearby pairs that the
    * caller's refine drops, each with its squared µ° distance `d2` as an
    * exact BIGINT.
    *
    * Each sample keeps its single grid cell at `res` (`s_cell`, a
    * SHUFFLE_HASH index: the sample side is corpus-sized); each focal
    * explodes the bounded cell disk of k = ⌊R/cell⌋ + 1 rings around its own
    * cell and equi-joins the index — never a theta join, candidate fan-out
    * O((2k+1)²) per focal. A sample within R of a focal lies inside that
    * disk and sits in one cell only, so every pair meets exactly once and no
    * dedup step is needed: the grid join of adaptive replication (EDBT 2025)
    * with the focal side replicated.
    *
    * `focals` carries u, v plus payload; `samples` carries su, sv plus
    * payload named apart from the focal side. Self pairs, the `<` or `<=`
    * bound and the aggregates stay with the caller. */
  private[graft] def radiusPairs(focals: DataFrame, samples: DataFrame, rMicro: Long,
      res: Int, frameLat0: Double, frameLon0: Double): DataFrame = {
    require(res >= 0 && res <= 5, s"grid res out of range: $res")
    val cellMicro = math.round(1e6 / graft.cells.GridCell.pow10(res))
    val k = (rMicro / cellMicro + 1L).toInt
    def cell(u: Column, v: Column) =
      fns.cell_encode(frameDeg(u, frameLat0), frameDeg(v, frameLon0), res)
    val samp = samples.withColumn("s_cell", cell(col("su"), col("sv"))).hint("SHUFFLE_HASH")
    focals
      .withColumn("p_cell", cell(col("u"), col("v")))
      .withColumn("cand_cell", explode(fns.cell_disk(col("p_cell"), lit(k), res)))
      .join(samp, col("cand_cell") === col("s_cell"))
      .withColumn("d2",
        (col("su") - col("u")) * (col("su") - col("u")) +
          (col("sv") - col("v")) * (col("sv") - col("v")))
  }

  /** Per-tile point counts at `zoom`: (tile_id, n). */
  private def tileCounts(points: DataFrame, zoom: Int): DataFrame =
    points.select(fns.tile_id(col("lat"), col("lon"), zoom).as("tile_id"))
      .groupBy(col("tile_id")).agg(count(lit(1)).as("n"))

  /** Offset sets of the tile-neighbour join: the 8-ring (binary contiguity,
    * self excluded), the 8-ring plus self (the 3×3 window) and the 4-cross. */
  private[graft] val Ring8: Seq[(Int, Int)] =
    for (du <- -1 to 1; dv <- -1 to 1 if du != 0 || dv != 0) yield (du, dv)
  private[graft] val Ring8Self: Seq[(Int, Int)] = for (du <- -1 to 1; dv <- -1 to 1) yield (du, dv)
  private[graft] val Cross4: Seq[(Int, Int)] = Seq((-1, 0), (1, 0), (0, -1), (0, 1))

  /** The tile-neighbour join under moranI, giStarHotspots, localMoran,
    * focalStats, regionGroup and regionStats: each `probe` row meets every
    * `nbrs` row whose tile lies at one of the `offsets` (du, dv) from its
    * `tile_id`, as `nbr_id` plus the `nbrs` payload.
    *
    * The neighbour id is packed-id arithmetic, tile_id + du·2²⁶ + dv on
    * zoom·2⁵² + x·2²⁶ + y: no unpacking, no range join and no wrap. An
    * offset off the raster (x or y stepping below 0 or past 2^zoom − 1, at
    * zoom < 26) lands on an id that no tile of this zoom has, so it finds
    * nothing; the oracles do the same arithmetic. The offsets ride a per-row
    * generator: a join with an offset table would plan as a
    * BroadcastNestedLoopJoin for no benefit. */
  private[graft] def tileNeighbours(probe: DataFrame, nbrs: DataFrame,
      offsets: Seq[(Int, Int)]): DataFrame = {
    val offArray = offsets
      .map { case (du, dv) => s"struct(CAST($du AS BIGINT) AS du, CAST($dv AS BIGINT) AS dv)" }
      .mkString("array(", ", ", ")")
    probe.select(col("*"), explode(expr(offArray)).as("o"))
      .select(probe.columns.map(col) :+
        (col("tile_id") + col("o.du") * lit(67108864L) + col("o.dv")).as("nbr_id"): _*)
      .join(nbrs.withColumnRenamed("tile_id", "nbr_id"), "nbr_id")
  }

  /** Zonal image statistics: per-zone aggregates of DECODED pixel values —
    * the canonical raster/vector assignment of a geo imagery corpus ("how
    * bright / what color is the average pixel captured inside each city").
    *
    * Pipeline shape (the 100 TB path):
    *   1. decode each lossless image ONCE, map-side, in a partition-batched
    *      typed island (same pattern as ImageOps.decodeFeatures) and reduce
    *      it immediately to four integers (npx, Σr, Σg, Σb) — image bytes
    *      never survive past their own partition, so the shuffle carries
    *      ~40 bytes/image regardless of image size;
    *   2. assign the zone by broadcast point-in-polygon on the geotag;
    *   3. ONE partial-aggregated groupBy(zone).
    *
    * Restricted to lossless formats (bmp/png) by contract: their decode is
    * bit-exact, so the per-zone sums are engine-independent integers (a
    * DuckDB oracle rebuilds the splitmix source pixels from the closed form
    * and must match exactly). Lossy formats would make the sums
    * codec-version-dependent; they are verified separately by the PSNR gate
    * (ImageOps.psnrVsSource), not aggregated here.
    *
    * Means are reported in integer micro-units ((1e6·Σ)÷npx, integral DIV) —
    * exact cross-engine. (Σ·1e6 fits a long up to ~3.6e10 decoded 256-px
    * images per zone; a planetary corpus would widen the mean step, and only
    * it, to DECIMAL.)
    *
    * Input: (image_id, fmt, bytes, lat, lon). Output: one row per zone
    * (zone, n_images, n_px, sum_r, sum_g, sum_b, mean_r/g/b_micro).
    */
  def zonalImageStats(spark: SparkSession, images: DataFrame,
      polys: Array[(String, Array[Array[Double]])],
      defaultZone: String = "Unincorporated"): DataFrame = {
    import spark.implicits._
    val sums = images
      .filter(col("fmt").isin("bmp", "png")) // lossless: decode is bit-exact
      .select("image_id", "fmt", "bytes", "lat", "lon")
      .as[(String, String, Array[Byte], Double, Double)]
      .mapPartitions { it =>
        it.map { case (id, fmt, bytes, lat, lon) =>
          val (rgb, w, h) = Codec.decodeAny(fmt, bytes).getOrElse(
            throw new IllegalStateException(s"lossless decode failed for $id ($fmt)"))
          val (r, g, b) = Codec.channelSums(rgb)
          (id, lat, lon, (w * h).toLong, r, g, b)
        }
      }
      .toDF("image_id", "lat", "lon", "npx", "px_r", "px_g", "px_b")
    sums
      .withColumn("zone",
        fns.point_in_polygon_first(col("lat"), col("lon"), polys, defaultZone))
      .groupBy(col("zone"))
      .agg(
        count(lit(1)).as("n_images"),
        sum(col("npx")).as("n_px"),
        sum(col("px_r")).as("sum_r"),
        sum(col("px_g")).as("sum_g"),
        sum(col("px_b")).as("sum_b"))
      .select(col("zone"), col("n_images"), col("n_px"),
        col("sum_r"), col("sum_g"), col("sum_b"),
        expr("sum_r * 1000000 DIV n_px").as("mean_r_micro"),
        expr("sum_g * 1000000 DIV n_px").as("mean_g_micro"),
        expr("sum_b * 1000000 DIV n_px").as("mean_b_micro"))
  }

  /** Global Moran's I (Moran, Biometrika 1950 — public): ONE spatial-
    * autocorrelation statistic for the whole tile raster — "is density
    * clustered, dispersed, or random" — the global complement of the local
    * Gi* below. Binary 8-neighbor contiguity (self excluded), computed
    * entirely from exact BIGINT sufficient statistics:
    *
    *   I = (N/W) · Σ_pairs (x_i−x̄)(x_j−x̄) / Σ_i (x_i−x̄)²
    *     = (N/W) · (P − 2·x̄·Si + W·x̄²) / (S2 − N·x̄²)
    *
    * with N tiles, W ordered neighbor pairs, P = Σ n_i·n_j over pairs,
    * Si = Σ n_i over pairs, S1/S2 the count moments — five integers and one
    * fixed double dag, mirrored verbatim in the oracle.
    *
    * Scale shape: tile counts = one partial aggregate; pairs = the 8-ring
    * tile-neighbour join; both reductions are distributed and only SIX
    * scalars reach the driver (BM25 pattern), re-emitted as one literal row.
    * Output: one row
    * (n_tiles, w_pairs, p_sum, si_sum, s1_sum, s2_sum, moran_micro).
    */
  def moranI(points: DataFrame, zoom: Int): DataFrame = {
    val tiles = tileCounts(points, zoom)
      .localCheckpoint(true) // reused 3x: moments, probe side, neighbor side
    val pairs = tileNeighbours(tiles.select(col("tile_id"), col("n").as("ni")),
      tiles.select(col("tile_id"), col("n").as("nj")), Ring8)
    val ta = tiles.agg(count(lit(1)).as("nt"),
      sum(col("n")).as("s1"), sum(col("n") * col("n")).as("s2")).head()
    require(ta.getLong(0) > 0, "moranI: no points — the tile moments are undefined")
    val pa = pairs.agg(count(lit(1)).as("wp"), coalesce(sum(col("ni") * col("nj")), lit(0L)),
      coalesce(sum(col("ni")), lit(0L))).head() // no pairs: empty sums are 0
    points.sparkSession.range(1).select(
        lit(ta.getLong(0)).as("n_tiles"), lit(pa.getLong(0)).as("w_pairs"),
        lit(pa.getLong(1)).as("p_sum"), lit(pa.getLong(2)).as("si_sum"),
        lit(ta.getLong(1)).as("s1_sum"), lit(ta.getLong(2)).as("s2_sum"))
      .select(col("n_tiles"), col("w_pairs"), col("p_sum"), col("si_sum"),
        col("s1_sum"), col("s2_sum"),
        // ONE fixed double dag over exact BIGINTs — mirrored verbatim in SQL
        expr("""CASE WHEN n_tiles > 1 AND w_pairs > 0 AND
            CAST(s2_sum AS DOUBLE) - CAST(n_tiles AS DOUBLE)
              * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
              * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)) > 0.0D
          THEN CAST(ROUND(
            (CAST(n_tiles AS DOUBLE) / CAST(w_pairs AS DOUBLE))
            * (CAST(p_sum AS DOUBLE)
               - 2.0D * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)) * CAST(si_sum AS DOUBLE)
               + CAST(w_pairs AS DOUBLE)
                 * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
                 * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)))
            / (CAST(s2_sum AS DOUBLE) - CAST(n_tiles AS DOUBLE)
               * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
               * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)))
            * 1000000.0D) AS BIGINT)
          ELSE CAST(NULL AS BIGINT) END""").as("moran_micro"))
  }

  /** Geofence enter/exit transitions over trajectories: explode each track
    * to (step, point), assign the zone by broadcast point-in-polygon, and
    * emit a row wherever consecutive steps change zone — the event stream a
    * fleet/geo-analytics pipeline derives from raw GPS ("vehicle entered
    * beta at step 17").
    *
    * Scale shape: the explode and PIP are map-side; ONE shuffle partitions
    * by track for the lag window, whose per-track frame is the track length
    * (bounded), carrying only (track_id, step, zone)-sized rows. Output:
    * (track_id, step, from_zone, to_zone) for every transition.
    */
  def geofenceTransitions(tracks: DataFrame,
      polys: Array[(String, Array[Array[Double]])],
      defaultZone: String = "Unincorporated"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("track_id")).orderBy(col("step"))
    tracks
      .select(col("track_id"), posexplode(col("geometry")).as(Seq("step", "pt")))
      .select(col("track_id"), col("step"),
        fns.point_in_polygon_first(col("pt.lat"), col("pt.lon"), polys, defaultZone)
          .as("zone"))
      .withColumn("prev", lag(col("zone"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("zone"))
      .select(col("track_id"), col("step"),
        col("prev").as("from_zone"), col("zone").as("to_zone"))
  }

  /** Getis-Ord Gi* hotspot detection over Web-Mercator tile counts: for each
    * occupied tile, the z-score of its 3×3-neighborhood point-count sum
    * against the global tile-count distribution (binary contiguity weights,
    * self included — the Gi* variant). Classic formula:
    *
    *   Gi* = (Σ_j∈N(i) x_j − x̄·w_i) / (S · sqrt((n·w_i − w_i²)/(n−1)))
    *
    * with n = occupied tiles, x̄/S the global mean/std of tile counts, and
    * w_i = |N(i)∩occupied| (absent tiles carry count 0 and contribute 0 to
    * the neighbor sum; restricting w_i to occupied tiles keeps every input
    * an exact integer).
    *
    * Determinism contract: n, Σx, Σx², w_i, S_i are exact BIGINTs; the
    * z-score is ONE fixed double dag over them (written identically in the
    * DuckDB oracle), reported in rounded integer micro-units.
    *
    * Scale shape: tile counts are one partial-aggregated groupBy (output
    * size = occupied tiles, never points); the neighborhood sum is the
    * tile-neighbour equi-join over the 8-ring plus self; the three global
    * moments are distributed-aggregated and re-enter the plan as literals
    * (BM25 global-stats pattern). At 10^12 points this is the tile-pyramid
    * cost profile, not the corpus's.
    *
    * Input: (lat, lon). Output per occupied tile:
    * (tile_id, n, w_i, s_i, z_micro — null when the variance degenerates).
    */
  def giStarHotspots(points: DataFrame, zoom: Int): DataFrame = {
    val tiles = tileCounts(points, zoom)
      .localCheckpoint(true) // reused 3x: moments, probe side, neighbor side
    // global moments: a fully distributed aggregate whose THREE scalars come
    // back to the driver and re-enter the plan as codegen'd literals (the
    // BM25 global-stats pattern) — no 1-row join shape anywhere
    val g = tiles.agg(
      count(lit(1)).as("nt"),
      sum(col("n")).as("sn"),
      sum(col("n") * col("n")).as("sn2")).head()
    require(g.getLong(0) > 0, "giStarHotspots: no points — the global moments are undefined")
    val (nt, sn, sn2) = (g.getLong(0), g.getLong(1), g.getLong(2))
    val hood = tileNeighbours(tiles.select(col("tile_id")),
        tiles.select(col("tile_id"), col("n").as("nbr_n")), Ring8Self)
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("w_i"), sum(col("nbr_n")).as("s_i"))
    tiles.join(hood, "tile_id")
      .withColumn("nt", lit(nt)).withColumn("sn", lit(sn)).withColumn("sn2", lit(sn2))
      .select(col("tile_id"), col("n"), col("w_i"), col("s_i"),
        // ONE fixed double dag over exact BIGINTs — mirrored verbatim in SQL
        expr("""CASE WHEN nt > 1 AND
            SQRT(GREATEST(0.0D, CAST(sn2 AS DOUBLE)/CAST(nt AS DOUBLE)
              - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*(CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))))
            * SQRT((CAST(nt AS DOUBLE)*CAST(w_i AS DOUBLE) - CAST(w_i AS DOUBLE)*CAST(w_i AS DOUBLE))
                   /(CAST(nt AS DOUBLE) - 1.0D)) > 0.0D
          THEN CAST(ROUND(
            (CAST(s_i AS DOUBLE) - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*CAST(w_i AS DOUBLE))
            / (SQRT(GREATEST(0.0D, CAST(sn2 AS DOUBLE)/CAST(nt AS DOUBLE)
                - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*(CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))))
               * SQRT((CAST(nt AS DOUBLE)*CAST(w_i AS DOUBLE) - CAST(w_i AS DOUBLE)*CAST(w_i AS DOUBLE))
                      /(CAST(nt AS DOUBLE) - 1.0D)))
            * 1000000.0D) AS BIGINT)
          ELSE CAST(NULL AS BIGINT) END""").as("z_micro"))
  }

  /** Spatial coverage-gap ANTI-join: rows of `points` with NO way segment
    * within `maxDistDeg` — the "which images are unmapped / which roads are
    * uncovered" audit every geo corpus runs before training on proximity
    * labels. The inverse of SpatialOps.imageWayCellJoin (J2+J10 composed).
    *
    * Scale shape: ONE left_anti equi-join on the cell key with the distance
    * refine folded into the join condition — no candidate materialization,
    * no distinct, no second shuffle. The segment index absorbs the distance
    * buffer (segmentCells pads each segment bbox by maxDistDeg), which makes
    * the anti-join COMPLETE: any point within maxDistDeg of a segment shares
    * a cell with that segment's padded covering, so a point surviving the
    * anti-join provably has no segment in range. Points are never
    * replicated; the probe stays one row per point.
    */
  def coverageGaps(points: DataFrame, wayData: DataFrame, res: Int,
                   maxDistDeg: Double): DataFrame = {
    val segs = SpatialOps.segmentCells(wayData, res, maxDistDeg)
      .select(col("cell").as("seg_cell"),
        col("lat1"), col("lon1"), col("lat2"), col("lon2"))
      .hint("SHUFFLE_HASH")
    points
      .withColumn("cell", fns.cell_encode(col("lat"), col("lon"), res))
      .join(segs,
        col("cell") === col("seg_cell") &&
          fns.point_seg_dist(col("lat"), col("lon"), col("lat1"), col("lon1"),
            col("lat2"), col("lon2")) <= maxDistDeg,
        "left_anti")
  }

  /** Dwell (stay-segment) detection over GPS trajectories: maximal runs of
    * ≥ `minSteps` consecutive steps whose per-step displacement is at most
    * `epsMicroDeg` (Manhattan, integer microdegrees) — the "vehicle stopped
    * here" / "user lingered" primitive of trajectory mining, and the
    * gaps-and-islands pattern in its spatial form.
    *
    * Determinism contract: each step's displacement is recovered as an exact
    * integer (ROUND(Δ·1e6) of the double coordinate difference — the deltas
    * are integer microdegrees by construction, and the double error is ≪ 0.5
    * µ°), so the slow/fast classification and the island boundaries are
    * engine-exact; the oracle replays the identical window dag over the LCG
    * closed form.
    *
    * Scale shape: map-side explode, ONE shuffle on track_id for the two
    * track-local windows (frames bounded by track length), then a
    * partial-aggregated groupBy per island. Only (track_id, step, 2 longs)
    * survive the explode.
    *
    * Output: (track_id, start_step, end_step, n_steps) per dwell island.
    */
  def dwellSegments(tracks: DataFrame, epsMicroDeg: Long, minSteps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("track_id")).orderBy(col("step"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tracks
      .select(col("track_id"), posexplode(col("geometry")).as(Seq("step", "pt")))
      .withColumn("dlat",
        expr("CAST(ROUND((pt.lat - LAG(pt.lat) OVER (PARTITION BY track_id ORDER BY step)) * 1e6) AS BIGINT)"))
      .withColumn("dlon",
        expr("CAST(ROUND((pt.lon - LAG(pt.lon) OVER (PARTITION BY track_id ORDER BY step)) * 1e6) AS BIGINT)"))
      .filter(col("dlat").isNotNull)
      .withColumn("slow", (abs(col("dlat")) + abs(col("dlon"))) <= epsMicroDeg)
      // island id: count of FAST steps seen so far is constant inside a run
      // of slow steps and bumps between runs
      .withColumn("island", sum(when(col("slow"), 0L).otherwise(1L)).over(cum))
      .filter(col("slow"))
      .groupBy(col("track_id"), col("island"))
      .agg(min(col("step")).as("start_step"), max(col("step")).as("end_step"),
        count(lit(1)).as("n_steps"))
      .filter(col("n_steps") >= minSteps)
      .select(col("track_id"), col("start_step"), col("end_step"), col("n_steps"))
  }

  /** Inverse-distance-weighted (IDW) interpolation with a search radius:
    * for each probe location, the weighted mean of `value` over all samples
    * within `radiusMicroDeg`, weights 1e12 ÷ (1 + d²) with d² in squared
    * integer microdegrees — Shepard's method (1968, public), quantized so
    * every weight and partial sum is an exact integer and the result is
    * partitioning/association/engine-invariant (no double accumulation).
    *
    * Scale shape: the radius pair join (`radiusPairs`, probes as focals),
    * one shuffle for the join, one partial-aggregated groupBy per probe.
    * Both inputs scale to billions of rows.
    *
    * Input: probes (probe_id, u, v), samples (u, v, value) — u/v integer
    * microdegree offsets in the corpus frame (exactness contract); `value`
    * a bounded integer (|value·1e12·n| must fit a long — enforce upstream).
    * Output: (probe_id, n_samples, sum_w, idw_val = ⌊Σv·w ÷ Σw⌋).
    */
  def idwInterpolate(probes: DataFrame, samples: DataFrame,
                     radiusMicroDeg: Long, res: Int,
                     frameLat0: Double = graft.synth.Synth.LAT0,
                     frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    val samp = samples.select(col("u").as("su"), col("v").as("sv"), col("value"))
    radiusPairs(probes, samp, radiusMicroDeg, res, frameLat0, frameLon0)
      .filter(col("d2") <= lit(radiusMicroDeg * radiusMicroDeg))
      .withColumn("wgt", expr("CAST(1000000000000 AS BIGINT) DIV (1 + d2)"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_samples"), sum(col("wgt")).as("sum_w"),
        sum(col("value") * col("wgt")).as("sum_vw"))
      // integral DIV, not double /: Σv·w can exceed 2^53
      .select(col("probe_id"), col("n_samples"), col("sum_w"),
        expr("sum_vw DIV sum_w").as("idw_val"))
  }

  /** Local Moran's I (LISA; Anselin, Geographical Analysis 1995 — public):
    * the per-tile decomposition of the global Moran statistic above — WHICH
    * tiles sit in high-high / low-low clusters vs high-low / low-high
    * outliers. Same raster frame as moranI/giStarHotspots: z-tile counts,
    * binary 8-neighbor contiguity over OCCUPIED tiles, self excluded.
    *
    * Exactness: with N tiles, S1 = Σn, S2 = Σn², the textbook
    *   I_i = (n_i − x̄)·Σ_j∈N(i)(n_j − x̄) / m2
    * factors into two exact BIGINTs over a BIGINT denominator:
    *   f1 = n_i·N − S1,  f2 = s_i·N − w_i·S1,  den = N·S2 − S1²
    *   I_i = f1·f2/den   (the N² frame factors cancel),
    * so the cluster QUADRANT (HH/LL/HL/LH from sign(f1),sign(f2)) is pure
    * integer arithmetic — no float enters the classification — and the
    * reported magnitude is ONE double dag over the three integers, mirrored
    * verbatim in the oracle. Tiles with no occupied neighbor keep w_i = 0
    * (f2 = 0 → 'NA', I_i = 0 exactly).
    *
    * Scale shape: identical to Gi* — one partial-aggregated tile count, the
    * 8-ring tile-neighbour join for the neighborhoods, three global moments
    * reduced to driver scalars that re-enter the plan as codegen'd literals
    * (the BM25 global-stats pattern). Cost is the tile pyramid's, never the
    * corpus's.
    *
    * Input: (lat, lon). Output per occupied tile:
    * (tile_id, n, w_i, s_i, f1, f2, quadrant, i_micro).
    */
  def localMoran(points: DataFrame, zoom: Int): DataFrame = {
    val tiles = tileCounts(points, zoom)
      .localCheckpoint(true) // reused 3x: moments, probe side, neighbor side
    val g = tiles.agg(count(lit(1)).as("nt"), sum(col("n")).as("s1"),
      sum(col("n") * col("n")).as("s2")).head()
    require(g.getLong(0) > 0, "localMoran: no points — the global moments are undefined")
    val (nt, s1) = (g.getLong(0), g.getLong(1))
    val s2 = g.getLong(2)
    val hood = tileNeighbours(tiles.select(col("tile_id")),
        tiles.select(col("tile_id"), col("n").as("nbr_n")), Ring8)
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("w_i"), sum(col("nbr_n")).as("s_i"))
    tiles.join(hood, Seq("tile_id"), "left") // isolated tiles keep w_i = 0
      .select(col("tile_id"), col("n"),
        coalesce(col("w_i"), lit(0L)).as("w_i"),
        coalesce(col("s_i"), lit(0L)).as("s_i"))
      .withColumn("nt", lit(nt)).withColumn("sg", lit(s1)).withColumn("s2g", lit(s2))
      .withColumn("f1", col("n") * col("nt") - col("sg"))
      .withColumn("f2", col("s_i") * col("nt") - col("w_i") * col("sg"))
      .select(col("tile_id"), col("n"), col("w_i"), col("s_i"),
        col("f1"), col("f2"),
        // integer-only cluster classification — no float in the branch
        expr("""CASE WHEN w_i = 0 OR f1 = 0 OR f2 = 0 THEN 'NA'
            WHEN f1 > 0 AND f2 > 0 THEN 'HH'
            WHEN f1 < 0 AND f2 < 0 THEN 'LL'
            WHEN f1 > 0 THEN 'HL' ELSE 'LH' END""").as("quadrant"),
        // ONE fixed double dag over exact BIGINTs — mirrored verbatim in SQL
        expr("""CASE WHEN nt > 1 AND nt * s2g - sg * sg > 0
          THEN CAST(ROUND(CAST(f1 AS DOUBLE) * CAST(f2 AS DOUBLE)
            / (CAST(nt AS DOUBLE) * CAST(s2g AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
            * 1000000.0D) AS BIGINT)
          ELSE CAST(NULL AS BIGINT) END""").as("i_micro"))
  }

  /** Focal (neighborhood) statistics over the tile raster — the classic
    * raster "focal sum/min/max" operator (3×3 window, self included): for
    * each occupied tile, exact integer aggregates of the occupied-neighbor
    * counts. The moving-window primitive under smoothing, gradient, and
    * terrain operators; pure integers, so the oracle re-derives every cell
    * bit-for-bit with no float anywhere.
    *
    * Scale shape: identical to Gi* and LISA — one partial-aggregated tile
    * count, the tile-neighbour join over the 8-ring plus self, one
    * partial-aggregated groupBy. Tile-pyramid cost, never corpus cost.
    *
    * Input: (lat, lon). Output per occupied tile:
    * (tile_id, n, focal_n, focal_sum, focal_min, focal_max).
    */
  def focalStats(points: DataFrame, zoom: Int): DataFrame = {
    val tiles = tileCounts(points, zoom)
      .localCheckpoint(true) // reused 2x: probe side, neighbor side
    val hood = tileNeighbours(tiles.select(col("tile_id")),
        tiles.select(col("tile_id"), col("n").as("nbr_n")), Ring8Self)
      .groupBy(col("tile_id"))
      .agg(count(lit(1)).as("focal_n"), sum(col("nbr_n")).as("focal_sum"),
        min(col("nbr_n")).as("focal_min"), max(col("nbr_n")).as("focal_max"))
    // self is always occupied, so the inner join keeps every tile
    tiles.join(hood, "tile_id")
      .select(col("tile_id"), col("n"), col("focal_n"),
        col("focal_sum"), col("focal_min"), col("focal_max"))
  }

  /** An id-sampled focal subset (pid % sampleMod = 0) of `points` against
    * all of them through `radiusPairs`, self pairs dropped: focals keep
    * their columns, samples are (spid, su, sv) plus `carry`. */
  private def sampledPairs(points: DataFrame, rMicro: Long, res: Int, sampleMod: Long,
      frameLat0: Double, frameLon0: Double, carry: Column*): DataFrame = {
    val samp = points.select(Seq(col("pid").as("spid"), col("u").as("su"),
      col("v").as("sv")) ++ carry: _*)
    radiusPairs(points.filter(col("pid") % sampleMod === 0), samp, rMicro, res,
        frameLat0, frameLon0)
      .filter(col("spid") =!= col("pid"))
  }

  /** Empirical semivariogram (the kriging precursor; Matheron 1963):
    * γ(h) = Σ(z_i − z_j)² / (2·|pairs|) over pair lag-distance annuli
    * (lo, hi] — the spatial-correlation-range diagnostic that says how far
    * a measurement predicts its surroundings. Sampled-focal form: an
    * id-sampled focal set against the full corpus through the radius pair
    * join (`radiusPairs`); distances and squared value differences are
    * exact BIGINTs (µ° and value² units), γ returned as exact milli by
    * integer division. The |lags| output rows are driver scalars re-emitted
    * as literal rows (bounded by construction). At 100 TB: one narrow
    * equi-join shuffle, counts reduce map-side to 2·|lags| scalars. */
  def semivariogram(points: DataFrame, lagsMicroDeg: Seq[Long], res: Int,
                    sampleMod: Long,
                    frameLat0: Double = graft.synth.Synth.LAT0,
                    frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    require(lagsMicroDeg.nonEmpty && lagsMicroDeg == lagsMicroDeg.sorted)
    val cand = sampledPairs(points, lagsMicroDeg.max, res, sampleMod, frameLat0, frameLon0,
        col("value").as("sval"))
      .withColumn("dz2",
        (col("sval") - col("value")) * (col("sval") - col("value")))
    val bounds = (0L +: lagsMicroDeg).zip(lagsMicroDeg)
    val aggs = bounds.flatMap { case (lo, hi) =>
      val in = col("d2") > lit(lo * lo) && col("d2") <= lit(hi * hi)
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$hi"),
        sum(when(in, col("dz2")).otherwise(0L)).as(s"s_$hi"))
    }
    val row = cand.agg(aggs.head, aggs.tail: _*).head()
    val sp = points.sparkSession
    import sp.implicits._
    bounds.zipWithIndex.map { case ((lo, hi), i) =>
      val n = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
      val s = if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)
      (hi, lo, n, s, if (n == 0) 0L else s * 1000L / (2L * n))
    }.toDF("lag_micro", "lag_lo_micro", "n_pairs", "sse", "gamma_milli")
  }

  /** DIRECTIONAL (anisotropic) semivariogram — the kriging-practice
    * extension of `semivariogram`: γ per (lag annulus × direction sector),
    * the anisotropy detector (a field correlated along the coast but not
    * across it has direction-dependent range; fitting one isotropic
    * variogram to it is the classic kriging mistake). Direction sectors
    * use integer comparisons ONLY on the µ° displacement (NS ⟺ |du| ≥
    * 2|dv|, EW ⟺ |dv| ≥ 2|du|, else DIAG — the turn-stats convention, no
    * atan); all sums exact BIGINTs, γ exact-milli. Empty (lag, dir) cells
    * are kept at zero via the literal combo table, so the output shape is
    * fixed. Same radius pair join as the isotropic op. */
  def semivariogramDirectional(points: DataFrame, lagsMicroDeg: Seq[Long],
      res: Int, sampleMod: Long,
      frameLat0: Double = graft.synth.Synth.LAT0,
      frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    require(lagsMicroDeg.nonEmpty && lagsMicroDeg == lagsMicroDeg.sorted)
    val bounds = (0L +: lagsMicroDeg).zip(lagsMicroDeg)
    val lagCol = bounds.foldLeft(lit(null).cast("long")) { case (acc, (lo, hi)) =>
      when(col("d2") > lit(lo * lo) && col("d2") <= lit(hi * hi), lit(hi))
        .otherwise(acc)
    }
    val cand = sampledPairs(points, lagsMicroDeg.max, res, sampleMod, frameLat0, frameLon0,
        col("value").as("sval"))
      .withColumn("du", abs(col("su") - col("u")))
      .withColumn("dv", abs(col("sv") - col("v")))
      .withColumn("dz2",
        (col("sval") - col("value")) * (col("sval") - col("value")))
      .withColumn("lag_micro", lagCol)
      .filter(col("lag_micro").isNotNull)
      .withColumn("dir",
        when(col("du") >= lit(2L) * col("dv"), "ns")
          .when(col("dv") >= lit(2L) * col("du"), "ew")
          .otherwise("diag"))
      .groupBy("lag_micro", "dir")
      .agg(count(lit(1)).as("n_pairs"), sum(col("dz2")).as("sse"))
    val sp = points.sparkSession
    import sp.implicits._
    val combos = lagsMicroDeg.flatMap(l => Seq("diag", "ew", "ns").map(d => (l, d)))
      .toDF("lag_micro", "dir")
    broadcast(combos).join(cand, Seq("lag_micro", "dir"), "left")
      .select(col("lag_micro"), col("dir"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sse"), lit(0L)).as("sse"))
      .withColumn("gamma_milli",
        when(col("n_pairs") === 0L, 0L)
          .otherwise(expr("sse * 1000 div (2 * n_pairs)")))
      .orderBy("lag_micro", "dir")
  }

  /** Tile-coverage entropy — the corpus-balance diagnostic (is the
    * geodata spread over the map or piled into a few hot tiles? the
    * spatial twin of the Heaps/source-mix health checks, and the summary
    * statistic behind q_geo_cap_sample's WHY): Shannon entropy of the
    * z-tile histogram via the exact BIGINT identity ent_num = n·ln9(n) −
    * Σ cnt·ln9(cnt), plus the max-tile share and the Pielou evenness
    * ratio ent/ln(T) — both as floored integer ratios computed in the
    * SAME two-step order in both engines (per_point_nano first, then
    * ppm), so every digit is bit-decided. One tile-keyed count (map-side
    * combinable) + one scalar rollup. */
  def tileCoverageEntropy(points: DataFrame, zoom: Int): DataFrame = {
    val tiles = tileCounts(points, zoom)
    def ln9(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")) * lit(1e9), 0).cast("long")
    tiles.agg(
        sum(col("n")).as("n_points"),
        count(lit(1)).as("n_tiles"),
        sum(col("n") * ln9(col("n"))).as("acc"),
        max(col("n")).as("max_tile_n"))
      .select(col("n_points"), col("n_tiles"),
        (col("n_points") * ln9(col("n_points")) - col("acc")).as("ent_num"),
        col("max_tile_n"),
        expr("1000000 * max_tile_n div n_points").as("max_share_ppm"))
      .withColumn("per_point_nano", expr("ent_num div n_points"))
      .withColumn("evenness_ppm", expr(
        """CASE WHEN n_tiles > 1 THEN 1000000 * per_point_nano div
          |  CAST(round(ln(CAST(n_tiles AS DOUBLE)) * 1e9) AS BIGINT)
          |ELSE 0 END""".stripMargin))
  }

  /** Ripley's K neighbor counts (Ripley, JRSS-B 1977 — public): the
    * point-pattern statistic the tile family can't see — for radii r, the
    * MEAN number of corpus points within r of a focal point (the empirical
    * K numerator K̂(r)·λ̂). Rising-faster-than-πr² means clustering at that
    * scale; the multi-radius profile locates the clustering scale itself,
    * which one Moran/Gi* zoom level cannot.
    *
    * Exactness: distances are squared integer microdegrees (d² ≤ r² on
    * BIGINTs), counts are integers, the mean is an integral DIV in milli —
    * no float anywhere.
    *
    * Scale shape: focals are an id-sampled subset; candidates come from the
    * radius pair join (`radiusPairs`) at maxR; counts reduce to |radii|
    * driver scalars re-emitted as literal rows (the BM25 global-stats
    * pattern). The DuckDB oracle is the quadratic brute force (focals ×
    * corpus) — documented oracle cost, not engine cost.
    *
    * Input: points (pid, u, v) in integer µ° frame offsets. Output per
    * radius: (r_micro, n_focals, n_neighbors, mean_milli).
    */
  def ripleyK(points: DataFrame, radiiMicroDeg: Seq[Long], res: Int,
              sampleMod: Long,
              frameLat0: Double = graft.synth.Synth.LAT0,
              frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    require(radiiMicroDeg.nonEmpty)
    val cand = sampledPairs(points, radiiMicroDeg.max, res, sampleMod, frameLat0, frameLon0)
    val nf = points.filter(col("pid") % sampleMod === 0).count()
    require(nf > 0, s"no focal points at sampleMod=$sampleMod")
    val aggs = radiiMicroDeg.map(r =>
      sum(when(col("d2") <= lit(r * r), 1L).otherwise(0L)).as(s"c_$r"))
    val row = cand.agg(aggs.head, aggs.tail: _*).head()
    val sp = points.sparkSession
    import sp.implicits._
    radiiMicroDeg.zipWithIndex
      .map { case (r, i) =>
        val c = if (row.isNullAt(i)) 0L else row.getLong(i)
        (r, nf, c, c * 1000L / nf)
      }
      .toDF("r_micro", "n_focals", "n_neighbors", "mean_milli")
  }

  /** Nearest-neighbor distance within a bounded radius (the Clark & Evans
    * 1954 point-pattern statistic's per-point ingredient, truncated at R —
    * the truncation is part of the CONTRACT, reproduced exactly by the
    * oracle: focals with no neighbor inside R report min_d2 = −1, never a
    * fabricated distance). Exact squared-µ° BIGINT distances through the
    * radius pair join (`radiusPairs`); min_d_micro = floor(sqrt(min_d2)) is exact (d2 ≤ R² ≤ 4e6 is
    * double-exact, sqrt is correctly rounded in both engines).
    *
    * Input: (pid, u, v). Output per focal (pid % sampleMod == 0):
    * (pid, n_in_disk, min_d2, min_d_micro). */
  def nnDistance(points: DataFrame, rMicro: Long, res: Int,
                 sampleMod: Long,
                 frameLat0: Double = graft.synth.Synth.LAT0,
                 frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    val near = sampledPairs(points, rMicro, res, sampleMod, frameLat0, frameLon0)
      .filter(col("d2") <= lit(rMicro * rMicro))
      .groupBy("pid")
      .agg(count(lit(1)).as("n_in_disk"), min(col("d2")).as("mind2"))
    points.filter(col("pid") % sampleMod === 0).select(col("pid"))
      .join(near, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("n_in_disk"), lit(0L)).as("n_in_disk"),
        coalesce(col("mind2"), lit(-1L)).as("min_d2"),
        when(col("mind2").isNotNull,
          floor(sqrt(col("mind2").cast("double"))).cast("long"))
          .otherwise(lit(-1L)).as("min_d_micro"))
  }

  /** Trajectory turn statistics WITHOUT trigonometry: at every interior
    * point the angle between consecutive segment vectors (exact µ°
    * integers) is classified by sign/cross-multiplied dot products —
    * ≥ 90° ⟺ dot ≤ 0, and ≥ 45° ⟺ dot ≤ 0 ∨ 2·dot² ≤ |a|²·|b|² (the
    * cos² inequality cleared of square roots, valid on the dot > 0
    * branch) — the GPS-noise / zig-zag / drive-style triage that usually
    * reaches for atan2 and loses exactness. Zero-length segments carry no
    * direction and are skipped by contract in both engines. Bounds: step
    * deltas ≤ 1000 µ° keep every product ≤ 4·10¹² — Long-safe with six
    * orders of margin.
    *
    * Scale shape: ZERO shuffles — segments and turns are intra-array, so
    * the whole classification runs in one map-side pass over each track's
    * geometry (typed island, the per-row-loop pattern); the output is
    * already one row per track. (Two rejected cuts: a point-exploded
    * lag/lead window shuffles 40× the rows for data that never leaves its
    * row — 6.0 s at sf0.1; nested index-lambda higher-order functions get
    * their array attributes INLINED by CollapseProject and re-evaluated
    * per element access — superlinear blow-up, minutes at sf0.01.) */
  def turnStats(tracks: DataFrame): DataFrame = {
    val spark = tracks.sparkSession
    import spark.implicits._
    tracks.select(col("track_id"), col("geometry"))
      .as[(Long, Seq[(Double, Double)])]
      .mapPartitions { it =>
        it.flatMap { case (id, pts) =>
          val n = pts.length
          val u = new Array[Long](n); val v = new Array[Long](n)
          var i = 0
          while (i < n) {
            u(i) = Math.round(pts(i)._1 * 1e6); v(i) = Math.round(pts(i)._2 * 1e6)
            i += 1
          }
          var nT = 0L; var n45 = 0L; var n90 = 0L
          var t = 1
          while (t < n - 1) {
            val du = u(t) - u(t - 1); val dv = v(t) - v(t - 1)
            val du2 = u(t + 1) - u(t); val dv2 = v(t + 1) - v(t)
            val a2 = du * du + dv * dv; val b2 = du2 * du2 + dv2 * dv2
            if (a2 > 0 && b2 > 0) {
              nT += 1
              val dot = du * du2 + dv * dv2
              if (dot <= 0) { n45 += 1; n90 += 1 }
              else if (2 * dot * dot <= a2 * b2) n45 += 1
            }
            t += 1
          }
          if (nT > 0) Some((id, nT, n45, n90)) else None
        }
      }.toDF("track_id", "n_turns", "n_sharp45", "n_sharp90")
  }

  /** Kernel density estimate at sampled query locations with the
    * Epanechnikov-family kernel w(d) = max(0, R² − d²) — the spatial
    * smoothing/heat-surface primitive, made EXACT by evaluating the kernel
    * on squared integer µ° distances (a triangular kernel needs sqrt; the
    * parabolic one is a polynomial in d², so every weight and the summed
    * density are BIGINTs). Candidates come from the radius pair join
    * (`radiusPairs`): the kernel's compact support IS its disk bound, so the
    * join prunes exactly the zero-weight pairs.
    *
    * Input: (pid, u, v). Output per focal: (pid, n_in_disk, density). */
  def kernelDensity(points: DataFrame, rMicro: Long, res: Int,
                    sampleMod: Long,
                    frameLat0: Double = graft.synth.Synth.LAT0,
                    frameLon0: Double = graft.synth.Synth.LON0): DataFrame = {
    val near = sampledPairs(points, rMicro, res, sampleMod, frameLat0, frameLon0)
      .filter(col("d2") < lit(rMicro * rMicro))
      .groupBy("pid")
      .agg(count(lit(1)).as("n_in_disk"),
        sum(lit(rMicro * rMicro) - col("d2")).as("density"))
    points.filter(col("pid") % sampleMod === 0).select(col("pid"))
      .join(near, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("n_in_disk"), lit(0L)).as("n_in_disk"),
        coalesce(col("density"), lit(0L)).as("density"))
  }

  /** Self-intersection (loop) detection per trajectory — the GPS-noise /
    * loop-route / bad-track triage: pairs of NON-ADJACENT segments that
    * PROPERLY cross, decided by pure integer orientation SIGN tests on µ°
    * coordinates (o = (Bx−Ax)(Cy−Ay) − (By−Ay)(Cx−Ax); proper crossing ⟺
    * opposite signs on both sides — signs compared, never multiplied, so
    * nothing can overflow and no epsilon exists). Proper-only is the
    * deliberate contract: collinear touches are ambiguous under any
    * epsilon-free rule, sign tests are not. O(L²) per track with L
    * bounded (per-track-window contract), one map-side typed-island pass,
    * zero shuffles.
    *
    * Output: (track_id, n_segs, n_crossings, has_loop). */
  def selfIntersections(tracks: DataFrame): DataFrame = {
    val spark = tracks.sparkSession
    import spark.implicits._
    tracks.select(col("track_id"), col("geometry"))
      .as[(Long, Seq[(Double, Double)])]
      .mapPartitions { it =>
        it.map { case (id, pts) =>
          val n = pts.length
          val u = new Array[Long](n); val v = new Array[Long](n)
          var i = 0
          while (i < n) {
            u(i) = Math.round(pts(i)._1 * 1e6); v(i) = Math.round(pts(i)._2 * 1e6)
            i += 1
          }
          @inline def o(ax: Long, ay: Long, bx: Long, by: Long,
                        cx: Long, cy: Long): Int = {
            val d = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            if (d > 0) 1 else if (d < 0) -1 else 0
          }
          var cross = 0L
          var a = 0
          while (a < n - 1) {
            var b = a + 2 // skip the adjacent segment (shares a vertex)
            while (b < n - 1) {
              val o1 = o(u(a), v(a), u(a + 1), v(a + 1), u(b), v(b))
              val o2 = o(u(a), v(a), u(a + 1), v(a + 1), u(b + 1), v(b + 1))
              val o3 = o(u(b), v(b), u(b + 1), v(b + 1), u(a), v(a))
              val o4 = o(u(b), v(b), u(b + 1), v(b + 1), u(a + 1), v(a + 1))
              if (o1 * o2 < 0 && o3 * o4 < 0) cross += 1
              b += 1
            }
            a += 1
          }
          (id, (n - 1).toLong, cross, cross > 0)
        }
      }.toDF("track_id", "n_segs", "n_crossings", "has_loop")
  }

  /** Region summary statistics — the aggregation layer over `regionGroup`:
    * per labeled region its class, tile count, point mass, and BOUNDARY
    * tile count (tiles with fewer than 4 same-class 4-neighbors — the
    * discrete perimeter). Size + perimeter is what downstream consumers
    * (dissolve, compactness scoring, alert sizing) read off a region map;
    * compactness ∝ area/perimeter² needs exactly these two integers.
    *
    * Scale shape: regionGroup's cost + ONE more 4-cross tile-neighbour join
    * (the same-class neighbor count) + one region-sized groupBy. All
    * integers.
    *
    * Input: (lat, lon). Output per region:
    * (region_id, cls, n_tiles, sum_n, n_boundary).
    */
  def regionStats(points: DataFrame, zoom: Int, t1: Long, t2: Long): DataFrame = {
    val labeled = regionGroup(points, zoom, t1, t2).localCheckpoint(true)
    val sameNbr = sameClassNeighbours(labeled)
      .groupBy(col("tile_id")).agg(count(lit(1)).as("n_same"))
    labeled.join(sameNbr, Seq("tile_id"), "left")
      .withColumn("boundary", coalesce(col("n_same"), lit(0L)) < 4)
      .groupBy(col("region_id"))
      .agg(min(col("cls")).as("cls"), count(lit(1)).as("n_tiles"),
        sum(col("n")).as("sum_n"),
        sum(when(col("boundary"), 1L).otherwise(0L)).as("n_boundary"))
  }

  /** Trajectory HAUSDORFF similarity — the set-distance trajectory
    * comparator (Hausdorff 1914; standard in trajectory clustering/dedup):
    * for paired tracks A, B the directed distance h(A,B) =
    * max_{a∈A} min_{b∈B} d(a,b) and the symmetric H = max(h(A,B), h(B,A)).
    * Reported as SQUARED integer microdegrees — sqrt is monotone, so the
    * squared form orders identically and stays EXACT (the LCG track points
    * are integer µ° by construction, so every d² is an exact BIGINT).
    *
    * Pairing: tracks sampled by id mod `sampleMod`, each paired with the
    * next sampled id (LEAD over the SAMPLE — a bounded window, corpus/
    * sampleMod rows, the documented bounded-window contract).
    *
    * Scale shape: each pair explodes to |A|·|B| point rows (tracks are
    * bounded-length — 40 points here — so 1,600 rows/pair), then TWO
    * partial-aggregated groupBys (min per (pair, step), max per pair) per
    * direction. Linear in pairs, never corpus².
    *
    * Input: (track_id, geometry). Output per pair:
    * (track_id, other_id, h_ab_sq, h_ba_sq, hausdorff_sq).
    */
  def hausdorffPairs(tracks: DataFrame, sampleMod: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sample = tracks.filter(col("track_id") % sampleMod === 0)
      .localCheckpoint(true) // reused 3x: pairing + both point sides
    val w = Window.orderBy(col("track_id")) // bounded: sample-sized
    val pairs = sample
      .select(col("track_id"), lead(col("track_id"), 1).over(w).as("other_id"))
      .filter(col("other_id").isNotNull)
    def pts(side: DataFrame, idCol: String, tag: String) = side
      .select(col("track_id").as(idCol),
        posexplode(col("geometry")).as(Seq(s"${tag}_step", "pt")))
      .select(col(idCol), col(s"${tag}_step"),
        round(col("pt.lat") * 1e6 - 37.0e6, 0).cast("long").as(s"${tag}_u"),
        round(col("pt.lon") * 1e6 + 122.0e6, 0).cast("long").as(s"${tag}_v"))
    val aPts = pts(sample, "track_id", "a")
    val bPts = pts(sample, "other_id", "b")
    def directed(left: DataFrame, right: DataFrame,
                 lId: String, rId: String, lTag: String, rTag: String,
                 out: String) =
      pairs.join(left, lId).join(right, rId)
        .withColumn("d2",
          (col(s"${lTag}_u") - col(s"${rTag}_u")) * (col(s"${lTag}_u") - col(s"${rTag}_u")) +
            (col(s"${lTag}_v") - col(s"${rTag}_v")) * (col(s"${lTag}_v") - col(s"${rTag}_v")))
        .groupBy(col("track_id"), col("other_id"), col(s"${lTag}_step"))
        .agg(min(col("d2")).as("mind2"))
        .groupBy(col("track_id"), col("other_id"))
        .agg(max(col("mind2")).as(out))
    val hab = directed(aPts, bPts, "track_id", "other_id", "a", "b", "h_ab_sq")
    val hba = directed(bPts, aPts, "other_id", "track_id", "b", "a", "h_ba_sq")
    hab.join(hba, Seq("track_id", "other_id"))
      .select(col("track_id"), col("other_id"), col("h_ab_sq"), col("h_ba_sq"),
        greatest(col("h_ab_sq"), col("h_ba_sq")).as("hausdorff_sq"))
  }

  /** Reclassify + region-group — the raster "RECLASSIFY then REGIONGROUP"
    * pair (classic map-algebra operators; cf. Tomlin, Geographic
    * Information Systems and Cartographic Modeling, 1990 — public): occupied
    * tiles are classified into integer bands by count thresholds, then
    * 4-connected runs of SAME-CLASS tiles are labeled as regions (region id
    * = minimum tile id, the established CC convention here). Turns a
    * density surface into discrete named zones ("this contiguous stretch is
    * high-density") — the input to dissolve/choropleth/alerting layers.
    *
    * Scale shape: one partial-aggregated tile count; the 4-cross (N/S/E/W)
    * tile-neighbour join; labeling by the
    * large/small-star CC (O(log n) shuffle rounds, driver sees a 2-long
    * checksum per round, never the graph). Isolated tiles skip the CC
    * entirely (left join + coalesce). All tile-pyramid cost.
    *
    * Input: (lat, lon). Output per occupied tile:
    * (tile_id, n, cls, region_id).
    */
  def regionGroup(points: DataFrame, zoom: Int, t1: Long, t2: Long): DataFrame = {
    require(t1 < t2, s"thresholds must be ordered: $t1 >= $t2")
    val tiles = tileCounts(points, zoom)
      .withColumn("cls",
        when(col("n") < t1, lit(0)).when(col("n") < t2, lit(1)).otherwise(lit(2)))
      .localCheckpoint(true) // reused 3x: probe side, neighbor side, final join
    val edges = sameClassNeighbours(tiles)
      .select(col("tile_id").as("src"), col("nbr_id").as("dst"))
    val comps = GraphOps.connectedComponents(edges)
      .select(col("id").as("tile_id"), col("component"))
    tiles.join(comps, Seq("tile_id"), "left")
      .select(col("tile_id"), col("n"), col("cls"),
        coalesce(col("component"), col("tile_id")).as("region_id"))
  }

  /** (tile_id, cls, nbr_id) for each 4-cross neighbour of the same class. */
  private def sameClassNeighbours(tiles: DataFrame): DataFrame =
    tileNeighbours(tiles.select(col("tile_id"), col("cls")),
        tiles.select(col("tile_id"), col("cls").as("nbr_cls")), Cross4)
      .filter(col("cls") === col("nbr_cls"))

  /** Origin–destination flow matrix over trajectories: each track
    * contributes ONE (origin zone, destination zone) pair — the zone of its
    * first and last GPS point by broadcast point-in-polygon — and flows are
    * counted per ordered zone pair with each origin's outflow share in
    * exact integer parts-per-million. The classic transport-analytics
    * reduction of raw GPS to a zone-to-zone demand matrix.
    *
    * Scale shape: NO explode — first/last are O(1) array lookups map-side,
    * the PIP is a broadcast prepared-polygon expression, and the only
    * shuffle is the partial-aggregated groupBy whose output is bounded by
    * (#zones+1)², not the corpus. The share window runs over that bounded
    * matrix. At 10^12 tracks this is one map pass + one tiny reduce.
    *
    * Input: (track_id, geometry: array<struct<lat,lon>>). Output:
    * (from_zone, to_zone, flows, share_ppm = ⌊flows·10⁶ ÷ origin total⌋).
    */
  def odMatrix(tracks: DataFrame,
      polys: Array[(String, Array[Array[Double]])],
      defaultZone: String = "Unincorporated"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = element_at(col("geometry"), 1)
    val last = element_at(col("geometry"), -1)
    val flows = tracks
      .select(
        fns.point_in_polygon_first(
          first.getField("lat"), first.getField("lon"), polys, defaultZone)
          .as("from_zone"),
        fns.point_in_polygon_first(
          last.getField("lat"), last.getField("lon"), polys, defaultZone)
          .as("to_zone"))
      .groupBy(col("from_zone"), col("to_zone"))
      .agg(count(lit(1)).as("flows"))
    flows
      .withColumn("tot",
        sum(col("flows")).over(Window.partitionBy(col("from_zone"))))
      .select(col("from_zone"), col("to_zone"), col("flows"),
        expr("(flows * 1000000) DIV tot").as("share_ppm"))
  }
}
