package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.exprs.fns

/** Spatial clustering + spatial curation operators over geotagged points —
  * the density layer a 10^12-image geo corpus needs on top of the join
  * engine: DBSCAN cluster labels (place discovery / geo-dedup of photo
  * bursts), per-tile capped sampling (training-data de-biasing of overdense
  * urban tiles), and the multi-zoom density pyramid (the raster side of the
  * raster↔vector assignment).
  *
  * Everything here is DETERMINISTIC (no RNG, no order-dependence) so a
  * DuckDB oracle recomputes every row, and every candidate-generation step
  * is an equi-join or a keyed aggregate — no all-pairs anywhere.
  */
object ClusterOps {

  /** DBSCAN (Ester, Kriegel, Sander, Xu — KDD'96, public) over geotagged
    * points, in the deterministic relational decomposition:
    *
    *   1. ε-neighbor pairs: declared as the NAIVE haversine theta-join of
    *      the point set with itself; the session's DistanceJoinRewrite
    *      optimizer rule turns it into the cell-bucketed equi-join with a
    *      per-row adaptive rectangular disk (same machinery as
    *      q_rule_distance_join — Spark alone would nested-loop it).
    *      Self-pairs are kept: |N_ε(p)| in the paper includes p itself.
    *   2. core points: |N_ε(p)| ≥ minPts — one partially-aggregated count.
    *   3. clusters: connected components of the core–core ε-graph
    *      (GraphOps large/small-star, O(log n) rounds); the cluster id is
    *      the MINIMUM core point id of the component — a canonical label,
    *      unlike textbook DBSCAN's scan-order-dependent integers.
    *   4. border points: non-core points with ≥1 core ε-neighbor join the
    *      MINIMUM cluster id among their core neighbors (textbook DBSCAN
    *      assigns ties by visit order — nondeterministic; min is the
    *      canonical deterministic choice). Everything else is noise.
    *
    * Scale shape: the pair join is cell-bucketed (never all-pairs), counts
    * and component rounds shuffle only (id, id)-sized rows, and the point
    * payload never travels — at 10^12 points the dominant cost is the
    * ε-pair shuffle, which AQE skew-splits on hot cells like every other
    * cell join here. `pairs` is localCheckpointed once because three
    * downstream consumers (counts, core edges, border assignment) would
    * otherwise re-execute the spatial join.
    *
    * Input columns: pid (long), lat, lon. Output: (pid, n_eps, role ∈
    * core|border|noise, cluster — null for noise).
    */
  def dbscan(points: DataFrame, epsMeters: Double, minPts: Int): DataFrame = {
    require(epsMeters > 0.0, "epsMeters must be positive")
    require(minPts >= 1, "minPts must be >= 1")
    graft.plans.GraftPlans.enable(points.sparkSession)
    // NOT spread here: an interleaved A/B measured the extra repartition as
    // a net ~0.7-1 s cost at gate scale — the rewritten ε-join's own
    // exchanges already parallelize everything downstream of the scan
    val a = points.select(col("pid").as("a_id"), col("lat").as("a_lat"), col("lon").as("a_lon"))
    val b = points.select(col("pid").as("b_id"), col("lat").as("b_lat"), col("lon").as("b_lon"))
    val pairs = a.join(b,
        fns.haversine_m(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon"))
          <= lit(epsMeters))
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(true) // reused 3x: counts, core edges, border assign

    val cnt = pairs.groupBy(col("a_id")).agg(count(lit(1)).as("n_eps"))
    val core = cnt.filter(col("n_eps") >= minPts)
      .select(col("a_id").as("id"))
      .localCheckpoint(true) // reused 2x: both sides of the core-edge semi-join

    val coreEdges = pairs
      .join(core.select(col("id").as("a_id")), Seq("a_id"))
      .join(core.select(col("id").as("b_id")), Seq("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // components only cover cores WITH a core neighbor; isolated cores are
    // their own (singleton) cluster
    val comp = GraphOps.connectedComponents(coreEdges, "a_id", "b_id")
    val coreClusters = core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
      .localCheckpoint(true) // reused 2x: core labeling, border assignment

    val borderAssign = pairs.filter(col("a_id") =!= col("b_id"))
      .join(coreClusters.select(col("id").as("b_id"), col("cluster")), Seq("b_id"))
      .groupBy(col("a_id")).agg(min(col("cluster")).as("nbr_cluster"))

    // every point has a self-pair, so `cnt` covers the full point set
    cnt.withColumnRenamed("a_id", "pid")
      .join(coreClusters.withColumnRenamed("id", "pid"), Seq("pid"), "left")
      .join(borderAssign.withColumnRenamed("a_id", "pid"), Seq("pid"), "left")
      .select(col("pid"), col("n_eps"),
        when(col("cluster").isNotNull, "core")
          .when(col("nbr_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("cluster"), col("nbr_cluster")).as("cluster"))
  }

  /** Per-tile capped sampling — the spatial de-biasing stage of a geo
    * training corpus: dense tiles (city centers) contribute at most `cap`
    * images, chosen by a DETERMINISTIC per-row priority (Knuth
    * multiplicative hash of the point id — run/engine/cluster invariant, a
    * keyed analog of TextOps.assignSplit's sampling hash) so the kept set
    * is a stable pseudo-random sample, not head-of-scan-order.
    *
    * Scale shape: ONE shuffle on tile_id + a bounded per-tile rank. The
    * window ranks (hash, pid)-sized rows — payloads join back by pid after
    * the cut, so at 10^12 rows the sort under the window never carries
    * image bytes. A pathological mega-tile (everything geotagged to one
    * spot) is the same hot-key case as every cell join here: AQE splits
    * the sort, or the tile routes through Skew.scala's subdivision.
    *
    * Input columns: pid, lat, lon. Output: kept rows only —
    * (pid, tile_id, priority, rk).
    */
  def capPerTile(points: DataFrame, zoom: Int, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // pid is pre-reduced mod 2^31 before the Knuth multiply so the i64
    // product stays below 2^31·2654435761 < 2^63 for EVERY pid — without
    // it the scramble silently wraps in Spark (and overflows hard in the
    // DuckDB oracle) once ids pass ~3.47e9, well inside 10^12-image scale.
    // The oracle SQL spells the identical pre-reduction.
    val prio = pmod(pmod(col("pid"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L)).as("priority")
    val w = Window.partitionBy(col("tile_id")).orderBy(col("priority"), col("pid"))
    points
      .select(col("pid"), fns.tile_id(col("lat"), col("lon"), zoom).as("tile_id"), prio)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  /** Spatially-buffered train/test split — BLOCK spatial cross-validation
    * with a leakage buffer (Roberts et al. 2017, "Cross-validation
    * strategies for data with temporal, spatial, hierarchical, or
    * phylogenetic structure", Ecography — the standard remedy for spatial
    * autocorrelation leaking test information into training neighbors):
    * whole TILES are assigned to the test split by a deterministic Knuth
    * hash (so co-located points never straddle the split), and every train
    * point whose tile touches a test tile (Chebyshev distance ≤ 1, the 3×3
    * neighborhood; x wraps at the antimeridian, out-of-range y neighbors at
    * the pole rows are simply dropped) is quarantined as `buffer` — dropped
    * from training so no training point sits within one tile of test data.
    *
    * Determinism: the split hash is tile-keyed integer arithmetic
    * ((tile % 1000003) · 2654435761 mod 2^32 — products stay < 2^63, which
    * both engines evaluate exactly), so assignment is identical on every
    * run, engine, and cluster size — assignSplit's guarantee lifted from
    * rows to tiles.
    *
    * Scale shape: the point side is ONE map-side tile computation + ONE
    * equi-join. The dilation runs over the DISTINCT occupied test-tile set
    * (tile-count-sized, ≪ corpus; ~9 rows out per test tile), so the
    * buffer test never touches point×point pairs. Input: (pid, lat, lon).
    * Output: (pid, tile_id, split ∈ test|buffer|train). */
  def spatialSplit(points: DataFrame, zoom: Int, testMod: Int = 10): DataFrame = {
    require(testMod >= 2, "testMod must be >= 2 (1 would put everything in test)")
    val n = 1L << zoom
    def isTest(t: org.apache.spark.sql.Column) =
      pmod(pmod(pmod(t, lit(1000003L)) * lit(2654435761L), lit(4294967296L)),
        lit(testMod.toLong)) === 0
    val pts = points.select(col("pid"),
      fns.tile_id(col("lat"), col("lon"), zoom).as("tile_id"))
    val dilated = pts.filter(isTest(col("tile_id")))
      .select(col("tile_id")).distinct()
      .selectExpr("(tile_id % 4503599627370496L) DIV 67108864L AS tx",
        "tile_id % 67108864L AS ty")
      .selectExpr(s"""explode(transform(sequence(0, 8), o -> named_struct(
          'tx', pmod(tx + o DIV 3 - 1, ${n}L), 'ty', ty + o % 3 - 1))) AS t""")
      .filter(col("t.ty") >= 0 && col("t.ty") < n)
      .selectExpr(s"${zoom}L * 4503599627370496L + t.tx * 67108864L + t.ty AS tile_id")
      .distinct()
      .withColumn("near_test", lit(true))
    pts.join(dilated, Seq("tile_id"), "left")
      .select(col("pid"), col("tile_id"),
        when(isTest(col("tile_id")), "test")
          .when(col("near_test").isNotNull, "buffer")
          .otherwise("train").as("split"))
  }

  /** Per-tile representative selection — the atlas/mosaic building block: for
    * every occupied tile, ONE canonical image, chosen by lexicographic
    * (phash, image_id) minimum (deterministic, engine-independent — no
    * "first seen" scan-order dependence). One partial-aggregated groupBy
    * carrying only (tile, phash, id); the struct-min combines map-side, so
    * the shuffle is one candidate per tile per partition, never the corpus.
    * Input: (image_id, phash, lat, lon). Output: (tile_id, image_id, phash).
    */
  def tileRepresentative(images: DataFrame, zoom: Int): DataFrame =
    images
      .select(fns.tile_id(col("lat"), col("lon"), zoom).as("tile_id"),
        col("phash"), col("image_id"))
      .groupBy(col("tile_id"))
      .agg(min(struct(col("phash"), col("image_id"))).as("m"))
      .select(col("tile_id"), col("m.image_id").as("image_id"), col("m.phash").as("phash"))

  /** Deterministic geo K-means (Lloyd 1957/1982, public) over integer
    * microdegree coordinates — the partitioner a geo corpus needs for
    * balanced shard assignment / IVF-style coarse quantization of locations.
    *
    * Everything that usually makes k-means irreproducible is pinned:
    *   - init: centroid j on a fixed 4×(k/4) grid of the span `s`
    *     ((2·(j%4)+1)·s÷8, (2·(j÷4)+1)·s÷(k/2) for the default k=8) —
    *     closed-form, no RNG, no data-order dependence;
    *   - assignment: argmin of EXACT integer squared distance
    *     (u−cu)²+(v−cv)² (fits a long for any span < 2^31 µ°), ties to the
    *     smaller cluster id via lexicographic (d, j) struct-min;
    *   - update: integer-division centroid means (Σu÷n, Σv÷n) — exact;
    *     empty clusters keep their previous centroid;
    *   - fixed `iters` assignment rounds (no data-dependent convergence
    *     test), so a DuckDB oracle unrolls the identical recurrence.
    *
    * Scale shape: per round ONE partial-aggregated groupBy over (cluster,
    * Σu, Σv, n) — the k centroids come back to the driver and re-enter the
    * next round's plan as literals (the IVF-centroid pattern; k longs, never
    * data). The assignment argmin is a codegen'd expression over a
    * k-element literal array — no join at all.
    *
    * Input: (pid, u, v — integer µ° offsets ≥ 0). Output: one row per point
    * (pid, cluster, cu, cv — the centroid that produced the final
    * assignment).
    */
  def kmeans(points: DataFrame, spanMicroDeg: Long, k: Int = 8, iters: Int = 3): DataFrame = {
    require(k >= 2 && k % 4 == 0, "grid init needs k divisible by 4")
    require(iters >= 1, "iters must be >= 1")
    require(spanMicroDeg > 0 && spanMicroDeg < (1L << 31), "span must fit integer distance math")
    var cents: IndexedSeq[(Long, Long)] = (0 until k).map { j =>
      ((2L * (j % 4) + 1) * spanMicroDeg / 8, (2L * (j / 4) + 1) * spanMicroDeg / (k / 2))
    }
    def argmin(cs: IndexedSeq[(Long, Long)]) = expr(
      cs.zipWithIndex.map { case ((cu, cv), j) =>
        s"struct((u - ${cu}L) * (u - ${cu}L) + (v - ${cv}L) * (v - ${cv}L) AS d, CAST($j AS BIGINT) AS j)"
      }.mkString("array_min(array(", ", ", ")).j"))
    var assigned = points.withColumn("cluster", argmin(cents))
    for (_ <- 2 to iters) {
      val sums = Driver.collectBounded(assigned.groupBy(col("cluster"))
        .agg(sum(col("u")).as("su"), sum(col("v")).as("sv"), count(lit(1)).as("n")),
        k, k * 1024L + (1L << 16), "kmeans centroid sums")
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      cents = cents.zipWithIndex.map { case (prev, j) =>
        sums.get(j.toLong).fold(prev) { case (su, sv, n) => (su / n, sv / n) }
      }
      assigned = points.withColumn("cluster", argmin(cents))
    }
    val cuMap = cents.zipWithIndex
      .map { case ((cu, _), j) => s"CAST($j AS BIGINT), ${cu}L" }.mkString(", ")
    val cvMap = cents.zipWithIndex
      .map { case ((_, cv), j) => s"CAST($j AS BIGINT), ${cv}L" }.mkString(", ")
    assigned.select(col("pid"), col("cluster"),
      expr(s"element_at(map($cuMap), cluster)").as("cu"),
      expr(s"element_at(map($cvMap), cluster)").as("cv"))
  }

  /** Multi-zoom density pyramid — the raster product of the engine: point
    * counts per Web-Mercator tile at `leafZoom`, rolled up level by level
    * to `minZoom`. The leaf level is the only pass over the data; every
    * coarser level aggregates the PREVIOUS level's (tile, n) rows by pure
    * integer parent arithmetic on the packed tile id
    * (zoom·2^52 + x·2^26 + y → parent = (zoom−1)·2^52 + (x÷2)·2^26 + y÷2),
    * so rollup cost scales with the number of DISTINCT tiles, never the
    * corpus — at 10^12 points the z15 leaf has ≤ 2^30 tiles and each level
    * above shrinks ~4×. Output: (zoom, tile_id, n) for every level.
    */
  def tilePyramid(points: DataFrame, leafZoom: Int, minZoom: Int): DataFrame = {
    require(minZoom >= 0 && minZoom <= leafZoom, "need 0 <= minZoom <= leafZoom")
    val leaf = points
      .select(fns.tile_id(col("lat"), col("lon"), leafZoom).as("tile_id"))
      .groupBy(col("tile_id")).agg(count(lit(1)).as("n"))
      .select(lit(leafZoom).as("zoom"), col("tile_id"), col("n"))
    val levels = Iterator.iterate(leaf) { prev =>
      prev.select(
          (col("zoom") - 1).as("zoom"),
          expr("""(zoom - 1) * 4503599627370496L
                 + ((tile_id % 4503599627370496L) DIV 67108864 DIV 2) * 67108864L
                 + (tile_id % 67108864) DIV 2""").as("tile_id"),
          col("n"))
        .groupBy(col("zoom"), col("tile_id")).agg(sum(col("n")).as("n"))
    }.take(leafZoom - minZoom + 1).toSeq
    levels.reduce(_.unionByName(_))
  }

  /** Per-cluster CONVEX-HULL summary: for every spatial cluster, the exact
    * squared diameter (µ°²), hull vertex count, and twice the hull area
    * (µ°², shoelace over integer coords) — the footprint/extent statistics
    * of cluster summarization (atlas thumbnails, extent filters, anomaly
    * flags). Input: (cluster, u, v) member points in integer µ°.
    *
    * Scale shape — the TWO-LEVEL hull: members first group by
    * (cluster, salt) into bounded partial hulls (hull(union) =
    * hull(union of hulls), so partial hulls lose nothing), then the tiny
    * partial-hull vertex unions merge per cluster. No single task ever
    * materializes a mega-cluster's full member list — the same
    * salt-then-merge shape as every skew treatment here. The diameter is
    * computed on hull vertices only (the farthest pair is attained there):
    * O(h²) over a handful of vertices, never O(n²) over members — and the
    * driver gate brute-forces that O(n²) max in SQL, so the hull reduction
    * is oracle-proven, not just unit-tested.
    */
  def clusterHullStats(members: DataFrame, nSalts: Int = 16): DataFrame = {
    val partial = members
      .withColumn("salt", pmod(xxhash64(col("u"), col("v")), lit(nSalts.toLong)))
      .groupBy(col("cluster"), col("salt"))
      .agg(count(lit(1)).as("n_part"),
        fns.convex_hull_uv(
          collect_list(struct(col("u").as("u"), col("v").as("v")))).as("hull"))
    partial
      .groupBy(col("cluster"))
      .agg(sum(col("n_part")).as("n_members"),
        flatten(collect_list(col("hull"))).as("cand"))
      .select(col("cluster"), col("n_members"),
        size(fns.convex_hull_uv(col("cand"))).as("n_hull"),
        fns.hull_diam2(col("cand")).as("diam2"),
        fns.hull_area2(col("cand")).as("area2"))
  }
}
