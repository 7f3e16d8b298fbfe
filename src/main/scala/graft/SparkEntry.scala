package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.Streaming
import graft.synth.Synth
import graft.text.TextOps
import graft.sim.SimOps

/** Driver contract — one entry per implemented operator (SURVEY.md §2), with
  * DuckDB oracle SQL in graft.OracleSql. Column names match between Spark
  * results and oracle SQL (the driver compare sorts columns by name).
  */
object SparkEntry {

  /** Per-query scratch directory, WIPED at each invocation: queries that
    * materialize intermediate files (GeoJSON round-trip, lineage resume)
    * must not accumulate one dump per run on a shared box — each keeps
    * exactly one copy on disk. Namespaced per PROCESS so concurrent runs
    * (bench + tests on a shared box) never wipe each other's in-flight
    * files; the walk stream is closed via try/finally (it holds a file
    * handle until closed). */
  private def scratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_q_scratch_${ProcessHandle.current().pid()}", name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Golden-replay root (the reference's shipped outputs). Resolvable via
    * -Dgraft.golden.dir / GRAFT_GOLDEN_DIR so the registered query surface
    * does not hard-fail on machines without this sandbox's exact layout. */
  private def goldenDir: String =
    sys.props.get("graft.golden.dir")
      .orElse(sys.env.get("GRAFT_GOLDEN_DIR"))
      .getOrElse("/root/reference/data/intersections")

  /** Flagship query on sf0.001: full intersections pipeline (J1+J2-J5+J6,
    * W1, A4-A7, X1) with city assignment. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.features(spark, "/root/testdata/sf0.001")

  /** mutated near-dup twins for the dedup audits: every doc_id % 29 doc
    * gets a +1000000-id copy with ⌈n/2⌉ / n / ⌈3n/2⌉ unique salt tokens
    * appended (by doc_id % 3), landing Jaccard ≈ 0.66 / 0.49 / 0.40 — the
    * gray zone where banded candidate stages genuinely miss. The salt is
    * built BEFORE the doc_id rename (a same-select alias would win
    * lateral-column-alias resolution inside the transform lambda), and only
    * when m ≥ 1 — Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty,
    * so an unguarded append would diverge from the oracle's range(1, 1)
    * on a one-token doc. */
  private def mutatedTwins(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 29 === 0)
      .withColumn("n", size(split(col("text"), " ")))
      .withColumn("m", expr("CAST(((doc_id % 3 + 1) * n) DIV 2 AS INT)"))
      .withColumn("text",
        when(col("m") >= 1, concat(col("text"), lit(" "),
          array_join(transform(sequence(lit(1), col("m")),
            j => concat(lit("q"), col("doc_id").cast("string"), lit("x"),
              j.cast("string"))), " ")))
        .otherwise(col("text")))
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))

  /** events as (ts, event_type, value in integer micros): the feed of the
    * windowed stream twins */
  private def microEvents(s: SparkSession, dir: String): DataFrame =
    Synth.events(s, dir).select(col("ts").cast("timestamp").as("ts"), col("event_type"),
      floor(col("value") * 1e6).cast("double").as("value"))

  /** The id modulus of the sliced replay feeds (q_stream_join,
    * q_stream_left_join, q_stream_geofence). It bounds the replay feed, not
    * the operator, and grows with the corpus past sf0.1: 11 at ≤ 150k
    * orders, the scales every gate runs at (the oracles' literal `% 11`),
    * and 110 at sf1.0, so the feed stays at its sf0.1 size (545,480
    * geofence points) instead of growing O(sf). */
  private def replaySliceMod(s: SparkSession, dir: String): Long =
    11L * math.max(1L, Synth.orders(s, dir).count() / 150000L)

  /** The stream-stream join twins' replay: one sliced image feed whose
    * pings (at base + u % pingSpan s) and captions (every v % 3 = 0 image,
    * offset (v % 360) − 180 s from its ping) are two projections of the
    * same stream, so both sides arrive in the same micro-batch. */
  private def pingCaptionReplay(s: SparkSession, dir: String, table: String, pingSpan: Int)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val base = 1767225600L // 2026-01-01T00:00:00Z
    val feed = Pipeline.geoImages(s, dir)
      .filter(expr(s"CAST(substring(image_id, 4) AS BIGINT) % ${replaySliceMod(s, dir)} = 0"))
      .select(col("image_id"), col("lat"), col("lon"), col("u"), col("v"))
    val pingTs = lit(base) + col("u") % pingSpan
    Streaming.replay(s, feed, table, "append")(f => join(
        f.select(col("image_id"), col("lat"), col("lon"), pingTs.cast("timestamp").as("ts")),
        f.filter(col("v") % 3 === 0)
          .select(col("image_id"), concat(lit("c"), col("image_id")).as("caption"),
            (pingTs + (col("v") % 360) - 180).cast("timestamp").as("ts"))))
      .select(col("image_id"), col("lat"), col("lon"),
        col("ping_sec"), col("cap_sec"), col("caption"))
      .orderBy("image_id", "cap_sec")
  }

  /** the distinct (way_id, node_id) pairs of the raw ways */
  private def wayNodes(s: SparkSession, dir: String): DataFrame = {
    val (_, raw, _) = Pipeline.prepared(s, dir)
    raw.select(col("id").as("way_id"), explode(col("nodes")).as("node_id")).distinct()
  }

  /** the way-adjacency graph: one (src, dst) edge per ordered pair of
    * distinct ways that share at least one node */
  private def wayAdjacency(s: SparkSession, dir: String): DataFrame = {
    val nw = wayNodes(s, dir)
    nw.as("a").join(nw.as("b"), "node_id")
      .filter(col("a.way_id") =!= col("b.way_id"))
      .select(col("a.way_id").as("src"), col("b.way_id").as("dst")).distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- spatial core (reference parity) --------------------------------
    "q_topo_intersections" -> ((s, dir) =>
      Pipeline.topo(s, dir).select(
        col("streets"), col("raw"),
        round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"),
        col("nodeId").cast("string").as("node_id"),
        concat_ws(",", col("wayIds")).as("way_ids"))
        .orderBy("streets", "raw", "node_id")),

    "q_geom_intersections" -> ((s, dir) =>
      Pipeline.geom(s, dir).select(
        col("streets"), col("raw"),
        round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"),
        col("nodeId").as("node_id"),
        concat_ws(",", col("wayIds")).as("way_ids"))
        .orderBy("streets", "raw", "lat", "lon")),

    "q_deadends" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      WayOps.deadEnds(wayData)
        .select(col("node").as("node_id"), concat_ws("/", col("dead_names")).as("dead"))
        .orderBy("node_id")
    }),

    "q_name_propagation" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      wayData.filter(col("src").isin("link", "fake"))
        .select(col("way_id"), col("name"), col("src"))
        .orderBy("way_id")
    }),

    "q_bin_stats" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val cells = GeomIntersections.withBounds(wayData)
        .select(explode(graft.exprs.fns.cells_covering(
          col("min_lat"), col("min_lon"), col("max_lat"), col("max_lon"), 2)).as("cell"))
      cells.groupBy("cell").agg(count(lit(1)).as("n_ways"))
        .orderBy(col("n_ways").desc, col("cell"))
        .limit(20)
    }),

    "q_feature_city" -> ((s, dir) =>
      Pipeline.features(s, dir).select(
        col("streets"), col("raw"), col("lat"), col("lon"),
        col("nodeId").as("node_id"), col("cityName").as("city"))
        .orderBy("streets", "raw", "node_id", "lat", "lon")),

    "q_street_filter" -> ((s, dir) =>
      Pipeline.features(s, dir)
        .filter(col("streets").contains("Main St") && col("streets").rlike("H1(/|$)"))
        .select(col("streets"), col("raw"), col("lat"), col("lon"),
          col("nodeId").as("node_id"), col("cityName").as("city"))
        .orderBy("streets", "raw", "node_id", "lat", "lon")),

    // F16: broadcast fuzzy-pattern table (reference utils_helper.js:16-494
    // shape: canonical + misspelling alternations + NOT entries) rlike-joined
    // against the feature stream, aggregated to per-pattern match counts
    "q_fuzzy_streets" -> ((s, dir) =>
      PatternOps.fuzzyStreetCounts(Pipeline.features(s, dir)).orderBy("canonical")),

    // F16 at reference scale: the full 470-entry generated pattern table
    "q_fuzzy_streets_full" -> ((s, dir) =>
      PatternOps.fuzzyStreetCounts(Pipeline.features(s, dir), PatternOps.fullPatterns)
        .orderBy("canonical")),

    // county partition dimension (reference processAll.sh:5-13 processes one
    // county per run): features stored PARTITIONED BY county, single-county
    // read is pruned at file listing (PartitionFilters, see PatternCountySpec)
    "q_county_pruned" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      val feats = Pipeline.features(s, dir).select("streets", "raw", "lat", "lon")
      val path = PatternOps.countyPartitionedPath(s, feats, g, dir)
      s.read.parquet(path).filter(col("county") === "c1")
        .select(col("streets"), col("raw"), col("lat"), col("lon"), col("county"))
        .orderBy("streets", "raw", "lat", "lon")
    }),

    "q_unincorporated_anti" -> ((s, dir) => {
      val feats = Pipeline.features(s, dir)
      val cityFeats = feats.filter(col("cityName") =!= "Unincorporated")
        .select(col("lat"), col("lon"))
      feats.join(cityFeats, Seq("lat", "lon"), "left_anti")
        .select(col("streets"), col("raw"), col("lat"), col("lon"))
        .orderBy("streets", "raw", "lat", "lon")
    }),

    "q_offset_walk" -> ((s, dir) => {
      import s.implicits._
      val (_, raw, wayData) = Pipeline.prepared(s, dir)
      val reqs = (for {
        r <- Seq(3L, 7L); m <- Seq(-250.0, -100.0, 0.0, 100.0, 250.0, 1e6)
      } yield (r, r * 1000000L + 3L, m)).toDF("way_id", "node_id", "offset_m")
      OffsetOps.offsetAlong(s, raw, reqs).orderBy("way_id", "node_id", "offset_m")
    }),

    "q_geoturf_variant" -> ((s, dir) =>
      Pipeline.geoturfFeatures(s, dir).orderBy("streets", "raw", "lat", "lon")),

    // integer-arithmetic PageRank over the way-adjacency graph (ways
    // sharing >=1 node); 5 fixed iterations, oracle = the same recurrence
    // unrolled as chained CTEs in DuckDB — exact BIGINT match per node
    "q_graph_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(wayAdjacency(s, dir))
        .select(col("id").as("way_id"), col("rank_micro"))
        .orderBy("way_id")),

    // north_star parity item stated verbatim: "reproducing the reference's
    // ... per-way shared-node counts exactly as join output rows" — for
    // every way: node count, how many of its nodes are shared with another
    // way, and the total sharing degree Σ(ways_at_node − 1). One explode +
    // two partial-aggregated groupBys; the oracle rebuilds the way→node
    // relation closed-form for all six way families.
    "q_way_shared_nodes" -> ((s, dir) => {
      val nw = wayNodes(s, dir)
      val deg = nw.groupBy(col("node_id")).agg(count(lit(1)).as("n_ways"))
      nw.join(deg, Seq("node_id"))
        .groupBy(col("way_id"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("n_ways") > 1, 1L).otherwise(0L)).as("shared_nodes"),
          sum(col("n_ways") - 1).as("sharing_degree"))
        .orderBy("way_id")
    }),

    // ---- S6/S7: GeoJSON sink -> source round-trip ------------------------
    // the distributed jsonl sink then the source, gated against the SAME
    // closed-form oracle as the features it serializes: any precision or
    // escaping loss in either direction breaks the hash match
    "q_geojson_roundtrip" -> ((s, dir) => {
      val feats = Pipeline.features(s, dir)
      val path = scratchDir("geojson_rt") + "/features"
      graft.sources.GeoJson.writeJsonl(feats, path)
      graft.sources.GeoJson.readFeatures(s, path)
        .select(col("streets"), col("lat"), col("lon"),
          col("nodeId").cast("string").as("node_id"),
          col("cityName").as("city"))
        .orderBy("streets", "node_id", "lat", "lon")
    }),

    // ---- S2: idempotent ingest / resume ----------------------------------
    // two materialize calls of the same stage on the same input: the first
    // computes and checkpoints, the second must take the skip path (the
    // stage closure runs exactly once — pinned by the stage_runs column) and
    // serve bytes that still match the oracle's recompute from orders
    "q_lineage_resume" -> ((s, dir) => {
      val input = s.read.parquet(s"$dir/orders.parquet")
      val outDir = scratchDir("lineage_resume")
      val runs = new java.util.concurrent.atomic.AtomicInteger(0)
      // revenue summed as integer CENTS: a double SUM over ~5k rows per
      // group is partial-aggregation-order-dependent and could round the
      // 4th decimal differently from DuckDB's sequential sum (same hazard
      // class the events oracles avoid with integer micro-units)
      def stage(df: DataFrame): DataFrame = {
        runs.incrementAndGet()
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100.0, 0).cast("long")).as("revenue_cents"))
      }
      graft.ckpt.Lineage.materialize(s, outDir, input, stage)
      val resumed = graft.ckpt.Lineage.materialize(s, outDir, input, stage)
      resumed.withColumn("stage_runs", lit(runs.get()))
        .orderBy("o_orderstatus")
    }),

    // ---- golden-file replay (real reference output data) -----------------
    // S7/P8/F2 on the reference's own shipped goldens: the full Alpine County
    // output (data/intersections/intersections_Alpine_County.json, 162
    // features) read through the multiline FeatureCollection reader, with
    // clean() applied to the real street strings and the UI's P8 predicate
    // (street substring + city equality, util.js:241-287) evaluated per row.
    // sfDir-independent static data → regression pin.
    "q_golden_alpine" -> ((s, dir) => {
      val feats = graft.sources.GeoJson.readFeatureCollection(s,
        s"$goldenDir/intersections_Alpine_County.json")
      feats.select(
        col("streets"),
        graft.exprs.fns.clean_street_key(col("streets")).as("cleaned"),
        col("nodeId").as("node_id"),
        round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"),
        concat_ws(",", col("wayIds")).as("way_ids"),
        col("cityName").as("city"),
        (col("streets").contains("Trail") &&
          col("cityName") === "Unincorporated").as("p8_match"))
        .orderBy("streets", "node_id", "lat", "lon")
    }),

    // the FULL golden corpus (all 107 shipped county files, 456,428
    // features): per-county feature/geometric/city counts with the county
    // recovered from the file name (F12 on real file names). One glob read
    // with an explicit schema; every shipped reference output is now
    // ingested and gated.
    "q_golden_corpus" -> ((s, dir) => {
      val feats = graft.sources.GeoJson.readFeatureCollections(s,
        s"$goldenDir/*.json")
      feats.groupBy(col("county"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nodeId") === "Geom", 1L).otherwise(0L)).as("n_geom"),
          countDistinct(col("cityName")).as("n_cities"))
        .orderBy("county")
    }),

    // A9 marker counting over the largest golden (San Francisco: 8,116
    // features, 762 nodeId="Geom"): per-city feature counts, geometric-row
    // counts, and how many street keys carry a W1 `_d` suffix (cleaned !=
    // raw) — gates union-type handling + F2 on 8k real names in aggregate.
    "q_golden_sf_summary" -> ((s, dir) => {
      val feats = graft.sources.GeoJson.readFeatureCollection(s,
        s"$goldenDir/intersections_San_Francisco.json")
      feats.groupBy(col("cityName").as("city"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nodeId") === "Geom", 1L).otherwise(0L)).as("n_geom"),
          sum(when(graft.exprs.fns.clean_street_key(col("streets")) =!= col("streets"),
            1L).otherwise(0L)).as("n_suffixed"))
        .orderBy("city")
    }),

    // ---- image-table spatial ops (north_rule workload) ------------------
    "q_image_tiles" -> ((s, dir) =>
      SpatialOps.tileAssign(Pipeline.geoImages(s, dir), 15)
        .select(col("image_id"), col("tile_id"))
        .orderBy("image_id")),

    // Bing quadkey layout roll-up: base-4 interleaved tile keys at z18,
    // rolled up by z16 ancestor prefix — the ancestor-is-a-prefix property
    // is what makes quadkey sort order a multi-zoom physical layout
    "q_image_quadkey" -> ((s, dir) =>
      SpatialOps.quadkeyRollup(Pipeline.geoImages(s, dir), 18, 16)
        .orderBy("qk_prefix")),

    "q_image_city" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      SpatialOps.imageCity(Pipeline.geoImages(s, dir), Synth.cityPolys(g))
        .select(col("image_id"), col("city"))
        .orderBy("image_id")
    }),

    // J6 scale twin: cell-indexed (distributed-polygon) point-in-polygon —
    // must be row-identical to the broadcast path; same oracle SQL
    "q_image_city_indexed" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      SpatialOps.imageCityIndexed(Pipeline.geoImages(s, dir), Synth.cityPolys(g))
        .select(col("image_id"), col("city"))
        .orderBy("image_id")
    }),

    "q_image_knn" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val streets = wayData.filter(col("way_id") < 2000000L)
      SpatialOps.knnWays(Pipeline.geoImages(s, dir), streets, k = 2)
        .select(col("image_id"), col("rk"), col("way_id"), col("name"))
        .orderBy("image_id", "rk")
    }),

    // J7 with the ring EXPANSION doing real work: streets sparsified to
    // every 7th grid line (spacing 0.007° = 7 cells at res 3), so a fixed
    // ring-1 disk would return short/wrong results for most probes — the
    // brute-force oracle over the sparse way set proves expand-until-k
    // correctness at the driver gate, not just in unit tests. Probe set is
    // a deterministic 1/13 slice to keep the widest rounds bounded.
    "q_image_knn_expand" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val sparse = wayData.filter(
        (col("way_id") < 1000000L && col("way_id") % 7 === 0) ||
        (col("way_id") >= 1000000L && col("way_id") < 2000000L &&
          (col("way_id") - 1000000L) % 7 === 0))
      val probes = Pipeline.geoImages(s, dir)
        .filter((col("u") * 31 + col("v")) % 13 === 0)
      // start at ring 2: the sparsified way set (every 7th grid line) leaves
      // 92% of probes unsettled after a ring-1 disk (measured), so the first
      // round is almost pure rework; any start ring is result-identical
      // (settledness is proven per round and the maxRing cap is unchanged)
      SpatialOps.knnWays(probes, sparse, k = 2, ring = 2)
        .select(col("image_id"), col("rk"), col("way_id"), col("name"))
        .orderBy("image_id", "rk")
    }),

    "q_image_way_join" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val streets = wayData.filter(col("way_id") < 2000000L)
      // images within 20 m (manhattan-free: true planar distance ≤ 0.0002°),
      // through the SALTED join path (result-identical to imageWayCellJoin,
      // proven in SkewSpec) so skew handling is exercised by a green oracle
      Skew.saltedImageWayJoin(Pipeline.geoImages(s, dir), streets, res = 3,
        maxDistDeg = 0.0002, hotThreshold = 2000L, nSalts = 8)
        .groupBy(col("way_id"), col("name"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy("way_id")
    }),

    // the ADAPTIVE-SUBDIVISION skew path (north_rule: hot cells "salted AND
    // split via adaptive cell subdivision"): points in hot coarse cells
    // re-key at fine res, segments index hot regions fine / cold coarse —
    // result-identical to the plain and salted paths, gated by the SAME
    // oracle rowset as q_image_way_join
    "q_image_way_join_adaptive" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val streets = wayData.filter(col("way_id") < 2000000L)
      Skew.adaptiveImageWayJoin(Pipeline.geoImages(s, dir), streets,
        resCoarse = 2, resFine = 3, maxDistDeg = 0.0002, hotThreshold = 2000L)
        .groupBy(col("way_id"), col("name"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy("way_id")
    }),

    // spatial coverage-gap ANTI-join (the inverse of q_image_way_join):
    // images with NO street within ~15 m — one left_anti cell join with the
    // distance refine in the join condition, completeness guaranteed by the
    // buffered segment covering. Threshold 150.5 µ° sits strictly between
    // the integer-µ° distances the synthetic world can produce, so the
    // boundary is engine-unambiguous. Oracle: brute-force NOT EXISTS.
    "q_image_coverage_gap" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val streets = wayData.filter(col("way_id") < 2000000L)
      graft.ops.GeoStatsOps.coverageGaps(
          Pipeline.geoImages(s, dir), streets, res = 3, maxDistDeg = 0.0001505)
        .select(col("image_id"), col("u"), col("v"))
        .orderBy("image_id")
    }),

    // IDW (Shepard) interpolation with a 2000 µ° search radius over the
    // image corpus, probed at deterministic track-origin points: integer
    // weights 1e12÷(1+d²) make every partial sum exact, so the DuckDB
    // brute-force mirror must match bit-for-bit; the Spark side generates
    // candidates via a bounded cell-disk equi-join, never a theta join
    "q_geo_idw" -> ((s, dir) => {
      val probes = Synth.orders(s, dir)
        .filter(col("o_orderkey") % 251 === 0)
        .select(col("o_orderkey").as("probe_id"),
          ((col("o_orderkey") % 1000) * 100).as("u"),
          ((col("o_orderkey") % 997) * 100).as("v"))
      val samples = Pipeline.geoImages(s, dir)
        .select(col("u"), col("v"), (col("phash") % 1000).as("value"))
      graft.ops.GeoStatsOps.idwInterpolate(probes, samples,
          radiusMicroDeg = 2000L, res = 3)
        .orderBy("probe_id")
    }),

    // POLYFILL (polygon → res-3 covering cells by center containment):
    // map-side bbox-covering explode + ray-cast per candidate center; the
    // oracle enumerates the lattice and replays the containment as integer
    // µ° comparisons (edges at half-µ° make the boundary unambiguous)
    "q_poly_polyfill" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.ZoneOps.polyfill(
          Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings")),
          res = 3)
        .orderBy("zone", "cell")
    }),

    // COMPACT (H3-compact analog): complete 10×10 sibling blocks of the
    // polyfill promote to their res-2 parent; the oracle re-derives the
    // promotion with a HAVING COUNT(*)=100 group + anti-join
    "q_cells_compact" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.ZoneOps.compact(
          graft.ops.ZoneOps.polyfill(
            Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings")),
            res = 3),
          res = 3, minRes = 2)
        .orderBy("zone", "res", "cell")
    }),

    // AREA-WEIGHTED raster↔vector assignment: exact polygon∩cell overlap
    // areas in quarter-µ°² via per-row Sutherland–Hodgman clip; the oracle
    // computes the same areas closed-form in integer half-µ° arithmetic
    // (gamma = two disjoint rects summed)
    "q_poly_cell_overlap" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.ZoneOps.cellOverlap(
          Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings")),
          res = 3)
        .orderBy("zone", "cell")
    }),

    // AREA-WEIGHTED APPORTIONMENT (dasymetric counting): per-cell image
    // counts distributed over zones by overlap fraction — counts collapse
    // per cell BEFORE the join, exact count·quarter-µ°² integers throughout
    "q_zone_apportion" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.ZoneOps.apportion(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")),
          Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings")),
          res = 3)
        .orderBy("zone")
    }),

    // polygon measures (planar shoelace area + closed-ring perimeter) as
    // pure array folds — Spark's aggregate() is a LEFT fold and DuckDB's
    // list_reduce is too, so the double sums are bit-identical without any
    // integer-scaling tricks. The shoelace runs about a LOCAL ORIGIN (the
    // first vertex): at lon ≈ -122 the raw cross products are ~10^4 while
    // the area is ~10^-4, so the naive form cancels away 12 digits —
    // translating first keeps every term at the area's own scale. JTS
    // getArea/getLength + the exact lattice areas are the independent
    // test oracle (PolySpec).
    "q_poly_measures" -> ((s, dir) => {
      val g = Synth.gridSize(s, dir)
      val n = "size(rings[0]) div 2" // ring is flat [lon,lat,...], 0-indexed
      Synth.boundariesDf(s, g)
        .select(col("name"),
          expr(s"$n").as("n_vertices"),
          expr(
            s"""abs(aggregate(transform(sequence(0, $n - 1), i ->
                 (rings[0][2*i] - rings[0][0]) * (rings[0][2*((i+1) % ($n)) + 1] - rings[0][1])
               - (rings[0][2*((i+1) % ($n))] - rings[0][0]) * (rings[0][2*i + 1] - rings[0][1])),
               cast(0.0 as double), (a, t) -> a + t)) * 0.5""").as("area_deg2"),
          expr(
            s"""aggregate(transform(sequence(0, $n - 1), i ->
                 sqrt((rings[0][2*((i+1) % ($n))] - rings[0][2*i])
                    * (rings[0][2*((i+1) % ($n))] - rings[0][2*i])
                    + (rings[0][2*((i+1) % ($n)) + 1] - rings[0][2*i + 1])
                    * (rings[0][2*((i+1) % ($n)) + 1] - rings[0][2*i + 1]))),
               cast(0.0 as double), (a, t) -> a + t)""").as("perimeter_deg"))
        .orderBy("name")
    }),

    // Douglas-Peucker trajectory simplification over deterministic synthetic
    // GPS walks (1-in-97 sample): per-row map-side kernel, no shuffle. DP is
    // not SQL-expressible → regression pin; the independent check is the
    // JTS DouglasPeuckerSimplifier equality sweep in TrajSpec.
    "q_traj_simplify" -> ((s, dir) => {
      val simp = graft.exprs.fns.simplify_polyline(col("geometry"), 2.0e-4)
      Synth.tracks(s, dir)
        .filter(col("track_id") % 97 === 0)
        .select(col("track_id"), col("geometry"), simp.as("simp"))
        .select(col("track_id"),
          size(col("geometry")).as("n_before"),
          size(col("simp")).as("n_after"),
          round(aggregate(transform(col("simp"), p => p.getField("lat")),
            lit(0.0), (a, x) => a + x), 9).as("lat_sum"),
          round(aggregate(transform(col("simp"), p => p.getField("lon")),
            lit(0.0), (a, x) => a + x), 9).as("lon_sum"))
        .orderBy("track_id")
    }),

    // trajectory length stats: per-segment planar length rounded to 1e-9°
    // BEFORE summing, so the per-track total is an integer sum (exact under
    // any association/partitioning) — one map-side projection, no shuffle,
    // no explode; the whole fold runs inside the array expression
    "q_traj_length" -> ((s, dir) => {
      val seg9 = expr(
        """transform(sequence(0, size(geometry) - 2), i ->
             CAST(round(sqrt((geometry[i+1].lat - geometry[i].lat) *
                             (geometry[i+1].lat - geometry[i].lat) +
                             (geometry[i+1].lon - geometry[i].lon) *
                             (geometry[i+1].lon - geometry[i].lon)) * 1e9, 0)
                  AS BIGINT))""")
      Synth.tracks(s, dir)
        .select(col("track_id"), size(col("geometry")).as("n_points"),
          seg9.as("seg9"))
        .select(col("track_id"), col("n_points"),
          expr("aggregate(seg9, CAST(0 AS BIGINT), (a, x) -> a + x)").as("length9"),
          expr("array_max(seg9)").as("max_step9"))
        .orderBy("track_id")
    }),

    // trajectory map-matching: every GPS point snapped to its provably
    // nearest street (the kNN ring-expansion engine, k=1), then collapsed
    // into ordered way runs per track. TRUE SQL oracle: DuckDB rebuilds the
    // walks from the LCG closed form (a^j mod m powers + integer-microdeg
    // cumulative sums — association-free), brute-forces nearest way, and
    // replays the same run-length collapse.
    "q_traj_map_match" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Synth.gridSize(s, dir)
      val latMax = Synth.LAT0 + (g - 1).toDouble * Synth.STEP
      val lonMax = Synth.LON0 + (g - 1).toDouble * Synth.STEP
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val streets = wayData.filter(col("way_id") < 2000000L)
      val pts = Synth.tracks(s, dir)
        .filter(col("track_id") % 13 === 0)
        .select(col("track_id"), posexplode(col("geometry")))
        .select((col("track_id") * 100 + col("pos")).as("image_id"),
          least(lit(latMax), greatest(lit(Synth.LAT0), col("col.lat"))).as("lat"),
          least(lit(lonMax), greatest(lit(Synth.LON0), col("col.lon"))).as("lon"))
      val w = Window.partitionBy("track_id").orderBy("step")
      SpatialOps.knnWays(pts, streets, k = 1)
        .select(expr("image_id div 100").as("track_id"),
          (col("image_id") % 100).as("step"), col("way_id"))
        .withColumn("flag",
          when(col("way_id") === lag(col("way_id"), 1).over(w), 0L).otherwise(1L))
        .withColumn("seq_idx", sum(col("flag"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("track_id", "seq_idx", "way_id")
        .agg(count(lit(1)).as("n_points"))
        .orderBy("track_id", "seq_idx")
    }),

    // Hilbert-curve range scan: the bbox's covering cells become a short
    // list of curve-position BETWEENs (coarse, file-prunable on a clustered
    // table) refined by the exact bbox predicate — row-identical to the
    // plain bbox filter the oracle runs
    "q_layout_hilbert_scan" -> ((s, dir) =>
      graft.sources.Layout.hilbertRangeScan(
          Pipeline.geoImages(s, dir).select("image_id", "lat", "lon"),
          "lat", "lon", 37.004, -121.997, 37.0085, -121.9912, res = 3)
        .select("image_id", "lat", "lon")
        .orderBy("image_id")),

    // vector→raster line rasterization: the street grid rendered into
    // res-4 pixels (supercover: exactly the pixels the polyline passes
    // through, SAT refine over bbox candidates), per-pixel distinct-way
    // counts — crossings show n_ways = 2. Closed-form oracle: every
    // horizontal way covers one latI row across the grid's lon run, every
    // vertical way one lonI column across the lat run.
    "q_way_raster" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      SpatialOps.rasterizeWays(wayData.filter(col("way_id") < 2000000L), res = 4)
        .orderBy("cell")
    }),

    // raster→vector POLYGONIZE (the closing leg of the raster↔vector pair):
    // 4-connected OFF regions of the street-grid raster = city BLOCKS,
    // labeled by OFF row runs, a union-find per row band and one over the
    // band seams — O(ink + height), never O(raster area). Closed-form oracle:
    // blocks are the cross product of consecutive street-column pixel gaps
    // (width 9, except the Twin pair's 2 and 16) × street-row gaps, with
    // block_id = the packed bottom-left OFF pixel.
    "q_raster_polygonize" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val raster = SpatialOps.rasterizeWays(wayData.filter(col("way_id") < 2000000L), res = 4)
      SpatialOps.polygonizeRaster(raster.select("lon_idx", "lat_idx"))
        .orderBy("block_id")
    }),

    // polygonize capstone: geotagged images assigned to the row-band-labeled
    // blocks by exact integer-pixel containment (cell-bucketed candidates,
    // never a theta join), zero-image blocks kept — block image density.
    // Oracle: closed-form blocks range-joined to the closed-form image
    // pixels in DuckDB.
    "q_image_block_density" -> ((s, dir) => {
      val (_, _, wayData) = Pipeline.prepared(s, dir)
      val raster = SpatialOps.rasterizeWays(wayData.filter(col("way_id") < 2000000L), res = 4)
      val blocks = SpatialOps.polygonizeRaster(raster.select("lon_idx", "lat_idx"))
      SpatialOps.blockImageDensity(blocks, Pipeline.geoImages(s, dir))
        .orderBy("block_id")
    }),

    // geohash encoder (closed-form contract, see GeohashOps): per-cell image
    // counts at precision 7 — TRUE SQL oracle (the bit interleave + base-32
    // mapping is plain integer arithmetic DuckDB reruns verbatim)
    "q_image_geohash" -> ((s, dir) =>
      Pipeline.geoImages(s, dir)
        .select(graft.exprs.fns.geohash(col("lat"), col("lon"), 7).as("geohash"))
        .groupBy("geohash").agg(count(lit(1)).as("n"))
        .orderBy("geohash")),

    "q_image_s2cells" -> ((s, dir) =>
      Pipeline.geoImages(s, dir)
        .select(col("image_id"),
          graft.exprs.fns.s2_cell(col("lat"), col("lon"), 12).as("s2"))
        .groupBy("s2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s2")).limit(20)),

    "q_image_hex7cells" -> ((s, dir) =>
      Pipeline.geoImages(s, dir)
        .select(col("image_id"),
          graft.exprs.fns.hex7_cell(col("lat"), col("lon"), 9).as("hex7"))
        .groupBy("hex7").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("hex7")).limit(20)),

    // Catalyst extension (graft.plans.DistanceJoinRewrite): the query is the
    // NAIVE distance theta-join — Spark alone would nested-loop it — and the
    // injected optimizer rule rewrites it into the cell-bucketed equi-join
    // with a per-row-adaptive disk. The oracle runs the same naive predicate.
    "q_rule_distance_join" -> ((s, dir) => {
      graft.plans.GraftPlans.enable(s)
      val imgs = Pipeline.geoImages(s, dir)
        .select(col("image_id"), col("lat"), col("lon"), col("u"), col("v"))
      val lms = imgs.filter((col("u") * 31 + col("v")) % 997 === 0)
        .select(col("image_id").as("lm_id"), col("lat").as("llat"), col("lon").as("llon"))
      // landmarks first: on equal size estimates the rule explodes the left
      // (small) side into the disk, the big image side keeps one cell per row
      lms.join(imgs, graft.exprs.fns.haversine_m(
          col("llat"), col("llon"), col("lat"), col("lon")) <= lit(150.0))
        .select(col("image_id"), col("lm_id"))
        .orderBy("image_id", "lm_id")
    }),

    // optimizer-rule twin of q_image_phash_dups: the query is the NAIVE
    // Hamming theta-join (bit_count(xor) <= 3 — a BroadcastNestedLoopJoin
    // without the rule); HammingJoinRewrite re-plans it as the 4×16-bit
    // band-blocked equi-join with a first-matching-band conjunct, and the
    // rowset must equal the brute-force oracle exactly
    "q_rule_hamming_join" -> ((s, dir) => {
      graft.plans.GraftPlans.enable(s)
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0, withBytes = false)
        .select(col("image_id"), col("phash"))
      val all = base.unionByName(base.filter(col("phash") % 64 === 0)
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(5L)).as("phash")))
      val l = all.select(col("image_id").as("id1"), col("phash").as("p1"))
      val r = all.select(col("image_id").as("id2"), col("phash").as("p2"))
      l.join(r, col("id1") < col("id2") &&
          bit_count(col("p1").bitwiseXOR(col("p2"))) <= lit(3))
        .select(col("id1"), col("id2"),
          bit_count(col("p1").bitwiseXOR(col("p2"))).cast("int").as("hamming"))
        .orderBy("id1", "id2")
    }),

    // Catalyst extension (graft.plans.RangeJoinRewrite): the query is the
    // NAIVE point-in-interval theta-join (BETWEEN — a BroadcastNestedLoopJoin
    // without the rule); the injected rule re-plans it as the bin-bucketed
    // equi-join with the original predicate as the exact refinement. Promo
    // windows are pure integer arithmetic over orders keys rebased onto the
    // events month, so the oracle rebuilds them verbatim and brute-forces
    // the same BETWEEN join.
    "q_rule_range_join" -> ((s, dir) => {
      graft.plans.GraftPlans.enable(s)
      s.conf.set(graft.plans.RangeJoinRewrite.BinConfKey, "3600000000")
      // spread both single-split scans: the rewritten join's refine +
      // partial aggregate fuse into the stage whose width AQE local reads
      // inherit from the SCAN maps (measured: 1 task, 1.0 s CPU)
      val ev = graft.ops.Par.spread(s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("p")),
        col("event_id"))
      val promoS = (lit(1704067200000000L) +
        ((col("o_orderkey") * lit(40503L)) % lit(2592000L)) * lit(1000000L))
      val promoE = promoS +
        (lit(300L) + (col("o_orderkey") % lit(97L)) * lit(60L)) * lit(1000000L)
      val iv = graft.ops.Par.spread(s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), promoS.as("s"), promoE.as("e")),
        col("o_orderkey"))
      iv.join(ev, col("p") >= col("s") && col("p") <= col("e"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_eid"))
        .orderBy("o_orderkey")
    }),

    // interval-OVERLAP twin through the same rule: order promo windows ×
    // per-event activity windows, the NAIVE overlap theta-join
    // (sA <= eB AND sB <= eA) re-planned as the binned equi-join with a
    // first-shared-bin conjunct — each overlapping pair exactly once, no
    // dedup shuffle. Brute-force overlap join is the oracle.
    "q_events_interval_join" -> ((s, dir) => {
      graft.plans.GraftPlans.enable(s)
      s.conf.set(graft.plans.RangeJoinRewrite.BinConfKey, "3600000000")
      val promoS = (lit(1704067200000000L) +
        ((col("o_orderkey") * lit(40503L)) % lit(2592000L)) * lit(1000000L))
      val promoE = promoS +
        (lit(300L) + (col("o_orderkey") % lit(97L)) * lit(60L)) * lit(1000000L)
      // spread: same 1-wide refine stage as q_rule_range_join
      val iv = graft.ops.Par.spread(s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), promoS.as("s"), promoE.as("e")),
        col("o_orderkey"))
      val aw = graft.ops.Par.spread(s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("s2"),
          (unix_micros(col("ts").cast("timestamp")) +
            (lit(60L) + col("event_id") % lit(540L)) * lit(1000000L)).as("e2")),
        col("event_id"))
      iv.join(aw, col("s") <= col("e2") && col("s2") <= col("e"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_overlaps"), sum(col("event_id")).as("sum_eid"))
        .orderBy("o_orderkey")
    }),

    // ---- spatial clustering + spatial curation --------------------------
    // DBSCAN over the geotagged image corpus: ε-pairs via the SAME
    // DistanceJoinRewrite cell join as q_rule_distance_join, core points by
    // neighborhood count, clusters as connected components of the
    // core-core ε-graph (min-core-id canonical labels), deterministic
    // min-cluster border assignment. The oracle replays the whole
    // decomposition: integer-cell candidate join + identical haversine
    // refine + recursive-CTE closure.
    "q_geo_dbscan" -> ((s, dir) =>
      graft.ops.ClusterOps.dbscan(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("lat"), col("lon")),
          epsMeters = 60.0, minPts = 4)
        .orderBy("pid")),

    // UNCOMPACT (the compact inverse): expanding the compacted covering
    // must reproduce the uniform polyfill EXACTLY — gated on the very same
    // lattice oracle as q_poly_polyfill
    "q_cells_uncompact" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      val zones = Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings"))
      graft.ops.ZoneOps.uncompact(
          graft.ops.ZoneOps.compact(graft.ops.ZoneOps.polyfill(zones, 3), 3, 2),
          targetRes = 3, minRes = 2)
        .orderBy("zone", "cell")
    }),

    // quadtree (Web-Mercator tile) compaction — the generic compactBy
    // engine at aperture 4: occupied z16 image tiles promote through
    // complete quads down to z13; the oracle unrolls all three levels as
    // HAVING COUNT(*)=4 CTEs over the same closed-form tile arithmetic
    "q_tiles_compact" -> ((s, dir) => {
      val leaves = Pipeline.geoImages(s, dir)
        .select(graft.exprs.fns.tile_id(col("lat"), col("lon"), 16).as("cell"))
        .distinct().withColumn("zone", lit("all"))
      graft.ops.ZoneOps.compactTiles(leaves, zoom = 16, minZoom = 13)
        .select(col("res").as("zoom"), col("cell").as("tile_id"))
        .orderBy("zoom", "tile_id")
    }),

    // per-cluster convex-hull extent summary: exact squared diameters of
    // the DBSCAN clusters via the TWO-LEVEL hull (salted partial hulls →
    // merge), diameter computed on hull vertices only — the oracle
    // brute-forces the O(n²) pairwise max in SQL over the same
    // recursive-CTE clusters, so the hull reduction is oracle-proven
    "q_cluster_hull_diam" -> ((s, dir) => {
      val pts = Pipeline.geoImages(s, dir).select(
        expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
        col("lat"), col("lon"), col("u"), col("v"))
      val db = graft.ops.ClusterOps.dbscan(
          pts.select(col("pid"), col("lat"), col("lon")), epsMeters = 60.0, minPts = 4)
        .filter(col("cluster").isNotNull).select(col("pid"), col("cluster"))
      graft.ops.ClusterOps.clusterHullStats(
          db.join(pts.select(col("pid"), col("u"), col("v")), Seq("pid")))
        .select(col("cluster"), col("n_members"), col("diam2"))
        .orderBy("cluster")
    }),

    // POLYGON×POLYGON intersection join (both sides tables, neither
    // broadcast): DBSCAN cluster extents × city zones via shared covering
    // cells + exact clip refine; the oracle brute-forces all cluster×zone
    // rect overlaps closed-form in half-µ° integers
    "q_cluster_zone_join" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      val pts = Pipeline.geoImages(s, dir).select(
        expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
        col("lat"), col("lon"), col("u"), col("v"))
      val db = graft.ops.ClusterOps.dbscan(
          pts.select(col("pid"), col("lat"), col("lon")), epsMeters = 60.0, minPts = 4)
        .filter(col("cluster").isNotNull).select(col("pid"), col("cluster"))
      val extents = db.join(pts.select(col("pid"), col("u"), col("v")), Seq("pid"))
        .groupBy(col("cluster").as("id"))
        .agg(min(col("u")).as("uLo"), max(col("u")).as("uHi"),
          min(col("v")).as("vLo"), max(col("v")).as("vHi"))
      graft.ops.ZoneOps.extentZoneJoin(extents,
          Synth.boundariesDf(s, g).select(col("name").as("zone"), col("rings")),
          res = 3)
        .select(col("id").as("cluster"), col("zone"), col("overlap_q4"))
        .orderBy("cluster", "zone")
    }),

    // per-tile capped sampling (spatial de-biasing): dense tiles keep at
    // most `cap` images by deterministic Knuth-hash priority
    "q_geo_cap_sample" -> ((s, dir) =>
      graft.ops.ClusterOps.capPerTile(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("lat"), col("lon")),
          zoom = 15, cap = 16)
        .orderBy("pid")),

    // spatially-buffered train/test split (block spatial CV with a leakage
    // buffer): whole z15 tiles hash to the test split, train points within
    // one tile of any test tile are quarantined as 'buffer'; the oracle
    // replays the tile hash + 3×3 dilation over the distinct test-tile set
    "q_geo_spatial_split" -> ((s, dir) =>
      graft.ops.ClusterOps.spatialSplit(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("lat"), col("lon")),
          zoom = 15, testMod = 10)
        .orderBy("pid")),

    // multi-zoom density pyramid: z15 leaf counts rolled up to z11 by pure
    // integer parent arithmetic on the packed tile id
    "q_geo_tile_pyramid" -> ((s, dir) =>
      graft.ops.ClusterOps.tilePyramid(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")),
          leafZoom = 15, minZoom = 11)
        .orderBy("zoom", "tile_id")),

    // global Moran's I over z14 tile counts: is the corpus's spatial
    // density clustered/dispersed/random — five exact BIGINT sufficient
    // statistics, one shared double dag (the global twin of q_geo_hotspots)
    "q_geo_moran" -> ((s, dir) =>
      graft.ops.GeoStatsOps.moranI(
        Pipeline.geoImages(s, dir).select(col("lat"), col("lon")), zoom = 14)),

    // focal (3×3 moving-window) statistics over z14 tile counts: exact
    // integer neighborhood sum/min/max per occupied tile — the raster
    // smoothing/gradient primitive, all-integer oracle
    "q_geo_focal" -> ((s, dir) =>
      graft.ops.GeoStatsOps.focalStats(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")), zoom = 14)
        .orderBy("tile_id")),

    // reclassify + region-group: occupied z14 tiles banded by count
    // thresholds (50/200), 4-connected same-class runs labeled by the
    // large/small-star CC (region id = min tile id); the oracle closes the
    // same-class adjacency with a recursive CTE
    "q_geo_region_group" -> ((s, dir) =>
      graft.ops.GeoStatsOps.regionGroup(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")),
          zoom = 14, t1 = 50L, t2 = 200L)
        .orderBy("tile_id")),

    // Ripley's K neighbor counts at three radii (500/1000/2000 µ°): exact
    // integer d² counts from the bounded cell-disk join over an id-sampled
    // focal set; the oracle brute-forces focals × corpus (oracle cost)
    "q_geo_ripley_k" -> ((s, dir) =>
      graft.ops.GeoStatsOps.ripleyK(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v")),
          radiiMicroDeg = Seq(500L, 1000L, 2000L), res = 3, sampleMod = 50L)
        .orderBy("r_micro")),

    // Epanechnikov-kernel density at sampled focals: w = max(0, R² − d²)
    // is a polynomial in exact integer d², so the density surface is
    // BIGINT-exact; compact support = the cell-disk bound
    "q_geo_kde" -> ((s, dir) =>
      graft.ops.GeoStatsOps.kernelDensity(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v")),
          rMicro = 2000L, res = 3, sampleMod = 50L)
        .orderBy("pid")),

    // nearest-neighbor distance within R=2000µ° (Clark & Evans 1954
    // ingredient, truncation-exact): per sampled focal the min d² over the
    // bounded cell-disk join; no-neighbor focals report −1, never a
    // fabricated distance. Oracle brute-forces focals × corpus under the
    // safe bbox prefilter (oracle cost)
    "q_geo_nn" -> ((s, dir) =>
      graft.ops.GeoStatsOps.nnDistance(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v")),
          rMicro = 2000L, res = 3, sampleMod = 50L)
        .orderBy("pid")),

    // empirical semivariogram (Matheron 1963): γ(h) per lag annulus over a
    // trend+nugget field val = (u+v) DIV 10 + h1 % 257 — the kriging
    // precursor that measures spatial correlation range; sampled focals ×
    // corpus through the ripleyK bounded cell-disk equi-join, exact BIGINT
    // d² and Δz², γ as exact milli. Oracle = quadratic brute force under
    // the safe bbox prefilter
    "q_geo_variogram" -> ((s, dir) =>
      graft.ops.GeoStatsOps.semivariogram(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v"),
            expr("(u + v) DIV 10 + (phash DIV 2147483648) % 257").as("value")),
          lagsMicroDeg = Seq(500L, 1000L, 2000L), res = 3, sampleMod = 50L)
        .orderBy("lag_micro")),

    // tile-coverage entropy (corpus spatial-balance diagnostic): the exact
    // BIGINT entropy identity over the z14 tile histogram + max-tile share
    // and Pielou evenness, identical two-step floored ratios both engines
    "q_geo_tile_entropy" -> ((s, dir) =>
      graft.ops.GeoStatsOps.tileCoverageEntropy(
        Pipeline.geoImages(s, dir).select(col("lat"), col("lon")), zoom = 14)),

    // DIRECTIONAL semivariogram (anisotropy detection): γ per lag × sector
    // (NS/EW/diag by integer comparisons); the trend field (u+v) DIV 10
    // is anisotropic BY CONSTRUCTION (constant along the anti-diagonal,
    // steepest along the diagonal), so γ separates strongly by sector —
    // 12.1k/9.95k/8.15k milli at lag 1000 (diag/ns/ew at sf0.1) — the
    // non-vacuity witness the oracle re-derives
    "q_geo_variogram_aniso" -> ((s, dir) =>
      graft.ops.GeoStatsOps.semivariogramDirectional(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v"),
            expr("(u + v) DIV 10 + (phash DIV 2147483648) % 257").as("value")),
          lagsMicroDeg = Seq(1000L, 2000L), res = 3, sampleMod = 50L)
        .orderBy("lag_micro", "dir")),

    // region summary statistics: per region-group region its class, tile
    // count, point mass, and discrete-perimeter boundary count — the
    // dissolve/compactness layer; all-integer oracle closes the same CC
    "q_geo_region_stats" -> ((s, dir) =>
      graft.ops.GeoStatsOps.regionStats(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")),
          zoom = 14, t1 = 50L, t2 = 200L)
        .orderBy("region_id")),

    // local Moran's I (LISA): the per-tile decomposition of q_geo_moran —
    // HH/LL cluster vs HL/LH outlier quadrants from two exact BIGINT sign
    // factors, magnitude via the one shared double dag
    "q_geo_lisa" -> ((s, dir) =>
      graft.ops.GeoStatsOps.localMoran(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")), zoom = 14)
        .orderBy("tile_id")),

    // per-tile canonical representative (atlas/mosaic building block):
    // lexicographic (phash, image_id) struct-min per occupied z15 tile
    "q_tile_rep" -> ((s, dir) =>
      graft.ops.ClusterOps.tileRepresentative(
          Pipeline.geoImages(s, dir).select(
            col("image_id"), col("phash"), col("lat"), col("lon")), zoom = 15)
        .orderBy("tile_id")),

    // geofence enter/exit events over GPS trajectories: per-step broadcast
    // PIP zones, lag-window transition detection; the oracle rebuilds every
    // walk point in exact integer microdegrees (the q_traj_length LCG
    // machinery) and replays the same zone CASE + LAG
    "q_traj_geofence" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.GeoStatsOps.geofenceTransitions(
          Synth.tracks(s, dir), Synth.cityPolys(g))
        .orderBy("track_id", "step")
    }),

    // origin–destination flow matrix: one (first-point zone, last-point
    // zone) pair per track, counted per ordered zone pair with exact ppm
    // outflow shares — no explode, one bounded groupBy; the oracle rebuilds
    // each track's endpoint from the LCG delta total (no window needed)
    "q_traj_od_matrix" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.GeoStatsOps.odMatrix(Synth.tracks(s, dir), Synth.cityPolys(g))
        .orderBy("from_zone", "to_zone")
    }),

    // zonal line statistics: total way length inside each city — every way
    // segment Liang–Barsky-clipped against the rectilinear zone
    // decomposition, per-segment integer nanodegree lengths; the oracle
    // rebuilds every grid/motorway/link segment from the synth closed form
    // and replays the identical clip dag
    "q_zone_way_length" -> ((s, dir) => {
      val (g, raw, _) = Pipeline.prepared(s, dir)
      val segs = raw
        .select(col("id").as("way_id"),
          explode(expr(
            """transform(sequence(0, size(geometry) - 2), i -> struct(
                 geometry[i].lat as lat1, geometry[i].lon as lon1,
                 geometry[i+1].lat as lat2, geometry[i+1].lon as lon2))""")).as("seg"))
        .select(col("way_id"),
          col("seg.lat1"), col("seg.lon1"), col("seg.lat2"), col("seg.lon2"))
      graft.ops.ZoneOps.zonalLineLength(segs, Synth.cityRects(s, g))
        .orderBy("zone")
    }),

    // trajectory Hausdorff similarity: sampled track pairs (id mod 50,
    // LEAD pairing), exact squared-µ° directed distances both ways; the
    // oracle rebuilds every sampled point from the LCG closed form and
    // brute-forces the same max-min
    "q_traj_hausdorff" -> ((s, dir) =>
      graft.ops.GeoStatsOps.hausdorffPairs(Synth.tracks(s, dir), sampleMod = 50L)
        .orderBy("track_id")),

    // dwell (stay-segment) detection: maximal runs of ≥3 consecutive steps
    // with Manhattan displacement ≤ 800 µ° — gaps-and-islands over the
    // track windows; the oracle rebuilds every step delta from the LCG
    // closed form and replays the identical window dag
    "q_traj_dwell" -> ((s, dir) =>
      graft.ops.GeoStatsOps.dwellSegments(
          Synth.tracks(s, dir), epsMicroDeg = 800L, minSteps = 3)
        .orderBy("track_id", "start_step")),

    // deterministic geo K-means (k=8, 3 Lloyd rounds, closed-form grid
    // init, exact integer µ° distance/means): the oracle unrolls the
    // identical recurrence — grid-init CTE, (d, j) row_number argmin,
    // integer-division centroid updates with empty-cluster carryover
    "q_geo_kmeans" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.ClusterOps.kmeans(
          Pipeline.geoImages(s, dir).select(
            expr("CAST(substring(image_id, 4) AS BIGINT)").as("pid"),
            col("u"), col("v")),
          spanMicroDeg = (g - 1) * 1000L, k = 8, iters = 3)
        .orderBy("pid")
    }),

    // zonal statistics over DECODED imagery (raster↔vector): per-city exact
    // integer pixel-channel sums + micro-unit means, lossless fmts only —
    // the oracle rebuilds every pixel from the splitmix closed form and
    // re-runs the same integer-cell city CASE, so all nine columns must
    // match bit-for-bit
    "q_geo_zonal_stats" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      graft.ops.GeoStatsOps.zonalImageStats(s,
          Pipeline.geoImages(s, dir, withBytes = true), Synth.cityPolys(g))
        .orderBy("zone")
    }),

    // Getis-Ord Gi* hotspot detection over z14 tile counts: exact BIGINT
    // moments + neighborhood sums, ONE shared double z-score dag mirrored
    // verbatim in the oracle, reported in rounded micro-units
    "q_geo_hotspots" -> ((s, dir) =>
      graft.ops.GeoStatsOps.giStarHotspots(
          Pipeline.geoImages(s, dir).select(col("lat"), col("lon")), zoom = 14)
        .orderBy("tile_id")),

    // synchronous label propagation (Raghavan et al. 2007): 3 rounds of
    // most-frequent-neighbor-label with (count DESC, label ASC) argmax
    // over the way node-sharing graph; the oracle unrolls the identical
    // rounds — synchronous updates make it schedule-independent
    "q_graph_label_prop" -> ((s, dir) =>
      GraphOps.labelPropagation(wayAdjacency(s, dir), rounds = 3)
        .select(col("id").as("way_id"), col("lbl"))
        .orderBy("way_id")),

    // bounded-hop shortest paths over the way-adjacency graph (4 rounds of
    // Bellman-Ford from the motorway + fake-name ways, deterministic
    // (src+dst)%97+1 weights); the oracle unrolls the identical recurrence
    "q_graph_khop_dist" -> ((s, dir) => {
      val sess = s; import sess.implicits._
      graft.ops.GraphOps.boundedDistances(
          wayAdjacency(s, dir).withColumn("w", expr("(src + dst) % 97 + 1")),
          Seq(2000000L, 6000000L).toDF("id"), hops = 4)
        .select(col("id").as("way_id"), col("dist"))
        .orderBy("way_id")
    }),

    // bounded-hop shortest-path TREE: khop's graph/seeds/weights plus a
    // deterministic predecessor per node (lexicographic (dist, pred) min,
    // sources pred = −1) — routes reconstructible by walking pred links;
    // the oracle unrolls the identical argmin recurrence
    "q_graph_sp_tree" -> ((s, dir) => {
      val sess = s; import sess.implicits._
      graft.ops.GraphOps.boundedPaths(
          wayAdjacency(s, dir).withColumn("w", expr("(src + dst) % 97 + 1")),
          Seq(2000000L, 6000000L).toDF("id"), hops = 4)
        .select(col("id").as("way_id"), col("dist"), col("pred"))
        .orderBy("way_id")
    }),

    // ---- documents: text analysis + dedup -------------------------------
    "q_doc_tokens" -> ((s, dir) =>
      TextOps.tokenStats(Synth.documents(s, dir)).orderBy("doc_id")),

    "q_doc_quality" -> ((s, dir) =>
      TextOps.qualityScore(Synth.documents(s, dir)).orderBy("doc_id")),

    "q_doc_langid" -> ((s, dir) =>
      TextOps.langId(Synth.documents(s, dir)).orderBy("doc_id")),

    "q_doc_dedup_exact" -> ((s, dir) =>
      TextOps.dedupExact(Synth.documents(s, dir)).orderBy("keep_doc_id")),

    "q_doc_jaccard_pairs" -> ((s, dir) =>
      TextOps.ngramJaccardPairs(Synth.documents(s, dir), 0.05)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")),

    "q_doc_minhash_lsh" -> ((s, dir) =>
      TextOps.minHashLshPairs(Synth.documents(s, dir), jaccardMin = 0.2)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")),

    // asymmetric containment pairs (crawl-snapshot detector): C ≥ 0.5 with
    // the ≤4× bounded-growth contract — prefix-filter-complete at
    // J ≥ 0.5/5 = 0.1; the oracle brute-forces the same class
    "q_doc_containment" -> ((s, dir) =>
      TextOps.containmentPairs(Synth.documents(s, dir), cMin = 0.5)
        .orderBy("id1", "id2")),

    // TF-IDF keyword extraction: top-3 tf·ln(N/df) terms per doc, idf
    // nano-rounded to exact integers (the bigram-ppl LN convention), ties
    // by (score DESC, term ASC); doc-bounded window frames
    "q_doc_tfidf" -> ((s, dir) =>
      TextOps.tfidfKeywords(Synth.documents(s, dir), k = 3)
        .orderBy("doc_id", "rk")),

    // incremental text dedup: the batch (new-day docs + PLANTED truncated
    // twins of corpus and batch docs) probes the at-rest band index;
    // corpus × corpus never re-pairs. The oracle brute-forces the same
    // candidate scopes with exact integer Jaccard (oracle cost)
    "q_doc_incr_dedup" -> ((s, dir) => {
      val base = Synth.documents(s, dir).select("doc_id", "text")
      val trunc = expr(
        "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 2), ' ')")
      val corpus = base.filter(col("doc_id") % 4 =!= 0)
      val batch = base.filter(col("doc_id") % 4 === 0)
        .unionByName(base
          .filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 20 === 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), trunc.as("text")))
        .unionByName(base.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), trunc.as("text")))
      TextOps.incrementalTextDedup(corpus, batch, tMilli = 200L)
        .orderBy("doc_id")
    }),

    // PMI collocations: per-integer nano-rounded LN factors combined in
    // BIGINT (no cross-factor double sums), so the top-k cut under the
    // total order (pmi9 DESC, w1, w2) is bit-decided in both engines
    "q_doc_pmi" -> ((s, dir) =>
      TextOps.pmiCollocations(Synth.documents(s, dir), minCount = 5L, k = 50)
        .orderBy(col("pmi9").desc, col("w1"), col("w2"))),

    // Heaps-law vocabulary growth: cumulative-distinct made parallel by
    // first-occurrence inversion (vocab ≤ cp ⟺ min doc_id ≤ cp); DuckDB
    // re-derives the same checkpoints and counts
    "q_doc_heaps" -> ((s, dir) =>
      TextOps.vocabGrowth(Synth.documents(s, dir), buckets = 10)
        .orderBy("i")),

    // per-source KL drift: every LN factor nano-rounded on its integer
    // count and combined in BIGINT (the PMI convention) — the
    // domain-shift detector, bit-decided in both engines
    "q_doc_kl_drift" -> ((s, dir) =>
      TextOps.sourceDrift(Synth.documents(s, dir))
        .orderBy("source")),

    "q_doc_simhash" -> ((s, dir) =>
      TextOps.simHashPairs(Synth.documents(s, dir), maxHam = 12)
        .orderBy("id1", "id2")),

    "q_doc_fingerprints" -> ((s, dir) =>
      TextOps.fingerprints(Synth.documents(s, dir)).orderBy("doc_id")),

    // Zipf rank-frequency fit: least-squares slope of ln f vs ln r as an
    // EXACT RATIONAL (num/den of per-integer micro-LN sums) — no float
    // crosses an aggregation boundary
    "q_doc_zipf" -> ((s, dir) =>
      TextOps.zipfFit(Synth.documents(s, dir), topN = 40)),

    // winnowing (Schleimer et al. 2003): rightmost-min-per-window k-gram
    // fingerprint SELECTION with positions — the oracle re-derives every
    // FNV-1a hash by recursive CTE and replays the identical
    // (h ASC, pos DESC) window argmax
    "q_doc_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprints(Synth.documents(s, dir), k = 3, w = 4)
        .orderBy("doc_id", "pos")),

    // Lee et al. 2022-style exact duplicated-span detection: every position
    // covered by a token 8-gram occurring >1× in the corpus, per-doc union
    // length via the same-length-interval window (no per-position explode)
    "q_doc_dup_spans" -> ((s, dir) =>
      TextOps.dupSpans(Synth.documents(s, dir), n = 8).orderBy("doc_id")),

    // CCNet-style corpus-bigram-LM perplexity filter (keep ⇔ mean logp ≥
    // −3.4 nats — splits this corpus 226/274 at sf0.01); per-pair nano-
    // rounded integers, BM25's cross-engine LN recipe
    "q_doc_bigram_ppl" -> ((s, dir) =>
      TextOps.bigramPerplexity(Synth.documents(s, dir), meanNatsMin = 3.4)
        .orderBy("doc_id")),

    // BPE merge training (Sennrich et al. 2016): 6 learned merge rules with
    // their corpus-weighted pair counts; the oracle re-learns all 6 rounds in
    // DuckDB (pair-count CTE + argmax + recursive-CTE greedy apply per round)
    "q_doc_bpe_merges" -> ((s, dir) =>
      TextOps.bpeTrain(Synth.documents(s, dir), nMerges = 6)._1.orderBy("rk")),

    // the trained vocabulary's final segmentation: every greedy leftmost
    // non-overlapping application of all 6 rules at every position of every
    // word is pinned by the toks string
    "q_doc_bpe_vocab" -> ((s, dir) =>
      TextOps.bpeTrain(Synth.documents(s, dir), nMerges = 6)._2.orderBy("word")),

    // dedup-QA harness: confusion counts of the MinHash-LSH candidate
    // stage vs exact-Jaccard ground truth at t = 0.5. The corpus's own
    // near-dups are bimodal (exact copies vs J < 0.2), so every k % 29 doc
    // gets a MUTATED twin — ⌈n/2⌉ / n / ⌈3n/2⌉ unique salt tokens appended
    // by doc_id % 3, landing J around 0.66 / 0.49 / 0.40 — exactly the
    // gray zone where 8×4 banding genuinely misses (P ≈ 0.81/0.40/0.19),
    // so fn/fp are real. DuckDB re-derives BOTH sides from first
    // principles: FNV-1a + splitmix signatures, band-slice equality, and
    // the brute-force exact-Jaccard pair set.
    "q_doc_minhash_eval" -> ((s, dir) => {
      val docs = Synth.documents(s, dir).select("doc_id", "text")
      TextOps.minHashLshEval(docs.unionByName(mutatedTwins(docs)))
    }),

    // the recall CURVE: the same audit swept across Jaccard thresholds
    // 0.4/0.5/0.6/0.7 — one PPJoin truth pass carrying exact |∩|/|∪|,
    // re-thresholded on integers per row; shows the banding curve
    // empirically (recall rises with J, precision-at-t falls)
    "q_doc_minhash_sweep" -> ((s, dir) => {
      val docs = Synth.documents(s, dir).select("doc_id", "text")
      TextOps.minHashLshThresholdSweep(docs.unionByName(mutatedTwins(docs)))
        .orderBy("t_milli")
    }),

    // the simhash twin of the audit: the SAME planted gray-zone corpus, the
    // 4×16-band + hamming ≤ 12 candidate stage vs exact TOKEN-set Jaccard
    // truth — measures what the single-64-bit-sketch trade costs where
    // minhash's tunable banding would be reconfigured instead
    "q_doc_simhash_eval" -> ((s, dir) => {
      val docs = Synth.documents(s, dir).select("doc_id", "text")
      TextOps.simHashEval(docs.unionByName(mutatedTwins(docs)))
    }),

    // BPE APPLY: the corpus encoded with the 6 trained rules via dictionary
    // lookup (one word-keyed broadcast join + one doc-keyed reassembly);
    // the oracle RE-LEARNS the rules AND re-segments every word in DuckDB,
    // then rebuilds each doc's full token stream string
    "q_doc_bpe_encode" -> ((s, dir) => {
      val docs = Synth.documents(s, dir)
      TextOps.bpeEncode(docs, TextOps.bpeTrain(docs, nMerges = 6)._2)
        .orderBy("doc_id")
    }),

    // vector-tile sink: every (cell, way) vertex run serialized as the
    // MVT-style zigzag+varint coordinate stream and byte-digest-pinned;
    // DuckDB rebuilds every varint digit from the grid closed form.
    // Named streets only (u, v ≥ 0, so integer DIV ≡ floor in both engines).
    "q_way_vector_tiles" -> ((s, dir) => {
      val (_, raw, _) = Pipeline.prepared(s, dir)
      SpatialOps.vectorTiles(s, raw.filter(col("id") < 2000000L),
          Synth.LAT0, Synth.LON0)
        .orderBy("cell", "way_id")
    }),

    // polygon BUFFER / fringe query: images outside every city but within
    // 3000 µdeg of one, tagged with the nearest zone (first-poly ties).
    // Zero-shuffle broadcast-constant plan; the oracle mirrors
    // pointSegDist op-for-op over the closed rings' exact vertex doubles.
    "q_geo_city_fringe" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      SpatialOps.cityFringe(Pipeline.geoImages(s, dir), Synth.cityPolys(g0),
          dDeg = 0.003)
        .orderBy("image_id")
    }),

    // deterministic EXACT-quota stratified sampling over (city, fmt) image
    // strata — the frozen-training-subset op; selection runs through the
    // k-bounded native TopKAgg (map-side combine discards non-contenders
    // before the exchange). Oracle replays the Knuth scramble + per-stratum
    // ROW_NUMBER cut over the closed-form geotags.
    "q_sample_stratified" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = SpatialOps.imageCity(Pipeline.geoImages(s, dir),
          Synth.cityPolys(g0))
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
      SampleOps.stratifiedQuota(imgs, Seq("city", "fmt"), col("k"), quota = 37)
        .orderBy("city", "fmt", "skey")
    }),

    // fixed-window token chunking (training-context prep): 32-token windows,
    // 8-token overlap, short tail emitted — map-side explode, no shuffle
    "q_doc_chunks" -> ((s, dir) =>
      TextOps.chunk(Synth.documents(s, dir), chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),

    // sequence packing (concat-and-chop into fixed 64-token training
    // sequences, 8 hash buckets at this SF): per-bucket window scan, one
    // shuffle, no global sort — a long doc spans seq_first..seq_last
    "q_doc_pack" -> ((s, dir) =>
      TextOps.packSequences(Synth.documents(s, dir), budgetTokens = 64,
        buckets = 8).orderBy("doc_id")),

    // PII/link scrubbing: deterministic URL/email/long-number appendix is
    // added to every 3rd doc INSIDE the query (mirrored verbatim in the
    // oracle) so the redaction regexes have real work to gate
    "q_doc_redact" -> ((s, dir) => {
      val withPii = Synth.documents(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" http://ex.com/p/"),
            col("doc_id").cast("string"), lit("?q=12345678 a"),
            col("doc_id").cast("string"), lit("@mail.example.org tel 98765432109")))
          .otherwise(col("text")))
      TextOps.redact(withPii)
        .select(col("doc_id"), col("redacted"), col("n_redactions"))
        .orderBy("doc_id")
    }),

    // pairs → clusters → survivors: LSH candidate pairs fed through
    // distributed connected components (alternating large/small-star,
    // O(log n) shuffle rounds, no driver-side graph state); survivor =
    // minimum doc_id per cluster. Oracle recomputes components as a
    // recursive-CTE transitive closure over the exact-Jaccard pair set.
    "q_doc_dedup_components" -> ((s, dir) =>
      GraphOps.dedupClusters(
        TextOps.minHashLshPairs(Synth.documents(s, dir), jaccardMin = 0.2))
        .select(col("id").as("doc_id"), col("component"), col("is_survivor"))
        .orderBy("doc_id")),

    // canonical normalization (dedup pre-pass): case-fold + strip + collapse
    "q_doc_normalize" -> ((s, dir) =>
      TextOps.normalize(Synth.documents(s, dir)).orderBy("doc_id")),

    // end-to-end curation pass: normalize → exact-dedup → quality gate →
    // deterministic hash sample (reproducible across runs/clusters, unlike
    // rand()); one shuffle total, keyed on a 16-B digest, text never travels
    "q_doc_curation" -> ((s, dir) =>
      TextOps.curate(Synth.documents(s, dir)).orderBy("doc_id")),

    // vocabulary heavy-hitters: top-10 tokens per language, exact counts
    "q_doc_vocab_topn" -> ((s, dir) =>
      TextOps.vocabTopN(Synth.documents(s, dir), 10).orderBy("lang", "rk")),

    // EXACT heavy hitters via the CMS candidate filter (sketch pass + exact
    // re-count of candidates only): the oracle is the plain exact HAVING
    // query, independent of the sketch — CMS one-sided error makes the
    // candidate set a provable superset, the exact count kills the rest
    "q_doc_heavy_hitters" -> ((s, dir) =>
      TextOps.heavyHitters(Synth.documents(s, dir), minCount = 900L)
        .orderBy("tok")),

    // deterministic source mixing: src0 upsampled 2.5×, src1 kept, src2/3
    // down to 0.5×/0.25×, the rest dropped — same mixture on every run
    "q_doc_mix" -> ((s, dir) =>
      TextOps.mixSources(Synth.documents(s, dir),
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 0.25))
        .orderBy("doc_id", "rep")),

    // Gopher-style repetition signals: top-token and duplicate-3-gram
    // fractions per document (boilerplate/spam markers)
    "q_doc_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(Synth.documents(s, dir)).orderBy("doc_id")),

    // deterministic train/val/test split: pure map-side Knuth-hash buckets,
    // byte-identical assignment on every run/engine/cluster size
    "q_doc_split" -> ((s, dir) =>
      TextOps.assignSplit(Synth.documents(s, dir)).orderBy("doc_id")),

    // collision-free training-order shuffle: a 3-round Feistel bijection on
    // [0, 2^32) — sorting by perm is a true deterministic permutation (no
    // hash collisions, no rand()); the oracle unrolls the identical rounds
    "q_doc_shuffle" -> ((s, dir) =>
      TextOps.shuffleOrder(Synth.documents(s, dir)).orderBy("doc_id")),

    // benchmark decontamination: the deterministic doc_id % 97 slice plays
    // the eval set, the rest the training corpus; every corpus doc sharing
    // a 3-gram with any benchmark doc is flagged
    "q_doc_decontaminate" -> ((s, dir) => {
      val all = Synth.documents(s, dir)
      TextOps.decontaminate(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    // BM25 ranked retrieval over the corpus: 4 fixed queries, top-10 docs
    // each; per-term contributions are integer nano-units so the score sum
    // is partitioning-invariant and the DuckDB oracle computes the same
    // integers end to end
    "q_doc_bm25" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "hash join"), (2L, "spark window agg"),
        (3L, "slow query scan"), (4L, "vector batch merge"))
        .toDF("q_id", "q_text")
      TextOps.bm25TopK(Synth.documents(s, dir), qs, 10).orderBy("q_id", "rk")
    }),

    // hybrid text+vector retrieval, reciprocal-rank fusion in integer
    // micro-units: held-out query docs (doc_id % 100 == 0) ranked by BM25
    // AND by embedding cosine, fused as Σ floor(1e9/(60+rk)); the oracle
    // re-derives both legs (the proven bm25/cosine SQL) and the fusion
    "q_doc_hybrid_rrf" -> ((s, dir) =>
      SimOps.hybridRrf(Synth.documents(s, dir), Synth.embeddings(s, dir),
          qMod = 100L, kPer = 20, k = 10)
        .orderBy("q_id", "rk")),

    // HLL distinct-token sketch per language (custom TypedImperativeAggregate;
    // max-merge ⇒ identical result under any partitioning ⇒ pinnable). The
    // exact count(distinct) rides along so the pin itself documents the
    // sketch's error on this corpus. At 100 TB the sketch shuffles one 4 KiB
    // register array per group per map task instead of every token.
    "q_doc_token_hll" -> ((s, dir) =>
      graft.ops.Par.spread(Synth.documents(s, dir), col("doc_id"))
        .select(col("lang"), col("text"),
          explode(TextOps.shingles(col("text"))).as("sh"))
        .groupBy("lang")
        .agg(graft.exprs.sketches.hll_distinct(col("sh"), 12).as("distinct_est"),
          countDistinct(col("sh")).as("distinct_exact"))
        .orderBy("lang")),

    // ---- embeddings: similarity search ----------------------------------
    "q_emb_topk" -> ((s, dir) =>
      SimOps.bruteForceTopK(Synth.embeddings(s, dir), col("vec_id") % 100 === 0, k = 5)
        .orderBy("q_id", "rk")),

    // embedding L2-norm audit (normalization gate): norm9 under the
    // sequential-double convention, centi-bucket histogram + unit count
    "q_emb_norm_audit" -> ((s, dir) =>
      SimOps.normAudit(s, Synth.embeddings(s, dir))
        .orderBy("bucket")),

    // kNN majority-vote label classification (label-noise audit): 5-NN
    // labels vote with (votes DESC, label ASC) argmax; brute-force feed is
    // the documented baseline, cut by the k-bounded TopKAgg
    "q_emb_knn_classify" -> ((s, dir) =>
      SimOps.knnClassify(s, Synth.embeddings(s, dir), k = 5)
        .orderBy("q_id")),

    // Matryoshka truncation recall audit: top-5 on the 16-dim prefix vs
    // the full-64-dim truth, per-query hits + exact milli recall; both
    // legs are the documented brute-force baseline (this is an audit)
    "q_emb_matryoshka" -> ((s, dir) =>
      SimOps.matryoshkaRecall(Synth.embeddings(s, dir),
          col("vec_id") % 100 === 0, k = 5, dims = 16)
        .orderBy("q_id")),

    // triangle census of the exact 5-NN similarity graph: triangle count,
    // wedge count, global clustering coefficient (exact ppb integer) — the
    // structural diagnostic that says whether a near-dup/kNN graph is
    // cluster-shaped or chain-shaped. The kNN feed is the documented
    // brute-force baseline (the LSH/IVF kNN graph swaps in at corpus scale
    // with the same (a,b) pair shape); the operator under test —
    // GraphOps.triangleStats — is degree-oriented (Suri–Vassilvitskii), so
    // hub vertices are join TARGETS, never join sources
    "q_graph_triangles" -> ((s, dir) =>
      GraphOps.triangleStats(SimOps.knnGraph(Synth.embeddings(s, dir), k = 5))
        .orderBy("metric")),

    // caption–image alignment (CLIP-score) filter: the LAION/DataComp
    // curation gate over paired modality embeddings (vec_id 2k ↔ 2k+1),
    // threshold cos9 ≥ 0 — O(n) equi-join + map-side dot, never a search
    "q_emb_align" -> ((s, dir) =>
      SimOps.captionAlignment(Synth.embeddings(s, dir), thresholdNano = 0L)
        .orderBy("pair_id")),

    // ANN recall harness: per query, how many of the brute-force top-5 the
    // IVF probe surfaced — promotes the test-layer recall gate into the
    // driver's oracle gate; both sides are existing proven operators, the
    // confusion join touches (q_id, neighbor) pairs only
    "q_emb_ivf_recall" -> ((s, dir) => {
      val emb = Synth.embeddings(s, dir)
      val truth = SimOps.bruteForceTopK(emb, col("vec_id") % 100 === 0, k = 5)
        .select(col("q_id"), col("neighbor"))
      val approx = SimOps.ivfTopK(emb, col("vec_id") % 100 === 0,
          k = 5, nlist = 16, nprobe = 4)
        .select(col("q_id"), col("neighbor"), lit(true).as("hit"))
      truth.join(approx, Seq("q_id", "neighbor"), "left")
        .groupBy("q_id")
        .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("hits"),
          lit(5L).as("k"))
        .orderBy("q_id")
    }),

    // contrastive hard negatives: nearest neighbors with a DIFFERENT label
    "q_emb_hard_negatives" -> ((s, dir) =>
      SimOps.hardNegatives(Synth.embeddings(s, dir), col("vec_id") % 100 === 0, k = 5)
        .orderBy("q_id", "rk")),

    "q_emb_lsh_topk" -> ((s, dir) =>
      SimOps.lshTopK(Synth.embeddings(s, dir), col("vec_id") % 100 === 0, k = 5)
        .orderBy("q_id", "rk")),

    // IVF coarse-quantizer ANN (deterministic seed centroids → exact oracle);
    // the 100 TB shape: one map-side assignment pass, corpus clustered by
    // list_id at rest, queries probe nprobe/nlist of the data
    "q_emb_ivf_topk" -> ((s, dir) =>
      SimOps.ivfTopK(Synth.embeddings(s, dir), col("vec_id") % 100 === 0,
          k = 5, nlist = 16, nprobe = 4)
        .orderBy("q_id", "rk")),

    // product-quantization ANN with exact short-list re-rank: the ADC scan
    // reads only (vec_id, 8 int codes) — 8 B of corpus payload per vector —
    // and full-float embeddings are fetched for just rerank·k candidates per
    // query. Lloyd training is deterministic (fixed sample, fixed order) →
    // regression-pinned oracle; recall vs brute force gated in DedupSimSpec.
    "q_emb_pq_topk" -> ((s, dir) =>
      SimOps.pqTopK(Synth.embeddings(s, dir), col("vec_id") % 100 === 0, k = 5)
        .orderBy("q_id", "rk")),

    // near-dup ground truth is planted: the raw testdata's max pairwise cosine
    // is ~0.51, so a 0.9-threshold query over it alone is vacuous. Every 50th
    // vector gets a deterministic perturbed twin (first element halved —
    // float-exact in both engines; cos(e, e') = (1−q/2)/sqrt(1−3q/4) ≥ 0.943
    // for q = e1²/|e|² ∈ [0,1], so all twins are true near-dups).
    "q_emb_near_dups" -> ((s, dir) => {
      val base = Synth.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(0.5f)).cast("float")),
            slice(col("embedding"), 2, 1000000)).as("embedding"))
      SimOps.cosineNearDupPairs(base.unionByName(planted), 0.9)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2")
    }),

    // SemDeDup (Abbas et al. 2023): coarse-cluster assignment (the IVF seed
    // quantizer), within-cluster pairwise cosine >= 0.9, duplicate groups
    // closed by connected components, keeper = LOWEST centroid-cosine per
    // group (ties → min vec_id). Twins planted as in q_emb_near_dups so the
    // duplicate graph is non-vacuous; the oracle replays assignment, pair
    // generation, a recursive-CTE closure, and the keeper window verbatim.
    "q_emb_semdedup" -> ((s, dir) => {
      val base = Synth.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(0.5f)).cast("float")),
            slice(col("embedding"), 2, 1000000)).as("embedding"))
      SimOps.semDedup(base.unionByName(planted), nlist = 16, cosMin = 0.9)
        .orderBy("vec_id")
    }),

    // image near-dup by perceptual hash: planted twins (phash % 64 == 0
    // duplicated with bits 0 and 2 flipped → hamming 2) must all surface
    // through the 4×16-bit band blocking; the oracle brute-forces hamming
    // over the same base ∪ planted set
    "q_image_phash_dups" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g, withBytes = false)
        .select(col("image_id"), col("phash"))
      val planted = base.filter(col("phash") % 64 === 0)
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(5L)).as("phash"))
      ImageOps.phashNearDups(base.unionByName(planted), maxHam = 3)
        .orderBy("id1", "id2")
    }),

    // incremental (daily-ingest) dedup: the k%4==0 slice plays the new
    // batch, the rest the at-rest corpus; twins planted INTO the batch from
    // both sides (corpus phash%64==0 → '_c' xor 5; batch phash%64==0 →
    // '_b' xor 3) so cross-corpus and within-batch matches both fire. The
    // oracle brute-forces batch×corpus ∪ batch×earlier-batch in SQL.
    "q_image_incr_dedup" -> ((s, dir) => {
      val (g, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g, withBytes = false)
        .withColumn("k", expr("CAST(substring(image_id, 4) AS BIGINT)"))
        .select(col("k"), col("image_id"), col("phash"))
      val corpus = base.filter(col("k") % 4 =!= 0).select("image_id", "phash")
      val batch0 = base.filter(col("k") % 4 === 0).select("image_id", "phash")
      val batch = batch0
        .unionByName(corpus.filter(col("phash") % 64 === 0)
          .select(concat(col("image_id"), lit("_c")).as("image_id"),
            col("phash").bitwiseXOR(lit(5L)).as("phash")))
        .unionByName(batch0.filter(col("phash") % 64 === 0)
          .select(concat(col("image_id"), lit("_b")).as("image_id"),
            col("phash").bitwiseXOR(lit(3L)).as("phash")))
      ImageOps.incrementalPhashDedup(corpus, batch, maxHam = 3)
        .orderBy("image_id")
    }),

    // aspect-ratio bucketing + pixel-budget batch packing (the image twin
    // of q_doc_pack): ladder argmin by integer cross-difference, batches by
    // the pixels-before DIV budget chop within each bucket
    "q_image_aspect_batches" -> ((s, dir) =>
      ImageOps.aspectBatches(
          Synth.images(s, dir, Pipeline.prepared(s, dir)._1, withBytes = false)
            .withColumn("pid", expr("CAST(substring(image_id, 4) AS BIGINT)")),
          budgetPx = 2048L)
        .orderBy("image_id")),

    // ---- images: multimodal columns --------------------------------------
    // per-(fmt,w,h) EXACT integer channel sums: mean_c * w * h recovers the
    // decoded byte sum, so the aggregate pins every pixel of every decoded
    // image — per CODEC (bmp hand-rolled, png/jpeg via javax.imageio) —
    // against the committed literal oracle (DuckDB cannot decode any of the
    // three; the per-image surface keeps its javax.imageio ScalaTest oracle
    // in DedupSimSpec).
    "q_image_features" -> ((s, dir) => {
      val wh = col("w").cast("double") * col("h").cast("double")
      def chanSum(c: String) = sum(round(col(c) * wh).cast("long")).as(s"sum_${c.last}")
      ImageOps.decodeFeatures(s, Synth.images(s, dir, Pipeline.prepared(s, dir)._1))
        .groupBy(col("fmt"), col("w"), col("h"))
        .agg(count(lit(1)).as("n"), chanSum("mean_r"), chanSum("mean_g"),
          chanSum("mean_b"),
          sum(when(col("decode_ok"), lit(1L)).otherwise(lit(0L))).as("n_ok"))
        .orderBy("fmt", "w", "h")
    }),

    // TRUE SQL decode oracle on a deterministic sample: DuckDB recomputes
    // the synthesis-time splitmix pixel pattern from o_orderkey FROM FIRST
    // PRINCIPLES (h1/h2 LCGs -> phash -> per-(x,y) splitmix rounds in
    // HUGEINT mod-2^64 arithmetic) and derives exact per-channel sums; the
    // Spark side DECODES the real encoded bytes (hand-rolled BMP parse /
    // JDK imageio PNG inflate). Any decode bug breaks the match. Lossless
    // fmts only (jpeg is not bit-recomputable by design); 1-in-97 sample
    // keeps the oracle's 225-pixel-per-image expansion tractable.
    // dominant color per image (3-bit RGB cube, 512 buckets): the color-
    // signature triage op; same lossless %97 slice as decode_sample so the
    // oracle's pixel re-derivation stays bounded — every bucket histogram
    // argmax must match the splitmix closed form
    "q_image_dominant_color" -> ((s, dir) =>
      graft.ops.ImageOps.dominantColor(
          Synth.images(s, dir, Pipeline.prepared(s, dir)._1)
            .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
            .filter(col("k") % 97 === 0 && col("fmt") =!= "jpeg"))
        .orderBy("image_id")),

    "q_image_decode_sample" -> ((s, dir) => {
      import s.implicits._
      Synth.images(s, dir, Pipeline.prepared(s, dir)._1)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 97 === 0 && col("fmt") =!= "jpeg")
        .select("k", "fmt", "bytes")
        .as[(Long, String, Array[Byte])]
        .map { case (k, fmt, bytes) =>
          val (rgb, dw, dh) = graft.synth.Codec.decodeAny(fmt, bytes).get
          val (r, g, b) = graft.synth.Codec.channelSums(rgb)
          (k, fmt, dw, dh, r, g, b)
        }
        .toDF("k", "fmt", "w", "h", "sum_r", "sum_g", "sum_b")
        .orderBy("k")
    }),

    // decoded-pixel fidelity vs the synthesis-time source pattern, the
    // input_hint contract verbatim — PROMOTED from a pin to a TRUE SQL
    // oracle by moving the gated surface from centi-dB (needs log10) to
    // exact integer SSE: lossless rows (bmp/png) must be BIT-EXACT
    // (sse = 0, so n_bitexact_lossless = n and total_sse_lossless = 0 are
    // first-principles facts the oracle derives from the corpus formula
    // alone), lossy rows (jpeg, q=0.95 smooth gradients) must clear 40 dB
    // via the pure-integer compare 10⁴·sse ≤ 255²·npix; caption equality
    // rides the same row. Any decode regression (channel swap, row order,
    // inflate bug, JPEG drift below 40 dB) flips a gated count. The cdB
    // depth the old pin carried lives on in CodecSpec's per-size jpeg
    // PSNR assertions.
    "q_image_psnr" -> ((s, dir) => {
      val fid = ImageOps.decodeSse(s,
        Synth.images(s, dir, Pipeline.prepared(s, dir)._1))
      fid.groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sse") >= 0L, 1L).otherwise(0L)).as("n_decode_ok"),
          sum(when(col("sse") >= 0L && col("sse") * 10000L <= lit(65025L) * col("npix"),
            1L).otherwise(0L)).as("n_ge_40db"),
          sum(when(col("fmt") =!= "jpeg" && col("sse") === 0L, 1L).otherwise(0L))
            .as("n_bitexact_lossless"),
          sum(when(col("fmt") =!= "jpeg", col("sse")).otherwise(0L)).cast("long")
            .as("total_sse_lossless"),
          sum(when(col("caption_ok"), 1L).otherwise(0L)).as("n_caption_ok"))
        .orderBy("fmt")
    }),

    // thumbnails, PROMOTED from a pin to a TRUE SQL oracle (lossless rows):
    // every 4×4 thumb is re-decoded and its position-weighted pixel digest
    // emitted per image; DuckDB re-derives every thumb pixel from the
    // splitmix closed form through the IDENTICAL integer-div resize map
    // sx = x·w DIV 4, sy = y·h DIV 4 — any resize or codec bug flips a
    // digest. (jpeg thumbs stay test-gated: the resize kernel is
    // codec-independent and jpeg DECODE is driver-gated by q_image_psnr's
    // 40 dB contract.)
    "q_image_thumbs" -> ((s, dir) => {
      import s.implicits._
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val thumbs = ImageOps.thumbnails(s,
        Synth.images(s, dir, g0).filter(col("fmt") =!= "jpeg"), 4, 4)
      thumbs.select(col("image_id"), col("fmt"), col("thumb"))
        .as[(String, String, Array[Byte])]
        .map { case (id, fmt, b) =>
          val (rgb, w4, h4) = graft.synth.Bmp.decode(b)
          (id.drop(3).toLong, fmt, w4, h4, ImageOps.pixelDigest(rgb))
        }.toDF("k", "fmt", "tw", "th", "digest")
        .orderBy("k")
    }),

    // palette counting / limited-palette detection: for every k % 3 == 0
    // lossless image a POSTERIZED twin is planted (v & 0x80 per channel,
    // ≤ 8 colors); every plant must flag limited_palette, no original may
    "q_image_palette" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 67 === 0 && col("fmt") =!= "jpeg")
      val encPost = udf((phash: Long, w: Int, h: Int) => {
        val src = graft.synth.Bmp.pixels(phash, w, h)
        val out = src.map(b => (b & 0x80).toByte)
        graft.synth.Bmp.encode(out, w, h)
      })
      val planted = base.filter(col("k") % 3 === 0)
        .select(concat(col("image_id"), lit("_p")).as("image_id"),
          encPost(col("phash"), col("w"), col("h")).as("bytes"),
          lit("bmp").as("fmt"))
      ImageOps.paletteStats(
          base.select("image_id", "bytes", "fmt").unionByName(planted),
          maxColors = 48L)
        .select(
          expr("CAST(regexp_extract(image_id, '^img([0-9]+)', 1) AS BIGINT)").as("k"),
          col("image_id").endsWith("_p").as("pz"), col("w"), col("h"),
          col("n_colors"), col("top_color"), col("top_share_ppm"),
          col("limited_palette"))
        .orderBy("k", "pz")
    }),

    // inter-channel correlation / grayscale detection: for every k % 3 == 0
    // lossless image a GRAYSCALE twin is planted ((r+g+b) DIV 3 in all
    // channels); exact integer Pearson numerators + the exact r=g=b count —
    // every plant must report grayscale=true, every original false
    "q_image_channel_corr" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 61 === 0 && col("fmt") =!= "jpeg")
      val encGray = udf((phash: Long, w: Int, h: Int) => {
        val src = graft.synth.Bmp.pixels(phash, w, h)
        val out = new Array[Byte](src.length)
        var i = 0
        while (i < src.length) {
          val v = (((src(i) & 0xff) + (src(i + 1) & 0xff) + (src(i + 2) & 0xff)) / 3).toByte
          out(i) = v; out(i + 1) = v; out(i + 2) = v
          i += 3
        }
        graft.synth.Bmp.encode(out, w, h)
      })
      val planted = base.filter(col("k") % 3 === 0)
        .select(concat(col("image_id"), lit("_g")).as("image_id"),
          encGray(col("phash"), col("w"), col("h")).as("bytes"),
          lit("bmp").as("fmt"))
      ImageOps.channelCorrStats(
          base.select("image_id", "bytes", "fmt").unionByName(planted))
        .select(
          expr("CAST(regexp_extract(image_id, '^img([0-9]+)', 1) AS BIGINT)").as("k"),
          col("image_id").endsWith("_g").as("gs"), col("w"), col("h"),
          col("n_px"), col("n_eq"), col("cov_num"), col("varr_num"),
          col("varg_num"), col("grayscale"))
        .orderBy("k", "gs")
    }),

    // letterbox/pillarbox border detection: for every k % 3 == 0 clip a
    // LETTERBOXED twin is planted (2 black rows top + bottom around the
    // same pixels); the border counter must report exactly (2, 2, 0, 0)
    // on every plant and (0, 0, 0, 0) on every original — DuckDB rebuilds
    // both variants' pixels (borders + shifted splitmix rows) and replays
    // the same first/last-non-uniform-line arithmetic
    "q_image_letterbox" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 13 === 0 && col("fmt") === "bmp")
      val encLb = udf((phash: Long, w: Int, h: Int) => {
        val src = graft.synth.Bmp.pixels(phash, w, h)
        val out = new Array[Byte]((h + 4) * w * 3)
        System.arraycopy(src, 0, out, 2 * w * 3, src.length)
        graft.synth.Bmp.encode(out, w, h + 4)
      })
      val planted = base.filter(col("k") % 3 === 0)
        .select(concat(col("image_id"), lit("_lb")).as("image_id"),
          encLb(col("phash"), col("w"), col("h")).as("bytes"),
          lit("bmp").as("fmt"))
      ImageOps.borderStats(
          base.select("image_id", "bytes", "fmt").unionByName(planted))
        .select(
          expr("CAST(regexp_extract(image_id, '^img([0-9]+)', 1) AS BIGINT)").as("k"),
          col("image_id").endsWith("_lb").as("lb"), col("w"), col("h"),
          col("top_rows"), col("bottom_rows"), col("left_cols"),
          col("right_cols"), col("boxed"))
        .orderBy("k", "lb")
    }),

    // cross-codec exact dedup, TRUE SQL oracle: every lossless bmp with
    // k % 7 == 0 is re-encoded as PNG (same pixels, entirely different
    // bytes) and planted back into the corpus; the groups keyed on the
    // decoded-pixel digest must pair each original with exactly its
    // re-encode. DuckDB re-derives every digest from o_orderkey alone
    // (splitmix pixel rebuild → position-weighted sum), so a decode bug in
    // EITHER codec (channel swap, row order, off-by-one) splits a group
    // and breaks the match.
    "q_image_dedup_pixel" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0).filter(col("fmt") =!= "jpeg")
      val encPng = udf((phash: Long, w: Int, h: Int) =>
        graft.synth.Codec.encodeFor("png", phash, w, h))
      val planted = base
        .filter(expr("CAST(substr(image_id, 4, 20) AS BIGINT) % 7 = 0") &&
          col("fmt") === "bmp")
        .select(concat(col("image_id"), lit("_re")).as("image_id"),
          encPng(col("phash"), col("w"), col("h")).as("bytes"),
          col("w"), col("h"), lit("png").as("fmt"), col("caption"), col("phash"))
      ImageOps.pixelDedupGroups(base.unionByName(planted))
        .select("keep_id", "n_copies", "w", "h", "fmts", "digest")
        .orderBy("keep_id")
    }),

    // FLIP-INVARIANT dedup: for every k % 11 == 0 bmp a MIRRORED copy is
    // planted (pixels physically hflipped, re-encoded); a plain content
    // digest cannot pair it with its source — only the canonical orbit
    // digest (min over the Klein four-group) can. DuckDB rebuilds all four
    // orbit digests from the splitmix closed form with the flips expressed
    // as position remaps and takes the same LEAST, so the group key is
    // re-derived, not trusted.
    "q_image_dihedral_dedup" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0).filter(col("fmt") =!= "jpeg")
      val encFlip = udf((phash: Long, w: Int, h: Int) =>
        graft.synth.Bmp.encode(
          ImageOps.augmentPixels(graft.synth.Bmp.pixels(phash, w, h), w, h, "hflip"),
          w, h))
      val planted = base
        .filter(expr("CAST(substr(image_id, 4, 20) AS BIGINT) % 11 = 0") &&
          col("fmt") === "bmp")
        .select(concat(col("image_id"), lit("_f")).as("image_id"),
          encFlip(col("phash"), col("w"), col("h")).as("bytes"),
          col("w"), col("h"), lit("bmp").as("fmt"), col("caption"), col("phash"))
      ImageOps.dihedralDedupGroups(base.unionByName(planted))
        .select("keep_id", "n_copies", "w", "h", "fmts", "canon")
        .orderBy("keep_id")
    }),

    // cross-modal dup classification: the k % 7 bmp→png re-encodes are
    // planted with the ORIGINAL caption except every second one (k % 14),
    // which gets an altered caption — the query must split pixel-identical
    // pairs into true duplicates vs label noise on the caption equality
    "q_image_crossmodal_dedup" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0).filter(col("fmt") =!= "jpeg")
      val encPng = udf((phash: Long, w: Int, h: Int) =>
        graft.synth.Codec.encodeFor("png", phash, w, h))
      val planted = base
        .filter(expr("CAST(substr(image_id, 4, 20) AS BIGINT) % 7 = 0") &&
          col("fmt") === "bmp")
        .select(concat(col("image_id"), lit("_re")).as("image_id"),
          encPng(col("phash"), col("w"), col("h")).as("bytes"),
          col("w"), col("h"), lit("png").as("fmt"),
          when(expr("CAST(substr(image_id, 4, 20) AS BIGINT) % 14 = 0"),
            concat(col("caption"), lit(" alt"))).otherwise(col("caption"))
            .as("caption"),
          col("phash"))
      ImageOps.crossmodalDedup(s, base.unionByName(planted))
        .orderBy("dup_id")
    }),

    // CROP dedup: every sampled bmp gets a planted (1,1)-offset crop of
    // itself — a duplicate class that shares NO whole-image signal (digest,
    // orbit, phash all change) but every interior 4×4 patch fingerprint.
    // DuckDB rebuilds all fingerprints from the splitmix closed form (the
    // crop's windows are the source's shifted windows), replays the
    // inverted-index pair counts and the exact containment test.
    "q_image_crop_dups" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("fmt") =!= "jpeg" && col("k") % 21 === 0)
        .drop("k")
      val cropEnc = udf((phash: Long, w: Int, h: Int) => {
        val rgb = graft.synth.Bmp.pixels(phash, w, h)
        val cw = w - 2; val ch = h - 2
        val out = new Array[Byte](cw * ch * 3)
        var y = 0
        while (y < ch) {
          var x = 0
          while (x < cw) {
            val si = ((y + 1) * w + x + 1) * 3
            val di = (y * cw + x) * 3
            out(di) = rgb(si); out(di + 1) = rgb(si + 1); out(di + 2) = rgb(si + 2)
            x += 1
          }
          y += 1
        }
        graft.synth.Bmp.encode(out, cw, ch)
      })
      val planted = base.filter(col("fmt") === "bmp")
        .select(concat(col("image_id"), lit("_c")).as("image_id"),
          cropEnc(col("phash"), col("w"), col("h")).as("bytes"),
          (col("w") - 2).as("w"), (col("h") - 2).as("h"),
          lit("bmp").as("fmt"), col("caption"), col("phash"))
      ImageOps.cropDups(base.unionByName(planted))
        .orderBy("id1", "id2")
    }),

    // DECODE-ROBUSTNESS gate: planted corrupt payloads (10-byte truncation
    // at k % 31, garbled magic at k % 37) across the image AND audio decode
    // paths — every corrupt row must land in decode_ok=false and every
    // clean row must decode; a decoder that throws (dead job), silently
    // "succeeds" on garbage, or rejects a clean payload breaks the count.
    // jpeg is excluded: ImageIO may legally partial-decode a truncated
    // JPEG, which is codec-defined, not contract-testable.
    "q_media_decode_robust" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val corrupt = udf((bytes: Array[Byte], k: Long) =>
        if (k % 31 == 0) bytes.take(10)
        else if (k % 37 == 0) {
          val b = bytes.clone(); b(0) = 'X'.toByte; b(1) = 'X'.toByte; b
        } else bytes)
      val cls = expr(
        "CASE WHEN k % 31 = 0 THEN 'trunc' WHEN k % 37 = 0 THEN 'garble' ELSE 'clean' END")
      val imgs = Synth.images(s, dir, g0).filter(col("fmt") =!= "jpeg")
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .withColumn("bytes", corrupt(col("bytes"), col("k")))
      val imgCounts = ImageOps.decodeFeatures(s, imgs)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .withColumn("cls", cls)
        .groupBy(lit("image").as("medium"), col("fmt"), col("cls"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("decode_ok"), 1L).otherwise(0L)).as("n_ok"))
      val auds = Synth.audio(s, dir)
        .withColumn("k", expr("CAST(substr(audio_id, 4, 20) AS BIGINT)"))
        .withColumn("bytes", corrupt(col("bytes"), col("k")))
      val audCounts = AudioOps.decodeFeatures(s, auds)
        .withColumn("k", expr("CAST(substr(audio_id, 4, 20) AS BIGINT)"))
        .withColumn("cls", cls)
        .groupBy(lit("audio").as("medium"), col("fmt"), col("cls"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("decode_ok"), 1L).otherwise(0L)).as("n_ok"))
      imgCounts.unionByName(audCounts).orderBy("medium", "fmt", "cls")
    }),

    // sprite-atlas export: every 16-image spatial shard physically
    // composed onto a 64×64 canvas and digested — DuckDB re-derives each
    // atlas digest as empty-canvas constant + Σ splitmix pixels under the
    // slot-position remap, so every blit offset is pinned
    "q_image_atlas" -> ((s, dir) => {
      ImageOps.atlasDigests(s,
          Pipeline.geoImages(s, dir, withBytes = true)
            .filter(col("fmt") =!= "jpeg"))
        .orderBy("cell", "shard")
    }),

    // END-TO-END curation capstone: decode-once stats → quality gate →
    // cross-codec dedup survivors → geo scrub → spatial shard pack, ONE
    // call; the oracle composes the four individually-proven CTE blocks
    // (splitmix pixels → digest+Σv+Σv², integer gate, min-per-digest
    // survivor, city CASE scrub, window chop) into one derivation — a
    // divergence in ANY stage breaks the final hash
    "q_image_curation_e2e" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val keep = Seq("image_id", "bytes", "fmt", "w", "h", "phash", "u", "v", "lat", "lon")
      val base = Synth.withGeotag(Synth.images(s, dir, g0), g0)
        .filter(col("fmt") =!= "jpeg")
        .select(keep.head, keep.tail: _*)
      val encPng = udf((phash: Long, w: Int, h: Int) =>
        graft.synth.Codec.encodeFor("png", phash, w, h))
      val planted = base
        .filter(expr("CAST(substr(image_id, 4, 20) AS BIGINT) % 7 = 0") &&
          col("fmt") === "bmp")
        .withColumn("image_id", concat(col("image_id"), lit("_re")))
        .withColumn("bytes", encPng(col("phash"), col("w"), col("h")))
        .withColumn("fmt", lit("png"))
        .select(keep.head, keep.tail: _*)
      ImageOps.curatePipeline(base.unionByName(planted), Synth.cityPolys(g0),
          minVar = 5400L, cellMicro = 5000L, budgetBytes = 4096L)
        .orderBy("image_id")
    }),

    // deterministic augmentations (hflip / rot180), TRUE SQL oracle: Spark
    // physically rearranges the decoded bytes and digests the result; DuckDB
    // independently rebuilds the digest from the splitmix closed form with
    // the augmentation expressed as a position REMAP — two different
    // derivations of the same integer, per image per augmentation.
    "q_image_augment" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 29 === 0 && col("fmt") =!= "jpeg")
      ImageOps.augmentDigests(imgs, Seq("hflip", "rot180"))
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("aug"), col("w"), col("h"), col("digest"))
        .orderBy("k", "aug")
    }),

    // image quality gate: per-image exact integer variance numerator
    // n·Σv² − (Σv)² over decoded channel values (low-contrast filter) —
    // DuckDB rebuilds Σv and Σv² per image from the splitmix closed form
    // and reruns the same integer threshold, so keep/drop is bit-decided
    "q_image_quality" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 17 === 0 && col("fmt") =!= "jpeg")
      ImageOps.qualityStats(imgs, minVar = 5400L)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("sum_v"), col("var_num"),
          col("keep"))
        .orderBy("k")
    }),

    // blur/sharpness detection: variance of the 3×3 Laplacian per decoded
    // image (the classic focus measure), reduced to the exact integer
    // variance numerator m·ΣL² − (ΣL)² — DuckDB rebuilds every interior
    // pixel's Laplacian from the splitmix closed form via four neighbor
    // self-joins and reruns the same integer threshold, so the sharp/blurry
    // cut is bit-decided. Map-side only; bytes never shuffle
    "q_image_sharpness" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 13 === 0 && col("fmt") =!= "jpeg")
      ImageOps.sharpnessStats(imgs, minVar = 320000L)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("m"), col("lap_sum"),
          col("lap_var_num"), col("sharp"))
        .orderBy("k")
    }),

    // histogram equalization (global contrast normalization): per-channel
    // integer-floor OpenCV formula eq(v) = (cdf(v) − cdf_min)·255 DIV
    // (n − cdf_min); the position-weighted digest of the equalized bytes
    // pins EVERY output pixel — DuckDB rebuilds the histograms/CDFs per
    // (image, channel) from the splitmix chain with a window cumulative
    // sum and re-derives the same digest. Map-side only
    "q_image_equalize" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 19 === 0 && col("fmt") =!= "jpeg")
      ImageOps.equalizeStats(imgs)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("eq_digest"), col("min_eq"),
          col("max_eq"), col("sum_eq"))
        .orderBy("k")
    }),

    // 2×2 box-AVERAGE downsample (the anti-aliased resize leg; thumbs is
    // decimation): every output pixel = floor mean of its source block,
    // pinned by the position-weighted digest — DuckDB re-averages the
    // splitmix blocks and re-derives the digest
    "q_image_boxdown" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 59 === 0 && col("fmt") =!= "jpeg")
      ImageOps.boxDownsample(imgs)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("dw"), col("dh"),
          col("down_digest"), col("sum_down"))
        .orderBy("k")
    }),

    // reduced aspect-ratio histogram (shape audit behind aspect bucketing):
    // gcd-reduced (w, h) counts with exact ppm shares, metadata-only
    "q_image_aspect_hist" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      ImageOps.aspectHistogram(
          Synth.images(s, dir, g0, withBytes = false).select("w", "h"))
        .orderBy("rw", "rh")
    }),

    // RLE compressibility triage: exact run counts over the decoded scan
    // order; DuckDB replays runs via LAG over the splitmix byte stream
    "q_image_rle" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 53 === 0 && col("fmt") =!= "jpeg")
      ImageOps.rleStats(imgs, maxRatioPpm = 1985000L)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("n_bytes"), col("n_runs"),
          col("ratio_ppm"), col("compressible"))
        .orderBy("k")
    }),

    // Otsu global binarization threshold: between-class variance maximized
    // over integer gray, ranked by the division-free floored quotient
    // A² DIV (n0·n1) with lowest-t tie-break — DuckDB rebuilds the gray
    // histogram from the splitmix chain, window-cumsums the class moments,
    // and re-ranks with the identical integer score, so the chosen cut is
    // bit-decided. Map-side only; bytes never shuffle
    "q_image_otsu" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 23 === 0 && col("fmt") =!= "jpeg")
      ImageOps.otsuStats(imgs)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("t_star"), col("score_q"),
          col("n_bg"), col("n_fg"))
        .orderBy("k")
    }),

    // Shannon entropy of the gray histogram: the exact BIGINT identity
    // n·H·1e9 = n·ln9(n) − Σ cnt·ln9(cnt) under the proven nano-LN
    // convention — DuckDB re-derives the histogram from the splitmix chain
    // and replays the same identity and floored ratio_ppm gate
    "q_image_entropy" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 41 === 0 && col("fmt") =!= "jpeg")
      ImageOps.entropyStats(imgs)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("n_px"), col("n_bins"),
          col("ent_num"), col("ratio_ppm"))
        .orderBy("k")
    }),

    // Sobel gradient stats: edge density + orientation-bucket histogram
    // from integer-comparison-only classification — DuckDB rebuilds every
    // interior pixel's gx/gy from the splitmix chain via eight neighbor
    // self-joins and replays the identical integer buckets
    "q_image_sobel" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val imgs = Synth.images(s, dir, g0)
        .withColumn("k", expr("CAST(substr(image_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 43 === 0 && col("fmt") =!= "jpeg")
      ImageOps.sobelStats(imgs, minMag2 = 1500000L)
        .select(expr("CAST(substr(image_id, 4, 20) AS BIGINT)").as("k"),
          col("fmt"), col("w"), col("h"), col("m"), col("n_edge"),
          col("sum_abs_gx"), col("sum_abs_gy"), col("h_cnt"), col("v_cnt"),
          col("d1_cnt"), col("d2_cnt"))
        .orderBy("k")
    }),

    // phash near-dup COMPONENTS (pairs → clusters → survivor): the image
    // twin of q_doc_dedup_components, composing the banded hamming join
    // with the large/small-star connected components; the oracle closes the
    // brute-force pair graph with a recursive CTE
    "q_image_phash_components" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val base = Synth.images(s, dir, g0, withBytes = false)
        .select(col("image_id"), col("phash"))
      val planted = base.filter(col("phash") % 64 === 0)
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(5L)).as("phash"))
      graft.ops.GraphOps.dedupClusters(
          ImageOps.phashNearDups(base.unionByName(planted), maxHam = 3))
        .select(col("id").as("image_id"), col("component"), col("is_survivor"))
        .orderBy("image_id")
    }),

    // geo-privacy scrubbing: in-zone geotags coarsen to 10000-µdeg cell
    // centers (spatial k-anonymity), out-of-zone pass through — the same
    // integer CASE rerun by the oracle over the closed-form geotags
    "q_image_geo_scrub" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      SpatialOps.geoScrub(Pipeline.geoImages(s, dir), Synth.cityPolys(g0))
        .orderBy("image_id")
    }),

    // spatially-local shard packing (webdataset-style export): size-bounded
    // shards within 5000-µdeg cells, weight = decoded size w·h·3. The
    // oracle reruns the identical integer window arithmetic over the
    // closed-form geotags and dims.
    "q_image_shard_pack" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      ImageOps.shardPack(
          Synth.withGeotag(Synth.images(s, dir, g0, withBytes = false), g0),
          cellMicro = 5000L, budgetBytes = 4096L)
        .orderBy("cell", "shard")
    }),

    // shard manifest (export index): per record the (cell, shard, offset,
    // len) a reader slices with; REAL byte lengths on the Spark side, the
    // BMP size formula 54 + ((3w+3) DIV 4 · 4)·h on the oracle side — the
    // match proves the encoded sizes equal the closed form record by record
    "q_image_shard_manifest" -> ((s, dir) => {
      val (g0, _, _) = Pipeline.prepared(s, dir)
      val bmps = Synth.withGeotag(Synth.images(s, dir, g0), g0)
        .filter(col("fmt") === "bmp")
      ImageOps.shardManifest(bmps, cellMicro = 5000L, budgetBytes = 4096L)
        .orderBy("k")
    }),

    // ---- audio: multimodal columns (REAL wav decode, JDK-parser-oracled) --
    // integer aggregate per sample-rate group: sums of per-clip exact integer
    // features pin every decoded PCM sample against the committed oracle
    // silence-run detection (trim-silence / VAD pre-pass): maximal
    // below-threshold runs per clip — DuckDB re-derives every PCM sample
    // from the LCG power table and replays the runs as gaps-and-islands
    "q_audio_silence" -> ((s, dir) =>
      AudioOps.silenceRuns(s,
        Synth.audio(s, dir)
          .withColumn("k", expr("CAST(substr(audio_id, 4, 20) AS BIGINT)"))
          .filter(col("k") % 7 === 0),
        thresh = 16384, minRun = 4)
        .select(expr("CAST(substr(audio_id, 4, 20) AS BIGINT)").as("k"),
          col("sample_rate"), col("n_samples"), col("silent_total"),
          col("n_runs"), col("longest_run"))
        .orderBy("k")),

    "q_audio_features" -> ((s, dir) =>
      AudioOps.decodeFeatures(s, Synth.audio(s, dir))
        .groupBy(col("sample_rate"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_samples").cast("long")).as("sum_samples"),
          sum(col("duration_ms")).as("sum_ms"),
          sum(col("rms_milli")).as("sum_rms_milli"),
          sum(col("peak").cast("long")).as("sum_peak"),
          sum(when(col("decode_ok"), lit(1L)).otherwise(lit(0L))).as("n_ok"))
        .orderBy("sample_rate")),

    // scene-cut detection: exact SAD between every consecutive decoded
    // frame pair, integer milli-SAD per pixel-channel, cut threshold
    // inside the observed spread — DuckDB rebuilds BOTH frames' pixels
    // from the splitmix chain and re-diffs them per (x, y, channel)
    "q_video_scene_cut" -> ((s, dir) =>
      ImageOps.sceneCuts(s, Synth.videos(s, dir), cutMilliPerPx = 85000L)
        .select(expr("CAST(substr(video_id, 4, 20) AS BIGINT)").as("k"),
          col("f1"), col("f2"), col("n_px"), col("sad"),
          col("sad_milli_px"), col("cut"))
        .orderBy("k", "f1")),

    // video frame sampling, DRIVER-GATED with a first-principles oracle:
    // sampleFrames slices every 2nd frame out of the concatenated-BMP clip
    // payload by offset arithmetic (dropped frames never touched), each
    // sampled frame is decoded, and DuckDB recomputes the expected channel
    // sums from o_orderkey alone (frame phash = k·131071 + frame_idx).
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      ImageOps.sampleFrames(s, Synth.videos(s, dir), everyK = 2)
        .withColumn("k", expr("CAST(substr(video_id, 4, 20) AS BIGINT)"))
        .select("k", "frame_idx", "frame_bytes")
        .as[(Long, Int, Array[Byte])]
        .map { case (k, f, bytes) =>
          val (rgb, dw, dh) = graft.synth.Bmp.decode(bytes)
          val (r, g, b) = graft.synth.Codec.channelSums(rgb)
          (k, f, dw, dh, r, g, b)
        }
        .toDF("k", "frame_idx", "w", "h", "sum_r", "sum_g", "sum_b")
        .orderBy("k", "frame_idx")
    }),

    // TRUE SQL decode oracle on a deterministic sample (audio analog of
    // q_image_decode_sample): DuckDB replays the synthesis LCG
    // (s := s·6364136223846793005 + 1442695040888963407 mod 2^64, sample =
    // signed16(s >> 48)) from o_orderkey in a recursive HUGEINT CTE; Spark
    // must RIFF-parse the real WAV bytes to the same exact sums.
    "q_audio_decode_sample" -> ((s, dir) => {
      import s.implicits._
      Synth.audio(s, dir)
        .withColumn("k", expr("CAST(substr(audio_id, 4, 20) AS BIGINT)"))
        .filter(col("k") % 97 === 0)
        .select("k", "bytes")
        .as[(Long, Array[Byte])]
        .map { case (k, bytes) =>
          val (samples, sr, ch) = graft.synth.Wav.decode(bytes)
          var sum = 0L; var sumsq = 0L; var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong; sum += v; sumsq += v * v; i += 1
          }
          (k, sr, ch, samples.length, sum, sumsq)
        }
        .toDF("k", "sample_rate", "channels", "n_samples", "sample_sum", "sample_sumsq")
        .orderBy("k")
    }),

    // audio downsample (every 2nd frame, re-encoded WAV), PROMOTED from a
    // pin to a TRUE SQL oracle: each output clip is re-decoded and its
    // kept-sample count + sum emitted PER CLIP; DuckDB re-derives both from
    // the (A^j, T_j) power table keeping exactly the odd-j samples — the
    // decode→slice→re-encode→re-decode loop is gated clip by clip.
    "q_audio_downsample" -> ((s, dir) => {
      import s.implicits._
      AudioOps.downsample(s, Synth.audio(s, dir), factor = 2)
        .select(col("audio_id"), col("bytes"))
        .as[(String, Array[Byte])]
        .map { case (id, b) =>
          val (samples, sr, _) = graft.synth.Wav.decode(b)
          var sum = 0L; var i = 0
          while (i < samples.length) { sum += samples(i); i += 1 }
          (id.drop(3).toLong, sr, samples.length, sum)
        }.toDF("k", "sr", "n_samples", "sample_sum")
        .orderBy("k")
    }),

    // ---- events: windowed analytics --------------------------------------
    "q_events_tumbling" -> ((s, dir) =>
      EventOps.tumbling(Synth.events(s, dir), 300)
        .select(col("event_type"), col("window_start_sec"), col("n"), col("sum_value_micro"))
        .orderBy("event_type", "window_start_sec")),

    "q_events_sessions" -> ((s, dir) =>
      EventOps.sessionize(Synth.events(s, dir), 1800)
        .select(col("user_id"), col("sess_id"), col("n_events"), col("duration_sec"),
          col("sum_value_micro"))
        .orderBy("user_id", "sess_id")),

    // as-of join (purchase ← latest view at-or-before, per user): union-merge
    // + per-user window carry-forward, ONE shuffle on user_id — no range-join
    // candidate blowup. Oracle is DuckDB's NATIVE ASOF LEFT JOIN, a fully
    // independent implementation of the semantics.
    "q_events_asof" -> ((s, dir) =>
      EventOps.asofJoin(Synth.events(s, dir), "purchase", "view")
        .orderBy("user_id", "left_ts_us", "left_id")),

    // first-order Markov transition matrix over per-user event streams:
    // P(next | current) as exact ppm integers, deterministic under the
    // (ts_us, event_id) tie-break; one user-keyed shuffle, ≤ |types|² rows
    "q_events_markov" -> ((s, dir) =>
      EventOps.transitionMatrix(Synth.events(s, dir))
        .orderBy("from_type", "to_type")),

    // per-user inter-arrival gap statistics (sessionization-threshold
    // evidence): integer-micro gaps via one user-keyed lag window
    "q_events_interarrival" -> ((s, dir) =>
      EventOps.interArrival(Synth.events(s, dir), gapSec = 1800L)
        .orderBy("user_id")),

    // Gini concentration of per-user spend (whale diagnostic): exact
    // rational over ranked micro totals, no float anywhere
    "q_events_gini" -> ((s, dir) =>
      EventOps.spendGini(Synth.events(s, dir))),

    // per-user behavioral entropy (bot/diversity triage): the exact BIGINT
    // identity n·ln9(n) − Σ cnt·ln9(cnt) under the nano-LN convention
    "q_events_entropy" -> ((s, dir) =>
      EventOps.behaviorEntropy(Synth.events(s, dir), minNanoNats = 1580000000L)
        .orderBy("user_id")),

    // lagged cross-correlation (does viewing lead purchasing?): Pearson
    // numerators per lag over zero-filled 600s count series, all BIGINT
    "q_events_lag_corr" -> ((s, dir) =>
      EventOps.lagCrossCorr(Synth.events(s, dir), "view", "purchase",
        windowSec = 600L, maxLag = 3)
        .orderBy("lag")),

    // A/B conversion chi-square as an exact rational: 2×2 cells from the
    // user_id % 2 bucket, chi² = N(ad−bc)²/Π(margins) carried as num/den,
    // the 0.05 verdict decided by integer cross-multiplication
    "q_events_ab_chi2" -> ((s, dir) =>
      EventOps.abChiSquare(Synth.events(s, dir), convType = "purchase")),

    // self-intersection (loop) detection: proper segment crossings by pure
    // integer orientation SIGN tests (no epsilon, nothing multiplied that
    // can overflow); DuckDB re-derives every µ° point from the LCG closed
    // form and replays the identical sign tests pair by pair
    "q_traj_selfint" -> ((s, dir) =>
      graft.ops.GeoStatsOps.selfIntersections(
          Synth.tracks(s, dir).filter(col("track_id") % 3 === 0))
        .orderBy("track_id")),

    // trajectory turn statistics with NO trigonometry: ≥45°/≥90° turn
    // classification by exact integer dot-product inequalities over the
    // µ° step vectors; DuckDB re-derives every step delta from the LCG
    // power table and replays the same inequalities
    "q_traj_turns" -> ((s, dir) =>
      graft.ops.GeoStatsOps.turnStats(Synth.tracks(s, dir))
        .orderBy("track_id")),

    // per-user z-score outliers with NO sqrt/float: |z| ≥ 1.5 as the exact
    // integer inequality 4·(n·x − s1)² ≥ 9·(n·s2 − s1²) on milli values
    "q_events_zscore" -> ((s, dir) =>
      EventOps.zscoreOutliers(Synth.events(s, dir))
        .orderBy("user_id")),

    // one-sided CUSUM changepoint detection (Page 1954): the per-user
    // serial recurrence s = max(0, s + v − target) with reset-on-alarm,
    // run as a codegen-plan higher-order aggregate over the bounded
    // per-user array; DuckDB replays the identical recurrence with a
    // recursive CTE — alarm counts, first-alarm ts and peak all exact
    // BIGINT micros
    "q_events_cusum" -> ((s, dir) =>
      EventOps.cusum(Synth.events(s, dir),
        targetMicro = 60000000L, hMicro = 400000000L)
        .orderBy("user_id")),

    // ordered funnel (signup → view → click → purchase, first-occurrence
    // chaining with strict-after steps): per-stage user counts
    "q_events_funnel" -> ((s, dir) =>
      EventOps.funnel(Synth.events(s, dir),
        Seq("signup", "view", "click", "purchase")).orderBy("stage")),

    // retention matrix (cohort = first-event epoch-week): distinct users
    // per (cohort_week, week_offset) — integer week arithmetic
    "q_events_retention" -> ((s, dir) =>
      EventOps.retention(Synth.events(s, dir))
        .orderBy("cohort_week", "week_offset")),

    // ---- Structured Streaming twins, DRIVER-GATED: the batch inputs replay
    // through the streaming engine (Streaming.replay, one batch) and must
    // land on the exact rows of the batch oracle. Values stream as integer
    // micros (each < 2^53, so double accumulation is exact and
    // partitioning-invariant). The replay's collect is the harness, not the
    // operator: at scale the stream arrives from a real source; the gate
    // proves engine-equivalence of the streaming plan itself.
    "q_stream_tumbling" -> ((s, dir) =>
      Streaming.replay(s, microEvents(s, dir), "graft_q_stream_tumbling", "complete")(
          Streaming.tumblingCounts(_, 300))
        .select(col("event_type"), col("window_start_sec"), col("n"),
          col("sum_value").cast("long").as("sum_value_micro"))
        .orderBy("event_type", "window_start_sec")),

    // sliding (hopping) window stream twin: 600s windows every 300s — each
    // event contributes to exactly two overlapping panes; the oracle replays
    // Spark's window-assignment rule as a 2-offset cross join
    "q_stream_sliding" -> ((s, dir) =>
      Streaming.replay(s, microEvents(s, dir), "graft_q_stream_sliding", "complete")(
          Streaming.slidingCounts(_, 600, 300))
        .select(col("event_type"), col("window_start_sec"), col("n"),
          col("sum_value").cast("long").as("sum_value_micro"))
        .orderBy("event_type", "window_start_sec")),

    // streaming windowed top-k: the k-bounded TopKAgg inside the streaming
    // aggregation (state = k pairs per window); the oracle is the batch
    // ROW_NUMBER cut over the same micro-exact values
    "q_stream_topk" -> ((s, dir) =>
      Streaming.replay(s,
          Synth.events(s, dir)
            .select(col("ts").cast("timestamp").as("ts"), col("user_id"), col("value")),
          "graft_q_stream_topk", "complete")(Streaming.windowTopK(_, 300, 3))
        .orderBy("window_start_sec", "rk")),

    // gap-sessionization stream twin: one sentinel event per user past the
    // gap closes every real session inside the single replay batch, so the
    // Append-mode flatMapGroupsWithState emits deterministically (no
    // reliance on processing-time timeouts firing); the sentinel's own
    // opened session is never emitted and never reaches the output. Over
    // the replayed feed (events and sentinels), every emitted session is
    // closed by exactly one gap, so the expected count is the feed's gaps.
    // The state has a ProcessingTimeTimeout, so the harness polls to it.
    "q_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      val gapUs = 1800L * 1000000L
      val ev = Synth.events(s, dir)
        .select(col("user_id").cast("long").as("user_id"),
          expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS BIGINT)").as("ts_us"),
          floor(col("value") * 1e6).cast("double").as("value"))
      val feed = ev.unionByName(ev.groupBy(col("user_id"))
        .agg((max(col("ts_us")) + gapUs + 1L).as("ts_us"), lit(0.0).as("value")))
      val gaps = (rows: Seq[org.apache.spark.sql.Row]) =>
        rows.groupBy(_.getAs[Long]("user_id")).valuesIterator.map { rs =>
          val ts = rs.map(_.getAs[Long]("ts_us")).sorted
          ts.sliding(2).count(w => w.length == 2 && w(1) - w(0) > gapUs).toLong
        }.sum
      Streaming.replay(s, feed, "graft_q_stream_sessions", "append", Some(gaps))(
          f => Streaming.sessionize(s, f.as[Streaming.Ev], 1800L))
        .select(col("user_id"), col("sess_id"), col("n_events"), col("duration_sec"),
          col("sum_value").cast("long").as("sum_value_micro"))
        .orderBy("user_id", "sess_id")
    }),

    // streaming exact-dedup twin: every document replays through the
    // flatMapGroupsWithState digest-keyed dedup (state = ONE long per
    // digest) and must land on the batch truth — is_first ⇔ smallest doc_id
    // per md5 digest. The synthetic documents are all distinct, so every 7th
    // doc is re-emitted under doc_id+1e6 INSIDE the query (mirrored in the
    // oracle) to make the duplicate path do real work at the gate. Same
    // ProcessingTimeTimeout caveat as sessions: one output row per feed
    // row, so the harness polls to the feed's row count.
    "q_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val base = Synth.documents(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val docs = base
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .select(col("doc_id"), md5(col("text")).as("digest"))
      Streaming.replay(s, docs, "graft_q_stream_dedup", "append", Some(_.length.toLong))(
          f => Streaming.dedupStream(s, f.as[Streaming.DocIn]))
        .select(col("doc_id"), col("digest"), col("is_first"))
        .orderBy("doc_id")
    }),

    // STREAM-STREAM interval join twin: geotagged pings and a caption feed
    // (both derived deterministically from the image table — ping at
    // base + u%240 s, caption offset (v%360)-180 s, so roughly a third of
    // captioned images land outside the ±120 s window) joined with
    // watermarks on BOTH sides; the oracle is the equivalent batch interval
    // join. No stateful timeout here, so a single replay batch +
    // processAllAvailable is deterministic.
    "q_stream_join" -> ((s, dir) =>
      pingCaptionReplay(s, dir, "graft_q_stream_join", 240)(
        Streaming.pingCaptionJoin(_, _, joinWindowSec = 120))),

    // LEFT OUTER stream-stream interval join twin: same sliced feed as
    // q_stream_join; unmatched pings emit null-padded rows once the global
    // watermark passes their join horizon, and the oracle applies the
    // identical cutoff (LEAST of both feeds' max ts − delay) in SQL
    "q_stream_left_join" -> ((s, dir) =>
      pingCaptionReplay(s, dir, "graft_q_stream_left_join", 3600)(
        Streaming.pingCaptionLeftJoin(_, _, joinWindowSec = 120))),

    // streaming CUSUM (the q_events_cusum twin live): per-user drift alarms
    // from flatMapGroupsWithState with TWO longs of state per user; the
    // single-batch replay is bit-identical to the batch recurrence, so the
    // same recursive-CTE oracle gates the stream, alarm row by alarm row
    "q_stream_cusum" -> ((s, dir) => {
      import s.implicits._
      val feed = Synth.events(s, dir)
        .select(col("user_id").cast("long").as("user_id"),
          expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS BIGINT)").as("ts_us"),
          col("event_id").cast("long").as("event_id"),
          floor(col("value") * lit(1e6)).cast("long").as("v6"))
      Streaming.replay(s, feed, "graft_q_stream_cusum", "append")(f =>
          Streaming.cusumStream(s, f.as[Streaming.CEv],
            targetMicro = 60000000L, hMicro = 400000000L))
        .orderBy("user_id", "alarm_idx")
    }),

    // streaming geofence twin: GPS points replay through the track-keyed
    // flatMapGroupsWithState (state = ONE (step, zone) pair per track) and
    // must land on the batch lag-window oracle rows; NoTimeout state, so
    // processAllAvailable terminates (no ProcessingTimeTimeout spin). The
    // track slice (replaySliceMod) bounds the replay feed, not the operator.
    "q_stream_geofence" -> ((s, dir) => {
      import s.implicits._
      val (g, _, _) = Pipeline.prepared(s, dir)
      val feed = Synth.tracks(s, dir)
        .filter(col("track_id") % replaySliceMod(s, dir) === 0)
        .select(col("track_id"), posexplode(col("geometry")).as(Seq("step", "pt")))
        .select(col("track_id"), col("step"),
          col("pt.lat").as("lat"), col("pt.lon").as("lon"))
      Streaming.replay(s, feed, "graft_q_stream_geofence", "append")(f =>
          Streaming.geofenceStream(s, f.as[Streaming.GeoPt], Synth.cityPolys(g)))
        .orderBy("track_id", "step")
    }),

    // ---- relational anchors (scan/filter/agg/join/window) ----------------
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // exact discrete quantiles WITHOUT a global sort: histogram-narrowing
    // selection (QuantileOps) — the oracle recomputes each rank by
    // row_number over the sorted column, fully independent of the
    // histogram machinery
    "q_quantiles_exact" -> ((s, dir) =>
      QuantileOps.exactQuantiles(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))),

    // TPC-H Q5-shaped local-supplier revenue: the 6-way join anchor. Fact
    // tables (lineitem, orders) shuffle on their join keys; customer/
    // supplier/nation/region are explicitly broadcast (they are dims —
    // at 100 TB the facts grow, the dims don't). Revenue in integer micros
    // (floor before sum) so the 6-way-shuffled aggregation is
    // partition-order-invariant, not merely round-masked.
    "q5_local_supplier" -> ((s, dir) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = broadcast(s.read.parquet(s"$dir/customer.parquet"))
      val su = broadcast(s.read.parquet(s"$dir/supplier.parquet"))
      val na = broadcast(s.read.parquet(s"$dir/nation.parquet"))
      val re = broadcast(s.read.parquet(s"$dir/region.parquet"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(na, col("s_nationkey") === col("n_nationkey"))
        .join(re, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(1e6)).cast("long")).as("revenue_micro"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue_micro").desc, col("n_name"))
    }),

    "q_join_topn" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      import org.apache.spark.sql.expressions.Window
      val rev = o.groupBy(col("o_custkey")).agg(
        round(sum(col("o_totalprice")), 4).as("revenue"), count(lit(1)).as("n_orders"))
      // top-20 via orderBy+limit (TakeOrdered: per-partition heaps, no global
      // single-task window); rank assigned over the 20 survivors only
      rev.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("revenue").desc, col("c_custkey"))))
        .orderBy("rk")
    }),

    // grouped exact top-k via the native k-bounded aggregate: map-side
    // combine discards non-contenders before the exchange (the window form
    // would shuffle + sort EVERY row); ranks on exact integer cents
    "q_topk_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(graft.exprs.topk.topk_agg(col("cents"), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
          col("col.tag").as("o_orderkey"), col("col.v").as("cents"))
        .orderBy("o_orderpriority", "rk")
    }),

    // Bloom semi-join reduction: the large side (lineitem) is pruned at the
    // scan by a Bloom filter of the selective small side's keys BEFORE the
    // join exchange — no false negatives, so the result is row-identical to
    // the plain join the oracle runs. Per-row cents are rounded before the
    // sum so both engines add identical integers in any order.
    "q_join_bloom_prune" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val sel = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      JoinOps.bloomPrunedJoin(li, sel, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * lit(100), 0).cast("long")).as("revenue_cents"))
        .orderBy("l_returnflag")
    })
  )

  def oracleSql: Map[String, String] = OracleSql.all ++ OracleLiterals.pins
}
