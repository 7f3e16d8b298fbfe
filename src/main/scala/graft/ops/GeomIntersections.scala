package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.fns

/** Geometric intersection finding (SURVEY J2-J5, P4, P7): reference
  * `findIntersectionsGeomtric` geo.js:248-329 over the 0.01° grid bins
  * (gpsBins.js). Expressed Spark-first as a cell-bucketed self-join:
  * each way replicates into every grid cell its bbox covers
  * (explode(cells_covering(bbox))), candidate pairs are an equi-join on
  * cell_id, refined by exact polyline intersection. The left side is the
  * motorway subset (P4: `way.bridge` is never set on the objects the
  * reference tests, so the effective predicate is motorway-only) — tiny,
  * so Spark broadcasts it.
  *
  * The reference's bin iterator may yield the same way pair once per shared
  * cell and tolerates the duplicate output rows ("intersections of >2 ways
  * could appear multiple times", geo.js:270); here each pair is kept in
  * exactly one shared cell by a reference-point owner conjunct (W4
  * normalization): the low corner of the two coverings' overlap, in index
  * space, lies in both coverings exactly once. No dedup shuffle.
  *
  * Output columns: lat, lon, raw, streets, wayIds array<long>, nodeId
  * string ('Geom' or first common node id), ord (large sentinel — geometric
  * rows come after topological ones in the reference output).
  */
object GeomIntersections {

  /** ways with bbox + derived columns used by both sides of the join. */
  def withBounds(wayData: DataFrame): DataFrame =
    wayData
      .withColumn("min_lat", array_min(transform(col("geometry"), g => g.getField("lat"))))
      .withColumn("max_lat", array_max(transform(col("geometry"), g => g.getField("lat"))))
      .withColumn("min_lon", array_min(transform(col("geometry"), g => g.getField("lon"))))
      .withColumn("max_lon", array_max(transform(col("geometry"), g => g.getField("lon"))))

  def apply(spark: SparkSession, wayData: DataFrame, res: Int = 2): DataFrame = {
    val bounded = withBounds(wayData)
    val withCells = bounded
      .select(col("way_id"), col("name"), col("highway"), col("nodes"), col("geometry"),
        col("min_lat"), col("min_lon"),
        explode(fns.cells_covering(col("min_lat"), col("min_lon"),
          col("max_lat"), col("max_lon"), res)).as("cell"))

    // P4 (effective): candidate way1 must be a motorway with a nonempty name
    val left = withCells
      .filter(col("highway") === "motorway" && length(col("name")) > 0)
      .select(col("cell"), col("way_id").as("id1"), col("name").as("name1"),
        col("highway").as("hw1"), col("nodes").as("nodes1"), col("geometry").as("geom1"),
        col("min_lat").as("min_lat1"), col("min_lon").as("min_lon1"))
    val right = withCells
      .filter(length(col("name")) > 0)
      .select(col("cell"), col("way_id").as("id2"), col("name").as("name2"),
        col("highway").as("hw2"), col("nodes").as("nodes2"), col("geometry").as("geom2"),
        col("min_lat").as("min_lat2"), col("min_lon").as("min_lon2"))

    // J3 symmetry breaking (gpsBins.js:216-226): yield way2 iff it fails the
    // predicate or has a larger id; never self-pair. W4 owner: the pair is
    // kept only in the cell of its coverings' common low corner.
    val pairs = broadcast(left).join(right,
        left("cell") === right("cell") &&
          left("cell") === fns.cell_encode(greatest(col("min_lat1"), col("min_lat2")),
            greatest(col("min_lon1"), col("min_lon2")), res) &&
          col("id1") =!= col("id2") &&
          (col("hw2") =!= "motorway" || col("id2") > col("id1")), "inner")

    val refined = pairs
      // J4: exact polyline intersection, first hit (geo.js:201-215)
      .withColumn("hit", fns.segments_intersect(col("geom1"), col("geom2")))
      .filter(col("hit").isNotNull)
      // J5: shared nodes in way1-order (geo.js:188-200)
      .withColumn("common", array_intersect(col("nodes1"), col("nodes2")))
      .withColumn("has_common", size(col("common")) > 0)
      // P7 checkHighwayTypes (geo.js:217-235), way1 is always motorway here:
      // motorway×motorway needs no common node; motorway×link rejected
      .filter(
        when(col("hw2") === "motorway", !col("has_common"))
          .when(col("hw2") === "motorway_link", lit(false))
          .otherwise(lit(true)))

    val rows = refined.select(
      element_at(col("hit"), 1).as("lat"),
      element_at(col("hit"), 2).as("lon"),
      concat(col("name1"), lit("/"), col("name2")).as("raw"),
      fns.clean_street_key(concat(col("name1"), lit("/"), col("name2"))).as("streets"),
      sort_array(array(col("id1"), col("id2"))).as("wayIds"),
      when(col("has_common"), element_at(col("common"), 1).cast("string"))
        .otherwise(lit("Geom")).as("nodeId"),
      (lit(4000000000000000L) + col("id1") * 1000000L + col("id2")).as("ord"))

    // only removeJUNCTIONS runs on the geometric path (geo.js:305-325;
    // junction/boulevard averaging is commented out there)
    TopoIntersections.removeJunctions(rows)
  }
}
