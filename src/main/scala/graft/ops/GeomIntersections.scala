package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.fns

/** Geometric intersection finding (SURVEY J2-J5, P4, P7): reference
  * `findIntersectionsGeomtric` geo.js:248-329 over the 0.01° grid bins
  * (gpsBins.js). Expressed Spark-first as a theta-join on "the two ways'
  * bbox coverings share a cell" (arrays_overlap of cells_covering), which
  * [[graft.plans.CoverJoinRewrite]] plans as a cell-bucketed equi-join,
  * refined by exact polyline intersection. The left side is the motorway
  * subset (P4: `way.bridge` is never set on the objects the reference
  * tests, so the effective predicate is motorway-only) — tiny, so it is
  * broadcast.
  *
  * The reference's bin iterator may yield the same way pair once per shared
  * cell and tolerates the duplicate output rows ("intersections of >2 ways
  * could appear multiple times", geo.js:270); here each pair is kept in
  * exactly one shared cell by the rule's owner conjunct (W4 normalization).
  * No dedup shuffle.
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
    graft.plans.GraftPlans.enable(spark)
    val named = withBounds(wayData).filter(length(col("name")) > 0)
      .select(col("way_id").as("id"), col("name"), col("highway").as("hw"), col("nodes"),
        col("geometry").as("geom"), col("min_lat"), col("min_lon"), col("max_lat"), col("max_lon"))
    def side(i: Int) = named.select(named.columns.toSeq.map(c => col(c).as(s"$c$i")): _*)
    def cover(i: Int) = fns.cells_covering(col(s"min_lat$i"), col(s"min_lon$i"),
      col(s"max_lat$i"), col(s"max_lon$i"), res)
    // P4 (effective): candidate way1 must be a motorway with a nonempty name
    val left = side(1).filter(col("hw1") === "motorway")

    // J3 symmetry breaking (gpsBins.js:216-226): yield way2 iff it fails the
    // predicate or has a larger id; never self-pair
    val pairs = broadcast(left).join(side(2),
        arrays_overlap(cover(1), cover(2)) &&
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
