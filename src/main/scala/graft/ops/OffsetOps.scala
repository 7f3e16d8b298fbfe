package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.fns

/** X2 linear referencing (reference offset.js:170-244): GPS point at ±N
  * meters along a way from a node, interpolating within the containing
  * segment and continuing across the unique same-named (name ?? ref) way at
  * the terminal node (J9, offset.js:155-165).
  *
  * Distributed shape (no driver-side way map — round 1 collected the whole
  * ways table to the driver, which dies first at planet scale):
  *  - the within-way step is a Catalyst expression (WalkWithinWay) applied
  *    after an equi-join of pending requests to the way index on way_id;
  *  - the cross-way continuation is an equi-join of run-off requests to the
  *    node→ways index, kept only when the same-named candidate is UNIQUE;
  *  - rounds are a driver loop of Spark joins — hop counts are small and
  *    the pending set shrinks monotonically, the standard iterative-join
  *    shape (cf. connected components). localCheckpoint truncates lineage
  *    per round.
  */
object OffsetOps {

  /** requests: (way_id long, node_id long, offset_m double).
    * Output: request cols + (olat, olon) or nulls when the walk runs off the
    * network (reference returns null, offset.js:157-160). */
  def offsetAlong(spark: SparkSession, rawWays: DataFrame, requests: DataFrame,
                  maxHops: Int = 16): DataFrame = {
    val wayIdx = rawWays.filter(col("tags").isNotNull)
      .select(col("id").as("w_id"),
        coalesce(col("tags").getItem("name"), col("tags").getItem("ref")).as("w_name"),
        col("nodes").as("w_nodes"),
        flatten(transform(col("geometry"), g =>
          array(g.getField("lat"), g.getField("lon")))).as("w_flat"))
    // node→ways index for continuation lookups (mapNodeIdToWays analog,
    // relational: one narrow row per (node, way))
    val nodeWays = wayIdx.select(explode(col("w_nodes")).as("nw_node"),
      col("w_id").as("nw_id"), col("w_name").as("nw_name"))

    val reqKeys = Seq("ow", "on", "om")
    val nullLat = lit(null).cast("double").as("olat")
    val nullLon = lit(null).cast("double").as("olon")

    var active = requests
      .select(col("way_id").as("ow"), col("node_id").as("on"), col("offset_m").as("om"))
      .dropDuplicates(reqKeys)
      .select(col("ow"), col("on"), col("om"),
        col("ow").as("cur_way"), col("on").as("cur_node"), col("om").as("cur_m"))
    var results: DataFrame = null
    def accumulate(df: DataFrame): Unit =
      results = if (results == null) df else results.unionByName(df)

    var hop = 0
    while (hop <= maxHops && !active.isEmpty) {
      val stepped = active
        .join(wayIdx, active("cur_way") === wayIdx("w_id"), "left")
        .withColumn("step", fns.walk_within_way(
          col("w_nodes"), col("w_flat"), col("cur_node"), col("cur_m")))
        .select(col("ow"), col("on"), col("om"), col("cur_way"), col("w_name"),
          col("w_id"), col("step"))
        .localCheckpoint() // reused thrice below; also truncates loop lineage
      accumulate(stepped.filter(col("step.status") === 0)
        .select(col("ow"), col("on"), col("om"),
          col("step.olat").as("olat"), col("step.olon").as("olon")))
      accumulate(stepped.filter(col("w_id").isNull || col("step.status") === 2)
        .select(col("ow"), col("on"), col("om"), nullLat, nullLon))
      // continuation: unique same-named other way at the terminal node
      val cont = stepped.filter(col("step.status") === 1)
        .select(col("ow"), col("on"), col("om"), col("cur_way"), col("w_name"),
          col("step.term").as("term"), col("step.rem").as("rem"))
      val counted = cont
        .join(nodeWays, col("term") === col("nw_node") &&
          col("w_name") === col("nw_name") && col("cur_way") =!= col("nw_id"), "left")
        .groupBy((reqKeys.map(col) :+ col("term") :+ col("rem")): _*)
        .agg(count(col("nw_id")).as("ncand"), min(col("nw_id")).as("next_id"))
      accumulate(counted.filter(col("ncand") =!= 1)
        .select(col("ow"), col("on"), col("om"), nullLat, nullLon))
      active = counted.filter(col("ncand") === 1)
        .select(col("ow"), col("on"), col("om"), col("next_id").as("cur_way"),
          col("term").as("cur_node"), col("rem").as("cur_m"))
      hop += 1
    }
    // hop budget exhausted while still pending → null (offset.js depth guard)
    accumulate(active.select(col("ow"), col("on"), col("om"), nullLat, nullLon))

    requests.join(results,
        col("way_id") === col("ow") && col("node_id") === col("on") &&
          col("offset_m") === col("om"), "left")
      .select(col("way_id"), col("node_id"), col("offset_m"), col("olat"), col("olon"))
  }
}
