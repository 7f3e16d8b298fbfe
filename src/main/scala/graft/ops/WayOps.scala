package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Way preparation: derived names (F1, geo.js:171-186), motorway_link name
  * propagation fixpoint (X1, geo.js:445-544), JUNCTION fake names (A10,
  * geo.js:554-593), and dead-end detection (A7, geo.js:599-656) — all as
  * declarative DataFrame transforms except X1, which, like the reference,
  * runs its rounds in memory: on the driver, between two bounded collects
  * and one broadcast join, so its Spark job count does not grow with them.
  *
  * Output wayData columns: way_id, name, highway, nodes, geometry, way_pos
  * (insertion-order key reproducing the reference's array push order: named
  * ways first in input order, then X1-named links, then fake-named ways).
  */
object WayOps {

  /** F1 `getWayName`: tags.name then each ';'-token of tags.ref, joined with
    * ';'. Since split+join on the same delimiter is identity, this reduces to
    * concat_ws over the non-empty of (name, ref). Empty string when neither.
    */
  def wayName(tags: Column): Column =
    concat_ws(";", nullif(tags.getItem("name"), lit("")), nullif(tags.getItem("ref"), lit("")))

  /** all tagged ways with a stable input position (way_pos). Position is the
    * way's rank in input order; we use way id order as the deterministic
    * proxy (documented divergence: the reference uses file order).
    */
  private def withPos(ways: DataFrame): DataFrame =
    ways.filter(col("tags").isNotNull)
      .withColumn("way_pos", col("id"))

  // X1 driver caps: one county holds at most a few thousand motorway links
  private val MaxLinks = 200000
  private val MaxLinkBytes = 256L << 20

  /** X1 rounds over the unnamed links (way_id, way_pos, nodes) from `first`:
    * node → (way_pos, name) of its first naming source in input order. A
    * round names each link from the sources present before it, first node
    * before last; its newly named links then become sources at all their
    * nodes. Stops on no progress or after `maxIter` rounds; way_id → name.
    */
  private def solveLinkNames(links: Seq[(Long, Long, Seq[Long])],
                             first: mutable.Map[Long, (Long, String)],
                             maxIter: Int): Map[Long, String] = {
    def nameAt(n: Long) = first.get(n).map(_._2)
    val named = mutable.Map.empty[Long, String]
    var round = 0
    var progress = true
    while (progress && round < maxIter) {
      val hits = links.filterNot(l => named.contains(l._1)).flatMap { case l @ (_, _, nodes) =>
        nodes.headOption.flatMap(nameAt).orElse(nodes.lastOption.flatMap(nameAt)).map(l -> _)
      }
      for (((_, pos, nodes), name) <- hits; n <- nodes)
        if (first.get(n).forall(_._1 > pos)) first(n) = (pos, name)
      named ++= hits.map { case ((id, _, _), name) => id -> name }
      progress = hits.nonEmpty
      round += 1
    }
    named.toMap
  }

  /** X1 + A10: returns wayData (way_id, name, highway, nodes, geometry,
    * way_pos, src) where src ∈ {named, link, fake}.
    */
  def deriveWayData(spark: SparkSession, ways: DataFrame, maxIter: Int = 20): DataFrame = {
    val tagged = withPos(ways)
      .select(col("id").as("way_id"),
        wayName(col("tags")).as("fname"),
        col("tags").getItem("highway").as("highway"),
        col("tags").getItem("name").as("tag_name"),
        col("tags").getItem("ref").as("tag_ref"),
        col("nodes"), col("geometry"), col("way_pos"))
      .localCheckpoint() // synth lineage is deep; cut it once

    val named = tagged.filter(length(col("fname")) > 0)
      .select(col("way_id"), col("fname").as("name"), col("highway"),
        col("nodes"), col("geometry"), col("way_pos"), lit("named").as("src"))

    // --- X1: unnamed motorway_links take the ref of an adjacent motorway or
    // the name of an adjacent named link (first/last node, first matching
    // way in input order), repeated until no progress. Both collects run as
    // one task (a county's links and their endpoint sources are a few
    // thousand rows): no incremental limit scan, no shuffle for the min.
    val links = tagged.filter(col("highway") === "motorway_link" && col("tag_name").isNull)
    val linkWays = Driver.collectBounded(links.select("way_id", "way_pos", "nodes"),
      MaxLinks, MaxLinkBytes, "X1 unnamed motorway links")
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getSeq[Long](2)).getOrElse(Nil)))
    val linkNames = if (linkWays.isEmpty) Map.empty[Long, String] else {
      // naming sources present from the start: motorways by ref, named links
      // by name; only the first source at each link endpoint is read
      val ends = links.select(
        explode(array(element_at(col("nodes"), 1), element_at(col("nodes"), -1))).as("node"))
      val first = tagged
        .filter(col("highway") === "motorway" && col("tag_ref").isNotNull ||
          col("highway") === "motorway_link" && col("tag_name").isNotNull)
        .select(col("way_pos"), explode(col("nodes")).as("node"),
          when(col("highway") === "motorway", col("tag_ref")).otherwise(col("tag_name")).as("src_name"))
        .join(ends, Seq("node"), "left_semi").coalesce(1)
        .groupBy("node").agg(min(col("way_pos")), min_by(col("src_name"), col("way_pos")))
      solveLinkNames(linkWays.toSeq, mutable.HashMap.from(
        Driver.collectBounded(first, 2 * MaxLinks, MaxLinkBytes, "X1 link endpoint sources")
          .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))), maxIter)
    }
    // the solved names as a driver-built relation (a plan of constant size);
    // X1-named links are pushed after all named ways (reference push order)
    lazy val solved = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(linkNames.toSeq, 1)).toDF("way_id", "name"))
    val linkRows = if (linkNames.isEmpty) named.limit(0) else links.join(solved, Seq("way_id"))
      .select(col("way_id"), col("name"), col("highway"), col("nodes"), col("geometry"),
        (col("way_pos") + 1000000000L).as("way_pos"), lit("link").as("src"))

    // --- A10 fake names for still-unnamed ways: sorted union of adjacent
    // named-way names + sentinel ('motorway_link' for unnamed links that X1
    // could not name, 'JUNCTION' otherwise). X1-named links drop out by a
    // left join + null filter, not left_anti: it reads the columns of
    // `solved` that linkRows reads, so the plan reuses that broadcast.
    val namedSoFar = named.unionByName(linkRows)
    val nodeNames = namedSoFar
      .select(explode(col("nodes")).as("node"), col("name"))
      .groupBy("node").agg(collect_set(col("name")).as("nnames"))
    val unnamed0 = tagged.filter(length(col("fname")) === 0)
    val unnamed = if (linkNames.isEmpty) unnamed0
      else unnamed0.join(solved, Seq("way_id"), "left").filter(col("name").isNull).drop("name")
    val fakeRows = unnamed
      .select(col("way_id"), col("highway"), col("nodes"), col("geometry"), col("way_pos"),
        posexplode(col("nodes")))
      .withColumnRenamed("col", "node")
      .join(nodeNames, Seq("node"), "left")
      // way_id fixes the other columns: carry them, do not hash them
      .groupBy("way_id")
      .agg(any_value(col("highway")).as("highway"), any_value(col("nodes")).as("nodes"),
        any_value(col("geometry")).as("geometry"), any_value(col("way_pos")).as("way_pos"),
        array_sort(array_distinct(concat(
          array(when(any_value(col("highway")) === "motorway_link", lit("motorway_link"))
            .otherwise(lit("JUNCTION"))),
          flatten(collect_list(coalesce(col("nnames"), array().cast("array<string>"))))
        ))).as("names_arr"))
      .select(col("way_id"), concat_ws("/", col("names_arr")).as("name"), col("highway"),
        col("nodes"), col("geometry"),
        (col("way_pos") + 2000000000L).as("way_pos"), lit("fake").as("src"))

    named.unionByName(linkRows).unionByName(fakeRows)
  }

  /** A7 dead ends: street name toggled per way endpoint; names with odd
    * endpoint count at a node dead-end there (geo.js:599-651).
    * Input: wayData named rows (src != fake — the reference computes this via
    * getWayName over post-X1 tags, so X1-named links participate).
    * Output: (node, dead_names array<string>) — nodes with ≥1 dead-end name.
    */
  def deadEnds(wayData: DataFrame): DataFrame = {
    val named = wayData.filter(col("src") =!= "fake" && size(col("nodes")) >= 2)
    val endpoints = named.select(element_at(col("nodes"), 1).as("node"), col("name"))
      .unionAll(named.select(element_at(col("nodes"), -1).as("node"), col("name")))
    endpoints.groupBy("node", "name").count()
      .filter(col("count") % 2 === 1)
      .groupBy("node").agg(sort_array(collect_set(col("name"))).as("dead_names"))
  }
}
