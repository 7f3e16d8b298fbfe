package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exprs.fns
import graft.geom.Geom

/** Working row for the order-sensitive coalescing stages (A4/A5/A6). */
case class Memb(way_id: Long, name: String)
case class TopoRow(
    lat: Double, lon: Double, raw: String, streets: String,
    wayIds: Seq[Long], nodeId: Long, ord: Long,
    deadNames: Seq[String], memberships: Seq[Memb])

/** Topological intersection finding (SURVEY J1/A1/P5/P6/W1/A4/A5/A6):
  * reference `findintersections` geo.js:1136-1223 + coalescing
  * geo.js:738-967. Two passes, like the reference's one
  * Map<node, Set<name>> and one avgGps:
  *   - ONE node-keyed aggregate over the exploded wayData (names, order,
  *     gps, memberships, highway types, dead-end parity), then the W1
  *     intString window;
  *   - ONE typed pass over the `streets` groups (groupByKey.flatMapGroups)
  *     for A4+A5+A6. Whether a row is a JUNCTION row depends only on its
  *     streets, so a group is all junction (A4: one averaged row) or all
  *     plain (A5 singleton pass-through, A6 greedy 50 m clustering, whose
  *     first-element clusters and early-return neighbor pairing,
  *     geo.js:827-967, are not relational).
  */
object TopoIntersections {

  /** Full topological pipeline over wayData (WayOps.deriveWayData). Output
    * columns: lat, lon, raw, streets, wayIds array<long>, nodeId long, ord.
    *
    * `rawWays` is no longer read: every tagged way is in wayData at least
    * once with its raw nodes and highway (named, X1-named link and
    * fake-named rows), so the per-node highway set and way ids come from
    * the same aggregate. The parameter stays for source compatibility.
    */
  def apply(spark: SparkSession, wayData: DataFrame, rawWays: DataFrame): DataFrame = {
    import spark.implicits._

    // ONE explode + ONE groupBy(node): names set + first-insertion order
    // (J1/A1/W1), first-occurrence gps (mapNodeIdToGps), memberships
    // (onSameWay and the wayIds output column, geo.js:1132), highway types
    // (P5/P6, mapNodeIdToWays) and the A7 dead-end parity (endpoint
    // occurrences per name, odd count = dead end — computed from the
    // per-node endpoint-name list, which is degree-bounded).
    val n = size(col("nodes"))
    val exploded = wayData
      .select(col("way_pos"), col("way_id"), col("name"), col("highway"), col("src"), n.as("n"),
        posexplode(arrays_zip(col("nodes"), col("geometry"))))
      .select(col("name"), col("way_id"), col("highway"),
        col("col.nodes").as("node"),
        col("col.geometry.lat").as("lat"), col("col.geometry.lon").as("lon"),
        (col("way_pos") * 1000000L + col("pos")).as("okey"),
        // endpoint of a named non-fake way with >=2 nodes (WayOps.deadEnds)
        (col("src") =!= "fake" && col("n") >= 2 &&
          (col("pos") === 0 || col("pos") === col("n") - 1)).as("is_end"))
    val wdAgg = exploded.groupBy("node")
      .agg(
        collect_set(col("name")).as("names"),
        min(col("okey")).as("ord"),
        min_by(struct(col("lat"), col("lon")), col("okey")).as("g"),
        collect_set(struct(col("way_id"), col("name"))).as("memberships"),
        collect_set(col("highway")).as("hws"),
        collect_list(when(col("is_end"), col("name"))).as("end_names"))
      .filter(size(col("names")) > 1)
      // P5: not all motorway_links (geo.js:1098-1108)
      .filter(exists(col("hws"), h => h =!= "motorway_link"))
      // P6: not all motorway+links (geo.js:1111-1123)
      .filter(!forall(col("hws"), h => h === "motorway" || h === "motorway_link"))

    val wIntString = Window.partitionBy("intString").orderBy("ord")
    val ints = wdAgg
      .withColumn("intString", concat_ws("/", array_sort(col("names"))))
      .withColumn("rn", row_number().over(wIntString))
      .withColumn("mx", max(col("rn")).over(Window.partitionBy("intString")))
      // W1 suffixing (geo.js:1176-1184): 2nd..9th get _2.._9; ≥10th
      // overwrites the unsuffixed map entry (last one wins)
      .filter(col("rn") <= 9 || col("rn") === col("mx"))
      .filter(!(col("mx") >= 10 && col("rn") === 1))
      .withColumn("raw",
        when(col("rn") === 1 || col("rn") >= 10, col("intString"))
          .otherwise(concat(col("intString"), lit("_"), col("rn"))))
      .select(col("g.lat").as("lat"), col("g.lon").as("lon"), col("raw"),
        fns.clean_street_key(col("raw")).as("streets"),
        array_sort(array_distinct(transform(col("memberships"), m => m.getField("way_id"))))
          .as("wayIds"),
        col("node").as("nodeId"), col("ord"),
        sort_array(filter(array_distinct(col("end_names")),
          nm => size(filter(col("end_names"), x => x === nm)) % 2 === 1)).as("deadNames"),
        col("memberships"))
      .as[TopoRow]

    // A4 (geo.js:738-766): a JUNCTION group collapses to one averaged row
    // led by its first row; A5+A6 (geo.js:904-967): a singleton passes
    // through greedyCluster unchanged, duplicates cluster greedily
    val coalesced = ints
      .groupByKey(_.streets)
      .flatMapGroups { (streets: String, it: Iterator[TopoRow]) =>
        if (streets.contains("JUNCTION")) Seq(avgRows(it.toSeq.sortBy(_.ord)))
        else greedyCluster(it.toSeq)
      }
    removeJunctions(coalesced.toDF())
  }

  private def manhattan(a: TopoRow, b: TopoRow): Double =
    Geom.manhattanDeg(a.lat, a.lon, b.lat, b.lon)

  /** avgGps (geo.js:712-732): mean coords, union of wayIds, first row's
    * raw/streets/nodeId (and our carried deadNames/memberships/ord). */
  private def avgRows(rows: Seq[TopoRow]): TopoRow = {
    val n = rows.length
    val h = rows.head
    TopoRow(
      rows.map(_.lat).sum / n, rows.map(_.lon).sum / n,
      h.raw, h.streets,
      rows.flatMap(_.wayIds).distinct.sorted,
      h.nodeId, h.ord, h.deadNames, h.memberships)
  }

  /** onSameWay (geo.js:359-372): some way contains both nodes and its name is
    * in the dead-end street set. */
  private def onSameWay(n: TopoRow, m: TopoRow, strSet: Set[String]): Boolean =
    n.memberships.exists(w =>
      strSet.contains(w.name) && m.memberships.exists(_.way_id == w.way_id))

  /** processCloseGroup (geo.js:827-903), bug-faithful including the early
    * return after the first neighbor pairing and findNeighbor possibly
    * matching the dead-end row itself. */
  private def processCloseGroup(close: Seq[TopoRow]): Seq[TopoRow] = {
    if (close.length <= 1) return close
    val deadEndCount = close.count(_.deadNames.nonEmpty)
    if (deadEndCount == 0) return Seq(avgRows(close))
    if (close.length == 2) {
      if (deadEndCount == 1) {
        return if (manhattan(close(0), close(1)) < 50) Seq(avgRows(close)) else close
      }
      if (deadEndCount == 2) return close
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[TopoRow]
    for (m <- close if m.deadNames.nonEmpty) {
      val strSet = m.deadNames.toSet
      close.find(n => onSameWay(n, m, strSet)) match {
        case Some(other) => out += avgRows(Seq(other, m)); return out.toSeq
        case None => out += m
      }
    }
    out.toSeq
  }

  /** greedy clustering loop (geo.js:939-962): repeatedly sort remaining rows
    * by distance from the first, take the <50 m prefix as a group. */
  def greedyCluster(rows: Seq[TopoRow]): Seq[TopoRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[TopoRow]
    var matches = rows.sortBy(_.ord) // insertion order
    while (matches.nonEmpty) {
      val base = matches.head
      val sorted = matches.sortBy(m => manhattan(m, base)) // stable sort
      val close = sorted.filter(m => manhattan(m, base) < 50)
      out ++= processCloseGroup(close)
      matches = sorted.drop(close.length)
    }
    out.toSeq
  }

  /** removeJUNCTIONS (geo.js:778-799): drop the fake token; keep only rows
    * with ≥2 remaining street tokens. */
  def removeJunctions(ints: DataFrame): DataFrame =
    ints
      .withColumn("toks", filter(split(col("streets"), "/"), t => t =!= "JUNCTION"))
      .filter(size(col("toks")) > 1)
      .withColumn("streets", concat_ws("/", col("toks")))
      .drop("toks")
}
