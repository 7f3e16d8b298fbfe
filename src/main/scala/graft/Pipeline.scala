package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.synth.Synth

/** End-to-end pipelines over the deterministic synthetic world derived from
  * a testdata sf directory (SURVEY §3.1 query lifecycle).
  */
object Pipeline {

  /** memoized per (sfDir, session): grid size + cached way tables. The key
    * holds the session object itself, so two sessions never share an entry
    * (SparkSession compares by reference). */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession), (Int, DataFrame, DataFrame)]()

  def prepared(spark: SparkSession, sfDir: String): (Int, DataFrame, DataFrame) =
    cache.computeIfAbsent((sfDir, spark), { _ =>
      val g = Synth.gridSize(spark, sfDir)
      val raw = Synth.ways(spark, g).cache()
      val wayData = WayOps.deriveWayData(spark, raw).cache()
      (g, raw, wayData)
    })

  private val featCache =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession), (DataFrame, DataFrame, DataFrame)]()

  private def derived(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) =
    featCache.computeIfAbsent((sfDir, spark), { _ =>
      val (g, raw, wayData) = prepared(spark, sfDir)
      // the topological/geometric DAGs are reused by several queries
      // (features, filters, anti-join) — cache the materialized results
      val t = TopoIntersections(spark, wayData, raw).cache()
      val ge = GeomIntersections(spark, wayData).cache()
      val f = SpatialOps.assemble(t, ge, Synth.cityPolys(g)).cache()
      (t, ge, f)
    })

  def topo(spark: SparkSession, sfDir: String): DataFrame = derived(spark, sfDir)._1

  def geom(spark: SparkSession, sfDir: String): DataFrame = derived(spark, sfDir)._2

  /** flagship: full intersections feature set with city assignment. */
  def features(spark: SparkSession, sfDir: String): DataFrame = derived(spark, sfDir)._3

  /** geoturf.js variant (SURVEY §3.2): geometric finder only, NO city
    * assignment, NO coordinate rounding, no wayIds in properties
    * (geoturf.js:1151-1168). */
  def geoturfFeatures(spark: SparkSession, sfDir: String): DataFrame =
    geom(spark, sfDir).select(
      col("lat"), col("lon"), col("raw"), col("streets"), col("nodeId"))

  /** geotagged images (lat/lon derived from phash). */
  def geoImages(spark: SparkSession, sfDir: String, withBytes: Boolean = false): DataFrame = {
    val (g, _, _) = prepared(spark, sfDir)
    Synth.withGeotag(Synth.images(spark, sfDir, g, withBytes), g)
  }
}
