package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** GeoJSON sink/source (S6/S7): Point FeatureCollections in the reference's
  * output shape (geo.js:1246-1266, golden files under data/intersections/).
  *
  * Two write paths:
  *  - jsonl: one Feature per line, distributed (the scale path; a
  *    FeatureCollection framing line pair is written by the reader/driver)
  *  - single: driver-collected pretty FeatureCollection, byte-comparable to
  *    the reference's per-county outputs (those are ≤ a few MB each)
  */
object GeoJson {

  /** features DF (lat, lon, streets, nodeId, wayIds, cityName) → GeoJSON
    * Feature JSON strings. Coordinates emitted [lon, lat] (geo.js:1250). */
  def featureJson(features: DataFrame): DataFrame =
    features.select(to_json(struct(
      lit("Feature").as("type"),
      struct(
        lit("Point").as("type"),
        array(col("lon"), col("lat")).as("coordinates")).as("geometry"),
      struct(
        split(col("streets"), "/").as("streets"),
        col("nodeId").as("nodeId"),
        col("wayIds").as("wayIds"),
        col("cityName").as("cityName")).as("properties"))).as("feature"))

  def writeJsonl(features: DataFrame, path: String): Unit =
    featureJson(features).write.mode("overwrite").text(path)

  /** Caps of the single-file sink's driver collect: the reference's
    * per-county outputs are at most a few MB; larger sets take the jsonl
    * path. */
  private val SingleFileRows = 1 << 20
  private val SingleFileBytes = 512L << 20

  /** single-file FeatureCollection (reference-shaped). */
  def writeSingle(features: DataFrame, path: String): Unit = {
    val lines = graft.ops.Driver.collectBounded(featureJson(features), SingleFileRows,
      SingleFileBytes, "single-file GeoJSON features").map(_.getString(0))
    val body = lines.mkString("{\"type\":\"FeatureCollection\",\"features\":[\n", ",\n", "\n]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  def readFeatures(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.json(path)
    df.select(
      element_at(col("geometry.coordinates"), 2).as("lat"),
      element_at(col("geometry.coordinates"), 1).as("lon"),
      concat_ws("/", col("properties.streets")).as("streets"),
      col("properties.nodeId").as("nodeId"),
      col("properties.wayIds").as("wayIds"),
      col("properties.cityName").as("cityName"))
  }

  /** Pretty-printed FeatureCollection reader — the EXACT on-disk shape of
    * the reference's golden county outputs (the json files under
    * `data/intersections`: the repo describes 117 counties, 107 files are
    * actually shipped — the 10 largest are elided per .MISSING_LARGE_BLOBS —
    * and all 107 are ingested and gated here). Written by geo.js:1302 as one
    * indented JSON document; multiLine JSON makes
    * each file one record (fine at their ≤3 MB size; jsonl is the scale
    * path), then the features array is exploded back to rows. `nodeId` is
    * the reference's int64-or-"Geom" union (geo.js:299) — inference yields
    * LONG for counties with no geometric rows and STRING otherwise, so it is
    * normalized to its string form here (SURVEY §1.2).
    */
  def readFeatureCollection(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(explode(col("features")).as("f"))
      .select(
        element_at(col("f.geometry.coordinates"), 2).as("lat"),
        element_at(col("f.geometry.coordinates"), 1).as("lon"),
        concat_ws("/", col("f.properties.streets")).as("streets"),
        col("f.properties.nodeId").cast("string").as("nodeId"),
        col("f.properties.wayIds").as("wayIds"),
        col("f.properties.cityName").as("cityName"))

  /** Whole-corpus reader: a GLOB of FeatureCollection files (one per county,
    * the reference's storage unit — processAll.sh writes one file per run),
    * with the source county recovered from the file name exactly as the
    * reference's F12 does for its inputs (geo.js:45-54: capture between the
    * prefix and `.json`, underscores back to spaces). The explicit schema
    * skips a second inference pass over every file and fixes `nodeId` at its
    * string union form regardless of which counties the glob matches. */
  def readFeatureCollections(spark: SparkSession, globPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("type", StringType),
      StructField("features", ArrayType(StructType(Seq(
        StructField("type", StringType),
        StructField("geometry", StructType(Seq(
          StructField("type", StringType),
          StructField("coordinates", ArrayType(DoubleType))))),
        StructField("properties", StructType(Seq(
          StructField("streets", ArrayType(StringType)),
          StructField("nodeId", StringType),
          StructField("wayIds", ArrayType(LongType)),
          StructField("cityName", StringType))))))))))
    // whole-file TEXT scan first, heavy JSON parse AFTER a spread: multiLine
    // json is unsplittable (one record per file), so the 120 MB corpus
    // planned as ~5 scan tasks and the Jackson parse ran ~5-wide; reading
    // the raw text (cheap), spreading the (file, text) rows, and parsing
    // with from_json under the same explicit schema puts the parse on every
    // core. Same PERMISSIVE parse semantics; the golden oracles gate it.
    val raw = spark.read.option("wholetext", true).text(globPath)
      .select(input_file_name().as("file"), col("value"))
    graft.ops.Par.spread(raw, col("file"))
      .select(col("file"), from_json(col("value"), schema).as("j"))
      .select(col("file"), explode(col("j.features")).as("f"))
      .select(
        regexp_replace(
          regexp_extract(col("file"), "intersections_(.*)\\.json", 1), "_", " ")
          .as("county"),
        element_at(col("f.geometry.coordinates"), 2).as("lat"),
        element_at(col("f.geometry.coordinates"), 1).as("lon"),
        concat_ws("/", col("f.properties.streets")).as("streets"),
        col("f.properties.nodeId").as("nodeId"),
        col("f.properties.wayIds").as("wayIds"),
        col("f.properties.cityName").as("cityName"))
  }
}
