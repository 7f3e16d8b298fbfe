package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F16 fuzzy street patterns + the county partition dimension.
  *
  * The reference ships a 470-entry fuzzy street table
  * (`/root/reference/js/utils_helper.js:16-494`): each entry is
  * "Canonical|Alt1|Alt2|..." alternations of observed misspellings, plus
  * negative entries like "NOT I80|^(?!.*80).*$" (negative lookahead,
  * utils_helper.js:~490). Its street names are Berkeley-specific, so the
  * synth world carries a table of the same SHAPE over its own names; the
  * operator is the scale mechanism: a BROADCAST pattern-table join with an
  * RLIKE condition — patterns are always a dimension table (hundreds of
  * rows) against billions of feature rows, so the big side never shuffles.
  * Negation is a flag rather than a lookahead so RE2-based engines (the
  * DuckDB oracle) can mirror the exact predicate.
  *
  * County: the reference's actual unit of work is a COUNTY
  * (`/root/reference/processAll.sh:5-13`, data/county_cities.json) — every
  * run processes one county's extract. The synth world derives a 4-way
  * county split from the latitude band (u*4 DIV (s+1)), and
  * `countyPartitioned` writes features PARTITIONED BY county so a
  * single-county query is partition-pruned at the file listing, exactly the
  * layout a 100 TB multi-region store would use.
  */
object PatternOps {

  /** (canonical, regex, negate) — reference-shaped entries over synth names:
    * misspelling alternations and a NOT entry. */
  val defaultPatterns: Seq[(String, String, Boolean)] = Seq(
    ("Main St", "Main St|Mian St|Main Street", false),
    ("Twin", "Twin|Twyn|Twinn", false),
    ("I 80", "I 80|I80|US 50", false),
    ("V7", "V7(/|$)", false),
    ("H1", "H1(/|$)", false),
    // reference form "NOT I80|^(?!.*80).*$": negate flag instead of lookahead
    ("NOT I 80", "I 80|I80|US 50", true))

  /** reference-SCALE table: 470 entries, matching the count of
    * `/root/reference/js/utils_helper.js:16-494`, generated over the synth
    * street families (H0-H231 / V0-V231, each canonical + a spaced
    * misspelling alternation; 464 rows) plus 6 hand-shaped entries incl.
    * negations. Families beyond the grid size match nothing — both engines
    * drop empty groups identically.
    * Only RE2-compatible constructs (alternation, anchors) so the DuckDB
    * oracle evaluates the exact same predicate. */
  val fullPatterns: Seq[(String, String, Boolean)] = {
    val gen = (0 until 232).flatMap { k =>
      Seq((s"H$k", s"H$k(/|$$)|H $k(/|$$)", false),
          (s"V$k", s"V$k(/|$$)|V $k(/|$$)", false))
    }
    val all = gen ++ Seq(
      ("Main St", "Main St|Mian St|Main Street", false),
      ("Twin", "Twin|Twyn|Twinn", false),
      ("I 80", "I 80|I80|US 50", false),
      ("JUNCTION", "JUNCTION", false),
      ("NOT I 80", "I 80|I80|US 50", true),
      ("NOT Main St", "Main St|Mian St|Main Street", true))
    // fuzzyStreetCounts re-aggregates by canonical to tolerate duplicate
    // canonicals in ad-hoc tables; the GENERATED table must not rely on
    // that — enforce uniqueness at construction (dual of the re-aggregate)
    require(all.map(_._1).distinct.length == all.length,
      "fullPatterns: canonical names must be unique")
    all
  }

  /** pattern-table match counts: one row per (canonical, match count);
    * `negate` rows count features NOT matching. The pattern table rides in
    * the MultiPatternMatch expression (task closure — the broadcast of a
    * dimension table in its minimal form): each feature row emits its
    * matched pattern INDICES map-side, the aggregate shuffles only
    * |patterns| rows, and every regex compiles once per task instead of
    * once per (row × pattern) as a naive non-literal RLIKE join does
    * (measured 31 s → sub-second at sf0.1). */
  def fuzzyStreetCounts(feats: DataFrame,
                        patterns: Seq[(String, String, Boolean)] = defaultPatterns): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val idx = patterns.toIndexedSeq
    val names = idx.zipWithIndex.map { case ((c, _, _), i) => (i, c) }
      .toDF("pidx", "canonical")
    feats
      .select(explode(graft.exprs.fns.patterns_matched(col("streets"),
        idx.map(_._2).toArray, idx.map(_._3).toArray)).as("pidx"))
      .groupBy(col("pidx"))
      .agg(count(lit(1)).as("n_matches"))
      .join(broadcast(names), Seq("pidx"))
      // two pattern rows may share a canonical; the contract (one row per
      // canonical, as the old RLIKE-join path produced) needs a re-aggregate
      .groupBy(col("canonical"))
      .agg(sum(col("n_matches")).as("n_matches"))
  }

  /** features + county column (u recovered exactly from the fix6 latitude:
    * u = round((lat-37)*1e6); county = u*4 DIV (s+1), s = (g-1)*1000). */
  def withCounty(feats: DataFrame, g: Int): DataFrame = {
    val s = (g - 1) * 1000L
    feats
      .withColumn("u", expr("CAST(ROUND((lat - 37.0D) * 1000000.0D) AS BIGINT)"))
      .withColumn("county", concat(lit("c"), expr(s"u * 4 DIV ${s + 1}")))
      .drop("u")
  }

  /** memoized per (sfDir, session): features written PARTITIONED BY county
    * (the reference's per-county processing unit as a storage layout) into
    * a fresh temp directory; returns the path. Reading with a county filter
    * is partition-pruned (verified in PatternCountySpec via the plan's
    * PartitionFilters). */
  private val partCache = new java.util.concurrent.ConcurrentHashMap[(String, SparkSession), String]()
  def countyPartitionedPath(spark: SparkSession, feats: DataFrame, g: Int,
                            sfDir: String): String =
    partCache.computeIfAbsent((sfDir, spark), { _ =>
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_county_${new java.io.File(sfDir).getName}_").toString
      withCounty(feats, g)
        .write.mode("overwrite").partitionBy("county").parquet(dir)
      dir
    })
}
