package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.exprs.fns
import graft.cells.GridCell

/** Skew handling for cell-bucketed spatial joins (north_rule: "skewed hot
  * cells (dense urban tiles) are salted and split via adaptive cell
  * subdivision"). Two composable mechanisms, both driven by the A8 cell
  * histogram (the reference MEASURES max bin population, gpsBins.js:118-137,
  * but never acts on it — this is the engine's addition):
  *
  *  1. SALTING — hot cells fan out to `nSalts` sub-keys: the big (point)
  *     side picks one pseudo-random salt, the small (way/segment) side
  *     replicates into all salts. Key space: cell*64 + salt.
  *  2. ADAPTIVE SUBDIVISION — points in hot coarse cells re-encode at a
  *     finer resolution; the segment side indexes hot regions at the fine
  *     res and everything else coarse. Key space: cell*64 + res tag.
  *
  * Both keep join RESULTS identical to the plain cell join (verified in
  * SkewSpec) while bounding the rows-per-join-key.
  */
object Skew {

  /** A8: per-cell population histogram of a keyed relation. */
  def cellHistogram(df: DataFrame, cellCol: String = "cell"): DataFrame =
    df.groupBy(col(cellCol)).agg(count(lit(1)).as("n"))

  private val HotCellRows = 1 << 16
  private val HotCellBytes = 16L << 20

  /** cells whose population exceeds `threshold` (collected, at most
    * HotCellRows of them — hot sets are tiny by definition; broadcast into
    * the expressions below). */
  def hotCells(df: DataFrame, threshold: Long, cellCol: String = "cell"): Set[Long] =
    Driver.collectBounded(cellHistogram(df, cellCol).filter(col("n") > threshold)
      .select(cellCol), HotCellRows, HotCellBytes, "hot cells").map(_.getLong(0)).toSet

  private def isHot(cell: Column, hot: Set[Long]): Column =
    if (hot.isEmpty) lit(false)
    else cell.isin(hot.toSeq.map(x => x: Any): _*)

  /** SALTED point-side key: hot cells spread over nSalts sub-keys by a
    * deterministic per-row hash; cold cells use salt 0. */
  def saltedPointKey(cell: Column, rowKey: Column, hot: Set[Long], nSalts: Int): Column =
    when(isHot(cell, hot), cell * 64 + pmod(xxhash64(rowKey), lit(nSalts.toLong)))
      .otherwise(cell * 64)

  /** SALTED build-side rows: replicate hot-cell rows into every salt. */
  def saltedBuildKeys(df: DataFrame, hot: Set[Long], nSalts: Int,
                      cellCol: String = "cell"): DataFrame =
    df.withColumn("salt_key",
      explode(when(isHot(col(cellCol), hot),
        transform(sequence(lit(0L), lit(nSalts - 1L)), s => col(cellCol) * 64 + s))
        .otherwise(array(col(cellCol) * 64))))

  /** images×segments join with salting on hot cells: only the keys differ
    * from SpatialOps.imageWayCellJoin, the join body is shared. */
  def saltedImageWayJoin(images: DataFrame, wayData: DataFrame, res: Int,
                         maxDistDeg: Double, hotThreshold: Long,
                         nSalts: Int = 8): DataFrame = {
    val imgCells = images.withColumn("cell", fns.cell_encode(col("lat"), col("lon"), res))
    val hot = hotCells(imgCells, hotThreshold)
    val segs = saltedBuildKeys(
      SpatialOps.segmentCells(wayData, res, maxDistDeg), hot, nSalts)
      .drop("cell")
    val probes = imgCells
      .withColumn("salt_key", saltedPointKey(col("cell"), col("image_id"), hot, nSalts))
      .drop("cell")
    SpatialOps.imageWayJoin(probes, segs, "salt_key", maxDistDeg)
  }

  /** ADAPTIVE-RES point key: hot coarse cells re-encode at fine res.
    * Key space tags the res so coarse/fine ids cannot collide. */
  def adaptivePointKey(lat: Column, lon: Column, resCoarse: Int, resFine: Int,
                       hot: Set[Long]): Column = {
    val coarse = fns.cell_encode(lat, lon, resCoarse)
    when(isHot(coarse, hot), fns.cell_encode(lat, lon, resFine) * 64 + resFine)
      .otherwise(coarse * 64 + resCoarse)
  }

  /** images×segments join with ADAPTIVE SUBDIVISION on hot cells: points in
    * hot coarse cells re-key at the fine res, the segment index carries hot
    * regions fine and cold regions coarse; only the keys differ from
    * SpatialOps.imageWayCellJoin, the join body is shared (equivalence proven
    * in SkewSpec and gated by the same registry oracle as the plain/salted
    * paths). Unlike salting, the per-key bound comes from geometry (fine
    * cells hold fewer points), with NO point-side replication and no salt
    * fan-out of the build side —
    * the right tool when a hot cell is dense but spatially spread, while
    * salting remains the answer for degenerate same-coordinate pileups. */
  def adaptiveImageWayJoin(images: DataFrame, wayData: DataFrame,
                           resCoarse: Int, resFine: Int, maxDistDeg: Double,
                           hotThreshold: Long): DataFrame = {
    require(resFine > resCoarse, "resFine must be finer than resCoarse")
    val imgCells = images.withColumn("cell",
      fns.cell_encode(col("lat"), col("lon"), resCoarse))
    val hot = hotCells(imgCells, hotThreshold)
    val segs = adaptiveBuildKeys(
      SpatialOps.segmentCells(wayData, resCoarse, maxDistDeg),
      resCoarse, resFine, maxDistDeg, hot).drop("cell")
    val probes = imgCells
      .withColumn("akey", adaptivePointKey(col("lat"), col("lon"), resCoarse, resFine, hot))
      .drop("cell")
    SpatialOps.imageWayJoin(probes, segs, "akey", maxDistDeg)
  }

  /** ADAPTIVE-RES build side: segments index hot regions at fine res (cells
    * whose coarse parent is hot) plus everything at coarse res for the cold
    * path. Build rows only — no point-side replication. */
  def adaptiveBuildKeys(segs: DataFrame, resCoarse: Int, resFine: Int,
                        bufferDeg: Double, hot: Set[Long]): DataFrame = {
    val coarseKeys = segs.withColumn("akey", col("cell") * 64 + resCoarse)
      .filter(!isHot(col("cell"), hot))
    val fineKeys = segs.filter(isHot(col("cell"), hot))
      .withColumn("fine_cell", explode(fns.cells_covering(
        least(col("lat1"), col("lat2")) - bufferDeg,
        least(col("lon1"), col("lon2")) - bufferDeg,
        greatest(col("lat1"), col("lat2")) + bufferDeg,
        greatest(col("lon1"), col("lon2")) + bufferDeg, resFine)))
      // keep only fine cells whose parent is the hot coarse cell at hand
      .filter(fns.cell_parent(col("fine_cell"), resFine, resCoarse) === col("cell"))
      .withColumn("akey", col("fine_cell") * 64 + resFine)
      .drop("fine_cell")
    coarseKeys.unionByName(fineKeys)
  }
}
