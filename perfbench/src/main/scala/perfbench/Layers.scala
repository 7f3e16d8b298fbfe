package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The per-layer figures of one traced job. Every workload reports every
  * name; a layer the workload does not run reads 0. A yield is
  * rows_out / candidates of that layer. */
object Layers {
  def apply(w: Workload, p: Prepared, t: Trace, skipHits: Int, out: String): Map[String, Double] = {
    val spark = p.spark
    def join(layer: String): (Double, Double) = w.joinLayers.get(layer) match {
      case Some(keys) =>
        val qes = t.queriesOf(layer)
        (JoinRows.candidates(spark, qes, keys).toDouble, JoinRows.rowsOut(qes, keys).toDouble)
      case None => (0.0, 0.0)
    }
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def stageRows(name: String): Double =
      if (Files.exists(Paths.get(out, name, "data"))) spark.read.parquet(s"$out/$name/data").count().toDouble
      else 0.0

    val (geomCand, _) = join("geom")
    val geomOut = stageRows("geom")
    val (cellCand, cellOut) = join("celljoin")
    val (knnCand, _) = join("knn")
    val (distCand, distOut) = join("distjoin")
    val (rasterCand, rasterPix) = JoinRows.generated(t.queriesOf("rasterize"))
    val hot = if (w == ImageHotspot) ImageHotspot.hotCells(p).toDouble else 0.0

    Map(
      "driver.plan_s" -> t.planSeconds,
      "spark.jobs" -> t.jobsTotal().toDouble,
      "spark.task_cpu_s" -> t.taskCpuSeconds,
      "spark.shuffle_write_mb" -> t.shuffleWriteMb,
      "spark.spill_mb" -> t.spillMb,
      "spark.task_skew" -> t.taskSkew,
      "synth.self_s" -> t.selfSeconds("synth"),
      "wayops.self_s" -> t.selfSeconds("wayops"),
      "wayops.jobs" -> t.jobs("wayops").toDouble,
      "topo.self_s" -> t.selfSeconds("topo"),
      "topo.rows_out" -> stageRows("topo"),
      "geom.self_s" -> t.selfSeconds("geom"),
      "geom.candidates" -> geomCand,
      "geom.rows_out" -> geomOut,
      "geom.yield" -> ratio(geomOut, geomCand),
      "assemble.self_s" -> t.selfSeconds("assemble"),
      "geojson.self_s" -> t.selfSeconds("geojson"),
      "geojson.bytes" -> bytes(Paths.get(out, "geojson")),
      "lineage.write_s" -> t.selfSeconds("lineage"),
      "lineage.skip_hits" -> skipHits.toDouble,
      "encode.self_s" -> t.selfSeconds("encode"),
      "segindex.self_s" -> t.selfSeconds("segindex"),
      "segindex.rows" -> t.forced.get("segindex").map(_.count().toDouble).getOrElse(0.0),
      "celljoin.self_s" -> t.selfSeconds("celljoin"),
      "celljoin.candidates" -> cellCand,
      "celljoin.rows_out" -> cellOut,
      "celljoin.yield" -> ratio(cellOut, cellCand),
      "celljoin.task_skew" -> t.taskSkew("celljoin"),
      "skew.hot_cells" -> hot,
      "knn.self_s" -> t.selfSeconds("knn"),
      "knn.jobs" -> t.jobs("knn").toDouble,
      "knn.candidates" -> knnCand,
      "distjoin.self_s" -> t.selfSeconds("distjoin"),
      "distjoin.candidates" -> distCand,
      "distjoin.rows_out" -> distOut,
      "distjoin.yield" -> ratio(distOut, distCand),
      "rasterize.self_s" -> t.selfSeconds("rasterize"),
      "rasterize.candidates" -> rasterCand.toDouble,
      "rasterize.pixels" -> rasterPix.toDouble,
      "rasterize.yield" -> ratio(rasterPix.toDouble, rasterCand.toDouble),
      "polygonize.self_s" -> t.selfSeconds("polygonize"),
      "polygonize.jobs" -> t.jobs("polygonize").toDouble,
      "polygonize.blocks" -> stageRows("q_raster_polygonize"),
      "blockdensity.self_s" -> t.selfSeconds("blockdensity"),
      "sink.self_s" -> t.selfSeconds("sink"),
      "sink.bytes" -> Files.list(Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("q_")).map(bytes).sum)
  }

  private def bytes(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally walk.close()
    }
}
