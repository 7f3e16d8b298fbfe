package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Skew, SpatialOps}

/** Physical-plan regression guards for the scale-critical properties: these
  * are the shapes that make the engine survive 100 TB, so a refactor that
  * silently loses one (a re-broadcast big side, a lost pushdown, a global
  * sort sneaking in) must fail tests, not just run slower. Assertions run
  * with AQE off so the pre-execution plan is deterministic. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String = {
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  test("parquet scan: filter pushdown + column pruning reach the reader") {
    val df = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "click")
      .select("user_id", "value")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("EqualTo(event_type,click)"), s"no pushed filter in:\n$plan")
    // pruned read schema: the scan must not fetch ts/event_type payload cols
    // beyond what the filter needs
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .flatMap(l => "struct<[^>]*>".r.findFirstIn(l)).getOrElse("")
    assert(readSchema.contains("user_id") && readSchema.contains("value") &&
      !readSchema.contains("ts:"), s"unpruned scan: $readSchema")
  }

  test("imageWayCellJoin default: segment side shuffled-hash, never broadcast") {
    val (g, _, wayData) = Pipeline.prepared(spark, sf)
    val images = graft.synth.Synth.withGeotag(
      graft.synth.Synth.images(spark, sf, g, withBytes = false), g)
    // every key policy shares the join body: plain cell, salted, adaptive
    val joins = Seq(
      "cell" -> SpatialOps.imageWayCellJoin(images, wayData, res = 3, maxDistDeg = 0.001),
      "salt_key" -> Skew.saltedImageWayJoin(images, wayData, res = 3, maxDistDeg = 0.001,
        hotThreshold = 1L, nSalts = 4),
      "akey" -> Skew.adaptiveImageWayJoin(images, wayData, resCoarse = 2, resFine = 3,
        maxDistDeg = 0.001, hotThreshold = 1L))
    for ((key, joined) <- joins) {
      val plan = planOf(joined)
      // the key join of images×segments must not broadcast either side
      assert(plan.contains(s"ShuffledHashJoin [$key"), s"$key equi-join not shuffled-hash:\n$plan")
    }
  }

  test("top-n query plans as TakeOrdered, not a global sort") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val top = o.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(20)
    val plan = planOf(top)
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for top-n:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"range exchange for top-n:\n$plan")
  }

  test("aggregation is partial before the shuffle (map-side combine)") {
    val (_, _, wayData) = Pipeline.prepared(spark, sf)
    val agg = wayData.select(explode(col("nodes")).as("node_id"))
      .groupBy("node_id").count()
    val plan = planOf(agg)
    val aggCount = "HashAggregate".r.findAllIn(plan).size
    assert(aggCount >= 2 && plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("bucketed co-partitioned tables join with zero shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS plan_spec_a")
    spark.sql("DROP TABLE IF EXISTS plan_spec_b")
    val df = spark.range(1000).select(
      (col("id") % 50).as("cell"), col("id").as("v"))
    df.write.mode("overwrite").bucketBy(8, "cell").saveAsTable("plan_spec_a")
    df.write.mode("overwrite").bucketBy(8, "cell").saveAsTable("plan_spec_b")
    val j = spark.table("plan_spec_a")
      .join(spark.table("plan_spec_b").withColumnRenamed("v", "w"), Seq("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val plan = planOf(j)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    spark.sql("DROP TABLE IF EXISTS plan_spec_a")
    spark.sql("DROP TABLE IF EXISTS plan_spec_b")
  }

  test("cityFringe is a ZERO-exchange plan (broadcast-constant polygons, map-side distances)") {
    val (g, _, _) = Pipeline.prepared(spark, sf)
    val df = SpatialOps.cityFringe(Pipeline.geoImages(spark, sf),
      graft.synth.Synth.cityPolys(g), dDeg = 0.003)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"cityFringe gained a shuffle:\n$plan")
  }

  test("stratifiedQuota selection runs through the native topk_agg partial/final pair, not a window") {
    val df = spark.range(100).select(lit("g").as("g"), col("id"))
    val plan = planOf(graft.ops.SampleOps.stratifiedQuota(df, Seq("g"), col("id"), 5))
    // the k-bounded aggregate must appear in BOTH partial and final stages
    // (map-side combine before the exchange), and no window/sort may appear
    assert(plan.contains("topk_agg"), s"no native topk_agg in:\n$plan")
    assert(plan.contains("partial_topk_agg"), s"no partial (map-side) stage:\n$plan")
    assert(!plan.contains("Window"), s"window sneaked into the quota cut:\n$plan")
  }

  test("bpeEncode broadcasts the vocabulary, never the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, vocab) = graft.text.TextOps.bpeTrain(docs.limit(50), nMerges = 1)
    val plan = planOf(graft.text.TextOps.bpeEncode(docs, vocab))
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
  }

  test("cell-cover joins plan as hash joins in sessions that never enabled the rules") {
    // each op builds its inputs and is planned in a fresh session of its own
    def fresh(op: SparkSession => DataFrame): String = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      op(s).queryExecution.executedPlan.toString
    }
    val ring = Array(Array(-122.03, 36.99, -121.99, 36.99, -121.99, 37.03, -122.03, 37.03))
    def images(s: SparkSession) =
      s.createDataFrame(Seq(("i1", 37.01, -122.01))).toDF("image_id", "lat", "lon")
    val plans = Seq(
      "BroadcastHashJoin" -> fresh(s => graft.ops.GeomIntersections(s, s.sql("""SELECT * FROM VALUES
          (1L, 'A', 'motorway', array(1L, 2L), array(named_struct('lat', 37.0D, 'lon', -122.0D),
            named_struct('lat', 37.02D, 'lon', -122.02D))),
          (2L, 'B', 'primary', array(3L, 4L), array(named_struct('lat', 37.02D, 'lon', -122.0D),
            named_struct('lat', 37.0D, 'lon', -122.02D)))
          AS t(way_id, name, highway, nodes, geometry)"""))),
      "ShuffledHashJoin" -> fresh(s => graft.ops.ZoneOps.extentZoneJoin(
        s.createDataFrame(Seq((1L, 0L, 10000L, 0L, 10000L)))
          .toDF("id", "uLo", "uHi", "vLo", "vHi"),
        s.createDataFrame(Seq(("z", ring.map(_.toSeq).toSeq))).toDF("zone", "rings"), res = 3)),
      "ShuffledHashJoin" -> fresh(s => SpatialOps.imageCityIndexed(images(s), Array(("c", ring)))),
      "ShuffledHashJoin" -> fresh(s => SpatialOps.blockImageDensity(
        s.createDataFrame(Seq((1L, 4L, -1220200L, -1220000L, 370000L, 370200L)))
          .toDF("block_id", "n_pixels", "lon_min", "lon_max", "lat_min", "lat_max"), images(s))))
    for ((strategy, plan) <- plans) {
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"nested-loop cell-cover join:\n$plan")
      assert(plan.contains(s"$strategy [cell"), s"cell join not a $strategy:\n$plan")
    }
  }
}
