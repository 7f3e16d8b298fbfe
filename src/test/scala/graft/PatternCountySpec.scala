package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.PatternOps

/** Child-JVM entry point: writes one county-partitioned directory, records
  * its path in `args(1)` and exits. */
object PatternCountyMain {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val feats = Seq(("Main St", "Main St", 37.0001, -122.0001)).toDF("streets", "raw", "lat", "lon")
    val path = PatternOps.countyPartitionedPath(spark, feats, 128, args(0))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), path)
    spark.stop()
    sys.exit(0)
  }
}

/** F16 pattern-table join semantics + county partition pruning. */
class PatternCountySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("fuzzy pattern join: alternations match, NOT entries invert") {
    import spark.implicits._
    val feats = Seq("H1/Main St", "H2/Mian St", "I 80;US 50/V7", "H3/V9")
      .toDF("streets")
    val pats = Seq(
      ("Main St", "Main St|Mian St", false),
      ("V7", "V7(/|$)", false),
      ("NOT I 80", "I 80|I80", true))
    val out = PatternOps.fuzzyStreetCounts(feats, pats)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("Main St" -> 2L, "V7" -> 1L, "NOT I 80" -> 3L))
  }

  test("feature side never joins wide: patterns ride in the expression, only per-pattern counts shuffle") {
    import spark.implicits._
    val feats = Seq("H1/Main St").toDF("streets")
    val plan = PatternOps.fuzzyStreetCounts(feats).queryExecution.executedPlan.toString()
    assert(plan.contains("multipatternmatch"), s"expected MultiPatternMatch, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"feature side must not enter a nested-loop pattern join:\n$plan")
    assert(plan.contains("BroadcastExchange"), // the tiny (pidx → canonical) name join
      s"canonical-name dimension join should broadcast:\n$plan")
  }

  test("county column is a 4-way latitude-band split; single-county read is partition-pruned") {
    val sfDir = "/root/testdata/sf0.001"
    val (g, _, _) = Pipeline.prepared(spark, sfDir)
    val feats = Pipeline.features(spark, sfDir).select("streets", "raw", "lat", "lon")
    val counties = PatternOps.withCounty(feats, g)
      .groupBy("county").count().collect().map(r => r.getString(0)).toSet
    assert(counties === Set("c0", "c1", "c2", "c3"))

    val path = PatternOps.countyPartitionedPath(spark, feats, g, sfDir)
    val pruned = spark.read.parquet(path).filter(col("county") === "c1")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("county"),
      s"expected county partition pruning in:\n$plan")
    // pruned read must equal the in-memory filter
    val expected = PatternOps.withCounty(feats, g).filter(col("county") === "c1").count()
    assert(pruned.count() === expected)
  }

  test("memo caches: two sessions in one JVM each get their own frames, with equal rows") {
    val sfDir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = Seq(spark.newSession(), spark.newSession()).map { s =>
      val (g, raw, wayData) = Pipeline.prepared(s, sfDir)
      val feats = Pipeline.features(s, sfDir).select("streets", "raw", "lat", "lon")
      val path = PatternOps.countyPartitionedPath(s, feats, g, sfDir)
      val county = s.read.parquet(path)
      for (df <- Seq(raw, wayData, feats, county))
        assert(df.sparkSession eq s, "a memoized frame is bound to another session")
      // a second call in the same session is a cache hit
      assert(Pipeline.prepared(s, sfDir)._3 eq wayData)
      assert(PatternOps.countyPartitionedPath(s, feats, g, sfDir) === path)
      (path, Seq(rows(wayData), rows(feats), rows(county)))
    }
    assert(got(0)._1 !== got(1)._1, "two sessions share one county directory")
    assert(got(0)._2.forall(_.nonEmpty))
    assert(got(0)._2 === got(1)._2)
  }

  test("county directory: a JVM that wrote one leaves no directory behind at exit") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("county_exit")
    try {
      val record = tmp.resolve("path.txt")
      val proc = ChildJvm.start("graft.PatternCountyMain", Seq("sf_exit", record.toString),
        tmp.resolve("child.log").toFile, Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp"))
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) ||
        { proc.destroyForcibly(); false }, "child JVM did not exit")
      def log = scala.util.Try(Files.readString(tmp.resolve("child.log"))).getOrElse("")
      assert(proc.exitValue() === 0, s"child log:\n$log")
      val path = Paths.get(Files.readString(record))
      assert(path.getParent === tmp &&
        path.getFileName.toString.startsWith("graft_county_sf_exit_"), path)
      assert(!Files.exists(path), s"$path outlived its JVM")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }
}
