package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator
import graft.ops.Driver

/** The bounded driver collect, and the ratchet that keeps raw driver
  * collects in operator code from growing. */
class DriverSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("collectBounded: the row cap passes at the row count and throws one below") {
    val df = spark.range(0, 10, 1, 3).toDF("id")
    assert(Driver.collectBounded(df, 10, 1L << 20, "ten ids").map(_.getLong(0)).sorted.toSeq ===
      (0L until 10L))
    val e = intercept[IllegalStateException](Driver.collectBounded(df, 9, 1L << 20, "ten ids"))
    assert(e.getMessage.contains("ten ids") && e.getMessage.contains("10 rows") &&
      e.getMessage.contains("cap of 9 rows"), e.getMessage)
  }

  test("collectBounded: the byte cap passes at the estimate and throws one byte below") {
    val df = spark.range(0, 20, 1, 2).select(repeat(lit("x"), 1000).as("s"))
    val bytes = SizeEstimator.estimate(df.collect())
    assert(bytes > 20 * 1000)
    assert(Driver.collectBounded(df, 20, bytes, "wide strings").length === 20)
    val e = intercept[IllegalStateException](Driver.collectBounded(df, 20, bytes - 1, "wide strings"))
    assert(e.getMessage.contains("wide strings") && e.getMessage.contains(s"about $bytes bytes") &&
      e.getMessage.contains(s"cap of ${bytes - 1} bytes"), e.getMessage)
  }

  test("collectBounded: one Spark job whatever the input's partition count") {
    val want = (0L until 2400L)
    def run(parts: Int) = {
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = JobCounter.jobs(spark) {
        rows = Driver.collectBounded(spark.range(0, 2400, 1, parts).toDF("id"), 2400, 1L << 24, "ids")
      }
      assert(rows.map(_.getLong(0)).sorted.toSeq === want)
      jobs
    }
    assert(run(1) === 1)
    assert(run(24) === 1)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      spark.range(1).schema)
    assert(JobCounter.jobs(spark)(Driver.collectBounded(empty, 10, 1L << 20, "none")) === 0)
    // over the cap: still one job, which reads only up to the cap
    val over = spark.range(0, 2400, 1, 24).toDF("id")
    var r: Either[String, Array[org.apache.spark.sql.Row]] = Right(Array.empty)
    assert(JobCounter.jobs(spark) { r = Driver.collectWithin(over, 100, 1L << 24) } === 1)
    assert(r.left.exists(_.contains("cap of 100 rows")), r)
  }

  test("collectWithin: rows inside both caps, the broken cap otherwise, never a throw") {
    val df = spark.range(0, 20, 1, 2).select(repeat(lit("x"), 1000).as("s"))
    val bytes = SizeEstimator.estimate(df.collect())
    assert(Driver.collectWithin(df, 20, bytes).map(_.length) === Right(20))
    assert(Driver.collectWithin(df, 19, bytes).left.exists(_.contains("cap of 19 rows")))
    assert(Driver.collectWithin(df, 20, bytes - 1).left.exists(_.contains(s"cap of ${bytes - 1} bytes")))
  }

  /** files of ops, text, sim and sources, and the query registry
    * SparkEntry.scala, holding more `pattern` matches than `allowed` grants
    * them (0 when unnamed) */
  private def overCap(pattern: String, allowed: Map[String, Int]): Seq[String] = {
    val root = new java.io.File("src/main/scala/graft")
    val files = Seq("ops", "text", "sim", "sources")
      .flatMap(d => Option(new java.io.File(root, d).listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(_.getName.endsWith(".scala")) :+ new java.io.File(root, "SparkEntry.scala")
    assert(files.exists(_.getName == "WayOps.scala") && files.forall(_.isFile),
      s"sources not found under ${root.getAbsolutePath}")
    files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val n = pattern.r.findAllMatchIn(src).length
      val cap = allowed.getOrElse(f.getName, 0)
      if (n > cap) Some(s"${f.getPath}: $n matches of $pattern, at most $cap") else None
    }
  }

  test("lint: no new raw .collect() in ops, text, sim and sources") {
    // new driver pulls go through Driver.collectBounded; these counts may
    // only go down
    val over = overCap("\\.collect\\(\\)", Map("Driver.scala" -> 1,
      "ClusterOps.scala" -> 1, "QuantileOps.scala" -> 5, "TextOps.scala" -> 3,
      "SimOps.scala" -> 3))
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("lint: no new .cache() in ops, text, sim and sources") {
    // a cache nobody releases pins its blocks for the session's life; these
    // counts may only go down
    val over = overCap("\\.cache\\(\\)", Map("TextOps.scala" -> 1))
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("lint: the registry replays streams only through Streaming.replay") {
    // the streaming twins' MemoryStream, feed collect and shuffle-partition
    // scope live in one harness
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    for (p <- Seq("MemoryStream", "spark.sql.shuffle.partitions", ".unpersist("))
      assert(!src.contains(p), s"SparkEntry.scala holds $p")
  }
}
