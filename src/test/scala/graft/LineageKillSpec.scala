package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The multi-stage lineage pipeline shared by the kill-run child JVM and
  * the in-process resume: two [[graft.ckpt.Lineage.materialize]] stages over
  * a deterministic input. Every stage invocation appends one line to
  * `<dir>/runs.log`, so the spec can assert which stages actually recomputed
  * across the crash boundary (the skip path never invokes the stage fn). */
object LineageKillPipeline {
  def input(spark: SparkSession): DataFrame =
    spark.range(0, 40000)
      .select(col("id"), (col("id") * 7919L % 104729L).as("v"))

  private def log(dir: String, line: String): Unit =
    Files.write(Paths.get(dir, "runs.log"), (line + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** sleepMicrosPerRow > 0 makes stage2's compute slow enough that a
    * SIGKILL from the parent reliably lands while its parquet overwrite is
    * in flight (the crash window the atomic-manifest protocol must cover). */
  def run(spark: SparkSession, dir: String, sleepMicrosPerRow: Long = 0L): DataFrame = {
    val s1 = graft.ckpt.Lineage.materialize(spark, s"$dir/stage1", input(spark), df => {
      log(dir, "stage1")
      df.withColumn("w", (col("v") * 31L + col("id") % 13L).cast("long"))
    })
    graft.ckpt.Lineage.materialize(spark, s"$dir/stage2", s1, df => {
      log(dir, "stage2")
      val agg = df.groupBy((col("v") % 1000L).as("g"))
        .agg(sum(col("w")).as("sum_w"), count(lit(1)).as("n"))
      if (sleepMicrosPerRow <= 0L) agg
      else {
        // the sleep must sit AFTER the shuffle, inside the final write
        // stage: with AQE the map-side stages run as separate jobs BEFORE
        // the write job creates <out>/data, so a pre-shuffle sleep burns
        // its time before the parent's poll target even exists. Post-agg,
        // each row trickles through the UDF straight into an open parquet
        // writer — the kill provably lands mid-write. (The UDF feeds the
        // output column so Catalyst cannot prune it away.)
        val slow = udf { (x: Long) =>
          java.util.concurrent.locks.LockSupport.parkNanos(sleepMicrosPerRow * 1000L); x
        }
        agg.withColumn("sum_w", slow(col("sum_w")))
      }
    })
  }
}

/** Child-JVM entry point for the violent test: runs the pipeline with a
  * slow stage2 and is SIGKILLed by the parent mid-write. */
object LineageKillMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // 30 ms × 250 rows per write task ≈ 7.5 s of in-flight parquet write —
    // a wide, non-flaky window for the parent's poll(+1.5 s) → SIGKILL
    LineageKillPipeline.run(spark, dir, sleepMicrosPerRow = 30000L)
    // unreachable when the parent kills us mid-stage2; marker proves an
    // unexpected clean finish so the spec can fail loudly instead of
    // asserting against a non-crashed state
    Files.writeString(Paths.get(dir, "finished"), "clean")
    spark.stop()
  }
}

/** SURVEY §7.4 hard part 4, the violent half: a forked JVM running the
  * two-stage lineage pipeline is SIGKILLed while stage2's parquet overwrite
  * is in flight; a restart must skip the finished stage1 WITHOUT recompute,
  * recompute only the torn stage2, and land on byte-identical results to an
  * uninterrupted run. (StreamCkptSpec covers the polite restarts and the
  * simulated torn-data cases; this one actually pulls the plug.) */
class LineageKillSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("SIGKILL mid-stage2 write: stage1 resumes without recompute, output matches uninterrupted run") {
    val dir = tempDir("lineage_kill")

    // ---- phase 1: fork the pipeline and pull the plug mid-stage2 --------
    val proc = ChildJvm.start("graft.LineageKillMain", Seq(dir),
      new java.io.File(s"$dir/child.log"), Seq("-Xmx3g"))
    // kill the instant stage2's overwrite is physically in flight: Spark
    // creates <out>/data/_temporary at job start, tasks then stream rows
    // (slowed to ~30 s by the park) — SIGKILL lands mid-write by a margin
    val stage2Write = Paths.get(dir, "stage2", "data")
    val deadline = System.currentTimeMillis() + 180000L
    while (!Files.exists(stage2Write) && proc.isAlive &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(Files.exists(stage2Write),
      s"stage2 write never started; child log:\n${scala.util.Try(Files.readString(Paths.get(dir, "child.log"))).getOrElse("")}")
    Thread.sleep(1500) // let tasks get rows onto disk before the plug-pull
    proc.destroyForcibly() // SIGKILL on Linux — no shutdown hooks, no flush
    proc.waitFor()
    assert(!Files.exists(Paths.get(dir, "finished")),
      "child finished cleanly — the kill missed the crash window")

    // crash-state invariants: stage1 committed (manifest present), stage2
    // torn (write started, but the manifest that would mark it valid was
    // never written — invalidate-first means a torn stage can only recompute)
    assert(Files.exists(Paths.get(dir, "stage1", "_lineage_manifest.json")),
      "stage1 must have committed before stage2 started")
    assert(!Files.exists(Paths.get(dir, "stage2", "_lineage_manifest.json")),
      "a SIGKILLed stage2 must not leave a manifest covering torn data")
    val runsAfterCrash = Files.readAllLines(Paths.get(dir, "runs.log"))
    assert(runsAfterCrash.asScala == Seq("stage1", "stage2"), s"got $runsAfterCrash")

    // ---- phase 2: restart (fresh driver) and resume ----------------------
    val resumed = LineageKillPipeline.run(spark, dir)
    val runsAfterResume = Files.readAllLines(Paths.get(dir, "runs.log"))
    assert(runsAfterResume.asScala == Seq("stage1", "stage2", "stage2"),
      s"resume must skip stage1 and recompute only stage2; got $runsAfterResume")

    // ---- phase 3: byte-equivalence with an uninterrupted run -------------
    val cleanDir = tempDir("lineage_clean")
    val clean = LineageKillPipeline.run(spark, cleanDir)
    val a = resumed.orderBy("g").collect().map(_.toSeq).toSeq
    val b = clean.orderBy("g").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      "resumed pipeline must produce exactly the uninterrupted run's rows")

    // and the resumed checkpoint is now healthy: one more run skips BOTH stages
    LineageKillPipeline.run(spark, dir)
    val runsFinal = Files.readAllLines(Paths.get(dir, "runs.log"))
    assert(runsFinal.asScala == Seq("stage1", "stage2", "stage2"),
      s"a healthy resumed checkpoint must skip both stages; got $runsFinal")
  }

  private implicit class JListOps(l: java.util.List[String]) {
    def asScala: Seq[String] = { val b = Seq.newBuilder[String]; l.forEach(b += _); b.result() }
  }
}
