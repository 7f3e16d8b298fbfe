package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streaming
import graft.ckpt.Lineage

class StreamCkptSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming tumbling counts match batch EventOps on the events table") {
    implicit val sqlCtx = spark.sqlContext
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .limit(2000).cache()
    val rows = batch.as[(java.sql.Timestamp, String, Double)].collect()

    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = Streaming.tumblingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), 300)
    val q = sdf.writeStream.format("memory").queryName("tumbles")
      .outputMode("complete").start()
    mem.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbles")
      .select("event_type", "window_start_sec", "n")
      .as[(String, Long, Long)].collect().toSet
    val expected = graft.ops.EventOps.tumbling(batch, 300)
      .select("event_type", "window_start_sec", "n")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === expected)
  }

  test("streaming sliding counts: every event lands in exactly window/slide panes") {
    implicit val sqlCtx = spark.sqlContext
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .limit(2000).cache()
    val rows = batch.as[(java.sql.Timestamp, String, Double)].collect()

    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = Streaming.slidingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), 600, 300)
    val q = sdf.writeStream.format("memory").queryName("slides")
      .outputMode("complete").start()
    mem.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("slides")
      .select("event_type", "window_start_sec", "n")
      .as[(String, Long, Long)].collect()
    // brute force: event at ts lands in panes (⌊ts/300⌋ − i)·300, i ∈ {0,1}
    val expected = rows.flatMap { case (ts, et, _) =>
      val base = ts.getTime / 1000 / 300
      Seq((et, (base - 1) * 300), (et, base * 300))
    }.groupBy(identity).map { case (k, xs) => (k._1, k._2, xs.length.toLong) }.toSet
    assert(streamed.toSet === expected)
    // pane overlap: total pane membership = 2 × events
    assert(streamed.map(_._3).sum === 2L * rows.length)
  }

  test("streaming windowed top-k: TopKAgg in streaming state matches the batch window cut") {
    implicit val sqlCtx = spark.sqlContext
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
      .limit(2000).cache()
    val rows = batch.as[(java.sql.Timestamp, Long, Double)].collect()

    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = Streaming.windowTopK(mem.toDF().toDF("ts", "user_id", "value"), 300, 3)
      .writeStream.format("memory").queryName("stopk")
      .outputMode("complete").start()
    // two batches: the state-store buffer must merge across micro-batches
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toIndexedSeq); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stopk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = rows
      .map { case (ts, u, v) =>
        (ts.getTime / 1000 / 300 * 300, u, math.floor(v * 1e6).toLong) }
      .groupBy(_._1).toSeq.flatMap { case (w, xs) =>
        xs.sortBy(x => (-x._3, x._2)).take(3).zipWithIndex
          .map { case ((_, u, vm), i) => (w, i + 1L, u, vm) }
      }.toSet
    assert(streamed === expected)
  }

  test("streaming image-segment join matches the batch headline join per cell") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val g = graft.synth.Synth.gridSize(spark, sf)
    val (_, _, wayData) = Pipeline.prepared(spark, sf)
    val segs = graft.ops.SpatialOps.segmentCells(
        wayData.select("way_id", "name", "geometry"),
        res = 3, bufferDeg = 0.00035)
      .drop("name").cache()
    val imgs = graft.synth.Synth.withGeotag(
        graft.synth.Synth.images(spark, sf, g, withBytes = false).limit(3000), g)
      .select(col("image_id"), col("lat"), col("lon"),
        lit(new java.sql.Timestamp(1767225630L * 1000L)).as("ts")) // 2026-01-01T00:00:30Z
      .cache()
    val rows = imgs.as[(String, Double, Double, java.sql.Timestamp)].collect()

    val mem = MemoryStream[(String, Double, Double, java.sql.Timestamp)]
    val sdf = Streaming.imageSegmentCounts(
      mem.toDF().toDF("image_id", "lat", "lon", "ts"), segs,
      res = 3, maxDistDeg = 0.00035, windowSec = 60)
    val q = sdf.writeStream.format("memory").queryName("imgseg")
      .outputMode("complete").start()
    mem.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("imgseg")
      .select("cell", "window_start_sec", "n_pairs")
      .as[(Long, Long, Long)].collect().toSet
    val expected = imgs
      .withColumn("cell", graft.exprs.fns.cell_encode(col("lat"), col("lon"), 3))
      .join(segs, Seq("cell"))
      .where(graft.exprs.fns.point_seg_dist(col("lat"), col("lon"),
        col("lat1"), col("lon1"), col("lat2"), col("lon2")) <= 0.00035)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("cell"), lit(1767225600L).as("window_start_sec"), col("n_pairs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expected)
  }

  test("stream-stream interval join: in-window joins, out-of-window never, expired state dropped") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val base = 1767225600L // 2026-01-01T00:00:00Z
    val pings = MemoryStream[(String, Double, Double, java.sql.Timestamp)]
    val caps = MemoryStream[(String, String, java.sql.Timestamp)]
    val out = Streaming.pingCaptionJoin(
      pings.toDF().toDF("image_id", "lat", "lon", "ts"),
      caps.toDF().toDF("image_id", "caption", "ts"),
      joinWindowSec = 120, watermark = "2 minutes")
    val q = out.writeStream.format("memory").queryName("pingcap")
      .outputMode("append").start()
    // batch 1: img1's caption lands +30 s (in ±120 s window); img2's +500 s (out)
    pings.addData(Seq(("img1", 37.0, -122.0, ts(base)),
      ("img2", 37.1, -122.1, ts(base + 60)), ("img3", 37.2, -122.2, ts(base + 60))))
    caps.addData(Seq(("img1", "cap one", ts(base + 30)),
      ("img2", "cap late", ts(base + 500))))
    q.processAllAvailable()
    // batch 2: advance BOTH watermarks far past img3's ping (+4000 s)
    pings.addData(Seq(("adv", 0.0, 0.0, ts(base + 4000))))
    caps.addData(Seq(("advx", "advance", ts(base + 4000))))
    q.processAllAvailable()
    // batch 3: img3's caption is time-compatible with img3's ping (+70 s) but
    // arrives after the watermark passed — the buffered ping state is expired
    // and the late caption is dropped: MUST NOT produce a row
    caps.addData(Seq(("img3", "too old", ts(base + 70))))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pingcap").select("image_id", "caption")
      .as[(String, String)].collect().toSet
    assert(rows === Set(("img1", "cap one")))
  }

  test("left-outer stream join: expired unmatched emits null row, pending stays, matched joins") {
    implicit val sqlCtx = spark.sqlContext
    val b = 1767225600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // watermark = min(maxPing, maxCap) - 120 = min(b+2000, b+2100) - 120 = b+1880
    // A: horizon b+120  < b+1880 -> expired, null row
    // B: horizon b+1920 >= b+1880 -> pending, NO row
    // C: matched by capC at b+2000
    val pings = Seq(("A", 1.0, 2.0, ts(b)), ("B", 3.0, 4.0, ts(b + 1800)),
      ("C", 5.0, 6.0, ts(b + 2000)))
    val caps = Seq(("C", "cC", ts(b + 2000)), ("D", "cD", ts(b + 2100)))
    val pMem = MemoryStream[(String, Double, Double, java.sql.Timestamp)]
    val cMem = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = Streaming.pingCaptionLeftJoin(
        pMem.toDF().toDF("image_id", "lat", "lon", "ts"),
        cMem.toDF().toDF("image_id", "caption", "ts"), joinWindowSec = 120)
      .writeStream.format("memory").queryName("loj")
      .outputMode("append").start()
    pMem.addData(pings); cMem.addData(caps)
    q.processAllAvailable(); q.stop()
    val got = spark.table("loj")
      .select("image_id", "ping_sec", "cap_sec", "caption")
      .as[(String, Long, Option[Long], Option[String])].collect().toSet
    assert(got === Set(
      ("A", b, None, None),
      ("C", b + 2000, Some(b + 2000), Some("cC"))))
  }

  test("streaming sessionization closes sessions on gap and flushes idle users on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Ev]
    // gapSec=2: short so the processing-time timeout fires within the test.
    // The query runs continuous no-data micro-batches to evaluate timeouts,
    // so processAllAvailable can spin — poll the result table instead.
    val out = Streaming.sessionize(spark, mem.toDS(), gapSec = 2)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def sessions(): Map[(Long, Long), Streaming.SessOut] =
      spark.table("sessions").as[Streaming.SessOut]
        .collect().map(s => (s.user_id, s.sess_id) -> s).toMap
    def await(cond: => Boolean, what: String, ms: Long = 30000): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
      assert(cond, s"timed out waiting for $what; have ${sessions().keySet}")
    }
    val m = 1000000L
    mem.addData(
      Streaming.Ev(1, 0 * m, 1.0), Streaming.Ev(1, 1 * m, 2.0),
      Streaming.Ev(1, 200 * m, 3.0), // event-time gap > 2 s: closes session 1
      Streaming.Ev(2, 10 * m, 5.0))
    await(sessions().contains((1L, 1L)), "gap-closed session (1,1)")
    // idle flush: no more data for either user -> processing-time timeout
    // must emit user 1's open session 2 and user 2's only session
    await(sessions().contains((1L, 2L)), "timeout-flushed session (1,2)")
    await(sessions().contains((2L, 1L)), "timeout-flushed session (2,1)")
    q.stop()
    val sess = sessions()
    assert(sess((1L, 1L)).n_events === 2 && sess((1L, 1L)).duration_sec === 1)
    assert(sess((1L, 1L)).sum_value === 3.0)
    assert(sess((1L, 2L)).n_events === 1 && sess((1L, 2L)).sum_value === 3.0)
    assert(sess((2L, 1L)).n_events === 1 && sess((2L, 1L)).sum_value === 5.0)
  }

  test("streaming dedup: first doc per digest survives within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.DocIn]
    val out = Streaming.dedupStream(spark, mem.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def rows(): Map[Long, Streaming.DedupOut] =
      spark.table("dedup_out").as[Streaming.DedupOut]
        .collect().map(r => r.doc_id -> r).toMap
    // the timeout-bearing query runs continuous no-data micro-batches, so
    // processAllAvailable can spin — poll the result table instead (same
    // caveat as the sessionization test above)
    def await(cond: => Boolean, what: String, ms: Long = 30000): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
      assert(cond, s"timed out waiting for $what; have ${rows().keySet}")
    }
    // batch 1: two docs share digest "x" — smaller doc_id survives
    mem.addData(Streaming.DocIn(5, "x"), Streaming.DocIn(3, "x"),
      Streaming.DocIn(7, "y"))
    await(Set(3L, 5L, 7L).subsetOf(rows().keySet), "batch 1 outputs")
    assert(rows()(3).is_first && !rows()(5).is_first && rows()(7).is_first)
    // batch 2: digest "x" arrives again — state says dupe; fresh "z" survives
    mem.addData(Streaming.DocIn(1, "x"), Streaming.DocIn(9, "z"))
    await(Set(1L, 9L).subsetOf(rows().keySet), "batch 2 outputs")
    assert(!rows()(1).is_first, "cross-batch dupe must not survive")
    assert(rows()(9).is_first)
    q.stop()
    // batch semantics parity: survivors = min doc_id per digest, like curate
    assert(rows().values.filter(_.is_first).map(_.doc_id).toSet === Set(3L, 7L, 9L))
  }

  test("streaming cusum: alarms fire across batches with carried state; parity with batch recurrence") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.CEv]
    // target 10 units (1e7 µ), h 15 units (1.5e7 µ)
    val q = Streaming.cusumStream(spark, mem.toDS(),
        targetMicro = 10000000L, hMicro = 15000000L)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    def rows(): Seq[Streaming.CusumAlarm] =
      spark.table("cusum_out").as[Streaming.CusumAlarm].collect().toSeq
    // batch 1: user 1 values 18, 12 → s: 8, 10 — NO alarm yet; state = 10
    mem.addData(Streaming.CEv(1L, 10L, 1L, 18000000L),
      Streaming.CEv(1L, 20L, 2L, 12000000L))
    q.processAllAvailable()
    assert(rows().isEmpty, "no alarm before the threshold")
    // batch 2: value 16 → s = 10 + 6 = 16 ≥ 15 → ALARM with carried state;
    // then 26 → s = 0 + 16 ≥ 15 → second alarm immediately
    mem.addData(Streaming.CEv(1L, 30L, 3L, 16000000L),
      Streaming.CEv(1L, 40L, 4L, 26000000L))
    q.processAllAvailable()
    val got = rows().sortBy(_.alarm_idx)
    assert(got === Seq(
      Streaming.CusumAlarm(1L, 1L, 30L, 16000000L),
      Streaming.CusumAlarm(1L, 2L, 40L, 16000000L)),
      "cross-batch state must carry: the first alarm needs batch 1's s=10")
    q.stop()
  }

  test("streaming dedup kill-and-resume: state survives restart; earliest batch beats smaller doc_id") {
    // The cross-batch tie-break contract under failure: WITHIN a batch the
    // smallest doc_id wins (the iterator is sorted, so a retried/recomputed
    // task emits identical rows); ACROSS batches the earliest batch wins —
    // including across a query kill + checkpoint restart, because the chosen
    // survivor lives in the versioned state store, not in task memory.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ckpt").toString
    val mem = MemoryStream[Streaming.DocIn]
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Streaming.DedupOut]()
    def start() = Streaming.dedupStream(spark, mem.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Streaming.DedupOut], _: Long) =>
        ds.collect().foreach(buf.add); ()
      }
      .start()
    def have(): Map[Long, Set[Boolean]] =
      buf.toArray(Array.empty[Streaming.DedupOut]).toSeq
        .groupBy(_.doc_id).map { case (k, v) => k -> v.map(_.is_first).toSet }
    def await(cond: => Boolean, what: String, ms: Long = 30000): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
      assert(cond, s"timed out waiting for $what; have ${have().keySet}")
    }
    val q1 = start()
    mem.addData(Streaming.DocIn(5, "x"), Streaming.DocIn(3, "x"))
    await(Set(3L, 5L).subsetOf(have().keySet), "pre-kill batch")
    assert(have()(3L) === Set(true) && have()(5L) === Set(false))
    q1.stop() // KILL

    // arrives while the query is down; doc 1 < 3, but batch order, not
    // doc_id order, decides across batches
    mem.addData(Streaming.DocIn(1, "x"), Streaming.DocIn(8, "y"))
    val q2 = start() // RESUME from the same checkpoint
    await(Set(1L, 8L).subsetOf(have().keySet), "post-resume batch")
    q2.stop()
    assert(have()(1L) === Set(false), "earliest-batch survivor must keep winning after restart")
    assert(have()(8L) === Set(true))
    // re-delivered batches (foreachBatch is at-least-once) may duplicate
    // rows but must never FLIP a flag — every doc_id saw exactly one value
    have().foreach { case (id, flags) => assert(flags.size === 1, s"flag flip on doc $id") }
  }

  test("replay: one feed through the harness, micro-batches at 8 partitions, session value restored") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before !== "8")
    val feed = spark.range(0, 300, 1, 3).select((col("id") % 7).as("k"), col("id"))
    var inside = ""
    val out = Streaming.replay(spark, feed, "replay_counts", "complete") { f =>
      inside = spark.conf.get(key)
      f.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    }
    assert(inside === "8")
    assert(spark.conf.get(key) === before)
    val want = (0L until 300L).groupBy(_ % 7).map { case (k, v) => (k, v.size.toLong, v.sum) }
    assert(out.as[(Long, Long, Long)].collect().toSet === want.toSet)
    // the polling wait: append mode, one output row per feed row
    val polled = Streaming.replay(spark, feed, "replay_rows", "append", Some(_.length.toLong))(identity)
    assert(polled.count() === 300L && spark.conf.get(key) === before)
  }

  test("replay: a query that fails at start() throws and leaves the shuffle partitions as they were") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before !== "8")
    // complete mode needs an aggregation: start() rejects this query
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Streaming.replay(spark, spark.range(0, 10).toDF("id"), "replay_bad_start", "complete")(identity)
    }
    assert(e.getMessage.toLowerCase.contains("complete"), e.getMessage)
    assert(spark.conf.get(key) === before)
  }

  test("lineage checkpoint: stage skipped on resume, recomputed on input change") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val input1 = spark.range(100).toDF("id")
    def stage(df: org.apache.spark.sql.DataFrame) = {
      counter.incrementAndGet()
      df.withColumn("sq", col("id") * col("id"))
    }
    val out1 = Lineage.materialize(spark, dir, input1, stage)
    assert(out1.count() === 100 && counter.get() === 1)
    // resume: same input -> stage NOT re-run
    val out2 = Lineage.materialize(spark, dir, input1, stage)
    assert(out2.count() === 100 && counter.get() === 1)
    assert(out2.agg(sum(col("sq"))).as[Long].head() === (0L until 100L).map(i => i * i).sum)
    // changed input -> recompute
    val out3 = Lineage.materialize(spark, dir, spark.range(50).toDF("id"), stage)
    assert(out3.count() === 50 && counter.get() === 2)
    // manifest carries per-partition lineage
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_lineage_manifest.json"))
    assert(manifest.contains("\"partitions\"") && manifest.contains("\"rows\""))
  }

  test("lineage crash safety: stale manifest over torn data recomputes, never serves") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val input = spark.range(100).toDF("id")
    def stage(df: org.apache.spark.sql.DataFrame) = {
      counter.incrementAndGet()
      df.withColumn("sq", col("id") * col("id"))
    }
    Lineage.materialize(spark, dir, input, stage)
    assert(counter.get() === 1)
    // simulate a crash-torn overwrite: data replaced under a SURVIVING
    // manifest (the pre-fix failure mode: served as valid on resume)
    spark.range(7).toDF("id").withColumn("sq", lit(0L))
      .write.mode("overwrite").parquet(s"$dir/data")
    val out = Lineage.materialize(spark, dir, input, stage)
    assert(counter.get() === 2, "torn data must recompute, not serve")
    assert(out.count() === 100)
    // and a healthy checkpoint still skips
    Lineage.materialize(spark, dir, input, stage)
    assert(counter.get() === 2)
  }

  // ---- skip-path checks: every way a stored checkpoint can be wrong -------
  private def sqStage(counter: java.util.concurrent.atomic.AtomicInteger)(df: DataFrame) = {
    counter.incrementAndGet()
    df.withColumn("sq", col("id") * col("id"))
  }

  /** a committed checkpoint of `sqStage` over range(100); `damage` then
    * rewrites part of it, and the next materialize must recompute exactly
    * once and serve the correct rows. */
  private def assertRecomputes(what: String)(damage: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_skip").toString
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val input = spark.range(100).toDF("id")
    Lineage.materialize(spark, dir, input, sqStage(counter))
    damage(dir)
    val out = Lineage.materialize(spark, dir, input, sqStage(counter))
    assert(counter.get() === 2, s"$what must recompute, not serve")
    assert(out.agg(count(lit(1)), sum(col("sq"))).as[(Long, Long)].head() ===
      ((100L, (0L until 100L).map(i => i * i).sum)))
  }

  test("lineage skip path: same row count, one value changed → recompute") {
    assertRecomputes("a changed value under a matching row count") { dir =>
      spark.range(100).toDF("id")
        .withColumn("sq", when(col("id") === 42, lit(0L)).otherwise(col("id") * col("id")))
        .write.mode("overwrite").parquet(s"$dir/data")
    }
  }

  test("lineage skip path: manifest without a recorded schema → recompute") {
    assertRecomputes("a manifest without a schema") { dir =>
      val path = java.nio.file.Paths.get(dir, "_lineage_manifest.json")
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      assert(m.remove("schema") != null)
      java.nio.file.Files.writeString(path, m.toString)
    }
  }

  test("lineage skip path: stored column type differs from the recorded schema → recompute, not throw") {
    assertRecomputes("data unreadable with the recorded schema") { dir =>
      spark.range(100).toDF("id").withColumn("sq", (col("id") * col("id")).cast("string"))
        .write.mode("overwrite").parquet(s"$dir/data")
    }
  }

  test("lineage skip path: a healthy checkpoint skips; the stage closure runs 0 times") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt_ok").toString
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val input = spark.range(0, 100, 1, 3).toDF("id")
    val committed = Lineage.materialize(spark, dir, input, sqStage(counter))
    assert(counter.get() === 1)
    val resumed = Lineage.materialize(spark, dir, input, sqStage(counter))
    assert(counter.get() === 1, "a healthy checkpoint must not rerun its stage")
    assert(resumed.schema === committed.schema)
    assert(resumed.orderBy("id").collect().toSeq === committed.orderBy("id").collect().toSeq)
  }

  test("lineage fingerprint: xor of map-only partStats equals a global bit_xor(xxhash64)") {
    def globalXor(df: DataFrame, cols: Seq[String]): Long = {
      val r = df.select(xxhash64(cols.map(col): _*).as("h")).agg(expr("bit_xor(h)")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def xorOf(stats: Array[Lineage.PartStat]) = stats.foldLeft(0L)(_ ^ _.contentHash)
    // columns z, a, m: not in sorted order; 8 partitions of 5 ids, only the
    // first 3 keep rows after the filter
    val df = spark.range(0, 40, 1, 8).filter(col("id") < 15)
      .select((col("id") * 7 % 13).as("z"), col("id").as("a"),
        when(col("id") % 5 =!= 0, concat(lit("s"), col("id").cast("string"))).as("m"))
    val stats = Lineage.partStats(df)
    assert(stats.length === 8 && stats.count(_.rows == 0) === 5, stats.toSeq)
    assert(stats.map(_.rows).sum === 15L)
    assert(xorOf(stats) === globalXor(df, Seq("z", "a", "m")))
    assert(Lineage.fingerprint(df) === globalXor(df, Seq("a", "m", "z")))
    assert(Lineage.fingerprint(df) === Lineage.fingerprint(df.select("m", "z", "a").repartition(3)),
      "the fingerprint ignores column order and partition layout")
    assert(Lineage.fingerprint(df) != xorOf(stats), "column order matters to the row hash")
    val empty = df.filter(lit(false))
    assert(Lineage.fingerprint(empty) === 0L && globalXor(empty, Seq("a", "m", "z")) === 0L)
    assert(xorOf(Lineage.partStats(empty)) === 0L)
  }

  test("lineage bookkeeping: exactly 2 jobs beyond the stage's own, committing and resuming") {
    def jobs(action: => Unit): Int = JobCounter.jobs(spark)(action)
    val input = spark.range(0, 1000, 1, 4).toDF("id")
    def stage(df: DataFrame) = df.withColumn("sq", col("id") * col("id")) // map-only
    val scratch = java.nio.file.Files.createTempDirectory("ckpt_jobs").toString
    val own = jobs(stage(input).write.parquet(s"$scratch/plain"))
    assert(own >= 1)
    val dir = s"$scratch/ckpt"
    assert(jobs(Lineage.materialize(spark, dir, input, stage)) === own + 2, "commit")
    assert(jobs(Lineage.materialize(spark, dir, input, stage)) === 2, "resume")
  }
}
