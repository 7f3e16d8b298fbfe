package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event analytics (SURVEY §2.10:
  * the reference is batch-only; the streaming surface generalizes its
  * incremental skip-if-exists behavior to real incremental processing).
  * readStream → watermark → windowed agg / stateful sessionization →
  * writeStream; verified in tests against the batch results via MemoryStream.
  */
object Streaming {

  /** tumbling-window counts/sums with a watermark for late data. Input must
    * have (ts timestamp, event_type string, value double). */
  def tumblingCounts(events: DataFrame, windowSec: Long, watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), s"$windowSec seconds"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("window_start_sec"),
        col("n"), col("sum_value"))

  /** Sliding (hopping) window counts/sums — the overlapping-window twin of
    * `tumblingCounts`: each event lands in windowSec/slideSec windows, so a
    * 600s window hopping every 300s smooths the tumbling series with 2×
    * overlap. Spark assigns windows with start = ⌊ts/slide⌋·slide − i·slide
    * for i < window/slide; the batch oracle replays exactly that offset
    * cross-join. State is bounded by (watermark + window)/slide panes per
    * key — the standard streaming-agg state story, nothing per-event. */
  def slidingCounts(events: DataFrame, windowSec: Long, slideSec: Long,
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"),
        window(col("ts"), s"$windowSec seconds", s"$slideSec seconds"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("window_start_sec"),
        col("n"), col("sum_value"))

  /** Streaming windowed TOP-K — "largest transactions per window" live: the
    * k-bounded native TopKAgg (the scale replacement for window row_number
    * cuts) runs INSIDE the streaming aggregation, so per-window state is k
    * (value, tag) pairs — 16·k bytes — regardless of event volume, and the
    * map-side combine discards non-contenders before the state store ever
    * sees them. The same total order (v DESC, tag ASC) as the batch
    * operator makes the result engine/partitioning/replay-invariant.
    */
  def windowTopK(events: DataFrame, windowSec: Long, k: Int,
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value_micro", floor(col("value") * 1e6).cast("long"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$windowSec seconds"))
      .agg(graft.exprs.topk.topk_agg(col("value_micro"), col("user_id"), k).as("top"))
      .select(unix_timestamp(col("window.start")).as("window_start_sec"),
        posexplode(col("top")))
      .select(col("window_start_sec"), (col("pos") + 1).cast("long").as("rk"),
        col("col.tag").as("user_id"), col("col.v").as("value_micro"))

  /** Streaming twin of the headline spatial join (the BASELINE.json metric):
    * a stream of geotagged image rows (image_id, ts, lat, lon) is cell-keyed
    * map-side and equi-joined against the STATIC segment index — stream-
    * static joins are stateless, each micro-batch probes the static side,
    * which at scale is the cell-bucketed segs table so the probe is
    * co-located — refined by exact point-segment distance, then aggregated
    * to watermarked tumbling per-cell match counts (n_pairs exact,
    * n_images ≈ HLL approx_count_distinct: exact distinct over an unbounded
    * stream would need unbounded state).
    */
  def imageSegmentCounts(images: DataFrame, segs: DataFrame, res: Int,
                         maxDistDeg: Double, windowSec: Long = 60,
                         watermark: String = "2 minutes"): DataFrame =
    images
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("cell", graft.exprs.fns.cell_encode(col("lat"), col("lon"), res))
      .join(segs, Seq("cell"))
      .where(graft.exprs.fns.point_seg_dist(col("lat"), col("lon"),
        col("lat1"), col("lon1"), col("lat2"), col("lon2")) <= maxDistDeg)
      .withWatermark("ts", watermark)
      .groupBy(col("cell"), window(col("ts"), s"$windowSec seconds"))
      .agg(count(lit(1)).as("n_pairs"),
        approx_count_distinct(col("image_id")).as("n_images_approx"))
      .select(col("cell"), unix_timestamp(col("window.start")).as("window_start_sec"),
        col("n_pairs"), col("n_images_approx"))

  /** STREAM-STREAM interval join: a feed of geotagged pings enriched by a
    * separately-arriving caption feed for the same image, matched when the
    * caption lands within ±joinWindowSec of the ping. Both sides carry
    * watermarks and the join condition is time-bounded, which is exactly
    * what lets Spark EXPIRE buffered state: a side's rows older than
    * (watermark − interval) can never match future input and are dropped,
    * so state stays proportional to the interval × arrival rate, not the
    * stream length — the only shape that survives an unbounded 100 TB feed.
    */
  def pingCaptionJoin(pings: DataFrame, captions: DataFrame,
                      joinWindowSec: Long = 120,
                      watermark: String = "2 minutes"): DataFrame = {
    val p = pings
      .withColumn("ping_ts", col("ts").cast("timestamp"))
      .select(col("image_id"), col("lat"), col("lon"), col("ping_ts"))
      .withWatermark("ping_ts", watermark)
    val c = captions
      .withColumn("cap_ts", col("ts").cast("timestamp"))
      .select(col("image_id").as("cap_image_id"), col("caption"), col("cap_ts"))
      .withWatermark("cap_ts", watermark)
    p.join(c,
      col("image_id") === col("cap_image_id") &&
        col("cap_ts") >= col("ping_ts") - expr(s"INTERVAL $joinWindowSec SECONDS") &&
        col("cap_ts") <= col("ping_ts") + expr(s"INTERVAL $joinWindowSec SECONDS"))
      .select(col("image_id"), col("lat"), col("lon"),
        unix_timestamp(col("ping_ts")).as("ping_sec"),
        unix_timestamp(col("cap_ts")).as("cap_sec"), col("caption"))
  }

  /** LEFT OUTER stream-stream interval join — the "every ping gets a row"
    * variant of pingCaptionJoin: matched pings emit caption rows exactly
    * like the inner join; an unmatched ping emits ONE null-padded row as
    * soon as the global watermark (min over both feeds of max-event-time −
    * delay) passes ping_ts + joinWindow, i.e. once no future caption could
    * still match it. That is Structured Streaming's outer-join contract:
    * state for the left row is evicted — and the null row emitted — when
    * ping_ts + joinWindow < watermark (strict: a ping exactly AT the
    * boundary stays, because the engine's state-value watermark subtracts
    * an epsilon). Pings younger than that stay pending (never emitted in a
    * bounded replay) — the batch oracle applies the identical cutoff.
    *
    * State story at scale: identical to the inner join — both sides keyed
    * by image_id, state bounded by 2·joinWindow + delay of event time per
    * key, plus the pending unmatched lefts inside the horizon. */
  def pingCaptionLeftJoin(pings: DataFrame, captions: DataFrame,
                          joinWindowSec: Long = 120,
                          watermark: String = "2 minutes"): DataFrame = {
    val p = pings
      .withColumn("ping_ts", col("ts").cast("timestamp"))
      .select(col("image_id"), col("lat"), col("lon"), col("ping_ts"))
      .withWatermark("ping_ts", watermark)
    val c = captions
      .withColumn("cap_ts", col("ts").cast("timestamp"))
      .select(col("image_id").as("cap_image_id"), col("caption"), col("cap_ts"))
      .withWatermark("cap_ts", watermark)
    p.join(c,
        col("image_id") === col("cap_image_id") &&
          col("cap_ts") >= col("ping_ts") - expr(s"INTERVAL $joinWindowSec SECONDS") &&
          col("cap_ts") <= col("ping_ts") + expr(s"INTERVAL $joinWindowSec SECONDS"),
        "leftOuter")
      .select(col("image_id"), col("lat"), col("lon"),
        unix_timestamp(col("ping_ts")).as("ping_sec"),
        unix_timestamp(col("cap_ts")).as("cap_sec"), col("caption"))
  }

  case class CEv(user_id: Long, ts_us: Long, event_id: Long, v6: Long)
  case class CusumAlarm(user_id: Long, alarm_idx: Long, ts_us: Long,
                        s_at_alarm: Long)

  /** Streaming twin of `EventOps.cusum` (Page 1954): the identical
    * per-user recurrence s = max(0, s + v − target) with reset-on-alarm,
    * run INSIDE flatMapGroupsWithState — the live drift monitor that emits
    * one row per alarm as it crosses h. State is exactly TWO longs per
    * user (running s, alarm count) regardless of volume — the
    * constant-size-state analog of the windowTopK story. Events are
    * ordered (ts_us, event_id) within each micro-batch, the same total
    * order as the batch op, so the replay harness's single-batch feed is
    * bit-identical to the batch recurrence — and the DuckDB oracle that
    * replays it gates the stream exactly. */
  def cusumStream(spark: SparkSession, events: Dataset[CEv],
                  targetMicro: Long, hMicro: Long): Dataset[CusumAlarm] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[CEv], state: GroupState[(Long, Long)]) =>
          var (s, nAlarms) = state.getOption.getOrElse((0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[CusumAlarm]
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val step = math.max(0L, s + e.v6 - targetMicro)
            if (step >= hMicro) {
              nAlarms += 1
              out += CusumAlarm(user, nAlarms, e.ts_us, step)
              s = 0L
            } else s = step
          }
          state.update((s, nAlarms))
          out.iterator
      }
  }

  case class Ev(user_id: Long, ts_us: Long, value: Double)
  case class SessState(sessId: Long, startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class SessOut(user_id: Long, sess_id: Long, n_events: Long,
                     duration_sec: Long, sum_value: Double)

  case class DocIn(doc_id: Long, digest: String)
  case class DedupOut(doc_id: Long, digest: String, is_first: Boolean)

  case class GeoPt(track_id: Long, step: Int, lat: Double, lon: Double)
  case class FenceOut(track_id: Long, step: Int, from_zone: String, to_zone: String)

  /** STREAMING GEOFENCE — the incremental twin of
    * GeoStatsOps.geofenceTransitions: GPS points arrive as a stream, state
    * per track is ONE (last_step, last_zone) pair (bounded regardless of
    * track length), and a row is emitted the moment a track's zone changes
    * — the live fleet-alerting form of the batch lag-window op.
    *
    * Zone assignment uses the same broadcast PreparedPolys kernel as the
    * batch path (envelope prefilter + ray cast), serialized once into the
    * state function. Points are ordered by step inside each micro-batch;
    * an out-of-order step arriving AFTER a later step has been processed
    * is dropped (documented late-data policy — the batch twin gate feeds
    * in order, and a production feed would reorder upstream with an
    * event-time watermark). */
  def geofenceStream(spark: SparkSession, pts: Dataset[GeoPt],
                     polys: Array[(String, Array[Array[Double]])],
                     default: String = "Unincorporated"): Dataset[FenceOut] = {
    import spark.implicits._
    val prepared = new graft.geom.PreparedPolys(polys, default)
    pts.groupByKey(_.track_id)
      .flatMapGroupsWithState[(Int, String), FenceOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (track: Long, it: Iterator[GeoPt], state: GroupState[(Int, String)]) =>
          var (lastStep, lastZone) = state.getOption.getOrElse((-1, null: String))
          val out = scala.collection.mutable.ArrayBuffer.empty[FenceOut]
          it.toSeq.sortBy(_.step).foreach { p =>
            if (p.step > lastStep) {
              val z = prepared.first(p.lat, p.lon).toString
              if (lastZone != null && z != lastZone)
                out += FenceOut(track, p.step, lastZone, z)
              lastStep = p.step; lastZone = z
            }
          }
          state.update((lastStep, lastZone))
          out.iterator
      }
  }

  /** STREAMING EXACT-DEDUP — the incremental twin of the curation
    * pipeline's dedup stage (TextOps.curate): keyed on the content digest,
    * the state per key is ONE long (the surviving doc_id), so state size is
    * proportional to DISTINCT content seen in the retention window, never
    * to stream length. Within a micro-batch the smallest doc_id wins (same
    * tie-break as batch dedup); across batches the earlier batch wins.
    * `ttl` bounds retention: a digest idle longer than ttl is forgotten
    * (documented window semantics — an unbounded 100 TB feed cannot keep
    * exact forever-state; set it to the contractual dedup horizon). */
  def dedupStream(spark: SparkSession, docs: Dataset[DocIn],
                  ttl: String = "1 hour"): Dataset[DedupOut] = {
    import spark.implicits._
    docs.groupByKey(_.digest)
      .flatMapGroupsWithState[Long, DedupOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (dg: String, it: Iterator[DocIn], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = it.toSeq.sortBy(_.doc_id)
            val out = state.getOption match {
              case Some(_) => batch.map(d => DedupOut(d.doc_id, dg, is_first = false))
              case None =>
                val survivor = batch.head.doc_id
                state.update(survivor)
                batch.map(d => DedupOut(d.doc_id, dg, is_first = d.doc_id == survivor))
            }
            state.setTimeoutDuration(ttl)
            out.iterator
          }
      }
  }

  /** gap-based sessionization with custom state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): emits a session when
    * the gap is exceeded; a PROCESSING-TIME TIMEOUT flushes the open session
    * of an idle user (without it, each user's last session would never be
    * emitted — round-1 bug flagged in review). The streaming analog of
    * EventOps.sessionize. */
  def sessionize(spark: SparkSession, events: Dataset[Ev], gapSec: Long): Dataset[SessOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessState], SessOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[List[SessState]]) =>
          if (state.hasTimedOut) {
            // idle user: flush the open session and drop the state
            val flushed = state.getOption.getOrElse(Nil).map(s =>
              SessOut(user, s.sessId, s.n, (s.lastUs - s.startUs) / 1000000L, s.sum))
            state.remove()
            flushed.iterator
          } else {
            val evs = it.toSeq.sortBy(_.ts_us)
            var cur = state.getOption.getOrElse(Nil).headOption
            var closed = List.empty[SessOut]
            var nextId = cur.map(_.sessId).getOrElse(0L)
            evs.foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.lastUs <= gapSec * 1000000L =>
                  cur = Some(s.copy(lastUs = e.ts_us, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessOut(user, s.sessId, s.n, (s.lastUs - s.startUs) / 1000000L, s.sum)
                  nextId += 1
                  cur = Some(SessState(nextId, e.ts_us, e.ts_us, 1, e.value))
                case None =>
                  nextId += 1
                  cur = Some(SessState(nextId, e.ts_us, e.ts_us, 1, e.value))
              }
            }
            state.update(cur.toList)
            state.setTimeoutDuration(s"$gapSec seconds")
            closed.reverseIterator
          }
      }
  }

  /** Row cap of one replayed feed: the largest feed, the unsliced events
    * table, is 1,000,000 rows at sf1.0 (the geofence slice stays at 545,480
    * points at every scale because its modulus grows with the corpus). */
  private val ReplayRows = 1 << 21
  /** Byte cap of one replayed feed, against the JVM size estimate of its
    * rows: the events feed estimates at 164 bytes a row (16.4 MB at sf0.1,
    * so about 165 MB at sf1.0), the geofence slice at 72.4 MB. */
  private val ReplayBytes = 1L << 29

  /** The one replay harness of the registry's streaming twins. The reference
    * is batch-only, so a twin replays its batch input through Structured
    * Streaming and must land on the batch oracle's rows.
    *
    * `feed` is pulled to the driver once through `Driver.collectBounded`
    * (caps `ReplayRows` and `ReplayBytes`) and added to one MemoryStream as
    * one batch; `query` builds the streaming plan over that stream, which
    * writes into the memory table `table` in `outputMode`. The collect is the
    * harness, not the operator: at scale the stream arrives from a real
    * source. Row order within the batch is free: every twin sorts inside
    * its groups or aggregates exact integers.
    *
    * The micro-batches run at 8 shuffle partitions: the feeds are small, so
    * more state-store partitions are per-task overhead only, and every
    * stateful operator here is keyed, so its output does not depend on the
    * partition count. The session's value is restored in a `finally` that
    * also covers a query that fails to start.
    *
    * Waiting: `processAllAvailable`, unless `expectedRows` is given. A
    * query with ProcessingTimeTimeout state spins empty micro-batches
    * forever under `processAllAvailable`, so the harness polls the table up
    * to the row count `expectedRows` computes from the replayed rows
    * instead, and throws if the table does not hold exactly that many rows
    * within 180 s. Returns the memory table. */
  def replay(spark: SparkSession, feed: DataFrame, table: String, outputMode: String,
             expectedRows: Option[Seq[Row] => Long] = None)(
      query: DataFrame => Dataset[_]): DataFrame = {
    val rows = graft.ops.Driver.collectBounded(feed, ReplayRows, ReplayBytes,
      s"replay feed of $table").toIndexedSeq
    val mem = MemoryStream[Row](Encoders.row(feed.schema), spark.sqlContext)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try {
      val q = query(mem.toDF()).writeStream.format("memory").queryName(table)
        .outputMode(outputMode).start()
      try {
        mem.addData(rows)
        expectedRows.map(_(rows)) match {
          case None => q.processAllAvailable()
          case Some(n) =>
            val deadline = System.currentTimeMillis() + 180000L
            while (spark.table(table).count() < n && System.currentTimeMillis() < deadline)
              Thread.sleep(100)
            val got = spark.table(table).count()
            require(got == n, s"$table: the stream reached $got rows, not the expected $n")
        }
      } finally q.stop()
    } finally spark.conf.set(key, prev)
    spark.table(table)
  }
}
