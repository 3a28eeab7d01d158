package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.CorpusOps

/** Streaming view→purchase conversion latency: the intake twin of the
  * batch `conversion_latency` operator — live p50/p90 funnel latency
  * over an unbounded event stream, the seventh streaming sketch.
  *
  * Two bounded-state layers:
  *
  *  1. PAIRING — `flatMapGroupsWithState` keyed by user: ONE small state
  *     row per in-flight user (first view ts, converted flag, last
  *     (ts, seq) processed). Within a micro-batch the user's events sort
  *     by (ts_us, seq) — the batch operator's total order — and replay /
  *     late events at or before the last processed (ts, seq) DROP (the
  *     StreamingScd2 idempotent-consumer rule, so an at-least-once
  *     upstream never emits a phantom conversion). A user's latency
  *     emits EXACTLY ONCE PER FUNNEL EPISODE: first qualifying purchase
  *     strictly after the episode's first view. Event-time TTL (always
  *     armed, through [[KeyedState.expireAt]]) expires both unconverted
  *     users past the funnel window and
  *     converted users once replays can no longer arrive, so state is
  *     the in-flight-user domain, not the stream — and, deliberately, a
  *     user active again AFTER expiry starts a NEW episode that can
  *     convert again (the windowed-funnel semantics a live monitor
  *     wants; the batch operator's one-shot first-view→first-purchase
  *     equals the streaming readout exactly when the stream span fits
  *     one TTL window, which is what the spec's bit-identity pins — and
  *     the episode re-entry is spec-pinned separately).
  *
  *  2. HISTOGRAM — resolved latencies (whole seconds, the batch
  *     operator's quantization contract) fold into the HDR bucket
  *     histogram via the SAME [[CorpusOps.hdrBucketExpr]] geometry and
  *     [[CorpusOps.hdrQuantiles]] readout as `quantile_sketch` and
  *     StreamingQuantiles — one definition per engine-side, so the
  *     streaming readout is BIT-IDENTICAL to a batch HDR build over the
  *     concatenated latencies (pinned by StreamingConversionLatencySpec).
  *     Because the pairing layer is itself stateful, the histogram
  *     cannot ride a second engine aggregation in the same query; it
  *     is driver-held instead ([[HistTracker]]): per batch, executors
  *     partial-sum their slice into <= domain (bkt, cnt) rows and the
  *     driver merges them into a fixed-length array kept exactly-once
  *     across crash/restart by a [[SnapshotStore]].
  *
  * Scale shape: nothing stream-volume-sized is ever held — per-user
  * state is one row with TTL, per-batch driver traffic is <= ~1.9k
  * histogram rows at subBits = 5, and the readout windows run over the
  * bucket domain.
  */
object StreamingConversionLatency {

  case class ConvEvent(user_id: Long, ts_us: Long, ems: Long, seq: Long,
      event_type: String, ets: java.sql.Timestamp)

  /** One row per in-flight user. vTsUs = -1 until the first view. */
  case class ConvOpen(vTsUs: Long, done: Boolean, lastTsUs: Long,
      lastSeq: Long, lastEms: Long)

  case class ConvLat(user_id: Long, lat_s: Long)

  /** Per-batch readout: (q_pm -> est_q) pairs off the shared HDR
    * readout, the running converter count, and the resident nonzero
    * bucket count (the bounded-state witness). */
  final case class Readout(batchId: Long, quantiles: Seq[(Int, Long)],
      n: Long, histBuckets: Long)

  /** Dense HDR bucket-id bound for [[CorpusOps.hdrBucketExpr]]:
    * ids < (64 - subBits) * 2^subBits + 2^(subBits + 1). */
  def histLen(subBits: Int): Int =
    (64 - subBits) * (1 << subBits) + (1 << (subBits + 1))

  private def stateFn(fromType: String, toType: String, ttlMs: Long)(
      userId: Long, events: Iterator[ConvEvent],
      state: GroupState[ConvOpen]): Iterator[ConvLat] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val sorted = events.toSeq.sortBy(e => (e.ts_us, e.seq))
    var st = state.getOption.getOrElse(
      ConvOpen(-1L, done = false, Long.MinValue, Long.MinValue, 0L))
    val out = scala.collection.mutable.ArrayBuffer[ConvLat]()
    sorted.foreach { e =>
      val late = e.ts_us < st.lastTsUs ||
        (e.ts_us == st.lastTsUs && e.seq <= st.lastSeq)
      if (!late) {
        if (e.event_type == fromType) {
          if (st.vTsUs < 0) st = st.copy(vTsUs = e.ts_us)
        } else if (e.event_type == toType && !st.done && st.vTsUs >= 0 &&
            e.ts_us > st.vTsUs) {
          out += ConvLat(userId, (e.ts_us - st.vTsUs) / 1000000L)
          st = st.copy(done = true)
        }
        st = st.copy(lastTsUs = e.ts_us, lastSeq = e.seq,
          lastEms = math.max(st.lastEms, e.ems))
      }
    }
    state.update(st)
    // always armed: unconverted users expire after the funnel window;
    // converted users expire once replays can no longer arrive
    KeyedState.expireAt(state, st.lastEms + ttlMs)
    out.iterator
  }

  /** The pairing layer alone: `events` must carry (user_id: long,
    * ts: timestamp, seq: long, event_type: string). Append-mode stream
    * of per-user latencies, one row per conversion.
    *
    * Cross-batch ordering contract: batch bit-identity additionally
    * assumes event-time-ORDERED delivery across micro-batches for each
    * user. Within one micro-batch the (ts, seq) sort restores any
    * order, but a purchase that lands in an EARLIER micro-batch than
    * its view is processed first and finds no open view (the pair is
    * silently not a conversion), and a view arriving BELOW the
    * watermark after later events advanced it is dropped by the
    * engine before the state function runs. `delay` is the knob that
    * buys cross-batch reordering room: the watermark lags the max
    * seen event time by `delay`, so any source that can deliver a
    * user's events up to D out of order across batch boundaries needs
    * `delay >= D` (and pays TTL expiry latency for it). The default
    * '0 seconds' is correct for ordered replay (the spec's time-sliced
    * fixture) and for monotone per-user sources; give a real
    * out-of-order stream a nonzero delay. */
  def latencies(events: DataFrame, fromType: String = "view",
      toType: String = "purchase", ttlMs: Long = 24L * 3600 * 1000,
      delay: String = "0 seconds"): Dataset[ConvLat] = {
    require(fromType != toType, "funnel ends must differ")
    val s = events.sparkSession
    import s.implicits._
    events
      .withColumn("ets", col("ts").cast("timestamp"))
      .withWatermark("ets", delay)
      .selectExpr("user_id", "unix_micros(ets) AS ts_us",
        "unix_millis(ets) AS ems", "seq", "event_type", "ets")
      .as[ConvEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stateFn(fromType, toType, ttlMs))
  }

  /** Driver-held HDR bucket histogram, exactly-once across replay and
    * restart through a [[SnapshotStore]] (`hdr_state.<batchId>.bin`). */
  final class HistTracker(stateDir: Option[String], subBits: Int)
      extends Serializable {
    val len: Int = histLen(subBits)
    private[streaming] val store = new SnapshotStore(stateDir, "hdr_state", new Array[Long](len))

    def hist: Array[Long] = store.values

    /** Fold one micro-batch of (bkt, cnt) partials; replayed ids at or
      * below the restored/last id are absorbed (exactly-once). Returns
      * false when the batch was a replay. */
    def update(partials: Seq[(Long, Long)], batchId: Long): Boolean =
      !store.isReplay(batchId) && {
        val next = hist.clone() // copy-on-write: readers see snapshots
        partials.foreach { case (bkt, cnt) =>
          require(bkt >= 0 && bkt < len, s"bucket $bkt outside [0, $len)")
          next(bkt.toInt) += cnt
        }
        store.commit(next, batchId)
      }
  }

  /** Start the full sketch: pairing + histogram + shared HDR readout.
    * `stateDir` enables exactly-once histogram recovery across restarts
    * (the checkpointed query replays no offsets, so without it the
    * pre-crash histogram would silently vanish); a restored histogram
    * under a checkpoint with no offsets throws [[CheckpointResetException]]
    * before start. `delay` inherits [[latencies]]' ordering contract: size
    * it to the source's cross-batch out-of-orderness or conversions whose
    * view arrives in a later batch than the purchase are silently missed. */
  def run(events: DataFrame, checkpointDir: String,
      stateDir: Option[String] = None, subBits: Int = 5,
      qsPm: Seq[Int] = Seq(500, 900), fromType: String = "view",
      toType: String = "purchase", ttlMs: Long = 24L * 3600 * 1000,
      delay: String = "0 seconds",
      onReadout: Readout => Unit): StreamingQuery = {
    CorpusOps.requireSketchKnobs(subBits, qsPm)
    val s = events.sparkSession
    val tracker = new HistTracker(stateDir, subBits)
    MicroBatch.start(latencies(events, fromType, toType, ttlMs, delay), checkpointDir,
        stores = Seq(tracker.store)) { (batch, batchId) =>
      // <= domain rows reach the driver: executors partial-sum first
      val partials = batch
        .selectExpr(s"${CorpusOps.hdrBucketExpr("lat_s", subBits)} AS bkt")
        .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      tracker.update(partials, batchId)
      val nonzero = tracker.hist.zipWithIndex.collect {
        case (c, i) if c > 0 => (i.toLong, c)
      }.toSeq
      import s.implicits._
      val rows =
        if (nonzero.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else CorpusOps.hdrQuantiles(
            nonzero.toDF("bkt", "cnt"), Seq.empty, subBits, qsPm)
          .orderBy(col("q_pm")).collect()
      val n = if (rows.isEmpty) 0L else rows(0).getLong(1)
      onReadout(Readout(batchId,
        rows.map(r => r.getInt(0) -> r.getLong(2)).toSeq, n, nonzero.size.toLong))
    }
  }
}
