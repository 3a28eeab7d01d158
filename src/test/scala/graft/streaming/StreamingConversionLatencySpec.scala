package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Streaming conversion latency: per-user pairing state + the shared HDR
  * histogram readout, pinned bit-identical to a batch build over the
  * concatenated events; replay absorption, TTL expiry of stale funnels,
  * bounded state, and exactly-once restart through the versioned tracker. */
class StreamingConversionLatencySpec extends SparkSpec {
  import spark.implicits._

  private val qs = Seq(500, 900)
  private val T0 = 1704067200000L // 2024-01-01 00:00:00 UTC, millis

  /** (user, ems, seq, type) quadruples -> the op's input frame. */
  private def frame(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "ems", "seq", "event_type")
      .selectExpr("user_id", "timestamp_millis(ems) AS ts", "seq", "event_type")

  /** The batch twin: conversion pairing (first view, first later
    * purchase) + the SAME HDR bucket geometry and readout the stream
    * uses — the bit-identity reference. */
  private def batchReadout(rows: Seq[(Long, Long, Long, String)])
      : (Seq[(Int, Long)], Long) = {
    val ev = frame(rows).selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_type")
    val v = ev.filter("event_type = 'view'")
      .groupBy("user_id").agg(min(col("ts_us")).as("v_us"))
    val lat = ev.filter("event_type = 'purchase'")
      .join(v, "user_id").filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id"), col("v_us")).agg(min(col("ts_us")).as("p_us"))
      .selectExpr("(p_us - v_us) div 1000000L AS lat_s")
    val hist = lat
      .selectExpr(s"${graft.operators.CorpusOps.hdrBucketExpr("lat_s", 5)} AS bkt")
      .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
    val out = graft.operators.CorpusOps.hdrQuantiles(hist, Seq.empty, 5, qs)
      .orderBy(col("q_pm")).collect()
    (out.map(r => r.getInt(0) -> r.getLong(2)).toSeq,
      if (out.isEmpty) 0L else out(0).getLong(1))
  }

  private def drive(ck: String, state: Option[String],
      batches: Seq[Seq[(Long, Long, Long, String)]], ttlMs: Long = 86400000L)
      : Seq[StreamingConversionLatency.Readout] = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String)]
    val buf = scala.collection.mutable.Buffer[StreamingConversionLatency.Readout]()
    val in = ms.toDF().toDF("user_id", "ems", "seq", "event_type")
      .selectExpr("user_id", "timestamp_millis(ems) AS ts", "seq", "event_type")
    val q = StreamingConversionLatency.run(in, ck, state, 5, qs,
      ttlMs = ttlMs, onReadout = buf.append(_))
    try batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    buf.toSeq
  }

  // u1 converts in 30 s (purchase fed BEFORE its view in the same batch —
  // the in-batch sort must fix it); u3's first purchase precedes any view
  // and must NOT pair; u4 never converts
  private val b1 = Seq(
    (1L, T0 + 30000L, 2L, "purchase"), (1L, T0, 1L, "view"),
    (3L, T0, 1L, "purchase"), (3L, T0 + 10000L, 2L, "view"),
    (4L, T0, 1L, "view"))
  // u2 converts in 300 s; u3 converts in 90 s (against its T0+10 s view).
  // Every batch-2 event sits ABOVE the batch-1 watermark (T0+30 s): the
  // engine filters sub-watermark rows before the state function, so a
  // fixture with late rows would test the engine's drop, not the pairing
  private val b2 = Seq(
    (2L, T0 + 60000L, 3L, "view"), (2L, T0 + 360000L, 4L, "purchase"),
    (3L, T0 + 100000L, 3L, "purchase"))

  test("the streaming readout is bit-identical to the batch twin") {
    val got = drive(tmpDir("sclat_ck"), None, Seq(b1, b2))
    val (q1, n1) = batchReadout(b1)
    assert(got.head.quantiles == q1 && got.head.n == n1 && n1 == 1L)
    val (qAll, nAll) = batchReadout(b1 ++ b2)
    assert(got.last.quantiles == qAll, "cross-batch merge must equal the one-shot build")
    assert(got.last.n == nAll && nAll == 3L)
    assert(got.last.histBuckets <= StreamingConversionLatency.histLen(5))
  }

  test("replays and post-conversion purchases are absorbed, never recounted") {
    // batch 3: an exact sub-watermark replay of u1's purchase (engine
    // late-drop), a SECOND (later) u1 purchase above the watermark (the
    // done guard), and the same second purchase duplicated at the same
    // (ts, seq) (the in-batch late guard) — none may add a conversion
    val b3 = Seq(
      (1L, T0 + 30000L, 2L, "purchase"),
      (1L, T0 + 900000L, 9L, "purchase"),
      (1L, T0 + 900000L, 9L, "purchase"))
    val got = drive(tmpDir("sclat_ck2"), None, Seq(b1, b2, b3))
    val (qAll, nAll) = batchReadout(b1 ++ b2)
    assert(got.last.n == nAll && got.last.quantiles == qAll,
      "replay/second-purchase must not change the histogram")
  }

  test("TTL expires a stale funnel: a purchase after expiry finds no view") {
    val day = 86400000L
    val a = Seq((5L, T0, 1L, "view"), (6L, T0, 1L, "view"))
    val b = Seq((6L, T0 + 2 * day, 2L, "view"))      // watermark -> T0+2d at batch end
    val c = Seq((6L, T0 + 2 * day + 1000L, 3L, "view")) // u5's 1-min timer fires here
    // above the watermark (so the engine does NOT drop it) but the
    // funnel state already expired -> fresh state sees no view
    val d = Seq((5L, T0 + 2 * day + 2000L, 2L, "purchase"))
    val got = drive(tmpDir("sclat_ck3"), None, Seq(a, b, c, d), ttlMs = 60000L)
    assert(got.last.n == 0L, "an expired funnel must not convert")
  }

  test("a user active again after TTL expiry starts a NEW funnel episode") {
    val day = 86400000L
    // episode 1 converts in 30 s; u9 keeps the watermark moving; after
    // u7's state expires (1-min TTL), a fresh view+purchase pair forms a
    // SECOND episode that converts again — n = 2 from one user, the
    // windowed-funnel semantics (probe-observed: 30 days of events at a
    // 24 h TTL yield more episodes than users, deliberately)
    val e1 = Seq((7L, T0, 1L, "view"), (7L, T0 + 30000L, 2L, "purchase"),
      (9L, T0, 1L, "view"))
    val e2 = Seq((9L, T0 + 2 * day, 2L, "view"))
    val e3 = Seq((9L, T0 + 2 * day + 1000L, 3L, "view")) // u7's timer fires
    val e4 = Seq((7L, T0 + 2 * day + 2000L, 4L, "view"),
      (7L, T0 + 2 * day + 62000L, 5L, "purchase"))
    val got = drive(tmpDir("sclat_ck5"), None, Seq(e1, e2, e3, e4), ttlMs = 60000L)
    assert(got.last.n == 2L, "the post-expiry episode must convert independently")
  }

  test("restart recovers the histogram exactly-once from the versioned state") {
    val src = tmpDir("sclat_src"); val ck = tmpDir("sclat_ck4")
    val st = Some(tmpDir("sclat_state"))
    def jl(rows: Seq[(Long, Long, Long, String)]): String = rows.map { case (u, e, s0, t) =>
      s"""{"user_id":$u,"ems":$e,"seq":$s0,"event_type":"$t"}"""
    }.mkString("\n")
    def input = spark.readStream
      .schema("user_id LONG, ems LONG, seq LONG, event_type STRING")
      .json(src)
      .selectExpr("user_id", "timestamp_millis(ems) AS ts", "seq", "event_type")
    val buf = scala.collection.mutable.Buffer[StreamingConversionLatency.Readout]()
    Files.write(Paths.get(src, "b1.jsonl"), jl(b1).getBytes)
    val q1 = StreamingConversionLatency.run(input, ck, st, 5, qs, onReadout = buf.append(_))
    try q1.processAllAvailable() finally q1.stop()
    val (qB1, nB1) = batchReadout(b1)
    assert(buf.last.quantiles == qB1 && buf.last.n == nB1)

    // restart: a fresh tracker restores the versioned histogram, the
    // checkpoint resumes offsets, batch 2 lands exactly once
    Files.write(Paths.get(src, "b2.jsonl"), jl(b2).getBytes)
    val q2 = StreamingConversionLatency.run(input, ck, st, 5, qs, onReadout = buf.append(_))
    try q2.processAllAvailable() finally q2.stop()
    val (qAll, nAll) = batchReadout(b1 ++ b2)
    assert(buf.last.quantiles == qAll && buf.last.n == nAll,
      "post-restart readout must equal the one-shot build over all events")
  }

  test("a restored histogram on a fresh checkpoint fails before start instead of dropping batches") {
    val st = tmpDir("sclat_reset")
    val got = drive(tmpDir("sclat_reset_ck1"), Some(st), Seq(b1))
    assert(got.last.n == 1L)
    // a new checkpoint restarts at batch 0, which the restored histogram
    // already holds: the run must refuse to start, not skip the batch
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)].toDF()
      .toDF("user_id", "ems", "seq", "event_type")
      .selectExpr("user_id", "timestamp_millis(ems) AS ts", "seq", "event_type")
    val e = intercept[CheckpointResetException](StreamingConversionLatency.run(
      in, tmpDir("sclat_reset_ck2"), Some(st), 5, qs, onReadout = _ => ()))
    assert(e.getMessage.contains("no offsets") && e.getMessage.contains(st), e.getMessage)
    assert(spark.streams.active.isEmpty, "the query started")
  }

  test("a restart with another bucket width fails loudly instead of restarting empty") {
    val st = Some(tmpDir("sclat_width"))
    val t5 = new StreamingConversionLatency.HistTracker(st, 5)
    assert(t5.update(Seq((3L, 2L)), batchId = 0L))
    val e = intercept[IllegalArgumentException](
      new StreamingConversionLatency.HistTracker(st, 6))
    val (w5, w6) = (StreamingConversionLatency.histLen(5), StreamingConversionLatency.histLen(6))
    assert(e.getMessage.contains(s"width $w5") && e.getMessage.contains(w6.toString),
      s"the error must name both widths: ${e.getMessage}")
    // the same width still restores
    assert(new StreamingConversionLatency.HistTracker(st, 5).hist(3) == 2L)
  }
}
