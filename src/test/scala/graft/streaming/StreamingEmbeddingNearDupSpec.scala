package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout
import java.sql.Timestamp

/** Streaming SRP-banded embedding near-dup: cross-batch candidate pairs
  * over live micro-batches with bounded, TTL-evicted bucket state —
  * the embedding twin of StreamingNearDupSpec. */
class StreamingEmbeddingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  // base vector, a tiny perturbation of it (cosine ~0.9996), and its exact
  // negation (cosine -1: every SRP sign flips, so NO band ever matches)
  private val base = Array(0.6f, 0.3f, -0.2f, 0.8f, 0.1f, -0.5f, 0.4f, 0.7f)
  private val near = base.zipWithIndex.map { case (v, i) =>
    if (i == 0) v + 0.02f else v }
  private val anti = base.map(-_)

  test("near-identical embeddings pair across micro-batches; the antipode never pairs") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = StreamingEmbeddingNearDup.pairs(
        ms.toDF().toDF("vec_id", "embedding", "ts"))
      .writeStream.format("memory").queryName("embdup1")
      .outputMode("append").start()
    try {
      ms.addData((1L, base, t("2024-01-01 00:00:01")),
        (2L, anti, t("2024-01-01 00:00:02")))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM embdup1").count() == 0,
        "batch 1 has no near-dups")
      ms.addData((3L, near, t("2024-01-01 00:01:00")))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT vec_a, vec_b FROM embdup1")
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L)),
        s"the cross-batch near-copy pairs with its original only, got $pairs")
      val c = spark.sql("SELECT max(cosine) FROM embdup1").head.getDouble(0)
      assert(c > 0.999, s"near-identical cosine must read ~1, got $c")
    } finally q.stop()
  }

  private def row(id: Long, e: Array[Float], ems: Long) =
    StreamingEmbeddingNearDup.VecBandRow("b", id, e, ems, new Timestamp(ems))

  test("cap bounds state; overflow arrivals still pair against residents; re-delivery idempotent") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val st = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(0L), hasTimedOut = false)
    val out = StreamingEmbeddingNearDup.stateFn(2, 0.45, 60000L)(
      "b", Iterator(row(1, base, 1000L), row(2, base, 1000L),
        row(3, near, 1000L)), st).toSeq
    // vec 3 overflows the cap: it pairs against residents 1 and 2 but
    // does not enter state
    assert(out.map(p => (p.vec_a, p.vec_b)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $out")
    assert(st.get.entries.map(_._1) == List(1L, 2L), "cap holds at 2")
    // re-delivered resident: no new pairs, no state growth
    val out2 = StreamingEmbeddingNearDup.stateFn(2, 0.45, 60000L)(
      "b", Iterator(row(1, base, 2000L)), st).toSeq
    assert(out2.isEmpty && st.get.entries.map(_._1) == List(1L, 2L))
  }

  test("TTL eviction and the unconditional watermark-clamped timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val st = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(0L), hasTimedOut = false)
    StreamingEmbeddingNearDup.stateFn(64, 0.45, 1000L)(
      "b", Iterator(row(1, base, 5000L)), st)
    assert(st.getTimeoutTimestampMs.get() == 6000L, "timeout = newest + ttl")
    val timedOut = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.of(st.get), GroupStateTimeout.EventTimeTimeout, 10000L,
      Optional.of(10000L), hasTimedOut = true)
    val out = StreamingEmbeddingNearDup.stateFn(64, 0.45, 1000L)(
      "b", Iterator.empty, timedOut).toSeq
    assert(out.isEmpty && timedOut.isRemoved, "timeout clears the bucket")
    // zero event-time rows still get a (clamped) timeout — no state leak
    val st2 = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout, 7000L,
      Optional.of(7000L), hasTimedOut = false)
    StreamingEmbeddingNearDup.stateFn(64, 0.45, 1000L)(
      "b", Iterator(row(9, base, 0L)), st2)
    assert(st2.getTimeoutTimestampMs.get() == 7001L,
      "maxMs = 0 still sets a watermark-clamped timeout")
  }

  test("band-bucket state survives a stop + restart from checkpoint (RocksDB)") {
    val src = tmpDir("endsrc"); val out = tmpDir("endout"); val chk = tmpDir("endchk")
    def spool(rows: Seq[(Long, Array[Float], Timestamp)]): Unit =
      rows.toDF("vec_id", "embedding", "ts")
        .write.mode("append").parquet(src)
    spool(Seq((1L, base, t("2024-01-01 00:00:01")),
      (2L, anti, t("2024-01-01 00:00:02"))))
    val schema = Seq((1L, base, t("2024-01-01 00:00:01")))
      .toDF("vec_id", "embedding", "ts").schema
    def start() = StreamingEmbeddingNearDup.pairs(
        spark.readStream.schema(schema).parquet(src))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 0, "no pairs in batch 1")
    // the near-copy arrives in a NEW query instance: pairing requires the
    // resident (vec_id, embedding) state to have survived the restart
    spool(Seq((3L, near, t("2024-01-01 00:01:00"))))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val pairs = spark.read.parquet(out)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)),
      s"state must survive restart — the cross-instance pair is the proof, got $pairs")
  }

  test("zero-norm vectors never pair (NaN cosine); width mismatch fails loudly") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val zero = Array.fill(8)(0.0f)
    val st = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.of(StreamingEmbeddingNearDup.VecBucketState(List((1L, zero)))),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), hasTimedOut = false)
    val out = StreamingEmbeddingNearDup.stateFn(64, 0.0, 60000L)(
      "b", Iterator(row(2, zero, 1000L)), st).toSeq
    assert(out.isEmpty, "zero-norm cosine is NaN and must never qualify")
    intercept[IllegalArgumentException] {
      StreamingEmbeddingNearDup.stateFn(64, 0.45, 60000L)(
        "b", Iterator(row(3, Array(1.0f, 2.0f), 1000L)), st).toSeq
    }
  }

  test("the streaming cosine is graft_cosine's, bit for bit") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val rnd = new scala.util.Random(17)
    val a = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val b = Array.fill(16)(rnd.nextFloat() - 0.5f)
    // the fixture must separate the two arithmetics: products taken in
    // double round differently from graft_cosine's float products
    val doubleProducts = {
      val dot = a.indices.map(i => a(i).toDouble * b(i)).sum
      def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
      dot / (norm(a) * norm(b))
    }
    val batch = Seq((a, b)).toDF("x", "y")
      .selectExpr("graft_cosine(x, y)").head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(doubleProducts) !=
      java.lang.Double.doubleToLongBits(batch), "fixture does not separate the arithmetics")
    val st = TestGroupState.create[StreamingEmbeddingNearDup.VecBucketState](
      Optional.of(StreamingEmbeddingNearDup.VecBucketState(List((1L, a)))),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), hasTimedOut = false)
    val out = StreamingEmbeddingNearDup.stateFn(64, -1.0, 60000L)(
      "b", Iterator(row(2, b, 1000L)), st).toSeq
    assert(out.map(_.cosine).map(java.lang.Double.doubleToLongBits) ==
      Seq(java.lang.Double.doubleToLongBits(batch)), s"stream $out vs batch $batch")
  }
}
