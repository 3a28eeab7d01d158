package graft.streaming

import graft.SparkSpec
import graft.functions.CountMin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Cross-batch Count-Min maintenance: the streaming sketch must equal a
  * batch build over the concatenated input bit-for-bit (merge is
  * elementwise addition, which commutes across micro-batch boundaries),
  * and its heavy-hitter report must never undercount true counts. */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val b1 = Seq(
    "spark join join join hash",
    "hash join scan filter")
  private val b2 = Seq(
    "join join join join",
    "scan scan filter row")

  test("streaming sketch == batch sketch over concatenated input; heavy hitters never undercount") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val tracker = new StreamingHeavyHitters.Tracker
    val q = StreamingHeavyHitters.start(ms.toDF().toDF("text"), tracker, tmpDir("shh"))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    // bit-identical to a single batch fold over all documents
    val batchTracker = new StreamingHeavyHitters.Tracker
    batchTracker.update((b1 ++ b2).toDF("text"))
    assert(tracker.sketch.toSeq == batchTracker.sketch.toSeq,
      "cross-batch merge must equal the one-shot build (addition commutes)")

    // N slot counts every token exactly
    val allToks = (b1 ++ b2).flatMap(_.split(" ")).filter(_.nonEmpty)
    assert(tracker.totalTokens == allToks.size.toLong)

    // heavy hitters: estimates never undercount, and the dominant term wins
    val exact = allToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val hh = tracker.heavyHitters(exact.keys.toSeq.toDF("term"), denominator = 4L)
      .as[(String, Long)].collect().toSeq
    assert(hh.nonEmpty && hh.head._1 == "join",
      s"'join' (7 of ${allToks.size}) must lead, got $hh")
    hh.foreach { case (term, est) =>
      assert(est >= exact(term), s"CMS undercounted $term: $est < ${exact(term)}")
    }
  }

  test("state is the constant sketch size") {
    val tracker = new StreamingHeavyHitters.Tracker
    tracker.update(Seq.fill(50)("alpha beta gamma delta").toDF("text"))
    assert(tracker.sketch.length == CountMin.Depth * CountMin.Width + 1)
  }

  test("replayed batch ids are idempotent and a restarted tracker restores the sketch") {
    val stateDir = tmpDir("shhstate")
    val t1 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    t1.update(b1.toDF("text"), batchId = 0L)
    val afterB1 = t1.sketch.toSeq
    // a replay of the committed batch must be a no-op, not a double count
    t1.update(b1.toDF("text"), batchId = 0L)
    assert(t1.sketch.toSeq == afterB1, "replayed batch must not double-count")
    t1.update(b2.toDF("text"), batchId = 1L)
    // crash/restart: a fresh tracker on the same state dir resumes exactly
    val t2 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    assert(t2.sketch.toSeq == t1.sketch.toSeq,
      "restored sketch must be bit-identical to the pre-restart state")
    t2.update(b2.toDF("text"), batchId = 1L) // replay across restart
    assert(t2.sketch.toSeq == t1.sketch.toSeq)
    assert(t2.totalTokens == (b1 ++ b2).flatMap(_.split(" ")).count(_.nonEmpty).toLong)
  }

  test("a torn (short) newest state file is skipped; restore falls back to the previous version") {
    val stateDir = tmpDir("shhtorn")
    val t1 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    t1.update(b1.toDF("text"), batchId = 0L)
    val good = t1.sketch.toSeq
    // simulate a crash mid-write of batch 1's publish: a higher-versioned
    // file exists but is truncated (wrong length)
    val torn = new java.io.FileOutputStream(
      new java.io.File(stateDir, f"cms_state.${1L}%019d.bin"))
    torn.write(Array.fill[Byte](24)(7)); torn.close()
    val t2 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    assert(t2.sketch.toSeq == good,
      "restore must skip the torn file and use the newest COMPLETE version")
    // and the replay guard reflects the restored (not torn) batch id
    t2.update(b2.toDF("text"), batchId = 1L)
    assert(t2.totalTokens == (b1 ++ b2).flatMap(_.split(" ")).count(_.nonEmpty).toLong)
  }

  test("a restored tracker on a fresh checkpoint fails before start instead of dropping batches") {
    implicit val sq = spark.sqlContext
    val stateDir = tmpDir("shhreset")
    val ms = MemoryStream[String]
    val t1 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    val q = StreamingHeavyHitters.start(ms.toDF().toDF("text"), t1, tmpDir("shhreset_ck1"))
    try { ms.addData(b1: _*); q.processAllAvailable() } finally q.stop()
    val committed = t1.sketch.toSeq
    // a restart on a new checkpoint would number its batches from 0 again,
    // and the restored tracker would skip every one up to its batch 0
    val t2 = new StreamingHeavyHitters.Tracker(Some(stateDir))
    val e = intercept[CheckpointResetException](
      StreamingHeavyHitters.start(ms.toDF().toDF("text"), t2, tmpDir("shhreset_ck2")))
    assert(e.getMessage.contains("no offsets") && e.getMessage.contains(stateDir), e.getMessage)
    assert(spark.streams.active.isEmpty, "the query started")
    assert(t2.sketch.toSeq == committed)
  }
}
