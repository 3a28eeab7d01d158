package graft.streaming

import graft.functions.CountMin
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming heavy-hitter terms over a document stream: the Count-Min
  * sketch (`cms_heavy_hitters`' batch kernel) maintained ACROSS
  * micro-batches — the canonical streaming-sketch shape.
  *
  * Per micro-batch, executors fold their slice into partial sketches and
  * ONE ~32 KB merged sketch row reaches the driver, which adds it
  * (elementwise — addition commutes, so the cross-batch merge is exactly
  * [[CountMin.merge]]) into the running sketch. Total state is the
  * constant sketch size regardless of stream volume — the same
  * bounded-state argument as `StreamingCuration`'s watermark dedup and
  * the UV pipeline's TTL state, but O(1) instead of
  * O(distinct-in-horizon).
  *
  * Querying is batch-side: broadcast the frozen sketch back over a term
  * dictionary and estimate with the same `element_at` expression
  * `cms_heavy_hitters` uses — so a spec can (and does) assert the
  * streaming-built sketch is BIT-IDENTICAL to a batch build over the
  * concatenated input, and estimates never undercount true counts.
  */
object StreamingHeavyHitters {

  /** Driver-held running sketch, merged once per micro-batch. With
    * `stateDir` set it is exactly-once across replay and restart: the
    * sketch lives in a [[SnapshotStore]] (`cms_state.<batchId>.bin`). */
  final class Tracker(stateDir: Option[String] = None) extends Serializable {
    val agg = new CountMin()
    private[streaming] val store = new SnapshotStore(stateDir, "cms_state", agg.zero)

    def sketch: Array[Long] = store.values

    /** Fold one micro-batch of documents (column `text`) into the sketch.
      * `batchId >= 0` enables replay idempotence (skip already-applied
      * ids); the default -1 applies unconditionally (ad-hoc batch use). */
    def update(batch: DataFrame, batchId: Long = -1L): Unit = {
      if (store.isReplay(batchId)) return
      val s = batch.sparkSession
      import s.implicits._
      val partial = batch
        .selectExpr(s"explode(${graft.functions.Portable.tokensSql("text")}) AS term")
        .selectExpr("graft_polyhash(term) AS h").as[Long]
        .select(agg.toColumn).head()
      // merge into a COPY, then publish: CountMin.merge mutates its first
      // argument in place, so merging the live array would let a
      // concurrent heavyHitters()/totalTokens reader observe a torn
      // sketch (some counters updated, others not) despite the volatile
      // reference — copy-on-write gives readers snapshot isolation
      store.commit(agg.merge(sketch.clone(), partial), batchId)
    }

    def totalTokens: Long = sketch(CountMin.Depth * CountMin.Width)

    /** Heavy hitters among `dict` terms (column `term`): sketch-estimated
      * count >= total/denominator, deterministic (est DESC, term) order. */
    def heavyHitters(dict: DataFrame, denominator: Long = 200L): DataFrame = {
      val s = dict.sparkSession
      import s.implicits._
      val frozen = Seq(sketch).toDF("cms")
      dict.selectExpr("term", "graft_polyhash(term) AS h")
        .crossJoin(broadcast(frozen))
        .withColumn("est_c", expr(CountMin.estimateSql("cms", "h")))
        .filter(expr(s"est_c * $denominator >= ${totalTokens}L"))
        .select(col("term"), col("est_c"))
        .orderBy(col("est_c").desc, col("term"))
    }
  }

  /** Wire a document stream into a tracker via foreachBatch (batch ids
    * flow through so the tracker's replay/restart guarantees hold). Throws
    * [[CheckpointResetException]] before start when `checkpointDir` holds
    * no offsets but the tracker restored a committed batch. */
  def start(stream: Dataset[_], tracker: Tracker, checkpointDir: String): StreamingQuery =
    MicroBatch.start(stream, checkpointDir, stores = Seq(tracker.store)) {
      (batch, batchId) => tracker.update(batch, batchId)
    }
}
